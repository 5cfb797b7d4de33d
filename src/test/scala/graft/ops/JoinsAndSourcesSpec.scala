package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Sources/sinks beyond parquet (SURVEY §2.2 row 1-2) and the
  * at-scale join strategies: salted skew joins and bucketed
  * shuffle-free joins.
  */
class JoinsAndSourcesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val tmp = tempDir("graft-sources").toFile

  test("csv round-trip preserves documents") {
    val docs = Tables.load(spark, dir, "documents")
    val p = s"$tmp/docs_csv"
    docs.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").csv(p)
    val back = spark.read.option("header", "true")
      .schema(docs.schema).csv(p)
    assert(back.count() == docs.count())
    assert(back.agg(sum(md5(col("text")).substr(1, 4).isNotNull.cast("int")))
      .head().getLong(0) == docs.count())
  }

  test("json round-trip preserves values exactly") {
    val o = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    val p = s"$tmp/orders_json"
    o.write.mode("overwrite").json(p)
    val back = spark.read.schema(o.schema).json(p)
    assert(back.exceptAll(o).isEmpty && o.exceptAll(back).isEmpty)
  }

  test("orc round-trip preserves values exactly") {
    val li = Tables.load(spark, dir, "lineitem")
    val p = s"$tmp/lineitem_orc"
    li.write.mode("overwrite").orc(p)
    val back = spark.read.orc(p)
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
  }

  test("text source reads raw lines") {
    val docs = Tables.load(spark, dir, "documents").select("text")
    val p = s"$tmp/docs_text"
    docs.write.mode("overwrite").text(p)
    val lines = spark.read.text(p)
    assert(lines.count() == docs.count())
    assert(lines.columns.toSeq == Seq("value"))
  }

  test("partitionBy writes hive-style directories and prunes on read") {
    val o = Tables.load(spark, dir, "orders")
    val p = s"$tmp/orders_part"
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(p)
    val dirs = new java.io.File(p).listFiles().map(_.getName)
      .filter(_.startsWith("o_orderstatus=")).sorted
    assert(dirs.toSeq == Seq("o_orderstatus=F", "o_orderstatus=O",
      "o_orderstatus=P"))
    // Partition pruning: the filtered scan must read only one
    // partition directory.
    val plan = spark.read.parquet(p)
      .filter(col("o_orderstatus") === "O")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      plan)
  }

  test("salted join equals plain join (skew-spread, deterministic)") {
    val li = Tables.load(spark, dir, "lineitem")
    val su = Tables.load(spark, dir, "supplier")
    val plain = li.join(su, li("l_suppkey") === su("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    val salted = Joins.saltedJoin(
      li.withColumnRenamed("l_suppkey", "s_suppkey"), su,
      key = "s_suppkey", buckets = 8,
      saltSource = struct(col("l_orderkey"), col("l_linenumber")))
      .groupBy("s_name").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    // Clean slate: drop catalog entries AND their managed locations
    // (a crashed prior run can leave the directory behind).
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_bucketed")
    // Disable broadcast so the planner must consider a shuffle join —
    // then bucketing makes it shuffle-free (at 100 TB neither side
    // broadcasts anyway; this is the co-located big-big join path).
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed").join(
        spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() == li.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }
  test("q72: applying the emitted change feed to snapshot v1 " +
      "reproduces snapshot v2 exactly") {
    import graft.SparkEntry
    val changes = SparkEntry.queries("q72_lake_snapshot_diff")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(3)).map(_ => (r.getLong(3), r.getDouble(5)))))
      .toSeq
    // Independent re-derivation of the two LIVE snapshots (the same
    // statement the oracle makes, built through the batch planner).
    val ev = graft.Tables.load(spark, dir, "events")
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
    val cut = ev.agg(expr("(min(us) + max(us)) DIV 2")).collect()(0).getLong(0)
    def live(src: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("us").desc, col("event_id").desc)
      src.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("event_type") =!= "error")
        .select("user_id", "us", "value").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    }
    val v1 = live(ev.filter(col("us") <= cut))
    val v2 = live(ev)
    // replay: delete removes, insert/update set the new state
    val applied = changes.foldLeft(v1) { case (acc, (uid, ct, nw)) =>
      ct match {
        case "delete" => acc - uid
        case _        => acc + (uid -> nw.get)
      }
    }
    assert(applied == v2 && changes.nonEmpty)
    // and the feed never emits a no-op row
    changes.foreach { case (uid, ct, nw) =>
      ct match {
        case "insert" => assert(!v1.contains(uid))
        case "delete" => assert(v1.contains(uid) && !v2.contains(uid))
        case "update" => assert(v1(uid) != nw.get)
      }
    }
  }

  test("q73: z-order locality beats the 1-D sort layout on the box " +
      "query, and the partitioned write holds every row") {
    import graft.SparkEntry
    val out = SparkEntry.queries("q73_zorder_layout")(spark, dir).collect()
    assert(out.nonEmpty)
    val hitZ = out.head.getAs[Long]("n_buckets_hit_z")
    val hitL = out.head.getAs[Long]("n_buckets_hit_lex")
    // the whole point of interleaving: the 2-D box touches fewer
    // z-partitions than custkey-sorted files (measured, not asserted
    // as a constant — the margin may move with SF)
    assert(hitZ < hitL, s"z=$hitZ lex=$hitL")
    assert(hitZ >= 1L)
    val total = out.map(_.getAs[Long]("n_rows")).sum
    assert(total == graft.Tables.load(spark, dir, "orders").count())
  }

  test("q74: the refreshed view equals a direct full recompute, and " +
      "the materialized partial really is partial") {
    import graft.SparkEntry
    val got = SparkEntry.queries("q74_incremental_mv")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val want = graft.Tables.load(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)"))
          .cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == want && got.nonEmpty)
    // the merged count must exceed any single partial's share: the
    // cutoff is the feed's midpoint, so both sides are non-empty
    val total = got.map(_._2).sum
    val o = graft.Tables.load(spark, dir, "orders")
      .select(datediff(col("o_orderdate"), lit("1970-01-01"))
        .cast("long").as("day"))
    val cut = o.agg(expr("(min(day) + max(day)) DIV 2"))
      .collect()(0).getLong(0)
    val pre = o.filter(col("day") <= cut).count()
    assert(pre > 0 && pre < total,
      s"cutoff must split the feed: pre=$pre total=$total")
  }

  test("q86: the join-delta refresh equals the full-join recompute, " +
      "and every delta quadrant is non-empty on the testdata") {
    import graft.SparkEntry
    val got = SparkEntry.queries("q86_join_delta_mv")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val want = graft.Tables.load(spark, dir, "orders")
      .join(graft.Tables.load(spark, dir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(12,2)"))
          .cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == want && got.nonEmpty)
    // The proof is only about the DELTA RULE if all four quadrants
    // actually join rows: old⋈old, Δ⋈old, old⋈Δ, Δ⋈Δ.
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01"))
          .cast("long").as("day"))
    val l = graft.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01"))
          .cast("long").as("sday"))
    val cuta = o.agg(expr("(min(day) + max(day)) DIV 2"))
      .collect()(0).getLong(0)
    val cutb = l.agg(expr("(min(sday) + max(sday)) DIV 2"))
      .collect()(0).getLong(0)
    val j = o.join(l, col("l_orderkey") === col("o_orderkey"))
    Seq(
      ("old⋈old", col("day") <= cuta && col("sday") <= cutb),
      ("Δ⋈old", col("day") > cuta && col("sday") <= cutb),
      ("old⋈Δ", col("day") <= cuta && col("sday") > cutb),
      ("Δ⋈Δ", col("day") > cuta && col("sday") > cutb)
    ).foreach { case (name, cond) =>
      assert(j.filter(cond).count() > 0, s"empty quadrant: $name")
    }
  }

  test("q75: after the vacuum the directory holds EXACTLY the " +
      "manifest — one live file per bucket, zero orphans left") {
    val base = tempDir("graft_q75_spec").toFile
    val out = SourceSinks.lakeVacuum(spark, dir,
      new java.io.File(base, "lake").getAbsolutePath).collect()
    // Non-vacuous: some bucket was rewritten and vacuumed.
    assert(out.map(_.getLong(4)).sum > 0, "no orphan was ever created")
    // Physical truth: walk the directory — every bucket dir must
    // hold exactly ONE parquet file (the orphan really was deleted,
    // the live file really wasn't).
    val lakeDir = new java.io.File(base, "lake")
    val perBucket = lakeDir.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.nonEmpty)
    perBucket.foreach { case (b, n) =>
      assert(n == 1, s"$b holds $n parquet files, want 1")
    }
    assert(perBucket.length == out.length,
      s"${perBucket.length} bucket dirs vs ${out.length} output rows")
    // And the reported files_live agrees with the filesystem.
    assert(out.map(_.getLong(3)).sum == perBucket.length)
  }

  test("q76: the v2 commit APPENDS — every v1 file survives on disk, " +
      "and snapshots disagree exactly where buckets were rewritten") {
    val base = tempDir("graft_q76_spec").toFile
    val out = SourceSinks.timeTravelRead(spark, dir,
      new java.io.File(base, "lake").getAbsolutePath).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val v1 = out.collect { case (("v1", b), v) => b -> v }
    val v2 = out.collect { case (("v2", b), v) => b -> v }
    // Copy-on-write: v1 buckets can only gain in v2, never vanish.
    assert(v1.keySet.subsetOf(v2.keySet), s"v1 ${v1.keySet} v2 ${v2.keySet}")
    // The commit did something: some shared bucket changed state.
    assert(v1.exists { case (b, v) => v2(b) != v },
      "no bucket differs between snapshots — commit vacuous")
    // Physical truth: rewritten buckets hold BOTH commits' files
    // (nothing was deleted); at least one dir carries two files.
    val perBucket = new java.io.File(base, "lake").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perBucket.forall(n => n == 1 || n == 2), perBucket.toSeq)
    assert(perBucket.exists(_ == 2), "append left no second file")
  }

  test("q79: OPTIMIZE shrinks the file count, leaves the pre-compaction " +
      "manifest readable byte-for-byte, and vacuum reclaims only v1") {
    val base = tempDir("graft_q79_spec").toFile
    val (out, v1, v2) = SourceSinks.lakeOptimizeFull(spark, dir,
      base.getAbsolutePath)
    val rows = out.collect()
    val pre = rows.filter(_.getString(0) == "pre")
    val post = rows.filter(_.getString(0) == "post")
    // Lossless rewrite: identical per-bucket content either side.
    assert(pre.map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet ==
      post.map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSet)
    // The point of the job: strictly fewer files, and the input
    // really was a small-file lake (more files than buckets).
    assert(v1.length > pre.length, s"v1 not small-file: ${v1.length}")
    assert(v2.length < v1.length,
      s"no compaction: ${v1.length} -> ${v2.length}")
    // Time travel: the v1 manifest still reads EXACTLY the same
    // state after the rewrite (the commit only added files).
    val v1Again = spark.read
      .option("basePath", new java.io.File(base, "data1").getAbsolutePath)
      .schema(SourceSinks.lakeSchema).parquet(v1.map(_._2).toSeq: _*)
    assert(v1Again.count() == pre.map(_.getLong(2)).sum)
    // Vacuum after the swap: delete the superseded v1 files; the
    // v2 manifest must be untouched and still serve full content.
    v1.foreach { case (_, p) =>
      val hp = new org.apache.hadoop.fs.Path(new java.net.URI(p))
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, false)
    }
    val v2After = spark.read
      .option("basePath", new java.io.File(base, "data2").getAbsolutePath)
      .schema(SourceSinks.lakeSchema + ", bin INT")
      .parquet(v2.map(_._2).toSeq: _*)
    assert(v2After.count() == post.map(_.getLong(2)).sum)
  }

  test("q80: two nations that never trade across form exactly two " +
      "components; labels are converged on the testdata") {
    val sparkS = spark
    import sparkS.implicits._
    // Nation 0: supplier 1 trades with customers 1 and 2 (component
    // of 3 nodes). Nation 1: supplier 2 trades with customer 3
    // (component of 2). The cross-nation order (supplier 1 →
    // customer 3) MUST be dropped by the same-nation filter.
    val li = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 1L))
      .toDF("l_orderkey", "l_suppkey")
    val ord = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 3L))
      .toDF("o_orderkey", "o_custkey")
    val cust = Seq((1L, 0L), (2L, 0L), (3L, 1L))
      .toDF("c_custkey", "c_nationkey")
    val supp = Seq((1L, 0L), (2L, 1L))
      .toDF("s_suppkey", "s_nationkey")
    val got = Graph.connectedComponents(li, ord, cust, supp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 1L), (2L, 1L)), got)
    // Convergence on the real testdata: one EXTRA round must not
    // move the histogram (fixed rounds ≥ the propagation depth).
    def hist(rounds: Int) = Graph.connectedComponents(
      Tables.load(spark, dir, "lineitem"),
      Tables.load(spark, dir, "orders"),
      Tables.load(spark, dir, "customer"),
      Tables.load(spark, dir, "supplier"), rounds = rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val h10 = hist(10)
    assert(h10 == hist(11), "label propagation not converged at 10 rounds")
    // Non-vacuous: the same-nation graph really has >1 component.
    assert(h10.map(_._2).sum > 1, h10)
  }

  test("q88: a delta pair merges two base components and the seeded " +
      "incremental pass equals the batch recompute in fewer rounds") {
    val sparkS = spark
    import sparkS.implicits._
    // Nation 0 throughout. Base era (day 0): s1-c1 and s2-c2 — two
    // 2-node components. Delta era (day 10, past the median cut 5):
    // s1-c2 merges them into one 4-node component. The merge crosses
    // the pre-existing component boundary, so only the DELTA round
    // can produce it — a base-only run must show two components.
    val li = Seq((1L, 1L), (2L, 2L), (3L, 1L))
      .toDF("l_orderkey", "l_suppkey")
    val ord = Seq(
      (1L, 1L, "1970-01-01"), (2L, 2L, "1970-01-01"),
      (3L, 2L, "1970-01-11"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Seq((1L, 0L), (2L, 0L))
      .toDF("c_custkey", "c_nationkey")
    val supp = Seq((1L, 0L), (2L, 0L))
      .toDF("s_suppkey", "s_nationkey")
    val got = Graph.incrementalWccFrom(
      Graph.datedTradePairs(li, ord), cust, supp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((4L, 1L)), got)
    // Base-only sanity (delta rounds on the base edge set alone):
    // cut the delta order away and the two components must survive.
    val baseOnly = Graph.incrementalWccFrom(
      Graph.datedTradePairs(li.filter(col("l_orderkey") =!= 3),
        ord.filter(col("o_orderkey") =!= 3)), cust, supp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(baseOnly == Set((2L, 2L)), baseOnly)
    // Registered-shape equality on the real testdata: incremental
    // (stored-label seed + 6 delta rounds) ≡ q80's batch recompute.
    val inc = Graph.incrementalWcc(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Graph.connectedComponents(
      Tables.load(spark, dir, "lineitem"),
      Tables.load(spark, dir, "orders"),
      Tables.load(spark, dir, "customer"),
      Tables.load(spark, dir, "supplier"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == batch, s"incremental $inc != batch $batch")
    // The point of the maintenance op: the seeded pass reaches the
    // fixpoint in at most as many rounds as from-scratch everywhere,
    // within the registered deltaRounds budget (the sf0.001 graph is
    // diameter-2, so the gap can close there; the strict win is
    // pinned structurally below).
    val (seeded, scratch) = Graph.q88ConvergenceRounds(spark, dir)
    assert(seeded <= scratch,
      s"seeded $seeded slower than scratch $scratch")
    assert(seeded <= 6, s"seeded $seeded exceeds deltaRounds budget")
    // Structural strict win: a 7-node bipartite CHAIN (min label
    // needs ~6 rounds to flood from s1's end to s4's) all in the
    // base era, plus one delta-era pair hanging a NEW customer off
    // the far end. From scratch the flood still walks the whole
    // chain; seeded, the stored labels already carry it — only the
    // one new node needs a round.
    val cli = Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 3L), (5L, 3L),
      (6L, 4L), (7L, 4L)).toDF("l_orderkey", "l_suppkey")
    val cord = Seq(
      (1L, 1L, "1970-01-01"), (2L, 1L, "1970-01-01"),
      (3L, 2L, "1970-01-01"), (4L, 2L, "1970-01-01"),
      (5L, 3L, "1970-01-01"), (6L, 3L, "1970-01-01"),
      (7L, 4L, "1970-01-11"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val ccust = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L))
      .toDF("c_custkey", "c_nationkey")
    val csupp = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L))
      .toDF("s_suppkey", "s_nationkey")
    val (cSeeded, cScratch) = Graph.q88ConvergenceRoundsFrom(
      Graph.datedTradePairs(cli, cord), ccust, csupp)
    assert(cSeeded < cScratch,
      s"chain: seeded $cSeeded not faster than scratch $cScratch")
    // A fully date-less corpus (every o_orderdate NULL) has an empty
    // base, so the "seeded" pass IS from-scratch and must get the
    // batch round budget — the chain above needs ~6 rounds from
    // scratch, which the delta budget alone would cover only
    // accidentally. Result must still equal the full component.
    val nullOrd = cord.select(col("o_orderkey"), col("o_custkey"),
      lit(null).cast("string").as("o_orderdate"))
    val dateless = Graph.incrementalWccFrom(
      Graph.datedTradePairs(cli, nullOrd), ccust, csupp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dateless == Set((8L, 1L)), dateless)
  }

  test("q88 convergence guard: a deltaRounds budget below the delta's " +
      "change diameter throws instead of silently emitting a " +
      "non-fixpoint") {
    val sparkS = spark
    import sparkS.implicits._
    // Base era (day 0): the single pair s1-c1. Delta era (day 10):
    // the rest of an 8-node bipartite chain s1-c1-s2-c2-s3-c3-s4-c4.
    // The stored base label (2) must flood SIX delta hops to reach
    // c4, so deltaRounds = 1 leaves labels moving — exactly the
    // silent-under-convergence shape the guard exists to catch.
    val li = Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 3L), (5L, 3L),
      (6L, 4L), (7L, 4L)).toDF("l_orderkey", "l_suppkey")
    val ord = Seq(
      (1L, 1L, "1970-01-01"), (2L, 1L, "1970-01-11"),
      (3L, 2L, "1970-01-11"), (4L, 2L, "1970-01-11"),
      (5L, 3L, "1970-01-11"), (6L, 3L, "1970-01-11"),
      (7L, 4L, "1970-01-11"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L))
      .toDF("c_custkey", "c_nationkey")
    val supp = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L))
      .toDF("s_suppkey", "s_nationkey")
    val ex = intercept[IllegalStateException] {
      Graph.incrementalWccFrom(Graph.datedTradePairs(li, ord),
        cust, supp, deltaRounds = 1)
    }
    assert(ex.getMessage.contains("still moving"), ex.getMessage)
    // An honest budget converges, the guard stays quiet, and the
    // emitted histogram is the merged 8-node component.
    val ok = Graph.incrementalWccFrom(Graph.datedTradePairs(li, ord),
      cust, supp, deltaRounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok == Set((8L, 1L)), ok)
  }

  test("q89: with an empty delta the seeded pass RESUMES the stored " +
      "iteration exactly (incremental 10+4 ≡ batch 14); a dateless " +
      "corpus degrades to a cold 4-round run; seeding beats the cold " +
      "start to stability") {
    val sparkS = spark
    import sparkS.implicits._
    def rows(df: org.apache.spark.sql.DataFrame)
        : Seq[(Int, String, Long, Long)] =
      df.collect().map(r =>
        (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
    // An 8-node bipartite chain, every pair in the base era: the cut
    // equals the single day, the delta is empty, n == nBase so the
    // integer rescale is the identity — the seeded 4 rounds are
    // therefore rounds 11..14 of the SAME recurrence, proving the
    // parquet round trip + seed arithmetic lossless.
    val li = Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 3L), (5L, 3L),
      (6L, 4L), (7L, 4L)).toDF("l_orderkey", "l_suppkey")
    val ord = Seq(
      (1L, 1L, "1970-01-01"), (2L, 1L, "1970-01-01"),
      (3L, 2L, "1970-01-01"), (4L, 2L, "1970-01-01"),
      (5L, 3L, "1970-01-01"), (6L, 3L, "1970-01-01"),
      (7L, 4L, "1970-01-01"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val inc = rows(Graph.incrementalPageRankFrom(
      Graph.datedTradePairs(li, ord)))
    val batch14 = rows(Graph.pageRank(li, ord, iters = 14))
    assert(inc == batch14,
      s"resume != 14-round batch:\n$inc\n$batch14")
    // Non-vacuous: the iterate was still moving past round 10, so
    // the equality above really exercises the resumed rounds.
    assert(inc != rows(Graph.pageRank(li, ord, iters = 10)))
    // Dateless corpus: the base era is empty, every node is "new",
    // and the seeded pass is a cold `deltaIters`-round run — still
    // exactly defined (and exactly what the oracle restates).
    val nullOrd = ord.select(col("o_orderkey"), col("o_custkey"),
      lit(null).cast("string").as("o_orderdate"))
    val dateless = rows(Graph.incrementalPageRankFrom(
      Graph.datedTradePairs(li, nullOrd)))
    assert(dateless == rows(Graph.pageRank(li, nullOrd, iters = 4)),
      dateless)
    // The maintenance value: the stored-rank seed reaches a stable
    // vector strictly faster than the cold uniform start on the
    // resumed chain, and never slower on the real testdata split.
    val (s1, c1) = Graph.q89ConvergenceRoundsFrom(
      Graph.datedTradePairs(li, ord), tolDivisor = 100L)
    assert(s1 < c1, s"one-day chain: seeded $s1 not < cold $c1")
    val dir = "/root/testdata/sf0.001"
    val (s2, c2) = Graph.q89ConvergenceRoundsFrom(
      Graph.datedTradePairs(Tables.load(spark, dir, "lineitem"),
        Tables.load(spark, dir, "orders")), tolDivisor = 100L)
    assert(s2 <= c2, s"testdata: seeded $s2 slower than cold $c2")
  }

  test("q82: the stale writer's CAS physically fails, its files would " +
      "have lost the winner's updates, and the rebase restores them") {
    val base = tempDir("graft_q82_spec").toFile
    // Engineered feed: user 16 (bucket 0) gets its LATEST event in
    // writer A's window while user 24 (also bucket 0) gets one in
    // writer B's window — so bucket 0 is co-touched, and B's stale
    // files (prepared against v1, blind to A) MUST drop A's user-16
    // update. Timestamps span [0, 4000] seconds so the quarter cuts
    // land at 2000/3000.
    val sparkS = spark
    import sparkS.implicits._
    val ev = Seq(
      (1L, 0L, 16L, "view", 10.0), // base window (us <= cut1)
      (2L, 100L, 24L, "view", 20.0),
      (3L, 2500L, 16L, "buy", 30.0), // writer A's window (cut1, cut2]
      (4L, 3500L, 24L, "buy", 40.0), // writer B's window (cut2, max]
      (5L, 4000L, 25L, "view", 50.0)) // bucket 1, B window
      .toDF("event_id", "sec", "user_id", "event_type", "value")
      .select(col("event_id"),
        org.apache.spark.sql.functions.timestamp_seconds(col("sec"))
          .as("ts"),
        col("user_id"), col("event_type"), col("value"),
        org.apache.spark.sql.functions.lit("{}").as("props"))
    val evDir = tempDir("graft_q82_events").toFile
    ev.coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(evDir, "events.parquet").getAbsolutePath)
    val (out, staleB, conflicted) = SourceSinks.lakeOptimisticFull(
      spark, evDir.getAbsolutePath, base.getAbsolutePath)
    assert(conflicted, "writer B's first CAS unexpectedly won")
    // The ledger carries exactly the three claimed versions.
    val versions = new java.io.File(base, "_versions").listFiles()
      .map(_.getName).toSet
    assert(versions == Set("v1", "v2", "v3"), versions)
    // The stale files are REAL (B wrote them before losing) ...
    assert(staleB.nonEmpty)
    val staleAgg = SourceSinks.readManifest(spark,
        staleB.map(f => (0, f)))
      .groupBy("bucket")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("value")
          .cast("decimal(12,2)")).cast("double").as("tv"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // ... and differ from the committed v3 state on at least one
    // co-touched bucket: the lost update the rebase prevented.
    val v3Agg = out.collect()
      .filter(_.getString(0) == "v3")
      .map(r => r.getInt(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val diffs = staleAgg.keys.filter(b => v3Agg(b) != staleAgg(b))
    assert(diffs.nonEmpty,
      s"stale B state equals v3 — the conflict was vacuous: $staleAgg")
    // The exact anomaly: bucket 0's stale state carries user 16's
    // BASE value (10 + B's 40 = 50 total), the rebased v3 carries
    // A's update (30 + 40 = 70).
    assert(staleAgg(0) == ((2L, 50.0)), staleAgg)
    assert(v3Agg(0) == ((2L, 70.0)), v3Agg)
  }

  test("q81: teleport mass stays in the seed component — a component " +
      "unreachable from seeds ranks at exactly zero") {
    val sparkS = spark
    import sparkS.implicits._
    // Seed component: supplier 1 (nation 0) trades with customers
    // 1 and 2. Disjoint non-seed component: supplier 2 (nation 9)
    // trades with customer 3 — no path from any seed, so its rank
    // must be EXACTLY 0 (integer arithmetic, not epsilon-small),
    // while plain q77 PageRank would give it teleport mass.
    val li = Seq((1L, 1L), (2L, 1L), (3L, 2L))
      .toDF("l_orderkey", "l_suppkey")
    val ord = Seq((1L, 1L), (2L, 2L), (3L, 3L))
      .toDF("o_orderkey", "o_custkey")
    val supp = Seq((1L, 0L), (2L, 9L))
      .toDF("s_suppkey", "s_nationkey")
    val got = Graph.personalizedPageRank(li, ord, supp, iters = 10, k = 10)
      .collect()
      .map(r => (r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got(("supplier", 1L)) > 0L, got)
    assert(got(("customer", 1L)) > 0L && got(("customer", 2L)) > 0L, got)
    assert(got(("supplier", 2L)) == 0L, got)
    assert(got(("customer", 3L)) == 0L, got)
    // The seed holds the most mass (it receives ALL teleport).
    assert(got.values.max == got(("supplier", 1L)), got)
  }

  test("q77: the distributed iteration reproduces a hand-run of the " +
      "integer PageRank recurrence on an asymmetric toy graph") {
    val sparkS = spark
    import sparkS.implicits._
    // Supplier 1 supplies customers 1 and 2; supplier 2 supplies
    // customer 1 only — customer 1 must outrank customer 2, supplier
    // 1 must outrank supplier 2.
    val li = Seq((1L, 1L), (2L, 1L), (3L, 2L))
      .toDF("l_orderkey", "l_suppkey")
    val ord = Seq((1L, 1L), (2L, 2L), (3L, 1L))
      .toDF("o_orderkey", "o_custkey")
    val got = Graph.pageRank(li, ord, iters = 10, k = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // Independent hand-run over the explicit adjacency:
    // nodes s1=2, s2=4, c1=3, c2=5; symmetric edges.
    val adj = Map( // node -> out-neighbors
      2L -> Seq(3L, 5L), 4L -> Seq(3L), 3L -> Seq(2L, 4L), 5L -> Seq(2L))
    val n = adj.size
    val base = 1000000000000L / n
    val teleport = 15L * base / 100L
    var r = adj.keys.map(_ -> base).toMap
    for (_ <- 1 to 10) {
      val in = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      adj.foreach { case (u, outs) =>
        outs.foreach(v => in(v) += r(u) / outs.length)
      }
      r = adj.keys.map(u => u -> (teleport + 85L * in(u) / 100L)).toMap
    }
    val want = r.toSeq.sortBy { case (node, rv) => (-rv, node) }
      .zipWithIndex.map { case ((node, rv), i) =>
        (i + 1,
          if (node % 2 == 0) "supplier" else "customer",
          node / 2, rv)
      }
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    // The structural expectations the graph was built for.
    val byId = got.map(g => (g._2, g._3) -> g._1).toMap
    assert(byId(("customer", 1L)) < byId(("customer", 2L)))
    assert(byId(("supplier", 1L)) < byId(("supplier", 2L)))
  }

  test("q83: the distributed HITS iteration reproduces a hand-run of " +
      "the normalize-each-half-round integer recurrence") {
    val sparkS = spark
    import sparkS.implicits._
    // s1 supplies c1 AND c2; s2 supplies only c1. So s1 is the top
    // hub (points at more authorities) and c1 the top authority
    // (endorsed by both hubs).
    val li = Seq((1L, 1L), (2L, 1L), (3L, 2L))
      .toDF("l_orderkey", "l_suppkey")
    val ord = Seq((1L, 1L), (2L, 2L), (3L, 1L))
      .toDF("o_orderkey", "o_custkey")
    val got = Graph.hits(li, ord, iters = 8, k = 20).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // Independent hand-run in BigInt (the HUGEINT/DECIMAL(38,0) map):
    // each half-round sums the opposite side's scores over the edges,
    // then renormalizes by (raw * 10^12) div sum(raw).
    val edges = Seq(1L -> 1L, 1L -> 2L, 2L -> 1L) // src -> dst
    val unit = BigInt("1000000000000")
    def norm(raw: Map[Long, BigInt]): Map[Long, BigInt] = {
      val tot = raw.values.sum
      raw.map { case (n, v) => n -> v * unit / tot }
    }
    var h = Map(1L -> unit / 2, 2L -> unit / 2)
    var a = Map.empty[Long, BigInt]
    for (_ <- 1 to 8) {
      a = norm(edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => h(e._1)).sum })
      h = norm(edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => a(e._2)).sum })
    }
    def rank(m: Map[Long, BigInt], kind: String) =
      m.toSeq.sortBy { case (n, v) => (-v, n) }.zipWithIndex.map {
        case ((n, v), i) => (kind, i + 1, n, v.toLong)
      }
    val want = rank(h, "hub") ++ rank(a, "authority")
    assert(got.toSeq.sortBy(g => (g._1, g._2)) ==
      want.sortBy(g => (g._1, g._2)), s"got ${got.toSeq}\nwant $want")
    val byKind = got.groupBy(_._1)
    assert(byKind("hub").minBy(_._2)._3 == 1L, "s1 must be top hub")
    assert(byKind("authority").minBy(_._2)._3 == 1L,
      "c1 must be top authority")
  }

  test("q84: butterfly participation on a hand-checkable bipartite " +
      "graph, and the hub-customer degree cap excludes its wedges") {
    val sparkS = spark
    import sparkS.implicits._
    // s1 and s2 both supply c1 AND c2 (one butterfly); s3 supplies
    // only c1. Participation: s1=1, s2=1, s3=0.
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L))
      .toDF("l_orderkey", "l_suppkey")
    val ord = Seq((1L, 1L), (2L, 2L)).toDF("o_orderkey", "o_custkey")
    val got = Graph.butterflies(li, ord).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, 1L, 1L), (2, 2L, 1L), (3, 3L, 0L)), got.toSeq)
    // maxDeg = 2 excludes c1 (degree 3): the butterfly opens — only
    // the (s1, s2, c2) wedge survives, participation drops to zero,
    // and s3 (present only through c1) leaves the result entirely.
    val capped = Graph.butterflies(li, ord, maxDeg = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(capped.toSeq == Seq((1, 1L, 0L), (2, 2L, 0L)), capped.toSeq)
  }

  test("q85: h-index k-core on a hand-checkable graph — the K2,2 " +
      "block is the 2-core, the pendant supplier stays coreness 1") {
    val sparkS = spark
    import sparkS.implicits._
    // s1,s2 × c1,c2 complete (K2,2) plus pendant s3—c1. Degrees:
    // s1=s2=c2=2, c1=3, s3=1. Coreness: the K2,2 block is the 2-core
    // (c1's third edge doesn't save s3 — removing degree-1 s3 leaves
    // c1 at degree 2); s3 stays at 1. Hand-run of round 1 (converged):
    //   s1/s2: H({3,2}) = 2; s3: H({3}) = 1; c1: H({2,2,1}) = 2;
    //   c2: H({2,2}) = 2.
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L))
      .toDF("l_orderkey", "l_suppkey")
    val ord = Seq((1L, 1L), (2L, 2L)).toDF("o_orderkey", "o_custkey")
    val got = Graph.kcore(li, ord).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("customer", 2L, 2L), ("supplier", 1L, 1L), ("supplier", 2L, 2L)),
      got.toSeq)
    // Convergence check: 2 extra rounds change nothing.
    val more = Graph.kcore(li, ord, rounds = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(more.toSeq == got.toSeq)
  }

  test("q78: BFS distances on a hand-checkable chain — seed 0, " +
      "neighbor 1, two hops 2, three hops 3") {
    val sparkS = spark
    import sparkS.implicits._
    // s1—c1, s2—c1, s2—c2; only s1 is a seed (nation 0 < 5, s2's
    // nation 9 is not). Distances: s1=0, c1=1, s2=2, c2=3.
    val li = Seq((1L, 1L), (2L, 2L), (3L, 2L))
      .toDF("l_orderkey", "l_suppkey")
    val ord = Seq((1L, 1L), (2L, 1L), (3L, 2L))
      .toDF("o_orderkey", "o_custkey")
    val sup = Seq((1L, 0L), (2L, 9L)).toDF("s_suppkey", "s_nationkey")
    val got = Graph.seedDistance(li, ord, sup, rounds = 6).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("supplier", 0) -> 1L, ("supplier", 2) -> 1L,
      ("customer", 1) -> 1L, ("customer", 3) -> 1L), got.toString)
  }

  test("q90/q91 avro: the container round-trips snappy-compressed " +
      "blocks, and reader-schema resolution drops, reorders and " +
      "defaults fields inside the avro decoder") {
    val d = tempDir("avro_spec_")
    val f = new java.io.File(d.toFile, "p0.avro")
    AvroCodec.writePartition(f, Iterator(
      (1L, "BUILDING", 12345L), (2L, "MACHINERY", -50L)))
    // The container really is the avro format with the snappy codec —
    // not a renamed row dump.
    val rd = new org.apache.avro.file.DataFileReader(f,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    assert(rd.getMetaString("avro.codec") == "snappy")
    rd.close()
    // Writer-schema read: every field, every value.
    assert(AvroCodec.readFile(f.getAbsolutePath).toSeq == Seq(
      (1L, "BUILDING", 12345L), (2L, "MACHINERY", -50L)))
    // Evolved read: c_mktsegment is GONE (the decoder skips it),
    // cents/custkey arrive through the REORDERED reader schema, and
    // loyalty_tier materializes from the schema DEFAULT — the
    // resolution rules, not application code.
    assert(AvroCodec.readFileEvolved(f.getAbsolutePath).toSeq == Seq(
      (12345L, 1L, "unrated"), (-50L, 2L, "unrated")))
    // An empty partition's container round-trips to zero rows.
    val fe = new java.io.File(d.toFile, "p1.avro")
    AvroCodec.writePartition(fe, Iterator.empty)
    assert(AvroCodec.readFile(fe.getAbsolutePath).isEmpty)
  }

}
