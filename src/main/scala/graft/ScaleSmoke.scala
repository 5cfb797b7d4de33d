package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev scale smoke: replicate documents/embeddings ×N (with shifted
  * ids and perturbed texts so nothing degenerates into exact
  * duplicates) and time the heavy operators. Validates that the
  * dedup/similarity shapes scale ~linearly rather than quadratically.
  *
  * Usage: runMain graft.ScaleSmoke [skew|q56|sim|ttl|<factor>] [arg]
  */
object ScaleSmoke {

  val usage: String =
    """usage: runMain graft.ScaleSmoke [mode] [factor]
      |  <factor>      dedup ops on documents ×factor (default ×10)
      |  skew [f]      adversarial 25%-clone corpus, capped vs uncapped
      |  q56 [f]       N pruned scans vs one-scan Expand on lineitem ×f
      |  sim [f]       PQ/ADC/IVF/k-means converge on embeddings ×1 and ×f
      |  ttl [chunks]  st11 state size per micro-batch at sf0.1
      |  stjoin [chunks]  st03 interval-join state per micro-batch at sf0.1
      |  sessions [chunks]  st02/st13 session state per micro-batch at sf0.1
      |  text [f]      d15 removal + t17 BPE encode on documents ×1 and ×f
      |  curation [f]  c04/c10/c11 de-weaked plans vs window forms ×1 and ×f
      |  multimodal [f]  m07 block population: (dims) vs (dims, sig) key ×f
      |  containment [f]  d18/d19 posting-cap cost on a ×f clone family
      |  indexmaint [f]  st22 state plateau under ×f churn per key
      |  funnel [f]      st23 horizon-bounded buffers under ×f replicas
      |  timeseries [f]  q69/q70 spine-bounded window cost on events ×f
      |  dsir [f]      t23 model-size invariance + weight cost ×1 vs ×f
      |  lakemerge [f] st28 partition-scoped merge cost on a ×f lake
      |  tokenbudget [f]  c17 histogram bound + boundary share ×1 vs ×f
      |  pca [f]       s37 covariance-shuffle invariance + cost ×1 vs ×f
      |  graph [f]     q77/q78/q80/q81/q83-q85 cost on ×f disjoint graph copies
      |  lifecycle [f]  st27 persist+serve: probed-cell bytes vs corpus ×f
      |  classifier [f]  t28 GD fit cost ×1 vs ×f (1-row round shuffles)
      |  autocompact [f]  st32 OPTIMIZE bytes: 1-bucket vs full-lake pass ×f
      |  incwcc [f]    q88 seeded 6-round delta vs 10-round scratch ×f
      |  incpr [f]     q89 seeded 4-round rank refresh vs 10-round scratch ×f
      |  kcore [f]     q85 window vs distinct-value aggregate H form ×1 and ×f""".stripMargin

  def scaled(base: DataFrame, idCol: String, factor: Int): DataFrame =
    (0 until factor).map { i =>
      val shifted = base.withColumn(idCol, col(idCol) + lit(i.toLong * 1000000))
      if (base.columns.contains("text"))
        shifted.withColumn("text", concat(col("text"), lit(s" variant$i")))
      else shifted
    }.reduce(_ unionByName _)

  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[scale] $label%-26s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** Adversarial bucket skew (`runMain graft.ScaleSmoke skew [factor]`):
    * 25% of the corpus is ONE clone family — identical text, so every
    * minhash band and every simhash band maps the whole family to a
    * single bucket. Pair enumeration emits C(family,2) candidates per
    * band (quadratic in corpus share); the keeper ops stay linear.
    * Measures both, and the `maxBucket` guard that bounds the former.
    */
  def runSkew(spark: SparkSession, factor: Int): Unit = {
    val docs1 = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text")
    val hotText = "the quick brown fox jumps over the lazy dog " * 8
    val docsN = scaled(docs1, "doc_id", factor)
      // id-shift is a multiple of 4, so doc_id % 4 == 0 picks the SAME
      // 25% of base docs in every replica → one family of identical
      // docs spanning 25% of the whole corpus.
      .withColumn("text",
        when(pmod(col("doc_id"), lit(4)) === 0, lit(hotText))
          .otherwise(col("text")))
      .cache()
    val n = docsN.count()
    println(s"[skew] corpus ${n} docs, clone family ${n / 4} (25%)")

    // Linear paths first: keeper election never enumerates pairs.
    time("keepers 1-hop (skew)")(
      ops.Dedup.oneHopKeepers(docsN)
        .write.format("noop").mode("overwrite").save())
    time("keepers closure (skew)")(
      ops.Dedup.connectedKeepers(docsN)
        .write.format("noop").mode("overwrite").save())
    // Quadratic path, guard off vs on: the uncapped run must absorb
    // C(n/4, 2) candidate pairs per band; the capped run semi-joins
    // the hot bucket away before any pair exists.
    time("simhash pairs capped")(
      ops.Dedup.simhashNearDup(docsN, maxBucket = 1000)
        .write.format("noop").mode("overwrite").save())
    time("simhash pairs UNCAPPED")(
      ops.Dedup.simhashNearDup(docsN)
        .write.format("noop").mode("overwrite").save())
    time("lsh pairs capped")(
      ops.Dedup.lshCandidatePairs(docsN, 0.5, maxBucket = 1000)
        .write.format("noop").mode("overwrite").save())
    // The LSH verify join additionally ships two shingle SETS per
    // candidate pair — uncapped under skew that is C(n/4,2) array
    // pairs through one shuffle, the most expensive possible shape.
    time("lsh pairs UNCAPPED")(
      ops.Dedup.lshCandidatePairs(docsN, 0.5)
        .write.format("noop").mode("overwrite").save())
    docsN.unpersist()
  }

  /** q56 shape measurement (`runMain graft.ScaleSmoke q56 [factor]`):
    * N pruned single-column scans unioned (shipped) vs one scan
    * pushing all N columns through an Expand (strawman), on a
    * factor-replicated lineitem parquet. The number this prints backs
    * the claim in `Relational2.columnProfile`'s scaladoc.
    */
  def runQ56(spark: SparkSession, factor: Int): Unit = {
    val li1 = Tables.load(spark, "/root/testdata/sf0.1", "lineitem")
    // Per-run temp dir: concurrent runs must not collide, and the
    // replicated parquet must not outlive the measurement — the
    // try/finally starts HERE so a failed write can't strand it.
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_q56_scale")
    try { runQ56In(spark, li1, factor, tmpRoot) }
    finally deleteRec(tmpRoot)
  }

  private def runQ56In(spark: SparkSession,
      li1: DataFrame, factor: Int, tmpRoot: java.nio.file.Path): Unit = {
    val path = tmpRoot.resolve("lineitem").toString
    (0 until factor).map(_ => li1).reduce(_ unionByName _)
      .write.mode("overwrite").parquet(path)
    val liN = spark.read.parquet(path)
    println(s"[q56] lineitem ×$factor = ${liN.count()} rows")

    def nScans(): Unit =
      ops.Relational2.columnProfile(liN)
        .write.format("noop").mode("overwrite").save()
    // Strawman: one scan, Expand to long form (4× the rows, every
    // column's values through one count-distinct shuffle), typed
    // min/max carried in per-type slots.
    def expandScan(): Unit = liN
      .select(expr(
        """stack(4,
             'l_returnflag', l_returnflag, CAST(NULL AS DECIMAL(12,2)), CAST(NULL AS TIMESTAMP_NTZ),
             'l_quantity', CAST(NULL AS STRING), CAST(l_quantity AS DECIMAL(12,2)), CAST(NULL AS TIMESTAMP_NTZ),
             'l_extendedprice', CAST(NULL AS STRING), CAST(l_extendedprice AS DECIMAL(12,2)), CAST(NULL AS TIMESTAMP_NTZ),
             'l_shipdate', CAST(NULL AS STRING), CAST(NULL AS DECIMAL(12,2)), l_shipdate)
           AS (column, v_str, v_dec, v_date)"""))
      .groupBy("column")
      .agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) -
          count(coalesce(col("v_str"), col("v_dec").cast("string"),
            col("v_date").cast("string")))).as("n_nulls"),
        countDistinct(coalesce(col("v_str"),
          col("v_dec").cast("string"),
          col("v_date").cast("string"))).as("n_distinct"),
        coalesce(min(col("v_str")), min(col("v_dec")).cast("string"),
          date_format(min(col("v_date")), "yyyy-MM-dd")).as("min_repr"),
        coalesce(max(col("v_str")), max(col("v_dec")).cast("string"),
          date_format(max(col("v_date")), "yyyy-MM-dd")).as("max_repr"))
      .orderBy("column")
      .write.format("noop").mode("overwrite").save()

    // Interleave two timed passes of each so JIT warmup lands evenly.
    time("q56 N pruned scans (warm)")(nScans())
    time("q56 one-scan Expand (warm)")(expandScan())
    time("q56 N pruned scans")(nScans())
    time("q56 one-scan Expand")(expandScan())
  }

  /** Recursively delete a temp dir (parquet output is a tree). The
    * walk stream must be closed — it holds directory handles.
    */
  private def deleteRec(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Similarity-tier scaling (`runMain graft.ScaleSmoke sim [factor]`):
    * PQ codebook training, ADC top-k, and IVF probe-then-search on the
    * sf0.1 embeddings at ×1 and ×factor — the numbers behind the
    * README's claim that the compressed-domain/pruned-search shapes
    * scale ~linearly. Replicas reuse the base vectors (ids shifted):
    * none of these ops pair-joins the corpus with itself, so replica
    * identity cannot shortcut any path being measured.
    */
  def runSim(spark: SparkSession, factor: Int): Unit = {
    import graft.ops.Similarity
    val emb1 = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    def run(e: DataFrame, tag: String): Unit = {
      println(s"[sim] corpus ${e.count()} vectors ($tag)")
      // Train ONCE and time search against the pre-trained artifacts
      // separately — timing pqAdcTopk would re-train and report a
      // figure dominated by the (infrequent) training job, not the
      // per-query-batch search path a deployment tunes.
      var trained: (DataFrame, DataFrame) = null
      time(s"pq train $tag") {
        trained = Similarity.pqTrain(e, rounds = 2)
        trained._2.write.format("noop").mode("overwrite").save()
      }
      val adcQueries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      time(s"pq adc search $tag")(
        Similarity.pqAdcSearch(adcQueries, trained._1, trained._2, k = 5)
          .write.format("noop").mode("overwrite").save())
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      time(s"ivf top-k $tag")(
        Similarity.ivfTopk(e, queries, k = 5)
          .write.format("noop").mode("overwrite").save())
      // IVF-PQ: train once (coarse assign + residual PQ), then time
      // the probed-cell ADC search separately — same discipline as
      // flat PQ above.
      var ivfpq: (DataFrame, DataFrame, DataFrame, DataFrame) = null
      time(s"ivfpq train $tag") {
        ivfpq = Similarity.ivfPqTrain(e, rounds = 2)
        ivfpq._4.write.format("noop").mode("overwrite").save()
      }
      time(s"ivfpq search $tag")(
        Similarity.ivfPqSearch(adcQueries, ivfpq._1, ivfpq._2, ivfpq._3,
          ivfpq._4, k = 5, probes = 2)
          .write.format("noop").mode("overwrite").save())
      // The two training-free quantization rungs: both are single
      // map-side corpus scans (broadcast queries), so their curves
      // should stay linear-in-corpus with no shuffle growth.
      time(s"sq8 top-k $tag")(
        Similarity.sq8Topk(e, k = 5)
          .write.format("noop").mode("overwrite").save())
      // IVF-SQ8 (s18): build = centroid agg + grid + one encode pass;
      // search = one probed-cell equi-join over 64 B code rows — the
      // curve that should stay ~flat in corpus size, like IVF-PQ's.
      var ivfsq8: (DataFrame, DataFrame) = null
      time(s"ivfsq8 build $tag") {
        ivfsq8 = Similarity.ivfSq8Train(e)
        ivfsq8._2.write.format("noop").mode("overwrite").save()
      }
      time(s"ivfsq8 search $tag")(
        Similarity.ivfSq8Search(e, ivfsq8._1, ivfsq8._2, k = 5)
          .write.format("noop").mode("overwrite").save())
      // This is the UN-memoized build: free the O(corpus) code blocks
      // now, or each per-scale build stays resident while later ops
      // are timed (the memoized ivfSq8TrainShared path is pinned by
      // design and not touched here).
      Similarity.freeCheckpoint(ivfsq8._1)
      Similarity.freeCheckpoint(ivfsq8._2)
      time(s"bq hamming top-k $tag")(
        Similarity.bqTopk(e, k = 5)
          .write.format("noop").mode("overwrite").save())
      // Convergence loop: report rounds and per-round time separately
      // — the scale claim is that per-ROUND cost stays flat (broadcast
      // assignment + the three-level chunked mean fold, every buffer
      // fixed-width), while rounds-to-convergence is a property of the
      // data, not the corpus size.
      val t0 = System.nanoTime()
      val (means, rounds) =
        Similarity.kmeansConvergeRounds(e, maxIter = 6)
      means.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[sim] kmeans converge $tag%-6s $secs%.2f s, " +
        f"$rounds rounds, ${secs / rounds}%.2f s/round")
      // SemDeDup: the pairwise step is quadratic WITHIN a cluster by
      // design, and replicas inflate every cluster linearly (the seed
      // cells stay 16), so this curve shows the n²/k growth the
      // scaladoc's k-scaling / d09-sub-banding remedy is for.
      time(s"semantic dedup $tag")(
        Similarity.semanticDedup(e, tau = 0.3)
          .write.format("noop").mode("overwrite").save())
      // The bounded variant (d14): same pipeline with 4-SRP-bit
      // sub-blocks — the dial that holds when clusters outgrow the
      // exact variant's n²/k pair budget.
      time(s"semantic dedup blk $tag")(
        Similarity.semanticDedupBlocked(e, tau = 0.3, blockBits = 4)
          .write.format("noop").mode("overwrite").save())
    }
    val e1 = emb1.cache()
    run(e1, "x1")
    val eN = scaled(emb1, "vec_id", factor).cache()
    run(eN, s"x$factor")
    e1.unpersist(); eN.unpersist()
  }

  /** Streaming TTL state size at bench scale
    * (`runMain graft.ScaleSmoke ttl [chunks]`): feed the sf0.1
    * documents through [[graft.streaming.DocumentStream.nearDupPairsTtl]]
    * in `chunks` micro-batches (arrival = the synthetic 1-doc/sec
    * clock) and print the state store's `numRowsTotal` after each —
    * the bench-scale complement to DocumentStreamSpec's unit-scale
    * bound. The printed reference lines: live buckets can never exceed
    * 4 × horizon (each of the last `horizon` arrivals holds ≤ 4 bucket
    * keys, plus ≤ 1 batch of not-yet-timed-out stragglers), while the
    * unbounded variant would hold every bucket ever touched.
    */
  def runTtl(spark: SparkSession, chunks: Int): Unit = {
    import spark.implicits._
    import graft.streaming.DocumentStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val horizonSec = 120L
    val docs = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    // Dev-tool-only collect: the measurement needs hand-controlled
    // micro-batch boundaries, which only MemoryStream provides.
    val sigs = DocumentStream.bandedSignaturesWithTime(docs)
      .as[DocumentStream.DocSigT].collect()
      .sortBy(d => (d.event_ts.getTime, d.doc_id))
    val allBuckets =
      sigs.map(d => (d.band_id, d.band_key)).distinct.length
    println(s"[ttl] ${sigs.length} signature rows, ${sigs.length / 4} docs, " +
      s"horizon ${horizonSec}s; lifetime buckets $allBuckets " +
      s"(what NoTimeout state would hold), live bound ${4 * horizonSec}")
    val input = MemoryStream[DocumentStream.DocSigT]
    // Start under the low stream-partition count (the EventStream
    // discipline): the state store pins its partition count at first
    // start, and each micro-batch commits every partition's store.
    val q = graft.streaming.EventStream.withStreamShufflePartitions(spark, 8) {
      DocumentStream
        .nearDupPairsTtl(input.toDS(), java.time.Duration.ofSeconds(horizonSec))
        .writeStream.format("memory")
        .queryName("ttl_scale")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
    }
    try {
      var maxState = -1L
      val per = math.max(1, sigs.length / chunks)
      sigs.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        input.addData(chunk.toSeq)
        q.processAllAvailable()
        val st = graft.streaming.EventStream.lastStateRows(q)
        maxState = math.max(maxState, st)
        println(f"[ttl] batch ${i + 1}%3d: +${chunk.length}%5d rows, " +
          f"state rows $st%6d")
      }
      println(s"[ttl] max state $maxState vs lifetime buckets $allBuckets " +
        s"(bounded: ${maxState < allBuckets})")
    } finally {
      q.stop()
      spark.catalog.dropTempView("ttl_scale")
    }
  }

  /** Stream-stream interval-join state vs watermark horizon
    * (`runMain graft.ScaleSmoke stjoin [chunks]`): feed the sf0.1
    * purchase/view events through
    * [[graft.streaming.EventStream.purchasesWithRecentViews]] in
    * event-time-ordered micro-batches and print the join's
    * state-store rows after each — the st03 complement to the ttl
    * mode's near-dup measurement. Both sides carry 1h watermarks and
    * the join bounds event-time distance to 1h, so each side's
    * buffered rows are evicted once the watermark passes their
    * matchable horizon: live state must plateau at ~hours of traffic
    * (plus one micro-batch of watermark lag) while lifetime input
    * keeps growing.
    */
  def runStJoin(spark: SparkSession, chunks: Int): Unit = {
    import spark.implicits._
    import graft.streaming.EventStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
    // Dev-tool-only collect (the ttl-mode pattern): hand-controlled
    // micro-batch boundaries need MemoryStream.
    def side(t: String): Array[EventStream.Ev] =
      ev.filter(col("event_type") === t).drop("event_type")
        .as[EventStream.Ev].collect().sortBy(e => (e.us, e.event_id))
    val purchases = side("purchase")
    val views = side("view")
    // Fail with the culprit named, not a bare head-of-empty-array.
    require(purchases.nonEmpty && views.nonEmpty,
      s"stjoin needs both event types in the events table: " +
        s"purchases=${purchases.length}, views=${views.length}")
    val minUs = math.min(purchases.head.us, views.head.us)
    val maxUs = math.max(purchases.last.us, views.last.us)
    val lifetime = purchases.length + views.length
    println(f"[stjoin] ${purchases.length} purchases + ${views.length} views" +
      f" over ${(maxUs - minUs) / 3600e6 / 24}%.1f days" +
      f" (~${lifetime / ((maxUs - minUs) / 3600e6)}%.0f rows/h);" +
      " join horizon 1h + 1h lateness")
    val pIn = MemoryStream[EventStream.Ev]
    val vIn = MemoryStream[EventStream.Ev]
    def toTs(ds: org.apache.spark.sql.Dataset[EventStream.Ev]) =
      ds.withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    // Low stream-partition count: the interval join keeps 4 state
    // stores per partition, all committed every micro-batch.
    val q = EventStream.withStreamShufflePartitions(spark, 8) {
      EventStream
        .purchasesWithRecentViews(toTs(pIn.toDS()), toTs(vIn.toDS()))
        .writeStream.format("memory").queryName("stjoin_scale")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
    }
    try {
      var maxState = -1L
      val step = (maxUs - minUs) / chunks + 1
      (0 until chunks).foreach { i =>
        val lo = minUs + i * step
        val hi = lo + step
        val pc = purchases.filter(e => e.us >= lo && e.us < hi)
        val vc = views.filter(e => e.us >= lo && e.us < hi)
        if (pc.nonEmpty) pIn.addData(pc.toSeq)
        if (vc.nonEmpty) vIn.addData(vc.toSeq)
        q.processAllAvailable()
        val st = EventStream.lastStateRows(q)
        maxState = math.max(maxState, st)
        println(f"[stjoin] batch ${i + 1}%3d: +${pc.length + vc.length}%5d rows," +
          f" state rows $st%6d")
      }
      println(s"[stjoin] max state $maxState vs lifetime input $lifetime " +
        s"(bounded: ${maxState < lifetime / 4})")
    } finally {
      q.stop()
      spark.catalog.dropTempView("stjoin_scale")
    }
  }

  /** Session-state plateau: feed sf0.1's events through BOTH
    * sessionization operators (st02's EventTimeTimeout
    * flatMapGroupsWithState and st13's native session_window) in
    * event-time-ordered micro-batches and sample the state store per
    * batch. The r9 NoTimeout shape held one state row per user EVER
    * SEEN (monotone growth, ~10k rows by stream end); with eviction
    * live state is one row (st02) / one merging window (st13) per
    * RECENTLY ACTIVE user — the plateau that makes year-long
    * continuous sessionization run in bounded memory.
    */
  def runSessionsScale(spark: SparkSession, chunks: Int): Unit = {
    import spark.implicits._
    import graft.streaming.EventStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Dev-tool-only collect (the ttl/stjoin-mode pattern):
    // hand-controlled micro-batch boundaries need MemoryStream.
    val all = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))
      .as[EventStream.Ev].collect().sortBy(e => (e.us, e.event_id))
    val users = all.map(_.user_id).distinct.length
    val (minUs, maxUs) = (all.head.us, all.last.us)
    println(f"[sessions] ${all.length} events, $users distinct users over " +
      f"${(maxUs - minUs) / 3600e6 / 24}%.1f days; 30 min gap + 1h lateness")
    def drive(tag: String)(start: MemoryStream[EventStream.Ev] =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val in = MemoryStream[EventStream.Ev]
      val q = start(in)
      try {
        var maxState = -1L
        val step = (maxUs - minUs) / chunks + 1
        (0 until chunks).foreach { i =>
          val lo = minUs + i * step
          val chunk = all.filter(e => e.us >= lo && e.us < lo + step)
          if (chunk.nonEmpty) in.addData(chunk.toSeq)
          q.processAllAvailable()
          val st = EventStream.lastStateRows(q)
          maxState = math.max(maxState, st)
          println(f"[sessions] $tag batch ${i + 1}%3d: +${chunk.length}%6d" +
            f" events, state rows $st%6d")
        }
        println(s"[sessions] $tag max state $maxState vs $users lifetime" +
          s" users (bounded: ${maxState < users / 2})")
      } finally q.stop()
    }
    def withTs(ds: org.apache.spark.sql.Dataset[EventStream.Ev]) =
      ds.withColumn("ts", expr("timestamp_micros(us)"))
        .withWatermark("ts", "1 hour")
    EventStream.withStreamShufflePartitions(spark, 8) {
      drive("st02 fMGWS ") { in =>
        val q = EventStream.sessionize(withTs(in.toDS()).as[EventStream.SEv])
          .writeStream.format("noop")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .start()
        q
      }
      drive("st13 native") { in =>
        val q = withTs(in.toDS())
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .writeStream.format("noop")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .start()
        q
      }
    }
  }

  /** `runMain graft.ScaleSmoke text [factor]`: the round-11 text
    * rewriting/tokenization ops on a ×factor near-duplicated corpus —
    * an ADVERSARIAL shape for d15 (every interior 5-gram becomes
    * corpus-duplicated across the replicas, so the dup-gram join and
    * the coverage expansion both run at full fan-out) and the
    * demonstration case for t17's distinct-word encode (replicas add
    * almost no new words, so the merge chain's input stays ~constant
    * while the corpus grows ×factor — the Zipf win the design banks
    * on). Both should scale ~linearly in corpus size.
    */
  /** DSIR scale structure (`runMain graft.ScaleSmoke dsir [factor]`):
    * the t23 design claim is that the MODEL is corpus-size-invariant —
    * the log-ratio table is bounded by the 4096 bucket space no
    * matter how many gram instances feed it, so what broadcasts never
    * grows and the whole pipeline's cost is the linear gram scan plus
    * integer-keyed aggregation. Measures the model row count and the
    * end-to-end weight time at ×1 and ×factor.
    */
  def runDsir(spark: SparkSession, factor: Int): Unit = {
    val docs1 = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "source", "text")
    val docsN = scaled(docs1, "doc_id", factor).cache()
    println(s"[scale] documents: ${docsN.count()} rows (×$factor)")
    val m1 = ops.TextAnalysis.dsirRatio(docs1, "src1", 4096).count()
    val mN = ops.TextAnalysis.dsirRatio(docsN, "src1", 4096).count()
    println(s"[dsir] model rows ×1: $m1, ×$factor: $mN (bound 4096) — " +
      s"the broadcast side is corpus-size-INVARIANT")
    time("t23 weights ×1")(
      ops.TextAnalysis.dsirWeights(docs1, "src1", 4096)
        .write.format("noop").mode("overwrite").save())
    time(s"t23 weights ×$factor")(
      ops.TextAnalysis.dsirWeights(docsN, "src1", 4096)
        .write.format("noop").mode("overwrite").save())
    docsN.unpersist()
  }

  /** Graph scale structure (`runMain graft.ScaleSmoke graph [f]`):
    * the whole family (q77/q78/q80/q81/q83/q84/q85) on ×factor
    * DISJOINT graph copies (keys shifted, so
    * nodes and edges both grow ×factor with no new connectivity) —
    * the per-round cost is one |E| join plus one |E|→|V| aggregate,
    * so wall time should grow ~linearly while the round COUNT stays
    * fixed. Replicating via key shifts (not row duplication, which
    * the distinct pair set would collapse).
    */
  def runGraph(spark: SparkSession, factor: Int): Unit = {
    val li1 = Tables.load(spark, "/root/testdata/sf0.1", "lineitem")
      .select("l_orderkey", "l_suppkey")
    val or1 = Tables.load(spark, "/root/testdata/sf0.1", "orders")
      .select("o_orderkey", "o_custkey")
    val su1 = Tables.load(spark, "/root/testdata/sf0.1", "supplier")
      .select("s_suppkey", "s_nationkey")
    def shiftN(df: DataFrame, cols: Seq[String]): DataFrame =
      (0 until factor).map { i =>
        cols.foldLeft(df) { (d, c) =>
          d.withColumn(c, col(c) + lit(i.toLong * 10000000L))
        }
      }.reduce(_ unionByName _)
    val cu1 = Tables.load(spark, "/root/testdata/sf0.1", "customer")
      .select("c_custkey", "c_nationkey")
    val liN = shiftN(li1, Seq("l_orderkey", "l_suppkey")).cache()
    val orN = shiftN(or1, Seq("o_orderkey", "o_custkey")).cache()
    val suN = su1 // seeds only in copy 0: distances grow, mass shrinks
    // key-shifted, nation kept: copies stay disjoint (no cross-copy
    // trades), every copy carries the full nation structure
    val suAll = shiftN(su1, Seq("s_suppkey")).cache()
    val cuAll = shiftN(cu1, Seq("c_custkey")).cache()
    println(s"[graph] lineitem: ${liN.count()} rows (×$factor disjoint copies)")
    time("q77 pagerank ×1")(
      ops.Graph.pageRank(li1, or1)
        .write.format("noop").mode("overwrite").save())
    time(s"q77 pagerank ×$factor")(
      ops.Graph.pageRank(liN, orN)
        .write.format("noop").mode("overwrite").save())
    time("q78 seed distance ×1")(
      ops.Graph.seedDistance(li1, or1, su1)
        .write.format("noop").mode("overwrite").save())
    time(s"q78 seed distance ×$factor")(
      ops.Graph.seedDistance(liN, orN, suN)
        .write.format("noop").mode("overwrite").save())
    time("q80 components ×1")(
      ops.Graph.connectedComponents(li1, or1, cu1, su1)
        .write.format("noop").mode("overwrite").save())
    time(s"q80 components ×$factor")(
      ops.Graph.connectedComponents(liN, orN, cuAll, suAll)
        .write.format("noop").mode("overwrite").save())
    time("q81 personalized PR ×1")(
      ops.Graph.personalizedPageRank(li1, or1, su1)
        .write.format("noop").mode("overwrite").save())
    time(s"q81 personalized PR ×$factor")(
      ops.Graph.personalizedPageRank(liN, orN, suN)
        .write.format("noop").mode("overwrite").save())
    time("q83 hits ×1")(
      ops.Graph.hits(li1, or1)
        .write.format("noop").mode("overwrite").save())
    time(s"q83 hits ×$factor")(
      ops.Graph.hits(liN, orN)
        .write.format("noop").mode("overwrite").save())
    time("q84 butterflies ×1")(
      ops.Graph.butterflies(li1, or1)
        .write.format("noop").mode("overwrite").save())
    time(s"q84 butterflies ×$factor")(
      ops.Graph.butterflies(liN, orN)
        .write.format("noop").mode("overwrite").save())
    time("q85 kcore ×1")(
      ops.Graph.kcore(li1, or1)
        .write.format("noop").mode("overwrite").save())
    time(s"q85 kcore ×$factor")(
      ops.Graph.kcore(liN, orN)
        .write.format("noop").mode("overwrite").save())
    liN.unpersist(); orN.unpersist(); suAll.unpersist(); cuAll.unpersist()
  }

  /** q85's per-round H computation, AGGREGATE form (`runMain
    * graft.ScaleSmoke kcore [f]`): instead of ranking every
    * neighbor value with a row_number window partitioned by dst
    * (whose per-neighborhood sort is the skew concern at scale —
    * r19 verdict item 8), fold the multiset to DISTINCT (dst, value)
    * counts map-side first, cumulate over the distinct values, and
    * take H = max(min(cum, v)). Identical recurrence; compared
    * against the shipped window form at ×1 and ×factor disjoint
    * copies. Dev measurement only — the registered q85 keeps
    * whichever form this mode shows winning (numbers in
    * OPTIMIZATION_r20.md).
    */
  def runKcore(spark: SparkSession, factor: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val li1 = Tables.load(spark, "/root/testdata/sf0.1", "lineitem")
      .select("l_orderkey", "l_suppkey")
    val or1 = Tables.load(spark, "/root/testdata/sf0.1", "orders")
      .select("o_orderkey", "o_custkey")
    def shiftN(df: DataFrame, cols: Seq[String]): DataFrame =
      (0 until factor).map { i =>
        cols.foldLeft(df) { (d, c) =>
          d.withColumn(c, col(c) + lit(i.toLong * 10000000L))
        }
      }.reduce(_ unionByName _)
    val liN = shiftN(li1, Seq("l_orderkey", "l_suppkey")).cache()
    val orN = shiftN(or1, Seq("o_orderkey", "o_custkey")).cache()
    println(s"[kcore] lineitem: ${liN.count()} rows (×$factor)")

    def aggForm(lineitem: DataFrame, orders: DataFrame,
        rounds: Int = 8): DataFrame = {
      val pairs = lineitem.join(orders,
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
        .distinct()
      val cps = scala.collection.mutable.ArrayBuffer[DataFrame]()
      def cp(df: DataFrame): DataFrame = {
        val c = df.localCheckpoint(); cps += c; c
      }
      val edges = ops.Graph.cpKeyed(ops.Graph.bipartiteEdges(pairs),
        "dst", ops.Graph.rowBytes(2L * pairs.count(), 2))
      cps += edges
      var core = cp(edges.groupBy("src").agg(count(lit(1)).as("c"))
        .select(col("src").as("node"), col("c")))
      val n = core.count()
      for (it <- 1 to rounds) {
        val cnt = edges.join(ops.Graph.bcastIf(core, n),
            col("src") === col("node"))
          .groupBy(col("dst"), col("c").as("nc"))
          .agg(count(lit(1)).as("m"))
        val h = cnt.withColumn("cum",
            sum("m").over(Window.partitionBy("dst")
              .orderBy(col("nc").desc)))
          .groupBy("dst").agg(max(least(col("cum"), col("nc"))).as("h"))
        core = core.join(ops.Graph.bcastIf(h, n),
            col("node") === col("dst"), "left")
          .select(col("node"),
            least(col("c"), coalesce(col("h"), lit(0L))).as("c"))
        if (it % 3 == 0 || it == rounds) core = cp(core)
      }
      val out = core
        .select(expr("CASE WHEN node % 2 = 0 THEN 'supplier' " +
          "ELSE 'customer' END").as("node_type"), col("c").as("coreness"))
        .groupBy("node_type", "coreness")
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("node_type", "coreness")
      out.write.format("noop").mode("overwrite").save()
      cps.foreach(ops.Similarity.freeCheckpoint)
      out
    }
    // Interleaved warm passes, then timed (the q56 protocol).
    time("q85 window form ×1 (warm)")(
      ops.Graph.kcore(li1, or1)
        .write.format("noop").mode("overwrite").save())
    time("q85 agg form ×1 (warm)")(aggForm(li1, or1))
    time("q85 window form ×1")(
      ops.Graph.kcore(li1, or1)
        .write.format("noop").mode("overwrite").save())
    time("q85 agg form ×1")(aggForm(li1, or1))
    time(s"q85 window form ×$factor")(
      ops.Graph.kcore(liN, orN)
        .write.format("noop").mode("overwrite").save())
    time(s"q85 agg form ×$factor")(aggForm(liN, orN))
    liN.unpersist(); orN.unpersist()
  }

  /** c17 scale structure (`runMain graft.ScaleSmoke tokenbudget [f]`):
    * the design claim is that the global quality-prefix cut never
    * sorts the corpus — the histogram the driver walks is BOUNDED by
    * the 4096-bucket space no matter the corpus size, and the one
    * window's input is only the boundary bucket's slice. Measures
    * both structures and the end-to-end time at ×1 and ×factor.
    */
  def runTokenBudget(spark: SparkSession, factor: Int): Unit = {
    import graft.functions.TextFunctions.{tokens, qualitySignals, qualityScore}
    val docs1 = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text")
    val docsN = scaled(docs1, "doc_id", factor).cache()
    val rowsN = docsN.count()
    println(s"[tokenbudget] documents: $rowsN rows (×$factor)")
    def structure(d: DataFrame): (Int, Long, Long) = {
      val scored = d.filter(col("text").isNotNull)
        .withColumn("toks", tokens(col("text")))
        .select(col("doc_id") +:
          qualitySignals(col("text"), col("toks")): _*)
        .filter(col("n_tokens") >= 1 && col("n_chars") >= 1)
        .select(col("n_tokens").cast("long").as("n_tokens"),
          floor(qualityScore(col("n_chars"), col("n_tokens"),
            col("n_stop"), col("n_punct")) * 4096).cast("int")
            .as("bucket"))
      val h = scored.groupBy("bucket")
        .agg(sum("n_tokens").as("mass"), count(lit(1)).as("nd"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(-_._1)
      val budget = h.map(_._2).sum / 2
      var acc = 0L
      var bnd = 0L
      var total = 0L
      h.foreach { case (_, mass, nd) =>
        total += nd
        if (bnd == 0L && acc + mass > budget) bnd = nd else acc += mass
      }
      (h.length, bnd, total)
    }
    val (h1, b1, t1) = structure(docs1)
    val (hN, bN, tN) = structure(docsN)
    println(s"[tokenbudget] histogram rows ×1: $h1, ×$factor: $hN " +
      s"(bound 4097) — the driver fetch is corpus-size-INVARIANT")
    println(s"[tokenbudget] boundary-window rows ×1: $b1/$t1, " +
      s"×$factor: $bN/$tN — only this slice ever sorts")
    assert(hN <= 4097, s"histogram exceeded the bucket bound: $hN")
    time("c17 token budget ×1")(
      ops.Curation.tokenBudgetSelect(docs1)
        .write.format("noop").mode("overwrite").save())
    time(s"c17 token budget ×$factor")(
      ops.Curation.tokenBudgetSelect(docsN)
        .write.format("noop").mode("overwrite").save())
    docsN.unpersist()
  }

  /** s37 scale structure (`runMain graft.ScaleSmoke pca [f]`): the
    * covariance build folds each row's dims² centered products
    * through a partial aggregate, so the exchange carries at most
    * dims² groups per task at ANY corpus size — the linear per-row
    * fold is the only cost that grows. Times the full operator at ×1
    * and ×factor.
    */
  def runPca(spark: SparkSession, factor: Int): Unit = {
    val e1 = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val eN = scaled(e1, "vec_id", factor).cache()
    println(s"[pca] embeddings: ${eN.count()} rows (×$factor); " +
      "covariance exchange: ≤4096 groups at every size — " +
      "corpus-size-INVARIANT")
    time("s37 pca project ×1")(
      ops.Similarity.pcaProject(e1)
        .write.format("noop").mode("overwrite").save())
    time(s"s37 pca project ×$factor")(
      ops.Similarity.pcaProject(eN)
        .write.format("noop").mode("overwrite").save())
    eN.unpersist()
  }

  def runText(spark: SparkSession, factor: Int): Unit = {
    val docs1 = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text")
    val docsN = scaled(docs1, "doc_id", factor).cache()
    println(s"[scale] documents: ${docsN.count()} rows (×$factor)")
    time("d15 remove passages ×1")(
      ops.Dedup.removePassages(docs1, n = 5, minDocs = 2)
        .write.format("noop").mode("overwrite").save())
    time(s"d15 remove passages ×$factor")(
      ops.Dedup.removePassages(docsN, n = 5, minDocs = 2)
        .write.format("noop").mode("overwrite").save())
    time("t17 bpe encode ×1")(
      ops.TextAnalysis.bpeEncode(docs1, merges = 5)
        .write.format("noop").mode("overwrite").save())
    time(s"t17 bpe encode ×$factor")(
      ops.TextAnalysis.bpeEncode(docsN, merges = 5)
        .write.format("noop").mode("overwrite").save())
    docsN.unpersist()
  }

  /** `runMain graft.ScaleSmoke curation [factor]`: the round-12
    * de-weaked curation plans on a ×factor corpus — c04's two-pass
    * packing prefix sum and c10/c11's distinct-value-table NTILE
    * boundaries, measured at ×1 and ×factor beside the single-window
    * formulations they replaced (the r11 verdict's scale-killers:
    * every row through one global or per-source sort task). The new
    * plans should scale ~linearly with full parallelism; the old
    * ones serialize.
    */
  def runCuration(spark: SparkSession, factor: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.{tokens, qualitySignals, qualityScore}
    val docs1 = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "source", "text")
    val docsN = scaled(docs1, "doc_id", factor).cache()
    println(s"[curation] documents: ${docsN.count()} rows (×$factor)")
    // The replaced formulations, verbatim, for the comparison only.
    def windowPacking(d: DataFrame) = {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("n_tokens", size(tokens(col("text"))))
        .withColumn("cum", sum(col("n_tokens").cast("long")).over(w))
        .withColumn("bin_id", expr("(cum - n_tokens) div 4096"))
        .groupBy("source", "bin_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"))
    }
    def ntileStages(d: DataFrame) = d
      .filter(col("text").isNotNull)
      .withColumn("toks", tokens(col("text")))
      .select(Seq(col("doc_id")) ++
        qualitySignals(col("text"), col("toks")): _*)
      .filter(col("n_tokens") >= 1)
      .withColumn("q", round(qualityScore(col("n_chars"),
        col("n_tokens"), col("n_stop"), col("n_punct")), 6))
      .withColumn("stage", org.apache.spark.sql.functions.ntile(4).over(
        Window.orderBy(col("q").desc, col("doc_id"))))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), min(col("q")).as("min_q"),
        max(col("q")).as("max_q"))
    for ((d, tag) <- Seq((docs1, "x1"), (docsN, s"x$factor"))) {
      time(s"c04 packing two-pass $tag")(
        ops.Curation.packingManifest(d)
          .write.format("noop").mode("overwrite").save())
      time(s"c04 packing window   $tag")(
        windowPacking(d).write.format("noop").mode("overwrite").save())
      time(s"c10 stages tileSlices $tag")(
        ops.Curation.curriculumStages(d)
          .write.format("noop").mode("overwrite").save())
      time(s"c10 stages ntile      $tag")(
        ntileStages(d).write.format("noop").mode("overwrite").save())
      time(s"c11 shards $tag")(
        ops.Curation.zorderShards(d)
          .write.format("noop").mode("overwrite").save())
    }
    // The STRUCTURAL metric smoke-scale wall-clock cannot show (at
    // 100k in-memory rows a single sort task is trivially fast):
    // rows through the LARGEST single window task. The old forms
    // funnel the whole corpus (global ntile) or a whole source (the
    // per-source packing window) through ONE task — linear in corpus
    // — while the new forms bound it by chunk (corpus/parallelism)
    // or by the bounded value domain, independent of corpus size.
    val n = docsN.count()
    val maxSource = docsN.groupBy("source").count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    val p = spark.sparkContext.defaultParallelism
    val qTab = docsN.filter(col("text").isNotNull)
      .withColumn("toks",
        graft.functions.TextFunctions.tokens(col("text")))
      .select(graft.functions.TextFunctions
        .qualitySignals(col("text"), col("toks")): _*)
      .filter(col("n_tokens") >= 1)
      .select(round(graft.functions.TextFunctions.qualityScore(
        col("n_chars"), col("n_tokens"), col("n_stop"), col("n_punct")),
        6).as("q"))
      .groupBy("q").count()
    val qValues = qTab.count()
    val maxBucket = qTab.groupBy(floor(col("q") * 1000)).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    println(s"[curation] max rows through ONE window task at x$factor:")
    println(s"[curation]   c04 window (per source):  $maxSource  — grows with corpus")
    println(s"[curation]   c04 two-pass (per chunk): ~${n / p}  — corpus/parallelism")
    println(s"[curation]   c10 ntile (global):       $n  — the whole corpus")
    println(s"[curation]   c10 tileSlices (bucket):  $maxBucket of $qValues distinct" +
      " 6-dp values — bounded by the value domain, not the corpus")
    docsN.unpersist()
  }

  /** `runMain graft.ScaleSmoke multimodal [factor]`: the r12
    * verdict's m07 fix, measured structurally — per-block payload
    * population under the OLD (width, height) pair-join key (≤256
    * keys: within-block self-join emits ~(N/256)² pairs at corpus
    * scale) vs the NEW (width, height, sig) key (≤65 536 keys, flip-1
    * multi-probed). Wall-clock at smoke scale can't show the
    * quadratic; the max-block population and the candidate-pair count
    * the join actually emits can. The dims-only pair count is
    * COMPUTED (Σ C(n,2) per block), never enumerated — at ×100 it
    * would be the scale-killer being demonstrated.
    */
  def runMultimodal(spark: SparkSession, factor: Int): Unit = {
    val docs1 = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text")
    val docsN = scaled(docs1, "doc_id", factor)
    val dec = ops.Multimodal.decodeDocs(docsN)
      .select(col("doc_id"), col("width"), col("height"), col("v"))
      .withColumn("sig", ops.Multimodal.signCode)
      .localCheckpoint()
    val n = dec.count()
    println(s"[multimodal] decoded payloads: $n (x$factor)")
    def blockStats(keys: Seq[String], tag: String): Unit = {
      val b = dec.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bn"))
      val r = b.agg(count(lit(1)).as("blocks"), max(col("bn")).as("maxn"),
        sum(col("bn") * (col("bn") - lit(1)) / 2).as("pairs")).collect()(0)
      println(s"[multimodal]   $tag: ${r.getLong(0)} blocks, " +
        s"max population ${r.getLong(1)}, " +
        s"implied in-block pairs ${r.get(2)}")
    }
    blockStats(Seq("width", "height"), "key (dims)     ")
    blockStats(Seq("width", "height", "sig"), "key (dims, sig)")
    // the join the NEW m07 actually runs, at ×factor — probe-side
    // candidates are bounded per (dims, sig) block, so the op
    // completes where the dims-only join would enumerate the square
    val t0 = System.nanoTime()
    val best = ops.Multimodal.perceptualBestPairs(
      dec.select("doc_id", "width", "height", "v")).count()
    println(f"[multimodal]   perceptualBestPairs x$factor: $best best-pair rows " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    ops.Similarity.freeCheckpoint(dec)
  }

  /** `runMain graft.ScaleSmoke containment [factor]`: the d18/d19
    * posting-list cap, measured on the ADVERSARIAL corpus it exists
    * for — `factor`×1000 near-identical tiny docs over a 5-token
    * shingle vocabulary stacked on sf0.1's documents (one clone
    * family whose every gram is white-hot). The uncapped candidate
    * join's output size is COMPUTED (Σ_g prefix-occurrences(g) ×
    * df(g)) — enumerating it IS the quadratic being demonstrated —
    * while the capped (df ≤ 16) enumerator actually RUNS, verify
    * stage included.
    */
  def runContainment(spark: SparkSession, factor: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val docs1 = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text")
    val maxId = docs1.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val clones = spark.range(factor * 1000L)
      .select((col("id") + maxId + 1).as("doc_id"),
        lit("x1 x2 x3 x4 x5").as("text"))
    val corpus = docs1.unionByName(clones).localCheckpoint()
    val hashed = ops.Dedup.shingleRows(corpus)
      .select(col("doc_id"), substring(md5(col("t")), 1, 16).as("g"))
      .distinct().localCheckpoint()
    val gdf = hashed.groupBy("g").agg(count(lit(1)).as("df"))
    val szs = hashed.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    def prefixOf(base: DataFrame): DataFrame = base.join(gdf, "g")
      .withColumn("rn", row_number().over(w))
      .join(szs, "doc_id")
      .filter(col("rn") <= col("sz") - expr("(9 * sz + 9) div 10") + 1)
      .select(col("g"), col("df"))
    def implied(pre: DataFrame): Long = pre.groupBy("g", "df")
      .agg(count(lit(1)).as("po"))
      .agg(sum(col("po") * col("df"))).collect()(0).getLong(0)
    val n = corpus.count()
    println(s"[containment] corpus: $n docs (${factor * 1000} clones)")
    val uncapped = implied(prefixOf(hashed))
    val cold = hashed.join(gdf.filter(col("df") <= 16).select("g"),
      Seq("g"), "left_semi")
    val capped = implied(prefixOf(cold))
    println(s"[containment]   implied candidate join rows, uncapped: " +
      s"$uncapped  — ~(clone family)², grows with factor²")
    println(s"[containment]   implied candidate join rows, df<=16:   " +
      s"$capped  — bounded, independent of the clone family")
    val t0 = System.nanoTime()
    val pairs = ops.Dedup.containmentPairs(corpus, maxPosting = 16).count()
    println(f"[containment]   capped enumerator RUNS at x$factor: " +
      f"$pairs pairs in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    ops.Similarity.freeCheckpoint(hashed)
    ops.Similarity.freeCheckpoint(corpus)
  }

  /** st22 index-maintenance state plateau
    * (`runMain graft.ScaleSmoke indexmaint [factor]`): feed the sf0.1
    * embedding corpus through [[graft.streaming.EmbeddingStream
    * .maintainIndex]] with ×`factor` re-upserts PER KEY (every vector
    * modified `factor` times, every 9th deleted last) and print the
    * state-store rows after each micro-batch. The log-compaction
    * guarantee under test: events grow ×factor but state holds ONE
    * entry per ever-seen key — the plateau must equal the key count
    * exactly, batches after the first must not move it, and
    * tombstones REPLACE entries (deletes don't shrink state, they
    * gate serving).
    */
  def runIndexMaint(spark: SparkSession, factor: Int): Unit = {
    import spark.implicits._
    import graft.streaming.{EmbeddingStream, EventStream}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val S = ops.Similarity
    val e = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = S.seedCentroids(e).coalesce(1).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val (los, his) = S.sq8Params(e).coalesce(1).collect().headOption
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
      .getOrElse((Array.empty[Double], Array.empty[Double]))
    // Dev-tool-only collect (the ttl-mode pattern): hand-controlled
    // micro-batch boundaries need MemoryStream.
    val base = e.select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])].collect()
    val keys = base.length
    // ×factor churn over FIXED keys, us-ascending so later batches
    // outrank earlier ones: r-th round re-upserts every vector
    // (deterministically modified); the final round deletes every 9th.
    val events = (1 to factor).iterator.flatMap { r =>
      base.iterator.map { case (id, v) =>
        val del = if (r == factor && id % 9 == 0) 1 else 0
        EmbeddingStream.VecUpsert(id, r.toLong, del,
          if (del == 1) Seq.empty[Double]
          else v.map(x => x * (1.0 + 0.01 * r)))
      }
    }.toArray
    println(s"[indexmaint] $keys keys, ${events.length} events (×$factor" +
      s" churn per key)")
    val input = MemoryStream[EmbeddingStream.VecUpsert]
    val q = EventStream.withStreamShufflePartitions(spark, 8) {
      EmbeddingStream.maintainIndex(input.toDS(), cents, los, his)
        .writeStream.format("memory").queryName("idx_scale")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .start()
    }
    try {
      var maxState = -1L
      var afterFirst = -1L
      val per = math.max(1, events.length / 10)
      events.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        input.addData(chunk.toSeq)
        q.processAllAvailable()
        val st = EventStream.lastStateRows(q)
        if (i == 0) afterFirst = st
        maxState = math.max(maxState, st)
        println(f"[indexmaint] batch ${i + 1}%3d: +${chunk.length}%6d " +
          f"events, state rows $st%6d")
      }
      println(s"[indexmaint] max state $maxState vs keys $keys " +
        s"(plateau: ${maxState == keys}); events grew ×$factor, state " +
        s"grew ×${if (afterFirst > 0) maxState.toDouble / afterFirst else -1}")
    } finally {
      q.stop()
      spark.catalog.dropTempView("idx_scale")
    }
  }

  /** st27 lifecycle at scale (`runMain graft.ScaleSmoke lifecycle [f]`):
    * `indexmaint` measures the MAINTAIN state plateau; this measures
    * the other two phases of the st27 arc — PERSIST (the drained live
    * index written cell-partitioned) and SERVE (the two-probe SQ8
    * search against the reloaded store). The design claim under test:
    * serve cost is bounded by the PROBED CELLS' bytes, not the corpus
    * — the bounded probe fetch statically prunes the cell-partitioned
    * scan, so an unprobed cell is a directory the serve never opens.
    * Measured on a churned-then-drained index: (a) bytes under probed
    * cell dirs vs the whole store, (b) the serve's own scan-node
    * numFiles/filesSize on a ×1 vs ×factor store — files must equal
    * the probed-cell count at BOTH sizes, bytes must track the probed
    * dirs, never the store.
    */
  def runLifecycle(spark: SparkSession, factor: Int): Unit = {
    import spark.implicits._
    import graft.streaming.{EmbeddingStream, EventStream}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val S = ops.Similarity
    val e = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val centDf = S.seedCentroids(e).coalesce(1).localCheckpoint()
    val paramsDf = S.sq8Params(e).coalesce(1).localCheckpoint()
    val cents = centDf.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val (los, his) = paramsDf.collect().headOption
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
      .getOrElse((Array.empty[Double], Array.empty[Double]))
    // Dev-tool-only collect (the indexmaint generator): ×factor churn
    // per key, final round deletes every 9th.
    val base = e.select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])].collect()
    val events = (1 to factor).iterator.flatMap { r =>
      base.iterator.map { case (id, v) =>
        val del = if (r == factor && id % 9 == 0) 1 else 0
        EmbeddingStream.VecUpsert(id, r.toLong, del,
          if (del == 1) Seq.empty[Double]
          else v.map(x => x * (1.0 + 0.01 * r)))
      }
    }.toArray
    val input = MemoryStream[EmbeddingStream.VecUpsert]
    val q = EventStream.withStreamShufflePartitions(spark, 8) {
      EmbeddingStream.maintainIndex(input.toDS(), cents, los, his)
        .writeStream.format("memory").queryName("idx_lc")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .start()
    }
    val idx = try {
      time(s"maintain ×$factor churn") {
        events.grouped(math.max(1, events.length / 4)).foreach { chunk =>
          input.addData(chunk.toSeq)
          q.processAllAvailable()
        }
      }
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("last_us").desc)
      spark.table("idx_lc")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("deleted") === 0)
        .select(col("vec_id"), col("cell"), col("c"))
        .localCheckpoint()
    } finally { q.stop(); spark.catalog.dropTempView("idx_lc") }
    println(s"[lifecycle] ${events.length} events drained to " +
      s"${idx.count()} live codes")
    val root = ops.SourceSinks.tmp("graft_lifecycle").getAbsolutePath
    def persist(df: DataFrame, tag: String): String = {
      val p = s"$root/codes_$tag"
      time(s"persist $tag") {
        df.repartition(col("cell")).write.partitionBy("cell")
          .mode("overwrite").parquet(p)
      }
      p
    }
    val p1 = persist(idx, "x1")
    // The ×factor store: the drained index replicated under fresh ids
    // (cells unchanged) — a corpus ×factor bigger on disk, same probe.
    val idxN = (0 until factor).map(i =>
      idx.withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L)))
      .reduce(_ unionByName _)
    val pN = persist(idxN, s"x$factor")
    // The probe set the serve will compute — recomputed here to name
    // the pruned cells (2 per query; ONE query so the probed share is
    // 2/|cells|, the structural point).
    val probed = e.filter(col("vec_id") < 1).crossJoin(broadcast(centDf))
      .select(col("vec_id").as("qid"), col("c_label"),
        S.cosine(col("v"), col("cv")).as("s"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("s").desc, col("c_label"))))
      .filter(col("rn") <= 2)
      .select("c_label").distinct().collect().map(_.getInt(0)).toSet
    def cellBytes(p: String): Map[Int, Long] =
      new java.io.File(p).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName.drop(5).toInt ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(_.length).sum)
        .toMap
    val cb = cellBytes(pN)
    val probedBytes = probed.toSeq.map(cb.getOrElse(_, 0L)).sum
    println(f"[lifecycle] ×$factor store: ${cb.size} cells, " +
      f"${probed.size} probed; probed bytes $probedBytes%,d of " +
      f"${cb.values.sum}%,d (${100.0 * probedBytes / cb.values.sum}%.1f%%)")
    // Wall time at local scale is fixed-overhead noise; the
    // definitive pruning evidence is the codes SCAN NODE's own
    // numFiles/filesSize metrics after execution — they report the
    // post-pruning file selection. (This instrument is what exposed
    // the original DPP-based serve as a no-op full scan —
    // dynamicpruningexpression(true) — and motivated the static
    // bounded-probe pruning the serve now uses.)
    def serve(path: String, label: String): Unit = {
      val codes = spark.read
        .schema("vec_id BIGINT, c ARRAY<INT>, cell INT").parquet(path)
        .select(col("vec_id"), col("cell"), col("c"))
      val df = EmbeddingStream
        .searchMaintained(e.filter(col("vec_id") < 1),
          centDf, paramsDf, codes)
      time(label)(df.collect()) // bounded top-k output
      import org.apache.spark.sql.execution.SparkPlan
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive
            .QueryStageExec => leaves(s.plan)
        case o if o.children.isEmpty => Seq(o)
        case o => o.children.flatMap(leaves)
      }
      val scans = leaves(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths
              .exists(_.toString.contains("codes_")) => f
      }
      val nf = scans.map(_.metrics("numFiles").value).sum
      val fs = scans.map(_.metrics("filesSize").value).sum
      println(f"[lifecycle] $label%-22s codes scan: $nf files, " +
        f"$fs%,d bytes")
    }
    serve(p1, "serve ×1")
    serve(pN, s"serve ×$factor")
    Seq(centDf, paramsDf, idx).foreach(S.freeCheckpoint)
  }

  /** t28 GD scale structure (`runMain graft.ScaleSmoke classifier
    * [f]`): the fit's distributed shape is `iters` full passes whose
    * ONLY shuffle is the partial-aggregate tree of one 5-column row
    * (4 decimal gradient sums + a count) — the driver fetch per
    * round is 1 row whatever the corpus, so fit cost must track the
    * scan ~linearly and nothing else grows. Measured: fit+score wall
    * time on ×1 vs ×factor corpora (distinct plans, so the session
    * fit memo does not short-circuit the comparison).
    */
  def runClassifier(spark: SparkSession, factor: Int): Unit = {
    val docs1 = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "source", "text")
    val docsN = scaled(docs1, "doc_id", factor).cache()
    println(s"[classifier] documents: ${docsN.count()} rows (×$factor)")
    // JIT/codegen warmup on a DISTINCT plan (its own fit-memo key),
    // so the ×1 measurement doesn't pay first-use compilation the
    // ×factor one inherits.
    ops.TextAnalysis.qualityClassifier(docs1.limit(2000))
      .write.format("noop").mode("overwrite").save()
    time("t28 fit+score ×1")(
      ops.TextAnalysis.qualityClassifier(docs1)
        .write.format("noop").mode("overwrite").save())
    time(s"t28 fit+score ×$factor")(
      ops.TextAnalysis.qualityClassifier(docsN)
        .write.format("noop").mode("overwrite").save())
    docsN.unpersist()
  }

  /** st23 funnel state bound under replica churn
    * (`runMain graft.ScaleSmoke funnel [factor]`): feed the sf0.1
    * funnel events through [[graft.streaming.EventStream
    * .windowedFunnel]] ×`factor` times — replica r time-shifted
    * +r·(span + horizon) so no two replicas share a conversion
    * horizon — delivered NEWEST-REPLICA-FIRST, so every later batch
    * re-anchors each user's first view EARLIER and exercises the
    * prune path on every key. The horizon-bound guarantee under
    * test: events grow ×factor but (a) state stays ONE row per
    * ever-seen user, and (b) the per-user retained buffer
    * (n_buffered, emitted by the operator itself) never exceeds the
    * ×1 per-user event population — the funnel's own window is the
    * bound, arrival order and churn are not.
    */
  def runFunnel(spark: SparkSession, factor: Int): Unit = {
    import spark.implicits._
    import graft.streaming.EventStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Dev-tool-only collect (the ttl-mode pattern): hand-controlled
    // micro-batch boundaries need MemoryStream.
    val base = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)].collect()
    val users = base.map(_._1).distinct.length
    val perUserMax = base.groupBy(_._1).map(_._2.length).max
    val horizon = (48L * 3600L + 7L * 24L * 3600L) * 1000000L + 1L
    val span = base.map(_._3).max - base.map(_._3).min + horizon
    // newest replica first: each later batch anchors v earlier
    val events = (factor - 1 to 0 by -1).flatMap(r =>
      base.map { case (u, t, us) => (u, t, us + r * span) })
    println(s"[funnel] $users users, ${base.length} base events, " +
      s"${events.length} total (×$factor replicas, newest first)")
    val input = MemoryStream[(Long, String, Long)]
    val q = EventStream.withStreamShufflePartitions(spark, 8) {
      EventStream.windowedFunnel(input.toDS())
        .writeStream.format("memory").queryName("funnel_scale")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .start()
    }
    try {
      var maxBuf = -1
      val per = math.max(1, events.length / 10)
      events.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        input.addData(chunk)
        q.processAllAvailable()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("n_seen").desc)
        val buf = spark.table("funnel_scale")
          .withColumn("rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("rn") === 1)
          .agg(max(col("n_buffered"))).head.getInt(0)
        maxBuf = math.max(maxBuf, buf)
        val st = EventStream.lastStateRows(q)
        println(f"[funnel] batch ${i + 1}%3d: +${chunk.length}%6d " +
          f"events, state rows $st%6d, max buffered $buf%5d")
      }
      val st = EventStream.lastStateRows(q)
      println(s"[funnel] state rows $st vs users $users " +
        s"(plateau: ${st == users}); max buffered $maxBuf vs ×1 " +
        s"per-user max $perUserMax (horizon-bounded: " +
        s"${maxBuf <= perUserMax}); events grew ×$factor")
    } finally {
      q.stop()
      spark.catalog.dropTempView("funnel_scale")
    }
  }

  /** `runMain graft.ScaleSmoke timeseries [factor]`: q69 interpolation
    * and q70 hopping windows on a ×factor events corpus REPLICATED
    * WITHIN THE SAME TIME SPAN — the claim under test is that the
    * window stages are SPINE-bounded (span-buckets × types, fixed by
    * wall-clock time), so only the map-side groupBy sees the growth:
    * cost must grow far slower than ×factor. Also the regression
    * guard for the r14 O(n²) unbounded-following-frame fix — a
    * reintroduced forward frame would blow the ×1 number itself.
    */
  def runTimeseries(spark: SparkSession, factor: Int): Unit = {
    val ev1 = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .select("ts", "event_type", "value").cache()
    val n1 = ev1.count()
    // same span on purpose: the spine cannot grow with the corpus
    val evN = (0 until factor).map(_ => ev1).reduce(_ unionByName _)
      .cache()
    println(s"[scale] events: ${evN.count()} rows (×$factor, same span)")
    val spine = ops.Relational3.interpolateSeries(ev1, 300000000L)
      .count()
    println(s"[scale] spine cells (fixed): $spine from $n1 base events")
    time("q69 interpolate ×1")(
      ops.Relational3.interpolateSeries(ev1, 300000000L)
        .write.format("noop").mode("overwrite").save())
    time(s"q69 interpolate ×$factor")(
      ops.Relational3.interpolateSeries(evN, 300000000L)
        .write.format("noop").mode("overwrite").save())
    time("q70 hopping ×1")(
      graft.streaming.EventStream.hoppingCounts(ev1)
        .write.format("noop").mode("overwrite").save())
    time(s"q70 hopping ×$factor")(
      graft.streaming.EventStream.hoppingCounts(evN)
        .write.format("noop").mode("overwrite").save())
    evN.unpersist(); ev1.unpersist()
  }

  /** st32's in-stream OPTIMIZE claim, measured: compaction cost is
    * proportional to the data of the TOUCHED buckets, never the lake.
    * Against a ×factor lake, a maintenance pass fired by narrow
    * appends (one key bucket) must rewrite ~1/8 of the bytes the
    * full-lake pass rewrites, and every untouched bucket's manifest
    * entry must pass through as the SAME path (never read, never
    * rewritten).
    */
  def runAutoCompact(spark: SparkSession, factor: Int): Unit = {
    import graft.streaming.EventStream
    val ev0 = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
    val base = (0 until factor).map { i =>
      ev0.withColumn("user_id", col("user_id") + lit(i.toLong * 1000000))
        .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000))
    }.reduce(_ unionByName _).cache()
    println(s"[autocompact] base rows: ${base.count()} (x$factor)")
    val root = java.nio.file.Files
      .createTempDirectory("graft_smoke_ac_").resolve("lake").toString
    val lake = new EventStream.AutoCompactLake(spark, root,
      every = 2, fanout = 8)
    def cBytes(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
          .toSeq.flatMap(walk)
        else Seq(f)
      val d = new java.io.File(root, "data")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("c")).map { c =>
          c.getName -> walk(c).filter(_.getName.endsWith(".parquet"))
            .map(_.length()).sum
        }.toMap
    }
    // Two wide appends (every bucket) → the cadence fires a FULL-lake
    // compaction.
    val half1 = base.filter(col("event_id") % 2 === 0)
    val half2 = base.filter(col("event_id") % 2 =!= 0)
    time("wide append 1")(lake.append(half1))
    time("wide append 2 + full OPTIMIZE")(lake.append(half2))
    val fullBytes = cBytes().values.sum
    val preNarrow = lake.currentFiles.filter(_._1 != 0).toSet
    // Two narrow appends (bucket 0 keys only) → the next maintenance
    // pass may only touch bucket 0: ~1/8 of the lake's bytes.
    val narrow = base.filter(pmod(col("user_id"), lit(8)) === 0)
    val n1 = narrow.filter(col("event_id") % 2 === 0)
      .withColumn("us", col("us") + 1)
    val n2 = narrow.filter(col("event_id") % 2 =!= 0)
      .withColumn("us", col("us") + 1)
    time("narrow append 1")(lake.append(n1))
    time("narrow append 2 + 1-bucket OPTIMIZE")(lake.append(n2))
    val narrowBytes = cBytes().values.sum - fullBytes
    println(s"[autocompact] rewrite bytes: full=$fullBytes " +
      s"narrow=$narrowBytes (${
        if (narrowBytes > 0) f"${fullBytes.toDouble / narrowBytes}%.1f"
        else "inf"}x less)")
    assert(lake.compactions == 2, s"cadence: ${lake.compactions}")
    assert(narrowBytes * 3 < fullBytes,
      s"narrow OPTIMIZE rewrote $narrowBytes of $fullBytes bytes — " +
        "not bucket-scoped")
    val postNarrow = lake.currentFiles.filter(_._1 != 0).toSet
    assert(preNarrow == postNarrow,
      "untouched buckets' manifest entries changed across the " +
        "narrow OPTIMIZE")
    base.unpersist()
  }

  /** q88's steady-state claim, measured: on the SAME ×factor edge
    * set, the seeded delta pass (6 rounds from the stored base
    * labels) costs a fraction of the from-scratch batch recompute
    * (10 rounds from identity), and both reach the identical
    * component histogram. The ×factor graph is `factor` disjoint
    * id-shifted copies (the `graph` mode convention), so per-round
    * |E| scales while the diameter stays fixed.
    */
  def runIncWcc(spark: SparkSession, factor: Int): Unit = {
    val dir = "/root/testdata/sf0.1"
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey")
    val ord = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val dated0 = ops.Graph.datedTradePairs(li, ord)
    val dated = (0 until factor).map { i =>
      dated0.select(
        (col("sk") + lit(i.toLong * 10000000)).as("sk"),
        (col("ck") + lit(i.toLong * 10000000)).as("ck"),
        col("d0"))
    }.reduce(_ unionByName _)
    // Same-nation filter skipped: the copies are already disjoint
    // clusters; the split/seed mechanics are what's being measured.
    val b = dated.agg(min("d0").as("mn"), max("d0").as("mx")).collect()(0)
    if (b.isNullAt(0)) {
      println("[incwcc] no dated trade pairs in the testdata — aborting")
      return
    }
    val cut = (b.getLong(0) + b.getLong(1)) / 2
    val cps = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def cp(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(); cps += c; c
    }
    val baseEdges = cp(ops.Graph.bipartiteEdges(
      dated.filter(col("d0") <= cut).select("sk", "ck")))
    val edges = cp(ops.Graph.bipartiteEdges(dated.select("sk", "ck")))
    println(s"[incwcc] edges: base=${baseEdges.count()} " +
      s"full=${edges.count()} (x$factor)")
    val baseLabels = time("base fixpoint (10 rounds, once)")(
      cp(ops.Graph.relaxRounds(baseEdges,
        baseEdges.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label")),
        10, cp)))
    val nodes = cp(edges.select(col("src").as("node")).distinct())
    val seeded = cp(nodes
      .join(baseLabels.withColumnRenamed("node", "bn")
        .withColumnRenamed("label", "bl"),
        col("node") === col("bn"), "left")
      .select(col("node"), coalesce(col("bl"), col("node")).as("label")))
    def hist(labels: DataFrame): Seq[(Long, Long)] = labels
      .groupBy("label").agg(count(lit(1)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("n")).orderBy("s")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val hInc = time("DAILY seeded delta (6 rounds)")(
      hist(ops.Graph.relaxRounds(edges, seeded, 6, cp)))
    val hBatch = time("DAILY from-scratch (10 rounds)")(
      hist(ops.Graph.relaxRounds(edges,
        nodes.select(col("node"), col("node").as("label")), 10, cp)))
    assert(hInc == hBatch, "incremental and batch histograms diverge")
    println(s"[incwcc] histograms identical (${hInc.size} size classes)")
    cps.foreach(ops.Similarity.freeCheckpoint)
  }

  /** q89's maintenance claim, measured at ×factor: the DAILY refresh
    * (4 rank rounds seeded from the stored base vector) vs the
    * from-scratch 10-round recompute it replaces — wall time for
    * both, plus the stability meter (rounds until no node moves more
    * than base/100) proving the seeded start re-converges in no more
    * rounds than the cold start. Copies are disjoint id-shifted
    * clusters, so per-copy dynamics match ×1 and only the VOLUME
    * scales — the point is that both paths stay |E|-join-per-round
    * with node-sized rank frames.
    */
  def runIncPr(spark: SparkSession, factor: Int): Unit = {
    val dir = "/root/testdata/sf0.1"
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey")
    val ord = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val dated0 = ops.Graph.datedTradePairs(li, ord)
    val dated = (0 until factor).map { i =>
      dated0.select(
        (col("sk") + lit(i.toLong * 10000000)).as("sk"),
        (col("ck") + lit(i.toLong * 10000000)).as("ck"),
        col("d0"))
    }.reduce(_ unionByName _)
    val b = dated.agg(min("d0").as("mn"), max("d0").as("mx")).collect()(0)
    if (b.isNullAt(0)) {
      println("[incpr] no dated trade pairs in the testdata — aborting")
      return
    }
    val cut = Math.floorDiv(b.getLong(0) + b.getLong(1), 2L)
    val cps = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def cp(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(); cps += c; c
    }
    def withDeg(pairs: DataFrame): (DataFrame, DataFrame, Long) = {
      val e0 = ops.Graph.bipartiteEdges(pairs)
      val deg = e0.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val e = cp(e0.join(deg, "src"))
      val n = cp(e.select(col("src").as("node")).distinct())
      (e, n, n.count())
    }
    val (bEdges, bNodes, nBase) =
      withDeg(dated.filter(col("d0") <= cut).select("sk", "ck"))
    val (edges, nodes, n) = withDeg(dated.select("sk", "ck"))
    println(s"[incpr] nodes: base=$nBase full=$n (x$factor)")
    val bb = 1000000000000L / nBase
    val baseRanks = time("base ranks (10 rounds, once)")(
      cp(ops.Graph.prRounds(bEdges, bNodes,
        cp(bNodes.select(col("node"), lit(bb).as("r"))),
        (15L * bb) / 100L, 10, cp)))
    val base = 1000000000000L / n
    val teleport = (15L * base) / 100L
    val seeded = cp(nodes
      .join(baseRanks.withColumnRenamed("node", "bn")
        .withColumnRenamed("r", "br"),
        col("node") === col("bn"), "left")
      .select(col("node"),
        coalesce(
          expr(s"(br div ${n}L) * ${nBase}L + " +
            s"((br % ${n}L) * ${nBase}L) div ${n}L"),
          lit(base)).as("r")))
    val cold = cp(nodes.select(col("node"), lit(base).as("r")))
    time("DAILY seeded refresh (4 rounds)")(
      ops.Graph.prRounds(edges, nodes, seeded, teleport, 4, cp)
        .write.format("noop").mode("overwrite").save())
    time("DAILY from-scratch (10 rounds)")(
      ops.Graph.prRounds(edges, nodes, cold, teleport, 10, cp)
        .write.format("noop").mode("overwrite").save())
    val tol = math.max(1L, base / 100L)
    val rSeeded = ops.Graph.prRoundsToStable(edges, nodes, seeded,
      teleport, tol)
    val rCold = ops.Graph.prRoundsToStable(edges, nodes, cold,
      teleport, tol)
    println(s"[incpr] rounds to |Δr| <= $tol: seeded=$rSeeded " +
      s"cold=$rCold")
    assert(rSeeded <= rCold,
      s"seeded start ($rSeeded) slower to stability than cold ($rCold)")
    cps.foreach(ops.Similarity.freeCheckpoint)
  }

  /** st28's partition-scoped copy-on-write claim, measured: against a
    * ×factor lake, a delta batch confined to 1 of the 8 key buckets
    * must rewrite exactly that one partition, while an equal-sized
    * batch spread across every bucket rewrites all 8 — per-batch cost
    * is the TOUCHED partitions, never the lake. Verified structurally
    * (bucket dirs whose newest parquet mtime moved) and by wall time.
    */
  def runLakeMerge(spark: SparkSession, factor: Int): Unit = {
    import graft.streaming.EventStream
    val ev0 = Tables.load(spark, "/root/testdata/sf0.1", "events")
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
    val base = (0 until factor).map { i =>
      ev0.withColumn("user_id", col("user_id") + lit(i.toLong * 1000000))
        .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000))
    }.reduce(_ unionByName _).cache()
    println(s"[lakemerge] base rows: ${base.count()} (x$factor)")
    def fresh(): String = java.nio.file.Files
      .createTempDirectory("graft_smoke_lake_").resolve("lake").toString
    def mtimes(root: String): Map[Int, Long] =
      (0 until 8).flatMap { b =>
        val d = new java.io.File(s"$root/bucket=$b")
        val fs = Option(d.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet"))
        if (fs.isEmpty) None else Some(b -> fs.map(_.lastModified()).max)
      }.toMap
    val lakeN = fresh(); val lakeW = fresh()
    time("base merge -> lake A")(EventStream.mergeBatchIntoLake(base, lakeN))
    time("base merge -> lake B")(EventStream.mergeBatchIntoLake(base, lakeW))
    val mN0 = mtimes(lakeN); val mW0 = mtimes(lakeW)
    Thread.sleep(1100) // mtime granularity
    // equal-row deltas: narrow = every key of ONE bucket; wide = every
    // 8th event regardless of bucket
    val narrow = base.filter(pmod(col("user_id"), lit(8)) === 0)
      .withColumn("us", col("us") + 1)
    val wide = base.filter(col("event_id") % 8 === 0)
      .withColumn("us", col("us") + 1)
    println(s"[lakemerge] delta rows: narrow=${narrow.count()} wide=${wide.count()}")
    time("narrow delta merge (1 bucket touched)")(
      EventStream.mergeBatchIntoLake(narrow, lakeN))
    time("wide delta merge (8 buckets touched)")(
      EventStream.mergeBatchIntoLake(wide, lakeW))
    val rewN = mtimes(lakeN).count { case (b, t) => mN0.get(b).forall(_ != t) }
    val rewW = mtimes(lakeW).count { case (b, t) => mW0.get(b).forall(_ != t) }
    println(s"[lakemerge] buckets rewritten: narrow=$rewN/8 wide=$rewW/8")
    assert(rewN == 1, s"narrow delta must rewrite exactly 1 bucket, got $rewN")
    base.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val modes = Set("skew", "q56", "sim", "ttl", "stjoin", "sessions",
      "text", "curation", "multimodal", "containment", "indexmaint",
      "funnel", "timeseries", "dsir", "lakemerge", "tokenbudget", "pca",
      "graph", "lifecycle", "classifier", "autocompact", "incwcc",
      "incpr", "kcore")
    val mode = args.headOption match {
      case Some(m) if modes(m) => m
      case Some(a) if a.nonEmpty && a.forall(_.isDigit) => "scale"
      case None => "scale"
      case Some(other) =>
        // A misspelled mode must fail with the valid options, not
        // fall through to a NumberFormatException in factor parsing.
        System.err.println(s"unknown mode '$other'\n$usage")
        sys.exit(2)
    }
    val factor = args.drop(if (mode == "scale") 0 else 1)
      .headOption
      .map { a =>
        // toInt still throws on digits > Int.MaxValue and on any
        // non-numeric second arg — fail with the usage text instead.
        scala.util.Try(a.toInt).filter(_ >= 1).getOrElse {
          System.err.println(s"bad factor '$a'\n$usage")
          sys.exit(2)
        }
      }
      .getOrElse(mode match {
        case "scale" => 10
        case "ttl" => 20
        case "stjoin" => 30
        case "sessions" => 30
        case "text" => 20
        case "curation" => 20
        case "multimodal" => 100
        case "containment" => 20
        case "indexmaint" => 20
        case "funnel" => 20
        case "timeseries" => 20
        case "dsir" => 20
        case "lakemerge" => 5
        case "tokenbudget" => 20
        case "pca" => 10
        case "graph" => 5
        case "kcore" => 5
        case "lifecycle" => 20
        case "classifier" => 20
        case "autocompact" => 5
        case "incwcc" => 5
        case "incpr" => 5
        case _ => 4
      })
    val spark = GraftSession.builder().getOrCreate()

    if (mode == "skew") { runSkew(spark, factor); spark.stop(); return }
    if (mode == "q56") { runQ56(spark, factor); spark.stop(); return }
    if (mode == "sim") { runSim(spark, factor); spark.stop(); return }
    if (mode == "ttl") { runTtl(spark, factor); spark.stop(); return }
    if (mode == "stjoin") { runStJoin(spark, factor); spark.stop(); return }
    if (mode == "sessions") { runSessionsScale(spark, factor); spark.stop(); return }
    if (mode == "text") { runText(spark, factor); spark.stop(); return }
    if (mode == "curation") { runCuration(spark, factor); spark.stop(); return }
    if (mode == "multimodal") { runMultimodal(spark, factor); spark.stop(); return }
    if (mode == "containment") { runContainment(spark, factor); spark.stop(); return }
    if (mode == "indexmaint") { runIndexMaint(spark, factor); spark.stop(); return }
    if (mode == "funnel") { runFunnel(spark, factor); spark.stop(); return }
    if (mode == "timeseries") { runTimeseries(spark, factor); spark.stop(); return }
    if (mode == "lakemerge") { runLakeMerge(spark, factor); spark.stop(); return }
    if (mode == "dsir") { runDsir(spark, factor); spark.stop(); return }
    if (mode == "tokenbudget") { runTokenBudget(spark, factor); spark.stop(); return }
    if (mode == "pca") { runPca(spark, factor); spark.stop(); return }
    if (mode == "graph") { runGraph(spark, factor); spark.stop(); return }
    if (mode == "lifecycle") { runLifecycle(spark, factor); spark.stop(); return }
    if (mode == "classifier") { runClassifier(spark, factor); spark.stop(); return }
    if (mode == "autocompact") { runAutoCompact(spark, factor); spark.stop(); return }
    if (mode == "incwcc") { runIncWcc(spark, factor); spark.stop(); return }
    if (mode == "incpr") { runIncPr(spark, factor); spark.stop(); return }
    if (mode == "kcore") { runKcore(spark, factor); spark.stop(); return }

    val docs1 = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val docsN = scaled(docs1.select("doc_id", "text"), "doc_id", factor)
      .cache()
    println(s"[scale] documents: ${docsN.count()} rows (×$factor)")

    time(s"minhash bands ×1")(
      ops.Dedup.minhashBands(docs1.select("doc_id", "text"))
        .write.format("noop").mode("overwrite").save())
    time(s"minhash bands ×$factor")(
      ops.Dedup.minhashBands(docsN)
        .write.format("noop").mode("overwrite").save())
    time(s"lsh pairs ×$factor")(
      ops.Dedup.lshCandidatePairs(docsN, 0.5)
        .write.format("noop").mode("overwrite").save())
    time(s"simhash ×$factor")(
      ops.Dedup.simhashes(docsN)
        .write.format("noop").mode("overwrite").save())
    // Keeper election stays linear where pair enumeration is
    // quadratic in cluster size — the op to reach for on dup-heavy
    // corpora.
    time(s"keepers 1-hop ×$factor")(
      graft.SparkEntry.queries("d07_lsh_dedup_keepers")
        .apply(spark, "/root/testdata/sf0.1")
        .write.format("noop").mode("overwrite").save())
    time(s"keepers closure ×$factor")(
      ops.Dedup.connectedKeepers(docsN)
        .write.format("noop").mode("overwrite").save())
    // Boilerplate n-grams: two (gram, id) shuffles + one join back —
    // everything linear in total gram count; the thing to watch at ×N
    // is the frequency join's build side (distinct grams), which the
    // near-dup replicas inflate ~linearly here.
    time(s"boilerplate grams ×1")(
      ops.Dedup.boilerplateNgrams(docs1.select("doc_id", "text"),
        n = 5, minDocs = 2, maxFrac = 0.2)
        .write.format("noop").mode("overwrite").save())
    time(s"boilerplate grams ×$factor")(
      ops.Dedup.boilerplateNgrams(docsN, n = 5, minDocs = 2, maxFrac = 0.2)
        .write.format("noop").mode("overwrite").save())
    // SimHash near-dup: signature work is linear (one native call per
    // doc); pair work is bounded by band-bucket collisions. At ×N the
    // 15-bit band keyspace (32 768 per band) starts saturating, so
    // candidate counts — not the signature pass — are what to watch.
    time(s"simhash near-dup ×1")(
      ops.Dedup.simhashNearDup(docs1.select("doc_id", "text"))
        .write.format("noop").mode("overwrite").save())
    time(s"simhash near-dup ×$factor")(
      ops.Dedup.simhashNearDup(docsN)
        .write.format("noop").mode("overwrite").save())
    docsN.unpersist()

    // k-NN join: in-bucket pair count grows quadratically with bucket
    // population, so bits must scale with the corpus. Time the same
    // corpus under 4 and 8 bucket bits — the 8-bit run should not be
    // slower (it trades recall for candidate count).
    import graft.ops.Similarity
    val emb1 = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val embN = scaled(emb1, "vec_id", factor).cache()
    println(s"[scale] embeddings: ${embN.count()} rows (×$factor)")
    // The SAME code s04 ships (Similarity.knnJoin), just swept over
    // bucket widths — so the smoke measures the shipped query's shape.
    def knn(bits: Int): Unit =
      Similarity.knnJoin(embN, bits, k = 3)
        .write.format("noop").mode("overwrite").save()
    time(s"knn join 4-bit ×$factor")(knn(4))
    time(s"knn join 8-bit ×$factor")(knn(8))
    embN.unpersist()
    spark.stop()
  }
}
