package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the `embeddings` table: EMBEDDING-based
  * continuous-ingest admission, quantized — the s14 sign-bit codes
  * reaching the streaming surface (st09/st12 admit on text SimHash;
  * this admits on the embedding, the semantic-dedup complement).
  *
  * The recall-then-verify split is the point of the design:
  *
  *  - the stream holds CODES, never vectors. Each arriving embedding
  *    collapses to two 32-bit sign words (s14's `bqEncode`, a pure
  *    projection) banded into 8 × 8-bit keys; the TTL'd state stores
  *    (vec_id, w0, w1, ts) = 32 bytes per member vs 512 B for the raw
  *    64-d vector — the state store stays O(rate × horizon) SMALL even
  *    when the horizon is long;
  *  - in-state work is a Hamming gate (`bit_count(xor)`, the cheapest
  *    distance in the engine) at ≤ `maxHamming` — strict-majority sign
  *    agreement (31 of 64) by default. The stream emits CANDIDATE
  *    pairs, i.e. decisions-to-check, not payloads (the st04 rule);
  *  - exact verification (cosine on the raw vectors, d06's bit-exact
  *    arithmetic) runs once per candidate in the batch drain, joining
  *    the tiny candidate set back to the corpus as a broadcast — the
  *    s12 re-rank shape. Candidates are ~3 per arrival measured at
  *    sf0.01/sf0.1 (vs 120 horizon-mates unfiltered): the band gate
  *    does its job before any 64-d arithmetic happens.
  *
  * Admission is first-wins like st09/st12: vec_b is rejected iff some
  * EARLIER vec_a within the event-time horizon shares a band, passes
  * the Hamming gate, and verifies at cosine > tau; every vector enters
  * state regardless, so rejected vectors still block later arrivals.
  */
object EmbeddingStream {

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  final case class VecSigT(vec_id: Long, w0: Long, w1: Long, band_id: Int,
      band_key: Long, event_ts: java.sql.Timestamp)
  final case class CandPair(vec_a: Long, vec_b: Long, hamming: Int)

  /** Synthetic event-time base (the documents stream's convention:
    * 1 vector/sec from `vec_id`), so the oracle restates the horizon
    * as plain vec_id arithmetic.
    */
  val vecEpochSeconds: Long = 1735689600L // 2025-01-01T00:00:00Z

  /** File-source stream over the embeddings parquet. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)

  /** (vec_id, w0, w1, band_id, band_key, event_ts) rows from a
    * (streaming or batch) embeddings frame — projection-only: s14's
    * sign-bit encode, the two words cut into 8 × 8-bit band keys.
    */
  def bandedCodes(embeddings: DataFrame): DataFrame =
    graft.ops.Similarity.bqEncode(
      embeddings.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v")))
      .filter(col("w0").isNotNull)
      .withColumn("event_ts",
        timestamp_seconds(lit(vecEpochSeconds) + col("vec_id")))
      .select(col("vec_id"), col("w0"), col("w1"), col("event_ts"),
        posexplode(array((0 until 8).map { b =>
          if (b < 4) shiftright(col("w0"), b * 8).bitwiseAND(lit(255L))
          else shiftright(col("w1"), (b - 4) * 8).bitwiseAND(lit(255L))
        }: _*)).as(Seq("band_id", "band_key")))
      .select(col("vec_id"), col("w0"), col("w1"), col("band_id"),
        col("band_key"), col("event_ts"))

  /** TTL'd band-bucket candidate generation — [[DocumentStream
    * .nearDupPairsTtl]]'s state machine over sign-bit codes: members
    * expire past the horizon, idle buckets are dropped wholesale by
    * `EventTimeTimeout`, and a pair emits iff the two codes agree on
    * the bucket's band AND on > 64 − `maxHamming` sign bits overall.
    */
  def candPairsTtl(
      ds: Dataset[VecSigT],
      horizon: java.time.Duration,
      maxHamming: Int): Dataset[CandPair] = {
    import ds.sparkSession.implicits._
    val horizonMs = horizon.toMillis
    ds.withWatermark("event_ts", "0 seconds")
      .groupByKey(d => (d.band_id, d.band_key))
      .flatMapGroupsWithState[List[(Long, Long, Long, Long)], CandPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), vecs: Iterator[VecSigT],
            state: GroupState[List[(Long, Long, Long, Long)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = vecs.toSeq.sortBy(d => (d.event_ts.getTime, d.vec_id))
            var seen = state.getOption.getOrElse(Nil) // (vec_id, w0, w1, tsMs)
            val out = Seq.newBuilder[CandPair]
            sorted.foreach { d =>
              val t = d.event_ts.getTime
              seen = seen.filter(_._4 >= t - horizonMs) // expire members
              seen.foreach { case (id, w0, w1, _) =>
                if (id != d.vec_id) {
                  val h = java.lang.Long.bitCount(w0 ^ d.w0) +
                    java.lang.Long.bitCount(w1 ^ d.w1)
                  if (h <= maxHamming)
                    out += CandPair(
                      math.min(id, d.vec_id), math.max(id, d.vec_id), h)
                }
              }
              seen = (d.vec_id, d.w0, d.w1, t) :: seen
            }
            state.update(seen)
            state.setTimeoutTimestamp(seen.map(_._4).max + horizonMs)
            out.result().iterator
          }
      }
  }

  /** The full quantized admission pipeline: stream → sign-bit codes →
    * TTL'd band-bucket Hamming gate → batch exact-cosine verify of the
    * drained candidates → per-vector admit/reject roster.
    *
    * The verify joins are both broadcasts of candidate-sized frames
    * onto the corpus scan (the s12 re-rank shape) — the corpus is
    * never shuffled, and the only frames collected are the streamed
    * candidate decisions.
    */
  def runStreamAdmissionQuantized(
      spark: SparkSession, dir: String,
      horizonSeconds: Long = 120L,
      maxHamming: Int = 31,
      tau: Double = 0.25): DataFrame = {
    import spark.implicits._
    val pairs = DocumentStream.drainToTable(spark, candPairsTtl(
      bandedCodes(readStream(spark, dir)).as[VecSigT],
      java.time.Duration.ofSeconds(horizonSeconds), maxHamming))
    val cand = pairs.select("vec_a", "vec_b").distinct()
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.VectorExpressions.dot(a, b)
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val withA = e.join(broadcast(cand), col("vec_id") === col("vec_a"))
      .select(col("vec_a"), col("vec_b"),
        col("v").as("va"), col("nrm").as("na"))
    val rejected = e.as("b").join(broadcast(withA.as("a")),
        col("b.vec_id") === col("a.vec_b"))
      .filter(dot(col("a.va"), col("b.v")) / (col("a.na") * col("b.nrm"))
        > tau)
      .select(col("a.vec_b").as("vec_id")).distinct()
      .withColumn("rej", lit(1))
    graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"))
      .join(rejected, Seq("vec_id"), "left")
      .select(col("vec_id"),
        (coalesce(col("rej"), lit(0)) === 0).cast("int").as("admitted"))
      .orderBy("vec_id")
  }

  // ------------------------------------------------------------------
  // st22: streaming incremental index maintenance.
  // ------------------------------------------------------------------

  /** One event of the vector upsert/delete CDC feed (st22): `del` = 1
    * tombstones the key; `us` orders events within a key.
    */
  final case class VecUpsert(vec_id: Long, us: Long, del: Int,
      v: Seq[Double])

  /** One maintained index entry — the stream's per-key state AND its
    * emission: the latest (cell, codes) of a live vector, or its
    * tombstone (`deleted` = 1, empty codes).
    */
  final case class IndexEntry(vec_id: Long, last_us: Long, deleted: Int,
      cell: Int, c: Seq[Int])

  /** The upsert/delete feed the maintenance stream consumes — the
    * testdata's CDC stand-in (a deployment reads a change log): every
    * vector arrives as an upsert at us = 1; every 7th RE-upserts a
    * MODIFIED vector (negated — a cosine-visible edit, restatable in
    * SQL) at us = 2; every 9th deletes at us = 3 (s23/s24's deletion
    * delta — ids divisible by 63 exercise re-upsert THEN delete). A
    * pure projection + bounded 3-way explode: streaming-safe,
    * stateless.
    */
  def vectorCdcFeed(embeddings: DataFrame): DataFrame = {
    val e = embeddings
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    e.select(col("vec_id"), explode(array(
        struct(lit(1L).as("us"), lit(0).as("del"), col("v").as("ev")),
        struct(lit(2L).as("us"), lit(0).as("del"),
          transform(col("v"), x => -x).as("ev")),
        struct(lit(3L).as("us"), lit(1).as("del"), col("v").as("ev"))))
        .as("e"))
      .filter(col("e.us") === 1 ||
        (col("e.us") === 2 && col("vec_id") % 7 === 0) ||
        (col("e.us") === 3 && col("vec_id") % 9 === 0))
      .select(col("vec_id"), col("e.us").as("us"),
        col("e.del").as("del"), col("e.ev").as("v"))
  }

  /** Nearest frozen cell by cosine (label-asc tie-break) + SQ8 codes
    * on the frozen grid with out-of-grid SATURATION (s20's append
    * convention — a re-upserted NEGATED vector leaves the trained
    * min/max box, and both engines must clamp identically). All
    * folds run in ascending dimension order — the list_sum order the
    * oracle uses.
    */
  private[streaming] def assignEncode(cents: Array[(Int, Array[Double])],
      los: Array[Double], his: Array[Double], v: Seq[Double])
      : (Int, Seq[Int]) = {
    val a = v.toArray
    var nv = 0.0
    var d = 0
    while (d < a.length) { nv += a(d) * a(d); d += 1 }
    val nq = math.sqrt(nv)
    var bestLabel = 0
    var best = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val (label, cv) = cents(i)
      var dot = 0.0
      var nc = 0.0
      d = 0
      while (d < a.length) {
        dot += a(d) * cv(d); nc += cv(d) * cv(d); d += 1
      }
      val sim = dot / (nq * math.sqrt(nc))
      // cents is label-ascending, so strict > keeps the lowest label
      // on ties — ORDER BY sim DESC, label ASC
      if (sim > best) { best = sim; bestLabel = label }
      i += 1
    }
    val codes = Array.tabulate(a.length) { d =>
      val c0 =
        if (his(d) == los(d)) 0.0
        else math.floor((a(d) - los(d)) * 255.0 / (his(d) - los(d)) + 0.5)
      math.min(math.max(c0, 0.0), 255.0).toInt
    }
    (bestLabel, codes.toSeq)
  }

  /** The st22 state machine — st21's latest-record-wins CDC pattern
    * maintaining A LIVE VECTOR INDEX as state: per key the state is
    * ONE entry — the latest (us)-ordered event's (cell, codes) under
    * the FROZEN artifacts (closed over: the broadcast a deployed
    * maintainer ships; assignment + encode run in the state update,
    * so the emitted rows ARE index rows, not raw vectors). Deletes
    * tombstone (the st21 rule: stale earlier emissions in the update
    * log are only outranked by an explicit tombstone). State is
    * O(keys) — 64 int codes + 3 scalars per ever-seen vector,
    * independent of event count: the log-compaction guarantee, for an
    * index.
    */
  def maintainIndex(ds: Dataset[VecUpsert],
      cents: Array[(Int, Array[Double])],
      los: Array[Double], his: Array[Double]): Dataset[IndexEntry] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.vec_id)
      .mapGroupsWithState[(Long, Int, Int, Seq[Int]), IndexEntry](
        GroupStateTimeout.NoTimeout) {
        (vid: Long, it: Iterator[VecUpsert],
            state: GroupState[(Long, Int, Int, Seq[Int])]) =>
          var cur = state.getOption.getOrElse(
            (Long.MinValue, 0, 0, Seq.empty[Int]))
          it.foreach { ev =>
            if (ev.us > cur._1) {
              cur =
                if (ev.del == 1) (ev.us, 1, 0, Seq.empty[Int])
                else {
                  val (cell, codes) = assignEncode(cents, los, his, ev.v)
                  (ev.us, 0, cell, codes)
                }
            }
          }
          state.update(cur)
          IndexEntry(vid, cur._1, cur._2, cur._3, cur._4)
      }
  }

  /** Streaming incremental index maintenance (st22) — the operator
    * that keeps a DEPLOYED vector index live from a change feed,
    * closing the loop s20 (batch append) and s23 (batch delete) only
    * walk one step of: the upsert/delete stream maintains cells +
    * SQ8 codes as O(keys) state under artifacts trained once and
    * FROZEN (no retrain — exactly how a production index absorbs its
    * write stream between rebuilds), and the drained state IS the
    * index: a two-probe integer-SQ8 search runs over it directly.
    * The oracle restates the FIXPOINT — the final surviving vector
    * set (modified where re-upserted, absent where deleted), its
    * frozen-artifact assignment/encode, and the same search — from
    * first principles with no stream anywhere, so the hash match
    * proves the state machine converges to exactly the index a batch
    * rebuild of the surviving set would serve. Artifacts are
    * collected once (≤ |cells| + 1 tiny rows — the bounded
    * merge-table convention) and closed over; search reads the
    * maintained codes, never raw corpus vectors.
    */
  def runIndexMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val (e, centDf, paramsDf, idx) = maintainIndexFrames(spark, dir)
    searchMaintained(e, centDf, paramsDf, idx)
  }

  /** The MAINTAIN half of st22/st27, factored: returns the original
    * corpus frame, the two frozen-artifact frames, and the drained
    * maintained index (live rows only — (vec_id, cell, c)). st22
    * searches the drained frame directly; st27 pushes it through
    * s26's cell-partitioned persistence first and serves from the
    * reloaded files.
    */
  private[streaming] def maintainIndexFrames(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val S = graft.ops.Similarity
    val e = graft.Tables.load(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    // Frozen artifacts: coarse centroids + SQ8 grid of the ORIGINAL
    // corpus, checkpointed once (probe + query-encode reuse the same
    // frames the closure artifacts are collected from).
    val centDf = S.seedCentroids(e).coalesce(1).localCheckpoint()
    val paramsDf = S.sq8Params(e).coalesce(1).localCheckpoint()
    val cents = centDf.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val (los, his) = paramsDf.collect().headOption
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
      .getOrElse((Array.empty[Double], Array.empty[Double]))
    val name = "st_idx_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.withStreamShufflePartitions(spark, 8) {
      val q = maintainIndex(
          vectorCdcFeed(readStream(spark, dir)).as[VecUpsert],
          cents, los, his)
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode(OutputMode.Update())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val out = spark.table(name)
    spark.catalog.dropTempView(name)
    // Drain: last_us is monotone per key, so the final index entry is
    // the max-us emission (the runRunningCounts convention); live
    // rows only — tombstones gate stale earlier emissions out.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("last_us").desc)
    val idx = out.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("deleted") === 0)
      .select(col("vec_id"), col("cell"), col("c"))
    (e, centDf, paramsDf, idx)
  }

  /** The SERVE half: two-probe integer-SQ8 search over a maintained
    * index frame (the s18/s25 search shape; queries = the s01
    * convention, their codes on the same frozen grid). `centDf` /
    * `paramsDf` / `idx` may be the in-memory maintained frames
    * (st22) or their reloaded-from-disk counterparts (st27) — the
    * search only ever reads cells + codes, never raw corpus vectors.
    */
  private[graft] def searchMaintained(e: DataFrame, centDf: DataFrame,
      paramsDf: DataFrame, idx: DataFrame): DataFrame = {
    val S = graft.ops.Similarity
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val probe = queries.crossJoin(broadcast(centDf))
      .select(col("qid"), col("c_label"),
        S.cosine(col("qv"), col("cv")).as("c_sim"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("c_sim").desc, col("c_label"))))
      .filter(col("rn") <= 2)
      .select(col("qid"), col("c_label").as("probe_label"))
    val qcodes = S.sq8Encode(
        queries.select(col("qid").as("vec_id"), col("qv").as("v")),
        paramsDf)
      .select(col("vec_id").as("qid"), col("c").as("qc"))
    val pq = probe.join(qcodes, "qid")
    // STATIC partition pruning via a bounded probe fetch
    // (ivfSq8Search's rule): when `idx` is the reloaded
    // cell-partitioned store (st27), the isin filter becomes
    // PartitionFilters and an unprobed cell is a directory never
    // opened — guaranteed, not left to the DPP cost heuristic
    // (which planned this exact join's pruning subquery away to a
    // no-op; README "Round-16 gates and notes").
    val probedCells = probe.select(col("probe_label")).distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ 2·|queries| cells
    val pruned =
      if (probedCells.isEmpty) idx.filter(lit(false))
      else idx.filter(col("cell").isin(probedCells: _*))
    pruned.join(broadcast(pq),
        col("cell") === col("probe_label") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("probe_label"), col("vec_id"),
        graft.functions.VectorExpressions
          .sq8dist(col("qc"), col("c")).as("idist"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("idist").asc_nulls_last, col("vec_id"))))
      .filter(col("rnk") <= 5)
      .orderBy("qid", "rnk")
  }

  /** The full index LIFECYCLE (st27) — the arc a deployed vector
    * index actually runs, composed end-to-end in one job: MAINTAIN
    * (st22's latest-record-wins CDC state machine under frozen
    * artifacts), PERSIST (the drained live index written through
    * s26's layout — codes as parquet PARTITIONED BY CELL, the two
    * tiny artifact tables beside them), SERVE (the two-probe SQ8
    * search run against what came back FROM DISK — centroids, grid
    * and codes all reloaded; nothing in the serve path touches an
    * in-memory frame from the maintain phase). The bounded probe
    * fetch statically prunes the reloaded cell-partitioned scan
    * (PartitionFilters IN), so at 100 TB an unprobed cell is a
    * directory the serve never opens. The oracle is st22's fixpoint
    * statement UNCHANGED: the
    * hash match proves the persistence round trip is lossless for
    * search purposes — the served top-k equals a batch rebuild of the
    * surviving set.
    */
  def runIndexLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val (e, centDf, paramsDf, idx) = maintainIndexFrames(spark, dir)
    val root = new java.io.File(
      graft.ops.SourceSinks.tmp("graft_st27"), "index").getAbsolutePath
    idx.write.partitionBy("cell").mode("overwrite")
      .parquet(s"$root/codes")
    centDf.coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    paramsDf.coalesce(1).write.mode("overwrite").parquet(s"$root/params")
    // Explicit schemas (s26's rule): an empty maintained set writes a
    // store with no parquet files, which must read back as empty, not
    // fail schema inference. `cell` is the partition column — named
    // in the schema, recovered from the directory tree.
    val codes = spark.read
      .schema("vec_id BIGINT, c ARRAY<INT>, cell INT")
      .parquet(s"$root/codes")
      .select(col("vec_id"), col("cell"), col("c"))
    val cent = spark.read.schema(centDf.schema).parquet(s"$root/centroids")
    val params = spark.read.schema(paramsDf.schema)
      .parquet(s"$root/params")
    searchMaintained(e, cent, params, codes)
  }
  /** One drift-monitor emission: per frozen cell, how many upsert
    * events landed there and how much of their coordinate mass fell
    * outside the frozen grid box.
    */
  final case class DriftCell(cell: Int, n_events: Long, sat_coords: Long,
      n_coords: Long)

  /** STREAMING drift monitor (st29) — s34's saturation/occupancy
    * accounting run WHERE a deployed maintainer actually needs it: on
    * the live upsert feed, beside st22, against the same frozen
    * artifacts. Each upsert is scored STATELESSLY (nearest frozen
    * cell + count of coordinates outside the frozen [lo, hi] box — a
    * map over the broadcast ≤|cells|+1 artifact rows), and the only
    * state is the per-cell streaming aggregate: (n_events,
    * sat_coords, n_coords) — O(|cells|), the smallest state in the
    * streaming surface. Unlike s34 (which measures the surviving
    * FIXPOINT), the monitor counts every ARRIVING upsert once,
    * superseded or not: drift is a property of what the feed throws
    * at the frozen index, and a monitor that waited for the fixpoint
    * would never fire mid-stream. The oracle restates the feed's
    * upsert set (us=1 for all, us=2 negated for every 7th; deletes
    * carry no vector) and the same assignment/out-of-box arithmetic
    * in batch SQL.
    */
  def runDriftMonitor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val S = graft.ops.Similarity
    val e = graft.Tables.load(spark, dir, "embeddings")
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
    val name = "st_drift_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.withStreamShufflePartitions(spark, 8) {
      val scored = vectorCdcFeed(readStream(spark, dir)).as[VecUpsert]
        .filter(_.del == 0)
        .map { ev =>
          val (cell, _) = assignEncode(cents, los, his, ev.v)
          var satc = 0L
          var i = 0
          val a = ev.v
          while (i < a.length) {
            if (a(i) < los(i) || a(i) > his(i)) satc += 1
            i += 1
          }
          DriftCell(cell, 1L, satc, a.length.toLong)
        }
      val q = scored
        .groupBy(col("cell"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("sat_coords")).as("sat_coords"),
          sum(col("n_coords")).as("n_coords"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode(OutputMode.Update())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val out = spark.table(name)
    spark.catalog.dropTempView(name)
    // Update-mode drain: counts are monotone per cell, the final
    // totals are the max-n_events emission (runRunningCounts).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("n_events").desc)
    out.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cell"), col("n_events"), col("sat_coords"),
        col("n_coords"),
        expr("(1000000L * sat_coords) DIV nullif(n_coords, 0L)")
          .as("sat_ppm"))
      .orderBy("cell")
  }
}
