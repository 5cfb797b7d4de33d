package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._

/** Structured Streaming over the `documents` table: continuous-
  * ingestion near-dup detection — the streaming run of the SAME
  * SimHash band-blocking operator as the batch d11
  * ([[graft.ops.Dedup.simhashNearDup]]).
  *
  * Why this shape survives 100 TB of ingest:
  *  - the signature is a pure per-row projection (no shuffle): the
  *    aggregate-HOF SimHash collapses each document to 8 bytes before
  *    anything stateful sees it;
  *  - state is keyed by (band_id, band_key) — the state store holds
  *    (doc_id, simhash) pairs per bucket, i.e. signatures, never text;
  *  - a new document compares only against its own bucket's members
  *    (pigeonhole-exact for Hamming ≤ 3, same as batch), so per-event
  *    work is O(bucket), never O(corpus);
  *  - the PRIMARY entries ([[nearDupPairsTtl]] /
  *    [[runStreamNearDupTtl]] / [[runStreamAdmissionTtl]]) age bucket
  *    members out against the watermark, so state is
  *    O(rate × horizon), never O(corpus) — what a continuous-ingest
  *    deployment runs forever. The `...Unbounded` variants keep
  *    `NoTimeout` ONLY so st07/st09 can check streaming == batch
  *    closure over the whole history.
  */
object DocumentStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  final case class DocSig(doc_id: Long, simhash: Long, band_id: Int, band_key: Long)
  final case class DocSigT(doc_id: Long, simhash: Long, band_id: Int,
      band_key: Long, event_ts: java.sql.Timestamp)
  final case class NearPair(doc_a: Long, doc_b: Long, hamming: Int)

  /** Synthetic event-time base for the documents stream: the table has
    * no timestamp column, so the TTL operator assigns
    * `event_ts = epoch + doc_id seconds` (1 doc/sec arrival). The
    * oracle restates the horizon as plain doc_id arithmetic.
    */
  val docEpochSeconds: Long = 1735689600L // 2025-01-01T00:00:00Z

  /** File-source stream over the documents parquet. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** (doc_id, simhash, band_id, band_key) rows from a (streaming or
    * batch) documents frame — projection-only, mirroring
    * `Dedup.simhashNearDup`'s banding.
    */
  def bandedSignatures(documents: DataFrame): DataFrame = {
    documents
      .filter(col("text").isNotNull)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), simhash60Md5("toks").as("simhash"))
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), b * 15).bitwiseAND(lit(32767L))): _*))
          .as(Seq("band_id", "band_key")))
  }

  /** [[bandedSignatures]] plus the synthetic arrival timestamp — the
    * input shape of the TTL'd operator.
    */
  def bandedSignaturesWithTime(documents: DataFrame): DataFrame =
    bandedSignatures(documents)
      .withColumn("event_ts",
        timestamp_seconds(lit(docEpochSeconds) + col("doc_id")))

  /** UNBOUNDED-state reference variant of [[nearDupPairsTtl]] — kept
    * for the batch-equivalence gate (st07: with `NoTimeout`, the
    * streaming result is exactly the batch d11 closure, which is what
    * the oracle checks), NOT for production: state grows O(corpus).
    * Reach for [[nearDupPairsTtl]] unless you specifically need
    * whole-history semantics.
    *
    * Per band-bucket, compare each arriving signature against the
    * bucket's accumulated members and emit pairs within Hamming ≤ 3.
    * Within a micro-batch, members are processed in doc_id order and
    * pairs are emitted (min, max), so the emitted SET is
    * deterministic and equals the batch self-join.
    */
  def nearDupPairsUnbounded(ds: Dataset[DocSig]): Dataset[NearPair] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(d => (d.band_id, d.band_key))
      .flatMapGroupsWithState[List[(Long, Long)], NearPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), docs: Iterator[DocSig],
            state: GroupState[List[(Long, Long)]]) =>
          val sorted = docs.toSeq.sortBy(_.doc_id)
          var seen = state.getOption.getOrElse(Nil)
          val out = Seq.newBuilder[NearPair]
          sorted.foreach { d =>
            seen.foreach { case (id, sig) =>
              if (id != d.doc_id) {
                val h = java.lang.Long.bitCount(sig ^ d.simhash)
                if (h <= 3)
                  out += NearPair(
                    math.min(id, d.doc_id), math.max(id, d.doc_id), h)
              }
            }
            seen = (d.doc_id, d.simhash) :: seen
          }
          state.update(seen)
          out.result().iterator
      }
  }

  /** The PRIMARY streaming near-dup operator: band-bucket SimHash
    * pairing with BOUNDED state ([[nearDupPairsUnbounded]] is the
    * whole-history reference variant).
    * Two eviction levels keep the state store O(ingest-rate × horizon)
    * instead of O(corpus):
    *
    *  - member-level: while processing a bucket, members older than
    *    `arrival − horizon` are dropped before comparison, so a pair
    *    (a, b) is emitted iff they share a band, Hamming ≤ 3, AND
    *    b arrived within `horizon` of a — the windowed semantics a
    *    continuous-ingest deployment actually wants;
    *  - bucket-level: `EventTimeTimeout` keyed off the watermark —
    *    when the watermark passes `last arrival + horizon`, no future
    *    event can pair with any member, so the whole bucket state is
    *    removed (observable as `numRowsTotal` shrinking in
    *    StreamingQueryProgress; pinned by DocumentStreamSpec).
    *
    * Within a micro-batch, members are processed in (event_ts, doc_id)
    * order, so with the 1-doc/sec synthetic clock the emitted set is
    * deterministic and equals the batch self-join restricted to the
    * horizon.
    */
  def nearDupPairsTtl(
      ds: Dataset[DocSigT],
      horizon: java.time.Duration): Dataset[NearPair] = {
    import ds.sparkSession.implicits._
    val horizonMs = horizon.toMillis
    ds.withWatermark("event_ts", "0 seconds")
      .groupByKey(d => (d.band_id, d.band_key))
      .flatMapGroupsWithState[List[(Long, Long, Long)], NearPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), docs: Iterator[DocSigT],
            state: GroupState[List[(Long, Long, Long)]]) =>
          if (state.hasTimedOut) {
            // Watermark passed lastArrival + horizon: nothing still in
            // flight can pair with this bucket — drop it wholesale.
            state.remove()
            Iterator.empty
          } else {
            val sorted = docs.toSeq.sortBy(d => (d.event_ts.getTime, d.doc_id))
            var seen = state.getOption.getOrElse(Nil) // (doc_id, simhash, tsMs)
            val out = Seq.newBuilder[NearPair]
            sorted.foreach { d =>
              val t = d.event_ts.getTime
              seen = seen.filter(_._3 >= t - horizonMs) // expire members
              seen.foreach { case (id, sig, _) =>
                if (id != d.doc_id) {
                  val h = java.lang.Long.bitCount(sig ^ d.simhash)
                  if (h <= 3)
                    out += NearPair(
                      math.min(id, d.doc_id), math.max(id, d.doc_id), h)
                }
              }
              seen = (d.doc_id, d.simhash, t) :: seen
            }
            state.update(seen)
            state.setTimeoutTimestamp(seen.map(_._3).max + horizonMs)
            out.result().iterator
          }
      }
  }

  /** Start a (pair-emitting) stream into a memory sink (8 shuffle
    * partitions — EventStream's state-store sizing rationale), await
    * AvailableNow termination, and return the emitted table (dropped
    * from the catalog; analysis is eager, so the returned plan keeps
    * the rows alive — EventStream's drain pattern). Shared by the
    * document SimHash streams here and [[EmbeddingStream]]'s
    * binary-code admission stream.
    */
  private[streaming] def drainToTable[T](
      spark: SparkSession, pairs: Dataset[T]): DataFrame = {
    val name = "st_neardup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.withStreamShufflePartitions(spark, 8) {
      val q = pairs
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val out = spark.table(name)
    spark.catalog.dropTempView(name)
    out
  }

  /** UNBOUNDED-state reference variant of [[runStreamAdmissionTtl]]
    * (st09's batch-equivalence gate; production ingest should use the
    * TTL'd entry — this one's state grows O(corpus)).
    *
    * Runs the full continuous-ingestion ADMISSION pipeline: quality
    * gate (n_chars ≥ 100) → streaming SimHash near-dup → per-document
    * admit/reject. First-wins semantics: a document is rejected iff
    * some earlier (lower doc_id — the file stream's arrival order)
    * document sits within Hamming ≤ 3 in a shared band bucket; every
    * document enters state regardless, so rejection chains behave
    * like the batch pair closure. The stream makes the decision (the
    * emitted pairs' doc_b side IS the reject list); the final batch
    * read only renders the full gated roster with its flag — the
    * st04 pattern of emitting decisions, not payloads.
    */
  def runStreamAdmissionUnbounded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = drainToTable(spark, nearDupPairsUnbounded(
      bandedSignatures(
        readStream(spark, dir).filter(col("n_chars") >= 100)).as[DocSig]))
    val rejected = pairs
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("rej", lit(1))
    graft.Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars") >= 100)
      .select(col("doc_id"))
      .join(rejected, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("rej"), lit(0)) === 0).cast("int").as("admitted"))
      .orderBy("doc_id")
  }

  /** The PRIMARY admission entry — [[runStreamAdmissionUnbounded]]
    * with BOUNDED state: the near-dup stage is
    * the TTL'd operator, so a document is rejected iff an earlier
    * gated document within the event-time `horizon` sits at Hamming
    * ≤ 3 in a shared band bucket — dedup-against-the-recent-past, the
    * admission policy a continuous-ingest deployment can actually run
    * forever (state = O(rate × horizon), never O(corpus)). Rejected
    * docs still enter state and block later arrivals, exactly like
    * the unbounded variant.
    */
  def runStreamAdmissionTtl(
      spark: SparkSession, dir: String,
      horizonSeconds: Long = 120L): DataFrame = {
    import spark.implicits._
    val pairs = drainToTable(spark, nearDupPairsTtl(
      bandedSignaturesWithTime(
        readStream(spark, dir).filter(col("n_chars") >= 100)).as[DocSigT],
      java.time.Duration.ofSeconds(horizonSeconds)))
    val rejected = pairs
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("rej", lit(1))
    graft.Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars") >= 100)
      .select(col("doc_id"))
      .join(rejected, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("rej"), lit(0)) === 0).cast("int").as("admitted"))
      .orderBy("doc_id")
  }

  /** UNBOUNDED-state reference variant of [[runStreamNearDupTtl]]
    * (st07's batch-equivalence gate — use the TTL'd entry in
    * production). Runs the streaming near-dup end-to-end (file stream
    * → signature projection → band-bucket state → memory sink) and
    * returns the distinct pair set. A pair sharing two bands emits
    * once per band (different state buckets) — the drain dedups,
    * exactly like the batch query's DISTINCT.
    */
  def runStreamNearDupUnbounded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    drainToTable(spark,
      nearDupPairsUnbounded(bandedSignatures(readStream(spark, dir)).as[DocSig]))
      .distinct().orderBy("doc_a", "doc_b")
  }

  /** Streaming benchmark DECONTAMINATION gate — c09's fuzzy
    * contamination check moved to the ingest path, as a
    * stream-STATIC join: each arriving document's banded SimHash
    * signature (pure per-row projection) joins the static benchmark
    * side's signatures (source 'src0', broadcast — re-read per
    * micro-batch by Structured Streaming's contract, so a benchmark
    * refresh is picked up for free), and the document is rejected iff
    * it shares a band bucket with a bench doc at Hamming ≤ 3
    * (pigeonhole-exact, the d11 rule). STATELESS: the bench side is
    * static and no cross-event comparison exists, so there is no
    * state store at all — the gate is map-side at any ingest rate,
    * the cheapest possible streaming operator shape. The stream emits
    * the match DECISIONS; the final batch read renders the gated
    * roster (the st09 pattern — decisions, not payloads).
    */
  def runStreamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val bench = graft.Tables.load(spark, dir, "documents")
      .filter(col("source") === "src0")
    val benchSig = bandedSignatures(bench)
      .select(col("doc_id").as("bench_id"), col("simhash").as("bsim"),
        col("band_id"), col("band_key"))
    val sig = bandedSignatures(
      readStream(spark, dir).filter(col("source") =!= "src0"))
    val matched = sig
      .join(broadcast(benchSig), Seq("band_id", "band_key"))
      .filter(hamming64(col("simhash"), col("bsim")) <= 3)
      .select(col("doc_id"))
    val rejected = drainToTable(spark, matched)
      .distinct().withColumn("rej", lit(1))
    graft.Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull && col("source") =!= "src0")
      .select(col("doc_id"))
      .join(rejected, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("rej"), lit(0)) === 0).cast("int").as("admitted"))
      .orderBy("doc_id")
  }

  /** Streaming DSIR admission (st25): the deployed form of t23/c16 —
    * the importance model is TRAINED OFFLINE (one batch pass builds
    * the ≤4096-bucket micro-integer log-ratio table,
    * [[graft.ops.TextAnalysis.dsirRatioMicros]]) and then APPLIED on
    * the ingest stream as pure per-row arithmetic: each arriving
    * document folds its own gram array through a broadcast map
    * literal (bucket → r×10⁶ as LONG), admits iff the exact integer
    * score sum is ≥ 0 — "looks more target-like than the raw pool" —
    * and nothing is stateful, so the stream scales with rate alone
    * (no state store, no shuffle; the one-row fold keeps every gram
    * on the row it came from).
    *
    * The LONG micro-ratio is what makes this oracle-checkable: a
    * per-row sum of longs in gram order is exact and
    * order-independent, so the drained stream hash-matches the batch
    * restatement SUM(cnt·r·10⁶) bucket-wise. Map misses (a gram
    * bucket the training pool never populated) score 0 — impossible
    * here because the trained pool IS the streamed corpus, but the
    * neutral fallback is what a live deployment wants for novel
    * vocabulary.
    */
  def runStreamDsirAdmission(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis
    val docs = graft.Tables.load(spark, dir, "documents")
    // Bounded driver fetch (≤4096 rows, the t11 merge-table
    // convention): the trained model becomes a plan literal.
    val model = TextAnalysis.dsirRatioMicros(docs, "src1", 4096)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mcol = typedLit(model)
    val scored = readStream(spark, dir)
      .filter(col("text").isNotNull && col("source") =!= "src1")
      .select(col("doc_id"), tokens(col("text")).as("tl"))
      .filter(size(col("tl")) >= 1)
      .select(col("doc_id"),
        TextAnalysis.dsirGrams(col("tl")).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_feats"),
        aggregate(
          transform(col("grams"),
            g => coalesce(element_at(mcol,
              TextAnalysis.dsirBucket(g, 4096)), lit(0L))),
          lit(0L), (acc, r) => acc + r).as("score_micros"))
      .select(col("doc_id"), col("n_feats"), col("score_micros"),
        (col("score_micros") >= 0L).cast("int").as("admitted"))
    drainToTable(spark, scored).orderBy("doc_id")
  }

  /** Streaming boilerplate scrub (st30): the deployed form of t27 —
    * the hot-chunk BLOCKLIST is trained offline (one batch pass,
    * [[graft.ops.TextAnalysis.hotChunks]]: aligned 8-token chunks in
    * ≥3 distinct docs, capped at the 4096 hottest by (doc-frequency
    * DESC, chunk) — the t11 bounded-fetch convention) and applied on
    * the ingest stream as pure per-row arithmetic: each arriving doc
    * chunks its OWN token stream and drops blocklisted chunks in
    * place against the broadcast literal. Nothing is stateful and
    * nothing explodes — batch t27 explodes because the hot set must
    * be DISCOVERED from cross-document frequencies; the deployed
    * scrub only APPLIES it, so the stream scales with rate alone (no
    * state store, no shuffle, chunk arrays never become rows). Docs
    * left with zero kept chunks (short docs and fully-boilerplate
    * docs) emit nothing, matching the batch operator's empty-group
    * behavior.
    */
  def runStreamBoilerplateScrub(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis
    val hot = TextAnalysis
      .hotChunks(graft.Tables.load(spark, dir, "documents"),
        width = 8, minDocs = 3, cap = 4096)
      .collect().map(_.getString(0))
    val hcol = typedLit(hot)
    val scrubbed = readStream(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("tl"))
      .select(col("doc_id"),
        filter(TextAnalysis.alignedChunks(8),
          c => !array_contains(hcol, c)).as("kept"))
      .filter(size(col("kept")) >= 1)
      .select(col("doc_id"), size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("clean_digest"))
    drainToTable(spark, scrubbed).orderBy("doc_id")
  }

  /** Streaming classifier scoring (st31): t28's arc DEPLOYED — the
    * quality/domain classifier trains OFFLINE (one batch fit, 10 GD
    * rounds, memoized per session) and its four coefficients ride
    * the streaming plan as literals; each arriving document computes
    * its own features and score as pure per-row arithmetic (the st30
    * train-offline/apply-statelessly pattern — no state store, no
    * shuffle, scales with ingest rate alone). The oracle re-derives
    * the same fit (the shared unrolled GD chain) and scores
    * batch-wise, so the drained stream hash-matching it proves the
    * deployed scorer equals the trained model exactly.
    */
  def runStreamClassifierScoring(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.TextAnalysis
    TextAnalysis.classifierFit(
        graft.Tables.load(spark, dir, "documents"),
        "src1", iters = 10, lr = 0.5) match {
      case None => // nothing to train on — nothing to score
        Seq.empty[(Long, Double, Int)].toDF("doc_id", "score", "pred")
      case Some((_, w)) =>
        val z = TextAnalysis.classifierZ(w)
        val scored = TextAnalysis
          .classifierFeatures(readStream(spark, dir), "src1")
          .select(col("doc_id"),
            round(TextAnalysis.classifierSigmoid(z), 6).as("score"),
            (z >= 0).cast("int").as("pred"))
        drainToTable(spark, scored).orderBy("doc_id")
    }
  }

  /** The PRIMARY near-dup runner: TTL'd streaming near-dup end-to-end
    * with a 120 s horizon
    * over the 1-doc/sec synthetic clock: only pairs whose arrivals are
    * within the horizon emit, and the state store stays bounded by
    * `rate × horizon` — the constant-memory shape a continuous-ingest
    * deployment needs (batch d11 restated with
    * `doc_b − doc_a ≤ 120` is the oracle).
    */
  def runStreamNearDupTtl(
      spark: SparkSession, dir: String,
      horizonSeconds: Long = 120L): DataFrame = {
    import spark.implicits._
    drainToTable(spark,
      nearDupPairsTtl(
        bandedSignaturesWithTime(readStream(spark, dir)).as[DocSigT],
        java.time.Duration.ofSeconds(horizonSeconds)))
      .distinct().orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------------------------
  // st35: streaming dedup admission against a lake-resident
  // signature store.
  // ------------------------------------------------------------------

  /** d24's incremental dedup run from INSIDE foreachBatch (st35) —
    * the crawl front-door: each micro-batch of documents is hashed
    * ONCE, its MinHash band signatures are committed to the
    * signature STORE (parquet in the lake — storage, not the state
    * store, which is what distinguishes this from the
    * flatMapGroupsWithState admission ops st08/st09: the store
    * survives restarts, is readable by any other job, and is
    * signature-sized forever), and the batch's verdicts come from
    * the store read BACK from disk:
    *
    *   - `dup_prior`: the doc shares a (band_id, band_hash) with any
    *     PREVIOUS commit's doc — one semi-join against the store.
    *   - `dup_in_batch`: it shares a band with a smaller-id doc of
    *     the SAME batch — the d24 min-id election, linear per band.
    *   - `admitted`: neither.
    *
    * Because the feed slices documents into id-contiguous files and
    * streams them in order, "previous commit" ⟺ "smaller slice", so
    * the streaming verdicts equal a pure BATCH statement over the
    * whole corpus (slice arithmetic from the doc_id span + two
    * per-band MIN aggregations) — the DuckDB oracle, which therefore
    * proves the store round trip and the cadence split exact.
    *
    * Scale shape: per batch, one signature pass over the BATCH
    * (explode → codegen projections → min-agg), one band-keyed
    * semi-join whose right side is 8 band hashes per stored doc
    * (signature-sized, never corpus-sized), one map-side-combining
    * per-band MIN inside the batch, and one signature-sized append.
    * No state store; nothing ever re-reads earlier text.
    */
  final class SigStoreLake(spark: SparkSession, root: String) {
    private val storeDir = new java.io.File(root, "sigs")
    private val verdictDir = new java.io.File(root, "verdicts")
    storeDir.mkdirs(); verdictDir.mkdirs()
    // Commit paths keyed by the stream's batchId: a failure-retried
    // batch REWRITES its own commit and verdict directories
    // (mode=overwrite) instead of appending a duplicate — replay
    // idempotency by construction (the st28 rule). The commit
    // REGISTRY is the store directory itself (the b%05d commit dirs),
    // never driver memory: a SigStoreLake constructed over an
    // existing root sees every earlier commit, so a RESTARTED stream
    // (or any other job opening the lake) keeps rejecting known
    // duplicates — the disk is authoritative (r18 verdict fix).
    private def priorCommits(batchId: Long): Seq[String] =
      Option(storeDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.matches("b\\d{5}")
          && f.getName.stripPrefix("b").toLong < batchId)
        .map(_.getAbsolutePath).sorted.toSeq
    private val sigSchema = "doc_id BIGINT, band_id INT, band_hash STRING"

    /** One micro-batch: hash, judge against the store, append.
      * Idempotent in `batchId`.
      */
    def append(batch: DataFrame, batchId: Long): Unit = {
      val docs = batch.select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
      if (docs.isEmpty) return
      val commit = new java.io.File(storeDir, f"b$batchId%05d")
        .getAbsolutePath
      graft.ops.Dedup.minhashBands(docs)
        .write.mode("overwrite").parquet(commit)
      // Judge from the STORE's files (read back from disk), so the
      // emitted verdicts are what any later consumer would recompute.
      val mySigs = spark.read.schema(sigSchema).parquet(commit)
      val prior = priorCommits(batchId)
      val hitsPrior =
        if (prior.isEmpty)
          mySigs.select("doc_id").limit(0)
        else mySigs
          .join(spark.read.schema(sigSchema)
            .parquet(prior: _*)
            .select("band_id", "band_hash"),
            Seq("band_id", "band_hash"), "left_semi")
          .select("doc_id").distinct()
      val bsMin = mySigs.groupBy("band_id", "band_hash")
        .agg(min("doc_id").as("m"))
      val hitsBatch = mySigs
        .join(bsMin, Seq("band_id", "band_hash"))
        .filter(col("doc_id") > col("m"))
        .select("doc_id").distinct()
      mySigs.select("doc_id").distinct()
        .join(hitsPrior.withColumn("fp", lit(1)), Seq("doc_id"), "left")
        .join(hitsBatch.withColumn("fb", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"), lit(batchId).as("commit_idx"),
          coalesce(col("fp"), lit(0)).as("dup_prior"),
          coalesce(col("fb"), lit(0)).as("dup_in_batch"),
          (coalesce(col("fp"), lit(0)) === 0 &&
            coalesce(col("fb"), lit(0)) === 0)
            .cast("int").as("admitted"))
        .write.mode("overwrite")
        .parquet(new java.io.File(verdictDir, f"v$batchId%05d")
          .getAbsolutePath)
    }

    /** Every emitted verdict, read back from the lake. */
    def verdicts(): DataFrame =
      spark.read
        .schema("doc_id BIGINT, commit_idx BIGINT, dup_prior INT, " +
          "dup_in_batch INT, admitted INT")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(verdictDir.getAbsolutePath)
  }

  /** Streaming dedup admission end-to-end (st35): documents sliced
    * into 6 id-contiguous files, streamed one per trigger, each batch
    * judged against and appended to the lake-resident signature
    * store — see [[SigStoreLake]].
    */
  def runStreamSigstoreAdmission(spark: SparkSession,
      dir: String): DataFrame = {
    val base = graft.ops.SourceSinks.tmp("graft_st35")
    val input = new java.io.File(base, "input").getAbsolutePath
    val root = new java.io.File(base, "lake").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val b = docs.agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .collect()(0) // 1-row bounded fetch
    val lake = new SigStoreLake(spark, root)
    if (!b.isNullAt(0)) {
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val slices = 6
      // The stream≡batch oracle argument needs "earlier commit ⟺
      // smaller slice", and FileStreamSource orders files by
      // MODIFICATION TIME with unspecified tie-breaking — writeSlices
      // pins a strictly increasing per-slice mtime (r18 ADVICE fix).
      EventStream.writeSlices(docs.select(col("doc_id"), col("text"),
        expr(s"CAST(((doc_id - ${mn}L) * $slices) DIV " +
          s"${mx - mn + 1}L AS INT)").as("slice")), slices, input)
      EventStream.withStreamShufflePartitions(spark, 8) {
        val q = spark.readStream
          .schema("doc_id BIGINT, text STRING")
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.parquet")
          .option("maxFilesPerTrigger", "1")
          .parquet(input)
          .writeStream
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
              lake.append(batch.toDF(), bid)
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
    lake.verdicts()
      .select("doc_id", "dup_prior", "dup_in_batch", "admitted")
      .orderBy("doc_id")
  }
}
