package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

class DocumentStreamSpec extends SparkSpec {

  import DocumentStream._

  test("streaming near-dup equals the batch d11 pair set on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val streamed = runStreamNearDupUnbounded(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = graft.ops.Dedup.simhashNearDup(
      graft.Tables.load(spark, dir, "documents"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static decontamination gate equals its batch statement") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val got = runStreamDecontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // batch restatement from the same building blocks
    val d = graft.Tables.load(spark, dir, "documents")
    val bench = bandedSignatures(d.filter(col("source") === "src0"))
      .select(col("simhash").as("bsim"), col("band_id"), col("band_key"))
    val corp = bandedSignatures(d.filter(col("source") =!= "src0"))
    val rej = corp.join(bench, Seq("band_id", "band_key"))
      .filter(graft.functions.TextFunctions
        .hamming64(col("simhash"), col("bsim")) <= 3)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty)
    got.foreach { case (id, adm) =>
      assert(adm == (if (rej(id)) 0 else 1), s"doc $id") }
    // the gate actually fires both ways on the testdata
    assert(got.values.exists(_ == 0) && got.values.exists(_ == 1))
  }

  test("bucket state accumulates across micro-batches; blocking respected") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[DocSig]
    val q = nearDupPairsUnbounded(input.toDS())
      .writeStream
      .format("memory")
      .queryName("neardup_test")
      .outputMode(OutputMode.Append())
      .start()

    // Batch 1: docs 1,2 share a bucket at Hamming 1; doc 9 is in the
    // same bucket but Hamming 10 (candidate, fails verify); doc 5 has
    // an identical signature to doc 1 but lives in ANOTHER bucket —
    // blocking must keep them apart.
    input.addData(
      DocSig(1, 0L, 0, 5), DocSig(2, 1L, 0, 5),
      DocSig(9, 0x3FFL, 0, 5), DocSig(5, 0L, 1, 7))
    q.processAllAvailable()
    val b1 = spark.table("neardup_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(b1 == Set((1L, 2L, 1)))

    // Batch 2: doc 3 arrives later and must still pair against the
    // batch-1 state members (1 and 2), not just its own micro-batch.
    input.addData(DocSig(3, 3L, 0, 5))
    q.processAllAvailable()
    val b2 = spark.table("neardup_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(b2 == Set((1L, 2L, 1), (1L, 3L, 2), (2L, 3L, 1)))
    q.stop()
    spark.catalog.dropTempView("neardup_test")
  }

  test("TTL near-dup equals batch d11 restricted to the horizon on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val streamed = runStreamNearDupTtl(spark, dir, horizonSeconds = 120L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = graft.ops.Dedup.simhashNearDup(
      graft.Tables.load(spark, dir, "documents"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(p => p._2 - p._1 <= 120L).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // The horizon must actually bite: the unrestricted batch set is
    // strictly larger at this SF, so st11 isn't st07 re-labeled.
    assert(graft.ops.Dedup.simhashNearDup(
      graft.Tables.load(spark, dir, "documents"), maxHamming = 3)
      .count() > streamed.size)
  }

  test("TTL admission equals batch reject-set restricted to the horizon") {
    val dir = "/root/testdata/sf0.001"
    val got = runStreamAdmissionTtl(spark, dir, horizonSeconds = 120L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // Batch restatement: gated roster; rejected iff an earlier gated
    // doc within 120 ids (the synthetic 1-doc/sec clock) pairs at
    // Hamming <= 3 in a shared band.
    val gated = graft.Tables.load(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull &&
        org.apache.spark.sql.functions.col("n_chars") >= 100)
    val rejected = graft.ops.Dedup.simhashNearDup(gated)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._2 - p._1 <= 120L).map(_._2).toSet
    val want = gated.select("doc_id").collect().map(_.getLong(0))
      .map(id => id -> (if (rejected(id)) 0 else 1)).toMap
    assert(got == want)
    // The horizon must bite: the unbounded admission rejects MORE.
    val unboundedRejects = graft.ops.Dedup.simhashNearDup(gated)
      .collect().map(_.getLong(1)).toSet
    assert(rejected.size < unboundedRejects.size)
  }

  test("TTL state is bounded: members expire, idle buckets are removed") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Offset above epoch: the initial watermark is 1970-01-01 and the
    // operator's late-row filter is INCLUSIVE, so a row at exactly
    // t=0 would be dropped before the state function ever sees it.
    def ts(sec: Long) = new java.sql.Timestamp((sec + 10) * 1000L)
    val input = MemoryStream[DocSigT]
    val q = nearDupPairsTtl(input.toDS(), java.time.Duration.ofSeconds(100))
      .writeStream
      .format("memory")
      .queryName("neardup_ttl_test")
      .outputMode(OutputMode.Append())
      .start()
    def stateRows: Long = q.recentProgress
      .filter(_.stateOperators.nonEmpty)
      .lastOption.map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)

    // Batch 1: identical signatures in bucket (0,5), 1 s apart → pair.
    input.addData(DocSigT(1, 0L, 0, 5, ts(0)), DocSigT(2, 0L, 0, 5, ts(1)))
    q.processAllAvailable()
    assert(spark.table("neardup_ttl_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      Set((1L, 2L, 0)))

    // Batch 2: doc 3, SAME bucket, SAME signature, but 500 s later —
    // members 1 and 2 are past the 100 s horizon, so NO pair emits:
    // member-level eviction is live, not just bucket-level.
    input.addData(DocSigT(3, 0L, 0, 5, ts(500)))
    q.processAllAvailable()
    assert(spark.table("neardup_ttl_test").count() == 1)

    // Batches 3+4 advance the watermark past bucket (0,5)'s
    // lastArrival + horizon = 600 s: the whole bucket is dropped from
    // the state store. State rows stay bounded (2 live buckets) even
    // though 3 distinct buckets existed over the stream's life —
    // under NoTimeout this would be 3 and growing.
    input.addData(DocSigT(4, 0L, 1, 7, ts(1000)))
    q.processAllAvailable()
    val afterB3 = stateRows
    input.addData(DocSigT(5, 0L, 2, 9, ts(2000)))
    q.processAllAvailable()
    val afterB4 = stateRows
    // (A trailing no-data cleanup batch may fire timeouts one step
    // early, so assert the bound, not the exact schedule.)
    assert(afterB3 >= 1L && afterB3 <= 2L,
      s"bucket (0,5) must expire by watermark, got $afterB3")
    assert(afterB4 >= 1L && afterB4 <= 2L,
      s"idle buckets must be removed, got $afterB4")
    q.stop()
    spark.catalog.dropTempView("neardup_ttl_test")
  }

  test("st25: streamed DSIR scores reproduce t23's weights exactly") {
    // The stream folds LONG micro-ratios per row; t23 divides the
    // exact decimal sum by the feature count. Same integers underneath:
    // round((score_micros/1e6)/n_feats, 6) must equal t23's
    // dsir_logratio for EVERY document, and admitted must be its sign.
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.ops.StreamingOps.all
      .find(_.name == "st25_stream_dsir_admission").get
      .run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
      .toMap
    val batch = graft.SparkEntry.queries("t23_dsir_weights")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (id, (n, micros, adm)) =>
      val (bn, w) = batch(id)
      assert(n === bn, s"doc $id feature count")
      val mean = BigDecimal(micros.toDouble / 1e6 / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(mean === w, s"doc $id: stream mean $mean vs batch $w")
      assert(adm === (if (micros >= 0L) 1 else 0), s"doc $id verdict")
    }
  }

  test("st30: the streamed scrub reaches batch t27's fixpoint " +
    "row for row") {
    // Batch t27 DISCOVERS the hot set by exploding and anti-joining;
    // st30 APPLIES the same set per row with no explode and no
    // shuffle. Same corpus, same (doc_id, n_kept, clean_digest)
    // rows — the 4096 blocklist cap is inert at this SF, so any
    // divergence is a real semantics bug in one of the two shapes.
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.ops.StreamingOps.all
      .find(_.name == "st30_stream_boilerplate_scrub").get
      .run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val batch = graft.SparkEntry.queries("t27_boilerplate_scrub")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(streamed === batch,
      s"stream/batch divergence: ${streamed.size} vs ${batch.size} docs")
    // Non-vacuous: the corpus must actually contain boilerplate —
    // fewer chunks survive than exist.
    import org.apache.spark.sql.functions.{col, expr}
    val total = graft.Tables.load(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(graft.functions.TextFunctions.tokens(col("text")).as("tl"))
      .agg(expr("sum(size(tl) DIV 8)")).collect()(0).getLong(0)
    val keptTotal = streamed.values.map(_._1).sum
    assert(keptTotal < total,
      s"scrub vacuous at this SF: kept $keptTotal of $total chunks")
  }

  test("st35 signature-store admission: a later batch's clone is " +
      "flagged against the STORE, within-batch clones elect the min " +
      "id, and a replayed batch leaves the verdicts bit-identical") {
    val sparkS = spark
    import sparkS.implicits._
    val root = tempDir("st35_spec_")
      .resolve("lake").toString
    val lake = new DocumentStream.SigStoreLake(spark, root)
    def verdictRows(): Seq[(Long, Long, Int, Int, Int)] =
      lake.verdicts().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getInt(3), r.getInt(4)))
        .sortBy(_._1).toSeq
    // Batch 0: two fresh docs — both admitted.
    lake.append(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"))
      .toDF("doc_id", "text"), batchId = 0L)
    assert(verdictRows() == Seq(
      (1L, 0L, 0, 0, 1), (2L, 0L, 0, 0, 1)), verdictRows())
    // Batch 1: 3 clones batch-0's doc 1 (dup_prior, via the store
    // read back from disk); 4 is fresh; 5 clones 4 within the batch
    // (min-id election: 4 admitted, 5 flagged).
    val b1 = Seq(
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "totally fresh unique content nothing else"),
      (5L, "totally fresh unique content nothing else"))
      .toDF("doc_id", "text")
    lake.append(b1, batchId = 1L)
    val after = verdictRows()
    assert(after == Seq(
      (1L, 0L, 0, 0, 1), (2L, 0L, 0, 0, 1),
      (3L, 1L, 1, 0, 0), (4L, 1L, 0, 0, 1), (5L, 1L, 0, 1, 0)), after)
    // Replay of batch 1 (failure-retry): commits are keyed by
    // batchId and rewritten in place — verdicts cannot move and the
    // store gains no duplicate signatures.
    lake.append(b1, batchId = 1L)
    assert(verdictRows() == after, "replay moved the verdicts")
    assert(new java.io.File(root, "sigs").listFiles().length == 2,
      "replay appended a duplicate commit")
    // Restart (r18 verdict fix): a FRESH SigStoreLake over the same
    // root derives the commit registry from the store DIRECTORY, not
    // driver memory — a post-restart batch cloning batch-0's doc 1 is
    // still rejected against the prior commits.
    val lake2 = new DocumentStream.SigStoreLake(spark, root)
    lake2.append(Seq(
      (6L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text"), batchId = 2L)
    assert(verdictRows() == after :+ ((6L, 2L, 1, 0, 0)),
      "restarted lake forgot prior commits: " + verdictRows())
    // End-to-end on testdata: every doc judged exactly once, the
    // admitted/flagged split covers the corpus, and at least one
    // verdict of each kind exists at this SF (the documents table
    // carries exact clones).
    val dir = "/root/testdata/sf0.001"
    val got = DocumentStream.runStreamSigstoreAdmission(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val nDocs = graft.Tables.load(spark, dir, "documents")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .count()
    assert(got.length == nDocs, s"${got.length} verdicts for $nDocs docs")
    assert(got.forall { case (_, p, b, a) =>
      (a == 1) == (p == 0 && b == 0) }, "admitted flag inconsistent")
    assert(got.exists(_._4 == 1), "nothing admitted")
  }
}
