package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

class EmbeddingStreamSpec extends SparkSpec {

  import EmbeddingStream._

  test("st14 quantized admission equals the batch band+Hamming+cosine restatement") {
    val dir = "/root/testdata/sf0.001"
    val got = runStreamAdmissionQuantized(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

    // Batch restatement from the SAME projections: banded codes on the
    // batch frame, band-bucket self-join within the horizon, Hamming
    // gate, exact-cosine verify — what the oracle SQL states, derived
    // independently through the batch planner.
    val codes = bandedCodes(graft.Tables.load(spark, dir, "embeddings"))
    val pairs = codes.as("a").join(codes.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.vec_id") < col("b.vec_id") &&
          col("b.vec_id") - col("a.vec_id") <= 120)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (bit_count(col("a.w0").bitwiseXOR(col("b.w0"))) +
          bit_count(col("a.w1").bitwiseXOR(col("b.w1")))).as("ham"))
      .filter(col("ham") <= 31)
      .select("vec_a", "vec_b").distinct()
    val dot = graft.functions.VectorExpressions.dot _
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val rejected = pairs
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), "vec_b")
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) > 0.25)
      .select("vec_b").distinct().collect().map(_.getLong(0)).toSet

    val want = graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
      .map(id => id -> (if (rejected(id)) 0 else 1)).toMap
    assert(got == want)
    // Non-vacuity: the gate must actually reject something, and admit
    // most of the corpus.
    assert(rejected.nonEmpty, "no rejections — the gate is vacuous")
    assert(rejected.size < got.size / 2, s"${rejected.size} rejections")
  }

  test("st14 TTL state is bounded: members expire, idle buckets are removed") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Offset above epoch (the initial watermark is 1970 and the late
    // filter is inclusive — the DocumentStreamSpec rule).
    def ts(sec: Long) = new java.sql.Timestamp((sec + 10) * 1000L)
    val input = MemoryStream[VecSigT]
    val q = candPairsTtl(input.toDS(),
        java.time.Duration.ofSeconds(100), maxHamming = 31)
      .writeStream.format("memory").queryName("st14_ttl_test")
      .outputMode(OutputMode.Append()).start()
    def stateRows: Long = q.recentProgress
      .filter(_.stateOperators.nonEmpty)
      .lastOption.map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)

    // Batch 1: identical codes in bucket (0, 5), 1 s apart → Hamming 0
    // candidate. A third member 40 bits away fails the gate.
    input.addData(
      VecSigT(1, 0L, 0L, 0, 5, ts(0)),
      VecSigT(2, 0L, 0L, 0, 5, ts(1)),
      VecSigT(9, 0xFFFFFL, 0xFFFFFL, 0, 5, ts(2)))
    q.processAllAvailable()
    assert(spark.table("st14_ttl_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      Set((1L, 2L, 0)))

    // Batch 2: same code, same bucket, 500 s later — members are past
    // the horizon, no pair emits (member-level eviction is live).
    input.addData(VecSigT(3, 0L, 0L, 0, 5, ts(500)))
    q.processAllAvailable()
    assert(spark.table("st14_ttl_test").count() == 1)

    // Batches 3+4: advance the watermark past bucket (0,5)'s last
    // arrival + horizon — whole buckets leave the state store, so
    // live state stays bounded despite 3 lifetime buckets. (A
    // trailing no-data cleanup batch may fire timeouts one step
    // early — the DocumentStreamSpec rule — so assert the bound, not
    // the exact schedule.)
    input.addData(VecSigT(4, 0L, 0L, 1, 7, ts(1000)))
    q.processAllAvailable()
    val afterB3 = stateRows
    input.addData(VecSigT(5, 0L, 0L, 2, 9, ts(2000)))
    q.processAllAvailable()
    val afterB4 = stateRows
    assert(afterB3 >= 1L && afterB3 <= 2L,
      s"bucket (0,5) must expire by watermark, got $afterB3")
    assert(afterB4 >= 1L && afterB4 <= 2L,
      s"idle buckets must be removed, got $afterB4")
    q.stop()
    spark.catalog.dropTempView("st14_ttl_test")
  }

  test("st22 maintenance state is one entry per ever-seen key: " +
      "latest-wins (order-independent), deletes tombstone, " +
      "out-of-grid upserts saturate") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Frozen artifacts: two unit-axis cells, grid [-2, 2] per dim.
    val cents = Array(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0))
    val los = Array(-2.0, -2.0)
    val his = Array(2.0, 2.0)
    val input = MemoryStream[VecUpsert]
    val q = maintainIndex(input.toDS(), cents, los, his)
      .writeStream.format("memory").queryName("st22_test")
      .outputMode(OutputMode.Update()).start()
    def stateRows: Long = q.recentProgress
      .filter(_.stateOperators.nonEmpty)
      .lastOption.map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)

    // Batch 1: two plain upserts land in their nearest cells.
    input.addData(
      VecUpsert(100, 1, 0, Seq(1.0, 0.1)),
      VecUpsert(200, 1, 0, Seq(0.1, 1.0)))
    q.processAllAvailable()
    // Batch 2: 100 re-upserts a MODIFIED vector (moves cell); 200 is
    // deleted; 300 upserts OUT of the grid (must saturate to 255);
    // 400's two events arrive us-DESCENDING in one batch — the state
    // update must be order-independent, us=2 wins.
    input.addData(
      VecUpsert(100, 2, 0, Seq(-1.0, -0.1)),
      VecUpsert(200, 2, 1, Seq()),
      VecUpsert(300, 1, 0, Seq(3.0, 0.0)),
      VecUpsert(400, 2, 0, Seq(0.0, 1.5)),
      VecUpsert(400, 1, 0, Seq(1.5, 0.0)))
    q.processAllAvailable()
    // state = ONE row per ever-seen key (tombstones included) — the
    // log-compaction bound, independent of 7 lifetime events
    assert(stateRows == 4L, s"state rows: $stateRows")
    q.stop()
    val out = spark.table("st22_test")
    spark.catalog.dropTempView("st22_test")
    val fin = out.collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getInt(2), r.getInt(3), r.getSeq[Int](4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
    // 100: re-upsert won — cell 1 (cos with (0,1) less negative than
    // with (1,0)) and the negated codes: (-1+2)*63.75+0.5 → 64,
    // (-0.1+2)*63.75+0.5 → 121
    assert(fin(100L) == ((2L, 0, 1, Seq(64, 121))), fin(100L))
    // 200: tombstoned, not dropped
    assert(fin(200L)._2 == 1, fin(200L))
    // 300: out-of-grid coordinate saturates to 255, in-grid encodes
    // normally ((0+2)*63.75+0.5 → 128)
    assert(fin(300L) == ((1L, 0, 0, Seq(255, 128))), fin(300L))
    // 400: us=2 (cell 1) beat the later-arriving us=1 event
    assert(fin(400L)._3 == 1, fin(400L))
  }

  test("st27 lifecycle serves exactly st22's in-memory result — the " +
      "persistence round trip is lossless for search") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSeq
    val inMem = rows(EmbeddingStream.runIndexMaintenance(spark, dir))
    val served = rows(EmbeddingStream.runIndexLifecycle(spark, dir))
    assert(served == inMem && served.nonEmpty)
  }
  test("st29 drift monitor: event accounting matches the CDC feed's " +
      "definition and ppm arithmetic is integer-exact") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val out = EmbeddingStream.runDriftMonitor(spark, dir).collect()
    assert(out.nonEmpty)
    val e = graft.Tables.load(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull)
    val n = e.count()
    val n7 = e.filter(col("vec_id") % 7 === 0).count()
    // every upsert counted once: us=1 for all, us=2 for every 7th;
    // deletes carry no vector and never reach the monitor
    assert(out.map(_.getAs[Long]("n_events")).sum == n + n7)
    out.foreach { r =>
      val sat = r.getAs[Long]("sat_coords")
      val nc = r.getAs[Long]("n_coords")
      assert(r.getAs[Long]("sat_ppm") == 1000000L * sat / nc, r)
    }
  }

}
