package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.ops.{Graph, Pipeline, Similarity, SourceSinks, TextAnalysis}

/** [[SessionMemo]] and the ten memos built on it: a table rewritten
  * mid-session is never served from an old build, same-key callers
  * build once, replaced checkpoints are freed and stopped sessions'
  * entries are dropped.
  */
class SessionMemoSpec extends SparkSpec {

  /** A writable copy of the sf0.001 tables (the testdata is read-only),
    * one per test so no test sees another's rewrite.
    */
  private def copyOfTestdata(): String = {
    val d = tempDir("graft_memo")
    Files.list(Paths.get("/root/testdata/sf0.001")).iterator().asScala
      .foreach(p => Files.copy(p, d.resolve(p.getFileName)))
    d.toString
  }

  /** Overwrites table `name` of `dir` IN PLACE — the same file path —
    * with `f` of its current rows.
    */
  private def rewrite(dir: String, name: String)(
      f: DataFrame => DataFrame): Unit = {
    val target = Paths.get(Tables.path(dir, name))
    val staging = Paths.get(dir, s"$name.staging")
    f(spark.read.parquet(target.toString)).coalesce(1)
      .write.parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    SourceSinks.deleteRecursively(staging.toFile)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Runs `run` on a fresh copy, rewrites `table` with `f`, and checks
    * that the same session's next run equals a new session's.
    */
  private def freshAfterRewrite(table: String, f: DataFrame => DataFrame)(
      run: (SparkSession, String) => Seq[String]): Unit = {
    val dir = copyOfTestdata()
    val before = run(spark, dir)
    rewrite(dir, table)(f)
    val after = run(spark, dir)
    assert(after != before, "the rewrite must change the result")
    assert(after == run(spark.newSession(), dir))
  }

  private val evenDocs: DataFrame => DataFrame =
    _.filter(col("doc_id") % 2 === 0)

  test("Tables.load sees a column added mid-session") {
    freshAfterRewrite("region", _.withColumn("r_extra", lit(1))) { (s, dir) =>
      val df = Tables.load(s, dir, "region")
      df.columns.mkString(",") +: rows(df)
    }
  }

  test("Graph.datedTradePairsCached rebuilds after lineitem is rewritten") {
    freshAfterRewrite("lineitem", _.filter(col("l_orderkey") % 2 === 0)) {
      (s, dir) => rows(Graph.datedTradePairsCached(s, dir))
    }
  }

  test("Pipeline.admissionGate rebuilds after documents is rewritten") {
    freshAfterRewrite("documents", evenDocs) { (s, dir) =>
      rows(Pipeline.admissionGate(s, dir))
    }
  }

  test("m05's decoded frame rebuilds after documents is rewritten") {
    freshAfterRewrite("documents", evenDocs) { (s, dir) =>
      rows(SparkEntry.queries("m05_feature_neardup")(s, dir))
    }
  }

  test("TextAnalysis.classifierFit refits after documents is rewritten") {
    freshAfterRewrite("documents", evenDocs) { (s, dir) =>
      TextAnalysis.classifierFit(Tables.load(s, dir, "documents"),
        "src1", iters = 10, lr = 0.5).toSeq.flatMap(_._2.map(_.toString))
    }
  }

  test("Similarity's five index builders rebuild after embeddings is rewritten") {
    freshAfterRewrite("embeddings", _.filter(col("vec_id") % 2 === 0)) {
      (s, dir) =>
        def e = Similarity.emb(s, dir)
        Seq(
          Similarity.pqTrainShared(s, dir, e)._2,
          Similarity.ivfPqTrainShared(s, dir, e)._4,
          Similarity.sq8TrainShared(s, dir, e)._2,
          Similarity.ivfSq8TrainShared(s, dir, e)._2,
          s.read.parquet(Similarity.persistIndex(s, dir) + "/codes")
        ).zipWithIndex.flatMap { case (df, i) => rows(df).map(r => s"$i $r") }
    }
  }

  test("two threads asking for one key run the build once; " +
      "distinct keys build concurrently") {
    val memo = new SessionMemo[String, Int]
    val builds = new AtomicInteger
    val results = new ConcurrentLinkedQueue[Int]
    val errors = new ConcurrentLinkedQueue[Throwable]
    def inThreads(keys: Seq[String])(build: => Int): Unit = {
      val start = new CountDownLatch(1)
      val threads = keys.map(k => new Thread(() =>
        try { start.await(); results.add(memo(spark, k, Nil)(build)) }
        catch { case t: Throwable => errors.add(t) }))
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join(60000))
    }
    inThreads(Seq("k", "k")) {
      builds.incrementAndGet()
      Thread.sleep(300)
      7
    }
    assert(builds.get == 1)
    assert(results.asScala.toSeq == Seq(7, 7))
    // Under a memo-wide lock the first build would wait out the
    // barrier alone.
    val barrier = new CyclicBarrier(2)
    inThreads(Seq("a", "b")) { barrier.await(20, TimeUnit.SECONDS); 1 }
    assert(errors.isEmpty, errors.asScala.mkString("\n"))
  }

  test("a replaced checkpoint's RDD leaves the persistent RDDs") {
    val dir = copyOfTestdata()
    def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.id
    }
    def persistent = spark.sparkContext.getPersistentRDDs.keySet
    val first = rddId(Graph.datedTradePairsCached(spark, dir))
    assert(persistent.contains(first))
    assert(rddId(Graph.datedTradePairsCached(spark, dir)) == first)
    rewrite(dir, "orders")(_.filter(col("o_orderkey") % 2 === 0))
    val second = rddId(Graph.datedTradePairsCached(spark, dir))
    assert(second != first)
    assert(!persistent.contains(first))
    assert(persistent.contains(second))
  }

  test("the entries of a stopped session are dropped") {
    // Stopping a session stops the JVM's one SparkContext, which every
    // spec shares, so the scenario runs in a JVM of its own.
    val out = tempDir("graft_memo_stopped").resolve("child.log")
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvmArgs ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        SessionMemoStoppedSession.getClass.getName.stripSuffix("$"))
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(out.toFile).start()
    try {
      assert(p.waitFor(300, TimeUnit.SECONDS), "child JVM timed out")
      val log = new String(Files.readAllBytes(out))
      assert(p.exitValue == 0, log)
      assert(log.linesIterator.contains("entries before=2 after=1"), log)
    } finally p.destroyForcibly()
  }
}

/** The stopped-session scenario of [[SessionMemoSpec]]: one entry each
  * for two sessions of one context, then, after that context stops,
  * one access from a session of a new context. Prints the entry counts.
  */
object SessionMemoStoppedSession {
  def main(args: Array[String]): Unit = {
    val memo = new SessionMemo[String, Int]
    val first = GraftSession.builder("local[1]").getOrCreate()
    memo(first, "k", Nil)(1)
    memo(first.newSession(), "k", Nil)(2)
    val before = memo.size
    first.stop()
    val second = GraftSession.builder("local[1]").getOrCreate()
    memo(second, "k", Nil)(3)
    println(s"entries before=$before after=${memo.size}")
    second.stop()
  }
}
