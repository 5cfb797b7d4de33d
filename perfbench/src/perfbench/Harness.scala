package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.etl.DiscogsReleases
import graft.ops.Q

/** The benchmark's JVM side. Runs one workload in one JVM, closed loop
  * with one client, and writes the raw measurements as JSON; `run.py`
  * turns them into metrics and checks the outputs.
  *
  * Arguments are `key=value` pairs: workload, data (star-schema dir),
  * xml and warm_xml (releases dumps), work (scratch dir), out (result
  * file), seconds, trace (0|1), cpus, seed, setups.
  */
object Harness {

  /** The queries of the `queries` workload, by module: a fixed slice
    * of the relational and streaming modules chosen to cover their
    * operator kinds while one pass stays a few seconds long.
    */
  val querySlice: Seq[(String, Seq[String])] = Seq(
    "Relational" -> Seq("q01_pricing_summary", "q02_filter_pushdown",
      "q05_nation_revenue", "q09_topk_per_customer", "q13_set_ops"),
    "Relational2" -> Seq("q25_asof_join", "q27_approx_distinct"),
    "StreamingOps" -> Seq("st05_stream_running_counts",
      "st06_stream_static_join", "st21_stream_cdc_upsert",
      "st28_stream_cdc_lake_merge"))

  /** Set-up's warm-up query: one small scan and filter. */
  val warmupQuery: (String, String) = "Relational" -> "q02_filter_pushdown"

  private val modules: Map[String, Seq[Q]] = Map(
    "Relational" -> graft.ops.Relational.all,
    "Relational2" -> graft.ops.Relational2.all,
    "StreamingOps" -> graft.ops.StreamingOps.all)

  final case class Op(name: String, module: String, seconds: Double,
      buildS: Double, sinkS: Double, ok: Boolean, error: String)
  final case class Pass(wallS: Double, ops: Seq[Op], traced: Boolean, heapMb: Double,
      layers: Map[String, Double])

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def errorText(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}".take(300)

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap occupancy right after a full collection, in MiB. Collects
    * until the occupancy stops falling: each collection lets Spark's
    * ContextCleaner release the broadcasts and shuffles of finished
    * queries, which the next one frees.
    */
  private def heapAfterGcMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = Double.MaxValue
    var cur = collect()
    var rounds = 0
    while (prev - cur > 1.0 && rounds < 5) {
      Thread.sleep(200)
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  /** The session `graft.Bench` uses, with scratch and warehouse dirs
    * kept under the benchmark's work dir.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.sizeOfNull", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One workload: what set-up warms, what one pass runs. */
  sealed trait Workload {
    def warmup(spark: SparkSession): Unit
    def pass(spark: SparkSession, rng: scala.util.Random, spans: Spans): Seq[Op]
  }

  private def query(module: String, name: String): Q =
    modules(module).find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no query $name in $module"))

  final class Queries(conf: Map[String, String]) extends Workload {
    private val data = conf("data")
    private val queries: Seq[(String, Q)] = querySlice.flatMap { case (module, names) =>
      names.map(n => module -> query(module, n))
    }

    def warmup(spark: SparkSession): Unit =
      noop(query(warmupQuery._1, warmupQuery._2).run(spark, data))

    def runOne(spark: SparkSession, module: String, q: Q, spans: Spans,
        sink: DataFrame => Unit): Op = {
      val t0 = System.nanoTime()
      var built = 0.0
      try {
        spans("query", q.name, q.name) {
          val df = spans("build", q.name)(q.run(spark, data))
          built = secs(t0)
          spans("sink", q.name)(sink(df))
        }
        val total = secs(t0)
        Op(q.name, module, total, built, total - built, ok = true, "")
      } catch {
        case t: Throwable => Op(q.name, module, secs(t0), built, 0, ok = false, errorText(t))
      }
    }

    def pass(spark: SparkSession, rng: scala.util.Random, spans: Spans): Seq[Op] =
      spans("pass", "pass") {
        rng.shuffle(queries).map { case (m, q) => runOne(spark, m, q, spans, noop) }
      }

    /** One execution of every query with its result written as parquet
      * under `dir`, for the comparison with the DuckDB oracle.
      */
    def check(spark: SparkSession, rng: scala.util.Random, dir: String): Seq[Op] = {
      val oracle = queries.map { case (_, q) =>
        q.name -> q.sql.map(_.trim).getOrElse("")
      }
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(dir, "oracle_sql.json"),
        Json(Obj(oracle: _*)).getBytes(StandardCharsets.UTF_8))
      rng.shuffle(queries).map { case (m, q) =>
        runOne(spark, m, q, new Spans,
          df => df.write.mode("overwrite").parquet(s"$dir/${q.name}"))
      }
    }
  }

  final class Etl(conf: Map[String, String]) extends Workload {
    private val xml = conf("xml")
    private val outRoot = conf("work") + "/etl_out"
    private var n = 0

    private def nextOut(): String = { n += 1; f"$outRoot/$n%04d" }

    /** Parquet bytes written by the latest conversion. */
    def lastOutBytes: Long =
      Option(new File(f"$outRoot/$n%04d").listFiles).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum

    def warmup(spark: SparkSession): Unit =
      DiscogsReleases.run(spark, conf("warm_xml"), conf("work") + "/etl_warm")

    private def timed(name: String, spans: Spans)(body: => Unit): Op = {
      val t0 = System.nanoTime()
      try { spans("etl", name, name)(body); Op(name, "etl", secs(t0), 0, 0, ok = true, "") }
      catch { case t: Throwable => Op(name, "etl", secs(t0), 0, 0, ok = false, errorText(t)) }
    }

    def pass(spark: SparkSession, rng: scala.util.Random, spans: Spans): Seq[Op] =
      spans("pass", "pass") {
        Seq(timed("convert", spans)(DiscogsReleases.run(spark, xml, nextOut())))
      }

    /** The layers below one conversion, each timed as its own call:
      * the gunzip and line split floor, the XML parse into the declared
      * schema, and parse plus projection. The traced run calls them
      * outside the window its tracer deltas cover, so that those deltas
      * hold the work of one conversion only.
      */
    def probes(spark: SparkSession, spans: Spans): Seq[Op] =
      spans("probes", "probes") {
        Seq(
          timed("gunzip_split", spans)(spark.read.textFile(xml).count()),
          timed("read", spans)(noop(DiscogsReleases.read(spark, xml))),
          timed("read_transform", spans)(
            noop(DiscogsReleases.transformReleases(DiscogsReleases.read(spark, xml)))))
      }
  }

  /** Passes until the next one would end more than half a pass after
    * `seconds`, but at least three, so that the per-operation medians
    * that make up `pass_s` (and the traced figures) outvote one slow pass.
    */
  private def window(seconds: Double)(pass: => Pass): Seq[Pass] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = ArrayBuffer[Pass]()
    val took = ArrayBuffer[Double]()
    do { val t0 = System.nanoTime(); out += pass; took += secs(t0) }
    while (out.size < 3 || System.nanoTime() + median(took.toSeq) * 0.5e9 <= deadline)
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = conf("work")
    val cpus = conf("cpus").toInt
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val rng = new scala.util.Random(conf("seed").toLong)
    val loadStart = loadAvg()
    val workload: Workload = conf("workload") match {
      case "etl_releases" => new Etl(conf)
      case "queries" => new Queries(conf)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Set-up, several times: session, engine, warm-up.
    var spark: SparkSession = null
    val setups = (1 to conf("setups").toInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      new graft.Engine(spark, conf("data"))
      workload.warmup(spark)
      secs(t0)
    }

    // One untimed execution of every operation, its output kept for
    // the correctness check; it also warms the JIT for the timed passes.
    val check = workload match {
      case q: Queries => q.check(spark, rng, s"$work/check")
      case e: Etl => e.pass(spark, rng, new Spans)
    }

    def onePass(spans: Spans, traced: Boolean): Pass = {
      val t0 = System.nanoTime()
      val ops = workload.pass(spark, rng, spans)
      Pass(secs(t0), ops, traced, 0, Map.empty)
    }
    // Measured after the pass and outside the tracer's window, so that
    // the forced collections add nothing to the traced GC time.
    def withHeap(p: Pass): Pass = p.copy(heapMb = heapAfterGcMb())

    val loadBefore = loadAvg()
    val untraced = window(if (traced) seconds / 2 else seconds)(
      withHeap(onePass(new Spans, traced = false)))
    val (tracedPasses, layerReport, spansOut) =
      if (!traced) (Seq.empty[Pass], Obj(), Seq.empty[Span])
      else {
        val tables = timeTables(spark, conf("data"))
        val tracer = new Tracer(spark)
        val passes = window(seconds / 2) {
          val probes = workload match {
            case e: Etl => e.probes(spark, tracer)
            case _ => Seq.empty[Op]
          }
          val before = tracer.snapshot()
          val p = onePass(tracer, traced = true)
          val after = tracer.snapshot()
          withHeap(p.copy(ops = probes ++ p.ops,
            layers = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } ++
              Map("start_ms" -> before("now_ms"), "end_ms" -> after("now_ms"),
                "batches_end" -> after("batches"))))
        }
        tracer.close()
        val etlBytes = workload match {
          case e: Etl => (new File(conf("xml")).length, e.lastOutBytes)
          case _ => (0L, 0L)
        }
        (passes, Layers.report(tracer, passes, untraced, cpus, tables, etlBytes),
          tracer.allSpans)
      }
    val loadAfter = loadAvg()

    def opJson(o: Op) = Obj("name" -> o.name, "module" -> o.module, "s" -> o.seconds,
      "build_s" -> o.buildS, "sink_s" -> o.sinkS, "ok" -> o.ok, "error" -> o.error)
    def passJson(p: Pass) = Obj("wall_s" -> p.wallS, "traced" -> p.traced,
      "heap_after_gc_mb" -> p.heapMb, "ops" -> p.ops.map(opJson))
    val env = Obj(
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}",
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "cores_used" -> spark.sparkContext.defaultParallelism,
      "session_conf" -> Obj(spark.conf.getAll.toSeq.sortBy(_._1)
        .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
          k == "spark.ui.enabled" || k == "spark.local.dir" }: _*),
      "load_avg_jvm_start" -> loadStart,
      "load_avg_before_timed" -> loadBefore,
      "load_avg_after_timed" -> loadAfter)
    val result = Obj(
      "workload" -> conf("workload"),
      "env" -> env,
      "setup_s" -> setups,
      "check" -> check.map(opJson),
      "passes" -> (untraced ++ tracedPasses).map(passJson),
      "layers" -> layerReport)
    Files.write(Paths.get(conf("out")), Json(result).getBytes(StandardCharsets.UTF_8))
    if (traced) writeSpans(spansOut, conf("out") + ".spans.json")
    spark.stop()
  }

  /** Cold and warm `Tables.load` of every table: cold in a fresh
    * session (nothing memoized for it yet), warm on a second call.
    */
  private def timeTables(spark: SparkSession, data: String): (Double, Double) = {
    val fresh = spark.newSession()
    def all(): Double = {
      val t0 = System.nanoTime()
      Tables.names.foreach(n => Tables.load(fresh, data, n))
      secs(t0)
    }
    val cold = all()
    (cold, all())
  }

  private def writeSpans(spans: Seq[Span], path: String): Unit = {
    val rows = spans.sortBy(_.start).map { s =>
      Obj("id" -> s.id, "kind" -> s.kind, "name" -> s.name, "query" -> s.query,
        "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end, "tasks" -> s.tasks)
    }
    Files.write(Paths.get(path), Json(rows).getBytes(StandardCharsets.UTF_8))
  }
}
