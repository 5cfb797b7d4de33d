package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only plan/timing instrument for the optimization rounds (guide
  * §1: measure first). For each query [[SparkEntry.selected]] picks
  * (an empty filter picks all), runs it through the same noop-sink methodology as Bench and
  * captures EVERY executed physical plan (most operators materialize
  * internal frames — collect(), localCheckpoint, parquet round trips —
  * so the final frame's explain alone would miss the real work).
  *
  * Usage: runMain graft.Plans <outDir> <nameFilter>[,term...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (see
  * [[GraftSession.cpus]]).
  * Never invoked by the driver; changes nothing about Bench's contract.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.builder().getOrCreate()

    val seq = new AtomicInteger(0)
    @volatile var current = "warmup"
    // Scheduler-level counters: wall time far above summed task time
    // means the query is bound by driver/job-submission overhead (many
    // tiny jobs), not by executor compute — different fix (guide §1.1).
    val jobs = new AtomicInteger(0)
    // Per-callsite job counts — names which code path submits the
    // jobs when a query is job-count-bound.
    val jobSites = new java.util.concurrent.ConcurrentHashMap[String,
      AtomicInteger]()
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    val shufR = new java.util.concurrent.atomic.AtomicLong(0)
    val shufW = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          val cs = Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("?")
          jobSites.computeIfAbsent(cs,
            _ => new AtomicInteger(0)).incrementAndGet()
          ()
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          stages.incrementAndGet(); ()
        }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          val m = e.taskMetrics
          if (m != null) {
            taskMs.addAndGet(m.executorRunTime)
            shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
          ()
        }
      })
    // Catalyst phase totals per query (ms) — decomposes the per-query
    // fixed cost (r19 verdict item 3): wall − taskTime − phase sums =
    // scheduling/codegen/misc.
    val phaseMs = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val i = seq.incrementAndGet()
        val ms = durationNs / 1e6
        val phases = qe.tracker.phases.map { case (p, t) =>
          phaseMs.computeIfAbsent(p,
            _ => new java.util.concurrent.atomic.AtomicLong(0))
            .addAndGet(t.endTimeMs - t.startTimeMs)
          f"$p=${t.endTimeMs - t.startTimeMs}ms"
        }.mkString(" ")
        val body =
          f"== $current exec #$i%03d via $funcName%s ${ms}%.1f ms " +
            f"[$phases] ==%n" +
            qe.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted")) + "\n\n"
        Files.write(Paths.get(outDir, f"$current.txt"),
          body.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
      def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    SparkEntry.selected(args(1)).foreach { q =>
      val name = q.name
      current = name
      seq.set(0)
      jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0); shufR.set(0); shufW.set(0)
      phaseMs.clear(); jobSites.clear()
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try {
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        // Listener bus is async: drain before reading phase totals so
        // this query's last executions are counted against it.
        Thread.sleep(400)
        val ph = {
          import scala.jdk.CollectionConverters._
          phaseMs.asScala.toSeq.sortBy(_._1)
            .map { case (p, v) => s"$p=${v.get()}ms" }.mkString(" ")
        }
        println(f"PLANS $name%-40s $t%8.3f s  execs=${seq.get()}%d " +
          f"jobs=${jobs.get()}%d stages=${stages.get()}%d " +
          f"tasks=${tasks.get()}%d taskTime=${taskMs.get() / 1000.0}%.1f s " +
          f"shufR=${shufR.get() / 1048576.0}%.1f MB " +
          f"shufW=${shufW.get() / 1048576.0}%.1f MB  [$ph]")
        val sites = {
          import scala.jdk.CollectionConverters._
          jobSites.asScala.toSeq.sortBy(-_._2.get()).take(12)
            .map { case (s, c) => s"$s×${c.get()}" }.mkString("  ")
        }
        println(s"  JOBSITES $name: $sites")
      } catch {
        case t: Throwable =>
          println(s"PLANS FAIL $name: ${t.getClass.getName}: ${t.getMessage}")
      }
      // The execution-listener bus is asynchronous; give it a moment
      // to drain so a query's last plans don't land in the next
      // query's file.
      Thread.sleep(500)
    }
    spark.stop()
  }
}
