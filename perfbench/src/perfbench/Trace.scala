package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are milliseconds since the tracer's
  * anchor; `parent` is the id of the enclosing span (-1 for none).
  */
final case class Span(id: Int, kind: String, name: String, query: String,
    parent: Int, start: Double, end: Double, tasks: Int = 0) {
  def ms: Double = end - start
}

/** One streaming micro-batch, from its progress event. */
final case class Batch(query: String, id: Long, triggerMs: Long, addBatchMs: Long,
    commitMs: Long, stateRows: Long, stateBytes: Long)

/** Records nested spans around the harness's own calls. The no-op
  * instance runs the body and records nothing, so untraced runs pay
  * only a function call.
  */
class Spans {
  def apply[T](kind: String, name: String, query: String = "")(body: => T): T = body
}

/** The traced run's instruments: the harness's spans plus a
  * SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * registered on `spark`, Hadoop FileSystem statistics and the GC
  * MXBeans. Everything stays in memory until the run ends.
  */
final class Tracer(spark: SparkSession) extends Spans {
  private val SpanProp = "perfbench.span"
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def nowMs: Double = (System.nanoTime() - anchorNs) / 1e6

  private val nextId = new AtomicLong(0)
  private var stack: List[Span] = Nil
  val spans: ArrayBuffer[Span] = ArrayBuffer()

  override def apply[T](kind: String, name: String, query: String = "")(body: => T): T = {
    val sc = spark.sparkContext
    val id = nextId.incrementAndGet().toInt
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val q = if (query.nonEmpty) query else stack.headOption.map(_.query).getOrElse("")
    val open = Span(id, kind, name, q, parent, nowMs, 0)
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    stack = open :: stack
    try body
    finally {
      stack = stack.tail
      sc.setLocalProperty(SpanProp, prev)
      spans.synchronized { spans += open.copy(end = nowMs) }
    }
  }

  // ---- Spark scheduler and executor counters -------------------------
  val counters: Map[String, AtomicLong] = Seq(
    "jobs", "stages", "tasks", "task_run_ms", "task_deser_ms", "spill_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "peak_exec_mem_bytes",
    "executions", "analysis_ms", "optimization_ms", "planning_ms",
    "broadcast_bytes").map(_ -> new AtomicLong(0)).toMap
  private def add(k: String, v: Long): Unit = { counters(k).addAndGet(v); () }

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Int, Int)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("jobs", 1)
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      jobStart.put(e.jobId, (e.time - anchorMs.toDouble, parent, e.stageInfos.map(_.numTasks).sum))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStart.remove(e.jobId)).foreach { case (start, parent, tasks) =>
        spans.synchronized {
          spans += Span(-e.jobId - 1, "job", s"job ${e.jobId}", "", parent,
            start, e.time - anchorMs.toDouble, tasks)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime)
        add("task_deser_ms", m.executorDeserializeTime)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        counters("peak_exec_mem_bytes").accumulateAndGet(m.peakExecutionMemory, math.max)
      }
      ()
    }
  }

  // ---- Catalyst ------------------------------------------------------
  private def broadcastBytes(plan: SparkPlan): Long = {
    val own = plan match {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      case _ => 0L
    }
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => Seq.empty
    }
    own + (inner ++ plan.children ++ plan.subqueries).map(broadcastBytes).sum
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      add("executions", 1)
      qe.tracker.phases.foreach { case (phase, t) =>
        val k = s"${phase}_ms"
        if (counters.contains(k)) add(k, t.endTimeMs - t.startTimeMs)
      }
      add("broadcast_bytes", try broadcastBytes(qe.executedPlan) catch { case _: Throwable => 0L })
    }
  }

  // ---- Structured streaming -----------------------------------------
  val batches: ArrayBuffer[Batch] = ArrayBuffer()

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val state = p.stateOperators
      batches.synchronized {
        batches += Batch(p.id.toString, p.batchId, d.getOrElse("triggerExecution", 0L),
          d.getOrElse("addBatch", 0L),
          d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
          state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum)
      }
      ()
    }
  }

  // Count file-system calls: swap the `file` scheme's implementations
  // for both APIs (FileSystem for scans and sinks, FileContext for
  // streaming checkpoints) and drop the cached FileSystem instances so
  // that the next lookup creates one.
  spark.sparkContext.hadoopConfiguration.set("fs.file.impl",
    classOf[CountingLocalFileSystem].getName)
  spark.sparkContext.hadoopConfiguration.set("fs.AbstractFileSystem.file.impl",
    classOf[org.apache.hadoop.fs.local.CountingLocalFs].getName)
  FileSystem.closeAll()

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def drain(): Unit = ListenerDrain(spark.sparkContext)

  /** Every span recorded so far; a job takes its query from the span
    * that submitted it.
    */
  def allSpans: Seq[Span] = spans.synchronized {
    val query = spans.map(s => s.id -> s.query).toMap
    spans.toSeq.map(s =>
      if (s.kind == "job") s.copy(query = query.getOrElse(s.parent, "")) else s)
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- Snapshots of process-wide statistics -------------------------
  /** Counters, Hadoop FS statistics and GC time, as of now. */
  def snapshot(): Map[String, Double] = {
    drain()
    val fs = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    FileSystem.getGlobalStorageStatistics.iterator().asScala.foreach { st =>
      st.getLongStatistics.asScala.foreach { s =>
        fs("fs." + s.getName) += s.getValue.toDouble
      }
    }
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
    fs("fs.list_ops") = CountingLocalFileSystem.lists.get.toDouble
    fs("fs.read_ops") = CountingLocalFileSystem.opens.get.toDouble
    fs("fs.write_ops") = CountingLocalFileSystem.writes.get.toDouble
    counters.map { case (k, v) => k -> v.get.toDouble } ++ fs.toMap +
      ("gc_ms" -> gcMs) + ("batches" -> batches.synchronized(batches.size).toDouble) +
      ("now_ms" -> nowMs)
  }
}
