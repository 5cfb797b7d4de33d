package graft.etl

import java.util.ArrayDeque
import java.util.concurrent.{ExecutionException, FutureTask, LinkedBlockingQueue, ThreadFactory,
  ThreadPoolExecutor, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow

/** One task's release lines parsed on the JVM's one parse pool. The
  * task thread pulls `lines`, the UTF-8 bytes of the partition's lines,
  * submits them in batches of [[Overlapped.Batch]] to the pool, where a
  * fresh [[ReleaseParser]] parses each, keeps [[Overlapped.Window]]
  * batches in flight and hands on their rows in line order. A head
  * batch no worker has started is parsed on the task thread, so tasks
  * that already fill the cores do not queue behind each other.
  *
  * Workers only turn bytes into rows; Spark's resources stay on the task
  * thread. A release starts and ends on its own line, so a batch parses
  * alone into the plain parser's rows, lines counted from its first.
  *
  * Failures come in line order, with the plain parser's message: when
  * the head batch fails (perhaps only because a release is cut at its
  * end), one sequential [[ReleaseParser]] on the task thread parses on
  * from its first line through the lines the window holds and the rest
  * of the scan. A scan failure (a truncated gzip) is held until every
  * line before it is parsed. A task-completion listener drops the
  * task's queued batches; an idle worker ends after a second.
  */
private[etl] final class Overlapped(lines: Iterator[Array[Byte]])
    extends Iterator[InternalRow] {
  import Overlapped._

  /** Submitted batches not yet consumed, in line order; task thread only. */
  private val window = new ArrayDeque[Parse](Window)
  /** The scan's failure, held until every line read before it is parsed. */
  private var failure: Throwable = null
  /** `lines` up to its end or its failure. */
  private val scan = new Iterator[Array[Byte]] {
    def hasNext: Boolean = failure == null &&
      (try lines.hasNext catch { case NonFatal(e) => failure = e; false })
    def next(): Array[Byte] = lines.next()
  }
  private var nextLine = 1
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var ended = false

  TaskContext.get().addTaskCompletionListener[Unit](_ => while (!window.isEmpty) pool.remove(window.poll()))

  def hasNext: Boolean = {
    while (!rows.hasNext && !ended) {
      fill()
      val head = window.poll()
      if (head == null) ended = true else rows = parsed(head)
    }
    if (!rows.hasNext && failure != null) throw failure
    rows.hasNext
  }

  def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    rows.next()
  }

  /** Submit batches of the scan's lines until the window is full or the scan is over. */
  private def fill(): Unit =
    while (window.size < Window && scan.hasNext) {
      val batch = new ArrayBuffer[Array[Byte]](Batch)
      while (batch.length < Batch && scan.hasNext) batch += scan.next()
      val p = new Parse(batch.toArray, nextLine)
      nextLine += batch.length
      window.add(p)
      pool.execute(p)
    }

  /** The head batch's rows, parsed here if no worker started it, or, if
    * it failed, the sequential parse from its first line on.
    */
  private def parsed(head: Parse): Iterator[InternalRow] = {
    if (pool.remove(head)) head.run()
    try head.get().iterator
    catch {
      case _: ExecutionException =>
        val held = ArrayBuffer(head)
        while (!window.isEmpty) { held += window.poll(); pool.remove(held.last) }
        ended = true
        new ReleaseParser(held.iterator.flatMap(_.lines.iterator) ++ scan, head.firstLine)
    }
  }
}

private[etl] object Overlapped {
  /** Lines per batch, each parsed by its own [[ReleaseParser]]. */
  val Batch = 256

  /** Parse workers: every core but the one a task thread needs. */
  private val Workers: Int = math.max(1, Runtime.getRuntime.availableProcessors - 1)

  /** Batches one task keeps in flight: two per worker, so none idles,
    * and at most 8, bounding a task's lines in memory on any machine.
    */
  val Window: Int = math.min(2 * Workers, 8)

  /** One batch's parse; its lines are kept for a sequential re-parse. */
  private final class Parse(val lines: Array[Array[Byte]], val firstLine: Int)
      extends FutureTask[Array[InternalRow]](() => new ReleaseParser(lines.iterator, firstLine).toArray)

  /** Every task's workers: `graft-release-parser` daemons, started on
    * demand, each ending after a second idle.
    */
  private lazy val pool: ThreadPoolExecutor = {
    val daemon: ThreadFactory = { r =>
      val t = new Thread(r, "graft-release-parser"); t.setDaemon(true); t
    }
    val p = new ThreadPoolExecutor(Workers, Workers, 1, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), daemon)
    p.allowCoreThreadTimeOut(true)
    p
  }
}
