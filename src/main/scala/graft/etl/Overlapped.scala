package graft.etl

import java.util.concurrent.ArrayBlockingQueue

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow

/** One task's release lines parsed on a second thread: the task thread
  * pulls `lines` and consumes the rows, one daemon helper,
  * `graft-release-parser`, runs the unchanged [[ReleaseParser]] between
  * them. Batches of [[Overlapped.Batch]] lines go out and batches of
  * rows come back through two queues of [[Overlapped.Depth]] batches
  * each, so the scan and the write overlap the parse.
  *
  * Every Spark- and Hadoop-owned resource stays on the task thread: the
  * helper only takes `String`s and builds rows, and never touches the
  * scan, whose streams a task-completion listener closes. The task
  * thread pulls `lines` only while no rows are ready and the line queue
  * has room for a batch plus its end marker; otherwise it waits for
  * rows. The parser sees exactly the lines it would see alone, so its
  * line numbers and messages are unchanged, and its failure is rethrown
  * as is on the task thread.
  *
  * A task-completion listener stops the helper, so a failed, killed or
  * early-stopped task (a `limit`) does not leave it waiting: every
  * blocking call on either side is interruptible.
  */
private[etl] final class Overlapped(lines: Iterator[String])
    extends Iterator[InternalRow] {
  import Overlapped._

  private val toParser = new ArrayBlockingQueue[Array[String]](Depth)
  private val fromParser = new ArrayBlockingQueue[Array[InternalRow]](Depth)
  /** Set, before the interrupt, once the task is over: the helper then
    * hands nothing back.
    */
  @volatile private var cancelled = false
  /** The helper's failure, published by its end marker. */
  private var failure: Throwable = null

  private var linesSent = false
  private var rows = NoRows
  private var i = 0
  private var done = false

  private val helper = new Thread(() => parse(), "graft-release-parser")
  helper.setDaemon(true)
  // Registered before the start, so that outside a task nothing starts.
  TaskContext.get().addTaskCompletionListener[Unit] { _ =>
    cancelled = true
    helper.interrupt()
  }
  helper.start()

  def hasNext: Boolean = {
    while (i == rows.length && !done) {
      val ready = fromParser.poll()
      if (ready != null) receive(ready)
      else if (!linesSent && toParser.remainingCapacity > 1) send()
      else receive(fromParser.take())
    }
    !done
  }

  def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    i += 1
    rows(i - 1)
  }

  /** The next batch of lines, or the end marker (an empty batch) once
    * `lines` is done.
    */
  private def send(): Unit = {
    val batch = new ArrayBuffer[String](Batch)
    while (batch.length < Batch && lines.hasNext) batch += lines.next()
    linesSent = batch.isEmpty
    toParser.put(batch.toArray)
  }

  private def receive(batch: Array[InternalRow]): Unit = {
    rows = batch
    i = 0
    if (batch.isEmpty) {
      done = true
      if (failure != null) throw failure
    }
  }

  /** The helper: parse the lines taken from `toParser` into batches of
    * rows on `fromParser`, then the end marker, after `failure` if the
    * parser threw.
    */
  private def parse(): Unit =
    try {
      failure =
        try {
          val parsed = new ReleaseParser(
            Iterator.continually(toParser.take()).takeWhile(_.nonEmpty).flatMap(_.iterator))
          val batch = new ArrayBuffer[InternalRow](Batch)
          while (parsed.hasNext) {
            batch += parsed.next()
            if (batch.length == Batch) { fromParser.put(batch.toArray); batch.clear() }
          }
          if (batch.nonEmpty) fromParser.put(batch.toArray)
          null
        } catch { case t: Throwable => t }
      if (!cancelled) fromParser.put(NoRows)
    } catch { case _: InterruptedException => () } // the task is over
}

private[etl] object Overlapped {

  /** Lines per batch sent to the helper, and rows per batch back. */
  val Batch = 256

  /** Batches each queue holds. */
  val Depth = 8

  /** The end marker of the rows: a real batch is never empty. */
  private val NoRows = Array.empty[InternalRow]
}
