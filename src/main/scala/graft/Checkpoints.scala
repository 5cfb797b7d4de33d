package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, GraftCheckpoints}
import org.apache.spark.sql.execution.LogicalRDD

/** The checkpoints one function makes, owned in one place and freed
  * by [[Checkpoints.using]] when the function returns or throws. It is
  * a `DataFrame => DataFrame`, so a round loop can checkpoint through
  * it. A function whose result reads one of its checkpoints must not
  * own it here; it frees the dead ones with [[Checkpoints.free]].
  */
final class Checkpoints private extends (DataFrame => DataFrame) {

  private val owned = ArrayBuffer[DataFrame]()

  /** `df.localCheckpoint()`, owned until the scope ends. */
  def apply(df: DataFrame): DataFrame =
    own(Checkpoints.releasingOnFailure(df)(df.localCheckpoint()))

  /** Takes ownership of a frame that is already checkpointed. */
  def own(df: DataFrame): DataFrame = { owned += df; df }

  /** Frees the owned `df` now: a superseded round's state. */
  def free(df: DataFrame): Unit = {
    val i = owned.indexWhere(_ eq df)
    require(i >= 0, "Checkpoints.free: not a checkpoint of this scope")
    Checkpoints.free(owned.remove(i))
  }
}

object Checkpoints {

  /** Runs `body` with a fresh owner and frees everything it still owns
    * when `body` returns or throws.
    */
  def using[T](body: Checkpoints => T): T = {
    val cps = new Checkpoints
    try body(cps) finally cps.owned.foreach(free)
  }

  /** `checkpoint`, a materialization of `df` that pins nothing when
    * its job fails.
    */
  private[graft] def releasingOnFailure(df: DataFrame)(
      checkpoint: => DataFrame): DataFrame =
    GraftCheckpoints.onFailurePersisted(df.sparkSession.sparkContext)(
      _.foreach(_.unpersist(blocking = false)))(checkpoint)

  /** Free the cached blocks behind a superseded localCheckpoint'd
    * frame: a checkpointed plan bottoms out in a persisted
    * `LogicalRDD`, which `Dataset.unpersist` does not reach. Without
    * this, per-round checkpoints in the Lloyd loops accumulate
    * O(rounds) cached RDDs (tiny at the default round counts,
    * unbounded for caller-supplied ones).
    *
    * Restricted to frames whose analyzed plan IS the checkpoint's
    * `LogicalRDD` root — i.e. exactly what `.localCheckpoint()`
    * returned. Walking a larger plan and unpersisting every
    * LogicalRDD inside it could free blocks still referenced by
    * OTHER live frames built on the same checkpoint; since
    * checkpointing truncates lineage, those frames cannot recompute
    * and would die at runtime with "block not found". Passing a
    * composed plan therefore throws instead of guessing.
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        "Checkpoints.free: expected a localCheckpoint'd frame " +
          s"(LogicalRDD root), got ${other.nodeName} — freeing " +
          "checkpoints reachable inside a composed plan risks " +
          "unpersisting blocks shared with other live frames")
    }
}
