package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.{RDD, RDDOperationScope}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** `localCheckpoint` that PRESERVES a declared hash partitioning
  * (guide §2.4: "two operations keyed the same way can share one
  * exchange" — carried across a lineage cut).
  *
  * Why this exists: under AQE, `Dataset.localCheckpoint()` wraps the
  * materialized RDD in a `LogicalRDD` whose outputPartitioning is
  * `UnknownPartitioning` (the adaptive plan does not expose its final
  * partitioning at checkpoint time — verified empirically on Spark
  * 4.1.2, and pinned by CheckpointPartitioningSpec), so EVERY
  * downstream same-key aggregation or join re-exchanges data that is
  * already correctly placed. The graph tier's iterative primitives
  * aggregate by the SAME key (`dst`) once per round over a
  * checkpointed edge list — 8-16 avoidable node-sized exchanges per
  * query.
  *
  * [[localCheckpointKeyed]] shuffles the frame ONCE into an EXPLICIT
  * `repartition(n, key)` (a fixed partition count AQE never rewrites,
  * so `HashPartitioning(key, n)` is exactly true of the produced
  * RDD), checkpoints the result, and wraps it in a `LogicalRDD` that
  * DECLARES that partitioning (plus, optionally, within-partition
  * ordering by the key). Every later `groupBy(key)` / merge-join
  * requirement is then already satisfied — no fresh Exchange.
  *
  * The declaration is sound by construction, never an assumption: the
  * rows really are placed by `pmod(hash(key), n)` because the
  * repartition that placed them is part of this method. Correctness
  * therefore never depends on the caller.
  *
  * Lives in `org.apache.spark.sql` because `LogicalRDD` /
  * `Dataset.ofRows` are `private[sql]`; uses only stable executor
  * behavior (the same `.map(_.copy())` + localCheckpoint sequence as
  * `Dataset.localCheckpoint` itself). The returned frame's analyzed
  * root is a `LogicalRDD`, so `graft.Checkpoints` owns and frees it
  * (unpersist the root RDD) like any other checkpoint.
  */
object GraftCheckpoints {

  /** `body`'s value; when `body` throws, `onFailure` first gets the
    * still-persisted RDDs `body` built on this thread. A checkpoint
    * persists its RDD BEFORE the job that fills it, so a failed job
    * leaves that RDD pinned. `body` runs under one fresh operation
    * scope; plan operators set their own, so only the RDDs `body`
    * builds itself (the checkpoint's `map(_.copy())`) carry it.
    */
  def onFailurePersisted[T](sc: SparkContext)(
      onFailure: Seq[RDD[_]] => Unit)(body: => T): T = {
    val keys = Seq(SparkContext.RDD_SCOPE_KEY,
      SparkContext.RDD_SCOPE_NO_OVERRIDE_KEY)
    def set(values: Seq[String]): Unit =
      keys.zip(values).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    val old = keys.map(sc.getLocalProperty)
    val scope = new RDDOperationScope("localCheckpoint")
    set(Seq(scope.toJson, "true"))
    try body
    catch { case e: Throwable =>
      onFailure(sc.getPersistentRDDs.values.toSeq
        .filter(_.scope.exists(_.id == scope.id)))
      throw e
    } finally set(old)
  }

  /** Materialize `df` hash-partitioned by `key` into `n` partitions,
    * localCheckpoint it, and return a frame that REMEMBERS the
    * partitioning (and the ascending within-partition order on `key`
    * when `sorted`). One explicit exchange now, zero re-exchanges
    * later.
    */
  def localCheckpointKeyed(df: DataFrame, key: String, n: Int,
      sorted: Boolean = false): DataFrame = {
    val cdf = df.asInstanceOf[CDataset[Row]]
    val spark = cdf.sparkSession
    val placed0 = cdf.repartition(n, cdf(key))
    val placed = if (sorted) placed0.sortWithinPartitions(key) else placed0
    val qe = placed.queryExecution
    // The same materialization sequence as Dataset.localCheckpoint:
    // copy the reused unsafe rows, mark for local checkpoint BEFORE
    // the first job, then run one job to materialize the blocks.
    val internal = qe.toRdd.map(_.copy())
    internal.localCheckpoint()
    internal.count()
    val attrs = qe.analyzed.output
    val keyAttr = attrs.find(_.name == key).getOrElse(
      throw new IllegalArgumentException(
        s"localCheckpointKeyed: no column '$key' in ${attrs.map(_.name)}"))
    val ordering =
      if (sorted) Seq(SortOrder(keyAttr, Ascending)) else Nil
    CDataset.ofRows(spark,
      LogicalRDD(attrs, internal, HashPartitioning(Seq(keyAttr), n),
        ordering, isStreaming = false)(spark))
  }
}
