package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

import graft.plans.AsOfJoinPlan

/** Join utilities for skew at scale.
  *
  * AQE's skew-join handles most cases by splitting oversized
  * partitions, but it only works for sort-merge joins after a
  * shuffle. `saltedJoin` is the explicit fallback for pathological
  * hot keys (one key = 30% of a 100 TB fact table): the fact side
  * gets a random-ish salt appended to the key, the dimension side is
  * replicated `buckets` times, and the join key becomes (key, salt) —
  * spreading one hot key over `buckets` reducers.
  */
object Joins {

  /** Inner equi-join of `fact` (large, possibly skewed) with `dim`
    * (replicable) on `key`, with the hot-key load spread over
    * `buckets` partitions per key.
    *
    * The salt is derived from a hash of the fact row's other columns
    * (deterministic — keeps retries/speculation consistent), not from
    * rand(), so results are reproducible.
    */
  def saltedJoin(
      fact: DataFrame, dim: DataFrame, key: String, buckets: Int,
      saltSource: Column): DataFrame = {
    val salted = fact.withColumn("_salt",
      pmod(xxhash64(saltSource), lit(buckets)).cast("int"))
    val replicated = dim
      .withColumn("_salt",
        explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Backward as-of join through the NATIVE whole-operator path
    * ([[graft.plans.AsOfJoinPlan]] → planner strategy →
    * [[graft.plans.AsOfJoinExec]]): left columns plus the right
    * columns of the last right row with `rightTime <= leftTime` per
    * key (nulls when none). Column names must not collide across the
    * two sides — rename before joining (as-of output keeps both).
    *
    * Planned by [[graft.plans.GraftStrategies]], so the session must
    * carry graft's table ([[graft.GraftSession]]).
    */
  def asofJoinNative(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // Re-alias every right column: a self-join's two sides share
    // attribute ids from the same scan, and a plan node whose output
    // repeats an exprId is ambiguous downstream.
    val rBase = right.queryExecution.analyzed
    val rPlan = Project(rBase.output.map(a => Alias(a, a.name)()), rBase)
    def attr(out: Seq[Attribute], n: String): Attribute =
      out.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asofJoinNative: no column '$n' in ${out.map(_.name)}"))
    val (lk, rk) = (attr(lPlan.output, leftKey), attr(rPlan.output, rightKey))
    val (lt, rt) = (attr(lPlan.output, leftTime), attr(rPlan.output, rightTime))
    // The merge ordering and the UnsafeRow key equality are built from
    // the LEFT types — mismatched right types would compare raw bytes
    // of differently-sized slots and produce silently wrong output.
    // Spark's own joins insert casts; this operator requires equality.
    require(lk.dataType == rk.dataType,
      s"asofJoinNative: key types differ (${lk.dataType} vs ${rk.dataType})")
    require(lt.dataType == rt.dataType,
      s"asofJoinNative: time types differ (${lt.dataType} vs ${rt.dataType})")
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan, Seq(lk), Seq(rk), lt, rt))
  }
}
