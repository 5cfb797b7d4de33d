package graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.functions._
import graft.plans.{GraftStrategies, RewriteHofDotProduct}

/** graft's session contract, in one place: the one configuration every
  * graft entry point runs under, and the one table of Catalyst code
  * graft adds to a session — its native functions, the
  * [[graft.plans.GraftStrategies]] planner strategy and the
  * [[graft.plans.RewriteHofDotProduct]] optimizer rule.
  *
  * The table reaches a session by exactly one of two routes:
  *  - at construction, through [[GraftExtensions]] (`builder` installs
  *    it; `--conf spark.sql.extensions=graft.GraftExtensions` does the
  *    same for a session graft does not build);
  *  - afterwards, through [[install]], for a session built without
  *    them (`new Engine(spark, dir)` calls it).
  */
object GraftSession {

  /** Cores of a local session: `SPARK_GRAFT_CPUS`, else every core. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every native function graft defines. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    function[DotProduct]("graft_dot")(e => DotProduct(e(0), e(1))),
    function[Sq8Dist]("graft_sq8dist")(e => Sq8Dist(e(0), e(1))),
    function[OuterProduct]("graft_outer")(e => OuterProduct(e(0))),
    function[WinnowFingerprints]("graft_winnow")(e => WinnowFingerprints(e.head)),
    function[Simhash60Md5]("graft_simhash60")(e => Simhash60Md5(e.head)),
    function[Simhash64Xx]("graft_simhash64")(e => Simhash64Xx(e.head)),
    function[RollingFingerprints]("graft_rolling_fp") {
      case Seq(bin, len) =>
        RollingFingerprints(bin, len.eval().asInstanceOf[Number].intValue())
      case other => throw new IllegalArgumentException(
        s"graft_rolling_fp(binary, minLen): got ${other.size} args")
    })

  /** graft's optimizer rule and planner strategy. */
  val rule: Rule[LogicalPlan] = RewriteHofDotProduct
  val strategy: SparkStrategy = GraftStrategies

  private def function[E: ClassTag](name: String)(build: FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, name), build)

  private val LocalN = """local\[(\d+|\*)\]""".r

  /** A builder for a session on `master` with graft's configuration
    * and [[GraftExtensions]]. A `local[n]` master gets `n` shuffle
    * partitions (`local[*]`: one per core); any other master keeps
    * Spark's default.
    */
  def builder(master: String = s"local[$cpus]"): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts may be parquet TIMESTAMP(NANOS); see Tables.load.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // size(null) = null (not -1), matching the DuckDB oracle's NULL
      // semantics should null text ever reach a size().
      .config("spark.sql.legacy.sizeOfNull", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .withExtensions(new GraftExtensions)
    master match {
      case LocalN(n) => b.config("spark.sql.shuffle.partitions",
        if (n == "*") Runtime.getRuntime.availableProcessors.toLong else n.toLong)
      case _ => b
    }
  }

  /** Add the table to a session built without [[GraftExtensions]].
    * Idempotent: does nothing when the session already plans with
    * [[graft.plans.GraftStrategies]], by either route.
    */
  def install(spark: SparkSession): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    if (!s.sessionState.planner.strategies.contains(strategy)) {
      functions.foreach { case (id, info, build) =>
        s.sessionState.functionRegistry.registerFunction(id, info, build)
      }
      s.experimental.extraOptimizations :+= rule
      s.experimental.extraStrategies :+= strategy
    }
  }
}

/** The table of [[GraftSession]] as session extensions:
  * `--conf spark.sql.extensions=graft.GraftExtensions`, or
  * `GraftSession.builder()`, which adds it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSession.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => GraftSession.rule)
    ext.injectPlannerStrategy(_ => GraftSession.strategy)
  }
}
