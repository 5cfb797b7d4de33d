package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{RollingFingerprints, Simhash60Md5, Simhash64Xx, WinnowFingerprints}
import graft.plans.{AsOfJoinExec, GraftStrategies, RewriteHofDotProduct}

class GraftExtensionsSpec extends SparkSpec {

  private def tokens(ts: String*) =
    new GenericArrayData(ts.map(UTF8String.fromString).toArray[Any])

  /** One SQL call per function of graft's table, with the value its
    * kernel computes for the same input.
    */
  private val calls: Map[String, (String, Any)] = Map(
    "graft_dot" -> ("graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))" -> 11.0),
    "graft_sq8dist" -> ("graft_sq8dist(array(1, 2), array(3, 5))" -> 13L),
    "graft_outer" -> ("graft_outer(array(1.0d, 2.0d))" -> Seq(1.0, 2.0, 2.0, 4.0)),
    "graft_winnow" -> ("graft_winnow(encode('hello world hello', 'UTF-8'))" ->
      WinnowFingerprints.compute("hello world hello".getBytes(UTF_8), 5, 8).toSeq),
    "graft_simhash60" -> ("graft_simhash60(array('a', 'b'))" ->
      Simhash60Md5.compute(tokens("a", "b"))),
    "graft_simhash64" -> ("graft_simhash64(array('a', 'b'))" ->
      Simhash64Xx.compute(tokens("a", "b"))),
    "graft_rolling_fp" -> ("graft_rolling_fp(encode('abcdef', 'UTF-8'), 3)" ->
      RollingFingerprints.compute("abcdef".getBytes(UTF_8), 3).toSeq))

  private def assertTableEvaluates(s: SparkSession): Unit = {
    assert(calls.keySet == GraftSession.functions.map(_._1.funcName).toSet)
    calls.foreach { case (name, (call, want)) =>
      val got = s.sql(s"SELECT $call").head().get(0) match {
        case xs: Seq[_] => xs.toSeq
        case v => v
      }
      assert(got == want, s"$name: $call gave $got, want $want")
    }
  }

  private def hofDotProduct(s: SparkSession) =
    s.range(1)
      .selectExpr("array(cast(id as double) + 1.0d, 2.0d) AS a",
        "array(3.0d, 4.0d) AS b")
      .selectExpr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS d")

  test("spark.sql.extensions path registers graft_dot for SQL") {
    val base = spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions()(_))
      .getOrCreate()
    try {
      val v = s2.sql(
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS v")
        .head().getDouble(0)
      assert(v == 11.0)
      // codegen path actually exercised (not just interpreted eval)
      val df = s2.range(1000).selectExpr(
        "graft_dot(array(cast(id as double), 2.0d), array(3.0d, 4.0d)) AS v")
      assert(df.agg(org.apache.spark.sql.functions.sum("v"))
        .head().getDouble(0) == 3.0 * (999 * 1000 / 2) + 8.0 * 1000)

      // Optimizer rule: the composable HOF dot-product pattern is
      // rewritten to the native expression. (Source must be
      // non-foldable or the whole projection constant-folds away
      // before the plan can be inspected.)
      val hof = s2.range(1)
        .selectExpr("array(cast(id as double) + 1.0d, 2.0d) AS a",
          "array(3.0d, 4.0d) AS b")
        .selectExpr(
          "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS d")
      assert(hof.queryExecution.optimizedPlan.toString.contains("graft_dot"),
        hof.queryExecution.optimizedPlan.toString)
      assert(hof.head().getDouble(0) == 11.0)

      // Ragged arrays: zip_with pads with nulls so the HOF form is
      // NULL — the rewrite must preserve that (guarded by a length
      // check), not return DotProduct's truncated partial sum.
      val ragged = s2.range(1)
        .selectExpr("array(cast(id as double) + 1.0d, 2.0d) AS a",
          "array(3.0d) AS b")
        .selectExpr(
          "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS d")
      assert(ragged.queryExecution.optimizedPlan.toString.contains("graft_dot"),
        ragged.queryExecution.optimizedPlan.toString)
      assert(ragged.head().isNullAt(0),
        "ragged-array dot product must be NULL (HOF semantics)")

      // graft_winnow is injected too: fingerprints of a short string,
      // computed through plain SQL.
      val fp = s2.sql(
        "SELECT graft_winnow(encode('hello world hello', 'UTF-8')) AS f")
        .head().getSeq[Long](0)
      assert(fp.nonEmpty && fp == fp.sorted && fp.distinct == fp, fp.toString)

      // Every other function of the table is injected as well.
      assertTableEvaluates(s2)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("install leaves a session built with graft's extensions as it is") {
    val s = spark.asInstanceOf[classic.SparkSession]
    GraftSession.install(s)
    assert(!s.experimental.extraStrategies.contains(GraftStrategies))
    assert(!s.experimental.extraOptimizations.contains(RewriteHofDotProduct))
    assertTableEvaluates(s)
  }

  test("new Engine installs graft's table on a plain session, once") {
    val base = spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder().master("local[4]").getOrCreate()
      .asInstanceOf[classic.SparkSession]
    try {
      assert(!s.catalog.functionExists("graft_dot"))

      new Engine(s, "/root/testdata/sf0.001")
      GraftSession.install(s)
      assert(s.experimental.extraStrategies.count(_ == GraftStrategies) == 1)
      assert(s.experimental.extraOptimizations.count(_ == RewriteHofDotProduct) == 1)
      assertTableEvaluates(s)

      import s.implicits._
      val trades = Seq((1L, 100L, 9L), (1L, 205L, 10L)).toDF("acct", "t", "trade_id")
      val quotes = Seq((1L, 100L, 1.0), (1L, 200L, 2.0)).toDF("q_acct", "qt", "px")
      val asof = ops.Joins.asofJoinNative(trades, quotes,
        leftKey = "acct", rightKey = "q_acct", leftTime = "t", rightTime = "qt")
      assert(asof.queryExecution.sparkPlan.collectFirst { case j: AsOfJoinExec => j }
        .nonEmpty, asof.queryExecution.sparkPlan.toString)
      assert(asof.orderBy("trade_id").collect().map(_.getAs[Double]("px")).toSeq ==
        Seq(1.0, 2.0))

      val hof = hofDotProduct(s)
      assert(hof.queryExecution.optimizedPlan.toString.contains("graft_dot"),
        hof.queryExecution.optimizedPlan.toString)
      assert(hof.head().getDouble(0) == 11.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
