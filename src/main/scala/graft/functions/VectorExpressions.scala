package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expression for the dense dot product.
  *
  * The composable alternative — `aggregate(zip_with(a, b, _*_), 0.0,
  * _+_)` — is a higher-order function: interpreted per element, one
  * array allocation per row (~10 µs/pair at 64-d). Pairwise similarity
  * evaluates this millions of times, so it gets the full
  * `doGenCode` treatment: a tight primitive loop inside whole-stage
  * codegen (~0.1 µs/pair), no allocation.
  *
  * Accumulation is a sequential index-order sum — bit-identical to
  * both the HOF fold it replaces and the DuckDB oracle's
  * `list_sum(list_transform(list_zip(a,b), p -> p[1]*p[2]))`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must be array<double>; callers (VectorExpressions.dot) cast
  // upstream. ExpectsInputTypes is private[sql] in Spark 4, so the
  // input contract is enforced via checkInputDataTypes instead: the
  // function is registered session-wide as `graft_dot`, and without
  // this an SQL caller passing e.g. array<int> would read misaligned
  // bytes through getDouble and get garbage with no error.
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires (array<double>, array<double>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $s += $a.getDouble($i) * $b.getDouble($i);
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for the SQ8 integer distance: the sum of
  * squared differences of two `array<int>` quantization codes, as a
  * long. Same rationale as [[DotProduct]]: the composable
  * `aggregate(zip_with(...))` form is an interpreted HOF with one
  * array allocation per pair, and SQ8 search evaluates this once per
  * (query, corpus vector) — the hot kernel of the scan. Integer
  * multiply-add in a tight codegen loop; arithmetic is exact, so the
  * value is bit-identical to the HOF form and the DuckDB oracle's
  * `list_sum(list_transform(list_zip(...)))` by construction.
  */
case class Sq8Dist(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must be array<int> (the sq8Encode output). Registered
  // session-wide as `graft_sq8dist`, so misuse must fail at analysis
  // time — on a non-array<int> column, UnsafeArrayData.getInt would
  // read misaligned bytes and return garbage with no error.
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_sq8dist requires (array<int>, array<int>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def prettyName: String = "graft_sq8dist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = (x.getInt(i) - y.getInt(i)).toLong
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $s = 0L;
        for (int $i = 0; $i < $n; $i++) {
          long $d = (long) ($a.getInt($i) - $b.getInt($i));
          $s += $d * $d;
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for the dense self outer product:
  * array<double> of n elements → array<double> of n² products in
  * row-major order (pos = i·n + j). The covariance build (s37) emits
  * one of these per corpus row; the composable
  * `flatten(transform(cv, a -> transform(cv, b -> a*b)))` form runs
  * n² interpreted lambda dispatches with n+1 array allocations per
  * row. Tight primitive loop into an UnsafeArrayData; each product is
  * the same IEEE multiply the HOF form computes, so downstream sums
  * are bit-identical.
  */
case class OuterProduct(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_outer requires array<double>, got ${t.catalogString}")
    }

  override def prettyName: String = "graft_outer"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Double](n * n)
    var k = 0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      var j = 0
      while (j < n) { out(k) = xi * x.getDouble(j); k += 1; j += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val arr = ctx.freshName("arr")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xi = ctx.freshName("xi")
      s"""
        int $n = $a.numElements();
        double[] $arr = new double[$n * $n];
        int $k = 0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = $a.getDouble($i);
          for (int $j = 0; $j < $n; $j++) {
            $arr[$k++] = $xi * $a.getDouble($j);
          }
        }
        ${ev.value} = org.apache.spark.sql.catalyst.expressions
          .UnsafeArrayData.fromPrimitiveArray($arr);
      """
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Column forms of graft's vector functions; the session must carry
  * graft's table ([[graft.GraftSession]]).
  */
object VectorExpressions {

  /** Dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** SQ8 integer distance of two array<int> code columns. */
  def sq8dist(a: Column, b: Column): Column =
    call_function("graft_sq8dist", a, b)

  /** Row-major self outer product of an array<double> column. */
  def outer(a: Column): Column = call_function("graft_outer", a)
}
