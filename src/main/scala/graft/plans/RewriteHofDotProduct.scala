package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.DotProduct

/** Optimizer rule: rewrite the composable higher-order-function dot
  * product
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v) }}}
  *
  * into the native codegen `DotProduct(a, b)` (~100× faster per row —
  * HOFs evaluate interpreted with a per-row array allocation).
  *
  * Semantics: zip_with pads the shorter array with nulls, so the HOF
  * form returns NULL on length mismatch while bare DotProduct would
  * truncate to the shorter length. The rewrite therefore guards the
  * replacement with a length check — `If(size(a) = size(b),
  * DotProduct(a, b), NULL)` — so ragged inputs yield the same NULL
  * the HOF form yields (a bare DotProduct here would be a silent
  * wrong answer for any user query matching the pattern). For
  * equal-length arrays of non-nullable doubles — the embedding-column
  * case — the two are bit-identical (same index-order accumulation)
  * and the guard folds to a cheap pair of cached array-length reads.
  *
  * Part of graft's table ([[graft.GraftSession]]); written as a
  * `Rule[LogicalPlan]` over `transformAllExpressions`, the (c)-tier
  * extension point of SURVEY §2's custom-operator ladder.
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  private def isIdentityFinish(e: Expression): Boolean = e match {
    case LambdaFunction(body: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      body.exprId == arg.exprId
    case _ => false
  }

  private def nonNullDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, containsNull) => !containsNull
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(Multiply(x: NamedLambdaVariable,
                y: NamedLambdaVariable, _), Seq(ax: NamedLambdaVariable,
                ay: NamedLambdaVariable), _)),
            Literal(0.0, DoubleType),
            LambdaFunction(Add(acc: NamedLambdaVariable,
              v: NamedLambdaVariable, _), Seq(aacc: NamedLambdaVariable,
              av: NamedLambdaVariable), _),
            finish)
          if x.exprId == ax.exprId && y.exprId == ay.exprId &&
            acc.exprId == aacc.exprId && v.exprId == av.exprId &&
            isIdentityFinish(finish) &&
            nonNullDoubleArray(a) && nonNullDoubleArray(b) =>
        // NULL-if-ragged guard preserves the HOF form's semantics.
        // Size is constructed with legacySizeOfNull=false explicitly:
        // under the legacy default, size(null) is -1 (not null), so
        // two null arrays would take the then-branch — harmless only
        // because DotProduct null-propagates, but the guard shouldn't
        // depend on session config to mean what it says.
        If(EqualTo(Size(a, legacySizeOfNull = false),
             Size(b, legacySizeOfNull = false)),
          DotProduct(a, b), Literal(null, DoubleType))
    }
}
