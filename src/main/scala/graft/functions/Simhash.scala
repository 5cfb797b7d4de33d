package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 60-bit md5-derived SimHash of a token array as ONE native
  * expression.
  *
  * Same contract as the HOF form it replaces
  * (TextFunctions.simhash60Md5Hof, kept for the equivalence spec):
  * per token, base = first 15 md5 hex digits as a 60-bit integer;
  * per bit i, counter_i += (base>>i)&1 == 1 ? +1 : -1; output bit i
  * is set iff counter_i >= 0 (so an EMPTY token array yields all 60
  * bits set — the zero-counter convention, pinned by DedupSpec).
  *
  * Why native: the HOF form nests aggregate/zip_with/transform —
  * interpreted per token × 60 bits (~60 boxed ops per token), the
  * dominant cost of d04/d11/st07 at sf0.1. Here the whole signature
  * is one md5 + one 60-step counter loop per token inside
  * whole-stage codegen; the expression stays a pure projection, so
  * the operator still runs at parquet-scan speed with full pruning.
  * The DuckDB oracle reproduces it bit-for-bit via the same
  * `CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)` derivation.
  */
case class Simhash60Md5(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
    }

  override def prettyName: String = "graft_simhash60"

  override protected def nullSafeEval(toks: Any): Any =
    Simhash60Md5.compute(toks.asInstanceOf[ArrayData])

  // One static call per DOCUMENT from inside whole-stage codegen.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"${ev.value} = graft.functions.Simhash60Md5.compute($t);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Simhash60Md5 {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Called from generated code — keep the signature Java-friendly.
    *
    * A null token element reproduces the HOF exactly: the per-bit
    * `if((null>>i)&1 = 1, 1, -1)` predicate is NULL, and IF takes the
    * else branch — every counter gets -1, identical to a base of 0.
    * (Unreachable through `tokens`, which filters empties; pinned
    * here so SQL callers get identical semantics.)
    */
  def compute(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counters = new Array[Int](60)
    var i = 0
    while (i < n) {
      var base = 0L
      if (!toks.isNullAt(i)) {
        val d = md5.get()
        d.reset()
        val h = d.digest(toks.getUTF8String(i).getBytes)
        // First 15 hex digits = first 7.5 bytes, big-endian.
        var j = 0
        while (j < 7) { base = (base << 8) | (h(j) & 0xffL); j += 1 }
        base = (base << 4) | ((h(7) >> 4) & 0xfL)
      }
      var b = 0
      while (b < 60) {
        counters(b) += (if (((base >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (counters(b) >= 0) out |= 1L << b
      b += 1
    }
    out
  }
}

/** 64-bit xxhash64-based SimHash — the cheap scale path (no digest,
  * no hex), same counter scheme as [[Simhash60Md5]]. Token hash =
  * Spark's own `xxhash64(t)` (XXH64 over the UTF-8 bytes, seed 42),
  * so SQL callers see identical values to the built-in; a NULL token
  * hashes to the bare seed, exactly like the built-in's null-skip
  * rule. Not oracle-portable (DuckDB has no xxhash64) — pinned
  * against the HOF form by DedupSpec instead.
  */
case class Simhash64Xx(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
    }

  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(toks: Any): Any =
    Simhash64Xx.compute(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"${ev.value} = graft.functions.Simhash64Xx.compute($t);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Simhash64Xx {

  /** Called from generated code — keep the signature Java-friendly. */
  def compute(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      // xxhash64(NULL) returns the seed unchanged — mirror it.
      val h =
        if (toks.isNullAt(i)) 42L
        else {
          val u = toks.getUTF8String(i)
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
        }
      var b = 0
      while (b < 64) {
        counters(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) >= 0) out |= 1L << b
      b += 1
    }
    out
  }
}

/** Column forms of graft's SimHash functions; the session must carry
  * graft's table ([[graft.GraftSession]]).
  */
object Simhash {

  /** Native 60-bit SimHash of a token-array column. */
  def simhash60(toks: Column): Column = call_function("graft_simhash60", toks)

  /** Native 64-bit xxhash SimHash of a token-array column. */
  def simhash64(toks: Column): Column = call_function("graft_simhash64", toks)
}
