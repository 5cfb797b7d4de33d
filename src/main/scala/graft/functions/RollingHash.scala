package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** Karp–Rabin window fingerprints as ONE native expression — the
  * 100 TB path of d22's exact-substring dedup (d23): instead of
  * shipping every length-L CHARACTER window as a shuffle key (L× the
  * corpus bytes), ship one 8-byte double-modulus rolling fingerprint
  * per window. The whole computation is local to one document —
  * O(n) code-point decoding + O(n) rolling updates, one static call
  * per row from inside whole-stage codegen (the [[WinnowFingerprints]]
  * discipline).
  *
  * Semantics contract (what makes d23's oracle d22's oracle):
  * windows are counted in UNICODE CODE POINTS, the same unit Spark's
  * `substring` and DuckDB's `substring` count, so window p here IS
  * the window `substring(text, p, L)` there — equal windows get equal
  * fingerprints by construction, and UNEQUAL windows collide with
  * probability 1/(P1·P2) ≈ 2⁻⁶² per pair (two independent 31-bit
  * moduli packed into one long). A collision would flag a
  * non-duplicate and break d23's oracle hash, so the oracle equality
  * IS the collision-freeness certificate on the corpus under test.
  *
  * All arithmetic stays exact in a long: h < 2³¹, base B < 2²⁰, code
  * point < 2²¹ ⇒ every product < 2⁵², every sum < 2⁶³.
  */
case class RollingFingerprints(child: Expression, minLen: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BINARY argument, got ${other.catalogString}")
    }

  override def prettyName: String = "graft_rolling_fp"

  override protected def nullSafeEval(bytes: Any): Any =
    new GenericArrayData(
      RollingFingerprints.compute(bytes.asInstanceOf[Array[Byte]], minLen))

  // One static call per DOCUMENT from inside whole-stage codegen.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          graft.functions.RollingFingerprints.compute($b, $minLen));
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingFingerprints {

  /** Two 31-bit primes (independent moduli) and an odd base. */
  val P1 = 2147483629L
  val P2 = 2147483587L
  val B = 1000003L

  /** Decode UTF-8 into code points. Malformed bytes (impossible for
    * Spark-encoded input) decode byte-as-value, never throw.
    */
  private def codePoints(bytes: Array[Byte]): Array[Int] = {
    val out = new Array[Int](bytes.length)
    var i = 0
    var n = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xff
      val (cp, len) =
        if (b0 < 0x80) (b0, 1)
        else if ((b0 & 0xe0) == 0xc0 && i + 1 < bytes.length)
          (((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f), 2)
        else if ((b0 & 0xf0) == 0xe0 && i + 2 < bytes.length)
          (((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) |
            (bytes(i + 2) & 0x3f), 3)
        else if ((b0 & 0xf8) == 0xf0 && i + 3 < bytes.length)
          (((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
            ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f), 4)
        else (b0, 1)
      out(n) = cp
      n += 1
      i += len
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** Fingerprints of every length-`minLen` code-point window, in
    * position order (empty when the text is shorter than the window).
    * Called from generated code — Java-friendly signature.
    */
  def compute(bytes: Array[Byte], minLen: Int): Array[Long] = {
    val points = codePoints(bytes)
    val n = points.length
    if (n < minLen) return Array.emptyLongArray
    // B^(minLen-1) mod P, once per call (minLen is tiny).
    var pw1 = 1L
    var pw2 = 1L
    var i = 0
    while (i < minLen - 1) {
      pw1 = pw1 * B % P1
      pw2 = pw2 * B % P2
      i += 1
    }
    val out = new Array[Long](n - minLen + 1)
    var h1 = 0L
    var h2 = 0L
    i = 0
    while (i < minLen) {
      h1 = (h1 * B + points(i)) % P1
      h2 = (h2 * B + points(i)) % P2
      i += 1
    }
    out(0) = (h1 << 31) | h2
    var p = 1
    while (p <= n - minLen) {
      val cOut = points(p - 1)
      val cIn = points(p + minLen - 1)
      h1 = ((h1 + P1 - cOut * pw1 % P1) % P1 * B + cIn) % P1
      h2 = ((h2 + P2 - cOut * pw2 % P2) % P2 * B + cIn) % P2
      out(p) = (h1 << 31) | h2
      p += 1
    }
    out
  }

  /** Reference O(n·L) recomputation for the spec: fingerprint of each
    * window computed directly, no rolling update.
    */
  private[graft] def computeDirect(bytes: Array[Byte],
      minLen: Int): Array[Long] = {
    val points = codePoints(bytes)
    val n = points.length
    if (n < minLen) return Array.emptyLongArray
    Array.tabulate(n - minLen + 1) { p =>
      var h1 = 0L
      var h2 = 0L
      var j = p
      while (j < p + minLen) {
        h1 = (h1 * B + points(j)) % P1
        h2 = (h2 * B + points(j)) % P2
        j += 1
      }
      (h1 << 31) | h2
    }
  }
}

/** Column form of `graft_rolling_fp`; the session must carry graft's
  * table ([[graft.GraftSession]]).
  */
object RollingHash {

  /** Window fingerprints of a binary column. */
  def fingerprints(bin: Column, minLen: Int): Column =
    call_function("graft_rolling_fp", bin,
      org.apache.spark.sql.functions.lit(minLen))
}
