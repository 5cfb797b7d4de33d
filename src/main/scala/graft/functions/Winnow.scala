package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** Whole-document winnowing fingerprints as ONE native expression.
  *
  * MOSS-style winnowing (Schleimer et al., SIGMOD'03): hash every
  * k-byte gram of the document, keep the minimum of each sliding
  * window of `w` consecutive gram hashes, return the sorted distinct
  * minima — a position-robust fingerprint set for near-dup detection.
  *
  * Why an expression and not a relational pipeline: the first cut
  * (explode positions → per-position md5 → window-min → re-aggregate)
  * paid per-GRAM row overhead — an md5, a hex→int conv, an O(position)
  * codepoint scan inside `substring`, a 1.5M-row sort feeding
  * WindowExec — 36.7 s at sf0.1 for ~1.5 MB of text, a pure CPU wall
  * at 100 TB. The whole computation is local to one document, so it
  * belongs in a single O(n) pass over the UTF-8 bytes: no explode, no
  * shuffle, no window exec; the operator becomes a plain projection
  * that runs at parquet-scan speed (~100× less work per byte).
  *
  * Determinism contract (mirrored exactly by the DuckDB oracle SQL in
  * TextAnalysis.t06):
  *  - gram code g(pos) = big-endian unsigned integer of bytes
  *    [pos, pos+k) — at k=5 a 40-bit value, exactly what DuckDB's
  *    `CAST('0x' || substr(hex(blob), (pos-1)*2+1, 2k) AS BIGINT)`
  *    yields; the tail-less short-document gram (n < k) takes the
  *    available bytes, the empty document takes g = 0;
  *  - h = ((g mod P) · A + B) mod P, a Carter-Wegman mix into
  *    pseudo-random order (raw byte order would bias minima toward
  *    low-byte grams); all intermediates < 2^56, exact in a long;
  *  - gram positions 1..max(n-k+1, 1); window at pos spans hashes
  *    [pos, min(pos+w-1, end)] — identical to a ROWS BETWEEN CURRENT
  *    ROW AND w-1 FOLLOWING frame over the gram rows.
  */
case class WinnowFingerprints(child: Expression, k: Int = 5, w: Int = 8)
    extends UnaryExpression {

  // Input must be binary; callers (Winnow.fingerprints) encode
  // upstream. Output is the sorted distinct minima, never null
  // elements.
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // Analysis-time type check: without it a SQL caller passing a raw
  // string column would hit a runtime ClassCastException in
  // nullSafeEval instead of an AnalysisException up front.
  // (checkInputDataTypes is public API; ExpectsInputTypes is
  // private[sql].)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BINARY argument, got ${other.catalogString}")
    }

  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(bytes: Any): Any =
    new GenericArrayData(
      WinnowFingerprints.compute(bytes.asInstanceOf[Array[Byte]], k, w))

  // One static call per DOCUMENT (not per gram) from inside
  // whole-stage codegen — the O(n) loop itself lives in compute().
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
          graft.functions.WinnowFingerprints.compute($b, $k, $w));
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFingerprints {

  /** Carter-Wegman parameters (P = the prime used by the minhash
    * family; A·P < 2^56 keeps every intermediate exact in a long).
    */
  val P = 268435399L
  val A = 123457L
  val B = 987631L

  /** Sorted distinct window minima of the CW-mixed k-gram hashes.
    * Called from generated code — keep the signature Java-friendly.
    */
  def compute(bytes: Array[Byte], k: Int, w: Int): Array[Long] = {
    val n = bytes.length
    val m = math.max(n - k + 1, 1) // gram positions (>=1, see contract)
    val h = new Array[Long](m)
    var i = 0
    while (i < m) {
      var g = 0L
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        g = (g << 8) | (bytes(j) & 0xffL)
        j += 1
      }
      h(i) = ((g % P) * A + B) % P
      i += 1
    }
    // O(m·w) sliding min — w is small (8); a deque would only help for
    // large windows.
    val mins = new Array[Long](m)
    i = 0
    while (i < m) {
      var mn = h(i)
      var j = i + 1
      val end = math.min(i + w, m)
      while (j < end) {
        if (h(j) < mn) mn = h(j)
        j += 1
      }
      mins(i) = mn
      i += 1
    }
    java.util.Arrays.sort(mins)
    // in-place dedup of the sorted minima
    var out = 0
    i = 0
    while (i < m) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(out) = mins(i); out += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(mins, out)
  }
}

/** Column form of `graft_winnow`; the session must carry graft's
  * table ([[graft.GraftSession]]).
  */
object Winnow {

  /** Winnowing fingerprint set of a binary column. */
  def fingerprints(bin: Column): Column = call_function("graft_winnow", bin)
}
