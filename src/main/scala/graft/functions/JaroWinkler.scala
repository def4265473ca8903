package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler string similarity (Jaro 1989; Winkler 1990) as a native
  * codegen expression — the record-linkage comparator that rewards
  * shared prefixes, complementing the builtin `levenshtein`.
  *
  * Semantics are pinned BYTE-FOR-BYTE to DuckDB's
  * `jaro_winkler_similarity` so the oracle is the engine builtin (no
  * replay SQL): classic Jaro over the UTF-8 BYTES (DuckDB compares
  * bytes, verified empirically on multi-byte input), match window
  * ⌊max(|a|,|b|)/2⌋−1, transpositions as INTEGER half-count (a 3-cycle
  * yields t=3 → 1, verified), empty-vs-anything 0.0 INCLUDING
  * empty-vs-empty (verified — not the rapidfuzz 1.0 convention), and
  * the Winkler prefix bonus (weight 0.1, prefix capped at 4 bytes)
  * applied only when jaro > 0.7. The arithmetic is the same three
  * divisions and one fused bonus on both engines, so values match to
  * the last bit and Num-rounding is belt-and-braces.
  *
  * Codegen emits one static call (the levenshtein/Md5Prefix pattern):
  * the kernel JITs once and whole-stage codegen stays unbroken around
  * the blocked-join filters it serves.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaroWinkler.similarity(
      l.asInstanceOf[UTF8String].getBytes,
      r.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinkler.similarity($a.getBytes(), $b.getBytes())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Classic Jaro on byte arrays; 0.0 when either side is empty. */
  def jaro(a: Array[Byte], b: Array[Byte]): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!mb(j) && a(i) == b(j)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val tr = t / 2 // INTEGER half-count — DuckDB-pinned (3-cycle probe)
    (m.toDouble / la + m.toDouble / lb + (m - tr).toDouble / m) / 3.0
  }

  /** Jaro with the Winkler prefix bonus (0.1 × prefix ≤ 4, only above
    * the 0.7 boost threshold) — DuckDB `jaro_winkler_similarity`. */
  def similarity(a: Array[Byte], b: Array[Byte]): Double = {
    val j = jaro(a, b)
    if (j <= 0.7) return j
    var p = 0
    val max = math.min(4, math.min(a.length, b.length))
    while (p < max && a(p) == b(p)) p += 1
    j + p * 0.1 * (1.0 - j)
  }
}
