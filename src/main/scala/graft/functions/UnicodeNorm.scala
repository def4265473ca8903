package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a native codegen expression — the first
  * transform a multilingual corpus pipeline applies, because every
  * downstream equality (exact dedup hashes, shingles, token ids,
  * GROUP BY keys) silently fractures when the same glyph arrives both
  * composed (U+00E9) and decomposed (e + U+0301). Spark ships no
  * normalizer builtin, so this is the genuine extension-surface case:
  * a unary `Expression` over the JDK's UAX #15 implementation
  * (`java.text.Normalizer`), codegen'd as one static call so
  * whole-stage codegen stays unbroken around the scan it runs in.
  *
  * Forms: NFC / NFD / NFKC / NFKD, plus STRIP — canonical-decompose
  * then drop every combining mark (categories Mn / Mc / Me), the
  * accent-folding transform search pipelines apply before matching.
  * STRIP is pinned to DuckDB `strip_accents` semantics (utf8proc
  * STRIPMARK: marks removed, NO recomposition pass afterwards, and
  * atomic non-decomposable letters like U+00F8 pass through); NFC is
  * pinned to DuckDB `nfc_normalize` — both empirically verified on
  * composed/decomposed Latin pairs, which is what makes
  * q_text_normalize hash-checkable cross-engine.
  *
  * The form is a plan-time constant (part of the case class, not a
  * child), so codegen embeds it as a literal and the per-row work is
  * a single normalize call — no branching on form at runtime.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string, got ${child.dataType.sql}")
    else if (!UnicodeNormalize.forms(form))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName form must be one of " +
          s"${UnicodeNormalize.forms.mkString(", ")}, got '$form'")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize"

  override protected def nullSafeEval(v: Any): Any =
    UnicodeNormalize.normalize(v.asInstanceOf[UTF8String], form)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"""graft.functions.UnicodeNormalize.normalize($s, "$form")""")

  override protected def withNewChildInternal(
      newChild: Expression): UnicodeNormalize = copy(child = newChild)
}

object UnicodeNormalize {

  val forms: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD", "STRIP")

  private def isMark(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.NON_SPACING_MARK ||
      t == Character.COMBINING_SPACING_MARK ||
      t == Character.ENCLOSING_MARK
  }

  /** The per-row kernel (also the codegen target). */
  def normalize(s: UTF8String, form: String): UTF8String = {
    val str = s.toString
    val out = form match {
      case "STRIP" =>
        val d = java.text.Normalizer.normalize(
          str, java.text.Normalizer.Form.NFD)
        val sb = new java.lang.StringBuilder(d.length)
        var i = 0
        while (i < d.length) {
          val cp = d.codePointAt(i)
          if (!isMark(cp)) sb.appendCodePoint(cp)
          i += Character.charCount(cp)
        }
        sb.toString
      case f =>
        java.text.Normalizer.normalize(
          str, java.text.Normalizer.Form.valueOf(f))
    }
    UTF8String.fromString(out)
  }

  /** `graft_normalize(s, 'NFC'|'NFD'|'NFKC'|'NFKD'|'STRIP')`'s
    * [[Functions]] builder: the form must be a literal. */
  private[graft] def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      "graft_normalize takes (string, form-literal)")
    val form = exprs(1) match {
      case l if l.foldable =>
        String.valueOf(l.eval(null)).toUpperCase
      case _ => throw new IllegalArgumentException(
        "graft_normalize form must be a literal")
    }
    UnicodeNormalize(exprs.head, form)
  }
}
