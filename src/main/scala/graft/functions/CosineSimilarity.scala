package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity over two `array<float>` embedding columns as a native
  * Catalyst expression with whole-stage codegen — the preferred extension
  * path (SURVEY.md §4): a Scala UDF would box every array and fall out of
  * codegen; this compiles to a tight primitive loop inside the generated
  * stage, which is what a 12M-pair near-dup self-join needs.
  *
  * Numerics: every element promotes to double, and all three accumulators
  * (dot, ‖a‖², ‖b‖²) fold sequentially left-to-right, so results are
  * bitwise-identical to the declarative
  * `aggregate(zip_with(a,b,(x,y)=>x*y),0d,_+_) / sqrt(...)` composition and
  * to the DuckDB oracle's `list_sum(list_transform(...)) / sqrt(...)`.
  *
  * Null handling: a null array yields null (BinaryExpression default),
  * and so does a DIMENSION MISMATCH — a cosine over the common prefix of
  * differently-sized vectors would be a plausible-looking wrong answer.
  * Null *elements* are not expected in embedding data and read as 0.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  /** Element type shared by both sides: float (stored embeddings) or
    * double (derived vectors — k-means centroids). Mixed widths are
    * rejected rather than silently promoted: the caller should decide
    * where the promotion happens so the fold order stays explicit. */
  private lazy val elementType: Option[DataType] =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => Some(FloatType)
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => Some(DoubleType)
      case _ => None
    }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (elementType.isDefined)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects (array<float>, array<float>) or " +
        s"(array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  private lazy val isDouble: Boolean = elementType.contains(DoubleType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // dimension mismatch has no meaningful cosine — return null rather
    // than a plausible-looking score over the common prefix
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val dbl = isDouble
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (dbl) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (dbl) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val get = if (isDouble) "getDouble" else "getFloat"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $a.$get($i);
         |    double $y = (double) $b.$get($i);
         |    $dot += $x * $y;
         |    $na += $x * $x;
         |    $nb += $y * $y;
         |  }
         |  ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
