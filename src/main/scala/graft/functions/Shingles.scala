package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_shingles(text, n)` — a custom Generator (the UDTF surface):
  * one output row per n-word shingle of the input text, produced
  * directly from the raw string with no intermediate token/shingle
  * arrays materialized per row.
  *
  * vs. the declarative `explode(array_distinct(transform(sequence(...),
  * ...)))` used in Dedup.shingles: same relation, but the generator
  * walks the string once and emits lazily — no per-row array allocation
  * of all shingles before the explode. Distinctness is left to the
  * caller (it is an aggregation concern, not a generation concern).
  */
case class Shingles(child: Expression, nExpr: Expression)
    extends Generator with CodegenFallback {

  /** Foldable n as a Long, null-safe; range-checked in
    * [[checkInputDataTypes]] before [[n]] is used. */
  private lazy val nRaw: Option[Long] =
    Option(nExpr.eval(InternalRow.empty)).map {
      case i: Int => i.toLong
      case l: Long => l
    }

  private lazy val n: Int = nRaw.get.toInt

  override def children: Seq[Expression] = Seq(child, nExpr)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType != StringType)
      TypeCheckFailure(s"graft_shingles expects a string, got ${child.dataType.sql}")
    else if (!nExpr.foldable ||
        !(nExpr.dataType == IntegerType || nExpr.dataType == LongType))
      TypeCheckFailure("graft_shingles n must be an integer literal")
    else nRaw match {
      case None => TypeCheckFailure("graft_shingles n must not be null")
      case Some(v) if v < 1 || v > Int.MaxValue =>
        TypeCheckFailure(s"graft_shingles n must be in [1, 2^31), got $v")
      case _ => TypeCheckSuccess
    }
  }

  override def elementSchema: StructType =
    StructType(Seq(StructField("shingle", StringType)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      // limit -1 keeps trailing empty tokens — the same semantics as
      // Spark's split(text, " "), so the generated relation matches the
      // declarative derivation exactly (limit 0 would drop them)
      val words = v.asInstanceOf[UTF8String].toString.split(" ", -1)
      if (words.length < n) Nil
      else (0 to words.length - n).iterator.map { i =>
        InternalRow(UTF8String.fromString(
          words.slice(i, i + n).mkString(" ")))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Shingles =
    copy(child = newChildren(0), nExpr = newChildren(1))
}
