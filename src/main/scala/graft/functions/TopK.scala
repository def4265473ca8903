package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: keeps the k highest-scoring (score, id) pairs
  * per group, ties broken toward the smaller id. Returns
  * `array<struct<score double, id bigint>>` sorted score-desc, id-asc.
  *
  * This is the partial top-k the kNN shuffle needs: a ranking window over
  * scored candidates shuffles EVERY scored row to the query's reducer,
  * while this aggregate combines map-side — each partition forwards at
  * most k pairs per group, so the exchange carries O(groups·k·partitions)
  * rows no matter how many candidates were scored. Same trick as Spark's
  * global TakeOrderedAndProject, per key.
  *
  * Buffer: a flat Array[(Double, Long)] kept ≤ k (insertion keeps the
  * worst element identifiable by linear scan — k is small by contract).
  */
case class TopK(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[(Double, Long)]] {

  /** Foldable k as a Long, null-safe; range-checked in
    * [[checkInputDataTypes]] before [[k]] is used. */
  private lazy val kRaw: Option[Long] =
    Option(kExpr.eval(InternalRow.empty)).map {
      case i: Int => i.toLong
      case l: Long => l
    }

  private lazy val k: Int = kRaw.get.toInt

  override def children: Seq[Expression] = Seq(score, id, kExpr)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (score.dataType != DoubleType)
      TypeCheckFailure(s"graft_topk score must be DOUBLE, got ${score.dataType.sql}")
    else if (id.dataType != LongType)
      TypeCheckFailure(s"graft_topk id must be BIGINT, got ${id.dataType.sql}")
    else if (!kExpr.foldable ||
        !(kExpr.dataType == IntegerType || kExpr.dataType == LongType))
      TypeCheckFailure("graft_topk k must be an integer literal")
    else kRaw match {
      case None => TypeCheckFailure("graft_topk k must not be null")
      case Some(v) if v < 1 || v > Int.MaxValue =>
        TypeCheckFailure(s"graft_topk k must be in [1, 2^31), got $v")
      case _ => TypeCheckSuccess
    }
  }

  type Buf = scala.collection.mutable.ArrayBuffer[(Double, Long)]

  override def createAggregationBuffer(): Buf =
    new scala.collection.mutable.ArrayBuffer[(Double, Long)](k + 1)

  /** true if a beats b (higher score, then smaller id). */
  private def beats(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  private def insert(buf: Buf, cand: (Double, Long)): Unit =
    if (buf.length < k) buf += cand
    else {
      // replace the worst element if the candidate beats it
      var worst = 0
      var i = 1
      while (i < buf.length) {
        if (beats(buf(worst), buf(i))) worst = i
        i += 1
      }
      if (beats(cand, buf(worst))) buf(worst) = cand
    }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      insert(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    other.foreach(insert(buf, _))
    buf
  }

  override def eval(buf: Buf): Any = {
    val sorted = buf.sortWith(beats)
    new GenericArrayData(sorted.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.length * 16)
    bb.putInt(buf.length)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf += ((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType),
    StructField("id", LongType))))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  override def withNewMutableAggBufferOffset(n: Int): TopK =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopK =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopK =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}
