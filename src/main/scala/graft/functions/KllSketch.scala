package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KLL-style mergeable quantile sketch (Karnin, Lang & Liberty, "Optimal
  * quantile approximation in streams", FOCS 2016) over LONG values —
  * the missing member of the sketch shelf (HLL/theta = cardinality,
  * count-min/space-saving = frequency, bloom = membership, THIS =
  * rank/quantile): a fixed-size summary whose merge is associative
  * state-combination, so percentiles at 100 TB shuffle k·log(n/k)
  * weighted items per partition instead of buffering values (the
  * percentile_approx shape, as graft infrastructure with inspectable
  * state).
  *
  * Structure: level h buffers items of weight 2^h with capacity
  * ⌈k·(2/3)^(H−1−h)⌉ (the KLL geometric schedule, floored at 8). A full
  * level sorts, promotes alternate elements to level h+1 (weights
  * double), and drops the rest; an odd straggler stays behind. Where
  * the paper flips a COIN for the alternation offset, this
  * implementation flips a per-level PARITY BIT — fully deterministic,
  * so the same data in the same partition order yields the identical
  * sketch, and the driver's replay/verdict checks are stable. The
  * textbook guarantee is probabilistic over the coin; here the error
  * is MEASURED instead of assumed — KllSpec pins rank error ≪ 2%·n on
  * adversarially-ordered streams at k = 256, and q_agg_kll
  * verdict-checks estimated quantiles against exact ranks in-plan
  * (the q_agg_approx_pct contract).
  *
  * Output: `array<struct<value long, weight long>>` sorted by value —
  * estimation stays relational (a cumulative-weight window over the
  * sketch-sized array), not baked into the aggregate.
  */
case class KllSketch(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllSketch.Summary] {

  private lazy val kRaw: Option[Long] =
    Option(kExpr.eval(InternalRow.empty)).map {
      case i: Int => i.toLong
      case l: Long => l
    }
  private lazy val k: Int = kRaw.get.toInt

  override def children: Seq[Expression] = Seq(child, kExpr)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType != LongType)
      TypeCheckFailure(
        s"graft_kll value must be BIGINT, got ${child.dataType.sql}")
    else if (!kExpr.foldable ||
        !(kExpr.dataType == IntegerType || kExpr.dataType == LongType))
      TypeCheckFailure("graft_kll k must be an integer literal")
    else kRaw match {
      case None => TypeCheckFailure("graft_kll k must not be null")
      case Some(v) if v < 8 || v > 65536 =>
        TypeCheckFailure(s"graft_kll k must be in [8, 65536], got $v")
      case _ => TypeCheckSuccess
    }
  }

  override def createAggregationBuffer(): KllSketch.Summary =
    new KllSketch.Summary(k)

  override def update(
      buf: KllSketch.Summary, input: InternalRow): KllSketch.Summary = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(
      buf: KllSketch.Summary, other: KllSketch.Summary): KllSketch.Summary = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: KllSketch.Summary): Any = KllSketch.pairs(buf)

  override def serialize(buf: KllSketch.Summary): Array[Byte] =
    KllSketch.ser(buf)

  override def deserialize(bytes: Array[Byte]): KllSketch.Summary =
    KllSketch.deser(bytes)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", LongType),
    StructField("weight", LongType))))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kll"

  override def withNewMutableAggBufferOffset(n: Int): KllSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllSketch =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object KllSketch {

  /** The mutable compactor stack. Invariant: Σ_h |levels(h)|·2^h = n. */
  final class Summary(val k: Int) {
    val levels: ArrayBuffer[ArrayBuffer[Long]] =
      ArrayBuffer(ArrayBuffer.empty[Long])
    val parity: ArrayBuffer[Boolean] = ArrayBuffer(false)
    var n: Long = 0L

    private def cap(h: Int): Int = {
      val top = levels.length - 1
      math.max(8, math.ceil(k * math.pow(2.0 / 3.0, top - h)).toInt)
    }

    def insert(v: Long): Unit = {
      levels(0) += v
      n += 1
      cascade()
    }

    private def cascade(): Unit = {
      var h = 0
      while (h < levels.length) {
        if (levels(h).length >= cap(h)) compact(h)
        h += 1
      }
    }

    /** Sort level h, promote alternate items (parity-offset start) to
      * h+1, keep an odd straggler behind. Deterministic: the parity
      * bit replaces the paper's coin and flips per compaction. */
    private def compact(h: Int): Unit = {
      if (h + 1 == levels.length) {
        levels += ArrayBuffer.empty[Long]
        parity += false
      }
      val buf = levels(h)
      val sorted = buf.sorted
      val m = sorted.length - (sorted.length % 2)
      val start = if (parity(h)) 1 else 0
      parity(h) = !parity(h)
      buf.clear()
      if (sorted.length % 2 == 1) buf += sorted.last
      var i = start
      while (i < m) {
        levels(h + 1) += sorted(i)
        i += 2
      }
    }

    def mergeIn(other: Summary): Unit = {
      while (levels.length < other.levels.length) {
        levels += ArrayBuffer.empty[Long]
        parity += false
      }
      var h = 0
      while (h < other.levels.length) {
        levels(h) ++= other.levels(h)
        h += 1
      }
      n += other.n
      cascade()
    }
  }

  /** The weighted sample as sorted (value, weight) rows — the shared
    * eval of [[KllSketch]] and [[KllMerge]]. */
  def pairs(buf: Summary): GenericArrayData = {
    val out = ArrayBuffer.empty[(Long, Long)]
    var h = 0
    while (h < buf.levels.length) {
      val w = 1L << h
      buf.levels(h).foreach(v => out += ((v, w)))
      h += 1
    }
    new GenericArrayData(out.sortBy(p => (p._1, p._2))
      .map(p => InternalRow(p._1, p._2)).toArray[Any])
  }

  /** Wire format: k, n, level count, then per level (parity, len,
    * values). Shared by shuffle serialization ([[KllSketch.serialize]])
    * and the persisted sketch-table partials ([[KllSketchBin]] →
    * [[KllMerge]]), so a stored sketch merges exactly like an
    * in-flight one. */
  def ser(buf: Summary): Array[Byte] = {
    val bb = ByteBuffer.allocate(
      16 + buf.levels.length * 12 + buf.levels.map(_.length).sum * 8)
    bb.putInt(buf.k)
    bb.putLong(buf.n)
    bb.putInt(buf.levels.length)
    buf.levels.indices.foreach { h =>
      bb.putInt(if (buf.parity(h)) 1 else 0)
      bb.putInt(buf.levels(h).length)
      buf.levels(h).foreach(bb.putLong)
    }
    bb.array()
  }

  def deser(bytes: Array[Byte]): Summary = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Summary(bb.getInt)
    buf.n = bb.getLong
    val nl = bb.getInt
    buf.levels.clear(); buf.parity.clear()
    var h = 0
    while (h < nl) {
      buf.parity += (bb.getInt == 1)
      val len = bb.getInt
      val lvl = new ArrayBuffer[Long](len)
      var i = 0
      while (i < len) { lvl += bb.getLong; i += 1 }
      buf.levels += lvl
      h += 1
    }
    buf
  }
}

/** [[KllSketch]] with a BINARY result — the persistable half of the
  * sketch-table pattern (Streaming.kllIngestBatch writes these as
  * `batch=<id>` partials; [[KllMerge]] folds them at read time). Same
  * buffer, same wire format as the shuffle path. */
case class KllSketchBin(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllSketch.Summary] {

  private lazy val kRaw: Option[Long] =
    Option(kExpr.eval(InternalRow.empty)).map {
      case i: Int => i.toLong
      case l: Long => l
    }
  private lazy val k: Int = kRaw.get.toInt

  override def children: Seq[Expression] = Seq(child, kExpr)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType != LongType)
      TypeCheckFailure(
        s"graft_kll_bin value must be BIGINT, got ${child.dataType.sql}")
    else if (!kExpr.foldable ||
        !(kExpr.dataType == IntegerType || kExpr.dataType == LongType))
      TypeCheckFailure("graft_kll_bin k must be an integer literal")
    else kRaw match {
      case None => TypeCheckFailure("graft_kll_bin k must not be null")
      case Some(v) if v < 8 || v > 65536 =>
        TypeCheckFailure(s"graft_kll_bin k must be in [8, 65536], got $v")
      case _ => TypeCheckSuccess
    }
  }

  override def createAggregationBuffer(): KllSketch.Summary =
    new KllSketch.Summary(k)
  override def update(
      buf: KllSketch.Summary, input: InternalRow): KllSketch.Summary = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }
  override def merge(
      buf: KllSketch.Summary, other: KllSketch.Summary): KllSketch.Summary = {
    buf.mergeIn(other); buf
  }
  override def eval(buf: KllSketch.Summary): Any = KllSketch.ser(buf)
  override def serialize(buf: KllSketch.Summary): Array[Byte] =
    KllSketch.ser(buf)
  override def deserialize(bytes: Array[Byte]): KllSketch.Summary =
    KllSketch.deser(bytes)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kll_bin"
  override def withNewMutableAggBufferOffset(n: Int): KllSketchBin =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllSketchBin =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllSketchBin =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

/** Folds serialized [[KllSketchBin]] partials back into one summary —
  * the read-side of the sketch table (hll_union_agg's role). Output is
  * the weighted sample, same as [[KllSketch]], so estimation SQL is
  * identical whether the sketch came from values or from partials. */
case class KllMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllSketch.Summary] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType != BinaryType)
      TypeCheckFailure(
        s"graft_kll_merge takes BINARY, got ${child.dataType.sql}")
    else TypeCheckSuccess
  }

  // k adopts the first merged partial's k (enforced consistent by the
  // ingest path); the placeholder never holds data
  override def createAggregationBuffer(): KllSketch.Summary =
    new KllSketch.Summary(8)
  override def update(
      buf: KllSketch.Summary, input: InternalRow): KllSketch.Summary = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val other = KllSketch.deser(v.asInstanceOf[Array[Byte]])
      if (buf.n == 0L && buf.k != other.k) {
        val fresh = new KllSketch.Summary(other.k)
        fresh.mergeIn(other)
        fresh
      } else { buf.mergeIn(other); buf }
    }
  }
  override def merge(
      buf: KllSketch.Summary, other: KllSketch.Summary): KllSketch.Summary =
    if (buf.n == 0L && other.n > 0L) other
    else { buf.mergeIn(other); buf }
  override def eval(buf: KllSketch.Summary): Any = KllSketch.pairs(buf)
  override def serialize(buf: KllSketch.Summary): Array[Byte] =
    KllSketch.ser(buf)
  override def deserialize(bytes: Array[Byte]): KllSketch.Summary =
    KllSketch.deser(bytes)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", LongType),
    StructField("weight", LongType))))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_kll_merge"
  override def withNewMutableAggBufferOffset(n: Int): KllMerge =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllMerge =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllMerge =
    copy(child = newChildren(0))
}
