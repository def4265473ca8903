package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Space-saving heavy hitters (Metwally, Agrawal & El Abbadi, "Efficient
  * computation of frequent and top-k elements in data streams", ICDT
  * 2005), mergeable per Agarwal et al., "Mergeable summaries" (PODS
  * 2012): `m` counters per aggregation state, each `(item, count, err)`
  * with the invariant `count - err <= true <= count` for every tracked
  * item.
  *
  * Stream update: a tracked item increments; an untracked item evicts
  * the minimum counter `(cmin)` and enters as `(cmin + 1, cmin)`.
  * Merge: counts and errors add for items in both summaries; an item
  * absent from one side charges that side's pessimistic minimum (its
  * min counter when full, 0 otherwise) to BOTH count and err — keeping
  * both invariant directions — then the union trims back to the top
  * `m` by count (ties broken by item for determinism).
  *
  * Why this exists next to an exact `groupBy(token).count`: the exact
  * plan shuffles one row per DISTINCT token (the vocabulary — billions
  * of keys in web-scale text); this aggregate shuffles `m` counters
  * per partition, full stop. The guarantee is one-sided in frequency:
  * any item with true count > n/m survives every trim (its count never
  * drops below true - n/m > the evicted mass), so heavy items are
  * always REPORTED, with their true count inside `[count - err,
  * count]`. Borderline items may differ run to run with merge order —
  * consumers (and the oracle) must assert the invariants, not exact
  * sketch contents.
  *
  * Output: `array<struct<item string, count long, err long>>` sorted
  * count-desc, item-asc.
  */
case class FreqSketch(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FreqSketch.Summary] {

  private lazy val kRaw: Option[Long] =
    Option(kExpr.eval(InternalRow.empty)).map {
      case i: Int => i.toLong
      case l: Long => l
    }
  private lazy val m: Int = kRaw.get.toInt

  override def children: Seq[Expression] = Seq(child, kExpr)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType != StringType)
      TypeCheckFailure(s"graft_freq item must be STRING, got ${child.dataType.sql}")
    else if (!kExpr.foldable ||
        !(kExpr.dataType == IntegerType || kExpr.dataType == LongType))
      TypeCheckFailure("graft_freq m must be an integer literal")
    else kRaw match {
      case None => TypeCheckFailure("graft_freq m must not be null")
      case Some(v) if v < 1 || v > 4096 =>
        TypeCheckFailure(s"graft_freq m must be in [1, 4096], got $v")
      case _ => TypeCheckSuccess
    }
  }

  override def createAggregationBuffer(): FreqSketch.Summary =
    new FreqSketch.Summary(m)

  override def update(buf: FreqSketch.Summary, input: InternalRow): FreqSketch.Summary = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: FreqSketch.Summary, other: FreqSketch.Summary): FreqSketch.Summary = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: FreqSketch.Summary): Any = {
    val sorted = buf.entries.toArray
      .sortBy { case (item, (c, _)) => (-c, item) }
    new GenericArrayData(sorted.map { case (item, (c, e)) =>
      InternalRow(UTF8String.fromString(item), c, e)
    }.toArray[Any])
  }

  override def serialize(buf: FreqSketch.Summary): Array[Byte] = {
    val items = buf.entries.toArray
    val payload = items.map { case (s, _) => s.getBytes(StandardCharsets.UTF_8) }
    val bb = ByteBuffer.allocate(
      8 + payload.map(_.length + 20).sum)
    bb.putInt(buf.m)
    bb.putInt(items.length)
    items.zip(payload).foreach { case ((_, (c, e)), bytes) =>
      bb.putInt(bytes.length)
      bb.put(bytes)
      bb.putLong(c)
      bb.putLong(e)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FreqSketch.Summary = {
    val bb = ByteBuffer.wrap(bytes)
    val mm = bb.getInt
    val n = bb.getInt
    val buf = new FreqSketch.Summary(mm)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      buf.entries.put(new String(arr, StandardCharsets.UTF_8), (bb.getLong, bb.getLong))
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType),
    StructField("count", LongType),
    StructField("err", LongType))))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_freq"

  override def withNewMutableAggBufferOffset(n: Int): FreqSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): FreqSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqSketch =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object FreqSketch {

  /** The mutable space-saving state: item → (count, err), at most `m`
    * tracked items. */
  final class Summary(val m: Int) {
    val entries = scala.collection.mutable.HashMap.empty[String, (Long, Long)]

    def insert(item: String): Unit = entries.get(item) match {
      case Some((c, e)) => entries.update(item, (c + 1, e))
      case None if entries.size < m => entries.update(item, (1L, 0L))
      case None =>
        // deterministic victim under count ties: smallest item string
        val (victim, (cmin, _)) =
          entries.minBy { case (i2, (c, _)) => (c, i2) }
        entries.remove(victim)
        entries.update(item, (cmin + 1, cmin))
    }

    /** Pessimistic charge for items this summary never saw: its minimum
      * counter when full (anything unseen could have up to that count
      * absorbed into evictions), zero while it still has free slots. */
    private def floor: Long =
      if (entries.size < m) 0L else entries.valuesIterator.map(_._1).min

    def mergeIn(other: Summary): Unit = {
      val fSelf = floor
      val fOther = other.floor
      val union = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
      entries.foreach { case (item, (c, e)) =>
        other.entries.get(item) match {
          case Some((c2, e2)) => union.update(item, (c + c2, e + e2))
          case None => union.update(item, (c + fOther, e + fOther))
        }
      }
      other.entries.foreach { case (item, (c2, e2)) =>
        if (!entries.contains(item))
          union.update(item, (c2 + fSelf, e2 + fSelf))
      }
      entries.clear()
      union.toArray
        .sortBy { case (item, (c, _)) => (-c, item) }
        .take(m)
        .foreach { case (item, ce) => entries.update(item, ce) }
    }
  }
}
