package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** KMV ("k minimum values") theta sketch — distinct-count sketching WITH
  * set algebra, the capability HLL registers fundamentally lack. Keeps
  * the k smallest 63-bit hashes of the distinct inputs; the k-th
  * minimum θ estimates density (Bar-Yossef, Jayram, Kumar, Sivakumar &
  * Trevisan, "Counting distinct elements in a data stream", RANDOM
  * 2002; the θ-sketch set-operation framing of Dasgupta, Lang, Rhodes &
  * Thaler, "A framework for estimating stream expression cardinalities",
  * ICDT 2016).
  *
  * Why it earns its place next to [[HllSketch]]: two HLL sketches can
  * only union (register max), so |A ∩ B| is unobtainable from stored
  * HLLs. Theta sketches intersect directly — restrict both hash sets to
  * θ = min(θ_A, θ_B) and count common survivors — so a persisted
  * per-segment sketch table answers overlap/retention questions
  * (customers active in BOTH years) without re-scanning facts. Below k
  * distinct values the sketch IS the exact hashed set and estimates are
  * exact; above k the standard (k−1)/θ estimator applies. Partial
  * aggregation ships ≤ k longs per group per partition and merge keeps
  * the k smallest of the union — map-side combinable, merge-order
  * independent.
  *
  * The aggregate evaluates to the serialized sketch (BinaryType), like
  * Spark's own hll_sketch_agg: sketches are data, stored in tables and
  * combined later by [[ThetaEstimate]] / [[ThetaIntersectEstimate]].
  * Hashing mirrors [[HllSketch]] (FNV-1a 64 + splitmix finalizer) so
  * both sketch families see identical value identity.
  */
case class ThetaSketch(
    child: Expression,
    k: Int = ThetaSketch.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with UnaryLike[Expression] {
  require(k >= 16, "theta sketch needs k >= 16")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(
      buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = ThetaSketch.hash63(v)
      // keep only hashes below the current θ (the k-th minimum)
      if (buf.size < k) { buf.add(h); () }
      else if (h < buf.last()) {
        if (buf.add(h)) { buf.pollLast(); () }
      }
    }
    buf
  }

  override def merge(
      buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (buf.size < k) { buf.add(h); () }
      else if (h < buf.last()) {
        if (buf.add(h)) { buf.pollLast(); () }
      }
    }
    buf
  }

  /** Wire format (also the partial-aggregation form):
    * [k:int][n:int][n ascending longs]. */
  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * buf.size)
    bb.putInt(k).putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.getInt() // k — fixed per aggregate instance
    val n = bb.getInt()
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong()); i += 1 }
    set
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    serialize(buf)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_theta"

  override def withNewMutableAggBufferOffset(n: Int): ThetaSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): ThetaSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketch =
    copy(child = newChild)
}

object ThetaSketch {
  val DefaultK = 4096
  /** θ when the sketch holds fewer than k values (exact mode): hashes
    * are uniform on [0, 2^63), so the "everything retained" threshold. */
  val MaxTheta: Long = Long.MaxValue

  /** splitmix64 finalizer — identical to [[HllSketch]]'s. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    mix(h)
  }

  /** 63-bit hash, uniform on [0, 2^63) — θ arithmetic stays unsigned-free. */
  def hash63(v: Any): Long = (v match {
    case l: Long => mix(l)
    case i: Int => mix(i.toLong)
    case s: UTF8String => hashBytes(s.getBytes)
    case d: Double => mix(java.lang.Double.doubleToLongBits(d))
    case f: Float => mix(java.lang.Float.floatToIntBits(f).toLong)
    case other => hashBytes(other.toString.getBytes("UTF-8"))
  }) >>> 1

  /** Parsed wire form. */
  private[functions] final case class Parsed(k: Int, hashes: Array[Long]) {
    /** θ = the largest retained hash once the sketch saturated at k. */
    def theta: Long =
      if (hashes.length < k) MaxTheta else hashes(hashes.length - 1)
    def estimate: Long =
      if (hashes.length < k) hashes.length.toLong
      else math.round((k - 1).toDouble * MaxTheta.toDouble / theta.toDouble)
  }

  private[functions] def parse(bytes: Array[Byte]): Parsed = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val k = bb.getInt()
    val n = bb.getInt()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = bb.getLong(); i += 1 }
    Parsed(k, hs)
  }

  /** |A ∩ B| from two serialized sketches: both hash sets restricted to
    * θ_C = min(θ_A, θ_B), common survivors counted by a sorted merge
    * walk, scaled back by θ_C's density. Exact when both sketches are
    * exact-mode. */
  def intersectEstimate(a: Array[Byte], b: Array[Byte]): Long = {
    val pa = parse(a)
    val pb = parse(b)
    val thetaC = math.min(pa.theta, pb.theta)
    var i = 0
    var j = 0
    var common = 0L
    while (i < pa.hashes.length && j < pb.hashes.length &&
      pa.hashes(i) < thetaC && pb.hashes(j) < thetaC) {
      val c = java.lang.Long.compare(pa.hashes(i), pb.hashes(j))
      if (c == 0) { common += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    if (thetaC == MaxTheta) common
    else math.round(common.toDouble * MaxTheta.toDouble / thetaC.toDouble)
  }
}

/** Distinct-count estimate of a serialized theta sketch. CodegenFallback
  * is deliberate: these finalizers run on rows-of-sketch-tables (one per
  * group), never on the fact-scan hot path — the per-row cost that
  * matters was paid map-side inside the aggregate. */
case class ThetaEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a theta sketch (binary), got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_theta_est"
  override protected def nullSafeEval(input: Any): Any =
    ThetaSketch.parse(input.asInstanceOf[Array[Byte]]).estimate
  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
}

/** |A ∩ B| estimate from two serialized theta sketches (see
  * [[ThetaSketch.intersectEstimate]]). */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two theta sketches (binary), got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_theta_intersect"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ThetaSketch.intersectEstimate(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaIntersectEstimate =
    copy(left = newLeft, right = newRight)
}
