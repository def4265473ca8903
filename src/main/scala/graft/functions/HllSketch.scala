package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog distinct-count sketch as a TypedImperativeAggregate — the
  * UDAF extension surface (SURVEY.md §4). 2^12 = 4096 byte registers
  * (σ ≈ 1.04/√m ≈ 1.6%), the estimator of Flajolet, Fusy, Gandouet &
  * Meunier, "HyperLogLog: the analysis of a near-optimal cardinality
  * estimation algorithm" (AofA 2007), with the linear-counting
  * small-range correction (Whang et al. 1990).
  *
  * The buffer is the raw register array, so partial aggregation ships
  * 4 KiB per group per partition and merge is an elementwise max — the
  * map-side-combinable shape that makes distinct counting feasible at
  * 100 TB where an exact distinct would shuffle every key.
  *
  * Cross-checked in q_agg_approx against the exact count (±5%) rather
  * than against another engine's HLL — sketch internals are
  * implementation-defined, accuracy bounds are not.
  */
case class HllSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  import HllSketch.{M, insert, registerMax}

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v)
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    registerMax(buf, other)

  override def eval(buf: Array[Byte]): Any = HllSketch.estimate(buf)

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll"

  override def withNewMutableAggBufferOffset(n: Int): HllSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): HllSketch =
    copy(child = newChild)
}

object HllSketch {
  private[graft] val P = 12
  private[graft] val M = 1 << P // 4096 registers

  /** splitmix64 — a strong, cheap, deterministic 64-bit mixer. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over the raw bytes — full 64-bit entropy for strings
    * (a 32-bit hashCode pre-hash would cap the sketch at ~2^32 and bias
    * large cardinalities low), then the splitmix finalizer. */
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

  private def hashOf(v: Any): Long = v match {
    case l: Long => mix(l)
    case i: Int => mix(i.toLong)
    case s: UTF8String => hashBytes(s.getBytes)
    case d: Double => mix(java.lang.Double.doubleToLongBits(d))
    case f: Float => mix(java.lang.Float.floatToIntBits(f).toLong)
    case b: Array[Byte] => hashBytes(b)
    case sh: Short => mix(sh.toLong)
    case by: Byte => mix(by.toLong)
    case bo: Boolean => mix(if (bo) 1L else 0L)
    case dec: org.apache.spark.sql.types.Decimal =>
      hashBytes(dec.toJavaBigDecimal.unscaledValue.toByteArray)
    case other => hashBytes(other.toString.getBytes("UTF-8"))
  }

  /** Register counts other than the 4096 default must be powers of two
    * in this range — small enough to stay a byte-indexed array, large
    * enough that the idx/rank split leaves ≥ 48 rank bits. */
  private[graft] def validRegisterCount(m: Int): Boolean =
    m >= 16 && m <= 65536 && java.lang.Integer.bitCount(m) == 1

  /** Insert one value into a register array (mutates `buf`). The
    * register count — and with it the idx/rank bit split — is carried
    * by the ARRAY LENGTH, so the same code path serves the 4096-register
    * statistics sketches and the small-m (e.g. 16-register) per-node
    * counters HyperBall-style neighborhood functions ship around. */
  private[graft] def insert(buf: Array[Byte], v: Any): Unit = {
    val p = java.lang.Integer.numberOfTrailingZeros(buf.length)
    val h = hashOf(v)
    val idx = (h >>> (64 - p)).toInt
    val rest = h << p
    val rank = (java.lang.Long.numberOfLeadingZeros(rest | 1L) + 1).toByte
    if (rank > buf(idx)) buf(idx) = rank
  }

  /** Elementwise register max — the HLL union (mutates and returns
    * `buf`). Order-free and idempotent, which is what makes per-file
    * sketches mergeable across any pruning subset. */
  private[graft] def registerMax(
      buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    require(other.length == buf.length,
      s"graft_hll register arrays of different sizes " +
        s"(${buf.length} vs ${other.length}) cannot merge")
    var i = 0
    while (i < buf.length) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  /** The FFGM estimator with linear-counting small-range correction.
    *
    * The register sum Σ 2^−reg is computed EXACTLY in integer units of
    * 2^−64 (terms are powers of two; a float fold over 4096 registers
    * rounds at nearly every add and its value depends on fold order),
    * then collapses to double in ONE division. That makes the estimate
    * an order-free pure function of the register ARRAY — so a DuckDB
    * oracle can replay it bit-for-bit (HUGEINT sum + the same two IEEE
    * ops), turning the HLL accuracy verdict into a value-exact check
    * (q_agg_approx). */
  private[graft] def estimate(buf: Array[Byte]): Long = {
    val m = buf.length
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    // per-register-value histogram: ranks are ≤ 64, so S = Σ cnt(r)·2^(64−r)
    val cnt = new Array[Int](65)
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = buf(i).toInt
      cnt(r) += 1
      if (r == 0) zeros += 1
      i += 1
    }
    var s = java.math.BigInteger.ZERO
    var r = 0
    while (r <= 64) {
      if (cnt(r) > 0)
        s = s.add(java.math.BigInteger.valueOf(cnt(r).toLong)
          .shiftLeft(64 - r))
      r += 1
    }
    val invSum = s.doubleValue() / 1.8446744073709552E19 // = 2^64 exactly
    val raw = alpha * m.toDouble * m.toDouble / invSum
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    math.round(est)
  }

  /** Public entry point for codegen'd scalar calls
    * ([[HllEstimate]]'s generated Java). */
  def estimateBytes(buf: Array[Byte]): Long = {
    require(validRegisterCount(buf.length),
      s"graft_hll_est: ${buf.length} bytes is not a register array " +
        "(need a power-of-two length in [16, 65536])")
    estimate(buf)
  }

  /** `graft_hll_regs(key[, registers])`'s [[Functions]] builder: the
    * register count must be a power-of-two INT literal. */
  private[graft] val regsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1 || exprs.length == 2,
      "graft_hll_regs takes 1 or 2 arguments: (key[, registers])")
    val m = if (exprs.length == 1) M else exprs(1) match {
      case Literal(v: Int, IntegerType) if validRegisterCount(v) => v
      case other => throw new IllegalArgumentException(
        "graft_hll_regs: register count must be a power-of-two INT " +
          s"literal in [16, 65536], got $other")
    }
    HllRegisters(exprs.head, m)
  }
}

/** The same sketch, evaluated to its RAW REGISTER ARRAY instead of the
  * estimate — what a persisted statistics row stores so that unions
  * across arbitrary file subsets stay possible (register max), with
  * the estimate taken once at read time. The zone-map source's
  * per-column NDV statistics are built from these. */
case class HllRegisters(
    child: Expression,
    registers: Int = HllSketch.M,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  import HllSketch.{insert, registerMax}

  override def createAggregationBuffer(): Array[Byte] =
    new Array[Byte](registers)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v)
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    registerMax(buf, other)

  override def eval(buf: Array[Byte]): Any = buf

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll_regs"

  override def withNewMutableAggBufferOffset(n: Int): HllRegisters =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllRegisters =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(
      newChild: Expression): HllRegisters =
    copy(child = newChild)
}

/** Register-max RE-aggregation of stored register blobs —
  * `graft_hll_union(blob)` — the other half of the sketch-table
  * pattern: [[HllRegisters]] turns keys into blobs once, this merges
  * persisted blobs under any later grouping (coarser rollups, file
  * subsets, per-node neighborhood counters) without touching keys
  * again. The register count rides in each blob's length; the buffer
  * adopts the first input's size and mixed sizes fail loudly. Register
  * max is commutative, associative and idempotent, so partial
  * aggregation order and AQE coalescing cannot change the result. */
case class HllUnion(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  import HllSketch.{registerMax, validRegisterCount}

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BINARY register blob, got " +
        child.dataType.sql)

  // empty sentinel until the first blob fixes the register count
  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def absorb(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    if (other.isEmpty) buf
    else if (buf.isEmpty) {
      require(validRegisterCount(other.length),
        s"graft_hll_union: ${other.length} bytes is not a register " +
          "array (need a power-of-two length in [16, 65536])")
      other.clone()
    } else registerMax(buf, other)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buf else absorb(buf, v.asInstanceOf[Array[Byte]])
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    absorb(buf, other)

  override def eval(buf: Array[Byte]): Any = if (buf.isEmpty) null else buf

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hll_union"

  override def withNewMutableAggBufferOffset(n: Int): HllUnion =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HllUnion =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(
      newChild: Expression): HllUnion =
    copy(child = newChild)
}

/** `graft_hll_est(blob)` — the FFGM estimate of a stored register blob
  * as a codegen'd SCALAR, so a persisted sketch column (or a per-node
  * neighborhood counter) evaluates without an aggregate wrapper. Same
  * estimator as [[HllSketch.estimate]], register count from the blob
  * length. */
case class HllEstimate(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BINARY register blob, got " +
        child.dataType.sql)

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hll_est"

  override protected def nullSafeEval(blob: Any): Any =
    HllSketch.estimateBytes(blob.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b =>
      s"graft.functions.HllSketch$$.MODULE$$.estimateBytes($b)")

  override protected def withNewChildInternal(
      newChild: Expression): HllEstimate =
    copy(child = newChild)
}
