package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Sequence-alignment kernels as native codegen expressions — the
  * wavefront-DP successor pack. q_eval_rougel and q_link_align first
  * shipped as anti-diagonal higher-order-aggregate folds (exact, zero
  * shuffles, but honest O(n·m) with a per-cell list-allocation
  * constant); these kernels keep the identical semantics and cut the
  * constant by orders of magnitude, so the same DuckDB wavefront
  * oracles hash-match unchanged.
  *
  * [[LcsLength]] is the Allison–Dix / Crochemore–Iliopoulos–Pinzón–Reid
  * bit-parallel LCS (the CIPR 2001 recurrence, Hyyrö 2004's
  * formulation): the first sequence's positions become BITS, per input
  * symbol the whole column of the DP advances as
  * `V = (V + (V & M)) | (V − (V & M))` — 64 DP cells per machine word,
  * multi-word carry-exact, LCS = n − popcount(V). Same exact answer as
  * the textbook DP at ~1/64 the cell cost.
  *
  * [[SwScore]] is Smith–Waterman local alignment (1981) over interned
  * symbol ids with two primitive int rows — the plain exact DP in a
  * tight JVM loop. Banding is deliberately NOT applied: the consumers
  * aggregate EVERY pair's score (no admission threshold), so a band
  * could only be lossy; the win here is the constant, not the
  * asymptotics.
  *
  * Both match SQL equality semantics for the element comparisons: a
  * NULL element matches nothing, including another NULL.
  */
case class LcsLength(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_lcs_len"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    Align.lcsLength(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Align.lcsLength($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LcsLength =
    copy(left = newLeft, right = newRight)
}

/** Smith–Waterman best local-alignment score with linear gaps:
  * `graft_sw_score(a, b, match, mismatch, gap)` — score params are
  * foldable int literals, every cell floors at 0, result is the max
  * over all cells (0 when either side is empty). */
case class SwScore(
    left: Expression, right: Expression,
    matchScore: Int, mismatchScore: Int, gapScore: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sw_score"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    Align.swScore(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      matchScore, mismatchScore, gapScore)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Align.swScore($a, $b, $matchScore, " +
        s"$mismatchScore, $gapScore)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SwScore =
    copy(left = newLeft, right = newRight)
}

/** chrF (Popović, WMT 2015) per document pair as one codegen scalar:
  * `graft_chrf(candidate, reference)` → the β=2 character-n-gram
  * F-score (orders 1..6) in exact integer µ-units, −1 when the pair
  * has no grams at any order (the caller maps the sentinel to NULL so
  * sacrebleu's effective-order exclusion survives aggregation). The
  * metric collapses algebraically to 5m/(4·tr + tc) per order — exact
  * integer division — so the kernel is pure counting: per order one
  * hash-multiset of candidate grams, one decrementing probe pass over
  * reference grams. Cost ∝ 6·(|c| + |r|) hash ops per row, zero
  * shuffles — the first cut exploded every gram occurrence into a
  * (doc, order, gram) shuffle and measured 17 s at sf0.1 / 11× on 10×
  * data; per-document scalars must never shuffle their internals.
  * Characters are UTF-16 code units (≡ DuckDB's code points on the
  * BMP text this corpus holds). */
case class ChrfScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_chrf"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    Align.chrfU(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Align.chrfU($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ChrfScore =
    copy(left = newLeft, right = newRight)
}

/** BLEU's per-document clipped word-n-gram counts (orders 1..4) as ONE
  * codegen scalar: `graft_bleu_counts(cand_words, ref_words)` →
  * `array<bigint>[8] = [m1, t1, m2, t2, m3, t3, m4, t4]` where mₙ is
  * the CLIPPED match count Σ_g min(count_cand(g), count_ref(g)) and tₙ
  * the candidate gram total max(|cand| − n + 1, 0). Corpus BLEU sums
  * these per source and only then takes ratios, so the per-document
  * kernel emits exact integer counts — the aggregate stays a plain
  * map-combinable SUM of 8 longs. The first shape exploded every gram
  * occurrence into 8 (doc, gram)-keyed shuffles (4 orders × 2 sides,
  * 35.3 MB shuffle write at sf0.1); a per-document scalar must never
  * shuffle its internals — this is the ChrfScore pattern at word
  * grain, and the unchanged DuckDB relational oracle is the
  * cross-shape proof. Per order: one hash multiset of reference
  * grams, one decrementing probe over candidate grams (≡ Σ min by
  * construction). Words intern to dense ids once; grams pack 4×16-bit
  * ids into a primitive long key while the per-pair vocabulary fits
  * (any real document does), with an exact string-key fallback above
  * that. A NULL element matches nothing, including another NULL (SQL
  * equality semantics — the callers pre-filter candidate NULLs). */
case class BleuCounts(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_bleu_counts"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    Align.bleuCounts(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Align.bleuCounts($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BleuCounts =
    copy(left = newLeft, right = newRight)
}

object Align {

  /** See [[BleuCounts]]. Interning dictionary is shared across sides
    * so equal words get equal ids; side-distinct negative ids keep
    * NULL from matching anything. */
  def bleuCounts(cand: ArrayData, ref: ArrayData): ArrayData = {
    val n = cand.numElements()
    val m = ref.numElements()
    val out = new Array[Long](8)
    val dict = new java.util.HashMap[UTF8String, Integer](n + m)
    def intern(arr: ArrayData, len: Int, nullId: Int): Array[Int] = {
      val ids = new Array[Int](len)
      var i = 0
      while (i < len) {
        ids(i) =
          if (arr.isNullAt(i)) nullId
          else {
            val w = arr.getUTF8String(i)
            var id = dict.get(w)
            if (id == null) { id = dict.size(); dict.put(w, id) }
            id.intValue()
          }
        i += 1
      }
      ids
    }
    val ci = intern(cand, n, -1)
    val ri = intern(ref, m, -2)
    // 4×16-bit packing needs ids < 0xFFFD (0xFFFE/0xFFFF reserved for
    // the two null sentinels); per-pair vocabularies are always far
    // below that, but the exact string fallback keeps the kernel total.
    if (dict.size() < 0xFFFD) {
      def pack(ids: Array[Int], at: Int, order: Int): Long = {
        var key = 0L
        var k = 0
        while (k < order) {
          val id = ids(at + k)
          val u = if (id == -1) 0xFFFEL else if (id == -2) 0xFFFFL
            else id.toLong
          key = (key << 16) | u
          k += 1
        }
        key
      }
      var ord = 1
      while (ord <= 4) {
        val tc = math.max(n - ord + 1, 0)
        val tr = math.max(m - ord + 1, 0)
        var matched = 0L
        if (tc > 0 && tr > 0) {
          val counts = new java.util.HashMap[java.lang.Long, Integer](tr * 2)
          var j = 0
          while (j < tr) {
            // a gram containing a null sentinel can never match: ref
            // sentinel 0xFFFF never equals cand sentinel 0xFFFE
            val key = java.lang.Long.valueOf(pack(ri, j, ord))
            val prev = counts.get(key)
            counts.put(key, if (prev == null) 1 else prev + 1)
            j += 1
          }
          var i = 0
          while (i < tc) {
            val key = java.lang.Long.valueOf(pack(ci, i, ord))
            val cnt = counts.get(key)
            if (cnt != null && cnt > 0) {
              matched += 1
              counts.put(key, cnt - 1)
            }
            i += 1
          }
        }
        out((ord - 1) * 2) = matched
        out((ord - 1) * 2 + 1) = tc.toLong
        ord += 1
      }
    } else {
      def gram(ids: Array[Int], at: Int, order: Int): String = {
        val sb = new java.lang.StringBuilder(order * 8)
        var k = 0
        while (k < order) {
          if (k > 0) sb.append(',')
          sb.append(ids(at + k))
          k += 1
        }
        sb.toString
      }
      var ord = 1
      while (ord <= 4) {
        val tc = math.max(n - ord + 1, 0)
        val tr = math.max(m - ord + 1, 0)
        var matched = 0L
        if (tc > 0 && tr > 0) {
          val counts = new java.util.HashMap[String, Integer](tr * 2)
          var j = 0
          while (j < tr) {
            val g = gram(ri, j, ord)
            val prev = counts.get(g)
            counts.put(g, if (prev == null) 1 else prev + 1)
            j += 1
          }
          var i = 0
          while (i < tc) {
            val g = gram(ci, i, ord)
            val cnt = counts.get(g)
            if (cnt != null && cnt > 0) {
              matched += 1
              counts.put(g, cnt - 1)
            }
            i += 1
          }
        }
        out((ord - 1) * 2) = matched
        out((ord - 1) * 2 + 1) = tc.toLong
        ord += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[ChrfScore]]. −1 = no grams at any order on either side. */
  def chrfU(cand: UTF8String, ref: UTF8String): Long = {
    val c = cand.toString
    val r = ref.toString
    var fsum = 0L
    var neff = 0
    var n = 1
    while (n <= 6) {
      val lc = c.length - n + 1
      val lr = r.length - n + 1
      if (lc > 0 || lr > 0) {
        neff += 1
        var matched = 0L
        if (lc > 0 && lr > 0) {
          val counts = new java.util.HashMap[String, Integer](lc * 2)
          var i = 0
          while (i < lc) {
            val g = c.substring(i, i + n)
            val prev = counts.get(g)
            counts.put(g, if (prev == null) 1 else prev + 1)
            i += 1
          }
          var j = 0
          while (j < lr) {
            val g = r.substring(j, j + n)
            val cnt = counts.get(g)
            if (cnt != null && cnt > 0) {
              matched += 1
              counts.put(g, cnt - 1)
            }
            j += 1
          }
        }
        val tc = math.max(lc, 0).toLong
        val tr = math.max(lr, 0).toLong
        fsum += (5L * matched * 1000000L) / (4L * tr + tc)
      }
      n += 1
    }
    if (neff == 0) -1L else fsum / neff
  }


  /** Bit-parallel LCS length. Position i of `a` owns bit i; per symbol
    * of `b` the update `V = (V + U) | (V − U)`, U = V & M, advances
    * every DP cell at once. U ⊆ V per word, so the subtraction never
    * borrows across words; the addition carries low→high and the top
    * word re-masks to n bits (the carry out of bit n−1 is the
    * discarded overflow of the single-word textbook form). */
  def lcsLength(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0
    val words = (n + 63) >>> 6
    val pm = new java.util.HashMap[UTF8String, Array[Long]](n * 2)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val w = a.getUTF8String(i)
        var mask = pm.get(w)
        if (mask == null) { mask = new Array[Long](words); pm.put(w, mask) }
        mask(i >>> 6) |= 1L << (i & 63)
      }
      i += 1
    }
    val topMask = if ((n & 63) == 0) -1L else (1L << (n & 63)) - 1L
    val v = new Array[Long](words)
    java.util.Arrays.fill(v, -1L)
    v(words - 1) &= topMask
    var j = 0
    while (j < m) {
      val mrow = if (b.isNullAt(j)) null else pm.get(b.getUTF8String(j))
      if (mrow != null) { // no match bits => U = 0 => V unchanged
        var carry = 0L
        var w = 0
        while (w < words) {
          val vw = v(w)
          val u = vw & mrow(w)
          val s1 = vw + u
          val c1 = if (java.lang.Long.compareUnsigned(s1, vw) < 0) 1L else 0L
          val s2 = s1 + carry
          // s1 + 1 wraps only from all-ones, impossible together with
          // c1 = 1 (a wrapped sum of two 64-bit values is <= 2^64 - 2)
          val c2 = if (carry != 0L && s2 == 0L) 1L else 0L
          v(w) = s2 | (vw - u)
          carry = c1 | c2
          w += 1
        }
        v(words - 1) &= topMask
      }
      j += 1
    }
    var pc = 0
    var w = 0
    while (w < words) { pc += java.lang.Long.bitCount(v(w)); w += 1 }
    n - pc
  }

  /** Exact Smith–Waterman over interned symbol ids, two primitive
    * rows. NULL elements intern to side-distinct negative ids so they
    * never match anything (SQL equality semantics). */
  def swScore(
      a: ArrayData, b: ArrayData,
      matchScore: Int, mismatchScore: Int, gapScore: Int): Int = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0
    val dict = new java.util.HashMap[UTF8String, Integer](n + m)
    def intern(arr: ArrayData, len: Int, nullId: Int): Array[Int] = {
      val out = new Array[Int](len)
      var i = 0
      while (i < len) {
        out(i) =
          if (arr.isNullAt(i)) nullId
          else {
            val w = arr.getUTF8String(i)
            var id = dict.get(w)
            if (id == null) { id = dict.size(); dict.put(w, id) }
            id.intValue()
          }
        i += 1
      }
      out
    }
    val ai = intern(a, n, -1)
    val bi = intern(b, m, -2)
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var best = 0
    var i = 1
    while (i <= n) {
      val sym = ai(i - 1)
      var j = 1
      while (j <= m) {
        val diag = prev(j - 1) +
          (if (sym == bi(j - 1)) matchScore else mismatchScore)
        var sc = if (diag > 0) diag else 0
        val up = prev(j) + gapScore
        if (up > sc) sc = up
        val lf = cur(j - 1) + gapScore
        if (lf > sc) sc = lf
        cur(j) = sc
        if (sc > best) best = sc
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    best
  }

  private def requireFoldableInt(e: Expression, what: String): Int = {
    require(e.foldable && e.dataType == IntegerType,
      s"graft_sw_score $what must be an int literal")
    val v = e.eval(InternalRow.empty)
    require(v != null, s"graft_sw_score $what must not be null")
    v.asInstanceOf[Int]
  }

  /** `graft_sw_score(a, b, match, mismatch, gap)`'s [[Functions]]
    * builder: the three scores must be non-null int literals. */
  private[graft] def swBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 5,
      "graft_sw_score takes (array, array, match, mismatch, gap)")
    SwScore(exprs(0), exprs(1),
      requireFoldableInt(exprs(2), "match"),
      requireFoldableInt(exprs(3), "mismatch"),
      requireFoldableInt(exprs(4), "gap"))
  }
}
