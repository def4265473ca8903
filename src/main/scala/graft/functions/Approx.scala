package graft.functions

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Approximate distinct counting (SURVEY.md §2B): the custom [[HllSketch]]
  * UDAF and Spark's built-in HLL++ (`approx_count_distinct`), both
  * cross-checked against the exact distinct count.
  *
  * The oracle trick: sketch internals are engine-specific, so the query
  * emits per-group BOOLEAN accuracy verdicts (|approx − exact| ≤ tol·exact)
  * alongside the exact count; the DuckDB oracle then asserts `true` per
  * group. That turns an "unverifiable" approximate operator into a hard
  * hash-compared check of its accuracy contract.
  */
object Approx {

  /** `(a · b) mod 2^64` over DuckDB integers without overflowing
    * INT128: split a into 32-bit halves — a·b ≡ a₀·b + ((a₁·b mod
    * 2^32) << 32). `a` is a HUGEINT-typed SQL expression in [0, 2^64);
    * `b` a 64-bit constant. */
  private[graft] def mulmodSql(a: String, b: BigInt): String = {
    val b0 = b % (BigInt(1) << 32)
    s"CAST(((($a) % 4294967296) * CAST($b AS HUGEINT) + " +
      s"(((($a) >> 32) * $b0) % 4294967296) * 4294967296) " +
      "% 18446744073709551616 AS UBIGINT)"
  }

  /** CTE chain computing the engines' shared 64-bit hash — the golden-
    * ratio add + splitmix64 finalizer [[HllSketch]] and
    * [[ThetaSketch]] both apply to LONG keys — over `src(keyCol)`,
    * emitting `<prefix>h(… carry…, h UBIGINT)`. Replayed bit-for-bit:
    * UBIGINT xor/shift are exact, the two multiplies go through
    * [[mulmodSql]]. */
  private[graft] def splitmixCtes(
      prefix: String, src: String, keyCol: String,
      carry: String): String = {
    val c = if (carry.isEmpty) "" else s"$carry, "
    s"""${prefix}0 AS (
      |  SELECT ${c}CAST((CAST($keyCol AS HUGEINT) + 11400714819323198485)
      |    % 18446744073709551616 AS UBIGINT) AS z
      |  FROM $src),
      |${prefix}1 AS (
      |  SELECT ${c}${mulmodSql(
          "CAST(xor(z, z >> 30) AS HUGEINT)",
          BigInt("bf58476d1ce4e5b9", 16))} AS z
      |  FROM ${prefix}0),
      |${prefix}2 AS (
      |  SELECT ${c}${mulmodSql(
          "CAST(xor(z, z >> 27) AS HUGEINT)",
          BigInt("94d049bb133111eb", 16))} AS z
      |  FROM ${prefix}1),
      |${prefix}h AS (SELECT ${c}xor(z, z >> 31) AS h FROM ${prefix}2)"""
      .stripMargin
  }

  /** The FFGM estimate over replayed registers — the IDENTICAL IEEE
    * op sequence as [[HllSketch.estimate]]: exact HUGEINT register
    * sum in 2^−64 units, ONE cast+division to invSum, α·M²/invSum,
    * linear counting below 2.5·M. Input CTE must expose
    * (grp, np, sp) = (group, #present registers, Σ 2^(64−reg)). */
  private def hllEstSql(src: String): String =
    s"""(SELECT grp,
      |  CAST(floor(CASE
      |    WHEN (0.7213e0 / (1.0e0 + 1.079e0 / 4096.0e0))
      |         * 4096.0e0 * 4096.0e0
      |         / (CAST(CAST(4096 - np AS HUGEINT) * 9223372036854775808
      |                  * 2 + sp AS DOUBLE) / 18446744073709551616e0)
      |         <= 10240.0e0 AND np < 4096
      |    THEN 4096.0e0 * ln(4096.0e0 / CAST(4096 - np AS DOUBLE))
      |    ELSE (0.7213e0 / (1.0e0 + 1.079e0 / 4096.0e0))
      |         * 4096.0e0 * 4096.0e0
      |         / (CAST(CAST(4096 - np AS HUGEINT) * 9223372036854775808
      |                  * 2 + sp AS DOUBLE) / 18446744073709551616e0)
      |    END + 0.5e0) AS BIGINT) AS hll_est
      |FROM $src)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_agg_approx",
      s"""WITH ap AS (
        |  SELECT DISTINCT l_returnflag AS grp, l_partkey AS pk
        |  FROM lineitem),
        |${splitmixCtes("aph", "ap", "pk", "grp")},
        |apr AS (
        |  SELECT grp, h >> 52 AS idx,
        |    ((h % 4503599627370496) * 4096) | 1 AS y
        |  FROM aphh),
        |apregs AS (
        |  SELECT grp, idx,
        |    max(64 - (length(ltrim(bin(y), '0')) - 1)) AS reg
        |  FROM apr GROUP BY 1, 2),
        |apst AS (
        |  SELECT grp, count(*) AS np,
        |    CAST(sum(CAST(pow(2.0e0, 64 - reg) AS HUGEINT)) AS HUGEINT)
        |      AS sp
        |  FROM apregs GROUP BY 1),
        |aphll AS ${hllEstSql("apst")}
        |SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_exact,
        |  (SELECT hll_est FROM aphll WHERE grp = l_returnflag)
        |    AS hll_est,
        |  true AS builtin_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      // The exact distinct and the two sketches aggregate SEPARATELY and
      // join on the 3-row group key: mixing a distinct aggregate with
      // imperative sketch aggregates in one plan made Catalyst run an
      // Expand (2x rows) through the row-at-a-time ObjectHashAggregate;
      // split, the exact side keeps whole-stage codegen and the sketch
      // side sees each row once. (Measured 3.5x faster on the sf0.1
      // bench — 2.2s down to ~0.6s; results identical.)
      val li = Tables(s, dir, "lineitem")
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_exact"))
      val sketches = li.groupBy(col("l_returnflag"))
        .agg(
          expr("graft_hll(l_partkey)").as("hll"),
          approx_count_distinct(col("l_partkey")).as("adc"))
      // graft_hll is VALUE-EXACT against the oracle (converted r14):
      // registers are an order-free pure function of the key set, the
      // estimator collapses them with one exact HUGEINT sum + two IEEE
      // ops, and DuckDB replays hash → registers → estimate
      // bit-for-bit. Spark's built-in HLL++ hashes with engine-
      // internal xxHash, so its column stays the accuracy verdict.
      exact.join(broadcast(sketches), "l_returnflag")
        .select(
          col("l_returnflag"), col("nd_exact"),
          col("hll").as("hll_est"),
          (abs(col("adc") - col("nd_exact")) <= col("nd_exact") * 0.10)
            .as("builtin_ok"))
    },

    // ------------------------------------------------------------------
    // Heavy hitters via the space-saving FreqSketch UDAF, over a
    // deliberately skewed stream derived from lineitem (two hot tokens
    // carrying ~70% of rows + a ~15k-distinct cold tail that forces
    // constant counter eviction). Exact heavy-hitter counting shuffles
    // one row per DISTINCT token — the vocabulary; the sketch shuffles
    // m=16 counters per partition. Same verdict-oracle trick as the HLL
    // check: sketch contents are merge-order-dependent for borderline
    // items, but the algorithm GUARANTEES any item above n/m is present
    // with true count in [count − err, count] — so the query emits
    // those booleans for the (deterministic) exact-heavy token set and
    // the oracle asserts them.
    QueryDef(
      "q_agg_heavyhitters",
      """WITH s AS (
        |  SELECT CASE WHEN l_orderkey % 10 < 7
        |    THEN 'hot' || CAST(l_orderkey % 2 AS VARCHAR)
        |    ELSE 'cold' || CAST(l_orderkey AS VARCHAR) END AS tok
        |  FROM lineitem),
        |cnt AS (SELECT tok, count(*) AS c FROM s GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM s)
        |SELECT tok, true AS present, true AS bounds_ok
        |FROM cnt, n WHERE c >= 3.0 * n / 16""".stripMargin) { (s, dir) =>
      // feeds three branches (sketch, total, exact heavy counts) —
      // cache so the scan + token derivation runs once
      val toks = Tables(s, dir, "lineitem").select(
        when(col("l_orderkey") % 10 < 7,
          concat(lit("hot"), (col("l_orderkey") % 2).cast("string")))
          .otherwise(concat(lit("cold"), col("l_orderkey").cast("string")))
          .as("tok"))
        .cache()
      val entries = toks.agg(expr("graft_freq(tok, 16)").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("s_item"), col("e.count").as("s_count"),
          col("e.err").as("s_err"))
      val total = toks.agg(count(lit(1)).as("n"))
      val heavy = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(total))
        .filter(col("c") >= lit(3.0) * col("n") / 16)
      heavy.join(broadcast(entries), col("tok") === col("s_item"), "left")
        .select(col("tok"),
          col("s_item").isNotNull.as("present"),
          coalesce(col("s_count") >= col("c") &&
            col("s_count") - col("s_err") <= col("c"), lit(false))
            .as("bounds_ok"))
    },

    // ------------------------------------------------------------------
    // Sketch TABLE: the pre-aggregation pattern that makes distinct
    // counting cheap at 100 TB. Phase 1 sketches each month's customers
    // into a fixed-size HLL binary (Spark's built-in DataSketches
    // hll_sketch_agg) and PERSISTS the 80-row sketch table to parquet;
    // phase 2 answers a coarser rollup (distinct customers per YEAR) by
    // union-merging the stored monthly sketches — never re-reading the
    // raw fact table. At scale the nightly job maintains the sketch
    // table incrementally and any ad-hoc date-range distinct query costs
    // rows-of-sketch-table, not a fact scan + key shuffle. Merge is
    // register-wise max, so the estimate is independent of merge order —
    // same verdict-oracle trick as q_agg_approx: the query emits the
    // exact count and an accuracy boolean, DuckDB asserts them.
    QueryDef(
      "q_agg_sketch_table",
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  count(DISTINCT o_custkey) AS nd_exact,
        |  true AS sketch_ok
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val tmp = s"/tmp/graft_sketch_table_${dir.hashCode.toHexString}"
      val orders = Tables(s, dir, "orders")
      orders
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
      val est = s.read.parquet(tmp)
        .groupBy(year(col("month")).as("yr"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = orders
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(countDistinct(col("o_custkey")).as("nd_exact"))
      exact.join(broadcast(est), "yr")
        .select(col("yr"), col("nd_exact"),
          (abs(col("est") - col("nd_exact")) <= col("nd_exact") * 0.05)
            .as("sketch_ok"))
    },

    // ------------------------------------------------------------------
    // EXACT distinct counting that still never shuffles keys: Spark's
    // bitmap aggregates. Keys hash into 32k-bit buckets
    // (bitmap_bucket_number / bitmap_bit_position); each (group, bucket)
    // builds a fixed ≤4 KiB bitmap (bitmap_construct_agg), coarser
    // rollups OR the stored bitmaps together (bitmap_or_agg) and
    // popcount (bitmap_count). Per-year distinct here re-aggregates the
    // per-MONTH bitmaps — the same persisted-pre-aggregation pattern as
    // q_agg_sketch_table but with an exact answer, so the oracle compares
    // values directly, no accuracy verdict needed. The shuffle ships one
    // bitmap per touched bucket: for dense integer keys that is
    // |keyspace|/32768 bitmaps per group, independent of row count — the
    // 100 TB trade is bitmaps-∝-keyspace (exact) vs HLL's fixed 4 KiB
    // (approximate).
    QueryDef(
      "q_agg_bitmap",
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  count(DISTINCT o_custkey) AS nd
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val m = Tables(s, dir, "orders").select(
        year(col("o_orderdate")).as("yr"),
        date_trunc("month", col("o_orderdate")).as("month"),
        col("o_custkey"))
      val perMonthBucket = m
        .groupBy(col("yr"), col("month"),
          expr("bitmap_bucket_number(o_custkey)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))")
          .as("bm"))
      val perYearBucket = perMonthBucket
        .groupBy(col("yr"), col("bucket"))
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
      perYearBucket.groupBy(col("yr"))
        .agg(sum(expr("bitmap_count(bm)")).as("nd"))
    },

    // ------------------------------------------------------------------
    // Theta-sketch set algebra: |customers active in BOTH 1996 and
    // 1997| from two per-year sketches — the overlap/retention question
    // stored HLLs cannot answer (HLL registers only union). Each year
    // aggregates to one ≤32 KiB KMV sketch; the intersection is a
    // single scalar expression over the two 1-row aggregates (the
    // crossJoin is 1×1 control plane, like q_text_tfidf's corpus
    // count). At 100 TB the sketches come from the persisted sketch
    // table, so the overlap query reads K rows, not the fact table.
    // VALUE-EXACT oracle (converted r14): a KMV sketch is an order-
    // free pure function of the key SET — the k smallest splitmix
    // hashes — so DuckDB replays hash → k-minimum sets → θ_C
    // restriction → common-survivor count → density scale-back
    // bit-for-bit, and the hash compare pins the whole set-algebra
    // path instead of a ±5% verdict. Below k distinct the sketch is
    // exact-mode (θ = 2^63−1, estimate ≡ truth — sf0.01); above k the
    // genuine (common·maxθ/θ_C) estimator replays (sf0.1+).
    QueryDef(
      "q_agg_theta",
      s"""WITH tk96 AS (
        |  SELECT DISTINCT o_custkey AS pk FROM orders
        |  WHERE year(o_orderdate) = 1996),
        |tk97 AS (
        |  SELECT DISTINCT o_custkey AS pk FROM orders
        |  WHERE year(o_orderdate) = 1997),
        |${splitmixCtes("th96_", "tk96", "pk", "")},
        |${splitmixCtes("th97_", "tk97", "pk", "")},
        |r96 AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn
        |  FROM (SELECT DISTINCT CAST(h >> 1 AS BIGINT) AS h
        |        FROM th96_h)),
        |r97 AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn
        |  FROM (SELECT DISTINCT CAST(h >> 1 AS BIGINT) AS h
        |        FROM th97_h)),
        |t96 AS (
        |  SELECT CASE WHEN max(rn) < 4096 THEN 9223372036854775807
        |    ELSE max(CASE WHEN rn <= 4096 THEN h END) END AS theta
        |  FROM r96),
        |t97 AS (
        |  SELECT CASE WHEN max(rn) < 4096 THEN 9223372036854775807
        |    ELSE max(CASE WHEN rn <= 4096 THEN h END) END AS theta
        |  FROM r97),
        |tc AS (SELECT least(t96.theta, t97.theta) AS thetac
        |       FROM t96, t97),
        |common AS (
        |  SELECT count(*) AS c FROM r96 a JOIN r97 b ON a.h = b.h, tc
        |  WHERE a.rn <= 4096 AND b.rn <= 4096 AND a.h < tc.thetac),
        |est AS (
        |  SELECT CASE WHEN tc.thetac = 9223372036854775807 THEN c
        |    ELSE CAST(floor(CAST(c AS DOUBLE)
        |      * CAST(9223372036854775807 AS DOUBLE)
        |      / CAST(tc.thetac AS DOUBLE) + 0.5e0) AS BIGINT) END AS est
        |  FROM common, tc)
        |SELECT (SELECT count(*) FROM
        |    (SELECT pk FROM tk96 INTERSECT SELECT pk FROM tk97))
        |  AS n_both,
        |  est
        |FROM est""".stripMargin) { (s, dir) =>
      val o = Tables(s, dir, "orders")
      def custs(yr: Int) =
        o.filter(year(col("o_orderdate")) === yr).select(col("o_custkey"))
      val sk96 = custs(1996).agg(expr("graft_theta(o_custkey)").as("sk96"))
      val sk97 = custs(1997).agg(expr("graft_theta(o_custkey)").as("sk97"))
      val est = sk96.crossJoin(broadcast(sk97))
        .select(expr("graft_theta_intersect(sk96, sk97)").as("est"))
      val exact = custs(1996).intersect(custs(1997))
        .agg(count(lit(1)).as("n_both"))
      exact.crossJoin(broadcast(est))
        .select(col("n_both"), col("est"))
    },

    // ------------------------------------------------------------------
    // Count-min sketch (Cormode & Muthukrishnan 2005) built DECLARATIVELY
    // as a table — the "sketch as relation" pattern: d=4 hash rows ×
    // w=256 buckets, cell (i,b) = Σ counts of tokens with h_i(tok)=b,
    // point estimate = min_i cell(i, h_i(tok)). Because the hash
    // functions are the repo's deterministic md5-based h60, the whole
    // sketch — construction AND every estimate — is a pure function of
    // the data, so the oracle replays it exactly instead of settling
    // for an accuracy verdict: the output pins n_tokens whose estimate
    // is exact, the total and max overestimate (CM never underestimates
    // — a hash mismatch here would catch either engine breaking the
    // one-sided guarantee). Scale shape: the corpus collapses to vocab
    // counts first (map-combinable, Heaps-sublinear output); the 4×
    // fan-out, the 1024-cell sketch, and the probe join all run over
    // the vocabulary, never the corpus; the sketch table itself is 1024
    // rows at ANY corpus size — the point of the structure.
    QueryDef(
      "q_agg_cmsketch",
      s"""WITH wt AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS c FROM wt WHERE w <> '' GROUP BY 1),
        |fan AS (
        |  SELECT w, c, i,
        |    ${TextAnalysis.h60sql(
            "'cm' || CAST(i AS VARCHAR) || ':' || w")} % 256 AS b
        |  FROM wc, (SELECT unnest([0, 1, 2, 3]) AS i) hs),
        |cm AS (SELECT i, b, CAST(sum(c) AS BIGINT) AS s
        |       FROM fan GROUP BY 1, 2),
        |est AS (
        |  SELECT f.w, f.c, min(cm.s) AS e
        |  FROM fan f JOIN cm ON f.i = cm.i AND f.b = cm.b
        |  GROUP BY 1, 2)
        |SELECT count(*) AS n_tokens,
        |  count(CASE WHEN e = c THEN 1 END) AS n_exact,
        |  CAST(sum(e - c) AS BIGINT) AS total_over,
        |  max(e - c) AS max_over
        |FROM est""".stripMargin) { (s, dir) =>
      val wc = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      // 4-way hash fan-out over the vocabulary (NOT the corpus)
      val fan = wc.select(col("w"), col("c"),
          explode(sequence(lit(0), lit(3))).as("i"))
        .withColumn("b",
          TextAnalysis.h60(concat(lit("cm"), col("i").cast("string"),
            lit(":"), col("w"))) % 256)
      val cm = fan.groupBy(col("i"), col("b")).agg(sum(col("c")).as("s"))
      // probe every vocab token back through the sketch; min over rows
      val est = fan.join(cm, Seq("i", "b"))
        .groupBy(col("w"), col("c")).agg(min(col("s")).as("e"))
      est.agg(count(lit(1)).as("n_tokens"),
        count(when(col("e") === col("c"), 1)).as("n_exact"),
        sum(col("e") - col("c")).as("total_over"),
        max(col("e") - col("c")).as("max_over"))
    }
  )
}
