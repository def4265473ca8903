package graft.operators

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytic SQL surface beyond the round-1 suite (SURVEY.md §2B):
  * explicit GROUPING SETS, pivot, distribution window functions
  * (ntile / percent_rank / cume_dist), explicit null ordering, and
  * statistical aggregates (corr / covariance / exact percentiles) —
  * plus the scalable unbounded as-of join.
  */
object Analytics {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Bench hygiene for derived /tmp zone tables — see
    * [[graft.Tables.buildOnce]] (content-fingerprint key, marker
    * written last, repeat runs measure the READ path). Queries whose
    * WRITE path is the measured feature (q_layout_write) deliberately
    * do not use this. */
  private def buildOnce(
      s: SparkSession, dir: String, kind: String,
      inputs: Seq[String] = Seq("lineitem"),
      cold: Boolean = false)(
      build: String => Unit): String =
    graft.Tables.buildOnce(s, dir, kind, inputs, cold)(build)

  /** Global 0-based rank of every row within its `groupCol` group under
    * `(valueCol, tieCols…) ASC NULLS FIRST` — Spark's default window
    * order — WITHOUT the per-group single-task sort a bare
    * `row_number() OVER (PARTITION BY group ORDER BY …)` costs (a
    * low-cardinality group key caps that plan at #groups tasks forever,
    * no matter the cluster).
    *
    * Each row gets a CHUNK by pure arithmetic — its value's position in
    * the group's broadcast [min, max] span (NULL values take chunk −1:
    * ranked first, like the native window) — the heavy sort runs per
    * (group, chunk) in parallel, and tiny per-(group, chunk) counts
    * turn the chunk-local row_number into the global rank via prefix
    * offsets. Arithmetic bucketing instead of `repartitionByRange` is
    * deliberate: the range partitioner runs a sampling job per
    * evaluation (nondeterministic chunk ids across plan branches
    * without a cache barrier); the bucket formula is deterministic,
    * costs one map-combinable min/max pre-aggregate, and keeps chunk
    * order = value order with ties in one chunk. A pathological value
    * distribution can skew chunks — at 100 TB that is the usual
    * salting/AQE-skew territory. Group-key joins are null-safe, so a
    * NULL group ranks like any other (window semantics).
    *
    * Returns the input columns plus `idx` (global 0-based rank; ties
    * beyond the given tie-break are chunk-locally arbitrary, same as
    * the native window) and `n` (group size). */
  private[graft] def chunkedRank(
      df: DataFrame, groupCol: String, valueCol: String,
      tieCols: Seq[String] = Nil): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val bounds = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      min(col(valueCol)).as("__vmin"), // min/max ignore NULLs
      max(col(valueCol)).as("__vmax"))
      .withColumnRenamed(groupCol, "__g")
    // chunk arithmetic in DOUBLE, not the column's own type: a LONG
    // value column with a ~2^60 span (e.g. q_shuffle_global's 60-bit
    // keys) overflows (value−min)·parts in integer arithmetic once
    // parts ≥ 9 — an ANSI-mode crash that only shows up at high
    // parallelism (8-partition runs fit 2^60·8 < 2^63 by a hair).
    // long→double is monotone non-decreasing, so chunk order still
    // equals value order and every downstream rank is unchanged; the
    // only effect of the lost low bits is which side of a chunk
    // boundary a value lands on. (Degenerate case: a span too small
    // for double resolution makes the ratio NaN, which `least` ranks
    // above parts−1 — one chunk, correct and merely unparallel.)
    val chunkOf = when(col(valueCol).isNull, lit(-1L))
      .otherwise(when(col("__vmax") > col("__vmin"),
        least(floor(
          (col(valueCol).cast("double") - col("__vmin").cast("double"))
            * parts /
            (col("__vmax").cast("double") - col("__vmin").cast("double"))),
          lit(parts - 1L)))
        .otherwise(lit(0L)))
    val bucketed = df
      .join(broadcast(bounds), col(groupCol) <=> col("__g"))
      .withColumn("__chunk", chunkOf)
      .drop("__g", "__vmin", "__vmax")
      // NO explicit-width exchange here (r15 negative result): pinning
      // hash(group, chunk) at the session width before the local-sort
      // window — the Tables.fan treatment — was tried and measured a
      // NET LOSS across the rank family (spearman 1.13x but
      // conformal/percentile_sort/quantile_norm 0.77-0.80x): these
      // queries' rank inputs are light enough that the added full
      // exchange costs more than the serialized window it spreads.
      // AQE's coalescing keeps the window narrow at sf0.1; at real
      // scale the rank input's bytes grow past the advisory size and
      // the same plan goes wide on its own.
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = bucketed.groupBy(col(groupCol), col("__chunk"))
      .agg(count(lit(1)).as("__cn"))
      .withColumn("__offset", sum(col("__cn")).over(wOff) - col("__cn"))
      .select(col(groupCol).as("__og"), col("__chunk").as("__ochunk"),
        col("__offset"))
    val wLocal = Window.partitionBy(col(groupCol), col("__chunk"))
      .orderBy(col(valueCol).asc_nulls_first +:
        tieCols.map(col(_).asc_nulls_first): _*)
    bucketed
      .withColumn("__lidx", row_number().over(wLocal) - 1)
      .join(broadcast(offsets),
        col(groupCol) <=> col("__og") && col("__chunk") === col("__ochunk"))
      .withColumn("idx", col("__lidx") + col("__offset"))
      .drop("__og", "__ochunk", "__chunk", "__lidx", "__offset", "__cn")
  }

  /** Exact interpolated percentiles of l_extendedprice per l_linestatus
    * via DISTRIBUTED SORT + rank selection — O(1) memory per task, unlike
    * Spark's percentile() which buffers every value per group (unbounded
    * state, the failure mode SCALING.md flags).
    *
    * The rank comes from [[chunkedRank]] — groups × chunks-way
    * parallel, never one task per group (the window-only plan's
    * ceiling with a 2-value group key).
    *
    * One pass serves every requested percentile: keep only the
    * bracketing rows per group, then interpolate each percentile from
    * conditional aggregates. Target rank t = (n−1)·p; rows ⌊t⌋, ⌈t⌉.
    * Shared by q_percentile_sort, q_agg_corr, and q_agg_approx_pct. */
  private def pricePercentiles(
      li: DataFrame,
      ps: Seq[(String, Double)] = Seq("p50" -> 0.5, "p90" -> 0.9)): DataFrame = {
    val vals = li.select(col("l_linestatus"), col("l_extendedprice"))
    def target(p: Double) = (col("n") - 1) * lit(p)
    def isLo(p: Double) = col("idx") === floor(target(p))
    def isHi(p: Double) = col("idx") === ceil(target(p))
    def interp(p: Double) = {
      val lo = min(when(isLo(p), col("l_extendedprice")))
      val hi = max(when(isHi(p), col("l_extendedprice")))
      Num.r(lo + (hi - lo) * first(target(p) - floor(target(p))), 4)
    }
    chunkedRank(vals, "l_linestatus", "l_extendedprice")
      .filter(ps.map { case (_, p) => isLo(p) || isHi(p) }.reduce(_ || _))
      .groupBy(col("l_linestatus"))
      .agg(
        interp(ps.head._2).as(ps.head._1),
        ps.tail.map { case (name, p) => interp(p).as(name) }: _*)
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Unbounded as-of join via union + last-observation window — the
    // 100 TB shape. Unlike the bounded q_join_asof (range join + rank,
    // candidates ∝ events-per-day), this sorts each user's merged event
    // stream once and carries the latest click forward: one shuffle on
    // user_id, O(n) per partition, no candidate explosion, no bound
    // parameter.
    QueryDef(
      "q_join_asof2",
      """WITH u AS (
        |  SELECT user_id, ts, 0 AS kind, event_id FROM events
        |  WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 1 AS kind, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT user_id, ts, kind, event_id,
        |    last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
        |      OVER win AS click_id,
        |    last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
        |      OVER win AS click_ts
        |  FROM u
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, kind, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id AS purchase_id, click_id,
        |  epoch_us(ts) - epoch_us(click_ts) AS gap_us
        |FROM w WHERE kind = 1 AND click_id IS NOT NULL""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("kind"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("kind"), col("event_id"))
      val win = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("click_id",
          last(when(col("kind") === 0, col("event_id")), ignoreNulls = true)
            .over(win))
        .withColumn("click_ts",
          last(when(col("kind") === 0, col("ts")), ignoreNulls = true)
            .over(win))
        .filter(col("kind") === 1 && col("click_id").isNotNull)
        .select(col("event_id").as("purchase_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
    },

    // ------------------------------------------------------------------
    // NEAREST as-of join — the fourth member of the as-of family
    // (backward-bounded, backward-unbounded, native) and the one
    // sensor-alignment actually wants: each purchase pairs with its
    // closest click in EITHER direction, ties broken backward. Same
    // single user-keyed sort as q_join_asof2 — the backward candidate
    // is a running last(ignoreNulls), the forward one a mirrored
    // first(ignoreNulls) over the following frame, and BOTH windows
    // share the one (ts, kind, event_id) exchange (Catalyst reuses the
    // sort). Gap arithmetic is exact BIGINT µs; no candidate
    // explosion, no bound parameter, O(n) per partition.
    QueryDef(
      "q_join_asof_near",
      """WITH u AS (
        |  SELECT user_id, ts, 0 AS kind, event_id FROM events
        |  WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 1 AS kind, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT user_id, ts, kind, event_id,
        |    last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
        |      OVER wb AS b_id,
        |    last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
        |      OVER wb AS b_ts,
        |    first_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
        |      OVER wf AS f_id,
        |    first_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
        |      OVER wf AS f_ts
        |  FROM u
        |  WINDOW
        |    wb AS (PARTITION BY user_id ORDER BY ts, kind, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY ts, kind, event_id
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |g AS (
        |  SELECT event_id AS purchase_id,
        |    epoch_us(ts) - epoch_us(b_ts) AS gb,
        |    epoch_us(f_ts) - epoch_us(ts) AS gf, b_id, f_id
        |  FROM w WHERE kind = 1 AND (b_id IS NOT NULL OR f_id IS NOT NULL))
        |SELECT purchase_id,
        |  CASE WHEN gf IS NULL OR (gb IS NOT NULL AND gb <= gf)
        |       THEN b_id ELSE f_id END AS click_id,
        |  CAST(CASE WHEN gf IS NULL OR (gb IS NOT NULL AND gb <= gf)
        |       THEN gb ELSE gf END AS BIGINT) AS gap_us,
        |  CASE WHEN gf IS NULL OR (gb IS NOT NULL AND gb <= gf)
        |       THEN 'backward' ELSE 'forward' END AS dir
        |FROM g""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("kind"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("kind"), col("event_id"))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id"))
      val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val clickId = when(col("kind") === 0, col("event_id"))
      val clickTs = when(col("kind") === 0, col("ts"))
      val g = clicks.unionByName(purchases)
        .withColumn("b_id", last(clickId, ignoreNulls = true).over(wb))
        .withColumn("b_ts", last(clickTs, ignoreNulls = true).over(wb))
        .withColumn("f_id", first(clickId, ignoreNulls = true).over(wf))
        .withColumn("f_ts", first(clickTs, ignoreNulls = true).over(wf))
        .filter(col("kind") === 1
          && (col("b_id").isNotNull || col("f_id").isNotNull))
        .select(col("event_id").as("purchase_id"),
          (unix_micros(col("ts")) - unix_micros(col("b_ts"))).as("gb"),
          (unix_micros(col("f_ts")) - unix_micros(col("ts"))).as("gf"),
          col("b_id"), col("f_id"))
      val backward = col("gf").isNull ||
        (col("gb").isNotNull && col("gb") <= col("gf"))
      g.select(col("purchase_id"),
        when(backward, col("b_id")).otherwise(col("f_id")).as("click_id"),
        when(backward, col("gb")).otherwise(col("gf")).cast("long")
          .as("gap_us"),
        when(backward, "backward").otherwise("forward").as("dir"))
    },

    // ------------------------------------------------------------------
    // The NATIVE as-of join (plans/AsOfJoin.scala): same unbounded
    // semantics as q_join_asof2, but as a custom logical node + planner
    // strategy + physical streaming merge — one pass per co-partitioned
    // sorted partition pair, O(1) task state (a single buffered right
    // row), no candidate materialization and no window machinery. The
    // oracle is the identical union+window SQL, so all three as-of
    // plans (bounded range join, window composition, native operator)
    // are checked against each other's semantics.
    QueryDef(
      "q_join_asof_native",
      """WITH u AS (
        |  SELECT user_id, ts, 0 AS kind, event_id FROM events
        |  WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 1 AS kind, event_id FROM events
        |  WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT user_id, ts, kind, event_id,
        |    last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
        |      OVER win AS click_id,
        |    last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
        |      OVER win AS click_ts
        |  FROM u
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, kind, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id AS purchase_id, click_id,
        |  epoch_us(ts) - epoch_us(click_ts) AS gap_us
        |FROM w WHERE kind = 1 AND click_id IS NOT NULL""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("c_user"), col("ts").as("c_ts"))
      graft.plans.AsOfJoin.asof(purchases, clicks,
          "p_user", "c_user", "p_ts", "c_ts", Seq("click_id"))
        .filter(col("click_id").isNotNull)
        .select(col("purchase_id"), col("click_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
    },

    // ------------------------------------------------------------------
    // Explicit GROUPING SETS (beyond rollup/cube): chosen subtotal combos.
    QueryDef(
      "q_agg_groupsets",
      s"""SELECT l_returnflag, l_linestatus,
        |  ${Num.sql("sum(l_quantity)", 2)} AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_linestatus), ())""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  ${Num.sql("sum(l_quantity)", 2)} AS sum_qty, count(*) AS n
           |FROM graft_li
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           |                        (l_linestatus), ())""".stripMargin)
    },

    // ------------------------------------------------------------------
    // GROUPING()/GROUPING_ID() — the disambiguation functions without
    // which rollup output is unusable on nullable group keys: a NULL
    // from the DATA and a NULL standing for "all values" hash to the
    // same output cell unless the grouping flags travel with the row.
    // Both engines CAST the flags to INTEGER (their native return types
    // differ) and the subtotal label is derived FROM the flag, the
    // pattern a report layer actually uses. Same Expand-based plan as
    // every rollup — the flags are free metadata on rows the rollup
    // already produces.
    QueryDef(
      "q_agg_groupingid",
      s"""SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN '<all>'
        |       ELSE l_returnflag END AS rflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN '<all>'
        |       ELSE l_linestatus END AS lstatus,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rflag,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_lstatus,
        |  CAST(GROUPING_ID(l_returnflag, l_linestatus) AS INTEGER) AS gid,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_gid")
      s.sql(
        """SELECT
          |  CASE WHEN GROUPING(l_returnflag) = 1 THEN '<all>'
          |       ELSE l_returnflag END AS rflag,
          |  CASE WHEN GROUPING(l_linestatus) = 1 THEN '<all>'
          |       ELSE l_linestatus END AS lstatus,
          |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rflag,
          |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_lstatus,
          |  CAST(GROUPING_ID(l_returnflag, l_linestatus) AS INTEGER) AS gid,
          |  count(*) AS n
          |FROM graft_li_gid
          |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Pivot: one revenue column per order status. The oracle is the
    // portable SUM(CASE ...) rewrite — what pivot compiles to.
    QueryDef(
      "q_pivot",
      s"""SELECT o_orderpriority,
        |  ${Num.sql("sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)", 2)} AS F,
        |  ${Num.sql("sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END)", 2)} AS O,
        |  ${Num.sql("sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END)", 2)} AS P
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(Num.r(sum(col("o_totalprice")), 2))
    },

    // ------------------------------------------------------------------
    // Distribution window functions over a total order (tie-broken by key
    // so ntile assignment is deterministic in both engines).
    QueryDef(
      "q_window_ntile",
      """SELECT o_orderkey, o_orderpriority,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
    },

    // ------------------------------------------------------------------
    // The distribution functions WITHOUT the per-group single-task
    // ceiling — q_window_ntile's scale twin (the range2-to-range
    // pattern). ntile/percent_rank/cume_dist are pure functions of
    // (global 0-based rank, group size) once the ORDER BY is a total
    // order (o_orderkey tie-break), and the global rank comes from
    // [[chunkedRank]] — parallelism = groups × chunks instead of one
    // task per group (orders has FIVE o_orderpriority values: the
    // native window plan caps at 5 tasks forever). PlanSpec pins
    // result equivalence with q_window_ntile.
    QueryDef(
      "q_window_ntile2",
      """SELECT o_orderkey, o_orderpriority,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      chunkedRank(o, "o_orderpriority", "o_totalprice", Seq("o_orderkey"))
        // ANSI/Spark/DuckDB ntile: the first n % k buckets take
        // ceil(n/k) rows; DIV keeps the arithmetic in exact integers
        // (double division + floor can mis-round at 2^50-scale ranks).
        // The ELSE's DIV by a zero bs is unreachable: bs = 0 means
        // n < 4, and then every idx < rem = n takes the THEN branch.
        .withColumn("quartile", expr(
          """CAST(CASE WHEN idx < (n % 4) * (n DIV 4 + 1)
            |          THEN idx DIV (n DIV 4 + 1)
            |          ELSE n % 4 + (idx - (n % 4) * (n DIV 4 + 1)) DIV (n DIV 4)
            |     END + 1 AS INT)""".stripMargin))
        // total order ⇒ rank = idx+1 and #peers-at-or-below = idx+1,
        // so both distributions are the same long-over-long divisions
        // the native functions perform — bitwise-equal doubles
        .withColumn("pr", when(col("n") === 1, lit(0.0))
          .otherwise(col("idx").cast("double") / (col("n") - 1)))
        .withColumn("cd", (col("idx") + 1).cast("double") / col("n"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("quartile"), col("pr"), col("cd"))
    },

    // ------------------------------------------------------------------
    // Argmax/argmin aggregates: the value of one column at another's
    // extremum. Keyed on the UNIQUE o_orderkey so ties cannot make the
    // result engine-dependent.
    QueryDef(
      "q_agg_argmax",
      """SELECT o_orderpriority,
        |  arg_max(o_orderstatus, o_orderkey) AS status_of_latest,
        |  arg_min(o_orderstatus, o_orderkey) AS status_of_first,
        |  max(o_orderkey) AS max_key, min(o_orderkey) AS min_key
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          max_by(col("o_orderstatus"), col("o_orderkey")).as("status_of_latest"),
          min_by(col("o_orderstatus"), col("o_orderkey")).as("status_of_first"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_orderkey")).as("min_key"))
    },

    // ------------------------------------------------------------------
    // Window value functions over the full-partition frame: first, last
    // and nth order value per customer.
    QueryDef(
      "q_window_nth",
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER w AS last_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        last(col("o_orderkey")).over(w).as("last_ok"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
    },

    // ------------------------------------------------------------------
    // ANSI-safe arithmetic: under ANSI mode (Spark 4 default) overflow
    // and division by zero ERROR; the try_* family returns NULL instead —
    // the behavior a pipeline that must not die on one bad row needs.
    // DuckDB returns NULL for float/0 natively, so the oracle aligns.
    //
    // Scale note: Spark's TryEval catches a PER-ROW exception whose
    // formatted error message is built before being discarded — measured
    // ~7µs/row when the cast always fails (a 30× slowdown on a column of
    // dirty values, exactly the data try_cast exists for). The cheap
    // regex guard below short-circuits obviously-invalid strings to NULL
    // so the exception path stays cold; rows passing the guard still go
    // through try_cast (which handles overflow). The guard's framing
    // class is [\x00-\x20] — the full control-char-and-space range
    // Spark's string→number cast trims — so every string try_cast would
    // accept passes the guard (ADVICE r3: a bare \s guard rejects
    // NUL/- framing that the cast trims).
    QueryDef(
      "q_try_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_discount = 0 THEN NULL
        |       ELSE l_extendedprice / nullif(l_discount, 0) END AS safe_div,
        |  TRY_CAST(l_returnflag AS INTEGER) AS bad_cast,
        |  TRY_CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS good_cast
        |FROM lineitem""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        try_divide(col("l_extendedprice"),
          nullif(col("l_discount"), lit(0))).as("safe_div"),
        when(regexp_like(col("l_returnflag"),
            lit("^[\\x00-\\x20]*[+-]?\\d+[\\x00-\\x20]*$")),
          expr("try_cast(l_returnflag AS INT)")).as("bad_cast"),
        expr("try_cast(cast(l_orderkey AS STRING) AS BIGINT)").as("good_cast"))
    },

    // ------------------------------------------------------------------
    // Explicit null ordering: NULLS FIRST under DESC (both engines default
    // differently, so the modifier is load-bearing).
    QueryDef(
      "q_sort_nulls",
      """SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_np,
        |  o_totalprice
        |FROM orders
        |ORDER BY nullif(o_orderstatus, 'P') DESC NULLS FIRST,
        |  o_orderkey ASC
        |LIMIT 50""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("P")).as("status_np"),
          col("o_totalprice"))
        .orderBy(col("status_np").desc_nulls_first, col("o_orderkey").asc)
        .limit(50)
    },

    // ------------------------------------------------------------------
    // Trailing 7-day sum via TWO RUNNING SUMS instead of a sliding RANGE
    // frame — same semantics as q_window_range, scalable plan. A sliding
    // frame re-aggregates its buffer per row (O(n·frame)); this computes
    // cum(t) with an O(n) running frame, looks up cum just below t−7d with
    // the union + last-observation trick (same as the as-of join), and
    // subtracts. trailing(t) = cum_≤(t) − cum_≤(t−7d−1s) on integer-second
    // keys, peers included — exactly the RANGE frame's semantics.
    QueryDef(
      "q_window_range2",
      s"""SELECT event_id, event_type,
        |  ${Num.sql("sum(\"value\") OVER (PARTITION BY event_type ORDER BY CAST(floor(epoch(ts)) AS BIGINT) RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)", 2)} AS trailing_7d
        |FROM events""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").select(
        col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("value"))
      // per-(type, sec) sums, then O(n) running cumulative sum
      val perSec = ev.groupBy(col("event_type"), col("sec"))
        .agg(sum(col("value")).as("ssum"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("sec"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = perSec.withColumn("cum", sum(col("ssum")).over(wRun))
        .select(col("event_type"), col("sec"), col("cum"))
        .cache() // feeds the union AND the final join
      // boundary lookup: cum at the largest sec' ≤ sec − 604801
      val marks = cum.select(col("event_type"),
        (col("sec") - 604801L).as("key"), lit(1).as("kind"),
        col("sec").as("orig_sec"), lit(null).cast("double").as("cumv"))
      val points = cum.select(col("event_type"),
        col("sec").as("key"), lit(0).as("kind"),
        lit(null).cast("long").as("orig_sec"), col("cum").as("cumv"))
      val wSeek = Window.partitionBy(col("event_type"))
        .orderBy(col("key"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val boundary = points.unionByName(marks)
        .withColumn("cum_before",
          last(col("cumv"), ignoreNulls = true).over(wSeek))
        .filter(col("kind") === 1)
        .select(col("event_type"), col("orig_sec").as("sec"),
          coalesce(col("cum_before"), lit(0.0)).as("cum_before"))
      val trailing = cum.join(boundary, Seq("event_type", "sec"))
        .select(col("event_type"), col("sec"),
          (col("cum") - col("cum_before")).as("trailing"))
      ev.join(trailing, Seq("event_type", "sec"))
        .select(col("event_id"), col("event_type"),
          Num.r(col("trailing"), 2).as("trailing_7d"))
    },

    // ------------------------------------------------------------------
    // Bag-semantics INTERSECT ALL / EXCEPT ALL: multiplicity-aware set
    // ops (Catalyst rewrites them to counted joins).
    QueryDef(
      "q_set_bag_ops",
      """WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000)
        |SELECT 'intersect_all' AS op, count(*) AS n
        |FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
        |UNION ALL
        |SELECT 'except_all' AS op, count(*) AS n
        |FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
      val b = o.filter(col("o_totalprice") > 100000).select(col("o_custkey").as("k"))
      val ia = a.intersectAll(b).agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("op"), col("n"))
      val ea = a.exceptAll(b).agg(count(lit(1)).as("n"))
        .select(lit("except_all").as("op"), col("n"))
      ia.unionByName(ea)
    },

    // ------------------------------------------------------------------
    // Correlated LATERAL join: top-2 customers by balance per nation —
    // the "top-N per group as a join" formulation (Catalyst plans the
    // correlated subquery as a lateral join).
    QueryDef(
      "q_join_lateral",
      """SELECT n.n_name, c.c_custkey, c.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c""".stripMargin) { (s, dir) =>
      t(s, dir, "nation").createOrReplaceTempView("graft_nation")
      t(s, dir, "customer").createOrReplaceTempView("graft_customer")
      s.sql(
        """SELECT n.n_name, c.c_custkey, c.c_acctbal
          |FROM graft_nation n,
          |LATERAL (SELECT c_custkey, c_acctbal FROM graft_customer
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Bag-semantics set op: UNION ALL keeps duplicates (zero shuffle —
    // pure concatenation of inputs).
    QueryDef(
      "q_set_union_all",
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION ALL
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      a.union(b)
    },

    // ------------------------------------------------------------------
    // Schema-aligned union (unionByName + allowMissingColumns) — the
    // union a pipeline actually needs when two feeds share a key but
    // drifted columns: positional UNION would mis-align or reject, BY
    // NAME aligns on column identity and NULL-fills the gaps. Still a
    // zero-shuffle concatenation; the filter pushes into both scans.
    QueryDef(
      "q_set_union_byname",
      """SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority,
        |  'price_feed' AS feed
        |FROM orders WHERE o_orderkey % 100 = 7
        |UNION ALL BY NAME
        |SELECT o_orderkey, o_orderpriority, 'priority_feed' AS feed
        |FROM orders WHERE o_orderkey % 100 = 7""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 7)
      val priceFeed = o.select(col("o_orderkey"), col("o_totalprice"),
        lit("price_feed").as("feed"))
      val prioFeed = o.select(col("o_orderkey"), col("o_orderpriority"),
        lit("priority_feed").as("feed"))
      priceFeed.unionByName(prioFeed, allowMissingColumns = true)
    },

    // ------------------------------------------------------------------
    // NULL-safe equi-join (<=> / IS NOT DISTINCT FROM) — the join
    // semantics plain `=` silently breaks: NULL keys never match
    // themselves, so two feeds keyed by a nullable column lose their
    // unknown-key rows. Both sides pre-aggregate to per-key counts
    // BEFORE joining (the scale move — the NULL×NULL pair explosion
    // n_a·n_b collapses to one multiplication of two counts), and the
    // null-safe key is still a hash-join key in both engines, not a
    // nested loop. NULLs are injected deterministically since the
    // testdata has none.
    QueryDef(
      "q_join_nullsafe",
      """WITH a AS (
        |  SELECT CASE WHEN o_orderkey % 13 = 3 THEN NULL
        |    ELSE o_custkey % 50 END AS k, count(*) AS na
        |  FROM orders GROUP BY 1),
        |b AS (
        |  SELECT CASE WHEN c_custkey % 17 = 2 THEN NULL
        |    ELSE c_custkey % 50 END AS k, count(*) AS nb
        |  FROM customer GROUP BY 1)
        |SELECT a.k, a.na, b.nb, a.na * b.nb AS pairs
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "orders")
        .groupBy(when(col("o_orderkey") % 13 === 3, lit(null))
          .otherwise(col("o_custkey") % 50).as("k"))
        .agg(count(lit(1)).as("na"))
      val b = t(s, dir, "customer")
        .groupBy(when(col("c_custkey") % 17 === 2, lit(null))
          .otherwise(col("c_custkey") % 50).as("k"))
        .agg(count(lit(1)).as("nb"))
      a.join(b, a("k") <=> b("k"))
        .select(a("k"), col("na"), col("nb"),
          (col("na") * col("nb")).as("pairs"))
    },

    // ------------------------------------------------------------------
    // Histogram: fixed-width bucketing by pure arithmetic (identical in
    // both engines), the building block for distribution profiling at
    // scale — one shuffle on the bucket id.
    QueryDef(
      "q_histogram",
      s"""SELECT CAST(least(floor((l_extendedprice - 900e0) / 5000e0), 19) AS BIGINT)
        |    AS bucket,
        |  count(*) AS n,
        |  ${Num.sql("min(l_extendedprice)", 2)} AS lo,
        |  ${Num.sql("max(l_extendedprice)", 2)} AS hi
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      val bucket = least(floor((col("l_extendedprice") - lit(900e0)) / lit(5000e0)),
        lit(19L)).cast("long")
      t(s, dir, "lineitem")
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"),
          Num.r(min(col("l_extendedprice")), 2).as("lo"),
          Num.r(max(col("l_extendedprice")), 2).as("hi"))
    },

    // ------------------------------------------------------------------
    // Equi-DEPTH histogram — q_histogram's quantile-boundary dual (equal
    // COUNT per bucket instead of equal width; what ANALYZE-style
    // optimizers and drift monitors actually store). bucket =
    // ⌊idx·B/n⌋ over the GLOBAL value rank, and that global rank is the
    // scale problem this query exists to demonstrate solved: a naive
    // row_number() over one un-partitioned window is a single-task
    // total sort, while chunkedRank's arithmetic value-chunks give 32
    // parallel sorts + broadcast prefix offsets. Bucket populations
    // depend only on idx, and per-bucket min/max read value ranges of
    // the SORTED order, so the output is tie-insensitive and exact;
    // the oracle uses the textbook single window, making the hash
    // match the chunked-plan ≡ total-sort equivalence proof.
    QueryDef(
      "q_histogram_eqdepth",
      s"""WITH r AS (
        |  SELECT l_extendedprice,
        |    row_number() OVER (ORDER BY l_extendedprice) - 1 AS idx,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CAST(floor(idx * 10 / n) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  ${Num.sql("min(l_extendedprice)", 2)} AS lo,
        |  ${Num.sql("max(l_extendedprice)", 2)} AS hi
        |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_extendedprice"))
        .withColumn("__all", lit("all"))
      chunkedRank(li, "__all", "l_extendedprice")
        .select(floor(col("idx") * lit(10) / col("n")).as("bucket"),
          col("l_extendedprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          Num.r(min(col("l_extendedprice")), 2).as("lo"),
          Num.r(max(col("l_extendedprice")), 2).as("hi"))
    },

    // ------------------------------------------------------------------
    // Stratified sampling (sampleBy): per-stratum Bernoulli sampling with
    // a fixed seed. Engine RNGs differ, so the sampled ROWS have no
    // cross-engine oracle; instead the query emits a verdict (the Approx
    // pattern): per stratum, is the sampled fraction within a 4σ binomial
    // bound of the requested fraction? Any healthy RNG passes; a broken
    // sampler (wrong stratum routing, wrong fraction) fails. n_total is
    // deterministic and hash-checked exactly.
    QueryDef(
      "q_sample_stratified",
      """SELECT lang, count(*) AS n_total, true AS frac_ok
        |FROM documents GROUP BY lang""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val fractions = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2,
        "es" -> 0.2, "zh" -> 0.2)
      val sampled = docs.stat.sampleBy("lang", fractions, seed = 42L)
      val base = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      // fold accumulator is 0.0, not NULL: sampleBy treats strata absent
      // from the fractions map as fraction 0, so a new testdata language
      // yields n_sampled = 0 and a clean frac_ok = true — not a NULL
      // verdict that hash-mismatches the oracle confusingly (ADVICE r3)
      val p = fractions.foldLeft(lit(0.0)) {
        case (acc, (k, v)) => when(col("lang") === k, lit(v)).otherwise(acc)
      }
      // left join from totals so a stratum sampled to zero still emits a
      // row (with frac_ok=false) instead of silently disappearing
      base.join(
          sampled.groupBy(col("lang")).agg(count(lit(1)).as("n_sampled")),
          Seq("lang"), "left")
        .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
        .withColumn("p", p)
        .select(col("lang"), col("n_total"),
          (abs(col("n_sampled") / col("n_total") - col("p")) <=
            lit(4.0) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n_total")))
            .as("frac_ok"))
    },

    // ------------------------------------------------------------------
    // Weighted sampling without replacement — sequential Poisson sampling
    // (Ohlsson, "Sequential Poisson Sampling", J. Official Statistics
    // 1998): each document draws a deterministic uniform u from its id
    // hash, its priority is u / weight (longer documents ⇒ smaller
    // priority ⇒ more likely sampled — the length-weighted draw a token-
    // budgeted corpus mix wants), and the k smallest priorities per
    // source win. No RNG state and no transcendentals: u is an exact
    // integer hash scaled by one IEEE division, pri is one more division
    // — correctly-rounded identical doubles on both engines, so the
    // SAMPLE ITSELF is hash-checked, not just its size (contrast
    // q_sample_stratified, whose engine RNG forces a verdict oracle).
    // Scale shape: priorities are a pure projection; the per-source
    // selection is the map-combinable TopK aggregate on negated priority
    // (≤ k·P rows shuffle, never a per-source sort) — the same plan that
    // serves q_knn_brute.
    QueryDef(
      "q_sample_weighted",
      s"""WITH k AS (
        |  SELECT source, doc_id, n_chars,
        |    (${graft.functions.TextAnalysis.h32sql(
             "'wsamp:' || CAST(doc_id AS VARCHAR)")} + 1) / 4294967296e0 AS u
        |  FROM documents),
        |p AS (SELECT source, doc_id, u / n_chars AS pri FROM k),
        |r AS (
        |  SELECT source, doc_id, pri,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY pri, doc_id) AS rnk
        |  FROM p)
        |SELECT source, doc_id, rnk, ${Num.sql("pri", 9)} AS pri
        |FROM r WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val u = (graft.functions.TextAnalysis.h32(
        concat(lit("wsamp:"), col("doc_id").cast("string"))) + 1) /
        lit(4294967296e0)
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          (u / col("n_chars")).as("pri"))
        .groupBy(col("source"))
        .agg(expr("graft_topk(-pri, doc_id, 5)").as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), col("col.id").as("doc_id"),
          (col("pos") + 1).as("rnk"),
          Num.r(-col("col.score"), 9).as("pri"))
    },

    // ------------------------------------------------------------------
    // Uncorrelated scalar subquery: Catalyst evaluates it once and folds
    // it in as a literal (no per-row re-execution).
    QueryDef(
      "q_subquery_scalar",
      s"""SELECT o_orderkey,
        |  ${Num.sql("o_totalprice / (SELECT avg(o_totalprice) FROM orders)", 6)}
        |    AS price_ratio
        |FROM orders""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("graft_orders")
      s.sql(
        s"""SELECT o_orderkey,
           |  ${Num.sql("o_totalprice / (SELECT avg(o_totalprice) FROM graft_orders)", 6)}
           |    AS price_ratio
           |FROM graft_orders""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Correlated scalar subquery: Catalyst de-correlates it into an
    // aggregate + outer join rather than re-running per row.
    QueryDef(
      "q_subquery_corr",
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
        |    AS n_orders
        |FROM customer c""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("graft_orders")
      t(s, dir, "customer").createOrReplaceTempView("graft_customer")
      s.sql(
        """SELECT c_custkey,
          |  (SELECT count(*) FROM graft_orders o
          |   WHERE o.o_custkey = c.c_custkey) AS n_orders
          |FROM graft_customer c""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Salted two-stage aggregation — the skew-mitigation pattern. events
    // has only 5 event_type values, so a naive groupBy concentrates all
    // 100 TB of a hot key on one reducer; salting fans each key across 16
    // partial groups, then a cheap second stage (≤ 16·|keys| rows)
    // produces the identical result. avg is re-derived from sum/count —
    // avg of partial avgs would be wrong.
    QueryDef(
      "q_agg_salted",
      s"""SELECT event_type, count(*) AS n,
        |  ${Num.sql("sum(\"value\")", 2)} AS sum_value,
        |  ${Num.sql("sum(\"value\") / count(*)", 4)} AS avg_value
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      val partial = t(s, dir, "events")
        .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("salt"))
        .agg(count(lit(1)).as("pn"), sum(col("value")).as("psum"))
      partial
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"),
          Num.r(sum(col("psum")), 2).as("sum_value"),
          Num.r(sum(col("psum")) / sum(col("pn")), 4).as("avg_value"))
    },

    // ------------------------------------------------------------------
    // Salted JOIN — the skew-join mitigation as an oracle-checked query
    // (the PlanSpec twin pins the shuffle key; this pins the VALUES).
    // l_returnflag has 3 values, so a shuffled equi-join on it lands
    // each flag's ~20k rows on ONE reducer forever; the salted plan
    // spreads every flag across 16 reducers: the fact side salts on a
    // high-cardinality column, the 3-row dim replicates across all 16
    // salts, and the join key becomes (flag, salt). The merge hint
    // keeps the shuffled shape the mitigation exists for — left alone,
    // a 3-row dim would broadcast and hide the skew problem entirely
    // (which IS the right plan when the dim fits; salting is for when
    // it does not). The oracle is the plain unsalted join.
    QueryDef(
      "q_join_salted",
      s"""SELECT l_returnflag, descr, count(*) AS n,
        |  ${Num.sql("sum(l_quantity)", 2)} AS qty
        |FROM lineitem
        |JOIN (VALUES ('A', 'returned'), ('N', 'in-flight'), ('R', 'refused'))
        |  d(flag, descr) ON l_returnflag = flag
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val SALT = 16
      val dim = s.createDataFrame(Seq(
        ("A", "returned"), ("N", "in-flight"), ("R", "refused")))
        .toDF("flag", "descr")
      val saltedDim = dim.select(col("flag"), col("descr"),
        explode(sequence(lit(0L), lit((SALT - 1).toLong))).as("salt"))
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"),
          pmod(col("l_orderkey"), lit(SALT)).as("fsalt"))
        .join(saltedDim.hint("merge"),
          col("l_returnflag") === col("flag") && col("fsalt") === col("salt"))
        .groupBy(col("l_returnflag"), col("descr"))
        .agg(count(lit(1)).as("n"), Num.r(sum(col("l_quantity")), 2).as("qty"))
    },

    // ------------------------------------------------------------------
    // Exact interpolated percentiles via distributed sort + rank
    // selection — see [[pricePercentiles]]. The sort is the same
    // machinery any 100 TB orderBy uses. Same result as quantile_cont.
    QueryDef(
      "q_percentile_sort",
      s"""SELECT l_linestatus,
        |  ${Num.sql("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50,
        |  ${Num.sql("quantile_cont(l_extendedprice, 0.9)", 4)} AS p90
        |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      pricePercentiles(t(s, dir, "lineitem"))
    },

    // ------------------------------------------------------------------
    // Statistical aggregates: correlation and covariance stay in the
    // bounded-state hash aggregate (Welford-style merge, O(1) per group);
    // the exact percentiles come from the sort-based [[pricePercentiles]]
    // plan and join back on the 2-row group key — NOT Spark's
    // percentile(), which buffers every value per group.
    QueryDef(
      "q_agg_corr",
      s"""SELECT l_linestatus,
        |  ${Num.sql("corr(l_quantity, l_extendedprice)", 6)} AS corr_qp,
        |  ${Num.sql("covar_samp(l_quantity, l_extendedprice)", 4)} AS cov_s,
        |  ${Num.sql("covar_pop(l_quantity, l_extendedprice)", 4)} AS cov_p,
        |  ${Num.sql("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50,
        |  ${Num.sql("quantile_cont(l_extendedprice, 0.9)", 4)} AS p90
        |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val stats = li
        .groupBy(col("l_linestatus"))
        .agg(
          Num.r(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          Num.r(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_s"),
          Num.r(covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("cov_p"))
      stats.join(broadcast(pricePercentiles(li)), "l_linestatus")
        .select(col("l_linestatus"), col("corr_qp"), col("cov_s"),
          col("cov_p"), col("p50"), col("p90"))
    },

    // ------------------------------------------------------------------
    // Spearman rank correlation (tie-averaged) — the robust complement
    // to q_agg_corr's Pearson: ρ = Pearson on the rank transforms, so
    // outliers move a value's RANK by one step instead of dragging the
    // moment sums. Ranks are where the scale risk lives: a naive
    // rank() window sorts each whole group in one task (l_linestatus
    // has 3 values — the low-cardinality killer SCALING.md names), so
    // both rank passes run through chunkedRank — value-range chunks
    // give groups×chunks parallel sort tasks with broadcast offsets.
    // Tie averaging is exact arithmetic on integer positions: the
    // average rank of a tie class of size c starting at min-rank a is
    // a + (c-1)/2 ≡ avg(0-based idx) + 1, and every such value is a
    // half-integer — exactly representable, so only the final corr
    // needs rounding armor. The oracle computes the same ranks with
    // the textbook rank-window formula; the hash match proves the
    // chunked plan ≡ the per-group sort.
    QueryDef(
      "q_agg_spearman",
      s"""WITH r AS (
        |  SELECT l_linestatus AS g, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem),
        |ranked AS (
        |  SELECT g,
        |    rank() OVER (PARTITION BY g ORDER BY x)
        |      + (count(*) OVER (PARTITION BY g, x) - 1) / 2.0 AS rx,
        |    rank() OVER (PARTITION BY g ORDER BY y)
        |      + (count(*) OVER (PARTITION BY g, y) - 1) / 2.0 AS ry
        |  FROM r)
        |SELECT g AS l_linestatus, count(*) AS n,
        |  ${Num.sql("corr(rx, ry)", 6)} AS spearman_qp
        |FROM ranked GROUP BY 1""".stripMargin) { (s, dir) =>
      // NOT cached (r15 negative result): seven consumers re-scan this
      // projection, but the pruned 3-column parquet scan is cheap
      // enough that a cache fill + memory reads measured 0.90×
      // normalized — re-scanning parquet beats materializing here.
      val li = t(s, dir, "lineitem")
        .select(col("l_linestatus"), col("l_quantity"), col("l_extendedprice"))
      def avgRanks(valueCol: String, out: String): DataFrame =
        chunkedRank(li.select(col("l_linestatus"), col(valueCol)),
          "l_linestatus", valueCol)
          .groupBy(col("l_linestatus"), col(valueCol))
          .agg((avg(col("idx")) + 1).as(out))
      // quantity has ~50 distinct values per group — its rank table
      // broadcasts; the price rank table is fact-sized and joins keyed
      val rx = avgRanks("l_quantity", "rx")
      val ry = avgRanks("l_extendedprice", "ry")
      li.join(broadcast(rx), Seq("l_linestatus", "l_quantity"))
        .join(ry, Seq("l_linestatus", "l_extendedprice"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          Num.r(corr(col("rx"), col("ry")), 6).as("spearman_qp"))
    },

    // ------------------------------------------------------------------
    // Chi-squared association profile between two categorical columns
    // (source × lang) — the corpus-balance diagnostic: which
    // (source, language) cells are over/under-represented against
    // independence, per-cell. One map-combinable count over the corpus
    // is the ONLY pass that touches data; both marginals re-aggregate
    // the tiny cell table and broadcast back onto it — at 100 TB this
    // costs one shuffle of |cells| rows after the scan-side combine.
    // Every expected count is a single multiply-divide of exact
    // integers (deterministic cross-engine); only the per-cell
    // contribution carries rounding armor.
    QueryDef(
      "q_agg_chi2",
      s"""WITH cells AS (
        |  SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
        |rm AS (SELECT source, sum(o) AS rs FROM cells GROUP BY 1),
        |cm AS (SELECT lang, sum(o) AS cs FROM cells GROUP BY 1),
        |nn AS (SELECT sum(o) AS n FROM cells)
        |SELECT c.source, c.lang, c.o,
        |  ${Num.sql("rm.rs * cm.cs / (1.0 * nn.n)", 4)} AS e,
        |  ${Num.sql(
            "pow(c.o - rm.rs * cm.cs / (1.0 * nn.n), 2) / (rm.rs * cm.cs / (1.0 * nn.n))",
            6)} AS contrib
        |FROM cells c
        |JOIN rm ON c.source = rm.source
        |JOIN cm ON c.lang = cm.lang, nn""".stripMargin) { (s, dir) =>
      val cells = t(s, dir, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
        .cache() // feeds both marginals and the cell output
      val rm = cells.groupBy(col("source")).agg(sum(col("o")).as("rs"))
      val cm = cells.groupBy(col("lang")).agg(sum(col("o")).as("cs"))
      val nn = cells.agg(sum(col("o")).as("n"))
      val e = col("rs") * col("cs") / (lit(1.0) * col("n"))
      cells
        .join(broadcast(rm), "source")
        .join(broadcast(cm), "lang")
        .crossJoin(broadcast(nn))
        .select(col("source"), col("lang"), col("o"),
          Num.r(e, 4).as("e"),
          Num.r(pow(col("o") - e, 2) / e, 6).as("contrib"))
    },

    // ------------------------------------------------------------------
    // Skewness / excess kurtosis per group — the shape moments a drift
    // monitor reads next to q_agg_stats' location/spread. Both engines'
    // BUILTIN skewness/kurtosis fold central moments in partition order,
    // so their low bits are run-dependent — useless for a hash check.
    // Here the moments come from exact INTEGER power sums instead:
    // l_quantity is integral, q⁴ ≤ 50⁴ keeps even the sf0.1 sums far
    // inside BIGINT, integer addition is order-insensitive, and the
    // int→double conversion of each exact sum is correctly rounded in
    // both engines — so the double formula below runs on bit-identical
    // inputs and only the final values need rounding armor. m2^1.5 is
    // written m2·sqrt(m2) (sqrt is IEEE-exact; pow is libm-dependent).
    // One map-combinable hash agg of 5 longs per group — bounded state,
    // the same scale shape as q_agg_regr. The builtin parity is pinned
    // separately in AnalyticsSpec (|Δ| < 1e-6 vs skewness()/kurtosis()).
    QueryDef(
      "q_agg_skew",
      s"""WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS BIGINT)) AS s1,
        |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS s2,
        |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS s3,
        |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
        |      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
        |      AS s4
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT l_returnflag, n,
        |    CAST(s1 AS DOUBLE) / n AS r1, CAST(s2 AS DOUBLE) / n AS r2,
        |    CAST(s3 AS DOUBLE) / n AS r3, CAST(s4 AS DOUBLE) / n AS r4
        |  FROM m),
        |c AS (
        |  SELECT l_returnflag, n, r1,
        |    r2 - r1 * r1 AS m2,
        |    r3 - 3.0e0 * r1 * r2 + 2.0e0 * r1 * r1 * r1 AS m3,
        |    r4 - 4.0e0 * r1 * r3 + 6.0e0 * r1 * r1 * r2
        |      - 3.0e0 * r1 * r1 * r1 * r1 AS m4
        |  FROM r)
        |SELECT l_returnflag, n,
        |  ${Num.sql("r1", 6)} AS mean_qty,
        |  ${Num.sql("m3 / (m2 * sqrt(m2))", 6)} AS skew,
        |  ${Num.sql("m4 / (m2 * m2) - 3.0e0", 6)} AS kurt
        |FROM c""".stripMargin) { (s, dir) =>
      val q = col("l_quantity").cast("long")
      val m = t(s, dir, "lineitem")
        .select(col("l_returnflag"), q.as("q"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("q")).as("s1"),
          sum(col("q") * col("q")).as("s2"),
          sum(col("q") * col("q") * col("q")).as("s3"),
          sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
      val r1 = col("s1").cast("double") / col("n")
      val r2 = col("s2").cast("double") / col("n")
      val r3 = col("s3").cast("double") / col("n")
      val r4 = col("s4").cast("double") / col("n")
      val c = m.select(col("l_returnflag"), col("n"),
        r1.as("r1"),
        (r2 - r1 * r1).as("m2"),
        (r3 - lit(3.0) * r1 * r2 + lit(2.0) * r1 * r1 * r1).as("m3"),
        (r4 - lit(4.0) * r1 * r3 + lit(6.0) * r1 * r1 * r2
          - lit(3.0) * r1 * r1 * r1 * r1).as("m4"))
      c.select(col("l_returnflag"), col("n"),
        Num.r(col("r1"), 6).as("mean_qty"),
        Num.r(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skew"),
        Num.r(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6).as("kurt"))
    },

    // ------------------------------------------------------------------
    // Join/shuffle-key skew profiler — the diagnostic behind the
    // salting decision (q_agg_salted / q_join_salted are the CURE; this
    // measures the disease): key cardinality, the hot key's share, the
    // exact Gini coefficient of the key-frequency distribution, and
    // its Shannon entropy. The scale discipline: every statistic runs
    // on the AGGREGATED key-count table (|keys| rows), not the fact
    // table — the corpus contributes exactly one map-combinable count.
    // Gini needs frequencies in sorted order, which is ONE chunkedRank
    // over the key table (equal counts commute inside the rank-weighted
    // sum, so tie order can't move the value) and the weighted sum is
    // exact BIGINT arithmetic until the final division; entropy uses
    // the same log2-identity fold as q_text_entropy.
    QueryDef(
      "q_profile_skew",
      s"""WITH kc AS (
        |  SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |r AS (
        |  SELECT c,
        |    row_number() OVER (ORDER BY c, k) - 1 AS idx,
        |    count(*) OVER () AS n
        |  FROM kc)
        |SELECT count(*) AS n_keys,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  max(c) AS max_c,
        |  ${Num.sql("max(c) * 1.0 / sum(c)", 6)} AS max_share,
        |  ${Num.sql(
            "CAST(sum((2 * (idx + 1) - n - 1) * c) AS DOUBLE) / (CAST(min(n) AS DOUBLE) * sum(c))",
            6)} AS gini,
        |  ${Num.sql("log2(sum(c)) - sum(c * log2(c)) / sum(c)", 6)}
        |    AS entropy
        |FROM r""".stripMargin) { (s, dir) =>
      val kc = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("c"))
        .withColumn("__all", lit("all"))
      chunkedRank(kc, "__all", "c", Seq("k"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_c"),
          Num.r(max(col("c")) * lit(1.0) / sum(col("c")), 6).as("max_share"),
          // the rank-weighted sum goes through DECIMAL(38,0), not LONG:
          // billions of keys push Σ(2i−n−1)·c past 2^63 (ANSI crash in
          // Spark where DuckDB silently widens to HUGEINT); decimal is
          // exact to 1e38 and both engines' exact-int→double cast of
          // the final value is correctly rounded, hence identical.
          // n·Σc likewise multiplies as double.
          Num.r(sum(((lit(2) * (col("idx") + 1) - col("n") - 1) * col("c"))
            .cast("decimal(38,0)")).cast("double")
            / (min(col("n")).cast("double") * sum(col("c"))), 6)
            .as("gini"),
          Num.r(log2(sum(col("c"))) -
            sum(col("c") * log2(col("c"))) / sum(col("c")), 6).as("entropy"))
    },

    // ------------------------------------------------------------------
    // Unpivot (melt) + per-column profiling: stack() turns columns into
    // rows — the missing inverse of pivot — and one aggregation over the
    // melted relation yields the null/distinct profile of every column
    // in a single pass. The profiling shape matters at 100 TB: one scan
    // for the whole profile instead of one scan per column.
    QueryDef(
      "q_unpivot_profile",
      """SELECT 'o_orderstatus' AS col_name,
        |  count(*) - count(o_orderstatus) AS n_null,
        |  count(DISTINCT o_orderstatus) AS n_distinct FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority) FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*) - count(o_custkey),
        |  count(DISTINCT CAST(o_custkey AS VARCHAR)) FROM orders""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(expr(
          """stack(3,
            |  'o_orderstatus', o_orderstatus,
            |  'o_orderpriority', o_orderpriority,
            |  'o_custkey', cast(o_custkey AS string))
            |AS (col_name, val)""".stripMargin))
        .groupBy(col("col_name"))
        .agg(
          (count(lit(1)) - count(col("val"))).as("n_null"),
          countDistinct(col("val")).as("n_distinct"))
    },

    // ------------------------------------------------------------------
    // Exact DECIMAL arithmetic — money semantics: doubles accumulate
    // rounding error that varies with summation ORDER (why every double
    // aggregate here rounds through Num), while DECIMAL sums are exact
    // in any order — no rounding bridge needed. Fixed-point aggregation
    // is also Tungsten's fast path (long-backed Decimal for precision
    // ≤ 18). The final values present as DOUBLE only for the compare
    // harness (decimal→double is correctly rounded in both engines, so
    // the exact decimal result maps to the identical double; pandas-side
    // DECIMAL handling differs between the two fetch paths).
    QueryDef(
      "q_agg_decimal",
      """SELECT l_linestatus,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_exact,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
        |    AS disc_exact,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS min_exact
        |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val disc = col("l_discount").cast("decimal(4,2)")
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          sum(price).cast("double").as("sum_exact"),
          sum(price * disc).cast("double").as("disc_exact"),
          min(price).cast("double").as("min_exact"))
    },

    // ------------------------------------------------------------------
    // Bounded-sketch percentiles: approx_percentile ships a fixed-size
    // quantile summary per group (the production percentile at 100 TB —
    // SCALING.md's designated replacement for any value-buffering
    // aggregate). Sketches are engine-specific, so the check is a
    // verdict (the Approx pattern): the sketch value must land between
    // the EXACT p±2% percentiles from the sort-based plan. accuracy=2000
    // bounds rank error to n/2000 = 0.05%·n ≪ 2%·n, so a healthy sketch
    // always passes and a broken one (wrong group routing, wrong
    // percentile) fails; sketch cost scales with accuracy, and 2000 is
    // a 40× margin already.
    QueryDef(
      "q_agg_approx_pct",
      """SELECT l_linestatus, true AS p50_ok, true AS p90_ok
        |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      // NEGATIVE RESULT (r15): fanning the raw rows by orderkey to
      // spread the 3-task partial sketch update measured 0.73-0.89×
      // normalized with shuffle 5.4 → 16.8 MB — the accuracy-2000
      // update is too cheap per row to pay for a corpus-sized exchange
      // (the chunkedRank width-pin boundary). Left on the scan layout.
      val approx = li.groupBy(col("l_linestatus")).agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(2000)).as("a50"),
        percentile_approx(col("l_extendedprice"), lit(0.9), lit(2000)).as("a90"))
      val bounds = pricePercentiles(li, Seq(
        "lo50" -> 0.48, "hi50" -> 0.52, "lo90" -> 0.88, "hi90" -> 0.92))
      approx.join(broadcast(bounds), "l_linestatus")
        .select(col("l_linestatus"),
          (col("a50") >= col("lo50") && col("a50") <= col("hi50")).as("p50_ok"),
          (col("a90") >= col("lo90") && col("a90") <= col("hi90")).as("p90_ok"))
    },

    // ------------------------------------------------------------------
    // MERGEABLE QUANTILE SKETCH end to end — [[graft.functions.KllSketch]]
    // (KLL, Karnin/Lang/Liberty FOCS'16, derandomized by per-level
    // parity bits) driven through the full production shape: sketch per
    // group in ONE map-combinable pass (k·log(n/k) weighted items
    // shuffle per partition — never the values), then estimation stays
    // RELATIONAL on the sketch-sized output: a cumulative-weight window
    // over the exploded (value, weight) array picks est(q) = the
    // smallest value whose cumulative weight reaches ⌈q·n⌉. The
    // correctness gate is the q_agg_approx_pct verdict contract made
    // sharper: the TRUE rank of each estimate is counted in-plan (one
    // corpus pass against the ≤groups×3-row broadcast estimate table)
    // and the query asserts |rank(est) − q·n| ≤ 2%·n in exact
    // cross-multiplied integers — a broken sketch, a wrong merge, or a
    // mis-grouped row flips a verdict to false and fails the hash.
    // k = 256 holds measured rank error ≤ 1% even on adversarially
    // sorted merge orders (KllSpec); the 2% gate is a 2× margin.
    QueryDef(
      "q_agg_kll",
      """SELECT l_linestatus, q_u, true AS ok
        |FROM (SELECT DISTINCT l_linestatus FROM lineitem)
        |CROSS JOIN (VALUES (250000), (500000), (900000)) qs(q_u)""".stripMargin) {
      (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem")
        .select(col("l_linestatus"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val sk = li.groupBy(col("l_linestatus"))
        .agg(expr("graft_kll(cents, 256)").as("s"),
          count(lit(1)).as("n"))
      val pairs = sk
        .select(col("l_linestatus"), col("n"), explode(col("s")).as("p"))
        .select(col("l_linestatus"), col("n"),
          col("p.value").as("v"), col("p.weight").as("w"))
        .withColumn("cum", sum(col("w")).over(
          Window.partitionBy(col("l_linestatus"))
            .orderBy(col("v"), col("w"))))
      val qs = s.createDataFrame(Seq(Tuple1(250000L), Tuple1(500000L),
        Tuple1(900000L))).toDF("q_u")
      val ests = pairs.crossJoin(broadcast(qs))
        // cum ≥ ⌈q·n⌉  ⟺  cum·10⁶ ≥ q_u·n (integer, no ceil needed)
        .filter(col("cum") * 1000000L >= col("q_u") * col("n"))
        .groupBy(col("l_linestatus"), col("q_u"))
        .agg(min(col("v")).as("est"), min(col("n")).as("n"))
      li.join(broadcast(ests), "l_linestatus")
        .groupBy(col("l_linestatus"), col("q_u"))
        .agg(sum(when(col("cents") <= col("est"), 1L).otherwise(0L))
          .as("rank_le"), min(col("n")).as("n"))
        .select(col("l_linestatus"), col("q_u"),
          (abs(col("rank_le") * 1000000L - col("q_u") * col("n")) <=
            lit(20000L) * col("n")).as("ok"))
    },

    // ------------------------------------------------------------------
    // Recursive CTE (Spark 4 WITH RECURSIVE): generate a calendar spine
    // — every month of the data's final year, including the empty
    // months after the last order, which no GROUP BY over the data
    // alone can produce — then left-join counts onto it. Exercises the
    // spark.sql() entry path; the table is registered as a dir-scoped
    // temp view since SQL cannot reference a DataFrame. The spine
    // bounds are STATIC literals deliberately: Spark executes each
    // recursion step as its own iteration, so a scalar subquery in the
    // anchor/stop condition re-runs per step (measured 9.5s for an
    // 80-step data-driven spine at sf0.1 — ~120ms of re-planned
    // min/max per iteration, vs 1 iteration/row here). At scale,
    // derive literal bounds from table stats or one 1-row pre-query,
    // never inside the recursion.
    QueryDef(
      "q_sql_recursive",
      """WITH RECURSIVE m(mo) AS (
        |  SELECT DATE '2001-01-01'
        |  UNION ALL
        |  SELECT CAST(mo + INTERVAL 1 MONTH AS DATE) FROM m
        |  WHERE mo < DATE '2001-12-01'
        |)
        |SELECT mo, count(o_orderkey) AS n
        |FROM m LEFT JOIN orders
        |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = mo
        |GROUP BY mo""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("graft_orders_rec")
      s.sql("""
        WITH RECURSIVE m(mo) AS (
          SELECT DATE '2001-01-01'
          UNION ALL
          SELECT add_months(mo, 1) FROM m
          WHERE mo < DATE '2001-12-01'
        )
        SELECT mo, count(o_orderkey) AS n
        FROM m LEFT JOIN graft_orders_rec
          ON CAST(date_trunc('month', o_orderdate) AS DATE) = mo
        GROUP BY mo""")
    },

    // ------------------------------------------------------------------
    // SQL pipe syntax (Spark 4.0's |> operators, SPARK-49555; the
    // GoogleSQL/ZetaSQL linearized form) — filter → aggregate →
    // post-aggregation filter written as a pipeline instead of nested
    // SELECTs. Semantically identical to the classic form (the oracle
    // IS the classic form, so the hash match proves it); the pipe
    // stages lower onto the same partial+final hash aggregate with the
    // shipdate predicate pushed to the scan — surface syntax, not a
    // different plan. Exercised through the spark.sql() entry path like
    // q_sql_recursive.
    QueryDef(
      "q_sql_pipe",
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  ${Num.sql("sum(l_quantity)", 2)} AS qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |HAVING count(*) > 100""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_pipe")
      s.sql(s"""
        FROM graft_li_pipe
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |> AGGREGATE count(*) AS n,
             ${Num.sql("sum(l_quantity)", 2)} AS qty
             GROUP BY l_returnflag, l_linestatus
        |> WHERE n > 100""")
    },

    // ------------------------------------------------------------------
    // GROUP BY ALL (Spark 4 / DuckDB both ship it) — the analyst
    // shorthand that infers the grouping keys from the non-aggregate
    // SELECT items. The oracle spells the keys out, so the hash match
    // proves the inference resolves to exactly the explicit form; the
    // plan is the same partial+final hash aggregate either way.
    // Quantity sums ride as BIGINT (integral values), the repo's
    // sum-type armor.
    QueryDef(
      "q_sql_groupby_all",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("graft_orders_gba")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        FROM graft_orders_gba
        GROUP BY ALL""")
    },

    // ------------------------------------------------------------------
    // SELECT * EXCEPT — star expansion minus named columns, the wide-
    // table ergonomics feature (drop the payload, keep the metadata)
    // Spark 4 and DuckDB both ship (DuckDB spells it EXCLUDE). The
    // oracle enumerates the surviving columns explicitly, so the hash
    // match pins the expansion order AND the exclusion; column pruning
    // still reaches the scan because the projection resolves before
    // planning (no "SELECT *" penalty — the unreferenced text column
    // is never read).
    QueryDef(
      "q_sql_star_except",
      """SELECT doc_id, lang, source, n_chars
        |FROM documents WHERE n_chars > 500""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_se")
      s.sql("""
        SELECT * EXCEPT (text) FROM graft_docs_se WHERE n_chars > 500""")
    },

    // ------------------------------------------------------------------
    // Deterministic MODE (most-frequent value) per group — the data-
    // profiling aggregate, built from counts instead of the engine
    // mode() builtin precisely because builtins tie-break arbitrarily
    // (Spark and DuckDB could legitimately disagree). Two map-combinable
    // hash aggs + a tiny per-group max join; ties break on the smallest
    // value, so the result is a pure function of the data in both
    // engines.
    QueryDef(
      "q_agg_mode",
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, max(n) AS mx FROM c GROUP BY 1)
        |SELECT event_type, CAST(min(user_id) AS BIGINT) AS mode_user,
        |  CAST(max(n) AS BIGINT) AS mode_n
        |FROM c JOIN m USING (event_type) WHERE n = mx
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val m = c.groupBy(col("event_type")).agg(max(col("n")).as("mx"))
      c.join(m, Seq("event_type"))
        .filter(col("n") === col("mx"))
        .groupBy(col("event_type"))
        .agg(min(col("user_id")).as("mode_user"), max(col("n")).as("mode_n"))
    },

    // ------------------------------------------------------------------
    // Linear-regression aggregates (ANSI regr_*): slope / intercept /
    // R² / count / mean-x / mean-y of price ~ quantity per return flag.
    // Like corr/covar these are single-pass moment folds — bounded
    // state, map-side combined, one shuffle of 6 doubles per group —
    // i.e. the in-engine way to fit millions of per-group trend lines
    // without a driver-side regression library. Both engines implement
    // the same textbook formulas; Num-rounding absorbs summation-order
    // noise.
    QueryDef(
      "q_agg_regr",
      s"""SELECT l_returnflag,
        |  ${Num.sql("regr_slope(l_extendedprice, l_quantity)", 6)} AS slope,
        |  ${Num.sql("regr_intercept(l_extendedprice, l_quantity)", 6)} AS icept,
        |  ${Num.sql("regr_r2(l_extendedprice, l_quantity)", 6)} AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
        |  ${Num.sql("regr_avgx(l_extendedprice, l_quantity)", 6)} AS avg_x,
        |  ${Num.sql("regr_avgy(l_extendedprice, l_quantity)", 2)} AS avg_y
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Num.r(regr_slope(col("l_extendedprice"), col("l_quantity")), 6)
            .as("slope"),
          Num.r(regr_intercept(col("l_extendedprice"), col("l_quantity")), 6)
            .as("icept"),
          Num.r(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
            .as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
          Num.r(regr_avgx(col("l_extendedprice"), col("l_quantity")), 6)
            .as("avg_x"),
          Num.r(regr_avgy(col("l_extendedprice"), col("l_quantity")), 2)
            .as("avg_y"))
    },

    // ------------------------------------------------------------------
    // Multivariate ridge regression by EXACT normal equations — the
    // closed-form training loop under feature-based quality models
    // (predict price from quantity + discount here; predict a quality
    // label from doc features in a curation pipeline). regr_* stops at
    // one feature; with two the normal equations are a 3×3 symmetric
    // solve, and the 100 TB shape is unchanged: the ONLY corpus pass is
    // one map-combinable aggregate of 2 + 2p + p(p+1)/2 moments (count
    // and y-sum, p feature sums and p xy-sums, p(p+1)/2 cross-moments —
    // 9 for p = 2), then the solve is scalar algebra on a single row. Cross-engine parity is
    // engineered the q_agg_skew way: every moment is an exact BIGINT
    // (features integer-scaled first: qty is integral, disc/price carry
    // two decimals → ×100), so integer addition's order-insensitivity
    // makes the moments hash-identical, and the downstream Cramer solve
    // is the IDENTICAL sequence of double ops in both engines —
    // deterministic, not merely close. λ = 1000 on the feature diagonal
    // (intercept unpenalized, the textbook convention).
    QueryDef(
      "q_ml_ridge",
      s"""WITH i AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x1) AS BIGINT) AS sx1,
        |    CAST(sum(x2) AS BIGINT) AS sx2,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x1 * x1) AS BIGINT) AS sx1x1,
        |    CAST(sum(x1 * x2) AS BIGINT) AS sx1x2,
        |    CAST(sum(x2 * x2) AS BIGINT) AS sx2x2,
        |    CAST(sum(x1 * y) AS BIGINT) AS sx1y,
        |    CAST(sum(x2 * y) AS BIGINT) AS sx2y
        |  FROM i),
        |d AS (
        |  SELECT CAST(n AS DOUBLE) AS a,
        |    CAST(sx1 AS DOUBLE) AS b, CAST(sx2 AS DOUBLE) AS c,
        |    CAST(sx1x1 AS DOUBLE) + 1000.0e0 AS dd,
        |    CAST(sx1x2 AS DOUBLE) AS e,
        |    CAST(sx2x2 AS DOUBLE) + 1000.0e0 AS f,
        |    CAST(sy AS DOUBLE) AS u, CAST(sx1y AS DOUBLE) AS v,
        |    CAST(sx2y AS DOUBLE) AS w
        |  FROM m),
        |s AS (
        |  SELECT
        |    a * (dd * f - e * e) - b * (b * f - e * c)
        |      + c * (b * e - dd * c) AS det,
        |    u * (dd * f - e * e) - b * (v * f - e * w)
        |      + c * (v * e - dd * w) AS det0,
        |    a * (v * f - e * w) - u * (b * f - e * c)
        |      + c * (b * w - v * c) AS det1,
        |    a * (dd * w - e * v) - b * (b * w - v * c)
        |      + u * (b * e - dd * c) AS det2
        |  FROM d)
        |SELECT ${Num.sql("det0 / det", 6)} AS w_icept,
        |  ${Num.sql("det1 / det", 6)} AS w_qty,
        |  ${Num.sql("det2 / det", 6)} AS w_disc
        |FROM s""".stripMargin) { (s, dir) =>
      val x1 = col("l_quantity").cast("long")
      val x2 = floor(col("l_discount") * 100 + lit(0.5)).cast("long")
      val y = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
      val m = t(s, dir, "lineitem")
        .select(x1.as("x1"), x2.as("x2"), y.as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
          sum(col("y")).as("sy"),
          sum(col("x1") * col("x1")).as("sx1x1"),
          sum(col("x1") * col("x2")).as("sx1x2"),
          sum(col("x2") * col("x2")).as("sx2x2"),
          sum(col("x1") * col("y")).as("sx1y"),
          sum(col("x2") * col("y")).as("sx2y"))
      val d = m.select(
        col("n").cast("double").as("a"),
        col("sx1").cast("double").as("b"),
        col("sx2").cast("double").as("c"),
        (col("sx1x1").cast("double") + lit(1000.0)).as("dd"),
        col("sx1x2").cast("double").as("e"),
        (col("sx2x2").cast("double") + lit(1000.0)).as("f"),
        col("sy").cast("double").as("u"),
        col("sx1y").cast("double").as("v"),
        col("sx2y").cast("double").as("w"))
      // the same Cramer cofactor expressions, token for token, as the
      // oracle: identical IEEE op sequences are the parity guarantee
      val sRow = d.select(
        (col("a") * (col("dd") * col("f") - col("e") * col("e"))
          - col("b") * (col("b") * col("f") - col("e") * col("c"))
          + col("c") * (col("b") * col("e") - col("dd") * col("c")))
          .as("det"),
        (col("u") * (col("dd") * col("f") - col("e") * col("e"))
          - col("b") * (col("v") * col("f") - col("e") * col("w"))
          + col("c") * (col("v") * col("e") - col("dd") * col("w")))
          .as("det0"),
        (col("a") * (col("v") * col("f") - col("e") * col("w"))
          - col("u") * (col("b") * col("f") - col("e") * col("c"))
          + col("c") * (col("b") * col("w") - col("v") * col("c")))
          .as("det1"),
        (col("a") * (col("dd") * col("w") - col("e") * col("v"))
          - col("b") * (col("b") * col("w") - col("v") * col("c"))
          + col("u") * (col("b") * col("e") - col("dd") * col("c")))
          .as("det2"))
      sRow.select(
        Num.r(col("det0") / col("det"), 6).as("w_icept"),
        Num.r(col("det1") / col("det"), 6).as("w_qty"),
        Num.r(col("det2") / col("det"), 6).as("w_disc"))
    },

    // ------------------------------------------------------------------
    // Rule-table-driven validation — the declarative "expectations"
    // engine (the dbt-tests / Great-Expectations shape): data-quality
    // rules live as ROWS in a rule table, not as code, so adding a
    // check is an insert, not a deploy. Engine shape: the audited
    // columns unpivot ONCE via stack() into a (col_name, value) stream
    // — one scan covers every rule, the q_unpivot_profile discipline —
    // and the tiny rule table broadcast-joins onto it by column name;
    // a NULL or out-of-range value is a violation. Both checked and
    // violated counts come back per rule, so a disabled-by-typo rule
    // (n_checked = 0) is visible, not silently green. At 100 TB the
    // cost is one fact-table scan regardless of how many rules audit
    // the same columns.
    QueryDef(
      "q_audit_rules",
      """WITH rules(rule_id, col_name, lo, hi) AS (
        |  VALUES
        |    ('totalprice_floor', 'o_totalprice', 0e0, 1e9),
        |    ('totalprice_cap',   'o_totalprice', 0e0, 300000e0),
        |    ('custkey_range',    'o_custkey',    1e0, 2e5),
        |    ('orderkey_pos',     'o_orderkey',   1e0, 1e18)),
        |m AS (
        |  SELECT 'o_totalprice' AS col_name, o_totalprice AS v FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(o_custkey AS DOUBLE) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', CAST(o_orderkey AS DOUBLE) FROM orders)
        |SELECT rule_id, r.col_name, count(*) AS n_checked,
        |  count(CASE WHEN v IS NULL OR v < lo OR v > hi THEN 1 END)
        |    AS n_viol
        |FROM m JOIN rules r ON m.col_name = r.col_name
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val rules = Seq(
        ("totalprice_floor", "o_totalprice", 0e0, 1e9),
        ("totalprice_cap", "o_totalprice", 0e0, 300000e0),
        ("custkey_range", "o_custkey", 1e0, 2e5),
        ("orderkey_pos", "o_orderkey", 1e0, 1e18))
        .toDF("rule_id", "col_name", "lo", "hi")
      t(s, dir, "orders")
        .select(expr(
          """stack(3,
            |  'o_totalprice', o_totalprice,
            |  'o_custkey', CAST(o_custkey AS DOUBLE),
            |  'o_orderkey', CAST(o_orderkey AS DOUBLE))
            |AS (col_name, v)""".stripMargin))
        .join(broadcast(rules), "col_name")
        .groupBy(col("rule_id"), col("col_name"))
        .agg(count(lit(1)).as("n_checked"),
          count(when(col("v").isNull || col("v") < col("lo")
            || col("v") > col("hi"), 1)).as("n_viol"))
        .select(col("rule_id"), col("col_name"), col("n_checked"),
          col("n_viol"))
    },

    // ------------------------------------------------------------------
    // BENFORD FIRST-DIGIT AUDIT (Benford 1938; Nigrini's forensic-
    // accounting screen): the leading significant digit of naturally-
    // grown monetary amounts follows P(d) = log10(1 + 1/d); fabricated,
    // capped, or unit-mangled data doesn't. Run over order totals in
    // exact cents: the digit is the FIRST CHARACTER OF THE BIGINT'S
    // DECIMAL STRING — integer-to-string is exact and identical in both
    // engines, where floor(log10(x)) magnitude arithmetic can be off by
    // one at power-of-ten boundaries in floating point. Observed counts
    // are one 9-group map-combinable aggregate; the expectation
    // E_d = N·log10(1 + 1/d) lands as floor(x·1e6 + 0.5) µ-units with
    // ln spelled identically (ln(1+1/d)/ln(10) — same libm call) on
    // both engines, and the per-digit χ² term follows the q_churn_
    // logrank contract: one identical double expression over the two
    // exact integers, Num-rounded. The verdict here is MEASUREMENT, not
    // conformance — synthetic uniform prices fail Benford loudly, which
    // is exactly what the audit exists to surface. 100 TB: the corpus
    // pays one narrow-projection scan into a 9-row table; the only
    // empty-partition window (the N total) runs over those 9 rows
    // (PlanSpec boundedness entry).
    QueryDef(
      "q_audit_benford",
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders
        |  WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > 0),
        |o AS (SELECT digit, count(*) AS observed FROM c GROUP BY 1),
        |w AS (
        |  SELECT digit, observed,
        |    CAST(sum(observed) OVER () AS BIGINT) AS n FROM o),
        |e AS (
        |  SELECT digit, observed, n,
        |    CAST(floor(n * (ln(1 + 1.0 / digit) / ln(10)) * 1000000 + 0.5)
        |      AS BIGINT) AS expected_micro
        |  FROM w)
        |SELECT digit, CAST(observed AS BIGINT) AS observed, expected_micro,
        |  """.stripMargin +
        Num.sql("(observed * 1000000e0 - expected_micro) * " +
          "(observed * 1000000e0 - expected_micro) / " +
          "(expected_micro * 1000000e0)", 4) +
        " AS chi2_term\nFROM e") { (s, dir) =>
      val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
      val o = t(s, dir, "orders")
        .filter(cents > 0)
        .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("observed"))
      val w = o.withColumn("n",
        sum(col("observed")).over(Window.partitionBy()).cast("long"))
      val e = w.withColumn("expected_micro",
        floor(col("n") * (log(lit(1) + lit(1.0) / col("digit")) /
          log(lit(10.0))) * lit(1000000) + lit(0.5)).cast("long"))
      e.select(col("digit"), col("observed").cast("long").as("observed"),
        col("expected_micro"),
        Num.r((col("observed") * lit(1e6) - col("expected_micro")) *
          (col("observed") * lit(1e6) - col("expected_micro")) /
          (col("expected_micro") * lit(1e6)), 4).as("chi2_term"))
    },

    // ------------------------------------------------------------------
    // Skyline / Pareto frontier (Börzsönyi, Kossmann, Stocker, "The
    // Skyline Operator", ICDE 2001): the parts no other part beats on
    // BOTH price (minimize) and size (maximize) — multi-objective
    // shortlisting, the "best trade-offs only" query. The sequential
    // formulation is a single ordered sweep, which would serialize into
    // one task; the Spark plan is the paper's divide-and-conquer made
    // shuffle-shaped:
    //   1. collapse to distinct (price, size) points with multiplicity
    //      (map-combinable — at 100 TB the point table, not the fact
    //      table, is what everything after touches);
    //   2. per price keep only the max-size point (keyed window);
    //   3. LOCAL skylines inside 32 price-range chunks — chunk bounds
    //      from a broadcast 1-row min/max aggregate, sweep = a keyed
    //      running max per chunk. A local sweep can only DELETE
    //      dominated points (every global-skyline point survives its
    //      chunk), so the union of local skylines is a superset of the
    //      answer;
    //   4. the global sweep runs over that reduced union — the one
    //      ordered pass left, on skyline-of-chunks-sized data.
    // The oracle is the textbook single-window sweep, so the hash match
    // IS the proof that chunked division ≡ the sequential definition
    // (the chunkedRank play, applied to dominance).
    QueryDef(
      "q_skyline",
      """WITH p0 AS (
        |  SELECT p_retailprice AS price, p_size AS size, count(*) AS n_parts
        |  FROM part GROUP BY 1, 2),
        |p1 AS (
        |  SELECT price, size, n_parts,
        |    row_number() OVER (PARTITION BY price ORDER BY size DESC) AS rn
        |  FROM p0),
        |s AS (
        |  SELECT price, size, n_parts,
        |    max(size) OVER (ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bp
        |  FROM p1 WHERE rn = 1)
        |SELECT price, size, n_parts FROM s
        |WHERE bp IS NULL OR size > bp""".stripMargin) { (s, dir) =>
      val p0 = t(s, dir, "part")
        .groupBy(col("p_retailprice").as("price"), col("p_size").as("size"))
        .agg(count(lit(1)).as("n_parts"))
      val byPrice = Window.partitionBy(col("price"))
        .orderBy(col("size").desc)
      val pts = p0.withColumn("rn", row_number().over(byPrice))
        .filter(col("rn") === 1).drop("rn")
      // chunk bounds: broadcast 1-row min/max (the q_active_trailing
      // control-plane pattern) — no jobs at build time
      val bounds = pts.agg(min(col("price")).as("plo"),
        max(col("price")).as("phi"))
      val chunks = 32
      val chunked = pts.crossJoin(broadcast(bounds))
        .withColumn("chunk",
          when(col("phi") > col("plo"),
            least(floor((col("price") - col("plo")) * chunks /
              (col("phi") - col("plo"))), lit(chunks - 1L)))
            .otherwise(lit(0L)))
      val wLocal = Window.partitionBy(col("chunk")).orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = chunked
        .withColumn("bp", max(col("size")).over(wLocal))
        .filter(col("bp").isNull || col("size") > col("bp"))
      // global sweep over the reduced union of local skylines only
      val wGlobal = Window.orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
      local.select(col("price"), col("size"), col("n_parts"))
        .withColumn("bp", max(col("size")).over(wGlobal))
        .filter(col("bp").isNull || col("size") > col("bp"))
        .select(col("price"), col("size"), col("n_parts"))
    },

    // ------------------------------------------------------------------
    // Market-basket association rules (Agrawal & Srikant, "Fast
    // algorithms for mining association rules", VLDB 1994 — the
    // support/confidence/lift framework): which parts co-occur in
    // orders beyond chance? Top rules by lift, the recommender /
    // assortment signal. Plan shape is the triangles edge-build: ONE
    // shuffle groups each order's sorted part set, pairs explode
    // in-place as a half-matrix (never a fact-table self-join), item
    // supports broadcast onto the support-thresholded pair table
    // (min-support 2 prunes the pair relation to ~3% before any join),
    // and both rule directions come from the same symmetric pair row.
    // Confidence and lift are single divisions of exact BIGINTs;
    // ranking runs on the ROUNDED lift through chunkedRank with the
    // (antecedent, consequent) tie-break — the BM25 discipline.
    QueryDef(
      "q_basket_rules",
      s"""WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |nb AS (SELECT count(DISTINCT ok) AS n FROM li),
        |sup AS (SELECT pk, count(*) AS s FROM li GROUP BY 1),
        |pr AS (
        |  SELECT a.pk AS a, b.pk AS b, count(*) AS c
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2),
        |pf AS (SELECT a, b, c FROM pr WHERE c >= 2),
        |rules AS (
        |  SELECT a AS antecedent, b AS consequent, c FROM pf
        |  UNION ALL
        |  SELECT b, a, c FROM pf),
        |sc AS (
        |  SELECT antecedent, consequent, c AS n_pair,
        |    ${Num.sql("c * 1e0 / sa.s", 6)} AS conf,
        |    ${Num.sql("c * 1e0 * nb.n / (sa.s * sb.s)", 4)} AS lift
        |  FROM rules CROSS JOIN nb
        |  JOIN sup sa ON rules.antecedent = sa.pk
        |  JOIN sup sb ON rules.consequent = sb.pk),
        |rk AS (
        |  SELECT *, row_number() OVER
        |    (ORDER BY lift DESC, antecedent, consequent) AS rk
        |  FROM sc)
        |SELECT antecedent, consequent, n_pair, conf, lift, rk
        |FROM rk WHERE rk <= 20""".stripMargin) { (s, dir) =>
      // NOT cached (r15 negative result): caching the distinct for the
      // three consumers (basket count, supports, pair build) measured
      // 0.44× normalized — the fill serializes ahead of consumers that
      // previously overlapped, and the InMemoryRelation changes the
      // support-join planning. The duplicated ~1.2 s scan stages are
      // the cheaper evil.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val nb = li.select(col("ok")).distinct().agg(count(lit(1)).as("n"))
      val sup = li.groupBy(col("pk")).agg(count(lit(1)).as("s"))
      // one shuffle: per-order sorted part set, half-matrix explode (the
      // q_graph_triangles edge build). NEGATIVE RESULT (r15): the
      // triangles-style conf-width fan-out before this groupBy measured
      // 0.94× normalized with shuffle 25.6 → 33.1 MB — here `li` is
      // already distinct-shuffled by (ok, pk), so the pin adds a second
      // corpus-sized exchange instead of replacing a coalescible one,
      // and the 4-task explode it widens is too small to pay for it.
      val parts = li.groupBy(col("ok"))
        .agg(array_sort(collect_set(col("pk"))).as("pks"))
        .filter(size(col("pks")) >= 2)
      val pairsCol = flatten(transform(col("pks"), (x, i) =>
        transform(slice(col("pks"), i + lit(2), size(col("pks"))),
          y => struct(x.as("a"), y.as("b")))))
      val pf = parts.select(explode(pairsCol).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
      val rules = pf.select(col("a").as("antecedent"),
          col("b").as("consequent"), col("c"))
        .unionByName(pf.select(col("b").as("antecedent"),
          col("a").as("consequent"), col("c")))
      // sup is one row per part — ∝SF (200k·SF), so both support
      // attaches are unhinted keyed joins (AQE broadcasts while the
      // side fits); only the 1-row basket count keeps its hint
      val sc = rules.crossJoin(broadcast(nb))
        .join(sup.select(col("pk").as("antecedent"),
          col("s").as("sa")), "antecedent")
        .join(sup.select(col("pk").as("consequent"),
          col("s").as("sb")), "consequent")
        .select(col("antecedent"), col("consequent"), col("c").as("n_pair"),
          Num.r(col("c") * lit(1e0) / col("sa"), 6).as("conf"),
          Num.r(col("c") * lit(1e0) * col("n") / (col("sa") * col("sb")), 4)
            .as("lift"))
        .withColumn("neglift", -col("lift"))
        .withColumn("__all", lit("all"))
      chunkedRank(sc, "__all", "neglift",
          Seq("antecedent", "consequent"))
        .filter(col("idx") < 20)
        .select(col("antecedent"), col("consequent"), col("n_pair"),
          col("conf"), col("lift"), (col("idx") + 1).as("rk"))
    },

    // ------------------------------------------------------------------
    // WEIGHTED median — the robust center of a weighted distribution
    // (unit-price analysis weighted by quantity here; token-weighted
    // document stats in a curation pipeline): the smallest value whose
    // cumulative weight reaches half the total mass. Exactness: the
    // weights are integral quantities landed as BIGINT, so the running
    // and total masses are exact integers and the 2·cum ≥ tot pick is
    // pure integer arithmetic — no quantile interpolation, no float
    // boundary. Shape: ties collapse FIRST (map-combinable (group,
    // value) rollup — the relation the windows run over is
    // distinct-value sized, not row sized), then two windows on one
    // group-keyed exchange. At 100 TB the running sum goes chunked
    // exactly like chunkedRank (32 value-range partials + broadcast
    // prefix offsets); the pick rule is unchanged.
    QueryDef(
      "q_percentile_weighted",
      """WITH c AS (
        |  SELECT l_linestatus AS g, l_extendedprice AS v,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT g, v, wt,
        |    sum(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    sum(wt) OVER (PARTITION BY g) AS tot
        |  FROM c)
        |SELECT g AS l_linestatus,
        |  min(CASE WHEN 2 * cum >= tot THEN v END) AS wmedian,
        |  CAST(min(tot) AS BIGINT) AS total_weight
        |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "lineitem")
        .groupBy(col("l_linestatus").as("g"), col("l_extendedprice").as("v"))
        .agg(sum(col("l_quantity").cast("long")).as("wt"))
      val wRun = Window.partitionBy(col("g")).orderBy(col("v"))
      val wAll = Window.partitionBy(col("g"))
      c.select(col("g"), col("v"), col("wt"),
          sum(col("wt")).over(wRun).as("cum"),
          sum(col("wt")).over(wAll).as("tot"))
        .groupBy(col("g").as("l_linestatus"))
        .agg(min(when(lit(2) * col("cum") >= col("tot"), col("v")))
          .as("wmedian"),
          min(col("tot")).as("total_weight"))
    },

    // ------------------------------------------------------------------
    // Pairwise Pearson correlation MATRIX over the fact table's numeric
    // columns — the feature-profiling pass run before any model uses
    // them (collinearity screening). One map-combinable aggregate
    // computes ALL 15 moments (n, 4 sums, 4 sum-of-squares, 6 cross
    // sums) in a single corpus scan; the 6 correlations are then scalar
    // algebra on that 1-row table. Exactness engineering: every value
    // becomes integer CENTS first (the q_attribution floor(x·100+0.5)
    // landing), and the sums accumulate in DECIMAL(38)/HUGEINT — exact
    // at any corpus size, converted once (correctly rounded in both
    // engines) to double for the q_graph_assortativity op-sequence
    // mirror. At 100 TB this is ONE pass producing 15 numbers — the
    // cheapest possible profile of a 4-column fact table.
    QueryDef("q_corr_matrix", corrMatrixOracle) { (s, dir) =>
      def cents(c: Column): Column =
        floor(c * 100 + 0.5).cast("decimal(19,0)")
      val base = t(s, dir, "lineitem").select(
        cents(col("l_quantity")).as("q"),
        cents(col("l_extendedprice")).as("p"),
        cents(col("l_discount")).as("d"),
        cents(col("l_tax")).as("x"))
      val aggs = Seq(count(lit(1)).as("n")) ++
        corrCols.map(c => sum(col(c)).as(s"s_$c")) ++
        corrCols.map(c => sum(col(c) * col(c)).as(s"s_$c$c")) ++
        corrPairs.map { case (a, b) =>
          sum(col(a) * col(b)).as(s"s_$a$b")
        }
      val m = base.agg(aggs.head, aggs.tail: _*)
      def dd(name: String): Column = col(name).cast("double")
      def corrOf(a: String, b: String): Column =
        Num.r((dd("n") * dd(s"s_$a$b") - dd(s"s_$a") * dd(s"s_$b"))
          / (sqrt(dd("n") * dd(s"s_$a$a") - dd(s"s_$a") * dd(s"s_$a"))
            * sqrt(dd("n") * dd(s"s_$b$b") - dd(s"s_$b") * dd(s"s_$b"))),
          6)
      val withC = m.select(corrPairs.map { case (a, b) =>
        corrOf(a, b).as(s"c_$a$b")
      }: _*)
      val stackExpr = "stack(6, " + corrPairs.map { case (a, b) =>
        s"'${corrNames(a)}', '${corrNames(b)}', c_$a$b"
      }.mkString(", ") + ") AS (xcol, ycol, corr_v)"
      withC.select(expr(stackExpr))
    },

    // ------------------------------------------------------------------
    // Quantile normalization across sources — the batch-effect
    // correction a feature pipeline applies when per-source metric
    // distributions must be made comparable (here: each document's
    // n_chars is replaced by the GLOBAL value at the same quantile
    // position its rank holds within its source). Kept fully exact: the
    // mapped position is the integer midpoint formula
    //   gi = ((2·si + 1) · N) div (2·n_s)
    // over exact ranks (si = within-source rank, n_s = source size,
    // N = corpus size) — no float quantiles, no interpolation, so every
    // normalized value is a real corpus value and the rows hash-check.
    // (The BIGINT product caps out near N ≈ 3·10⁹ docs; past that,
    // promote the midpoint ratio to double — position resolution, not
    // correctness, is what degrades.) Scale shape: BOTH rank passes run
    // through chunkedRank (chunks × groups parallel sorts, broadcast
    // prefix offsets — never one task per source, never one global sort
    // task), the corpus total is a 1-row broadcast, and the position
    // join is a plain integer equi-join. The oracle uses the textbook
    // row_number windows, so the hash match re-proves chunked ≡ native
    // on a third rank family.
    QueryDef(
      "q_quantile_norm",
      """WITH d AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) - 1 AS si,
        |    count(*) OVER (PARTITION BY source) AS sn
        |  FROM documents),
        |g AS (
        |  SELECT n_chars AS norm_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS gi
        |  FROM documents),
        |t AS (
        |  SELECT source, doc_id, n_chars,
        |    ((2 * si + 1) * (SELECT count(*) FROM documents))
        |      // (2 * sn) AS gi
        |  FROM d)
        |SELECT t.source, t.doc_id, t.n_chars, g.norm_chars
        |FROM t JOIN g USING (gi)""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
      val bySource = chunkedRank(docs, "source", "n_chars", Seq("doc_id"))
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("idx").as("si"), col("n").as("sn"))
      val glob = chunkedRank(docs.withColumn("__all", lit("all")),
        "__all", "n_chars", Seq("doc_id"))
        .select(col("n_chars").as("norm_chars"), col("idx").as("gi"))
      val tot = docs.agg(count(lit(1)).as("gn"))
      bySource.crossJoin(broadcast(tot))
        .withColumn("gi", expr("((2 * si + 1) * gn) div (2 * sn)"))
        .join(glob, "gi")
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("norm_chars"))
    },

    // ------------------------------------------------------------------
    // Functional-dependency discovery (the Metanome/profiling question
    // "does A determine B?") over a fixed candidate list: A → B holds
    // exactly when |distinct A| = |distinct (A, B)| — two distinct
    // counts in ONE aggregate per candidate, each a single
    // map-combinable pass over its table (Spark plans multi-distinct
    // via Expand; at 100 TB run one candidate per pass or switch to
    // approx sketches for screening). The verdict lands as data:
    // schema keys (orderkey → custkey, nationkey → regionkey) must
    // hold, behavioral non-keys must not — a regression test FOR the
    // testdata generator as much as a profiling operator.
    QueryDef(
      "q_profile_fd",
      """SELECT 'orders' AS tbl, 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
        |  count(DISTINCT o_orderkey) AS n_lhs,
        |  count(DISTINCT (o_orderkey, o_custkey)) AS n_pair,
        |  count(DISTINCT o_orderkey) = count(DISTINCT (o_orderkey, o_custkey))
        |    AS fd_holds
        |FROM orders
        |UNION ALL
        |SELECT 'orders', 'o_custkey', 'o_orderpriority',
        |  count(DISTINCT o_custkey),
        |  count(DISTINCT (o_custkey, o_orderpriority)),
        |  count(DISTINCT o_custkey) = count(DISTINCT (o_custkey, o_orderpriority))
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem', 'l_orderkey', 'l_returnflag',
        |  count(DISTINCT l_orderkey),
        |  count(DISTINCT (l_orderkey, l_returnflag)),
        |  count(DISTINCT l_orderkey) = count(DISTINCT (l_orderkey, l_returnflag))
        |FROM lineitem
        |UNION ALL
        |SELECT 'nation', 'n_nationkey', 'n_regionkey',
        |  count(DISTINCT n_nationkey),
        |  count(DISTINCT (n_nationkey, n_regionkey)),
        |  count(DISTINCT n_nationkey) = count(DISTINCT (n_nationkey, n_regionkey))
        |FROM nation
        |UNION ALL
        |SELECT 'customer', 'c_nationkey', 'c_mktsegment',
        |  count(DISTINCT c_nationkey),
        |  count(DISTINCT (c_nationkey, c_mktsegment)),
        |  count(DISTINCT c_nationkey) = count(DISTINCT (c_nationkey, c_mktsegment))
        |FROM customer""".stripMargin) { (s, dir) =>
      def fd(tbl: String, lhs: String, rhs: String): DataFrame = {
        val nl = countDistinct(col(lhs))
        val np = countDistinct(col(lhs), col(rhs))
        t(s, dir, tbl).agg(nl.as("n_lhs"), np.as("n_pair"),
            (nl === np).as("fd_holds"))
          .select(lit(tbl).as("tbl"), lit(lhs).as("lhs"),
            lit(rhs).as("rhs"), col("n_lhs"), col("n_pair"),
            col("fd_holds"))
      }
      Seq(
        fd("orders", "o_orderkey", "o_custkey"),
        fd("orders", "o_custkey", "o_orderpriority"),
        fd("lineitem", "l_orderkey", "l_returnflag"),
        fd("nation", "n_nationkey", "n_regionkey"),
        fd("customer", "c_nationkey", "c_mktsegment"))
        .reduce(_ unionByName _)
    },

    // ------------------------------------------------------------------
    // Time-decay attribution at day grain — q_attribution credits the
    // single last touch; this spreads each purchase's credit over ALL
    // touches in a 7-day lookback with exponentially decaying weight.
    // Exactness trick: decay = 1000000 >> age_days — halving IS a
    // right-shift, so every credit is an exact BIGINT µ-unit and the
    // per-channel totals hash-check with no float anywhere. Scale
    // shape is q_active_trailing's bounded explode: each touch emits
    // exactly 8 (user, target_day, weight) rows, purchases pre-
    // aggregate to per-(user, day) counts, and the credit join is a
    // plain keyed equi-join — shuffle ∝ 8·|touches|, independent of
    // the lookback's event density.
    QueryDef(
      "q_attribution_decay",
      """WITH t0 AS (
        |  SELECT user_id, event_type,
        |    CAST(ts AS DATE) - DATE '1970-01-01' AS d
        |  FROM events),
        |p AS (SELECT user_id, d, count(*) AS np FROM t0
        |      WHERE event_type = 'purchase' GROUP BY 1, 2),
        |x AS (
        |  SELECT user_id, event_type, d + i AS td, 1000000 >> i AS w
        |  FROM t0, (SELECT unnest(range(0, 8)) AS i) ii
        |  WHERE event_type <> 'purchase')
        |SELECT x.event_type,
        |  CAST(sum(x.w * p.np) AS BIGINT) AS credit_u,
        |  count(*) AS n_pairs
        |FROM x JOIN p ON x.user_id = p.user_id AND x.td = p.d
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val t0 = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_date(col("ts").cast("date")).as("d"))
      val p = t0.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("d")).agg(count(lit(1)).as("np"))
      val x = t0.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type"), col("d"),
          explode(sequence(lit(0), lit(7))).as("i"))
        .select(col("user_id"), col("event_type"),
          (col("d") + col("i")).as("td"),
          expr("shiftright(1000000, i)").as("w"))
      x.join(p, x("user_id") === p("user_id") && col("td") === p("d"))
        .groupBy(col("event_type"))
        .agg(sum(col("w") * col("np")).as("credit_u"),
          count(lit(1)).as("n_pairs"))
    },

    // ------------------------------------------------------------------
    // Relational DIVISION (Codd's ÷, the "FOR ALL" query): customers
    // whose orders span EVERY order priority that exists. The classic
    // rewrite — per-divisor distinct count equals the divisor's
    // cardinality — turns the universal quantifier into one
    // map-combinable count-distinct per customer plus a 1-row
    // broadcast of the divisor size; no double NOT EXISTS, no
    // anti-join cascade. At 100 TB the per-key distinct is bounded by
    // the divisor domain (5 priorities), so partial aggregation
    // collapses it map-side.
    QueryDef(
      "q_division",
      """WITH dv AS (
        |  SELECT count(DISTINCT o_orderpriority) AS k FROM orders),
        |c AS (
        |  SELECT o_custkey, count(DISTINCT o_orderpriority) AS np,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT c.o_custkey, c.np, CAST(c.n_orders AS BIGINT) AS n_orders
        |FROM c, dv WHERE c.np = dv.k""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val dv = o.agg(countDistinct(col("o_orderpriority")).as("k"))
      o.groupBy(col("o_custkey"))
        .agg(countDistinct(col("o_orderpriority")).as("np"),
          count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(dv))
        .filter(col("np") === col("k"))
        .select(col("o_custkey"), col("np"), col("n_orders"))
    },

    // ------------------------------------------------------------------
    // Deterministic POISSON BOOTSTRAP confidence interval for each
    // source's mean document length — the error bar an eval pipeline
    // should report next to any corpus statistic (Efron 1979;
    // Poisson-ized for distributed data à la Chamandy et al., Google
    // 2012: resample weights are per-ROW independent draws, so no
    // global N or per-resample pass over an index is needed). Made
    // hash-checkable by the q_split discipline: resample b gives each
    // doc weight w ~ Poisson(1) via the inverse CDF over the doc's
    // 60-bit md5 hash — the CDF breakpoints are plan-time LONG literals
    // shared with the oracle, so both engines draw the IDENTICAL
    // weights. Per (source, b): exact BIGINT Σw·x / Σw, one double
    // division (bit-identical cross-engine); the CI bounds are ORDER
    // STATISTICS (2nd smallest / 2nd largest of B=32 resample means) —
    // rank selection, no float quantile interpolation to diverge.
    // Scale shape: the B-way explode is map-side (shuffle ∝ B·|sources|
    // after the partial agg, NOT B·corpus), the per-(source, b) agg is
    // map-combinable, and the rank window runs over 32 rows per source.
    QueryDef("q_stats_bootstrap", bootstrapOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
      val h = graft.functions.TextAnalysis.h60(concat(
        lit("bs:"), col("b").cast("string"), lit(":"),
        col("doc_id").cast("string")))
      val w = bootThresholds.zipWithIndex
        .foldRight(lit(bootThresholds.length): Column) {
          case ((thr, k), rest) => when(h < lit(thr), lit(k)).otherwise(rest)
        }
      val res = docs
        .select(col("source"), col("n_chars"),
          explode(sequence(lit(0), lit(bootB - 1))).as("b"), col("doc_id"))
        .select(col("source"), col("b"), col("n_chars"), w.as("w"))
        .groupBy(col("source"), col("b"))
        .agg(sum(col("w") * col("n_chars")).as("swx"), sum(col("w")).as("sw"))
        // sw = 0 needs every doc of a source at weight 0 — probability
        // e^(-n_docs), structurally impossible on this corpus; the
        // oracle divides unguarded too, so a guard here would diverge
        .select(col("source"), col("b"),
          (col("swx").cast("double") / col("sw").cast("double")).as("m"))
      val rw = Window.partitionBy(col("source"))
        .orderBy(col("m"), col("b"))
      val ranked = res.withColumn("rn", row_number().over(rw))
      val ci = ranked.groupBy(col("source")).agg(
        min(when(col("rn") === 2, col("m"))).as("lo_raw"),
        min(when(col("rn") === bootB - 1, col("m"))).as("hi_raw"))
      val est = docs.groupBy(col("source")).agg(
        (sum(col("n_chars")).cast("double") /
          count(lit(1)).cast("double")).as("est_raw"))
      est.join(ci, Seq("source"))
        .select(col("source"), lit(bootB).as("n_resamples"),
          Num.r(col("est_raw"), 6).as("est_mean"),
          Num.r(col("lo_raw"), 6).as("ci_lo"),
          Num.r(col("hi_raw"), 6).as("ci_hi"))
    },

    // ------------------------------------------------------------------
    // GEO: haversine radius search — the spatial primitive under
    // store-locator / geo-join / POI-dedup workloads. Coordinates
    // derive deterministically from keys as EXACT centi-degrees
    // (integer % then /100 — bit-identical cross-engine), so the only
    // cross-engine surface is the haversine itself: sin/cos/asin are
    // libm and differ in final ulps, which the shared Num rounding
    // absorbs (relative noise ~1e-12 of a km, eight orders below the
    // 4-decimal output and the 500 km cut — the q_anomaly_zscore
    // margin argument). Scale shape: the probe side is a key-ceiling
    // bounded handful broadcast against the corpus — the same
    // broadcast-probe idiom as q_knn_brute; a corpus×corpus geo-join
    // would bucket by geohash cell first (q_geo_geohash is that key).
    QueryDef(
      "q_geo_haversine",
      s"""WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST((c_custkey * 37) % 18000 AS DOUBLE) / 100.0e0 - 90.0e0
        |      AS lat,
        |    CAST((c_custkey * 73) % 36000 AS DOUBLE) / 100.0e0 - 180.0e0
        |      AS lon
        |  FROM customer),
        |probe AS (SELECT * FROM pts WHERE id < 8),
        |d AS (
        |  SELECT p.id AS probe_id, c.id AS cand_id,
        |    2.0e0 * 6371.0088e0 * asin(sqrt(
        |      sin((c.lat - p.lat) * pi() / 360.0e0)
        |        * sin((c.lat - p.lat) * pi() / 360.0e0)
        |      + cos(p.lat * pi() / 180.0e0) * cos(c.lat * pi() / 180.0e0)
        |        * sin((c.lon - p.lon) * pi() / 360.0e0)
        |        * sin((c.lon - p.lon) * pi() / 360.0e0))) AS km
        |  FROM probe p, pts c WHERE p.id <> c.id)
        |SELECT probe_id, cand_id, ${Num.sql("km", 4)} AS dist_km
        |FROM d WHERE km < 500.0e0""".stripMargin) { (s, dir) =>
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "CAST((c_custkey * 37) % 18000 AS DOUBLE) / 100.0e0 - 90.0e0" +
          " AS lat",
        "CAST((c_custkey * 73) % 36000 AS DOUBLE) / 100.0e0 - 180.0e0" +
          " AS lon")
      val probe = pts.filter(col("id") < 8)
        .select(col("id").as("probe_id"), col("lat").as("plat"),
          col("lon").as("plon"))
      val km = expr(
        """2.0e0 * 6371.0088e0 * asin(sqrt(
          |  sin((lat - plat) * pi() / 360.0e0)
          |    * sin((lat - plat) * pi() / 360.0e0)
          |  + cos(plat * pi() / 180.0e0) * cos(lat * pi() / 180.0e0)
          |    * sin((lon - plon) * pi() / 360.0e0)
          |    * sin((lon - plon) * pi() / 360.0e0)))""".stripMargin)
      pts.crossJoin(broadcast(probe))
        .filter(col("probe_id") =!= col("id"))
        .withColumn("km", km)
        .filter(col("km") < 500.0)
        .select(col("probe_id"), col("id").as("cand_id"),
          Num.r(col("km"), 4).as("dist_km"))
    },

    // ------------------------------------------------------------------
    // GEO: point-in-polygon at SCALE — q_geo_pip's bucketed twin (the
    // range2/theta2 pattern): instead of testing every point against
    // every polygon's edges, points and polygons meet through a GRID
    // CELL equi-join — each point lands in one 250×250 cell, each
    // polygon contributes its bounding box's cell cover (a plan-time
    // literal: the catalog is small; a polygon CORPUS would compute
    // covers with the same geohash arithmetic) — and the exact integer
    // ray cast runs only on candidate (point, polygon) pairs. A point
    // outside a polygon's bbox cover can't be inside it, so the
    // candidate set is a superset of the true matches and the result
    // is IDENTICAL to the all-pairs plan — which is the proof shipped:
    // the oracle is q_geo_pip's all-pairs aggregate, so the hash match
    // certifies the bucketing lossless. Cost goes from |P|·|edges| to
    // |P| + Σ candidates·edges-per-poly — the spatial-join shape that
    // survives a polygon corpus at 100 TB.
    QueryDef(
      "q_geo_pip2",
      s"""WITH pts AS (
        |  SELECT c_custkey AS id,
        |    (c_custkey * 193) % 1000 AS px,
        |    (c_custkey * 577) % 1000 AS py
        |  FROM customer),
        |edges(poly, x1, y1, x2, y2) AS (VALUES
        |  $pipEdgeValues),
        |cr AS (
        |  SELECT e.poly, p.id,
        |    count(CASE WHEN (y1 > py) <> (y2 > py) AND
        |      (CASE WHEN y2 > y1
        |        THEN (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1) > 0
        |        ELSE (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1) < 0
        |      END) THEN 1 END) AS nc
        |  FROM pts p, edges e GROUP BY 1, 2)
        |SELECT poly, count(CASE WHEN nc % 2 = 1 THEN 1 END) AS n_inside,
        |  CAST(sum(CASE WHEN nc % 2 = 1 THEN id END) AS BIGINT)
        |    AS id_checksum
        |FROM cr GROUP BY 1""".stripMargin) { (s, dir) =>
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 193) % 1000 AS px",
        "(c_custkey * 577) % 1000 AS py")
        .withColumn("cell",
          expr("(px DIV 250) * 4 + (py DIV 250)").cast("int"))
      // plan-time cell cover per polygon: every cell its bbox overlaps
      val covers = s.createDataFrame(pipCovers).toDF("poly", "cell")
      val edges = s.createDataFrame(pipEdges)
        .toDF("poly", "x1", "y1", "x2", "y2")
      val cand = pts.join(broadcast(covers), "cell")
        .select(col("poly"), col("id"), col("px"), col("py"))
      val cross = (col("x2") - col("x1")) * (col("py") - col("y1")) -
        (col("px") - col("x1")) * (col("y2") - col("y1"))
      val crossing = ((col("y1") > col("py")) =!= (col("y2") > col("py"))) &&
        when(col("y2") > col("y1"), cross > 0).otherwise(cross < 0)
      val inside = cand.join(broadcast(edges), "poly")
        .groupBy(col("poly"), col("id"))
        .agg(count(when(crossing, 1)).as("nc"))
        .filter(col("nc") % 2 === 1)
      // polygons whose candidate set yields no inside points must still
      // report a zero row (the all-pairs oracle emits every polygon)
      val polys = covers.select(col("poly")).distinct()
      polys.join(inside, Seq("poly"), "left")
        .groupBy(col("poly"))
        .agg(count(col("id")).as("n_inside"),
          sum(col("id")).cast("long").as("id_checksum"))
    },

    // ------------------------------------------------------------------
    // GEO: k-nearest-neighbor search by haversine — the geo family's
    // retrieval member (haversine = distance, geohash = bucketing, PIP
    // = containment, THIS = top-k): the 3 nearest points per probe,
    // the store-locator / nearest-depot query. Shape is q_knn_brute's
    // broadcast-probe idiom on the globe: the ≤8-row probe set
    // broadcasts against the corpus (no shuffle of the point table),
    // the per-probe top-3 runs as a probe-partitioned rank window —
    // WindowGroupLimit pushes the limit below the sort at scale. Ties
    // in the Num-rounded distance break on candidate id, so the
    // selected sets are total-ordered and hash-stable cross-engine
    // (the q_topk tie-break contract).
    QueryDef(
      "q_geo_knn",
      s"""WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST((c_custkey * 37) % 18000 AS DOUBLE) / 100.0e0 - 90.0e0
        |      AS lat,
        |    CAST((c_custkey * 73) % 36000 AS DOUBLE) / 100.0e0 - 180.0e0
        |      AS lon
        |  FROM customer),
        |probe AS (SELECT * FROM pts WHERE id < 8),
        |d AS (
        |  SELECT p.id AS probe_id, c.id AS cand_id,
        |    ${Num.sql(
             """2.0e0 * 6371.0088e0 * asin(sqrt(
               |      sin((c.lat - p.lat) * pi() / 360.0e0)
               |        * sin((c.lat - p.lat) * pi() / 360.0e0)
               |      + cos(p.lat * pi() / 180.0e0)
               |        * cos(c.lat * pi() / 180.0e0)
               |        * sin((c.lon - p.lon) * pi() / 360.0e0)
               |        * sin((c.lon - p.lon) * pi() / 360.0e0)))"""
               .stripMargin, 4)} AS dist_km
        |  FROM probe p, pts c WHERE p.id <> c.id),
        |r AS (
        |  SELECT probe_id, cand_id, dist_km, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY dist_km, cand_id) AS rk
        |  FROM d)
        |SELECT probe_id, rk, cand_id, dist_km FROM r
        |WHERE rk <= 3""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "CAST((c_custkey * 37) % 18000 AS DOUBLE) / 100.0e0 - 90.0e0" +
          " AS lat",
        "CAST((c_custkey * 73) % 36000 AS DOUBLE) / 100.0e0 - 180.0e0" +
          " AS lon")
      val probe = pts.filter(col("id") < 8)
        .select(col("id").as("probe_id"), col("lat").as("plat"),
          col("lon").as("plon"))
      val km = expr(
        """2.0e0 * 6371.0088e0 * asin(sqrt(
          |  sin((lat - plat) * pi() / 360.0e0)
          |    * sin((lat - plat) * pi() / 360.0e0)
          |  + cos(plat * pi() / 180.0e0) * cos(lat * pi() / 180.0e0)
          |    * sin((lon - plon) * pi() / 360.0e0)
          |    * sin((lon - plon) * pi() / 360.0e0)))""".stripMargin)
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("dist_km"), col("cand_id"))
      pts.crossJoin(broadcast(probe))
        .filter(col("probe_id") =!= col("id"))
        .select(col("probe_id"), col("id").as("cand_id"),
          Num.r(km, 4).as("dist_km"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("probe_id"), col("rk"), col("cand_id"),
          col("dist_km"))
    },

    // ------------------------------------------------------------------
    // GEO: geohash cell assignment — the spatial BUCKETING key that
    // turns a quadratic geo-join into a per-cell equi-join (the
    // q_dedup_* banding discipline applied to coordinates). This IS
    // standard geohash (lon bit first, alternating interleave, base32
    // alphabet without a/i/l/o): the bisection loop collapses to
    // floor-scaling each axis to 15 bits and Morton-interleaving —
    // exact integer math end to end, so the 6-char cells hash-check
    // with zero rounding armor. Per-cell occupancy from one
    // map-combinable count — the skew profile a geo-partitioner reads.
    QueryDef("q_geo_geohash", geohashOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 37) % 18000 AS lat_c",
        "(c_custkey * 73) % 36000 AS lon_c")
        // 15-bit per-axis cell coordinates from exact centi-degrees:
        // floor(x/span * 2^15) = integer div on centi-units
        .withColumn("latb", expr("(lat_c * 32768) div 18000"))
        .withColumn("lonb", expr("(lon_c * 32768) div 36000"))
      // geohash interleaves LON first: bit 29 = lon[14], 28 = lat[14]…
      val z = (0 until 15).map { i =>
        shiftright(col("lonb"), i).bitwiseAND(lit(1L)) *
          lit(1L << (2 * i + 1)) +
          shiftright(col("latb"), i).bitwiseAND(lit(1L)) *
            lit(1L << (2 * i))
      }.reduce(_ + _)
      val withZ = pts.withColumn("z", z)
      val hash = (0 until 6).map { c =>
        expr(s"substr('$geohashAlphabet', " +
          s"CAST((z div ${1L << (5 * (5 - c))}) % 32 AS INT) + 1, 1)")
      }.reduce(concat(_, _))
      withZ.withColumn("cell", hash)
        .select(col("id"), col("cell"),
          count(lit(1)).over(Window.partitionBy(col("cell")))
            .as("cell_n"))
    },

    // ------------------------------------------------------------------
    // GEO: point-in-polygon by even-odd ray casting — the spatial
    // CONTAINMENT primitive (haversine = distance, geohash = bucketing,
    // PIP = region assignment): tag every point with the polygons that
    // contain it, the geofencing / region-rollup query. The ray cast is
    // EXACT INTEGER throughout: a +x ray from p crosses edge
    // (x1,y1)-(x2,y2) iff the edge straddles p's y
    // ((y1 > py) != (y2 > py)) and the cross product
    // (x2−x1)(py−y1) − (px−x1)(y2−y1) has the sign of (y2−y1) — the
    // pnpoly test with the division cross-multiplied away, so both
    // engines count identical crossings with zero float surface
    // (coordinates are key-derived integers on a 1000² grid; boundary
    // ties resolve deterministically the same way in both engines).
    // Scale shape: points × the broadcast 17-row literal edge table
    // (the haversine probe idiom — the polygon catalog is small; a
    // polygon CORPUS would pre-bucket by geohash cell), then one
    // map-combinable parity aggregate keyed (poly, point) and a per-poly
    // rollup. Concave polygon P3 is in the set on purpose: even-odd
    // parity is what distinguishes ray casting from a bounding-box test.
    QueryDef(
      "q_geo_pip",
      s"""WITH pts AS (
        |  SELECT c_custkey AS id,
        |    (c_custkey * 193) % 1000 AS px,
        |    (c_custkey * 577) % 1000 AS py
        |  FROM customer),
        |edges(poly, x1, y1, x2, y2) AS (VALUES
        |  $pipEdgeValues),
        |cr AS (
        |  SELECT e.poly, p.id,
        |    count(CASE WHEN (y1 > py) <> (y2 > py) AND
        |      (CASE WHEN y2 > y1
        |        THEN (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1) > 0
        |        ELSE (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1) < 0
        |      END) THEN 1 END) AS nc
        |  FROM pts p, edges e GROUP BY 1, 2)
        |SELECT poly, count(CASE WHEN nc % 2 = 1 THEN 1 END) AS n_inside,
        |  CAST(sum(CASE WHEN nc % 2 = 1 THEN id END) AS BIGINT)
        |    AS id_checksum
        |FROM cr GROUP BY 1""".stripMargin) { (s, dir) =>
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey AS id",
        "(c_custkey * 193) % 1000 AS px",
        "(c_custkey * 577) % 1000 AS py")
      val edges = s.createDataFrame(pipEdges)
        .toDF("poly", "x1", "y1", "x2", "y2")
      val cross = (col("x2") - col("x1")) * (col("py") - col("y1")) -
        (col("px") - col("x1")) * (col("y2") - col("y1"))
      val crossing = ((col("y1") > col("py")) =!= (col("y2") > col("py"))) &&
        when(col("y2") > col("y1"), cross > 0).otherwise(cross < 0)
      pts.crossJoin(broadcast(edges))
        .groupBy(col("poly"), col("id"))
        .agg(count(when(crossing, 1)).as("nc"))
        .groupBy(col("poly"))
        .agg(count(when(col("nc") % 2 === 1, 1)).as("n_inside"),
          sum(when(col("nc") % 2 === 1, col("id"))).cast("long")
            .as("id_checksum"))
    },

    // ------------------------------------------------------------------
    // MULTI-DIMENSIONAL CLUSTERING for scan pruning (OPTIMIZE ZORDER):
    // interleave the bits of two filter dimensions into a Z-value,
    // group rows into files by Z-tile (top 6 bits = an 8×8 quadtree
    // grid), build the min-max ZONE MAP per file, and MEASURE the
    // file-skipping it buys a 4×4 grid of box queries against the same
    // data laid out in ingestion (round-robin) order. This is the
    // physical-design decision a 100 TB lakehouse gets right or pays
    // for forever: a zone map over insertion-ordered files has
    // full-span min/max on every dimension (zero skips), while
    // Z-clustered files are axis-aligned rectangles that box
    // predicates prune quadratically. Engine shape: the Z-value is
    // pure per-row bit arithmetic (codegen, no shuffle), each layout's
    // zone map is one map-combinable agg keyed by file id (the tiny
    // zone tables shuffle, never the fact), and the workload probe is
    // zones × 16 broadcast boxes. Everything is exact integers — bit
    // interleaving and integer division agree across engines by
    // construction.
    QueryDef("q_layout_zorder", zorderOracle) { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey").as("a"),
          col("l_suppkey").as("b"))
      val bounds = li.agg(
        min(col("a")).as("amin"), max(col("a")).as("amax"),
        min(col("b")).as("bmin"), max(col("b")).as("bmax"))
      val zed = li.crossJoin(broadcast(bounds))
        .withColumn("ba", expr("((a - amin) * 256) div (amax - amin + 1)"))
        .withColumn("bb", expr("((b - bmin) * 256) div (bmax - bmin + 1)"))
        .withColumn("z", zInterleave8(col("ba"), col("bb")))
      def zoneMap(layout: String, fileId: Column): DataFrame =
        zed.groupBy(fileId.as("file_id"))
          .agg(min(col("a")).as("la"), max(col("a")).as("ha"),
            min(col("b")).as("lb"), max(col("b")).as("hb"),
            count(lit(1)).as("n"))
          .select(lit(layout).as("layout"), col("file_id"),
            col("la"), col("ha"), col("lb"), col("hb"), col("n"))
      val zones = zoneMap("zorder", shiftright(col("z"), 10))
        .unionAll(zoneMap("natural", pmod(col("l_orderkey"), lit(64))))
      val boxes = s.range(16).toDF("q").crossJoin(broadcast(bounds))
        .selectExpr("q",
          "amin + ((q % 4) * (amax - amin + 1)) div 4 AS qla",
          "amin + (((q % 4) + 1) * (amax - amin + 1)) div 4 - 1 AS qha",
          "bmin + ((q div 4) * (bmax - bmin + 1)) div 4 AS qlb",
          "bmin + (((q div 4) + 1) * (bmax - bmin + 1)) div 4 - 1 AS qhb")
      val scanned = zones.join(broadcast(boxes),
        col("la") <= col("qha") && col("ha") >= col("qla") &&
          col("lb") <= col("qhb") && col("hb") >= col("qlb"))
        .groupBy(col("layout"))
        .agg(count(lit(1)).as("files_scanned"),
          sum(col("n")).as("rows_scanned"))
      val nFiles = zones.groupBy(col("layout"))
        .agg(count(lit(1)).as("n_files"))
      nFiles.join(scanned, Seq("layout"))
        .select(col("layout"), col("n_files"), col("files_scanned"),
          col("rows_scanned"))
    },

    // ------------------------------------------------------------------
    // ZONE-MAP PRUNING AS A PLANNER DECISION (DataSource V2): build a
    // real on-disk zone-map table (3 round-robin ingest batches +
    // OPTIMIZE into Z-tiles — the streaming maintainer's own write
    // path), then read it back through graft.sources.ZoneMapSource, a
    // V2 TableProvider whose ScanBuilder receives the query's a/b
    // predicates via SupportsPushDownFilters, consults the per-file
    // min/max zone rows AT PLANNING TIME, and plans one input
    // partition per SURVIVING file — the file skipping q_layout_zorder
    // measures as arithmetic, here executed by Catalyst itself, with
    // the kept/total count and pushed box visible in EXPLAIN
    // (PlanSpec pins both, plus that most files are skipped).
    // Projection pushdown reaches the parquet read schema; row/byte
    // statistics come from the surviving zone rows. The oracle is the
    // STRAIGHT box filter over the same derived rows, so the hash
    // match proves pruning loses nothing and the residual filter
    // re-applies the box exactly within surviving files. The box is
    // the middle quarter per axis in exact integer math (replayed
    // verbatim by DuckDB); the min/max pre-pass is the documented
    // 1-row sizing action. At 100 TB this shape — stats-at-plan-time,
    // scan only survivors, exact residual — is the entire lakehouse
    // read protocol (Delta/Iceberg data skipping), expressed on the
    // engine's native planning surface.
    QueryDef(
      "q_layout_dsv2",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem),
        |bounds AS (
        |  SELECT min(a) AS amin, max(a) AS amax,
        |    min(b) AS bmin, max(b) AS bmax
        |  FROM src),
        |box AS (
        |  SELECT amin + (amax - amin + 1) // 4 AS alo,
        |    amin + (amax - amin + 1) // 2 - 1 AS ahi,
        |    bmin + (bmax - bmin + 1) // 4 AS blo,
        |    bmin + (bmax - bmin + 1) // 2 - 1 AS bhi
        |  FROM bounds)
        |SELECT rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM src, box
        |WHERE a BETWEEN alo AND ahi AND b BETWEEN blo AND bhi
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val rows = t(s, dir, "lineitem").selectExpr(
        "l_orderkey * 10 + l_linenumber AS rid",
        "l_partkey AS a", "l_suppkey AS b")
      // content-keyed build-once: the MEASURED work is the pruned
      // read; the layout builds the first time an input is seen
      // (deterministic from a clean dir) and is reused after
      val table = buildOnce(s, dir, "zonemap") { tbl =>
        (0 until 3).foreach { w =>
          graft.streaming.Streaming.zoneIngestBatch(
            rows.filter(pmod(col("rid"), lit(3)) === w), w.toLong, tbl)
        }
        graft.streaming.Streaming.zoneOptimize(s, tbl)
      }
      // box literals: 1-row sizing action (min/max of the two axes),
      // exact integer endpoints both engines compute identically
      val bd = rows.agg(min(col("a")), max(col("a")),
        min(col("b")), max(col("b"))).collect()(0)
      val (amin, amax, bmin, bmax) =
        (bd.getLong(0), bd.getLong(1), bd.getLong(2), bd.getLong(3))
      val (alo, ahi) =
        (amin + (amax - amin + 1) / 4, amin + (amax - amin + 1) / 2 - 1)
      val (blo, bhi) =
        (bmin + (bmax - bmin + 1) / 4, bmin + (bmax - bmin + 1) / 2 - 1)
      s.read.format("graft.sources.ZoneMapSource").load(table)
        .filter(col("a").between(alo, ahi) && col("b").between(blo, bhi))
        .groupBy(pmod(col("rid"), lit(5)).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("a")).cast("long").as("sa"),
          sum(col("b")).cast("long").as("sb"))
    },

    // ------------------------------------------------------------------
    // STATS-ONLY AGGREGATES SERVED FROM THE FILE INDEX — the third leg
    // of the DSv2 surface (filters prune files, projections prune
    // columns; here whole-table COUNT/MIN/MAX never open a data file
    // at all): SupportsPushDownAggregates hands the aggregation to the
    // ZoneMapScanBuilder, which answers it from the per-file zone rows
    // — the index the table already maintains IS the aggregate. Served
    // only when provably exact (no residual filters, no live deletion
    // vectors, no grouping; anything else declines into the normal
    // scan — ZoneMapSourceSpec pins both directions). The plan's
    // BatchScan says "aggregates served from zone rows (no data file
    // read)" and carries ONE synthetic partition (PlanSpec). This is
    // the SELECT count(*) every lakehouse answers from metadata in
    // O(files), not O(rows) — at 100 TB the difference between a
    // catalog lookup and a full scan. The oracle computes the same
    // five stats from the raw derivation.
    QueryDef(
      "q_layout_stats",
      """SELECT count(*) AS n,
        |  min(l_partkey) AS min_a, max(l_partkey) AS max_a,
        |  min(l_suppkey) AS min_b, max(l_suppkey) AS max_b
        |FROM lineitem""".stripMargin) { (s, dir) =>
      // same zone table q_layout_dsv2 maintains (content-keyed
      // build-once; reuse here keeps this query index-only end to end)
      val table = buildOnce(s, dir, "zonemap") { tbl =>
        val rows = t(s, dir, "lineitem").selectExpr(
          "l_orderkey * 10 + l_linenumber AS rid",
          "l_partkey AS a", "l_suppkey AS b")
        (0 until 3).foreach { w =>
          graft.streaming.Streaming.zoneIngestBatch(
            rows.filter(pmod(col("rid"), lit(3)) === w), w.toLong, tbl)
        }
        graft.streaming.Streaming.zoneOptimize(s, tbl)
      }
      s.read.format("graft.sources.ZoneMapSource").load(table)
        .agg(count(lit(1)).as("n"),
          min(col("a")).as("min_a"), max(col("a")).as("max_a"),
          min(col("b")).as("min_b"), max(col("b")).as("max_b"))
    },

    // ------------------------------------------------------------------
    // STORAGE-PARTITIONED JOIN — the fact-fact join WITHOUT its
    // shuffle: two tables written co-bucketed on the join key
    // (.option("buckets", 16): per-file routing on pmod(rid, 16),
    // bucket materialized as the bkt column), both scans report
    // KeyGroupedPartitioning over identity(bkt), and the equi-join on
    // (bkt, rid) plans with ZERO exchanges under the join — Spark's
    // SPJ machinery matches the reported partitionings and zips
    // bucket k with bucket k (PlanSpec pins the single final-agg
    // exchange; ZoneMapSourceSpec pins the join-only plan is
    // exchange-FREE and exact). At 100 TB the fact-fact shuffle is
    // the single largest cost in the plan, and here the CONNECTOR
    // deletes it — the bucketed-table promise (the engine's native
    // bucketing made portable to any v2 table format).
    QueryDef(
      "q_layout_spj",
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_custkey AS oc,
        |    CAST(floor(o_totalprice) AS BIGINT) AS op
        |  FROM orders),
        |l AS (
        |  SELECT l_orderkey AS k, l_partkey AS lp, l_suppkey AS ls
        |  FROM lineitem)
        |SELECT o.k % 5 AS g, count(*) AS n,
        |  CAST(sum(o.oc) AS BIGINT) AS soc,
        |  CAST(sum(l.lp) AS BIGINT) AS slp
        |FROM o JOIN l ON o.k = l.k
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      // join keys (bkt, rid) superset the partition key (bkt)
      s.conf.set("spark.sql.requireAllClusterKeysForCoPartition",
        "false")
      // content-keyed build-once: repeat runs measure the
      // exchange-free SPJ read, not the two bucketed writes
      def bucketed(rows: DataFrame, tbl: String): Unit =
        rows.write.format("graft.sources.ZoneMapSource")
          .option("batch", 0L).option("buckets", 16)
          .mode("append").save(tbl)
      val tOrders = buildOnce(s, dir, "spj_o", Seq("orders")) { tbl =>
        bucketed(t(s, dir, "orders").selectExpr(
          "o_orderkey AS rid", "o_custkey AS a",
          "CAST(floor(o_totalprice) AS BIGINT) AS b"), tbl)
      }
      val tLines = buildOnce(s, dir, "spj_l") { tbl =>
        bucketed(t(s, dir, "lineitem").selectExpr(
          "l_orderkey AS rid", "l_partkey AS a", "l_suppkey AS b"), tbl)
      }
      val o = s.read.format("graft.sources.ZoneMapSource").load(tOrders)
        .selectExpr("bkt AS obkt", "rid AS ok", "a AS oc")
      val l = s.read.format("graft.sources.ZoneMapSource").load(tLines)
        .selectExpr("bkt AS lbkt", "rid AS lk", "a AS lp")
      // merge hint: stats-accurate small inputs would otherwise pick a
      // broadcast join, which has no shuffle to delete
      o.hint("merge")
        .join(l, col("obkt") === col("lbkt") && col("ok") === col("lk"))
        .groupBy(pmod(col("ok"), lit(5)).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("oc")).cast("long").as("soc"),
          sum(col("lp")).cast("long").as("slp"))
    },

    // ------------------------------------------------------------------
    // SQL CATALOG — plain SQL drives the whole table format through a
    // V2 TableCatalog (sources/ZoneCatalog): CREATE TABLE makes the
    // directory + a declared-schema sidecar, INSERT INTO runs the
    // transactional writer with AUTO-ASSIGNED batch ids (latest+1 at
    // commit — SQL has no writer options), SELECT plans the
    // zone-pruned v2 scan, and VERSION AS OF v resolves through
    // loadTable(ident, version) to the same snapshot pinning the
    // reader's asof option uses. This query is DDL + DML + time
    // travel end to end in SQL: create, two inserts (becoming batches
    // 0 and 1), then a union of the VERSION AS OF 0 snapshot and the
    // current table — the oracle re-derives both snapshots from the
    // wave predicates. DDL is directory algebra; everything
    // transactional is the table's own commit protocol, which is why
    // a catalog this small is complete.
    QueryDef(
      "q_catalog_sql",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem)
        |SELECT 0 AS snap, rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM src WHERE rid % 2 = 0 GROUP BY 1, 2
        |UNION ALL
        |SELECT 1 AS snap, rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM src GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val wh = s"/tmp/graft_warehouse_${dir.hashCode.toHexString}"
      s.conf.set("spark.sql.catalog.zm",
        classOf[graft.sources.ZoneCatalog].getName)
      s.conf.set("spark.sql.catalog.zm.warehouse", wh)
      t(s, dir, "lineitem").selectExpr(
        "l_orderkey * 10 + l_linenumber AS rid",
        "l_partkey AS a", "l_suppkey AS b")
        .createOrReplaceTempView("zm_src")
      s.sql("DROP TABLE IF EXISTS zm.db.fact")
      s.sql("CREATE TABLE zm.db.fact (rid BIGINT, a BIGINT, b BIGINT)")
      s.sql("INSERT INTO zm.db.fact SELECT * FROM zm_src WHERE rid % 2 = 0")
      s.sql("INSERT INTO zm.db.fact SELECT * FROM zm_src WHERE rid % 2 = 1")
      s.sql(
        """SELECT 0 AS snap, rid % 5 AS g, count(*) AS n,
          |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
          |FROM zm.db.fact VERSION AS OF 0 GROUP BY 1, 2
          |UNION ALL
          |SELECT 1 AS snap, rid % 5 AS g, count(*) AS n,
          |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
          |FROM zm.db.fact GROUP BY 1, 2""".stripMargin)
    },

    // ------------------------------------------------------------------
    // SQL DELETE — `DELETE FROM t WHERE <range>` through the catalog
    // becomes a deletion-vector publication (SupportsDeleteV2 →
    // Streaming.dvDelete): per-file positional bitmaps, NO data
    // rewrite, cost proportional to files + deletions, and the scan
    // keeps skipping deleted ordinals while decoding. The translator
    // accepts only predicates it can prove over the (rid, a, b)
    // contract (comparisons + AND/OR/NOT); anything else errors up
    // front — never wrong rows. Deletes are retroactive across
    // snapshots (ZoneCatalogSpec pins VERSION AS OF exclusion and the
    // single un-rewritten backing batch). The oracle applies the
    // complementary range.
    QueryDef(
      "q_catalog_delete",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem),
        |bounds AS (SELECT min(a) AS amin, max(a) AS amax FROM src),
        |box AS (
        |  SELECT amin + (amax - amin + 1) // 4 AS alo,
        |    amin + (amax - amin + 1) // 2 - 1 AS ahi
        |  FROM bounds)
        |SELECT rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM src, box WHERE a < alo OR a > ahi
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = s"/tmp/graft_warehouse_${dir.hashCode.toHexString}"
      s.conf.set("spark.sql.catalog.zm",
        classOf[graft.sources.ZoneCatalog].getName)
      s.conf.set("spark.sql.catalog.zm.warehouse", wh)
      val rows = t(s, dir, "lineitem").selectExpr(
        "l_orderkey * 10 + l_linenumber AS rid",
        "l_partkey AS a", "l_suppkey AS b")
      rows.createOrReplaceTempView("zm_del_src")
      val bd = rows.agg(min(col("a")), max(col("a"))).collect()(0)
      val (amin, amax) = (bd.getLong(0), bd.getLong(1))
      val (alo, ahi) =
        (amin + (amax - amin + 1) / 4, amin + (amax - amin + 1) / 2 - 1)
      s.sql("DROP TABLE IF EXISTS zm.db.del")
      s.sql("CREATE TABLE zm.db.del (rid BIGINT, a BIGINT, b BIGINT)")
      s.sql("INSERT INTO zm.db.del SELECT * FROM zm_del_src")
      s.sql(s"DELETE FROM zm.db.del WHERE a >= $alo AND a <= $ahi")
      s.sql(
        """SELECT rid % 5 AS g, count(*) AS n,
          |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
          |FROM zm.db.del GROUP BY 1""".stripMargin)
    },

    // ------------------------------------------------------------------
    // SQL UPDATE — the row-level-operation surface
    // (SupportsRowLevelOperations + SupportsDelta): the rewrite plan
    // scans the table WITH its (_zfile, _zpos) metadata-column row
    // identity, represents each update as delete + reinsert, and the
    // delta writers commit MERGE-ON-READ — old rows die as positional
    // tombstones in the next deletion-vector generation, new rows land
    // as one regular append batch, and NO existing data file is
    // rewritten (the Iceberg positional-delete shape through the
    // engine's own planner). Crash consistency is the pending-marker
    // protocol: staged fold → marker → batch (its zone row = its
    // commit point) → dv generation → marker drop, with
    // healRowLevelPending covering every window (ZoneCatalogSpec
    // drives the crash cases). Cost ∝ updated rows + one pass over
    // candidate files — at 100 TB the difference between UPDATE and
    // rewrite-the-table.
    QueryDef(
      "q_catalog_update",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem)
        |SELECT rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa,
        |  CAST(sum(CASE WHEN rid % 7 = 3 THEN b + 1000 ELSE b END)
        |    AS BIGINT) AS sb
        |FROM src GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = s"/tmp/graft_warehouse_${dir.hashCode.toHexString}"
      s.conf.set("spark.sql.catalog.zm",
        classOf[graft.sources.ZoneCatalog].getName)
      s.conf.set("spark.sql.catalog.zm.warehouse", wh)
      t(s, dir, "lineitem").selectExpr(
        "l_orderkey * 10 + l_linenumber AS rid",
        "l_partkey AS a", "l_suppkey AS b")
        .createOrReplaceTempView("zm_upd_src")
      s.sql("DROP TABLE IF EXISTS zm.db.upd")
      s.sql("CREATE TABLE zm.db.upd (rid BIGINT, a BIGINT, b BIGINT)")
      s.sql("INSERT INTO zm.db.upd SELECT * FROM zm_upd_src")
      s.sql("UPDATE zm.db.upd SET b = b + 1000 WHERE rid % 7 = 3")
      s.sql(
        """SELECT rid % 5 AS g, count(*) AS n,
          |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
          |FROM zm.db.upd GROUP BY 1""".stripMargin)
    },

    // ------------------------------------------------------------------
    // MERGE INTO — the upsert statement through the same row-level
    // delta surface: matched rows update (delete + reinsert), unmatched
    // source rows insert, ONE statement and one commit. The source is
    // key-deduplicated (min per rid) because the engine's merge
    // cardinality validator — correctly — rejects a source that
    // matches one target row twice. The oracle replays matched and
    // unmatched branches as plain relational algebra.
    QueryDef(
      "q_catalog_merge",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem),
        |tgt AS (SELECT rid, a, b FROM src WHERE rid % 3 = 0),
        |s AS (
        |  SELECT rid, min(a) AS a, min(b) + 500 AS b FROM src
        |  WHERE rid % 3 IN (0, 1) GROUP BY rid),
        |m AS (
        |  SELECT t.rid, t.a, s.b FROM tgt t JOIN s ON t.rid = s.rid
        |  UNION ALL
        |  SELECT s.rid, s.a, s.b FROM s WHERE s.rid % 3 = 1)
        |SELECT rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM m GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = s"/tmp/graft_warehouse_${dir.hashCode.toHexString}"
      s.conf.set("spark.sql.catalog.zm",
        classOf[graft.sources.ZoneCatalog].getName)
      s.conf.set("spark.sql.catalog.zm.warehouse", wh)
      t(s, dir, "lineitem").selectExpr(
        "l_orderkey * 10 + l_linenumber AS rid",
        "l_partkey AS a", "l_suppkey AS b")
        .createOrReplaceTempView("zm_mrg_src")
      s.sql("DROP TABLE IF EXISTS zm.db.mrg")
      s.sql("CREATE TABLE zm.db.mrg (rid BIGINT, a BIGINT, b BIGINT)")
      s.sql(
        "INSERT INTO zm.db.mrg SELECT * FROM zm_mrg_src WHERE rid % 3 = 0")
      s.sql(
        """MERGE INTO zm.db.mrg t
          |USING (SELECT rid, min(a) AS a, min(b) + 500 AS b
          |       FROM zm_mrg_src WHERE rid % 3 IN (0, 1)
          |       GROUP BY rid) s
          |ON t.rid = s.rid
          |WHEN MATCHED THEN UPDATE SET t.b = s.b
          |WHEN NOT MATCHED THEN INSERT (rid, a, b)
          |  VALUES (s.rid, s.a, s.b)""".stripMargin)
      s.sql(
        """SELECT rid % 5 AS g, count(*) AS n,
          |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
          |FROM zm.db.mrg GROUP BY 1""".stripMargin)
    },

    // ------------------------------------------------------------------
    // CHANGE FEED — incremental consumption on the zone table:
    // `.option("changesfrom", F)` reads exactly the batches in
    // (F, asof|latest] — what a downstream materialization reads to
    // catch up, the batch twin of the table's streaming source
    // (whose offsets use the same protocol). The delta is served from
    // the file index in O(new files); a delta that OPTIMIZE compacted
    // away throws rather than serving wrong rows (spec-pinned). At
    // 100 TB this is the difference between re-reading the table and
    // reading the day's arrivals. Batches land through the V2 write
    // path, so this query also round-trips the writer.
    QueryDef(
      "q_layout_changes",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem)
        |SELECT rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM src WHERE rid % 3 >= 1
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      // content-keyed build-once: repeat runs measure the CHANGE-FEED
      // read, not the three ingest writes
      val table = buildOnce(s, dir, "zonechanges") { tbl =>
        val rows = t(s, dir, "lineitem").selectExpr(
          "l_orderkey * 10 + l_linenumber AS rid",
          "l_partkey AS a", "l_suppkey AS b")
        (0 until 3).foreach { w =>
          rows.filter(pmod(col("rid"), lit(3)) === w)
            .write.format("graft.sources.ZoneMapSource")
            .option("batch", w.toLong).mode("append").save(tbl)
        }
      }
      s.read.format("graft.sources.ZoneMapSource")
        .option("changesfrom", 0L).load(table)
        .groupBy(pmod(col("rid"), lit(5)).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("a")).cast("long").as("sa"),
          sum(col("b")).cast("long").as("sb"))
    },

    // ------------------------------------------------------------------
    // CHANGE FEED WITH RETRACTIONS (new r13) — the deletion-aware
    // completion of q_layout_changes: dvPublish journals every
    // generation's NORMALIZED delta to dv_log, and
    // Streaming.zoneChangesFeed composes (+1) new-batch rows (read
    // through the dv-applying delta scan, so append-then-delete inside
    // the window nets to nothing) with (−1) journaled deletions
    // hitting batches the consumer already holds. Applying the feed
    // op-weighted advances ANY op-linear materialization — counts,
    // sums, the Blakeley join view (StreamingSpec proves the join
    // composition) — to exactly the current snapshot. Here the proof
    // runs as arithmetic: consumer state at (batch<=1, no deletions)
    // plus the feed, aggregated with op weights, must equal the
    // straight aggregate of the live table — which the oracle computes
    // as plain predicates over the source. Scale: the +1 term is the
    // O(new files) delta scan; the −1 term reads journal rows
    // proportional to NEW deletions and resolves them one task per
    // affected file. This is CDF semantics (Delta's change feed,
    // Iceberg's changelog scan) on the engine's own table format.
    QueryDef(
      "q_layout_retract",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem)
        |SELECT rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM src
        |WHERE NOT (rid % 7 = 3 AND rid % 3 <= 1) AND rid % 11 <> 5
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      // content-keyed build-once (bench hygiene): the history —
      // 2 ingests, the consumer's own materialization, a delete, a
      // new batch, a second delete — builds the first time an input
      // is seen; repeat runs measure the FEED READ + apply, which is
      // the CDF feature under test
      val table = buildOnce(s, dir, "zoneretract") { tbl =>
        val rows = t(s, dir, "lineitem").selectExpr(
          "l_orderkey * 10 + l_linenumber AS rid",
          "l_partkey AS a", "l_suppkey AS b")
        (0 until 2).foreach { w =>
          graft.streaming.Streaming.zoneIngestBatch(
            rows.filter(pmod(col("rid"), lit(3)) === w), w.toLong, tbl)
        }
        // consumer materializes at (batch <= 1, gen -1) — PERSISTED
        // as the consumer's own state table: deletes are retroactive
        // on this format, so no later snapshot read could re-derive
        // this state; a real CDF consumer holds it on disk too
        s.read.format("graft.sources.ZoneMapSource").load(tbl)
          .select(col("rid"), col("a"), col("b"))
          .withColumn("op", lit(1))
          .write.mode("overwrite").parquet(s"$tbl.v0")
        // ... then a delete (covers batches 0/1), a new batch, and a
        // second delete (covers all three) land
        graft.streaming.Streaming.dvDelete(s, tbl,
          (rid, _, _) => rid % 7 == 3)
        graft.streaming.Streaming.zoneIngestBatch(
          rows.filter(pmod(col("rid"), lit(3)) === 2), 2L, tbl)
        graft.streaming.Streaming.dvDelete(s, tbl,
          (rid, _, _) => rid % 11 == 5)
      }
      val v0 = s.read.parquet(s"$table.v0")
      val feed = graft.streaming.Streaming
        .zoneChangesFeed(s, table, 1L, -1L)
      v0.unionByName(feed)
        .groupBy(pmod(col("rid"), lit(5)).as("g"))
        .agg(sum(col("op")).cast("long").as("n"),
          sum(col("a") * col("op")).cast("long").as("sa"),
          sum(col("b") * col("op")).cast("long").as("sb"))
    },

    // ------------------------------------------------------------------
    // V2 WRITE PATH — zoneIngestBatch re-expressed through the
    // engine's native writer surface (SupportsWrite/BatchWrite):
    // `.write.format(...).option("batch", id).mode("append")` runs
    // one parquet writer per TASK, each returning (file, min/max/
    // count) as its commit message; the driver commit moves exactly
    // the committed files into data/batch=<id> (a speculative
    // retry's orphan never travels), folds the task stats into the
    // batch's zone row, and publishes it LAST — the zone row IS the
    // commit point, so a crash anywhere earlier leaves only
    // invisible staging (the aside-swap discipline, now enforced by
    // the engine's own commit protocol instead of library code).
    // Here: two writer-path batches land, then the box-filtered read
    // planned through the same source proves the written index prunes
    // and the rows round-trip exactly. Scale: writes are
    // embarrassingly parallel, commit is O(tasks) driver renames —
    // the same cost class as every table-format commit.
    QueryDef(
      "q_layout_write",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem),
        |bounds AS (SELECT min(a) AS amin, max(a) AS amax FROM src),
        |box AS (
        |  SELECT amin + (amax - amin + 1) // 4 AS alo,
        |    amin + (amax - amin + 1) // 2 - 1 AS ahi
        |  FROM bounds)
        |SELECT rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM src, box WHERE a BETWEEN alo AND ahi
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val table = s"/tmp/graft_zonewrite_${dir.hashCode.toHexString}"
      val rows = t(s, dir, "lineitem").selectExpr(
        "l_orderkey * 10 + l_linenumber AS rid",
        "l_partkey AS a", "l_suppkey AS b")
      val fsPath = new org.apache.hadoop.fs.Path(table)
      val fs = fsPath.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(fsPath)) fs.delete(fsPath, true)
      (0 until 2).foreach { w =>
        rows.filter(pmod(col("rid"), lit(2)) === w)
          .write.format("graft.sources.ZoneMapSource")
          .option("batch", w.toLong).mode("append").save(table)
      }
      val bd = rows.agg(min(col("a")), max(col("a"))).collect()(0)
      val (amin, amax) = (bd.getLong(0), bd.getLong(1))
      val (alo, ahi) =
        (amin + (amax - amin + 1) / 4, amin + (amax - amin + 1) / 2 - 1)
      s.read.format("graft.sources.ZoneMapSource").load(table)
        .filter(col("a").between(alo, ahi))
        .groupBy(pmod(col("rid"), lit(5)).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("a")).cast("long").as("sa"),
          sum(col("b")).cast("long").as("sb"))
    },

    // ------------------------------------------------------------------
    // TOP-N PUSHDOWN — ORDER BY <indexed col> LIMIT k as a file-index
    // decision (SupportsPushDownTopN, partial): a file is skipped iff
    // the files entirely before it in sort order already hold >= k
    // rows — no row of a skipped file can reach the top k, so Spark's
    // own TakeOrdered over the survivors stays exact
    // (isPartiallyPushed). Declined when the guarantee could lie:
    // residual filters or live deletion vectors. At 100 TB this is the
    // "show me the earliest k records" query reading O(k/rows-per-file)
    // files instead of the table — the Z-clustered layout makes the
    // prefix DENSE in the sort column, which is why clustering and
    // top-N pushdown compound. Output aggregates the top-k a-VALUES
    // (count/sum/min/max) — a deterministic multiset even under
    // boundary ties, unlike the tied rows' other columns.
    QueryDef(
      "q_layout_topn",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem),
        |top AS (SELECT a FROM src ORDER BY a LIMIT 500)
        |SELECT count(*) AS n, CAST(sum(a) AS BIGINT) AS sa,
        |  min(a) AS min_a, max(a) AS max_a
        |FROM top""".stripMargin) { (s, dir) =>
      // the same content-keyed zone table q_layout_stats uses
      val table = buildOnce(s, dir, "zonemap") { tbl =>
        val rows = t(s, dir, "lineitem").selectExpr(
          "l_orderkey * 10 + l_linenumber AS rid",
          "l_partkey AS a", "l_suppkey AS b")
        (0 until 3).foreach { w =>
          graft.streaming.Streaming.zoneIngestBatch(
            rows.filter(pmod(col("rid"), lit(3)) === w), w.toLong, tbl)
        }
        graft.streaming.Streaming.zoneOptimize(s, tbl)
      }
      s.read.format("graft.sources.ZoneMapSource").load(table)
        .select(col("a")).orderBy(col("a")).limit(500)
        .agg(count(lit(1)).as("n"), sum(col("a")).cast("long").as("sa"),
          min(col("a")).as("min_a"), max(col("a")).as("max_a"))
    },

    // ------------------------------------------------------------------
    // TIME TRAVEL — snapshot reads on the zone-map table, the last
    // table-format primitive next to OPTIMIZE, deletion vectors,
    // stats serving and DPP: `.option("asof", H)` pins visibility to
    // batches <= H (the newest opt=K generation with K <= H plus raw
    // batches in (K, H]). The snapshot is a PLANNING decision like
    // everything else in this source — the horizon lands in the
    // BatchScan description — and it composes with every other leg
    // (boxes, projections, stats-only aggregates, runtime keys all
    // evaluate against the pinned file set). Two deliberate semantics,
    // both spec-pinned: a horizon OLDER than the newest generation
    // throws (OPTIMIZE deleted those batches — the vacuumed-snapshot
    // contract, never silently wrong data), and deletion vectors apply
    // CURRENT-generation even to historical reads (deletes are
    // retroactive: time travel never resurrects a deleted row). Here:
    // ingest wave 0, wave 1, OPTIMIZE (compacts both, becomes opt=1),
    // ingest wave 2, then read snapshots asof=1 (the optimized
    // generation only) and asof=2 (plus the raw new batch) — the
    // oracle re-derives each snapshot from the wave predicates.
    QueryDef(
      "q_layout_asof",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem)
        |SELECT 1 AS snap, rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM src WHERE rid % 3 <= 1 GROUP BY 1, 2
        |UNION ALL
        |SELECT 2 AS snap, rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM src GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      // content-keyed build-once (bench hygiene): the history builds
      // the first time an input is seen — deterministic from a clean
      // dir — and repeat runs measure the two SNAPSHOT SCANS, which
      // is the time-travel feature under test
      val table = buildOnce(s, dir, "zoneasof") { tbl =>
        val rows = t(s, dir, "lineitem").selectExpr(
          "l_orderkey * 10 + l_linenumber AS rid",
          "l_partkey AS a", "l_suppkey AS b")
        (0 until 2).foreach { w =>
          graft.streaming.Streaming.zoneIngestBatch(
            rows.filter(pmod(col("rid"), lit(3)) === w), w.toLong, tbl)
        }
        graft.streaming.Streaming.zoneOptimize(s, tbl)
        graft.streaming.Streaming.zoneIngestBatch(
          rows.filter(pmod(col("rid"), lit(3)) === 2), 2L, tbl)
      }
      def snap(h: Long): DataFrame =
        s.read.format("graft.sources.ZoneMapSource")
          .option("asof", h).load(table)
          .groupBy(pmod(col("rid"), lit(5)).as("g"))
          .agg(count(lit(1)).as("n"),
            sum(col("a")).cast("long").as("sa"),
            sum(col("b")).cast("long").as("sb"))
          .select(lit(h.toInt).as("snap"), col("g"), col("n"),
            col("sa"), col("sb"))
      snap(1L).unionAll(snap(2L))
    },

    // ------------------------------------------------------------------
    // RUNTIME FILE SKIPPING — DPP composed with the zone index, the
    // fourth leg of the DSv2 surface (plan-time filters, projections,
    // stats-only aggregates; now JOIN-discovered keys): a time-keyed
    // zone table (a = ship epoch-day) joins a dim of one YEAR's
    // distinct order days. The year predicate lives on a DERIVED
    // expression (year(o_orderdate)), so nothing transfers statically
    // as a pushable box — Spark instead injects a
    // DynamicPruningExpression, evaluates the dim's join keys by
    // REUSING the join's own broadcast, and hands them to the scan's
    // SupportsRuntimeV2Filtering at execution time; a zone file
    // survives only if a delivered day lands inside its [min, max].
    // The 365 contiguous keys cover ~15 % of the ~2400-day domain, so
    // the Z-clustered layout skips most files — the canonical
    // fact-clustered-by-date ⋈ date-window-dim pattern, and it is
    // SF-INVARIANT: the window is calendar-sized, not data-sized, so
    // the skip ratio holds at 100 TB exactly as at sf0.001 (PlanSpec
    // pins the dynamicpruning subquery in-plan; ZoneMapSourceSpec
    // pins runtime kept < total with constructed keys). The dim
    // broadcast is calendar-bounded: ≤366 rows at every SF.
    QueryDef(
      "q_layout_runtime",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    CAST(datediff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS a,
        |    l_partkey AS b
        |  FROM lineitem),
        |dim AS (
        |  SELECT DISTINCT CAST(datediff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS d
        |  FROM orders WHERE year(o_orderdate) = 1998)
        |SELECT a % 7 AS dow, count(*) AS n,
        |  CAST(sum(b) AS BIGINT) AS sb
        |FROM src JOIN dim ON a = d
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      // cold = true (r14 VERDICT item 6): this one layout query
      // rebuilds its fixture EVERY invocation, so the bench keeps a
      // measured cold ingest+optimize number for the zone-table
      // derivation path while its siblings (zonemap/dv/asof/...)
      // keep the warm read-path semantics a maintained table serves.
      // The declared result is unchanged either way — the fixture's
      // contents are a pure function of lineitem.
      val table = buildOnce(s, dir, "zonetime", cold = true) { tbl =>
        val rows = t(s, dir, "lineitem").select(
          expr("l_orderkey * 10 + l_linenumber").as("rid"),
          datediff(col("l_shipdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("a"),
          col("l_partkey").as("b"))
        (0 until 3).foreach { w =>
          graft.streaming.Streaming.zoneIngestBatch(
            rows.filter(pmod(col("rid"), lit(3)) === w), w.toLong, tbl)
        }
        graft.streaming.Streaming.zoneOptimize(s, tbl)
      }
      val dim = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1998)
        .select(datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("d"))
        .distinct()
      s.read.format("graft.sources.ZoneMapSource").load(table)
        .join(broadcast(dim), col("a") === col("d"))
        .groupBy(pmod(col("a"), lit(7)).as("dow"))
        .agg(count(lit(1)).as("n"),
          sum(col("b")).cast("long").as("sb"))
    },

    // ------------------------------------------------------------------
    // DELETION-VECTOR READ PATH — the lakehouse read-side delete
    // protocol beside q_cdc_apply's write-side MERGE: deletes publish
    // per-file POSITIONAL bitmaps (Streaming.dvDelete, crash-safe
    // generation swap), and the DSv2 scan applies each part-file's
    // bitmap WHILE DECODING (the bitmap rides the InputPartition), so
    // deleted rows never reach the plan and the read stays
    // scan + residual filter with ZERO join operators — PlanSpec pins
    // the no-join shape and the in-plan "dv deleted: N" count. The
    // anti-join alternative pays a fact-sized shuffle on every
    // subsequent query forever; the bitmap costs one sorted-array
    // probe per row inside the reader. Two predicate waves fold into
    // one generation (the OR-fold is part of what the oracle checks);
    // a half-range box on `a` runs zone pruning and deletion skipping
    // together. The oracle is the straight derivation with both
    // delete predicates re-applied as NOT(...) — exact equality
    // proves positions were keyed and skipped correctly. At 100 TB
    // this is Delta/Iceberg's deletion-vector contract: delete cost
    // proportional to deletions, read cost unchanged, no rewrite
    // until a compaction MATERIALIZES (dvMaterialize, whose crash
    // cases live in StreamingSpec).
    QueryDef(
      "q_layout_dv",
      """WITH src AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS rid,
        |    l_partkey AS a, l_suppkey AS b
        |  FROM lineitem),
        |bounds AS (SELECT min(a) AS amin, max(a) AS amax FROM src),
        |box AS (
        |  SELECT amin + (amax - amin + 1) // 4 AS alo,
        |    amin + (3 * (amax - amin + 1)) // 4 - 1 AS ahi
        |  FROM bounds)
        |SELECT rid % 5 AS g, count(*) AS n,
        |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
        |FROM src, box
        |WHERE a BETWEEN alo AND ahi
        |  AND NOT (rid % 7 = 3 OR (a + b) % 11 = 5)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val rows = t(s, dir, "lineitem").selectExpr(
        "l_orderkey * 10 + l_linenumber AS rid",
        "l_partkey AS a", "l_suppkey AS b")
      // content-keyed build-once: repeat runs measure the DV-applying
      // pruned read, not the ingest + two delete waves
      val table = buildOnce(s, dir, "dvtable") { tbl =>
        (0 until 3).foreach { w =>
          graft.streaming.Streaming.zoneIngestBatch(
            rows.filter(pmod(col("rid"), lit(3)) === w), w.toLong, tbl)
        }
        // two delete waves — the second generation must FOLD the first
        graft.streaming.Streaming.dvDelete(s, tbl,
          (rid, _, _) => rid % 7 == 3)
        graft.streaming.Streaming.dvDelete(s, tbl,
          (_, a, b) => (a + b) % 11 == 5)
      }
      val bd = rows.agg(min(col("a")), max(col("a"))).collect()(0)
      val (amin, amax) = (bd.getLong(0), bd.getLong(1))
      val (alo, ahi) = (amin + (amax - amin + 1) / 4,
        amin + 3 * (amax - amin + 1) / 4 - 1)
      s.read.format("graft.sources.ZoneMapSource").load(table)
        .filter(col("a").between(alo, ahi))
        .groupBy(pmod(col("rid"), lit(5)).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(col("a")).cast("long").as("sa"),
          sum(col("b")).cast("long").as("sb"))
    },

    // ------------------------------------------------------------------
    // LOGISTIC-family GLM trained IN-ENGINE by full Newton steps — the
    // quality-classifier training loop (predict a binary label from row
    // features) run as pure relational algebra, complementing
    // q_ml_ridge's closed-form least squares. Model: P(return) ~
    // intercept + quantity + discount with the ALGEBRAIC sigmoid
    // σ(z) = ½ + ½·z/(1+|z|) — chosen over exp() deliberately: libm
    // exp() is not correctly rounded and differs across engines, while
    // +,·,/,abs are IEEE-exact, so the per-row probabilities are
    // bit-identical cross-engine and the whole training run is
    // hash-checkable. Scale shape per Newton step: ONE map-combinable
    // aggregate of 9 exact BIGINT moments (per-row gradient/Hessian
    // contributions quantized at 2⁻²⁰ — floor of a deterministic
    // double, so quantization is identical cross-engine and integer
    // addition kills fold-order noise; |Σ| < 8·10¹⁵ even at sf1), then
    // a 3×3 Cramer solve on a single row (the ridge cofactor text,
    // λ = 1 on the diagonal) and a 1-row broadcast of the new weights
    // into the next pass — 2 Newton steps + 1 scoring pass = 3 fact
    // scans, zero fact-sized shuffles, the textbook distributed-GLM
    // plan (model to data, never data to model). The oracle replays
    // the identical fragment text as chained CTEs.
    QueryDef("q_ml_logreg", logregOracle) { (s, dir) =>
      val c = t(s, dir, "lineitem").selectExpr(logregRows: _*)
      val w0 = s.range(1).selectExpr(logregInit: _*)
      def step(w: DataFrame): DataFrame = {
        val m = c.crossJoin(broadcast(w))
          .selectExpr(logregZ: _*)
          .selectExpr(logregProb: _*)
          .selectExpr(logregQuant: _*)
          .agg(expr(logregMom.head), logregMom.tail.map(expr): _*)
        m.selectExpr(logregDeq: _*)
          .selectExpr(logregCramer: _*)
          .selectExpr(logregUpdate: _*)
      }
      val w2 = step(step(w0))
      c.crossJoin(broadcast(w2))
        .selectExpr(logregZ: _*)
        .agg(expr(logregAcc.head), logregAcc.tail.map(expr): _*)
        .selectExpr(logregFinal: _*)
    },

    // ------------------------------------------------------------------
    // LINEAR SVM by full-batch subgradient descent — the MAX-MARGIN
    // member of the in-engine training family (logreg = Newton on
    // log-loss, ridge = closed form, this = hinge loss): Pegasos
    // (Shalev-Shwartz 2007) with the minibatch sampling removed, so
    // every step is DETERMINISTIC: w ← (1−ηλ)w + η·avg over
    // margin-violators of y·x, with η_t = 2⁻ᵗ and λ = 0.1 (the
    // intercept unregularized, textbook). The hinge subgradient is an
    // INDICATOR times the data — even better suited to the logreg
    // quantization discipline than the sigmoid was: per-row
    // contributions quantize at 2⁻²⁰ into BIGINTs, integer addition
    // kills fold-order noise, and every weight update is IEEE-exact
    // scalar algebra on one row. Scale shape per round: ONE
    // map-combinable 3-moment aggregate over the fact scan + a 1-row
    // weight broadcast into the next pass — 3 rounds + 1 scoring pass
    // = 4 fact scans, zero fact-sized shuffles (model to data, the
    // distributed-GLM plan). The scoring pass reports support-vector
    // count, training accuracy, and the regularized hinge objective.
    // The oracle replays the identical fragment text as chained CTEs.
    QueryDef("q_ml_svm", svmOracle) { (s, dir) =>
      val c = t(s, dir, "lineitem").selectExpr(svmRows: _*)
      var w = s.range(1).selectExpr(svmInit: _*)
      for (k <- 0 until svmRounds) {
        w = c.crossJoin(broadcast(w))
          .selectExpr(svmMargin: _*)
          .selectExpr(svmQuant: _*)
          .agg(expr(svmMom.head), svmMom.tail.map(expr): _*)
          .selectExpr(svmUpdate(k): _*)
      }
      c.crossJoin(broadcast(w))
        .selectExpr(svmMargin: _*)
        .agg(expr(svmAcc.head), svmAcc.tail.map(expr): _*)
        .selectExpr(svmFinal: _*)
    },

    // ------------------------------------------------------------------
    // ISOTONIC REGRESSION CALIBRATION — the PAV fit (Ayer 1955 /
    // Barlow-Brunk) via its EXACT MINIMAX closed form instead of the
    // sequential pool-adjacent-violators walk: over score bins,
    // fit(i) = max_{j<=i} min_{k>=i} rate(j..k). The j-set grows and
    // the k-set shrinks with i, so monotonicity is STRUCTURAL — it
    // holds for any inner quantity, which lets the per-range rate be
    // µ-quantized by pure integer division (s·10⁶ div w) and the whole
    // fit stay BIGINT-exact end to end: no iteration, no floats, no
    // cross-engine drift. Engine shape: ONE corpus pass bins the
    // documents (64 bins, noisy-monotone empirical positive rate by
    // construction); everything after runs on the 64-row bin table —
    // a 2080-range sum join and a two-level min/max — bounded by the
    // bin grid at every SF, the calibration-layer cost of serving a
    // quality model at 100 TB. This is q_calibration's reliability
    // diagram turned into the CALIBRATOR itself (the isotonic step
    // scikit-learn/Platt pipelines run after training).
    QueryDef(
      "q_ml_isotonic",
      """WITH d AS (
        |  SELECT doc_id, least(63, length(text) // 16) AS bin,
        |    CASE WHEN (doc_id * 11 + length(text)) % 64 <
        |      least(63, length(text) // 16) THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |bins AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS w,
        |    CAST(sum(pos) AS BIGINT) AS s
        |  FROM d GROUP BY bin),
        |grid AS (
        |  SELECT CAST(gid // 64 AS BIGINT) AS j,
        |    CAST(gid % 64 AS BIGINT) AS k
        |  FROM (SELECT unnest(range(4096)) AS gid) WHERE gid // 64 <= gid % 64),
        |ranges AS (
        |  SELECT g.j, g.k,
        |    (CAST(sum(b.s) AS BIGINT) * 1000000)
        |      // CAST(sum(b.w) AS BIGINT) AS q
        |  FROM grid g JOIN bins b ON b.bin BETWEEN g.j AND g.k
        |  GROUP BY g.j, g.k),
        |inner_min AS (
        |  SELECT r.j, b.bin, min(r.q) AS mn
        |  FROM ranges r JOIN bins b ON r.j <= b.bin AND r.k >= b.bin
        |  GROUP BY r.j, b.bin)
        |SELECT i.bin, b.w, b.s,
        |  CAST(max(i.mn) AS BIGINT) AS fit_u
        |FROM inner_min i JOIN bins b ON b.bin = i.bin
        |GROUP BY i.bin, b.w, b.s""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").selectExpr(
        "doc_id", "least(63, length(text) DIV 16) AS bin",
        "CASE WHEN (doc_id * 11 + length(text)) % 64 < " +
          "least(63, length(text) DIV 16) THEN 1 ELSE 0 END AS pos")
      val bins = d.groupBy(col("bin"))
        .agg(count(lit(1)).cast("long").as("w"),
          sum(col("pos")).cast("long").as("s"))
        .localCheckpoint() // three bounded consumers below
      val grid = s.range(4096)
        .selectExpr("id DIV 64 AS j", "id % 64 AS k")
        .filter(col("j") <= col("k"))
      val ranges = grid.join(bins, col("bin").between(col("j"), col("k")))
        .groupBy(col("j"), col("k"))
        .agg(expr("(CAST(sum(s) AS BIGINT) * 1000000)" +
          " DIV CAST(sum(w) AS BIGINT)").as("q"))
      val innerMin = ranges
        .join(bins.select(col("bin")),
          col("j") <= col("bin") && col("k") >= col("bin"))
        .groupBy(col("j"), col("bin")).agg(min(col("q")).as("mn"))
      innerMin.join(bins, "bin")
        .groupBy(col("bin"), col("w"), col("s"))
        .agg(max(col("mn")).cast("long").as("fit_u"))
        .select(col("bin"), col("w"), col("s"), col("fit_u"))
    },

    // ------------------------------------------------------------------
    // ADABOOST OVER DECISION STUMPS — the classic ensemble method
    // (Freund & Schapire 1997) trained fully in-engine, the boosting
    // member of the ML family beside q_ml_logreg's Newton steps and
    // q_ml_ridge's closed form: 3 rounds over a 96-candidate stump
    // grid (3 integer text features × 16 thresholds × 2 polarities) on
    // a noisy hidden rule over the documents corpus. Per round, ONE
    // corpus pass scores every candidate (crossJoin against the
    // broadcast 96-row literal grid — bounded fan-out ×96, map-side
    // partial aggregation shrinks the shuffle to 96 rows), a
    // deterministic 96-row argmin (err, cf, ct, cp — a total order)
    // picks the stump, and weights update + renormalize as pure
    // projections against two 1-row broadcasts; per-round
    // localCheckpoints keep the chain linear. Cross-engine parity is
    // ENGINEERED: weights live in integer µ-units, every double op in
    // the update (multiply, divide, sqrt) is IEEE-correctly-rounded —
    // so bit-identical across engines — because e^±α = √R̄^±1 for
    // AdaBoost's α = ½lnR̄ (the one libm call, ln for the REPORTED α,
    // follows the repo's single-ln precedent); +1 smoothing on R̄ keeps
    // α finite even on a perfectly separated round. Scale shape: per
    // round the corpus is touched twice (score + update) with zero
    // corpus-keyed shuffles — everything keyed is candidate-sized.
    // The oracle replays all 3 rounds from the SAME fragment text as
    // generated CTEs.
    QueryDef("q_ml_adaboost", adaboostOracle) { (s, dir) =>
      var ex = t(s, dir, "documents").selectExpr(abFeat: _*)
        .selectExpr(abLabel: _*).localCheckpoint()
      val grid = s.range(96).selectExpr(abGrid: _*)
      val outs = scala.collection.mutable.Buffer.empty[DataFrame]
      for (r <- 1 to abRounds) {
        val best = ex.crossJoin(broadcast(grid))
          .selectExpr(abFv: _*).selectExpr(abH: _*)
          .groupBy(col("cf"), col("ct"), col("cp"))
          .agg(expr(abErrAgg.head), abErrAgg.tail.map(expr): _*)
          .orderBy(col("err_u"), col("cf"), col("ct"), col("cp"))
          .limit(1)
          .selectExpr(abBest: _*)
        val upd = ex.crossJoin(broadcast(best))
          .selectExpr(abFv: _*).selectExpr(abH: _*)
          .selectExpr(abUpdate: _*)
        val norm = upd.agg(expr(abNormAgg.head),
          abNormAgg.tail.map(expr): _*)
        ex = upd.crossJoin(broadcast(norm))
          .selectExpr(abRenorm: _*).localCheckpoint()
        val acc = ex.agg(expr(abAcc))
        outs += best.crossJoin(broadcast(acc))
          .selectExpr(s"CAST($r AS BIGINT) AS round" +: abOut: _*)
      }
      outs.reduce(_ unionAll _)
    },

    // ------------------------------------------------------------------
    // One-way ANOVA (classic F + η² effect size) PLUS Welch's
    // heteroscedastic F over order totals by priority — the "does this
    // categorical segment the metric at all" omnibus test that comes
    // before any pairwise q_ab_ttest. Engine shape: the ONLY corpus
    // pass is one map-combinable global aggregate of 15 exact BIGINTs
    // (count / Σx / Σx² conditionally pivoted per priority — whole
    // dollars keep Σx² < 4·10¹⁷ at sf1, far inside BIGINT); everything
    // after is scalar algebra on a single row, the q_ml_ridge shape.
    // Cross-engine parity is engineered, not hoped for: the group set
    // is the schema-pinned TPC-H priority domain, so the cross-GROUP
    // folds (ΣB_g, Σw_g, Welch's weighted mean) are written as
    // EXPLICIT left-to-right chains over the 5 pivoted columns — the
    // identical IEEE op sequence in both engines — instead of a
    // sum() whose fold order differs per engine. Both engines run the
    // literally same fragment text (selectExpr == CTE SQL).
    QueryDef("q_stats_anova", anovaOracle) { (s, dir) =>
      val c = t(s, dir, "orders").selectExpr(
        "CAST(floor(o_totalprice) AS BIGINT) AS x", "o_orderpriority")
      val m = c.agg(
        expr(anovaMomentSel.head), anovaMomentSel.tail.map(expr): _*)
      anovaStages.foldLeft(m)((df, stage) => df.selectExpr(stage: _*))
    },

    // ------------------------------------------------------------------
    // ALS MATRIX FACTORIZATION — alternating least squares (Zhou et al.
    // 2008, the Netflix-prize distributed recommender), rank 2, trained
    // fully in-engine: the missing collaborative-filtering member of
    // the ML family beside the supervised learners. Ratings = mean
    // order quantity per (supplier, part-bucket); two full sweeps, each
    // half-sweep solving one side's factors against the other held
    // fixed. THE distributed-ALS scale shape, both halves exhibited:
    // the user update joins ratings against the MODEL-SIZED item-factor
    // table (fixed modulus 64 — broadcast), the item update joins
    // against the SF-PROPORTIONAL user-factor table (keyed equi-join,
    // deliberately unhinted) and reduces per item — so factors move to
    // ratings, never ratings to factors, and the only corpus-sized scan
    // is the one ratings build. Cross-engine parity is engineered the
    // logreg way: factors live on an integer µ-grid between half-sweeps,
    // per-row normal-equation contributions are 2⁻²⁰-quantized BIGINTs
    // (keyed sums are fold-order-free), and the per-key 2×2 Cramer
    // solve + λ·n_k ridge (always invertible) is the same IEEE op
    // sequence in both engines. The oracle replays init, all four
    // half-sweeps, and both RMSE passes from the SAME fragment text;
    // rmse2 < rmse1 is pinned by StatsSpec (training must descend).
    QueryDef("q_ml_als", alsOracle) { (s, dir) =>
      val rat = t(s, dir, "lineitem").selectExpr(alsRows: _*)
        .groupBy(col("u"), col("i"))
        .agg(expr(alsAgg.head), alsAgg.tail.map(expr): _*)
        .selectExpr("u", "i", alsR)
        .localCheckpoint() // feeds 4 half-sweeps + 2 RMSE passes
      val if0 = rat.select(col("i")).distinct()
        .selectExpr(alsInit: _*).localCheckpoint()
      // solve `groupKey`'s factors with `fixed` (keyed by joinKey) held
      // constant; hint only the model-sized item table — the user table
      // grows with the corpus and must degrade to SMJ gracefully
      def half(fixed: DataFrame, joinKey: String, groupKey: String,
          hintFixed: Boolean): DataFrame = {
        val f0 = fixed.select(col(joinKey), col("p0"), col("p1"))
        val f = if (hintFixed) broadcast(f0) else f0
        rat.join(f, joinKey)
          .select(col(groupKey).as("k"), col("r"), col("p0"), col("p1"))
          .selectExpr(alsJoin: _*)
          .selectExpr(alsQuant: _*)
          .groupBy(col("k"))
          .agg(expr(alsMom.head), alsMom.tail.map(expr): _*)
          .selectExpr(alsSolve: _*)
          .selectExpr(alsCramer: _*)
          .selectExpr(alsOut: _*)
          .withColumnRenamed("k", groupKey)
          .localCheckpoint() // per-half-sweep chain cut (adaboost regime)
      }
      def rmsePass(uf: DataFrame, itf: DataFrame, name: String): DataFrame =
        rat.join(uf.selectExpr("u", "p0 AS up0", "p1 AS up1"), "u")
          .join(broadcast(itf.selectExpr("i", "p0 AS ip0", "p1 AS ip1")),
            "i")
          .selectExpr(alsErr)
          .selectExpr(alsErrQ)
          .agg(expr(alsRmseAgg.head), alsRmseAgg.tail.map(expr): _*)
          .selectExpr(alsRmse(name))
      val u1 = half(if0, "i", "u", hintFixed = true)
      val i1 = half(u1, "u", "i", hintFixed = false)
      val r1 = rmsePass(u1, i1, "rmse1_u")
      val u2 = half(i1, "i", "u", hintFixed = true)
      val i2 = half(u2, "u", "i", hintFixed = false)
      val r2 = rmsePass(u2, i2, "rmse2_u")
      i2.selectExpr("i", "nk AS n_r", "p0 AS if0_u", "p1 AS if1_u")
        .crossJoin(broadcast(r1))
        .crossJoin(broadcast(r2))
    },

    // ------------------------------------------------------------------
    // SPLIT CONFORMAL PREDICTION (Vovk et al.; Angelopoulos & Bates
    // 2023) — distribution-free intervals around ANY point model, the
    // calibration layer an LLM-era quality/score model serves behind:
    // fit on the train fold, take the ⌈0.9(n+1)⌉-th smallest absolute
    // residual on the calibration fold as q̂, report finite-sample
    // coverage on the test fold. Engine shape: one corpus projection
    // feeds three hash-disjoint folds (cache contract); the model fit
    // is ONE map-combinable 5-BIGINT-moment aggregate + a 1-row solve
    // (the ridge shape); the conformal quantile is an EXACT distributed
    // order statistic — chunkedRank over the calibration scores (32
    // value-chunk parallel sorts + prefix offsets, never a single-task
    // global sort) with the data-dependent rank k arriving as a 1-row
    // broadcast, filter idx = k−1. Everything is BIGINT after per-row
    // µ-quantization of |residual| — fold-order-free sums, an integer
    // rank selection, and the one double block (the 2-moment solve +
    // per-row prediction) is a fixed IEEE op sequence in both engines.
    // The oracle replays the identical fragment text with the textbook
    // row_number window, so the hash match doubles as another
    // chunked ≡ native rank equivalence proof.
    QueryDef("q_ml_conformal", conformalOracle) { (s, dir) =>
      val rows = t(s, dir, "lineitem").selectExpr(cfRows: _*)
        .localCheckpoint() // three fold consumers (train / cal / test)
      val model = rows.filter(cfTrain)
        .agg(expr(cfMom.head), cfMom.tail.map(expr): _*)
        .selectExpr(cfSlope: _*)
        .selectExpr(cfIcept: _*)
      val cal = rows.filter(cfCal)
        .crossJoin(broadcast(model))
        .selectExpr(cfScore: _*)
      val kRow = cal.agg(expr(cfCalN)).selectExpr(cfK: _*)
      val qhat = chunkedRank(
        cal.withColumn("__all", lit(0)), "__all", "score_u", Seq("rid"))
        .crossJoin(broadcast(kRow))
        .filter(col("idx") === col("k") - 1)
        .selectExpr("score_u AS qhat_u", "n_cal", "k")
      val test = rows.filter(cfTest)
        .crossJoin(broadcast(model))
        .selectExpr(cfScore: _*)
      test.crossJoin(broadcast(qhat))
        .crossJoin(broadcast(model))
        .agg(expr(cfFinal.head), cfFinal.tail.map(expr): _*)
        .selectExpr(cfOut: _*)
    },

    // ------------------------------------------------------------------
    // PASS@K — the unbiased combinatorial estimator from the Codex
    // paper (Chen et al. 2021): pass@k = 1 − C(n−c,k)/C(n,k) per
    // problem, averaged per source — the eval-harness aggregation every
    // code-model run reports. Trials are synthetic-deterministic (n=16
    // per doc, c = a hash of the doc), the estimator is EXACT integer
    // combinatorics: with n fixed, C(n−c,k)/C(n,k) = Π_{j<k}(n−c−j) /
    // Π_{j<k}(n−j) — the numerator hits a literal zero factor exactly
    // when c > n−k (where the binomial vanishes), the denominator is a
    // compile-time constant, and the single double division per (doc,k)
    // µ-quantizes immediately, so per-source means are fold-order-free
    // BIGINT sums. One corpus scan, one map-combinable aggregate over
    // the schema-bounded source key — eval-layer cost at any SF.
    QueryDef("q_eval_passk", passkOracle) { (s, dir) =>
      t(s, dir, "documents").selectExpr(pkRows: _*)
        .selectExpr(pkPer: _*)
        .groupBy(col("source"))
        .agg(expr(pkAgg.head), pkAgg.tail.map(expr): _*)
    },

    // ------------------------------------------------------------------
    // RANSAC LINE FIT (Fischler & Bolles 1981) — robust regression by
    // random minimal samples, fully in-engine and fully deterministic:
    // 16 candidate lines each through two hash-argmin-sampled points
    // (min h60("ra:k:salt:rid") per candidate — a map-combinable
    // min(struct) per k, never a per-k window; 60-bit hashes make the
    // argmin a well-defined draw), inliers counted in ONE corpus pass
    // against the broadcast 16-row candidate table (the adaboost
    // bounded-fan-out shape; the inlier test compares µ-quantized
    // |residual| to an integer threshold — exact), a deterministic
    // (inliers DESC, k) argmax picks the consensus model, and the
    // final line REFITS on the winner's inliers with the conformal
    // fit's exact 5-BIGINT-moment closed form. Degenerate samples
    // (x1 = x2) score −1 and can never win. Three corpus passes
    // total; everything keyed is candidate-sized.
    QueryDef("q_ml_ransac", ransacOracle) { (s, dir) =>
      import graft.functions.TextAnalysis.h60
      // spread BEFORE the eager checkpoint (r15, guide §2/§6): the
      // sf0.1 corpus is one ~11 MB file that splits 3 ways, and
      // localCheckpoint freezes that layout — the md5-draw explode
      // (×16) and both scoring passes then ran 3-wide (profiled
      // 7.3 s in one 3-task stage). One narrow-column hash shuffle
      // on the unique rid spreads every downstream kernel to the
      // session's parallelism.
      val rows = t(s, dir, "lineitem").selectExpr(rsRows: _*)
        .repartition(Tables.sp(s), col("rid"))
        .localCheckpoint() // sampling + scoring + refit consumers
      // ONE md5 per row and side; per-candidate draws derive by XOR
      // with a per-k odd constant (a bijection of the base hash, so
      // each k's argmin is still a fresh uniform draw — and 32× less
      // hashing than salting k into the digest: measured 11.4 s →
      // the md5 volume was most of it)
      def hb(salt: String) = h60(concat(lit(s"ra:$salt:"),
        col("rid").cast("string")))
      val cand = rows
        .select(col("x"), col("y"),
          hb("a").as("h0a"), hb("b").as("h0b"),
          explode(sequence(lit(0), lit(15))).as("k"))
        .select(col("k"), col("x"), col("y"),
          col("h0a").bitwiseXOR(col("k") * lit(rsMix)).as("ha"),
          col("h0b").bitwiseXOR(col("k") * lit(rsMix)).as("hb"))
        .groupBy(col("k"))
        .agg(min(struct(col("ha"), col("x"), col("y"))).as("p1"),
          min(struct(col("hb"), col("x"), col("y"))).as("p2"))
        .selectExpr("k", "p1.x AS x1", "p1.y AS y1",
          "p2.x AS x2", "p2.y AS y2")
        .selectExpr(rsModel: _*)
        .localCheckpoint() // 16 rows
      val win = rows.crossJoin(broadcast(cand))
        .selectExpr(rsResid: _*)
        .groupBy(col("k"), col("ca"), col("cb"), col("degen"))
        .agg(expr(rsInl))
        .selectExpr(rsScore: _*)
        .orderBy(col("n_inliers").desc, col("k"))
        .limit(1)
        .localCheckpoint() // the 1-row consensus model, two consumers
      rows.crossJoin(broadcast(win))
        .selectExpr(rsResid2: _*)
        .filter(rsKeep)
        .agg(expr(rsMom.head), rsMom.tail.map(expr): _*)
        .crossJoin(broadcast(win.selectExpr(
          "CAST(k AS BIGINT) AS best_k", "n_inliers")))
        .selectExpr(rsFit: _*)
        .selectExpr(rsOut: _*)
    },

    // ------------------------------------------------------------------
    // PERMUTATION TEST (Fisher's exact-randomization logic, the
    // Monte-Carlo form) — the assumption-free companion to
    // q_ab_ttest: does the A/B arm assignment actually move mean doc
    // length, judged against the null distribution of 64 DETERMINISTIC
    // re-labelings (arm_b = h60("pm:b:doc") % 2 — the bootstrap
    // discipline: resampling as a pure function of (draw, row), so
    // both engines permute IDENTICALLY and the p-value hash-checks).
    // Engine shape: the B-way explode is map-side and collapses to
    // 2B exact-BIGINT partial sums (shuffle ∝ B·2, never B·corpus);
    // per-b Δ of two exact-moment means is one double op chain; the
    // add-one p-value (1 + #{|Δ_b| ≥ |Δ_obs|})/(B+1) counts on an
    // exact double compare of identical inputs.
    // ------------------------------------------------------------------
    // GRADIENT BOOSTING over regression stumps (Friedman 2001, L2 /
    // least-squares boosting) — the regression ensemble beside
    // q_ml_adaboost's classification: 3 rounds, each fitting the best
    // of 32 candidate stumps (2 integer features × 16 thresholds) to
    // the CURRENT RESIDUALS and stepping the model by ν = ½ of the
    // leaf means. Engine shape per round = the adaboost discipline:
    // ONE corpus pass scores every candidate (bounded ×32 fan-out
    // against the broadcast literal grid, map-side partials shrink the
    // shuffle to 32 rows of 4 exact BIGINTs — left/right residual sums
    // and counts), a deterministic (gain DESC, c) argmax (gain =
    // S_L²/n_L + S_R²/n_R, doubles of exact integers — the SSE
    // reduction up to a round-constant), and the residual update runs
    // as a projection against the 1-row best broadcast with per-round
    // localCheckpoints. Residuals live in integer MILLI-units (sums
    // stay < 10¹⁵ at sf1) and every re-quantization is the shared
    // floor(x+½) text, so all three rounds hash-check; the reported
    // per-round SSE (µ-coarsened per row before summing, keeping the
    // fold integer) must strictly descend — StatsSpec pins it.
    QueryDef("q_ml_gbt", gbtOracle) { (s, dir) =>
      // Spread to session width before the first checkpoint (r15,
      // second attempt): the mid-round A/B that read this as 0.77×
      // ran under drifting noise, and the quiet-window profile shows
      // the real cost shape — six ~1.2 s THREE-task stages (the
      // checkpointed scan layout) running the ×32 grid fan-out, ~5.6 s
      // of the query's 5.8 s. One narrow 3-column exchange spreads
      // every per-round grid pass and residual update (the q_ml_ransac
      // layout fix; ym is the high-cardinality key).
      val rows = t(s, dir, "lineitem").selectExpr(gbRows: _*)
        .transform(graft.Tables.fan(_, "ym"))
      val mean = rows.agg(expr(gbMeanAgg))
      var ex = rows.crossJoin(broadcast(mean))
        .selectExpr(gbInit: _*).localCheckpoint()
      val grid = s.range(32).selectExpr(gbGrid: _*)
      val outs = scala.collection.mutable.Buffer.empty[DataFrame]
      for (r <- 1 to 3) {
        val best = ex.crossJoin(broadcast(grid))
          .selectExpr(gbSide: _*)
          .groupBy(col("c"), col("f"), col("tt"))
          .agg(expr(gbCand.head), gbCand.tail.map(expr): _*)
          .selectExpr(gbGain: _*)
          .orderBy(col("gain").desc, col("c"))
          .limit(1)
          .selectExpr(gbBest: _*)
        ex = ex.crossJoin(broadcast(best))
          .selectExpr(gbSide2: _*)
          .selectExpr(gbUpdate: _*)
          .localCheckpoint()
        val sse = ex.agg(expr(gbSse))
        outs += best.crossJoin(broadcast(sse))
          .selectExpr(s"CAST($r AS BIGINT) AS round" +: gbOut: _*)
      }
      outs.reduce(_ unionAll _)
    },

    // ------------------------------------------------------------------
    // DEPTH-2 CART REGRESSION TREE (Breiman 1984) — the single
    // INTERPRETABLE tree beside the ensembles (adaboost votes stumps,
    // gbt sums them; this one RECURSIVELY PARTITIONS): a root split
    // chosen from the 32-candidate grid, then each child picks its own
    // best split over the same grid — 4 leaves, each reported with its
    // split lineage, size, and integer-milli mean. Shares q_ml_gbt's
    // fragment text verbatim for candidate scoring (side indicator →
    // 4 exact-BIGINT side moments → S²/n gain with empty sides
    // disqualified), which is the point: recursive partitioning is the
    // SAME bounded fan-out pass run per node, with the per-leaf argmax
    // as a 2-partition window over the 64-row candidate table instead
    // of a global limit. Three corpus passes total (root scoring, leaf
    // scoring, final leaf stats); every fact-sized aggregate is keyed
    // by ≤(2 leaves × 32 candidates); the fitted tree is 1-row/2-row
    // broadcasts. The oracle replays the identical fragments as CTEs
    // with the same windowed argmax.
    QueryDef("q_ml_tree", treeOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // NOT spread/cached (r15, re-measured: 0.93× normalized, matching
      // the first A/B's 0.72×): unlike q_ml_gbt there is no checkpoint
      // pinning a narrow layout here — the three corpus passes re-scan
      // parquet and AQE plans each fresh, so the added exchange + cache
      // fill only cost. The negative result stands.
      val rows = t(s, dir, "lineitem").selectExpr(gbRows: _*)
        .selectExpr("x1", "x2", "ym AS e")
      val grid = s.range(32).selectExpr(gbGrid: _*)
      val root = rows.crossJoin(broadcast(grid))
        .selectExpr(gbSide: _*)
        .groupBy(col("c"), col("f"), col("tt"))
        .agg(expr(gbCand.head), gbCand.tail.map(expr): _*)
        .selectExpr(gbGain: _*)
        .orderBy(col("gain").desc, col("c"))
        .limit(1)
        .selectExpr("f AS rf", "tt AS rt")
      val leafed = rows.crossJoin(broadcast(root))
        .selectExpr("x1", "x2", "e",
          "CASE WHEN (CASE WHEN rf = 0 THEN x1 ELSE x2 END) <= rt" +
            " THEN 1 ELSE 0 END AS leaf", "rf", "rt")
      val w = Window.partitionBy(col("leaf"))
        .orderBy(col("gain").desc, col("c"))
      val leafSplits = leafed.crossJoin(broadcast(grid))
        .selectExpr("leaf" +: gbSide: _*)
        .groupBy(col("leaf"), col("c"), col("f"), col("tt"))
        .agg(expr(gbCand.head), gbCand.tail.map(expr): _*)
        .selectExpr("leaf" +: gbGain: _*)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .selectExpr("leaf", "f AS lf", "tt AS lt")
      leafed.join(broadcast(leafSplits), "leaf")
        .selectExpr("leaf", "rf", "rt", "lf", "lt", "e",
          "CASE WHEN (CASE WHEN lf = 0 THEN x1 ELSE x2 END) <= lt" +
            " THEN 1 ELSE 0 END AS leaf2")
        .groupBy(col("leaf"), col("leaf2"))
        .agg(min(col("rf")).as("rf"), min(col("rt")).as("rt"),
          min(col("lf")).as("lf"), min(col("lt")).as("lt"),
          count(lit(1)).as("n"), sum(col("e")).as("sy"))
        .selectExpr("leaf", "leaf2", "rf", "rt", "lf", "lt", "n",
          "CAST(floor(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) + 0.5e0)" +
            " AS BIGINT) AS mean_m")
    },

    QueryDef("q_ab_permutation", permOracle) { (s, dir) =>
      import graft.functions.TextAnalysis.h60
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("xv"),
          (h60(concat(lit("pm:obs:"), col("doc_id").cast("string")))
            % 2).as("arm"))
        .localCheckpoint() // observed + permuted consumers
      val obs = docs.agg(expr(pmAgg.head), pmAgg.tail.map(expr): _*)
        .selectExpr("n0" +: "n1" +: pmDelta("d_obs"): _*)
      val perm = docs
        .select(col("doc_id"), col("xv"),
          explode(sequence(lit(0), lit(pmB - 1))).as("b"))
        .select(col("b"), col("xv"),
          (h60(concat(lit("pm:"), col("b").cast("string"), lit(":"),
            col("doc_id").cast("string"))) % 2).as("arm"))
        .groupBy(col("b"))
        .agg(expr(pmAgg.head), pmAgg.tail.map(expr): _*)
        .selectExpr(pmDelta("d_b"): _*)
      perm.crossJoin(broadcast(obs))
        .agg(expr(pmCount.head), pmCount.tail.map(expr): _*)
        .selectExpr(pmOut: _*)
    },

    // ------------------------------------------------------------------
    // BENJAMINI-HOCHBERG FDR CONTROL (1995) — multiple-testing
    // correction over a FAMILY of tests, the layer every monitoring
    // pipeline needs above its per-metric tests (run 20 drift alarms a
    // day at p<0.05 and one fires daily by chance): q_ab_permutation's
    // experiment decomposed per SOURCE, then the step-up rule rejects
    // the largest prefix of ascending p-values with p_(k) ≤ α·k/m.
    // EVERYTHING is exact integers: the per-source p-value is the
    // add-one permutation count cnt/(B+1), and the BH condition
    // cross-multiplies to cnt·4·m ≤ k·(B+1) at α = ¼ — no float
    // enters until the reported µ-unit p. Engine shape: the B-way
    // explode is map-side and collapses to (source × B) exact partial
    // sums (shuffle ∝ 20·64 rows, never B·corpus — the permutation
    // discipline); ranking and the step-up run on the 20-row
    // per-source relation (source-cardinality bounded at any SF), with
    // the 1-row k_max broadcast back. A TRUE effect is planted in
    // sources 0-2 (the q_audit_fk corrupted-derived-data pattern: +200
    // chars on the observed arm-0 docs — the observed arm is a
    // deterministic doc_id hash, so the shift is just a projection both
    // engines share) so the step-up provably REJECTS the planted
    // sources and retains the 17 true nulls, rather than reporting an
    // all-null family where the reject branch never runs. The oracle
    // replays the identical fragment text; ties rank by (cnt, source).
    QueryDef("q_stats_fdr", fdrOracle) { (s, dir) =>
      import graft.functions.TextAnalysis.h60
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          (col("n_chars").cast("long") +
            when(col("source").isin("src0", "src1", "src2") &&
              h60(concat(lit("pm:obs:"), col("doc_id").cast("string")))
                % 2 === 0, 200L).otherwise(0L)).as("xv"))
        .localCheckpoint() // observed + permuted consumers
      val obs = docs
        .withColumn("arm",
          h60(concat(lit("pm:obs:"), col("doc_id").cast("string"))) % 2)
        .groupBy(col("source"))
        .agg(expr(pmAgg.head), pmAgg.tail.map(expr): _*)
        .selectExpr("source" +: "n0" +: "n1" +: pmDelta("d_obs"): _*)
      val perm = docs
        .select(col("source"), col("doc_id"), col("xv"),
          explode(sequence(lit(0), lit(pmB - 1))).as("b"))
        .withColumn("arm",
          h60(concat(lit("pm:"), col("b").cast("string"), lit(":"),
            col("doc_id").cast("string"))) % 2)
        .groupBy(col("source"), col("b"))
        .agg(expr(pmAgg.head), pmAgg.tail.map(expr): _*)
        .selectExpr("source" +: pmDelta("d_b"): _*)
      val per = perm.join(obs, "source")
        .groupBy(col("source"))
        .agg(expr(fdrCnt.head), fdrCnt.tail.map(expr): _*)
      val ranked = per
        .select(col("source"), col("n0"), col("n1"), col("cnt"),
          row_number().over(
            Window.orderBy(col("cnt"), col("source"))).cast("long").as("k"),
          count(lit(1)).over(Window.partitionBy()).cast("long").as("m"))
      val kmax = ranked
        .agg(max(when(expr(fdrCond), col("k"))).as("kmax"))
      ranked.crossJoin(broadcast(kmax))
        .selectExpr(fdrOut: _*)
    },

    // ------------------------------------------------------------------
    // KRUSKAL-WALLIS H (1952) — the rank-based omnibus test beside
    // q_stats_anova's parametric F: does order priority shift the
    // DISTRIBUTION of order value at all, with no normality assumption.
    // Engine shape: ONE corpus pass builds the (priority, value-bin)
    // cell table; ranks come from the q_drift_mwu doubled-midrank
    // machinery — per-bin totals + a cumulative window over the
    // thousand-dollar bin spine (the TPC-H price domain is pinned, so
    // the spine is ~560 rows at EVERY SF — the PlanSpec-allowlisted
    // bounded-domain argument), never a corpus-sized rank window. Every
    // pre-division quantity is an order-free BIGINT (Σ_g n·(2·pre+t+1)
    // is the doubled rank sum; Σ(t³−t) the tie term), the per-group
    // algebra pivots over the schema-pinned 5-priority domain with
    // anovaFold's explicit left-to-right chains — identical IEEE op
    // sequence cross-engine, the anova discipline on a rank statistic.
    QueryDef("q_stats_kruskal", kruskalOracle) { (s, dir) =>
      val cells = t(s, dir, "orders").selectExpr(kwRows: _*)
        .groupBy(col("g"), col("x"))
        .agg(expr(kwCellN))
      val tx = cells.groupBy(col("x"))
        .agg(expr(kwBinT))
        .select(col("x"), col("t"),
          (sum(col("t")).over(Window.orderBy(col("x"))) - col("t"))
            .as("pre"))
      val mom = cells.join(tx, "x")
        .agg(expr(kwMom.head), kwMom.tail.map(expr): _*)
      val tot = tx.agg(expr(kwTot.head), kwTot.tail.map(expr): _*)
      kwStages.foldLeft(mom.crossJoin(broadcast(tot)))(
        (df, st) => df.selectExpr(st: _*))
    }
  )

  /** The standard geohash base32 alphabet (no a/i/l/o). */
  private def geohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** q_geo_pip's polygon catalog as vertex rings on the 1000² grid —
    * square, triangle, a CONCAVE L (the even-odd stressor), diamond.
    * Edges derive by closing each ring. */
  private def pipPolys: Seq[(Int, Seq[(Int, Int)])] = Seq(
    1 -> Seq((100, 100), (400, 100), (400, 400), (100, 400)),
    2 -> Seq((500, 50), (900, 150), (600, 450)),
    3 -> Seq((50, 500), (450, 500), (450, 650), (250, 650), (250, 900),
      (50, 900)),
    4 -> Seq((600, 600), (850, 750), (600, 900), (350, 750)))

  /** The closed edge list (poly, x1, y1, x2, y2) both engines read. */
  private def pipEdges: Seq[(Int, Int, Int, Int, Int)] =
    pipPolys.flatMap { case (pid, ring) =>
      (ring :+ ring.head).sliding(2).map { w =>
        (pid, w(0)._1, w(0)._2, w(1)._1, w(1)._2)
      }
    }

  /** The same edges as a SQL VALUES list for the oracle CTE. */
  private def pipEdgeValues: String =
    pipEdges.map { case (p, x1, y1, x2, y2) =>
      s"($p, $x1, $y1, $x2, $y2)"
    }.mkString(",\n        |  ")

  /** q_geo_pip2's plan-time cell cover: every 250×250 grid cell each
    * polygon's bounding box overlaps (cell id = (x div 250)·4 +
    * y div 250 — the same arithmetic the points use). */
  private def pipCovers: Seq[(Int, Int)] =
    pipPolys.flatMap { case (pid, ring) =>
      val (xs, ys) = (ring.map(_._1), ring.map(_._2))
      for {
        cx <- (xs.min / 250) to (xs.max / 250)
        cy <- (ys.min / 250) to (ys.max / 250)
      } yield (pid, cx * 4 + cy)
    }

  /** DuckDB replay of q_geo_geohash: identical integer bit math, the
    * alphabet indexed 1-based via substr. */
  private def geohashOracle: String = {
    val zTerms = (0 until 15).map { i =>
      s"((lonb >> $i) & 1) * ${1L << (2 * i + 1)}" +
        s" + ((latb >> $i) & 1) * ${1L << (2 * i)}"
    }.mkString("\n      + ")
    val chars = (0 until 6).map { c =>
      s"substr('$geohashAlphabet', " +
        s"CAST((z // ${1L << (5 * (5 - c))}) % 32 AS INT) + 1, 1)"
    }.mkString(" || ")
    s"""WITH pts AS (
      |  SELECT c_custkey AS id,
      |    ((c_custkey * 37) % 18000) * 32768 // 18000 AS latb,
      |    ((c_custkey * 73) % 36000) * 32768 // 36000 AS lonb
      |  FROM customer),
      |zz AS (SELECT id, ($zTerms) AS z FROM pts),
      |cells AS (SELECT id, $chars AS cell FROM zz)
      |SELECT id, cell,
      |  count(*) OVER (PARTITION BY cell) AS cell_n
      |FROM cells""".stripMargin
  }

  /** Morton/Z-value of two 8-bit dimension buckets as a pure bit
    * expression — shared by q_layout_zorder and the streaming
    * zone-map maintainer ([[graft.streaming.Streaming.zoneOptimize]]). */
  private[graft] def zInterleave8(ba: Column, bb: Column): Column =
    (0 until 8).map { i =>
      shiftright(ba, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(bb, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** DuckDB replay of q_layout_zorder: identical integer bit math —
    * the interleave is the same 16-term sum, `//` is `div`. */
  private def zorderOracle: String = {
    val zTerms = (0 until 8).map { i =>
      s"((ba >> $i) & 1) * ${1L << (2 * i)}" +
        s" + ((bb >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString("\n      + ")
    s"""WITH bounds AS (
      |  SELECT min(l_partkey) AS amin, max(l_partkey) AS amax,
      |    min(l_suppkey) AS bmin, max(l_suppkey) AS bmax
      |  FROM lineitem),
      |zed AS (
      |  SELECT l_orderkey, a, b, ($zTerms) AS z
      |  FROM (
      |    SELECT l_orderkey, l_partkey AS a, l_suppkey AS b,
      |      ((l_partkey - amin) * 256) // (amax - amin + 1) AS ba,
      |      ((l_suppkey - bmin) * 256) // (bmax - bmin + 1) AS bb
      |    FROM lineitem, bounds)),
      |zones AS (
      |  SELECT 'zorder' AS layout, z >> 10 AS file_id,
      |    min(a) AS la, max(a) AS ha, min(b) AS lb, max(b) AS hb,
      |    count(*) AS n
      |  FROM zed GROUP BY 1, 2
      |  UNION ALL
      |  SELECT 'natural' AS layout, l_orderkey % 64 AS file_id,
      |    min(a) AS la, max(a) AS ha, min(b) AS lb, max(b) AS hb,
      |    count(*) AS n
      |  FROM zed GROUP BY 1, 2),
      |boxes AS (
      |  SELECT q,
      |    amin + ((q % 4) * (amax - amin + 1)) // 4 AS qla,
      |    amin + (((q % 4) + 1) * (amax - amin + 1)) // 4 - 1 AS qha,
      |    bmin + ((q // 4) * (bmax - bmin + 1)) // 4 AS qlb,
      |    bmin + (((q // 4) + 1) * (bmax - bmin + 1)) // 4 - 1 AS qhb
      |  FROM range(16) t(q), bounds),
      |scanned AS (
      |  SELECT layout, CAST(count(*) AS BIGINT) AS files_scanned,
      |    CAST(sum(n) AS BIGINT) AS rows_scanned
      |  FROM zones z JOIN boxes q
      |    ON z.la <= q.qha AND z.ha >= q.qla
      |    AND z.lb <= q.qhb AND z.hb >= q.qlb
      |  GROUP BY 1),
      |nf AS (
      |  SELECT layout, CAST(count(*) AS BIGINT) AS n_files
      |  FROM zones GROUP BY 1)
      |SELECT layout, n_files, files_scanned, rows_scanned
      |FROM nf JOIN scanned USING (layout)""".stripMargin
  }

  /** Quantization step for q_ml_logreg's per-row Newton contributions:
    * 2²⁰ — fine enough that the quantized gradient steers like the real
    * one, coarse enough that sf1's 6M-row sums stay exactly
    * double-representable (< 2⁵³) after the BIGINT→DOUBLE dequantize. */
  private def lrQ = "1048576.0e0"

  private def lrQi(e: String, n: String): String =
    s"CAST(floor(($e) * $lrQ + 0.5e0) AS BIGINT) AS q$n"

  /** Feature projection: label + the two features, all DOUBLE. */
  private lazy val logregRows: Seq[String] = Seq(
    "CASE WHEN l_returnflag = 'R' THEN 1.0e0 ELSE 0.0e0 END AS y",
    "CAST(l_quantity AS DOUBLE) AS fx1",
    "CAST(floor(l_discount * 100.0e0 + 0.5e0) AS DOUBLE) AS fx2")

  private lazy val logregInit: Seq[String] =
    Seq("0.0e0 AS wa", "0.0e0 AS wb", "0.0e0 AS wc")

  private lazy val logregZ: Seq[String] = Seq(
    "y", "fx1", "fx2", "wa", "wb", "wc",
    "wa + wb * fx1 + wc * fx2 AS z")

  private lazy val logregProb: Seq[String] = Seq(
    "y", "fx1", "fx2", "wa", "wb", "wc",
    "0.5e0 + 0.5e0 * z / (1.0e0 + abs(z)) AS p",
    "0.5e0 / ((1.0e0 + abs(z)) * (1.0e0 + abs(z))) AS d")

  private lazy val logregQuant: Seq[String] =
    Seq("wa", "wb", "wc",
      lrQi("y - p", "g0"), lrQi("(y - p) * fx1", "g1"),
      lrQi("(y - p) * fx2", "g2"),
      lrQi("d", "h00"), lrQi("d * fx1", "h01"), lrQi("d * fx2", "h02"),
      lrQi("d * fx1 * fx1", "h11"), lrQi("d * fx1 * fx2", "h12"),
      lrQi("d * fx2 * fx2", "h22"))

  private lazy val logregMom: Seq[String] =
    Seq("g0", "g1", "g2", "h00", "h01", "h02", "h11", "h12", "h22")
      .map(n => s"CAST(sum(q$n) AS BIGINT) AS s$n") ++
      Seq("min(wa) AS wa", "min(wb) AS wb", "min(wc) AS wc")

  /** Dequantized Hessian/gradient, λ = 1 ridge on the diagonal. */
  private lazy val logregDeq: Seq[String] = Seq(
    "wa", "wb", "wc",
    s"CAST(sh00 AS DOUBLE) / $lrQ + 1.0e0 AS a",
    s"CAST(sh01 AS DOUBLE) / $lrQ AS b",
    s"CAST(sh02 AS DOUBLE) / $lrQ AS c",
    s"CAST(sh11 AS DOUBLE) / $lrQ + 1.0e0 AS dd",
    s"CAST(sh12 AS DOUBLE) / $lrQ AS e",
    s"CAST(sh22 AS DOUBLE) / $lrQ + 1.0e0 AS f",
    s"CAST(sg0 AS DOUBLE) / $lrQ AS u",
    s"CAST(sg1 AS DOUBLE) / $lrQ AS v",
    s"CAST(sg2 AS DOUBLE) / $lrQ AS w")

  /** The ridge Cramer cofactors, token for token (q_ml_ridge). */
  private lazy val logregCramer: Seq[String] = Seq(
    "wa", "wb", "wc",
    "a * (dd * f - e * e) - b * (b * f - e * c)" +
      " + c * (b * e - dd * c) AS det",
    "u * (dd * f - e * e) - b * (v * f - e * w)" +
      " + c * (v * e - dd * w) AS det0",
    "a * (v * f - e * w) - u * (b * f - e * c)" +
      " + c * (b * w - v * c) AS det1",
    "a * (dd * w - e * v) - b * (b * w - v * c)" +
      " + u * (b * e - dd * c) AS det2")

  private lazy val logregUpdate: Seq[String] = Seq(
    "wa + det0 / det AS wa",
    "wb + det1 / det AS wb",
    "wc + det2 / det AS wc")

  private lazy val logregAcc: Seq[String] = Seq(
    "CAST(count(*) AS BIGINT) AS n",
    "CAST(sum(CASE WHEN (z >= 0.0e0) = (y > 0.5e0) THEN 1 ELSE 0 END)" +
      " AS BIGINT) AS n_correct",
    "min(wa) AS wa", "min(wb) AS wb", "min(wc) AS wc")

  private lazy val logregFinal: Seq[String] = Seq(
    "n", "n_correct",
    s"${Num.sql("wa", 6)} AS w_icept",
    s"${Num.sql("wb", 6)} AS w_qty",
    s"${Num.sql("wc", 6)} AS w_disc")

  /** DuckDB replay of q_ml_logreg: the identical fragment text as
    * chained CTEs — 2 Newton steps, then the scoring pass. */
  private def logregOracle: String = {
    def stepCtes(k: Int): String =
      s"""r$k AS (SELECT ${logregZ.mkString(", ")}
        |  FROM c CROSS JOIN w$k),
        |p$k AS (SELECT ${logregProb.mkString(", ")} FROM r$k),
        |x$k AS (SELECT ${logregQuant.mkString(",\n    ")} FROM p$k),
        |m$k AS (SELECT ${logregMom.mkString(",\n    ")} FROM x$k),
        |dq$k AS (SELECT ${logregDeq.mkString(",\n    ")} FROM m$k),
        |cr$k AS (SELECT ${logregCramer.mkString(",\n    ")} FROM dq$k),
        |w${k + 1} AS (SELECT ${logregUpdate.mkString(", ")} FROM cr$k)"""
        .stripMargin
    s"""WITH c AS (
      |  SELECT ${logregRows.mkString(",\n    ")} FROM lineitem),
      |w0 AS (SELECT ${logregInit.mkString(", ")}),
      |${stepCtes(0)},
      |${stepCtes(1)},
      |rf AS (SELECT ${logregZ.mkString(", ")}
      |  FROM c CROSS JOIN w2),
      |acc AS (SELECT ${logregAcc.mkString(",\n    ")} FROM rf)
      |SELECT ${logregFinal.mkString(",\n  ")} FROM acc""".stripMargin
  }

  // --------------------------------------------------------------------
  // q_ml_svm fragments — ONE text, two engines (the logreg discipline).
  // Features scale to ~[0,1] so unit-step subgradients behave; the
  // indicator-gated contributions quantize at 2⁻²⁰ exactly as logreg's.

  private def svmRounds = 3
  private def svmLambda = "0.1e0"

  /** η_t = 2⁻ᵗ for round t — exactly representable, halving steps. */
  private def svmEta(k: Int): String =
    java.math.BigDecimal.valueOf(0.5).pow(k + 1).toPlainString + "e0"

  private lazy val svmRows: Seq[String] = Seq(
    "CASE WHEN l_returnflag = 'R' THEN 1.0e0 ELSE -1.0e0 END AS y",
    "CAST(l_quantity AS DOUBLE) / 50.0e0 AS fx1",
    "CAST(floor(l_discount * 100.0e0 + 0.5e0) AS DOUBLE) / 10.0e0 AS fx2")

  private lazy val svmInit: Seq[String] =
    Seq("0.0e0 AS wa", "0.0e0 AS wb", "0.0e0 AS wc")

  private lazy val svmMargin: Seq[String] = Seq(
    "y", "fx1", "fx2", "wa", "wb", "wc",
    "y * (wa + wb * fx1 + wc * fx2) AS m")

  private lazy val svmQuant: Seq[String] = Seq("wa", "wb", "wc",
    lrQi("CASE WHEN m < 1.0e0 THEN y ELSE 0.0e0 END", "g0"),
    lrQi("CASE WHEN m < 1.0e0 THEN y * fx1 ELSE 0.0e0 END", "g1"),
    lrQi("CASE WHEN m < 1.0e0 THEN y * fx2 ELSE 0.0e0 END", "g2"))

  private lazy val svmMom: Seq[String] =
    Seq("g0", "g1", "g2").map(n => s"CAST(sum(q$n) AS BIGINT) AS s$n") ++
      Seq("CAST(count(*) AS BIGINT) AS n",
        "min(wa) AS wa", "min(wb) AS wb", "min(wc) AS wc")

  /** The Pegasos update; the intercept skips the shrink (unregularized). */
  private def svmUpdate(k: Int): Seq[String] = {
    val e = svmEta(k)
    def upd(w: String, g: String, reg: Boolean): String = {
      val base = if (reg) s"(1.0e0 - $e * $svmLambda) * $w" else w
      s"$base + $e * (CAST(s$g AS DOUBLE) / $lrQ) / CAST(n AS DOUBLE) AS $w"
    }
    Seq(upd("wa", "g0", reg = false), upd("wb", "g1", reg = true),
      upd("wc", "g2", reg = true))
  }

  private lazy val svmAcc: Seq[String] = Seq(
    "CAST(count(*) AS BIGINT) AS n",
    "CAST(sum(CASE WHEN m < 1.0e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sv",
    "CAST(sum(CASE WHEN m > 0.0e0 THEN 1 ELSE 0 END) AS BIGINT)" +
      " AS n_correct",
    s"CAST(sum(CAST(floor((CASE WHEN m < 1.0e0 THEN 1.0e0 - m" +
      s" ELSE 0.0e0 END) * $lrQ + 0.5e0) AS BIGINT)) AS BIGINT) AS hq",
    "min(wa) AS wa", "min(wb) AS wb", "min(wc) AS wc")

  private lazy val svmFinal: Seq[String] = Seq(
    "n", "n_sv", "n_correct",
    Num.sql(s"(CAST(hq AS DOUBLE) / $lrQ) / CAST(n AS DOUBLE)" +
      s" + 0.5e0 * $svmLambda * (wb * wb + wc * wc)", 6) + " AS obj",
    s"${Num.sql("wa", 6)} AS w_icept",
    s"${Num.sql("wb", 6)} AS w_qty",
    s"${Num.sql("wc", 6)} AS w_disc")

  /** DuckDB replay of q_ml_svm: identical fragment text as chained
    * CTEs — [[svmRounds]] subgradient steps, then the scoring pass. */
  private def svmOracle: String = {
    def stepCtes(k: Int): String =
      s"""mg$k AS (SELECT ${svmMargin.mkString(", ")}
        |  FROM c CROSS JOIN w$k),
        |x$k AS (SELECT ${svmQuant.mkString(",\n    ")} FROM mg$k),
        |s$k AS (SELECT ${svmMom.mkString(",\n    ")} FROM x$k),
        |w${k + 1} AS (SELECT ${svmUpdate(k).mkString(",\n    ")}
        |  FROM s$k)""".stripMargin
    s"""WITH c AS (
      |  SELECT ${svmRows.mkString(",\n    ")} FROM lineitem),
      |w0 AS (SELECT ${svmInit.mkString(", ")}),
      |${(0 until svmRounds).map(stepCtes).mkString(",\n")},
      |mf AS (SELECT ${svmMargin.mkString(", ")}
      |  FROM c CROSS JOIN w$svmRounds),
      |acc AS (SELECT ${svmAcc.mkString(",\n    ")} FROM mf)
      |SELECT ${svmFinal.mkString(",\n  ")} FROM acc""".stripMargin
  }

  // --------------------------------------------------------------------
  // q_ml_adaboost fragments — ONE text, two engines (the logreg/anova
  // discipline). Weights are integer µ-units; all double arithmetic is
  // IEEE-correctly-rounded ops only (*, /, sqrt), so both engines
  // produce bit-identical values from identical inputs.

  private def abRounds = 3

  /** Integer text features: occurrence counts of two marker tokens
    * (length-difference trick — pure codegen string ops) and a coarse
    * length bucket, all landing in the grid's 0..15 threshold range. */
  private lazy val abFeat: Seq[String] = Seq(
    "doc_id",
    "CAST(floor((length(text) - length(replace(text, 'scan', '')))" +
      " / 4.0e0) AS BIGINT) AS f1",
    "CAST(floor((length(text) - length(replace(text, 'join', '')))" +
      " / 4.0e0) AS BIGINT) AS f2",
    "CAST(floor(length(text) / 64.0e0) AS BIGINT) AS f3")

  /** The hidden rule: a 3-feature linear threshold plus a doc_id%5
    * noise term — learnable by stumps but never perfectly, so every
    * round's error stays strictly positive and weights genuinely
    * evolve. Initial weight: 1 µ-unit-million per example. */
  private lazy val abLabel: Seq[String] = Seq(
    "doc_id", "f1", "f2", "f3",
    "CASE WHEN 3*f1 + 2*f2 - f3 + doc_id % 5 >= 7 THEN 1 ELSE -1 END" +
      " AS y",
    "CAST(1000000 AS BIGINT) AS w",
    "CAST(0 AS BIGINT) AS score")

  /** 96 candidate stumps from a 0..95 id: feature 1..3, threshold
    * 0..15, polarity ±1. */
  private lazy val abGrid: Seq[String] = Seq(
    "CAST(floor(id / 32.0e0) + 1 AS BIGINT) AS cf",
    "CAST(floor((id % 32) / 2.0e0) AS BIGINT) AS ct",
    "CASE WHEN id % 2 = 0 THEN 1 ELSE -1 END AS cp")

  private lazy val abFv: Seq[String] = Seq("*",
    "CASE cf WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END AS fv")

  private lazy val abH: Seq[String] = Seq("*",
    "CASE WHEN (fv > ct) = (cp = 1) THEN 1 ELSE -1 END AS h")

  private lazy val abErrAgg: Seq[String] = Seq(
    "CAST(sum(CASE WHEN h <> y THEN w ELSE 0 END) AS BIGINT) AS err_u",
    "CAST(sum(w) AS BIGINT) AS tot_u")

  /** Argmin stump + α and the two weight multipliers. α = ½ln R̄ with
    * R̄ = (tot−err+1)/(err+1) (+1-smoothed), reported in µnats (the
    * single libm ln both engines share); the multipliers avoid exp
    * entirely — e^α = √R̄ and e^−α = 1/√R̄, and IEEE sqrt/divide are
    * correctly rounded, hence bit-identical cross-engine. */
  private lazy val abBest: Seq[String] = Seq(
    "cf", "ct", "cp", "err_u", "tot_u",
    "CAST(floor(ln(CAST(tot_u - err_u + 1 AS DOUBLE)" +
      " / CAST(err_u + 1 AS DOUBLE)) * 500000.0e0) AS BIGINT)" +
      " AS alpha_u",
    "CAST(floor(sqrt(CAST(tot_u - err_u + 1 AS DOUBLE)" +
      " / CAST(err_u + 1 AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS mp",
    "CAST(floor(1000000.0e0 / sqrt(CAST(tot_u - err_u + 1 AS DOUBLE)" +
      " / CAST(err_u + 1 AS DOUBLE))) AS BIGINT) AS mm")

  /** Reweight (misclassified ×e^α up, correct ×e^−α down) in DOUBLE —
    * products can pass 2⁵³, and that is fine: correctly-rounded is
    * identical in both engines, which is all the hash needs. The
    * ensemble margin accumulates the REPORTED α. */
  private lazy val abUpdate: Seq[String] = Seq(
    "doc_id", "f1", "f2", "f3", "y",
    "CAST(floor(CAST(w AS DOUBLE)" +
      " * CAST(CASE WHEN h <> y THEN mp ELSE mm END AS DOUBLE)" +
      " / 1000000.0e0) AS BIGINT) AS w",
    "score + alpha_u * h AS score")

  private lazy val abNormAgg: Seq[String] = Seq(
    "CAST(sum(w) AS BIGINT) AS wsum",
    "CAST(count(*) AS BIGINT) AS nex")

  /** Renormalize total mass back to nex µ-unit-millions — the bound
    * that keeps every later double product far from overflow and the
    * µ-floor meaningful. */
  private lazy val abRenorm: Seq[String] = Seq(
    "doc_id", "f1", "f2", "f3", "y",
    "CAST(floor(CAST(w AS DOUBLE) * (CAST(nex AS DOUBLE)" +
      " * 1000000.0e0) / CAST(wsum AS DOUBLE)) AS BIGINT) AS w",
    "score")

  /** Ensemble accuracy so far: sign(Σ α·h) vs y; a zero margin
    * predicts −1 in both engines. */
  private def abAcc: String =
    "CAST(sum(CASE WHEN (score > 0) = (y = 1) THEN 1 ELSE 0 END)" +
      " AS BIGINT) AS n_correct"

  private lazy val abOut: Seq[String] = Seq(
    "cf", "ct", "cp", "err_u", "tot_u", "alpha_u", "n_correct")

  /** DuckDB replay of q_ml_adaboost: the identical fragment text as
    * generated CTEs — seed, then per round score→argmin→update→
    * renormalize, emitting each round's stump + running accuracy. */
  private def adaboostOracle: String = {
    def round(k: Int): String =
      s"""s$k AS (SELECT ${abH.mkString(", ")} FROM
        |  (SELECT ${abFv.mkString(", ")} FROM ex${k - 1}, grid)),
        |b$k AS (SELECT ${abBest.mkString(",\n    ")} FROM
        |  (SELECT cf, ct, cp, ${abErrAgg.mkString(",\n    ")}
        |   FROM s$k GROUP BY 1, 2, 3
        |   ORDER BY err_u, cf, ct, cp LIMIT 1)),
        |u$k AS (SELECT ${abUpdate.mkString(",\n    ")} FROM
        |  (SELECT ${abH.mkString(", ")} FROM
        |    (SELECT ${abFv.mkString(", ")} FROM ex${k - 1}, b$k))),
        |n$k AS (SELECT ${abNormAgg.mkString(", ")} FROM u$k),
        |ex$k AS (SELECT ${abRenorm.mkString(",\n    ")} FROM u$k, n$k),
        |a$k AS (SELECT $abAcc FROM ex$k)""".stripMargin
    val rounds = (1 to abRounds).map(round).mkString(",\n")
    val out = (1 to abRounds).map(k =>
      s"SELECT CAST($k AS BIGINT) AS round, ${abOut.mkString(", ")}" +
        s" FROM b$k, a$k").mkString("\nUNION ALL ")
    s"""WITH f AS (SELECT ${abFeat.mkString(",\n    ")} FROM documents),
      |ex0 AS (SELECT ${abLabel.mkString(",\n    ")} FROM f),
      |grid AS (SELECT ${abGrid.mkString(",\n    ")}
      |  FROM (SELECT unnest(range(0, 96)) AS id)),
      |$rounds
      |$out""".stripMargin
  }

  /** TPC-H order-priority domain — schema-pinned, so the per-group
    * pivot (and the explicit fold order over it) is stable at any SF. */
  private lazy val anovaPris = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Left-to-right fold of per-group terms: ((((t0+t1)+t2)+t3)+t4) —
    * ONE deterministic op order shared by both engines. */
  private def anovaFold(term: Int => String): String =
    (1 until anovaPris.length).foldLeft(term(0))(
      (acc, i) => s"($acc + ${term(i)})")

  /** The pivoted exact-integer moments: n / Σx / Σx² per priority. */
  private lazy val anovaMomentSel: Seq[String] =
    anovaPris.zipWithIndex.flatMap { case (p, i) =>
      val c = s"CASE WHEN o_orderpriority = '$p' THEN"
      Seq(
        s"CAST(sum($c 1 ELSE 0 END) AS BIGINT) AS n$i",
        s"CAST(sum($c x ELSE 0 END) AS BIGINT) AS s$i",
        s"CAST(sum($c x * x ELSE 0 END) AS BIGINT) AS q$i")
    }

  /** The scalar-algebra stages from moments to (F, η², Welch F). Each
    * inner Seq is one SELECT's fragments; identical text runs as Spark
    * selectExpr stages and as the oracle's chained CTEs. */
  private lazy val anovaStages: Seq[Seq[String]] = {
    val is = anovaPris.indices
    val d =
      is.flatMap(i => Seq(
        s"CAST(n$i AS DOUBLE) AS fn$i",
        s"CAST(s$i AS DOUBLE) AS fs$i",
        s"CAST(q$i AS DOUBLE) AS fq$i")) ++ Seq(
        s"${anovaFold(i => s"n$i")} AS nn",
        s"CAST(${anovaFold(i => s"n$i")} AS DOUBLE) AS fna",
        s"CAST(${anovaFold(i => s"s$i")} AS DOUBLE) AS fsa",
        s"CAST(${anovaFold(i => s"q$i")} AS DOUBLE) AS fqa")
    val e =
      Seq("nn", "fna", "fsa", "fqa") ++ is.map(i => s"fn$i") ++
        is.flatMap(i => Seq(
          s"fs$i * fs$i / fn$i AS b$i",
          s"fs$i / fn$i AS mm$i",
          s"(fq$i - fs$i * fs$i / fn$i) / (fn$i - 1.0e0) AS v$i"))
    val f =
      Seq("nn", "fna") ++ is.flatMap(i => Seq(s"fn$i", s"mm$i")) ++
        is.map(i => s"fn$i / v$i AS w$i") ++ Seq(
        s"${anovaFold(i => s"b$i")} - fsa * fsa / fna AS ssb",
        "fqa - fsa * fsa / fna AS sst")
    val g =
      Seq("nn", "fna", "ssb", "sst", "sst - ssb AS ssw") ++
        is.flatMap(i => Seq(s"fn$i", s"mm$i", s"w$i")) :+
        s"${anovaFold(i => s"w$i")} AS ww"
    val h =
      Seq("nn", "fna", "ssb", "sst", "ssw", "ww",
        s"${anovaFold(i => s"w$i * mm$i")} / ww AS mw") ++
        is.flatMap(i => Seq(s"w$i", s"mm$i")) ++
        is.map(i =>
          s"(1.0e0 - w$i / ww) * (1.0e0 - w$i / ww) / (fn$i - 1.0e0)" +
            s" AS t$i")
    val fin = Seq(
      "nn AS n",
      s"${Num.sql("(ssb / 4.0e0) / (ssw / (fna - 5.0e0))", 6)} AS f_stat",
      s"${Num.sql("ssb / sst", 6)} AS eta2",
      Num.sql(
        s"(${anovaFold(i => s"w$i * (mm$i - mw) * (mm$i - mw)")} / 4.0e0)" +
          s" / (1.0e0 + 0.25e0 * ${anovaFold(i => s"t$i")})", 6) +
        " AS welch_f")
    Seq(d, e, f, g, h, fin)
  }

  /** DuckDB replay of q_stats_anova: the same fragment text as chained
    * CTEs over the same exact-integer moments. */
  private def anovaOracle: String = {
    val stages = anovaStages
    val ctes = stages.init.zipWithIndex.map { case (sel, k) =>
      val from = if (k == 0) "m" else s"d${k - 1}"
      s"d$k AS (SELECT ${sel.mkString(",\n    ")} FROM $from)"
    }
    s"""WITH c AS (
      |  SELECT CAST(floor(o_totalprice) AS BIGINT) AS x, o_orderpriority
      |  FROM orders),
      |m AS (SELECT ${anovaMomentSel.mkString(",\n    ")} FROM c),
      |${ctes.mkString(",\n")}
      |SELECT ${stages.last.mkString(",\n  ")}
      |FROM d${stages.init.length - 1}""".stripMargin
  }

  /** Poisson bootstrap resample count: 32 keeps the per-source rank
    * relation trivially bounded while giving the CI ~3% resolution. */
  private def bootB = 32

  /** Inverse-CDF breakpoints for Poisson(1) draws over the 60-bit hash
    * space: weight k iff h < floor(CDF(k)·2⁶⁰), k = 0..3, else 4.
    * Computed ONCE here and interpolated as LONG literals into both
    * engines, so the draws cannot drift. */
  private lazy val bootThresholds: Array[Long] = {
    // Poisson(1): p(k) = e⁻¹/k!; cdf(k) = Σ_{j≤k} p(j)
    val cdf = Array.tabulate(4) { k =>
      (0 to k).map(j => math.exp(-1.0) /
        (1 to j).foldLeft(1.0)(_ * _)).sum
    }
    cdf.map(c => (c * math.pow(2.0, 60)).toLong)
  }

  /** DuckDB replay of q_stats_bootstrap: identical hash draws (shared
    * h60 + the same LONG breakpoints), identical exact-integer sums,
    * identical rank-selection CI. */
  private def bootstrapOracle: String = {
    import graft.functions.TextAnalysis.h60sql
    val t = bootThresholds
    val hs = h60sql("'bs:' || b || ':' || doc_id")
    s"""WITH r AS (
      |  SELECT source, n_chars, doc_id, unnest(range(0, $bootB)) AS b
      |  FROM documents),
      |wts AS (
      |  SELECT source, b,
      |    CASE WHEN $hs < ${t(0)} THEN 0
      |         WHEN $hs < ${t(1)} THEN 1
      |         WHEN $hs < ${t(2)} THEN 2
      |         WHEN $hs < ${t(3)} THEN 3
      |         ELSE 4 END AS w,
      |    n_chars FROM r),
      |res AS (
      |  SELECT source, b,
      |    CAST(CAST(sum(w * n_chars) AS BIGINT) AS DOUBLE)
      |      / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS m
      |  FROM wts GROUP BY 1, 2),
      |rk AS (
      |  SELECT source, m,
      |    row_number() OVER (PARTITION BY source ORDER BY m, b) AS rn
      |  FROM res),
      |ci AS (
      |  SELECT source,
      |    min(CASE WHEN rn = 2 THEN m END) AS lo_raw,
      |    min(CASE WHEN rn = ${bootB - 1} THEN m END) AS hi_raw
      |  FROM rk GROUP BY 1),
      |est AS (
      |  SELECT source,
      |    CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE) AS est_raw
      |  FROM documents GROUP BY 1)
      |SELECT est.source, $bootB AS n_resamples,
      |  ${Num.sql("est_raw", 6)} AS est_mean,
      |  ${Num.sql("lo_raw", 6)} AS ci_lo,
      |  ${Num.sql("hi_raw", 6)} AS ci_hi
      |FROM est JOIN ci ON est.source = ci.source""".stripMargin
  }

  private def corrCols = Seq("q", "p", "d", "x")
  private def corrPairs = Seq(("q", "p"), ("q", "d"), ("q", "x"),
    ("p", "d"), ("p", "x"), ("d", "x"))
  private def corrNames = Map("q" -> "l_quantity", "p" -> "l_extendedprice",
    "d" -> "l_discount", "x" -> "l_tax")

  /** DuckDB twin of q_corr_matrix: HUGEINT moments (exact, like Spark's
    * DECIMAL(38)), then the identical double op sequence per pair. */
  private def corrMatrixOracle: String = {
    val srcCols = Map("q" -> "l_quantity", "p" -> "l_extendedprice",
      "d" -> "l_discount", "x" -> "l_tax")
    val centsSel = corrCols.map(c =>
      s"CAST(floor(${srcCols(c)} * 100 + 0.5) AS HUGEINT) AS $c")
      .mkString(", ")
    val moments = (corrCols.map(c => s"sum($c) AS s_$c") ++
      corrCols.map(c => s"sum($c * $c) AS s_$c$c") ++
      corrPairs.map { case (a, b) => s"sum($a * $b) AS s_$a$b" })
      .mkString(", ")
    def dd(n: String) = s"CAST($n AS DOUBLE)"
    val corrSel = corrPairs.map { case (a, b) =>
      Num.sql(s"(${dd("n")} * ${dd(s"s_$a$b")} - ${dd(s"s_$a")} * " +
        s"${dd(s"s_$b")}) / (sqrt(${dd("n")} * ${dd(s"s_$a$a")} - " +
        s"${dd(s"s_$a")} * ${dd(s"s_$a")}) * sqrt(${dd("n")} * " +
        s"${dd(s"s_$b$b")} - ${dd(s"s_$b")} * ${dd(s"s_$b")}))", 6) +
        s" AS c_$a$b"
    }.mkString(",\n  ")
    val rows = corrPairs.map { case (a, b) =>
      s"SELECT '${srcCols(a)}' AS xcol, '${srcCols(b)}' AS ycol, " +
        s"c_$a$b AS corr_v FROM f"
    }.mkString(" UNION ALL ")
    s"""WITH c AS (SELECT $centsSel FROM lineitem),
      |m AS (SELECT count(*) AS n, $moments FROM c),
      |f AS (SELECT
      |  $corrSel
      |FROM m)
      |$rows""".stripMargin
  }

  // --------------------------------------------------------------------
  // q_ml_als fragments — ONE text, two engines (the logreg/adaboost
  // discipline). Factors live in integer µ-units between half-sweeps;
  // per-row normal-equation contributions are 2⁻²⁰-quantized BIGINTs so
  // every keyed sum is fold-order-free, and the per-key 2×2 Cramer
  // solve runs the identical IEEE op sequence in both engines.

  /** Per-row quantization grid for ALS normal-equation contributions:
    * contributions are ≤ ~10⁴ (factors ≤ ~10², ratings ≤ 50), so a row
    * is ≤ ~10¹⁰ quantized; the largest group (one item's raters, = the
    * supplier count) keeps sums < 10¹⁵ at sf1 — inside BIGINT and,
    * after dequantize, inside double's 2⁵³ integer range. */
  private def alsQ = "1048576.0e0"

  private def alsQi(e: String, n: String): String =
    s"CAST(floor(($e) * $alsQ + 0.5e0) AS BIGINT) AS q$n"

  /** µ-unit grid factors are stored on between half-sweeps. */
  private def alsU = "1000000.0e0"

  /** Ratings projection: user = supplier, item = part bucket (fixed
    * modulus 64 — the item side is model-sized at every SF), rating
    * contribution = integral quantity. */
  private lazy val alsRows: Seq[String] = Seq(
    "CAST(l_suppkey AS BIGINT) AS u",
    "CAST(l_partkey % 64 AS BIGINT) AS i",
    "CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS q")

  private lazy val alsAgg: Seq[String] = Seq(
    "CAST(sum(q) AS BIGINT) AS sq", "CAST(count(*) AS BIGINT) AS cnt")

  /** Mean rating: one double division of two exact integers. */
  private def alsR = "CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE) AS r"

  /** Deterministic item-factor init straight in µ-units: two integer
    * mixes of the item id spread over [0.5, 1.5). */
  private lazy val alsInit: Seq[String] = Seq(
    "i",
    "((i * 2654435761) % 1000) * 1000 + 500000 AS p0",
    "((i * 40503 + 17) % 1000) * 1000 + 500000 AS p1")

  /** Joined projection: k = the side being solved, (p0, p1) = the fixed
    * side's µ-unit factors, dequantized once. */
  private lazy val alsJoin: Seq[String] = Seq(
    "k", "r",
    s"CAST(p0 AS DOUBLE) / $alsU AS g0",
    s"CAST(p1 AS DOUBLE) / $alsU AS g1")

  /** Per-row normal-equation contributions, quantized. */
  private lazy val alsQuant: Seq[String] = Seq(
    "k",
    alsQi("g0 * g0", "a00"), alsQi("g0 * g1", "a01"),
    alsQi("g1 * g1", "a11"),
    alsQi("g0 * r", "b0"), alsQi("g1 * r", "b1"))

  private lazy val alsMom: Seq[String] =
    Seq("a00", "a01", "a11", "b0", "b1")
      .map(n => s"CAST(sum(q$n) AS BIGINT) AS s$n") :+
      "CAST(count(*) AS BIGINT) AS nk"

  /** Dequantized 2×2 system, λ·n_k ridge on the diagonal (Zhou et al.
    * 2008's weighted-λ regularization — λ = 0.1). */
  private lazy val alsSolve: Seq[String] = Seq(
    "k", "nk",
    s"CAST(sa00 AS DOUBLE) / $alsQ + CAST(nk AS DOUBLE) * 0.1e0 AS m00",
    s"CAST(sa01 AS DOUBLE) / $alsQ AS m01",
    s"CAST(sa11 AS DOUBLE) / $alsQ + CAST(nk AS DOUBLE) * 0.1e0 AS m11",
    s"CAST(sb0 AS DOUBLE) / $alsQ AS v0",
    s"CAST(sb1 AS DOUBLE) / $alsQ AS v1")

  /** Cramer solve; det > 0 always (PSD + λ·n_k ≥ 0.1 on the diagonal). */
  private lazy val alsCramer: Seq[String] = Seq(
    "k", "nk",
    "m00 * m11 - m01 * m01 AS det",
    "(v0 * m11 - v1 * m01) AS d0",
    "(m00 * v1 - m01 * v0) AS d1")

  /** New factors back onto the µ-unit grid. */
  private lazy val alsOut: Seq[String] = Seq(
    "k", "nk",
    s"CAST(floor(d0 / det * $alsU + 0.5e0) AS BIGINT) AS p0",
    s"CAST(floor(d1 / det * $alsU + 0.5e0) AS BIGINT) AS p1")

  /** Residual per rating against a (user, item) factor pair. */
  private def alsErr: String =
    s"r - (CAST(up0 AS DOUBLE) / $alsU * (CAST(ip0 AS DOUBLE) / $alsU)" +
      s" + CAST(up1 AS DOUBLE) / $alsU * (CAST(ip1 AS DOUBLE) / $alsU)) AS e"

  private def alsErrQ: String = alsQi("e * e", "e2")

  private lazy val alsRmseAgg: Seq[String] = Seq(
    "CAST(sum(qe2) AS BIGINT) AS se2", "CAST(count(*) AS BIGINT) AS nn")

  private def alsRmse(name: String): String =
    s"CAST(floor(sqrt(CAST(se2 AS DOUBLE) / $alsQ / CAST(nn AS DOUBLE))" +
      s" * $alsU + 0.5e0) AS BIGINT) AS $name"

  /** One half-sweep as oracle CTEs: solve side `groupKey` against the
    * fixed factor table `fixedCte` (columns: joinKey, p0, p1). */
  private def alsHalfCtes(
      pre: String, fixedCte: String,
      joinKey: String, groupKey: String): String =
    s"""${pre}j AS (
      |  SELECT rat.$groupKey AS k, rat.r, f.p0, f.p1
      |  FROM rat JOIN $fixedCte f ON rat.$joinKey = f.$joinKey),
      |${pre}d AS (SELECT ${alsJoin.mkString(", ")} FROM ${pre}j),
      |${pre}q AS (SELECT ${alsQuant.mkString(",\n    ")} FROM ${pre}d),
      |${pre}m AS (SELECT k, ${alsMom.mkString(",\n    ")}
      |  FROM ${pre}q GROUP BY k),
      |${pre}s AS (SELECT ${alsSolve.mkString(",\n    ")} FROM ${pre}m),
      |${pre}c AS (SELECT ${alsCramer.mkString(",\n    ")} FROM ${pre}s),
      |${pre}f AS (SELECT ${alsOut.mkString(",\n    ")} FROM ${pre}c),
      |${pre}t AS (SELECT k AS $groupKey, nk, p0, p1 FROM ${pre}f)"""
      .stripMargin

  /** RMSE-pass oracle CTEs over a (user table, item table) pair. */
  private def alsRmseCtes(
      pre: String, name: String, uf: String, itf: String): String =
    s"""${pre}p AS (
      |  SELECT rat.r, uf.p0 AS up0, uf.p1 AS up1,
      |    itf.p0 AS ip0, itf.p1 AS ip1
      |  FROM rat JOIN $uf uf ON rat.u = uf.u
      |  JOIN $itf itf ON rat.i = itf.i),
      |${pre}e AS (SELECT $alsErr FROM ${pre}p),
      |${pre}k AS (SELECT $alsErrQ FROM ${pre}e),
      |${pre}a AS (SELECT ${alsRmseAgg.mkString(", ")} FROM ${pre}k),
      |${pre}r AS (SELECT ${alsRmse(name)} FROM ${pre}a)"""
      .stripMargin

  // --------------------------------------------------------------------
  // q_ml_conformal fragments — ONE text, two engines. x = quantity,
  // y = whole-dollar extended price; folds split by a deterministic
  // integer hash so the three splits are disjoint at every SF.

  private lazy val cfRows: Seq[String] = Seq(
    "l_orderkey * 8 + l_linenumber AS rid",
    "(l_orderkey * 7 + l_linenumber) % 10 AS fold",
    "CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS x",
    "CAST(floor(l_extendedprice + 0.5e0) AS BIGINT) AS y")

  private def cfTrain = "fold < 6"
  private def cfCal = "fold >= 6 AND fold < 8"
  private def cfTest = "fold >= 8"

  /** Exact BIGINT train moments (Σxy < 4·10¹³ at sf1 — safe). */
  private lazy val cfMom: Seq[String] = Seq(
    "CAST(count(*) AS BIGINT) AS n",
    "CAST(sum(x) AS BIGINT) AS sx", "CAST(sum(y) AS BIGINT) AS sy",
    "CAST(sum(x * y) AS BIGINT) AS sxy",
    "CAST(sum(x * x) AS BIGINT) AS sxx")

  private lazy val cfSlope: Seq[String] = Seq(
    "n", "sx", "sy",
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
      " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b")

  private lazy val cfIcept: Seq[String] = Seq(
    "n AS n_train", "b",
    "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)" +
      " - b * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS a")

  /** µ-quantized nonconformity |y − ŷ|. */
  private lazy val cfScore: Seq[String] = Seq(
    "rid",
    "CAST(floor(abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))" +
      " * 1000000.0e0 + 0.5e0) AS BIGINT) AS score_u")

  private def cfCalN = "CAST(count(*) AS BIGINT) AS n_cal"

  /** The finite-sample conformal rank ⌈0.9(n+1)⌉. */
  private lazy val cfK: Seq[String] = Seq(
    "n_cal",
    "CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * 0.9e0) AS BIGINT) AS k")

  private lazy val cfFinal: Seq[String] = Seq(
    "CAST(count(*) AS BIGINT) AS n_test",
    "CAST(sum(CASE WHEN score_u <= qhat_u THEN 1 ELSE 0 END)" +
      " AS BIGINT) AS n_cov",
    "min(n_train) AS n_train", "min(n_cal) AS n_cal", "min(k) AS k",
    "min(qhat_u) AS qhat_u", "min(a) AS a", "min(b) AS b")

  private lazy val cfOut: Seq[String] = Seq(
    "n_train", "n_cal", "k", "qhat_u", "n_test", "n_cov",
    s"${Num.sql("a", 6)} AS a_r", s"${Num.sql("b", 6)} AS b_r")

  /** DuckDB replay of q_ml_conformal: identical fragments, textbook
    * row_number window in place of chunkedRank. */
  private def conformalOracle: String =
    s"""WITH rws AS (SELECT ${cfRows.mkString(",\n    ")} FROM lineitem),
      |m AS (SELECT ${cfMom.mkString(",\n    ")} FROM rws WHERE $cfTrain),
      |sl AS (SELECT ${cfSlope.mkString(",\n    ")} FROM m),
      |md AS (SELECT ${cfIcept.mkString(",\n    ")} FROM sl),
      |cal AS (SELECT ${cfScore.mkString(",\n    ")}
      |  FROM rws CROSS JOIN md WHERE $cfCal),
      |kk AS (SELECT ${cfK.mkString(", ")}
      |  FROM (SELECT $cfCalN FROM cal)),
      |rk AS (SELECT score_u,
      |    row_number() OVER (ORDER BY score_u, rid) AS rn
      |  FROM cal),
      |qh AS (SELECT score_u AS qhat_u, n_cal, k
      |  FROM rk, kk WHERE rn = k),
      |tst AS (SELECT ${cfScore.mkString(",\n    ")}
      |  FROM rws CROSS JOIN md WHERE $cfTest),
      |f AS (SELECT ${cfFinal.mkString(",\n    ")}
      |  FROM tst CROSS JOIN qh CROSS JOIN md)
      |SELECT ${cfOut.mkString(",\n  ")} FROM f""".stripMargin

  // --------------------------------------------------------------------
  // q_stats_kruskal fragments — ONE text, two engines (the anova/mwu
  // discipline). Ranks are doubled integers over the bounded bin spine.

  private lazy val kwRows: Seq[String] = Seq(
    "o_orderpriority AS g",
    "CAST(floor(o_totalprice / 1000.0e0) AS BIGINT) AS x")

  private def kwCellN = "CAST(count(*) AS BIGINT) AS n"
  private def kwBinT = "CAST(sum(n) AS BIGINT) AS t"

  /** Pivoted doubled rank sums + group sizes over the 5-priority
    * domain: 2·ΣR_g = Σ_cells n·(2·pre + t + 1). */
  private lazy val kwMom: Seq[String] =
    anovaPris.zipWithIndex.flatMap { case (p, i) =>
      val c = s"CASE WHEN g = '$p' THEN"
      Seq(
        s"CAST(sum($c n * (2 * pre + t + 1) ELSE 0 END) AS BIGINT) AS r2$i",
        s"CAST(sum($c n ELSE 0 END) AS BIGINT) AS n$i")
    }

  /** Corpus size + tie term from the bin spine (each bin once). */
  private lazy val kwTot: Seq[String] = Seq(
    "CAST(sum(t) AS BIGINT) AS nn",
    "CAST(sum(t * t * t - t) AS BIGINT) AS tie")

  private lazy val kwStages: Seq[Seq[String]] = {
    val is = anovaPris.indices
    val d = Seq("nn AS n", "CAST(nn AS DOUBLE) AS fna",
      "CAST(tie AS DOUBLE) AS ftie") ++
      is.flatMap(i => Seq(s"CAST(r2$i AS DOUBLE) AS fr2$i",
        s"CAST(n$i AS DOUBLE) AS fn$i"))
    val e = Seq("n", "fna", "ftie",
      s"${anovaFold(i => s"fr2$i * fr2$i / (4.0e0 * fn$i)")} AS sss")
    val f = Seq("n", "fna",
      "12.0e0 * sss / (fna * (fna + 1.0e0)) - 3.0e0 * (fna + 1.0e0) AS h",
      "1.0e0 - ftie / (fna * fna * fna - fna) AS cc")
    val fin = Seq("n",
      s"${Num.sql("h", 6)} AS h_stat",
      s"${Num.sql("h / cc", 6)} AS h_corr",
      s"${Num.sql("(h - 4.0e0) / (fna - 5.0e0)", 6)} AS eps2")
    Seq(d, e, f, fin)
  }

  /** DuckDB replay of q_stats_kruskal: same fragments as chained CTEs,
    * same cumulative window over the bounded bin spine. */
  private def kruskalOracle: String = {
    val ctes = kwStages.init.zipWithIndex.map { case (sel, k) =>
      s"st$k AS (SELECT ${sel.mkString(",\n    ")} FROM " +
        s"${if (k == 0) "mt" else s"st${k - 1}"})"
    }.mkString(",\n")
    s"""WITH c0 AS (SELECT ${kwRows.mkString(", ")} FROM orders),
      |cells AS (SELECT g, x, $kwCellN FROM c0 GROUP BY g, x),
      |tx0 AS (SELECT x, $kwBinT FROM cells GROUP BY x),
      |tx AS (SELECT x, t, sum(t) OVER (ORDER BY x) - t AS pre FROM tx0),
      |mom AS (SELECT ${kwMom.mkString(",\n    ")}
      |  FROM cells JOIN tx USING (x)),
      |tot AS (SELECT ${kwTot.mkString(", ")} FROM tx),
      |mt AS (SELECT * FROM mom CROSS JOIN tot),
      |$ctes
      |SELECT ${kwStages.last.mkString(",\n  ")}
      |FROM st${kwStages.size - 2}""".stripMargin
  }

  // --------------------------------------------------------------------
  // q_ml_ransac fragments — 16 candidates, τ = $5000 inlier band.

  private def rsTauU = 5000L * 1000000L

  private lazy val rsRows: Seq[String] = Seq(
    "l_orderkey * 8 + l_linenumber AS rid",
    "CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS x",
    "CAST(floor(l_extendedprice + 0.5e0) AS BIGINT) AS y")

  /** Two-point line; a degenerate sample (x1 = x2) is marked and its
    * model zeroed so it scores but can never win. */
  private lazy val rsModel: Seq[String] = Seq(
    "k",
    "CASE WHEN x1 = x2 THEN 1 ELSE 0 END AS degen",
    "CASE WHEN x1 = x2 THEN 0.0e0 ELSE CAST(y2 - y1 AS DOUBLE)" +
      " / CAST(x2 - x1 AS DOUBLE) END AS cb",
    "CASE WHEN x1 = x2 THEN 0.0e0 ELSE CAST(y1 AS DOUBLE)" +
      " - (CAST(y2 - y1 AS DOUBLE) / CAST(x2 - x1 AS DOUBLE))" +
      " * CAST(x1 AS DOUBLE) END AS ca")

  private def rsResidExpr: String =
    "CAST(floor(abs(CAST(y AS DOUBLE) - (ca + cb * CAST(x AS DOUBLE)))" +
      " * 1000000.0e0 + 0.5e0) AS BIGINT) AS r_u"

  private lazy val rsResid: Seq[String] =
    Seq("k", "ca", "cb", "degen", rsResidExpr)

  private def rsInl: String =
    s"CAST(sum(CASE WHEN r_u <= $rsTauU THEN 1 ELSE 0 END)" +
      " AS BIGINT) AS n_in"

  private lazy val rsScore: Seq[String] = Seq(
    "k", "ca", "cb",
    "CASE WHEN degen = 1 THEN CAST(-1 AS BIGINT) ELSE n_in END" +
      " AS n_inliers")

  private lazy val rsResid2: Seq[String] = Seq("x", "y", rsResidExpr)
  private def rsKeep = s"r_u <= $rsTauU"

  /** Exact refit moments on the winner's inliers (the conformal fit). */
  private lazy val rsMom: Seq[String] = cfMom

  private lazy val rsFit: Seq[String] =
    Seq("best_k", "n_inliers", "n", "sx", "sy", cfSlope.last)

  private lazy val rsOut: Seq[String] = Seq(
    "best_k", "n_inliers", "n AS n_refit",
    s"${Num.sql("b", 6)} AS b_r",
    s"${Num.sql("CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)" +
      " - b * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))", 6)} AS a_r")

  /** Odd 57-bit mix constant (k*rsMix stays inside checked BIGINT): k·rsMix XORed onto the base draw gives
    * each candidate an independent bijection of the row hash. */
  private def rsMix = 0x9E3779B97F4A7C15L >>> 7

  /** DuckDB replay of q_ml_ransac: min-over-struct draws (unique
    * 60-bit hashes make the argmin a well-defined sample in both
    * engines; lexicographic struct order matches Spark's). */
  private def ransacOracle: String = {
    import graft.functions.TextAnalysis.h60sql
    def h(salt: String) = h60sql(s"'ra:$salt:' || CAST(rid AS VARCHAR)")
    s"""WITH rws AS (SELECT ${rsRows.mkString(",\n    ")} FROM lineitem),
      |ks AS (
      |  SELECT k, x, y,
      |    xor(h0a, k * $rsMix) AS ha, xor(h0b, k * $rsMix) AS hb
      |  FROM (SELECT x, y, ${h("a")} AS h0a, ${h("b")} AS h0b
      |    FROM rws), (SELECT unnest(range(16)) AS k)),
      |cand0 AS (
      |  SELECT k, min({'h': ha, 'x': x, 'y': y}) AS p1,
      |    min({'h': hb, 'x': x, 'y': y}) AS p2
      |  FROM ks GROUP BY k),
      |cand1 AS (SELECT k, p1.x AS x1, p1.y AS y1,
      |    p2.x AS x2, p2.y AS y2 FROM cand0),
      |cand AS (SELECT ${rsModel.mkString(",\n    ")} FROM cand1),
      |sc AS (SELECT ${rsResid.mkString(",\n    ")}
      |  FROM rws CROSS JOIN cand),
      |ag AS (SELECT k, ca, cb, degen, $rsInl
      |  FROM sc GROUP BY k, ca, cb, degen),
      |win AS (SELECT ${rsScore.mkString(",\n    ")} FROM ag
      |  ORDER BY n_inliers DESC, k LIMIT 1),
      |r2 AS (SELECT ${rsResid2.mkString(",\n    ")}
      |  FROM rws CROSS JOIN win),
      |m AS (SELECT ${rsMom.mkString(",\n    ")} FROM r2 WHERE $rsKeep),
      |f AS (SELECT ${rsFit.mkString(",\n    ")}
      |  FROM m CROSS JOIN (SELECT CAST(k AS BIGINT) AS best_k,
      |    n_inliers FROM win) w)
      |SELECT ${rsOut.mkString(",\n  ")} FROM f""".stripMargin
  }

  // --------------------------------------------------------------------
  // q_ml_gbt fragments — 3 rounds, 32-stump grid, ν = ½, residuals in
  // integer milli-units; ONE text, two engines.

  private lazy val gbRows: Seq[String] = Seq(
    "CAST(floor(l_quantity + 0.5e0) AS BIGINT) AS x1",
    "CAST(floor(l_discount * 100.0e0 + 0.5e0) AS BIGINT) AS x2",
    "CAST(floor(l_extendedprice * 1000.0e0 + 0.5e0) AS BIGINT) AS ym")

  private def gbMeanAgg: String =
    "CAST(floor(CAST(sum(ym) AS DOUBLE) / CAST(count(*) AS DOUBLE)" +
      " + 0.5e0) AS BIGINT) AS mu"

  private lazy val gbInit: Seq[String] =
    Seq("x1", "x2", "ym - mu AS e")

  private lazy val gbGrid: Seq[String] = Seq(
    "CAST(id AS BIGINT) AS c",
    "CASE WHEN id < 16 THEN 0 ELSE 1 END AS f",
    "CASE WHEN id < 16 THEN id * 3 + 2 ELSE id - 16 END AS tt")

  private lazy val gbSide: Seq[String] = Seq(
    "c", "f", "tt", "e",
    "CASE WHEN (CASE WHEN f = 0 THEN x1 ELSE x2 END) <= tt" +
      " THEN 1 ELSE 0 END AS sd")

  private lazy val gbCand: Seq[String] = Seq(
    "CAST(sum(CASE WHEN sd = 1 THEN e ELSE 0 END) AS BIGINT) AS sl",
    "CAST(sum(CASE WHEN sd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nl",
    "CAST(sum(CASE WHEN sd = 0 THEN e ELSE 0 END) AS BIGINT) AS sr",
    "CAST(sum(CASE WHEN sd = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nr")

  /** SSE reduction up to the round constant; empty sides can't win. */
  private lazy val gbGain: Seq[String] = Seq(
    "c", "f", "tt", "sl", "nl", "sr", "nr",
    "CASE WHEN nl = 0 OR nr = 0 THEN -1.0e0" +
      " ELSE CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)" +
      " / CAST(nl AS DOUBLE) + CAST(sr AS DOUBLE)" +
      " * CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE) END AS gain")

  private lazy val gbBest: Seq[String] = Seq(
    "c AS bc", "f AS bf", "tt AS bt", "nl", "nr",
    "CASE WHEN nl = 0 THEN CAST(0 AS BIGINT) ELSE CAST(floor(" +
      "CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) + 0.5e0) AS BIGINT)" +
      " END AS lml",
    "CASE WHEN nr = 0 THEN CAST(0 AS BIGINT) ELSE CAST(floor(" +
      "CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE) + 0.5e0) AS BIGINT)" +
      " END AS lmr")

  private lazy val gbSide2: Seq[String] = Seq(
    "x1", "x2", "e",
    "CASE WHEN (CASE WHEN bf = 0 THEN x1 ELSE x2 END) <= bt" +
      " THEN lml ELSE lmr END AS lv")

  private lazy val gbUpdate: Seq[String] = Seq(
    "x1", "x2",
    "CAST(floor(CAST(e AS DOUBLE) - CAST(lv AS DOUBLE) * 0.5e0" +
      " + 0.5e0) AS BIGINT) AS e")

  /** Per-row µ-coarsened e² keeps the SSE fold integer at sf1. */
  private def gbSse: String =
    "CAST(sum(CAST(floor(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)" +
      " / 1000000.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS sse_q"

  private lazy val gbOut: Seq[String] =
    Seq("bc", "bf", "bt", "nl", "nr", "lml", "lmr", "sse_q")

  /** DuckDB replay of q_ml_gbt: all three rounds as MATERIALIZED CTEs
    * (each round's residuals feed two consumers). */
  /** DuckDB replay of q_ml_tree: identical gb* fragment text — root
    * argmax as ORDER BY/LIMIT, per-leaf argmax as the same windowed
    * row_number, final leaf stats grouped by the two path bits. */
  private def treeOracle: String =
    s"""WITH rows0 AS (SELECT ${gbRows.mkString(",\n    ")} FROM lineitem),
      |rws AS (SELECT x1, x2, ym AS e FROM rows0),
      |grid AS (SELECT ${gbGrid.mkString(",\n    ")}
      |  FROM (SELECT unnest(range(32)) AS id)),
      |sides AS (SELECT ${gbSide.mkString(",\n    ")}
      |  FROM rws CROSS JOIN grid),
      |cand AS (SELECT c, f, tt, ${gbCand.mkString(",\n    ")}
      |  FROM sides GROUP BY 1, 2, 3),
      |gains AS (SELECT ${gbGain.mkString(",\n    ")} FROM cand),
      |root AS (SELECT f AS rf, tt AS rt FROM gains
      |  ORDER BY gain DESC, c LIMIT 1),
      |leafed AS (SELECT x1, x2, e,
      |  CASE WHEN (CASE WHEN rf = 0 THEN x1 ELSE x2 END) <= rt
      |    THEN 1 ELSE 0 END AS leaf, rf, rt
      |  FROM rws CROSS JOIN root),
      |ls AS (SELECT leaf, ${gbSide.mkString(",\n    ")}
      |  FROM leafed CROSS JOIN grid),
      |lc AS (SELECT leaf, c, f, tt, ${gbCand.mkString(",\n    ")}
      |  FROM ls GROUP BY 1, 2, 3, 4),
      |lg AS (SELECT leaf, ${gbGain.mkString(",\n    ")} FROM lc),
      |lsplit AS (
      |  SELECT leaf, f AS lf, tt AS lt FROM (
      |    SELECT leaf, f, tt, row_number() OVER (
      |      PARTITION BY leaf ORDER BY gain DESC, c) AS rn
      |    FROM lg) WHERE rn = 1),
      |fin AS (
      |  SELECT l.leaf, l.rf, l.rt, s.lf, s.lt, l.e,
      |    CASE WHEN (CASE WHEN s.lf = 0 THEN l.x1 ELSE l.x2 END) <= s.lt
      |      THEN 1 ELSE 0 END AS leaf2
      |  FROM leafed l JOIN lsplit s ON l.leaf = s.leaf)
      |SELECT leaf, leaf2, min(rf) AS rf, min(rt) AS rt,
      |  min(lf) AS lf, min(lt) AS lt, CAST(count(*) AS BIGINT) AS n,
      |  CAST(floor(CAST(sum(e) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    + 0.5e0) AS BIGINT) AS mean_m
      |FROM fin GROUP BY 1, 2""".stripMargin

  private def gbtOracle: String = {
    def round(k: Int): String =
      s"""sd$k AS (SELECT ${gbSide.mkString(", ")}
        |  FROM e${k - 1} CROSS JOIN grid),
        |cd$k AS (SELECT c, f, tt, ${gbCand.mkString(",\n    ")}
        |  FROM sd$k GROUP BY c, f, tt),
        |gn$k AS (SELECT ${gbGain.mkString(",\n    ")} FROM cd$k),
        |b$k AS MATERIALIZED (SELECT ${gbBest.mkString(",\n    ")}
        |  FROM (SELECT * FROM gn$k ORDER BY gain DESC, c LIMIT 1) q),
        |e$k AS MATERIALIZED (SELECT ${gbUpdate.mkString(", ")}
        |  FROM (SELECT ${gbSide2.mkString(", ")}
        |    FROM e${k - 1} CROSS JOIN b$k) q),
        |s$k AS (SELECT $gbSse FROM e$k),
        |r$k AS (SELECT CAST($k AS BIGINT) AS round,
        |  ${gbOut.mkString(", ")} FROM b$k CROSS JOIN s$k)"""
        .stripMargin
    s"""WITH rws AS (SELECT ${gbRows.mkString(",\n    ")} FROM lineitem),
      |mu AS (SELECT $gbMeanAgg FROM rws),
      |e0 AS MATERIALIZED (SELECT ${gbInit.mkString(", ")}
      |  FROM rws CROSS JOIN mu),
      |grid AS (SELECT ${gbGrid.mkString(",\n    ")}
      |  FROM (SELECT unnest(range(32)) AS id)),
      |${(1 to 3).map(round).mkString(",\n")}
      |SELECT * FROM r1 UNION ALL SELECT * FROM r2
      |UNION ALL SELECT * FROM r3""".stripMargin
  }

  // --------------------------------------------------------------------
  // q_ab_permutation fragments — B = 64 deterministic re-labelings.

  private def pmB = 64

  private lazy val pmAgg: Seq[String] = Seq(
    "CAST(sum(CASE WHEN arm = 0 THEN xv ELSE 0 END) AS BIGINT) AS s0",
    "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0",
    "CAST(sum(CASE WHEN arm = 1 THEN xv ELSE 0 END) AS BIGINT) AS s1",
    "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1")

  private def pmDelta(name: String): Seq[String] = Seq(
    "CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)" +
      s" - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS $name")

  private lazy val pmCount: Seq[String] = Seq(
    "CAST(sum(CASE WHEN abs(d_b) >= abs(d_obs) THEN 1 ELSE 0 END)" +
      " AS BIGINT) AS n_ge",
    "min(n0) AS n0", "min(n1) AS n1", "min(d_obs) AS d_obs")

  private lazy val pmOut: Seq[String] = Seq(
    "n0", "n1",
    s"${Num.sql("d_obs", 6)} AS d_obs_r",
    "n_ge",
    s"${Num.sql(s"CAST(n_ge + 1 AS DOUBLE) / ${pmB + 1}.0e0", 6)} AS p_r")

  /** DuckDB replay of q_ab_permutation: identical hash re-labelings. */
  private def permOracle: String = {
    import graft.functions.TextAnalysis.h60sql
    val armObs = h60sql("'pm:obs:' || CAST(doc_id AS VARCHAR)")
    val armB = h60sql(
      "'pm:' || CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS xv,
      |    ($armObs) % 2 AS arm
      |  FROM documents),
      |obs0 AS (SELECT ${pmAgg.mkString(",\n    ")} FROM d),
      |obs AS (SELECT n0, n1, ${pmDelta("d_obs").mkString(", ")}
      |  FROM obs0),
      |p0 AS (
      |  SELECT b, xv, ($armB) % 2 AS arm
      |  FROM (SELECT doc_id, xv, unnest(range($pmB)) AS b FROM d)),
      |p1 AS (SELECT b, ${pmAgg.mkString(",\n    ")} FROM p0 GROUP BY b),
      |p2 AS (SELECT ${pmDelta("d_b").mkString(", ")} FROM p1),
      |c AS (SELECT ${pmCount.mkString(",\n    ")}
      |  FROM p2 CROSS JOIN obs)
      |SELECT ${pmOut.mkString(",\n  ")} FROM c""".stripMargin
  }

  // --------------------------------------------------------------------
  // q_stats_fdr fragments — the permutation machinery keyed by source,
  // then the BH step-up in exact cross-multiplied integers (α = ¼).

  private lazy val fdrCnt: Seq[String] = Seq(
    "CAST(1 + sum(CASE WHEN abs(d_b) >= abs(d_obs) THEN 1 ELSE 0 END)" +
      " AS BIGINT) AS cnt",
    "min(n0) AS n0", "min(n1) AS n1")

  /** BH condition at α = ¼: p = cnt/(B+1) ≤ k/(4m) ⟺ cnt·4·m ≤ k·(B+1). */
  private lazy val fdrCond: String = s"cnt * 4 * m <= k * ${pmB + 1}"

  private lazy val fdrOut: Seq[String] = Seq(
    "source", "n0", "n1",
    s"CAST((cnt * 1000000) DIV ${pmB + 1} AS BIGINT) AS p_u",
    "k",
    "CAST(CASE WHEN k <= coalesce(kmax, 0) THEN 1 ELSE 0 END" +
      " AS BIGINT) AS rejected")

  /** DuckDB replay of q_stats_fdr: identical hash arms and fragments;
    * `//` is DuckDB's integer division (Spark side says DIV). */
  private def fdrOracle: String = {
    import graft.functions.TextAnalysis.h60sql
    val armObs = h60sql("'pm:obs:' || CAST(doc_id AS VARCHAR)")
    val armB = h60sql(
      "'pm:' || CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (
      |  SELECT source, doc_id, CAST(n_chars AS BIGINT) +
      |    CASE WHEN source IN ('src0', 'src1', 'src2')
      |      AND ($armObs) % 2 = 0 THEN 200 ELSE 0 END AS xv
      |  FROM documents),
      |o0 AS (
      |  SELECT source, ${pmAgg.mkString(",\n    ")}
      |  FROM (SELECT source, xv, ($armObs) % 2 AS arm FROM d)
      |  GROUP BY source),
      |obs AS (SELECT source, n0, n1, ${pmDelta("d_obs").mkString(", ")}
      |  FROM o0),
      |p0 AS (
      |  SELECT source, b, xv, ($armB) % 2 AS arm
      |  FROM (SELECT source, doc_id, xv, unnest(range($pmB)) AS b
      |        FROM d)),
      |p1 AS (SELECT source, b, ${pmAgg.mkString(",\n    ")}
      |  FROM p0 GROUP BY source, b),
      |p2 AS (SELECT source, ${pmDelta("d_b").mkString(", ")} FROM p1),
      |per AS (
      |  SELECT p2.source, ${fdrCnt.mkString(",\n    ")}
      |  FROM p2 JOIN obs ON p2.source = obs.source
      |  GROUP BY p2.source),
      |ranked AS (
      |  SELECT source, n0, n1, cnt,
      |    CAST(row_number() OVER (ORDER BY cnt, source) AS BIGINT) AS k,
      |    CAST(count(*) OVER () AS BIGINT) AS m
      |  FROM per),
      |km AS (SELECT max(CASE WHEN $fdrCond THEN k END) AS kmax
      |  FROM ranked)
      |SELECT ${fdrOut.mkString(",\n  ").replace(" DIV ", " // ")}
      |FROM ranked CROSS JOIN km""".stripMargin
  }

  // --------------------------------------------------------------------
  // q_eval_passk fragments — n = 16 trials; k ∈ {1, 5, 10}.

  private def pkN = 16
  private def pkKs = Seq(1, 5, 10)

  private lazy val pkRows: Seq[String] = Seq(
    "source", s"CAST((doc_id * 13 + n_chars) % ${pkN + 1} AS BIGINT) AS c")

  /** Per-doc pass@k in µ-units: 10⁶ − ⌊N/D·10⁶ + ½⌋ with N the
    * falling-factorial numerator and D its compile-time constant. */
  private lazy val pkPer: Seq[String] = "source" +: pkKs.map { k =>
    val num = (0 until k).map(j => s"($pkN - c - $j)").mkString(" * ")
    val den = (0 until k).map(pkN - _.toLong).product
    s"CAST(1000000 - floor(CAST($num AS DOUBLE)" +
      s" / ${den}.0e0 * 1000000.0e0 + 0.5e0) AS BIGINT) AS p${k}_u"
  }

  private lazy val pkAgg: Seq[String] =
    "CAST(count(*) AS BIGINT) AS n_docs" +: pkKs.map(k =>
      s"CAST(floor(CAST(sum(p${k}_u) AS DOUBLE)" +
        s" / CAST(count(*) AS DOUBLE) + 0.5e0) AS BIGINT) AS pass${k}_u")

  private def passkOracle: String =
    s"""WITH d AS (SELECT ${pkRows.mkString(",\n    ")} FROM documents),
      |p AS (SELECT ${pkPer.mkString(",\n    ")} FROM d)
      |SELECT source, ${pkAgg.mkString(",\n  ")}
      |FROM p GROUP BY source""".stripMargin

  /** DuckDB replay of q_ml_als: the identical fragment text as chained
    * CTEs — init, four half-sweeps, two RMSE passes. */
  private def alsOracle: String =
    s"""WITH base AS (SELECT ${alsRows.mkString(",\n    ")} FROM lineitem),
      |rat0 AS (SELECT u, i, ${alsAgg.mkString(", ")}
      |  FROM base GROUP BY u, i),
      |rat AS (SELECT u, i, $alsR FROM rat0),
      |it AS (SELECT DISTINCT i FROM rat),
      |if0 AS (SELECT ${alsInit.mkString(",\n    ")} FROM it),
      |${alsHalfCtes("u1", "if0", "i", "u")},
      |${alsHalfCtes("i1", "u1t", "u", "i")},
      |${alsRmseCtes("e1", "rmse1_u", "u1t", "i1t")},
      |${alsHalfCtes("u2", "i1t", "i", "u")},
      |${alsHalfCtes("i2", "u2t", "u", "i")},
      |${alsRmseCtes("e2", "rmse2_u", "u2t", "i2t")}
      |SELECT i2t.i, i2t.nk AS n_r, i2t.p0 AS if0_u, i2t.p1 AS if1_u,
      |  rmse1_u, rmse2_u
      |FROM i2t CROSS JOIN e1r CROSS JOIN e2r""".stripMargin
}
