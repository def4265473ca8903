package graft.operators

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextAnalysis => TA}

/** Event-log / warehouse behavioral analytics over the `events` table:
  * conversion funnel, cohort retention, SCD-2 change history, and
  * time-series gap-fill with forward fill. These are the workhorse
  * shapes of product analytics and feature-pipeline backfills — each is
  * expressed as a declarative plan whose shuffles are keyed on the
  * natural entity key (`user_id`), so at 100 TB every one of them scales
  * with the user count, never with a cross product:
  *
  *   - funnel: ONE map-combinable conditional-min aggregate per user,
  *     then a count over the 150/71/24/5-style stage flags — two hash
  *     aggs, the second over one row per user;
  *   - cohort: first-touch per user (hash agg) + distinct activity
  *     (hash agg) joined on user_id — both sides pre-shrunk before the
  *     join, so the shuffle carries users, not raw events;
  *   - SCD-2: two windows over the same `user_id` partitioning — the
  *     second runs on the change rows only (~the distinct-run count),
  *     and Catalyst reuses the first window's shuffle for it
  *     (same partition key, already sorted);
  *   - gap-fill: the spine generator explodes per user (bounded by each
  *     user's own [min, max] day span — no global calendar cross join),
  *     and the forward-fill window is a running `last(ignoreNulls)`
  *     over ROWS UNBOUNDED PRECEDING: O(n) state, spill-capable.
  */
object Behavior {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  private val btlIters = 3

  /** One Bradley–Terry MM round as DuckDB CTEs over the previous
    * strength relation: d_i = Σ_j n_ij/(p_i+p_j), p_i' = W_i/d_i,
    * re-normalized to mean 1 (the model only identifies ratios). */
  private def btlStepSql(k: Int): String =
    s"""d$k AS (
      |  SELECT s.i, sum(s.n / (a.p + b.p)) AS d
      |  FROM sym s JOIN p${k - 1} a ON s.i = a.i
      |  JOIN p${k - 1} b ON s.j = b.i
      |  GROUP BY 1),
      |r$k AS (SELECT w.i, w.wi / d.d AS pr
      |        FROM wins w JOIN d$k d ON w.i = d.i),
      |n$k AS (SELECT sum(pr) AS sp, count(*) AS kk FROM r$k),
      |p$k AS (SELECT r.i, r.pr * n$k.kk / n$k.sp AS p FROM r$k r, n$k)""".stripMargin

  /** Shared sessionized-lifetime derivation for the survival family
    * (q_churn_km, q_churn_logrank): 6-hour-gap sessions over the
    * user-keyed event stream, lifetime in whole minutes, honest
    * right-censoring at the corpus horizon. The CTE prefix ends at
    * `lu(cohort, lt, dead)`; [[sessionLifetimes]] is the identical
    * Spark derivation. */
  private val kmSessionCte: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_type, event_id, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |sid AS (
      |  SELECT user_id, ts, event_type, event_id, us,
      |    sum(CASE WHEN prev_us IS NULL
      |             OR us - prev_us > 21600000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM e),
      |fs AS (
      |  SELECT user_id, sid, event_type,
      |    row_number() OVER (PARTITION BY user_id, sid
      |      ORDER BY ts, event_id) AS rn
      |  FROM sid),
      |sess AS (
      |  SELECT s.user_id, s.sid, f.event_type AS cohort,
      |    min(s.us) AS first_us, max(s.us) AS last_us
      |  FROM sid s
      |  JOIN (SELECT user_id, sid, event_type FROM fs WHERE rn = 1) f
      |    USING (user_id, sid)
      |  GROUP BY 1, 2, 3),
      |h AS (SELECT max(epoch_us(ts)) AS hus FROM events),
      |lu AS (
      |  SELECT cohort, (last_us - first_us) // 60000000 AS lt,
      |    CASE WHEN last_us <= hus - 21600000000 THEN 1 ELSE 0 END
      |      AS dead
      |  FROM sess, h)""".stripMargin

  /** Spark twin of [[kmSessionCte]]: (cohort, lt, dead) per session.
    * Sessionization shares ONE hash(user_id) shuffle across the lag,
    * the running session counter, the first-event rank, and the
    * session aggregate; the horizon is a 1-row broadcast. */
  private def sessionLifetimes(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 21600000000L // 6 hours
    val wUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sid = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"),
        col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(wUser))
      .withColumn("sid",
        sum(when(col("prev_us").isNull ||
          col("us") - col("prev_us") > gapUs, 1).otherwise(0))
          .over(wUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
    val wSess = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    val first = sid
      .withColumn("rn", row_number().over(wSess))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("sid"), col("event_type").as("cohort"))
    val sess = sid.groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
      .join(first, Seq("user_id", "sid"))
    val h = t(s, dir, "events")
      .agg(max(unix_micros(col("ts"))).as("hus"))
    sess.crossJoin(broadcast(h))
      .select(col("cohort"),
        expr("(last_us - first_us) div 60000000").as("lt"),
        when(col("last_us") <= col("hus") - gapUs, 1)
          .otherwise(0).as("dead"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Funnel time-to-convert: over fully-converted users (the strictly
    // ordered funnel q_funnel counts), the average latency of every
    // stage transition in milliseconds. Same one-pass conditional-min
    // aggregate — the latency columns are arithmetic on timestamps the
    // funnel pass already produced, so the whole question costs ZERO
    // extra shuffles on top of q_funnel. Millisecond integers keep the
    // averages exact cross-engine: both engines floor each TIMESTAMP to
    // ms BEFORE differencing (floor-of-the-difference disagrees by ±1
    // whenever the two endpoints sit on different sub-ms phases — the
    // first draft failed exactly there), the per-user diffs are then
    // exact longs whose sum stays under 2^53 (exactly representable in
    // the double both engines average with), so avg is bit-identical
    // before the final floor.
    QueryDef(
      "q_funnel_latency",
      """WITH stages AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id),
        |conv AS (
        |  SELECT * FROM stages
        |  WHERE t_purchase > t_click AND t_click > t_view
        |    AND t_view > t_signup)
        |SELECT count(*) AS n_converted,
        |  CAST(floor(avg(epoch_ms(t_view) - epoch_ms(t_signup))) AS BIGINT)
        |    AS sv_ms,
        |  CAST(floor(avg(epoch_ms(t_click) - epoch_ms(t_view))) AS BIGINT)
        |    AS vc_ms,
        |  CAST(floor(avg(epoch_ms(t_purchase) - epoch_ms(t_click))) AS BIGINT)
        |    AS cp_ms,
        |  CAST(floor(avg(epoch_ms(t_purchase) - epoch_ms(t_signup))) AS BIGINT)
        |    AS sp_ms
        |FROM conv""".stripMargin) { (s, dir) =>
      val firstOf = (et: String) =>
        min(when(col("event_type") === et, col("ts"))).as(s"t_$et")
      val stages = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(firstOf("signup"), firstOf("view"), firstOf("click"),
          firstOf("purchase"))
      val conv = stages.filter(col("t_purchase") > col("t_click") &&
        col("t_click") > col("t_view") && col("t_view") > col("t_signup"))
      def ms(a: String, b: String) =
        (unix_millis(col(a)) - unix_millis(col(b))).cast("double")
      conv.agg(count(lit(1)).as("n_converted"),
        floor(avg(ms("t_view", "t_signup"))).cast("long").as("sv_ms"),
        floor(avg(ms("t_click", "t_view"))).cast("long").as("vc_ms"),
        floor(avg(ms("t_purchase", "t_click"))).cast("long").as("cp_ms"),
        floor(avg(ms("t_purchase", "t_signup"))).cast("long").as("sp_ms"))
    },

    // ------------------------------------------------------------------
    // Peak concurrency — the +1/-1 boundary sweep, the interval pattern
    // the suite's joins don't cover: treat each event as a 10-minute
    // active interval and find each type's maximum simultaneous count.
    // Deltas NET PER INSTANT first (one map-combinable aggregate), so
    // the running sum walks distinct instants and its max is
    // deterministic regardless of how ties arrive — and the sweep is one
    // keyed shuffle + per-partition sort, O(n log n) per event type. At
    // 100 TB the partition key becomes (type, day) with per-boundary
    // carry-in stitching; the sweep itself is unchanged.
    QueryDef(
      "q_peak_concurrency",
      """WITH iv AS (
        |  SELECT event_type, ts AS s, ts + INTERVAL 10 MINUTE AS e
        |  FROM events),
        |d AS (
        |  SELECT event_type, s AS t, 1 AS dl FROM iv
        |  UNION ALL
        |  SELECT event_type, e, -1 FROM iv),
        |net AS (
        |  SELECT event_type, t, CAST(sum(dl) AS BIGINT) AS net
        |  FROM d GROUP BY 1, 2),
        |run AS (
        |  SELECT event_type,
        |    sum(net) OVER (PARTITION BY event_type ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM net)
        |SELECT event_type, CAST(max(conc) AS BIGINT) AS peak
        |FROM run GROUP BY 1""".stripMargin) { (s, dir) =>
      val iv = t(s, dir, "events")
        .select(col("event_type"), col("ts").as("s"),
          col("ts") + expr("INTERVAL 10 MINUTES")).toDF("event_type", "s", "e")
      val d = iv.select(col("event_type"), col("s").as("t"), lit(1).as("dl"))
        .unionByName(iv.select(col("event_type"), col("e").as("t"),
          lit(-1).as("dl")))
      val net = d.groupBy(col("event_type"), col("t"))
        .agg(sum(col("dl")).as("net"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      net.withColumn("conc", sum(col("net")).over(w))
        .groupBy(col("event_type"))
        .agg(max(col("conc")).as("peak"))
    },

    // ------------------------------------------------------------------
    // Conversion funnel: signup → view → click → purchase, strictly
    // ordered by each user's FIRST occurrence of every stage. The
    // conditional-min aggregate is the scale-correct funnel plan: one
    // pass over events, map-side combined, one row per user — never a
    // per-stage self-join (the naive 4-way join shuffles the event table
    // once per stage).
    QueryDef(
      "q_funnel",
      """WITH stages AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT
        |  count(t_signup) AS n_signup,
        |  count(CASE WHEN t_view > t_signup THEN 1 END) AS n_view,
        |  count(CASE WHEN t_click > t_view AND t_view > t_signup
        |    THEN 1 END) AS n_click,
        |  count(CASE WHEN t_purchase > t_click AND t_click > t_view
        |    AND t_view > t_signup THEN 1 END) AS n_purchase
        |FROM stages""".stripMargin) { (s, dir) =>
      val firstOf = (et: String) =>
        min(when(col("event_type") === et, col("ts"))).as(s"t_$et")
      val stages = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(firstOf("signup"), firstOf("view"), firstOf("click"),
          firstOf("purchase"))
      // count(expr) counts non-nulls — `when` without otherwise is NULL
      // on no-match, so each stage flag mirrors the SQL CASE exactly.
      stages.agg(
        count(col("t_signup")).as("n_signup"),
        count(when(col("t_view") > col("t_signup"), 1)).as("n_view"),
        count(when(col("t_click") > col("t_view")
          && col("t_view") > col("t_signup"), 1)).as("n_click"),
        count(when(col("t_purchase") > col("t_click")
          && col("t_click") > col("t_view")
          && col("t_view") > col("t_signup"), 1)).as("n_purchase"))
    },

    // ------------------------------------------------------------------
    // Cohort retention: cohort = Monday of the user's first event week,
    // offset = whole weeks since. Both sides of the join are already
    // user-grained aggregates (first-touch; distinct active weeks), so
    // the join shuffle moves one row per user(+week), not raw events.
    // The week difference is an exact multiple of 7 days by construction
    // (both dates are week-truncated), so integer division is exact in
    // both engines — no float-cast rounding divergence.
    QueryDef(
      "q_cohort_retention",
      """WITH firsts AS (
        |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        |  FROM events)
        |SELECT cohort_week,
        |  CAST((active_week - cohort_week) / 7 AS INTEGER) AS week_offset,
        |  count(*) AS n_users
        |FROM firsts JOIN activity USING (user_id)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val firsts = ev.groupBy(col("user_id"))
        .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
      val activity = ev
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("active_week"))
        .distinct()
      firsts.join(activity, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (datediff(col("active_week"), col("cohort_week")) / lit(7))
            .cast("int").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },

    // ------------------------------------------------------------------
    // SCD-2 change history: collapse each user's event stream into
    // [valid_from, valid_to) intervals, one row per event_type RUN —
    // the slowly-changing-dimension type-2 build every warehouse runs on
    // its change feeds. Two windows, both partitioned by user_id with
    // the same (ts, event_id) order: the run-boundary lag over raw
    // events, then the lead over boundary rows only. Same partition key
    // → one shuffle, reused; the interval end needs no self-join.
    // event_id breaks ts ties deterministically on both engines.
    QueryDef(
      "q_scd2",
      """WITH ordered AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |changes AS (
        |  SELECT user_id, event_type, ts AS valid_from, event_id
        |  FROM ordered WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER
        |    (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
        |FROM changes""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val changes = t(s, dir, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("event_id"))
      val byUserFrom = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from"), col("event_id"))
      changes.select(col("user_id"), col("event_type"), col("valid_from"),
        lead(col("valid_from"), 1).over(byUserFrom).as("valid_to"))
    },

    // ------------------------------------------------------------------
    // SCD2 POINT-IN-TIME LOOKUP — the read side of q_scd2's interval
    // build, and the query every warehouse join-to-dimension actually
    // runs: attach to each purchase the dimension version valid AT ITS
    // TIMESTAMP. Because deduped versions tile each user's timeline,
    // "the version containing ts" ≡ "the last version starting ≤ ts" —
    // so the plan is the NATIVE as-of operator (plans/AsOfJoin.scala:
    // co-partitioned streaming merge, O(1) task state), not an interval
    // join: no bin fan-out, no candidate multiplication, one shuffle
    // per side. Same-instant version flaps collapse to their final
    // state (max event_id) BEFORE tiling — zero-width intervals would
    // otherwise make "containing version" ambiguous. The oracle checks
    // the same semantics via explicit interval containment.
    QueryDef(
      "q_scd2_lookup",
      """WITH ordered AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |changes AS (
        |  SELECT user_id, event_type, ts AS valid_from, event_id
        |  FROM ordered WHERE prev IS NULL OR prev <> event_type),
        |dedup AS (
        |  SELECT user_id, event_type, valid_from FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY user_id, valid_from ORDER BY event_id DESC) AS rn
        |    FROM changes) WHERE rn = 1),
        |dim AS (
        |  SELECT user_id, event_type, valid_from,
        |    lead(valid_from) OVER
        |      (PARTITION BY user_id ORDER BY valid_from) AS valid_to
        |  FROM dedup),
        |p AS (SELECT user_id, event_id AS purchase_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, d.event_type AS state_at_purchase,
        |  d.valid_from
        |FROM p JOIN dim d ON d.user_id = p.user_id
        |  AND d.valid_from <= p.ts
        |  AND (d.valid_to IS NULL OR p.ts < d.valid_to)""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val byVersion = Window.partitionBy(col("user_id"), col("valid_from"))
        .orderBy(col("event_id").desc)
      val dim = t(s, dir, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("event_id"))
        .withColumn("rn", row_number().over(byVersion))
        .filter(col("rn") === 1)
        .select(col("user_id").as("d_user"),
          col("event_type").as("state_at_purchase"), col("valid_from"))
      val p = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      graft.plans.AsOfJoin
        .asof(p, dim, "user_id", "d_user", "p_ts", "valid_from")
        .select(col("purchase_id"), col("user_id"),
          col("state_at_purchase"), col("valid_from"))
    },

    // ------------------------------------------------------------------
    // Time-series gap-fill + forward fill: per-user daily purchase
    // average, densified onto each user's own [first, last] day span and
    // carried forward across gap days. The spine is generated per user
    // from that user's bounds — there is no global calendar cross join,
    // so spine size is Σ_user span(user), proportional to the data. The
    // daily average is rounded BEFORE the fill on both engines: the fill
    // then only copies bit-identical values, so engine summation-order
    // differences cannot leak through the window. The fill itself is a
    // running last(ignoreNulls) over ROWS UNBOUNDED PRECEDING — O(1)
    // state per row, never a whole-partition buffer.
    QueryDef(
      "q_ts_fill",
      s"""WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
        |    ${Num.sql("avg(value)", 6)} AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM bounds)
        |SELECT user_id, d,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM spine LEFT JOIN daily USING (user_id, d)""".stripMargin) { (s, dir) =>
      // daily feeds two branches (the per-user bounds and the spine's
      // left-join probe) — cache so the events scan+agg runs once; at
      // 100 TB this user×day relation would persist as its own table
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("d"))
        .agg(Num.r(avg(col("value")), 6).as("v"))
        .cache()
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("d"))
      val fill = Window.partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"),
          last(col("v"), ignoreNulls = true).over(fill).as("v_filled"))
    },

    // ------------------------------------------------------------------
    // Deterministic train/valid/test split: hash the stable document id,
    // bucket mod 10, 80/10/10. The split is a pure projection — no
    // shuffle at all until the per-split audit aggregate — and because
    // the bucket is a function of the id alone, re-running the pipeline
    // on a grown corpus never reassigns an existing document (the
    // property a training pipeline actually needs from its split).
    // The md5-prefix hash is the repo's portable h32 (TextAnalysis.h32),
    // bit-identical in DuckDB.
    QueryDef(
      "q_split",
      s"""SELECT
        |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid'
        |    ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM (
        |  SELECT n_chars,
        |    ${graft.functions.TextAnalysis.h32sql("CAST(doc_id AS VARCHAR)")} % 10 AS b
        |  FROM documents)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val b = graft.functions.TextAnalysis.h32(col("doc_id").cast("string")) % 10
      t(s, dir, "documents")
        .select(col("n_chars"),
          when(b < 8, "train").when(b === 8, "valid").otherwise("test")
            .as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    },

    // ------------------------------------------------------------------
    // Deterministic global training-order shuffle + sharding — the last
    // step before a corpus is written for the trainer: every document
    // gets a pseudo-random position that is a pure FUNCTION of its id
    // and a seed (no RNG state, so the order is reproducible across
    // reruns and engines). This is the terasort shape: the 60-bit
    // id-hash IS the sort key, shard = key mod S routes each document,
    // and the within-shard order comes from chunkedRank — shards ×
    // chunks parallel sorts with broadcast prefix offsets, never one
    // task per shard. At 100 TB the same plan is the shuffle-write
    // path itself (repartition by shard, sortWithinPartitions(key) on
    // the way into the sink); S grows with the corpus while this
    // query's S=8 keeps the oracle's window tractable. Positions are
    // dense 0..n_shard-1 — exactly what a deterministic data-loader
    // resume ("skip to sample k of shard s") needs.
    QueryDef(
      "q_shuffle_global",
      s"""WITH k AS (
        |  SELECT doc_id,
        |    ${graft.functions.TextAnalysis.h60sql(
            "'shuf1:' || CAST(doc_id AS VARCHAR)")} AS key
        |  FROM documents)
        |SELECT doc_id, key % 8 AS shard,
        |  row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) - 1
        |    AS pos
        |FROM k""".stripMargin) { (s, dir) =>
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextAnalysis
            .h60(concat(lit("shuf1:"), col("doc_id").cast("string")))
            .as("key"))
        .withColumn("shard", col("key") % 8) // h60 is non-negative
      Analytics.chunkedRank(keyed, "shard", "key", Seq("doc_id"))
        .select(col("doc_id"), col("shard"), col("idx").as("pos"))
    },

    // ------------------------------------------------------------------
    // Export manifest — the integrity record written NEXT TO the
    // sharded corpus (q_shuffle_global's routing) that a data loader
    // validates before training: per shard, the document count, char
    // mass, key range, and an order-insensitive XOR checksum of the
    // 60-bit id-hashes. Every field is a map-combinable aggregate over
    // the same (key, shard) projection the shuffle write already
    // computes — the manifest rides the export pass for free. XOR is
    // the right checksum here precisely because it commutes: partition
    // order can't change it, and a single missing/duplicated/corrupted
    // doc id flips it.
    QueryDef(
      "q_export_manifest",
      s"""WITH k AS (
        |  SELECT doc_id, n_chars,
        |    ${graft.functions.TextAnalysis.h60sql(
            "'shuf1:' || CAST(doc_id AS VARCHAR)")} AS key
        |  FROM documents)
        |SELECT key % 8 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(key) AS key_lo, max(key) AS key_hi,
        |  bit_xor(key) AS checksum
        |FROM k GROUP BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          graft.functions.TextAnalysis
            .h60(concat(lit("shuf1:"), col("doc_id").cast("string")))
            .as("key"))
        .groupBy((col("key") % 8).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          min(col("key")).as("key_lo"), max(col("key")).as("key_hi"),
          bit_xor(col("key")).as("checksum"))
    },

    // ------------------------------------------------------------------
    // Deterministic source mixing — the data-mixing step of a training
    // pipeline: each source tier gets a target sampling RATE, and a
    // document survives iff its id-hash clears the rate threshold. The
    // thresholds are exact integer literals (floor(rate·2³²)) compared
    // against the 32-bit id hash, so admission is a pure integer
    // predicate — no float boundary can disagree cross-engine, and
    // re-running on a grown corpus never flips an existing document's
    // fate (same property as q_split). The whole mix is a projection +
    // one audit aggregate: filters this shape push to the scan and cost
    // nothing at 100 TB.
    QueryDef(
      "q_mix_sources",
      s"""WITH rated AS (
        |  SELECT source, n_chars,
        |    CASE WHEN CAST(substr(source, 4) AS INTEGER) < 5 THEN 4294967296
        |         WHEN CAST(substr(source, 4) AS INTEGER) < 10 THEN 2147483648
        |         WHEN CAST(substr(source, 4) AS INTEGER) < 15 THEN 1073741824
        |         ELSE 429496729 END AS thr,
        |    ${graft.functions.TextAnalysis.h32sql("CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents)
        |SELECT source,
        |  count(*) AS n_total,
        |  count(CASE WHEN h < thr THEN 1 END) AS n_kept,
        |  CAST(sum(CASE WHEN h < thr THEN n_chars END) AS BIGINT) AS kept_chars
        |FROM rated GROUP BY 1""".stripMargin) { (s, dir) =>
      // substring-to-end (2-arg SQL form), matching the oracle's
      // substr(source, 4) for suffixes of ANY length
      val idx = expr("substring(source, 4)").cast("int")
      val thr = when(idx < 5, 4294967296L).when(idx < 10, 2147483648L)
        .when(idx < 15, 1073741824L).otherwise(429496729L)
      val h = graft.functions.TextAnalysis.h32(col("doc_id").cast("string"))
      t(s, dir, "documents")
        .select(col("source"), col("n_chars"), thr.as("thr"), h.as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("h") < col("thr"), 1)).as("n_kept"),
          sum(when(col("h") < col("thr"), col("n_chars"))).as("kept_chars"))
    },

    // ------------------------------------------------------------------
    // Temperature-scaled source mixing (the multilingual-sampling rule
    // of mC4 / XLM-R: target share ∝ natural share^α, α = 0.5) — unlike
    // q_mix_sources' FIXED rates, the rates here are computed FROM the
    // corpus. Downsampling-only rebalance: rate_s = (share_s^(α-1)) /
    // (share_min^(α-1)) which at α=½ collapses to √(chars_min/chars_s)
    // — ONE IEEE sqrt of a ratio of two exact BIGINTs, so the rate (and
    // the 2^32-scaled integer threshold floor'd from it) is bitwise
    // reproducible cross-engine with no rounding armor needed.
    // Scale shape: pass 1 is a map-combinable per-source char count
    // (|sources| rows); the thresholds broadcast back onto the corpus
    // scan, and the keep decision is a pushable hash-compare projection
    // — the corpus never shuffles by source (the window-over-source
    // alternative would put the whole 100 TB through one skewed
    // exchange). Keep-set membership is h32(doc_id) < thr: a doc's fate
    // is a pure function of its id and the histogram, stable under
    // repartitioning, re-runs, and incremental appends of OTHER sources.
    QueryDef(
      "q_mix_temperature",
      s"""WITH sc AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1),
        |mn AS (SELECT min(chars) AS mc FROM sc),
        |thr AS (
        |  SELECT source, chars,
        |    CAST(floor(sqrt(CAST(mc AS DOUBLE) / chars) * 4294967296e0)
        |      AS BIGINT) AS t
        |  FROM sc, mn),
        |d AS (
        |  SELECT source, n_chars,
        |    ${graft.functions.TextAnalysis.h32sql("CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents)
        |SELECT d.source, t.t AS thr,
        |  count(*) AS n_total,
        |  count(CASE WHEN d.h < t.t THEN 1 END) AS n_kept,
        |  CAST(sum(CASE WHEN d.h < t.t THEN d.n_chars END) AS BIGINT)
        |    AS kept_chars
        |FROM d JOIN thr t ON d.source = t.source
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sc = docs.groupBy(col("source"))
        .agg(sum(col("n_chars")).as("chars"))
      val mn = sc.agg(min(col("chars")).as("mc"))
      val thr = sc.crossJoin(broadcast(mn))
        .select(col("source"),
          floor(sqrt(col("mc").cast("double") / col("chars")) *
            lit(4294967296.0)).cast("long").as("thr"))
      val h = graft.functions.TextAnalysis.h32(col("doc_id").cast("string"))
      docs.select(col("source"), col("n_chars"), h.as("h"))
        .join(broadcast(thr), "source")
        .groupBy(col("source"), col("thr"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("h") < col("thr"), 1)).as("n_kept"),
          sum(when(col("h") < col("thr"), col("n_chars"))).as("kept_chars"))
    },

    // ------------------------------------------------------------------
    // Largest-remainder (Hamilton) apportionment — allocate a FIXED
    // integer budget of training slots across sources exactly
    // proportionally to their char mass: quota = ⌊N·w/W⌋ first, then
    // the R = N − Σ⌊…⌋ leftover slots go to the largest fractional
    // remainders. Unlike the rate-based mixers above, the output is
    // GUARANTEED to sum to exactly N — what a batch scheduler or a
    // fixed-token-budget data mix actually needs. All arithmetic is
    // exact BIGINT (remainder comparison is N·w mod W — no division
    // ever happens), ties break on source name, so both engines agree
    // bit-for-bit. Scale shape: the corpus contributes ONE map-
    // combinable per-source char count; everything after runs on
    // |sources| rows (bounded by schema, not scale — the unpartitioned
    // window is 6 rows). N·w needs headroom: at 100 TB-scale char
    // masses move the quota math to DECIMAL(38,0) — the sf-bounded
    // BIGINT form here keeps the oracle exact.
    QueryDef(
      "q_mix_allocate",
      """WITH sc AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(chars) AS BIGINT) AS w FROM sc),
        |q AS (
        |  SELECT source, chars,
        |    (100000 * chars) // w AS quota,
        |    (100000 * chars) % w AS rem
        |  FROM sc, tot),
        |r AS (
        |  SELECT source, chars, quota, rem,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    100000 - sum(quota) OVER () AS leftover
        |  FROM q)
        |SELECT source, chars, quota,
        |  quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
        |FROM r""".stripMargin) { (s, dir) =>
      val sc = t(s, dir, "documents")
        .groupBy(col("source")).agg(sum(col("n_chars")).as("chars"))
      val tot = sc.agg(sum(col("chars")).as("w"))
      val q = sc.crossJoin(broadcast(tot))
        .select(col("source"), col("chars"),
          // `div`, not `/`: Column./ on longs is DOUBLE true-division,
          // and a near-boundary quotient could round across the floor
          expr("(100000 * chars) div w").as("quota"),
          ((lit(100000L) * col("chars")) % col("w")).as("rem"))
      val all = Window.partitionBy()
      val r = q.select(col("source"), col("chars"), col("quota"), col("rem"),
        row_number().over(all.orderBy(col("rem").desc, col("source")))
          .as("rk"),
        (lit(100000L) - sum(col("quota")).over(all)).as("leftover"))
      r.select(col("source"), col("chars"), col("quota"),
        (col("quota") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
    },

    // ------------------------------------------------------------------
    // Source-concentration audit — the one-row imbalance alarm a mixing
    // pipeline gates on: Gini coefficient (sorted-rank formula), HHI
    // (Herfindahl–Hirschman index), and the top source's share, over
    // per-source character mass. A mix drifting toward one crawl shows
    // up here before it shows up in model behavior. Everything derives
    // from EXACT integer aggregates (mass, rank-weighted mass, squared
    // mass — all < 2^53, so the final few float ops run on identical
    // operands in both engines); the sort-rank runs over the SOURCES
    // relation (schema-bounded), and Σi·x is tie-insensitive because
    // equal masses commute. The corpus cost is one map-combinable sum.
    QueryDef(
      "q_mix_gini",
      s"""WITH sc AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS x
        |  FROM documents GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM sc),
        |a AS (
        |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s1,
        |    CAST(sum(i * x) AS BIGINT) AS s2,
        |    CAST(sum(x * x) AS BIGINT) AS sq, max(x) AS mx
        |  FROM r)
        |SELECT n AS n_sources, s1 AS total_chars,
        |  ${Num.sql("(2e0 * s2) / (n * s1) - (n + 1) * 1e0 / n", 6)} AS gini,
        |  ${Num.sql("sq * 1e0 / (s1 * s1)", 6)} AS hhi,
        |  ${Num.sql("mx * 1e0 / s1", 6)} AS top_share
        |FROM a""".stripMargin) { (s, dir) =>
      val sc = t(s, dir, "documents")
        .groupBy(col("source")).agg(sum(col("n_chars")).as("x"))
      val r = sc.select(col("x"),
        row_number().over(Window.orderBy(col("x"), col("source"))).as("i"))
      r.agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(col("i") * col("x")).as("s2"),
          sum(col("x") * col("x")).as("sq"), max(col("x")).as("mx"))
        .select(col("n").as("n_sources"), col("s1").as("total_chars"),
          Num.r(lit(2e0) * col("s2") / (col("n") * col("s1")) -
            (col("n") + 1) * lit(1e0) / col("n"), 6).as("gini"),
          Num.r(col("sq") * lit(1e0) / (col("s1") * col("s1")), 6).as("hhi"),
          Num.r(col("mx") * lit(1e0) / col("s1"), 6).as("top_share"))
    },

    // ------------------------------------------------------------------
    // The per-source corpus health report — the dashboard query a
    // curator runs daily: volume, exact-duplicate rate, language mix
    // entropy, and token-length profile, per source, in one output.
    // Every signal is a map-combinable aggregate: the dup rate rides
    // count(distinct md5(text)) (two-phase partial agg — the md5 is
    // computed scan-side, full text never shuffles), and the language
    // entropy comes from the tiny (source, lang) cell table re-joined
    // ------------------------------------------------------------------
    // Balanced eval-set builder — EXACTLY k documents per (source, lang)
    // stratum, chosen by deterministic hash rank: unlike q_sample_
    // stratified's seeded Bernoulli (rate-based, count varies, rows
    // engine-specific), this picks the k smallest h60(id) per stratum —
    // a pure function of the ids, so the selected ROWS hash-check
    // cross-engine and survive corpus growth for the documents that
    // stay (a doc leaves the eval set only when a smaller-hash doc
    // enters its stratum). One window on the (source, lang) stratum
    // key; strata are schema-bounded, and at extreme per-stratum
    // volume the same selection runs as graft_topk over negated hashes
    // (the bounded-state twin q_agg_sort2 pins).
    QueryDef(
      "q_sample_eval",
      s"""WITH h AS (
        |  SELECT source, lang, doc_id,
        |    ${graft.functions.TextAnalysis.h60sql(
            "'eval1:' || CAST(doc_id AS VARCHAR)")} AS hk
        |  FROM documents),
        |r AS (
        |  SELECT source, lang, doc_id,
        |    row_number() OVER (PARTITION BY source, lang
        |      ORDER BY hk, doc_id) AS rk
        |  FROM h)
        |SELECT source, lang, doc_id, rk FROM r WHERE rk <= 5""".stripMargin) {
      (s, dir) =>
      val w = Window.partitionBy(col("source"), col("lang"))
        .orderBy(col("hk"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("lang"), col("doc_id"),
          graft.functions.TextAnalysis
            .h60(concat(lit("eval1:"), col("doc_id").cast("string")))
            .as("hk"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("source"), col("lang"), col("doc_id"), col("rk"))
    },

    // ------------------------------------------------------------------
    // Bounded-horizon EWMA (α = ½) per user — the time-series smoothing
    // primitive next to gap-fill and the anomaly detectors. The
    // textbook EWMA is a sequential recurrence no window aggregate
    // expresses directly; with α = ½ the weights are EXACT powers of
    // two, so a 16-tap lag comb (Σ lag_k·2⁻ᵏ / Σ_available 2⁻ᵏ,
    // missing history renormalized away) reproduces it to 2⁻¹⁶
    // truncation with a FIXED-SHAPE expression — same 16 terms, same
    // fold order, bit-identical in both engines since every weight and
    // every product is exact-double arithmetic. One window on
    // high-cardinality user_id; the comb itself is codegen inside the
    // window projection.
    QueryDef(
      "q_window_ewma",
      s"""WITH w AS (
        |  SELECT user_id, event_id, "value",
        |    ${(0 until 16).map(k =>
              s"""lag("value", $k) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS l$k""").mkString(",\n        |    ")}
        |  FROM events WHERE user_id < 20)
        |SELECT user_id, event_id,
        |  ${Num.sql(
            (0 until 16).map(k =>
              s"coalesce(l$k * ${java.math.BigDecimal.valueOf(0.5)
                .pow(k).toPlainString}e0, 0e0)").mkString(" + "), 6)}
        |    AS comb,
        |  ${Num.sql(
            "(" + (0 until 16).map(k =>
              s"coalesce(l$k * ${java.math.BigDecimal.valueOf(0.5)
                .pow(k).toPlainString}e0, 0e0)").mkString(" + ") + ") / (" +
            (0 until 16).map(k =>
              s"CASE WHEN l$k IS NOT NULL THEN ${java.math.BigDecimal
                .valueOf(0.5).pow(k).toPlainString}e0 ELSE 0e0 END")
              .mkString(" + ") + ")", 6)} AS ewma
        |FROM w""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val lags = (0 until 16).map(k => lag(col("value"), k).over(w).as(s"l$k"))
      val base = t(s, dir, "events").filter(col("user_id") < 20)
        .select(col("user_id") +: col("event_id") +: lags: _*)
      val wt = (0 until 16).map(k => math.pow(0.5, k))
      val comb = (0 until 16).map(k =>
        coalesce(col(s"l$k") * lit(wt(k)), lit(0e0))).reduce(_ + _)
      val wsum = (0 until 16).map(k =>
        when(col(s"l$k").isNotNull, lit(wt(k))).otherwise(lit(0e0)))
        .reduce(_ + _)
      base.select(col("user_id"), col("event_id"),
        Num.r(comb, 6).as("comb"),
        Num.r(comb / wsum, 6).as("ewma"))
    },

    // ------------------------------------------------------------------
    // Population-stability drift report (PSI) — the monitoring metric a
    // production corpus pipeline alarms on between snapshots: per
    // source, PSI = Σ (p_b − q_b)·ln(p_b/q_b) over length buckets,
    // comparing two deterministically derived snapshot halves. The
    // whole metric derives from EXACT integer bucket counts in ONE
    // map-combinable aggregate (conditional counts per half — no join
    // between snapshots, no second corpus pass), +1-smoothed over the
    // observed bucket set so empty cells can't divide by zero; the
    // tiny per-source totals broadcast back onto the bucket rows. Both
    // engines run the identical double formula on identical integers;
    // Num-rounding armors the final sum. At 100 TB the only corpus
    // cost is the one bucketing scan — PSI itself runs on
    // sources×buckets rows.
    QueryDef(
      "q_drift_psi",
      s"""WITH b AS (
        |  SELECT source,
        |    ${graft.functions.TextAnalysis.h32sql(
             "'ks:' || CAST(doc_id AS VARCHAR)")} % 2 AS half,
        |    least(n_chars // 100, 4) AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT source, bucket,
        |    count(CASE WHEN half = 0 THEN 1 END) AS c0,
        |    count(CASE WHEN half = 1 THEN 1 END) AS c1
        |  FROM b GROUP BY 1, 2),
        |tot AS (
        |  SELECT source, CAST(sum(c0) AS BIGINT) AS n0,
        |    CAST(sum(c1) AS BIGINT) AS n1, count(*) AS k
        |  FROM c GROUP BY 1),
        |pq AS (
        |  SELECT c.source,
        |    (c0 + 1) * 1e0 / (n0 + k) AS p,
        |    (c1 + 1) * 1e0 / (n1 + k) AS q,
        |    n0, n1
        |  FROM c JOIN tot ON c.source = tot.source)
        |SELECT source, min(n0) AS n0, min(n1) AS n1,
        |  ${Num.sql("sum((p - q) * ln(p / q))", 6)} AS psi
        |FROM pq GROUP BY 1""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "documents")
        // hash-derived half (not parity): the testdata's source is a
        // function of doc_id mod 20, so parity halves are degenerate —
        // one empty half per source would make every PSI a vacuous
        // max-drift reading (same fix as q_drift_ks; shared salt "ks:")
        .select(col("source"),
          (graft.functions.TextAnalysis.h32(
            concat(lit("ks:"), col("doc_id").cast("string"))) % 2).as("half"),
          least(expr("n_chars div 100"), lit(4L)).as("bucket"))
        .groupBy(col("source"), col("bucket"))
        .agg(count(when(col("half") === 0, 1)).as("c0"),
          count(when(col("half") === 1, 1)).as("c1"))
      val tot = c.groupBy(col("source"))
        .agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
          count(lit(1)).as("k"))
      val p = (col("c0") + 1) * lit(1e0) / (col("n0") + col("k"))
      val q = (col("c1") + 1) * lit(1e0) / (col("n1") + col("k"))
      c.join(broadcast(tot), "source")
        .select(col("source"), p.as("p"), q.as("q"), col("n0"), col("n1"))
        .groupBy(col("source"))
        .agg(min(col("n0")).as("n0"), min(col("n1")).as("n1"),
          Num.r(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6)
            .as("psi"))
    },

    // ------------------------------------------------------------------
    // Two-sample Kolmogorov–Smirnov drift statistic — PSI's
    // nonparametric sibling: per source, D = sup_x |F₀(x) − F₁(x)|
    // between the two snapshot halves' length distributions. Where PSI
    // needs a bucketing choice, KS compares the full empirical CDFs —
    // the detector a curation pipeline runs when it cannot assume where
    // drift will show up. EXACT, no approximation: counts per distinct
    // value are ONE map-combinable aggregate (the only corpus pass);
    // the CDFs are running sums over the (source × distinct-value)
    // relation, whose size is bounded by the VALUE DOMAIN, not the
    // corpus — doc-length-style metrics have a bounded domain (or get
    // pre-binned), so the window input stays tiny at 100 TB. Sources
    // with an empty half are excluded (KS undefined), symmetrically on
    // both engines, rather than emitting an engine-dependent inf.
    QueryDef(
      "q_drift_ks",
      s"""WITH g AS (
        |  SELECT source, n_chars AS x,
        |    count(CASE WHEN ${graft.functions.TextAnalysis.h32sql(
             "'ks:' || CAST(doc_id AS VARCHAR)")} % 2 = 0 THEN 1 END) AS ca,
        |    count(CASE WHEN ${graft.functions.TextAnalysis.h32sql(
             "'ks:' || CAST(doc_id AS VARCHAR)")} % 2 = 1 THEN 1 END) AS cb
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT source, x,
        |    sum(ca) OVER (PARTITION BY source ORDER BY x) AS fa,
        |    sum(cb) OVER (PARTITION BY source ORDER BY x) AS fb,
        |    sum(ca) OVER (PARTITION BY source) AS na,
        |    sum(cb) OVER (PARTITION BY source) AS nb
        |  FROM g),
        |c2 AS (SELECT * FROM c WHERE na > 0 AND nb > 0)
        |SELECT source, CAST(min(na) AS BIGINT) AS n0,
        |  CAST(min(nb) AS BIGINT) AS n1,
        |  ${Num.sql("max(abs(fa * 1e0 / na - fb * 1e0 / nb))", 6)} AS ks
        |FROM c2 GROUP BY 1""".stripMargin) { (s, dir) =>
      // halves split by an id HASH, not parity: the testdata's source IS
      // a function of doc_id mod 20, so raw parity is constant per
      // source and the "snapshots" would be vacuously disjoint
      val half = graft.functions.TextAnalysis.h32(
        concat(lit("ks:"), col("doc_id").cast("string"))) % 2
      val g = t(s, dir, "documents")
        .groupBy(col("source"), col("n_chars").as("x"))
        .agg(count(when(half === 0, 1)).as("ca"),
          count(when(half === 1, 1)).as("cb"))
      val wRun = Window.partitionBy(col("source")).orderBy(col("x"))
      val wAll = Window.partitionBy(col("source"))
      g.select(col("source"),
          sum(col("ca")).over(wRun).as("fa"),
          sum(col("cb")).over(wRun).as("fb"),
          sum(col("ca")).over(wAll).as("na"),
          sum(col("cb")).over(wAll).as("nb"))
        // drop empty-half sources BEFORE the division: KS is undefined
        // there, and ANSI mode rightly refuses the inf the naive plan
        // would produce
        .filter(col("na") > 0 && col("nb") > 0)
        .groupBy(col("source"))
        .agg(min(col("na")).as("n0"), min(col("nb")).as("n1"),
          Num.r(max(abs(col("fa") * lit(1e0) / col("na") -
            col("fb") * lit(1e0) / col("nb"))), 6).as("ks"))
    },

    // ------------------------------------------------------------------
    // Mann–Whitney U — the rank-based member of the drift family (PSI =
    // binned divergence, KS = CDF distance, U = stochastic dominance):
    // per source, U counts how often a half-0 length exceeds a half-1
    // length (ties half-weighted), and U/(n0·n1) is the common-language
    // effect size P(X > Y) + ½P(X = Y) — the "are the new documents
    // systematically longer?" alarm. EXACT with tied data and EXACTLY
    // cross-engine: midranks are computed in DOUBLED integer units
    // (2·rank is always whole), so the rank sum is an order-free integer
    // aggregate — no float fold anywhere before the final two divisions.
    // Same scale shape as q_drift_ks: one map-combinable counts pass,
    // then windows over the bounded distinct-value domain.
    QueryDef(
      "q_drift_mwu",
      s"""WITH g AS (
        |  SELECT source, n_chars AS x,
        |    count(CASE WHEN ${graft.functions.TextAnalysis.h32sql(
             "'ks:' || CAST(doc_id AS VARCHAR)")} % 2 = 0 THEN 1 END) AS ca,
        |    count(CASE WHEN ${graft.functions.TextAnalysis.h32sql(
             "'ks:' || CAST(doc_id AS VARCHAR)")} % 2 = 1 THEN 1 END) AS cb
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT source, ca, cb,
        |    sum(ca + cb) OVER (PARTITION BY source ORDER BY x)
        |      - (ca + cb) AS pre
        |  FROM g),
        |u AS (
        |  SELECT source,
        |    CAST(sum(ca) AS BIGINT) AS n0, CAST(sum(cb) AS BIGINT) AS n1,
        |    CAST(sum(ca * (2 * pre + ca + cb + 1)) AS BIGINT) AS r2a
        |  FROM c GROUP BY 1)
        |SELECT source, n0, n1,
        |  ${Num.sql("(r2a - n0 * (n0 + 1)) / 2e0", 1)} AS u,
        |  ${Num.sql("(r2a - n0 * (n0 + 1)) / (2e0 * n0 * n1)", 6)} AS cles
        |FROM u WHERE n0 > 0 AND n1 > 0""".stripMargin) { (s, dir) =>
      val half = graft.functions.TextAnalysis.h32(
        concat(lit("ks:"), col("doc_id").cast("string"))) % 2
      val g = t(s, dir, "documents")
        .groupBy(col("source"), col("n_chars").as("x"))
        .agg(count(when(half === 0, 1)).as("ca"),
          count(when(half === 1, 1)).as("cb"))
      val wRun = Window.partitionBy(col("source")).orderBy(col("x"))
      g.select(col("source"), col("ca"), col("cb"),
          (sum(col("ca") + col("cb")).over(wRun) - (col("ca") + col("cb")))
            .as("pre"))
        .groupBy(col("source"))
        .agg(sum(col("ca")).as("n0"), sum(col("cb")).as("n1"),
          sum(col("ca") * (lit(2) * col("pre") + col("ca") + col("cb") + 1))
            .as("r2a"))
        .filter(col("n0") > 0 && col("n1") > 0)
        .select(col("source"), col("n0"), col("n1"),
          Num.r((col("r2a") - col("n0") * (col("n0") + 1)) / lit(2e0), 1)
            .as("u"),
          Num.r((col("r2a") - col("n0") * (col("n0") + 1)) /
            (lit(2e0) * col("n0") * col("n1")), 6).as("cles"))
    },

    // ------------------------------------------------------------------
    // 1-D Wasserstein-1 (earth-mover) drift distance — the fourth
    // member of the drift family, and the one with UNITS: where KS
    // reports the worst CDF gap and MWU a dominance probability, W₁ =
    // ∫|F₀−F₁| measures how many characters of mass must MOVE to turn
    // one length distribution into the other — the metric that ranks
    // "everything shifted 5% longer" above "one bucket wiggled", which
    // is exactly the drift a token-budgeted pipeline cares about. The
    // integral is exact on the empirical staircases: between
    // consecutive observed lengths the CDFs are constant, so W₁ =
    // Σ |F₀(x)−F₁(x)|·(next_x − x) over the distinct-value relation.
    // EXACT INTEGER end to end: the gap term cross-multiplies to
    // |fa·n₁ − fb·n₀|·gap (BIGINT — fits while n₀·n₁·maxlen < 2⁶³,
    // i.e. to ~10⁸ docs/source; past that the same plan runs on
    // µ-quantized CDFs), and the output is integer µ-units via DIV.
    // Scale shape identical to q_drift_ks: ONE map-combinable counts
    // pass over the corpus; windows run on the bounded distinct-value
    // domain. Sources with an empty half are excluded symmetrically.
    QueryDef(
      "q_drift_wasserstein",
      s"""WITH g AS (
        |  SELECT source, n_chars AS x,
        |    count(CASE WHEN ${graft.functions.TextAnalysis.h32sql(
             "'ks:' || CAST(doc_id AS VARCHAR)")} % 2 = 0 THEN 1 END) AS ca,
        |    count(CASE WHEN ${graft.functions.TextAnalysis.h32sql(
             "'ks:' || CAST(doc_id AS VARCHAR)")} % 2 = 1 THEN 1 END) AS cb
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT source, x,
        |    sum(ca) OVER (PARTITION BY source ORDER BY x) AS fa,
        |    sum(cb) OVER (PARTITION BY source ORDER BY x) AS fb,
        |    sum(ca) OVER (PARTITION BY source) AS na,
        |    sum(cb) OVER (PARTITION BY source) AS nb,
        |    lead(x, 1, x) OVER (PARTITION BY source ORDER BY x) AS nx
        |  FROM g),
        |w AS (
        |  SELECT source, CAST(min(na) AS BIGINT) AS n0,
        |    CAST(min(nb) AS BIGINT) AS n1,
        |    CAST(sum(abs(fa * nb - fb * na) * (nx - x)) AS BIGINT) AS num
        |  FROM c WHERE na > 0 AND nb > 0 GROUP BY 1)
        |SELECT source, n0, n1,
        |  CAST((num * 1000000) // (n0 * n1) AS BIGINT) AS w1_u
        |FROM w""".stripMargin) { (s, dir) =>
      val half = graft.functions.TextAnalysis.h32(
        concat(lit("ks:"), col("doc_id").cast("string"))) % 2
      val g = t(s, dir, "documents")
        .groupBy(col("source"), col("n_chars").as("x"))
        .agg(count(when(half === 0, 1)).as("ca"),
          count(when(half === 1, 1)).as("cb"))
      val wRun = Window.partitionBy(col("source")).orderBy(col("x"))
      val wAll = Window.partitionBy(col("source"))
      g.select(col("source"), col("x"),
          sum(col("ca")).over(wRun).as("fa"),
          sum(col("cb")).over(wRun).as("fb"),
          sum(col("ca")).over(wAll).as("na"),
          sum(col("cb")).over(wAll).as("nb"),
          lead(col("x"), 1).over(wRun).as("nxr"))
        .filter(col("na") > 0 && col("nb") > 0)
        // last observed x: both CDFs are complete, |F0-F1| = 0, so the
        // default gap of 0 (nx = x) drops the row's term exactly as the
        // oracle's lead(x, 1, x) does
        .withColumn("nx", coalesce(col("nxr"), col("x")))
        .groupBy(col("source"))
        .agg(min(col("na")).cast("long").as("n0"),
          min(col("nb")).cast("long").as("n1"),
          sum(abs(col("fa") * col("nb") - col("fb") * col("na")) *
            (col("nx") - col("x"))).cast("long").as("num"))
        .select(col("source"), col("n0"), col("n1"),
          expr("CAST((num * 1000000) DIV (n0 * n1) AS BIGINT)").as("w1_u"))
    },

    // ------------------------------------------------------------------
    // DRIFT FROM SKETCHES — the 100 TB composition the drift family
    // builds toward: W₁ between two snapshot halves computed from
    // their KLL QUANTILE SKETCHES (a few hundred weighted rows per
    // side) instead of the corpus-rescan staircase — the monitoring
    // pipeline shape where yesterday's sketch table is all that
    // remains of yesterday. The query runs BOTH paths: the exact
    // integer W₁ (the q_drift_wasserstein machinery, oracle-checked
    // for real) and the sketch estimate (the same cross-multiplied
    // CDF algebra over the exploded weighted samples), then asserts
    // the SHARP property a monitor needs: a true +200-char shift
    // planted in three sources (the q_stats_fdr projection) must rank
    // the SAME top-3 drifting sources under the estimate as under the
    // truth — an ordering verdict the ±ε rank noise provably cannot
    // flip (the planted gap is orders above the k=256 sketch error).
    // Corpus cost: ONE counts pass for the exact side (dropped in
    // production where the sketch tables already exist) + ONE sketch
    // pass; everything else is sketch-sized.
    QueryDef(
      "q_drift_kll",
      s"""WITH g AS (
        |  SELECT source, n_chars +
        |    CASE WHEN source IN ('src0', 'src1', 'src2') AND
        |      ${graft.functions.TextAnalysis.h32sql(
             "'ks:' || CAST(doc_id AS VARCHAR)")} % 2 = 0
        |      THEN 200 ELSE 0 END AS x,
        |    ${graft.functions.TextAnalysis.h32sql(
             "'ks:' || CAST(doc_id AS VARCHAR)")} % 2 AS half
        |  FROM documents),
        |c AS (
        |  SELECT source, x,
        |    count(CASE WHEN half = 0 THEN 1 END) AS ca,
        |    count(CASE WHEN half = 1 THEN 1 END) AS cb
        |  FROM g GROUP BY 1, 2),
        |w AS (
        |  SELECT source, x,
        |    sum(ca) OVER (PARTITION BY source ORDER BY x) AS fa,
        |    sum(cb) OVER (PARTITION BY source ORDER BY x) AS fb,
        |    sum(ca) OVER (PARTITION BY source) AS na,
        |    sum(cb) OVER (PARTITION BY source) AS nb,
        |    lead(x, 1, x) OVER (PARTITION BY source ORDER BY x) AS nx
        |  FROM c),
        |agg AS (
        |  SELECT source, CAST(min(na) AS BIGINT) AS n0,
        |    CAST(min(nb) AS BIGINT) AS n1,
        |    CAST(sum(abs(fa * nb - fb * na) * (nx - x)) AS BIGINT) AS num
        |  FROM w WHERE na > 0 AND nb > 0 GROUP BY 1)
        |SELECT source, n0, n1,
        |  CAST((num * 1000000) // (n0 * n1) AS BIGINT) AS w1_u,
        |  true AS ok
        |FROM agg""".stripMargin) { (s, dir) =>
      val half = graft.functions.TextAnalysis.h32(
        concat(lit("ks:"), col("doc_id").cast("string"))) % 2
      val docs = t(s, dir, "documents")
        .select(col("source"),
          (col("n_chars").cast("long") +
            when(col("source").isin("src0", "src1", "src2") &&
              half === 0, 200L).otherwise(0L)).as("x"),
          half.as("half"))
        .localCheckpoint() // exact + sketch consumers
      // exact side: the q_drift_wasserstein integer staircase
      val cExact = docs
        .groupBy(col("source"), col("x"))
        .agg(count(when(col("half") === 0, 1)).as("ca"),
          count(when(col("half") === 1, 1)).as("cb"))
      val wRun = Window.partitionBy(col("source")).orderBy(col("x"))
      val wAll = Window.partitionBy(col("source"))
      val exact = cExact.select(col("source"), col("x"),
          sum(col("ca")).over(wRun).as("fa"),
          sum(col("cb")).over(wRun).as("fb"),
          sum(col("ca")).over(wAll).as("na"),
          sum(col("cb")).over(wAll).as("nb"),
          coalesce(lead(col("x"), 1).over(wRun), col("x")).as("nx"))
        .filter(col("na") > 0 && col("nb") > 0)
        .groupBy(col("source"))
        .agg(min(col("na")).cast("long").as("n0"),
          min(col("nb")).cast("long").as("n1"),
          sum(abs(col("fa") * col("nb") - col("fb") * col("na")) *
            (col("nx") - col("x"))).cast("long").as("num"))
        .select(col("source"), col("n0"), col("n1"),
          expr("CAST((num * 1000000) DIV (n0 * n1) AS BIGINT)")
            .as("w1_u"))
      // sketch side: the same algebra over the two weighted samples
      val sk = docs.groupBy(col("source"), col("half"))
        .agg(expr("graft_kll(x, 256)").as("s"), count(lit(1)).as("n"))
      val pairs = sk
        .select(col("source"), col("half"), col("n"),
          explode(col("s")).as("p"))
        .select(col("source"), col("half"), col("n"),
          col("p.value").as("v"), col("p.weight").as("w"))
      val cells = pairs.groupBy(col("source"), col("v"))
        .agg(sum(when(col("half") === 0, col("w"))).as("wa0"),
          sum(when(col("half") === 1, col("w"))).as("wb0"),
          max(when(col("half") === 0, col("n"))).as("na0"),
          max(when(col("half") === 1, col("n"))).as("nb0"))
        .select(col("source"), col("v"),
          coalesce(col("wa0"), lit(0L)).as("wa"),
          coalesce(col("wb0"), lit(0L)).as("wb"),
          col("na0"), col("nb0"))
      val wRunV = Window.partitionBy(col("source")).orderBy(col("v"))
      val wAllV = Window.partitionBy(col("source"))
      val est = cells.select(col("source"), col("v"),
          sum(col("wa")).over(wRunV).as("fa"),
          sum(col("wb")).over(wRunV).as("fb"),
          max(col("na0")).over(wAllV).as("na"),
          max(col("nb0")).over(wAllV).as("nb"),
          coalesce(lead(col("v"), 1).over(wRunV), col("v")).as("nx"))
        .filter(col("na") > 0 && col("nb") > 0)
        .groupBy(col("source"))
        .agg(min(col("na")).as("na"), min(col("nb")).as("nb"),
          sum(abs(col("fa") * col("nb") - col("fb") * col("na")) *
            (col("nx") - col("v"))).cast("long").as("enum"))
        .select(col("source"),
          expr("CAST((enum * 1000000) DIV (na * nb) AS BIGINT)")
            .as("est_u"))
      // ordering verdict: top-3 by estimate == top-3 by truth
      val joined = exact.join(est, "source")
      val wE = Window.orderBy(col("w1_u").desc, col("source"))
      val wS = Window.orderBy(col("est_u").desc, col("source"))
      joined
        .withColumn("rk_exact", row_number().over(wE))
        .withColumn("rk_est", row_number().over(wS))
        .select(col("source"), col("n0"), col("n1"), col("w1_u"),
          ((col("rk_exact") <= 3) === (col("rk_est") <= 3)).as("ok"))
    },

    // ------------------------------------------------------------------
    // The per-source corpus health report — the dashboard query a
    // curator runs daily: volume, exact-duplicate rate, language mix
    // entropy, and token-length profile, per source, in one output.
    // Every signal is a map-combinable aggregate: the dup rate rides
    // count(distinct md5(text)) (two-phase partial agg — the md5 is
    // computed scan-side, full text never shuffles), and the language
    // entropy comes from the tiny (source, lang) cell table re-joined
    // broadcast — the corpus is scanned twice (once per grain), both
    // times scan-local. Entropy terms are ≤ |langs| doubles per source;
    // Num-rounding absorbs the summation-order jitter (same contract
    // as every float aggregate here).
    QueryDef(
      "q_curate_report",
      s"""WITH base AS (
        |  SELECT source, lang, n_chars,
        |    md5(text) AS h, len(string_split(text, ' ')) AS toks
        |  FROM documents),
        |cells AS (SELECT source, lang, count(*) AS c FROM base GROUP BY 1, 2),
        |ent AS (
        |  SELECT source,
        |    sum(-(c * 1.0 / n) * log2(c * 1.0 / n)) AS entropy
        |  FROM (SELECT source, lang, c, sum(c) OVER (PARTITION BY source) AS n
        |        FROM cells)
        |  GROUP BY 1)
        |SELECT b.source,
        |  count(*) AS n_docs,
        |  CAST(sum(b.n_chars) AS BIGINT) AS chars,
        |  count(*) - count(DISTINCT b.h) AS n_dup,
        |  count(DISTINCT b.lang) AS n_langs,
        |  ${Num.sql("max(e.entropy)", 6)} AS lang_entropy,
        |  ${Num.sql("avg(b.toks)", 4)} AS avg_toks
        |FROM base b JOIN ent e ON b.source = e.source
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          md5(col("text")).as("h"),
          size(split(col("text"), " ")).as("toks"))
      val cells = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val tot = cells.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val p = col("c") * lit(1.0) / col("n")
      val ent = cells.join(broadcast(tot), "source")
        .groupBy(col("source"))
        .agg(sum(-p * log2(p)).as("entropy"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dup"),
          countDistinct(col("lang")).as("n_langs"),
          Num.r(avg(col("toks")), 4).as("avg_toks"))
        .join(broadcast(ent), "source")
        .select(col("source"), col("n_docs"), col("chars"), col("n_dup"),
          col("n_langs"), Num.r(col("entropy"), 6).as("lang_entropy"),
          col("avg_toks"))
    },

    // ------------------------------------------------------------------
    // Trailing 7-day active users per day (the product-analytics WAU
    // curve). The scale-correct plan is NOT a range join or a sliding
    // window over raw events: distinct (user, day) first (hash agg —
    // the fan-in), then each active day contributes to exactly 7 target
    // days via a BOUNDED explode, and the trailing distinct collapses in
    // one count-distinct per day. Shuffle volume is 7·|user-days|,
    // independent of raw event count — the same bounded-fan-out trick as
    // the binned interval join (q_join_range2).
    QueryDef(
      "q_active_trailing",
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        |  FROM events),
        |expanded AS (
        |  SELECT user_id, d + CAST(o AS INTEGER) AS day
        |  FROM act, (SELECT unnest(range(0, 7)) AS o))
        |SELECT day, count(DISTINCT user_id) AS wau
        |FROM expanded
        |WHERE day <= (SELECT max(CAST(date_trunc('day', ts) AS DATE))
        |              FROM events)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val act = ev.select(col("user_id"),
        to_date(date_trunc("day", col("ts"))).as("d")).distinct()
      // the horizon stays IN-PLAN (like the oracle's scalar subquery):
      // crossJoin(broadcast(1-row max)) — the repo's control-plane
      // pattern (q_text_tfidf, q_agg_heavyhitters), so the whole query
      // is one lazy plan with no construction-time job. A constant-key
      // equi-join would NOT survive Catalyst: the foldable condition
      // collapses and the join degenerates to a nested loop anyway.
      val bounds = ev.agg(max(to_date(date_trunc("day", col("ts"))))
        .as("d_max"))
      act.select(col("user_id"), col("d"),
          explode(sequence(lit(0), lit(6))).as("o"))
        .select(col("user_id"), date_add(col("d"), col("o")).as("day"))
        .crossJoin(broadcast(bounds))
        .filter(col("day") <= col("d_max"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("wau"))
    },

    // ------------------------------------------------------------------
    // GAPS AND ISLANDS — maximal runs of consecutive active days per
    // user (streak analytics: longest streak, streak count, first
    // active day). The classic identity: within a user, day −
    // row_number() is CONSTANT exactly on a consecutive run, so island
    // membership is a pure windowed subtraction — no self-join, no
    // recursive walk. Scale shape: one distinct (user, day) hash agg
    // is the fan-in from raw events (everything after runs on
    // user-days), the window partitions by user (never a single
    // task), and the two stacked aggregations are map-combinable.
    // All-integer day arithmetic keeps the oracle exact.
    QueryDef(
      "q_window_islands",
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1992-01-01',
        |      CAST(date_trunc('day', ts) AS DATE)) AS d
        |  FROM events),
        |grp AS (
        |  SELECT user_id, d,
        |    d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS g
        |  FROM act),
        |isl AS (
        |  SELECT user_id, g, count(*) AS len, min(d) AS start_d
        |  FROM grp GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(max(len) AS BIGINT) AS longest,
        |  CAST(sum(len) AS BIGINT) AS active_days,
        |  CAST(min(start_d) AS BIGINT) AS first_day
        |FROM isl GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val act = t(s, dir, "events")
        .select(col("user_id"),
          datediff(date_trunc("day", col("ts")).cast("date"),
            lit("1992-01-01").cast("date")).as("d"))
        .distinct()
      val grp = act.withColumn("g",
        col("d") - row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("d"))))
      grp.groupBy(col("user_id"), col("g"))
        .agg(count(lit(1)).as("len"), min(col("d")).as("start_d"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          max(col("len")).as("longest"),
          sum(col("len")).as("active_days"),
          min(col("start_d")).cast("long").as("first_day"))
    },

    // ------------------------------------------------------------------
    // Z-score anomaly counts per event type — the feed-monitoring
    // aggregate a pipeline runs on every ingest batch. Two map-combinable
    // passes: per-type moments (Welford-style bounded state, 5 rows out),
    // then the outlier scan against the broadcast moments. Both engines
    // compute sample stddev; z-noise from summation order is ~1e-14,
    // seven orders below the |z| > 3 cut and the 1e-6 output rounding.
    QueryDef(
      "q_anomaly_zscore",
      s"""WITH stats AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY 1)
        |SELECT event_type, count(*) AS n_total,
        |  count(CASE WHEN abs((value - mu) / sd) > 3 THEN 1 END)
        |    AS n_outliers,
        |  ${Num.sql("max(abs((value - mu) / sd))", 6)} AS max_z
        |FROM events JOIN stats USING (event_type)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val stats = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"),
          stddev_samp(col("value")).as("sd"))
      val z = abs((col("value") - col("mu")) / col("sd"))
      ev.join(broadcast(stats), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          count(when(z > 3, 1)).as("n_outliers"),
          Num.r(max(z), 6).as("max_z"))
    },

    // ------------------------------------------------------------------
    // Robust (MAD-based) anomaly detection — q_anomaly_zscore's
    // outlier-resistant twin: the z-score's mean/stddev are themselves
    // dragged by the outliers they're meant to find; median and MAD
    // (median absolute deviation) are not. Both medians use the LOWER-
    // median convention (the value at global rank ⌊(n−1)/2⌋) — an
    // actual data value selected by rank, not an interpolated float —
    // so every downstream comparison is exact double arithmetic on
    // parquet values and the whole detector is bit-deterministic
    // cross-engine (no quantile-interpolation boundary can flip an
    // anomaly count). Each median is one chunkedRank pass (groups ×
    // chunks parallel sorts — never one task per 7-value event_type
    // key) + a one-row-per-group rank filter; the flagged threshold is
    // the textbook 3σ-equivalent 3·1.4826·MAD, written as the single
    // literal 4.4478 on both sides so no constant folding can differ.
    QueryDef(
      "q_anomaly_mad",
      s"""WITH ranked AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) - 1
        |      AS idx,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |med AS (
        |  SELECT event_type, min(value) AS med FROM ranked
        |  WHERE idx = CAST(floor((n - 1) / 2.0) AS BIGINT) GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
        |  FROM events e JOIN med m USING (event_type)),
        |ranked2 AS (
        |  SELECT event_type, dev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev) - 1
        |      AS idx,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev),
        |madm AS (
        |  SELECT event_type, min(dev) AS madm FROM ranked2
        |  WHERE idx = CAST(floor((n - 1) / 2.0) AS BIGINT) GROUP BY 1)
        |SELECT d.event_type, count(*) AS n_total,
        |  min(d.med) AS med, min(ma.madm) AS madm,
        |  count(CASE WHEN d.dev > 4.4478e0 * ma.madm THEN 1 END) AS n_anom,
        |  ${Num.sql("max(d.dev / ma.madm)", 6)} AS max_ratio
        |FROM dev d JOIN madm ma USING (event_type)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      // both projections cached (r15): each lowerMedian's chunkedRank
      // scans its input three times (bounds, offsets, window) and the
      // deviation/final rollups scan them again — uncached that was
      // ~8 full events scans; cached it is one fill each
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
        .cache()
      // lower median by rank selection: exactly one row per group passes
      // the filter, so min() just reads it off
      def lowerMedian(df: DataFrame, vcol: String, out: String): DataFrame =
        Analytics.chunkedRank(df, "event_type", vcol)
          .filter(col("idx") === floor((col("n") - lit(1)) / lit(2.0)))
          .groupBy(col("event_type"))
          .agg(min(col(vcol)).as(out))
      val med = lowerMedian(ev, "value", "med")
      val dev = ev.join(broadcast(med), "event_type")
        .select(col("event_type"),
          abs(col("value") - col("med")).as("dev"), col("med"))
        .cache()
      val madm = lowerMedian(dev.select(col("event_type"), col("dev")),
        "dev", "madm")
      dev.join(broadcast(madm), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          min(col("med")).as("med"), min(col("madm")).as("madm"),
          count(when(col("dev") > lit(4.4478) * col("madm"), 1)).as("n_anom"),
          Num.r(max(col("dev") / col("madm")), 6).as("max_ratio"))
    },

    // ------------------------------------------------------------------
    // Interval union (total covered time) per user — the gaps-and-
    // islands aggregate q_peak_concurrency's sweep doesn't answer: how
    // much wall-clock was covered by ≥1 active interval, and in how
    // many disjoint stretches? Each event opens a deterministic
    // interval (60 + event_id % 540 seconds — a pure function of the
    // row, so both engines build identical intervals), and overlapping
    // or touching intervals merge into islands via the classic running
    // max: a new island starts exactly where start > max(end) over all
    // earlier rows. All arithmetic is exact BIGINT epoch-µs (no
    // timestamp/interval ops, no doubles anywhere). The scale shape:
    // both windows and both aggregations key on user_id (high-
    // cardinality), and hash(user_id) satisfies the (user_id, island)
    // clustering, so the whole query is ONE shuffle — window, island
    // group-by, and per-user rollup all reuse the same exchange.
    QueryDef(
      "q_interval_union",
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + (60 + event_id % 540) * 1000000 AS e
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max
        |  FROM iv),
        |isl AS (
        |  SELECT user_id, s, e,
        |    sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1
        |      ELSE 0 END) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM w),
        |g AS (
        |  SELECT user_id, island, max(e) - min(s) AS cov
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(cov) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1""".stripMargin) { (s, dir) =>
      val iv = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts"))
            + (lit(60) + col("event_id") % 540) * lit(1000000L)).as("e"))
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("s"), col("event_id"))
      val prevMax = max(col("e"))
        .over(order.rowsBetween(Window.unboundedPreceding, -1))
      val isl = iv
        .withColumn("prev_max", prevMax)
        .withColumn("island",
          sum(when(col("prev_max").isNull || col("s") > col("prev_max"), 1)
            .otherwise(0))
            .over(order.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
      isl.groupBy(col("user_id"), col("island"))
        .agg((max(col("e")) - min(col("s"))).as("cov"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"), sum(col("cov")).as("covered_us"))
    },

    // ------------------------------------------------------------------
    // Table fingerprinting — the cheap half of the detect-then-diff
    // workflow q_table_diff completes: per partition-grain group, an
    // order-insensitive XOR of 60-bit row hashes plus the row count.
    // Comparing yesterday's fingerprints to today's costs |groups|
    // integers and pinpoints WHICH partitions changed, so the expensive
    // full-outer diff runs only there. XOR is the right fold for the
    // same reason as q_export_manifest: commutative (partition-order-
    // proof), and any single row change flips it. Row serialization
    // pins exact-typed columns only (keys, strings, epoch integers) —
    // never raw doubles, whose string forms differ between engines.
    // One map-combinable aggregate over a narrow projection.
    QueryDef(
      "q_table_fingerprint",
      s"""SELECT o_orderstatus, count(*) AS n_rows,
        |  bit_xor(${graft.functions.TextAnalysis.h60sql(
            // single line: a line-leading || would lose a pipe to the
            // outer stripMargin
            "'fp:' || CAST(o_orderkey AS VARCHAR) || '|' || " +
              "CAST(o_custkey AS VARCHAR) || '|' || o_orderpriority || " +
              "'|' || CAST(epoch_us(o_orderdate) AS VARCHAR)")}) AS fp
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val row = concat(lit("fp:"), col("o_orderkey").cast("string"),
        lit("|"), col("o_custkey").cast("string"),
        lit("|"), col("o_orderpriority"),
        // NTZ → TZ is the identity instant under the session's UTC, and
        // unix_micros only accepts the TZ flavor
        lit("|"), unix_micros(col("o_orderdate").cast("timestamp"))
          .cast("string"))
      t(s, dir, "orders")
        .select(col("o_orderstatus"),
          graft.functions.TextAnalysis.h60(row).as("h"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), bit_xor(col("h")).as("fp"))
    },

    // ------------------------------------------------------------------
    // Snapshot diff / CDC derivation — reconcile two versions of a keyed
    // table into row-level change records (the incremental-pipeline
    // primitive: what changed since the last snapshot?). The two
    // versions are derived deterministically from `orders` (keys
    // ≡3 mod 11 arrive only in v2 = inserts; keys ≡5 mod 13 leave =
    // deletes; keys ≡2 mod 7 get repriced = updates), so the oracle
    // sees bit-identical inputs. The diff itself is ONE full-outer
    // join on the primary key plus a codegen'd column compare — at
    // 100 TB both snapshots are bucketed by PK so the join is
    // shuffle-free zipper merge, and the output is only the changed
    // rows (≪ table), never a rewrite of the unchanged majority.
    QueryDef(
      "q_table_diff",
      """WITH o AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 11 <> 3),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 2 THEN o_totalprice + 1000.0
        |      ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 7 = 2 THEN '9-REPRICED'
        |      ELSE o_orderpriority END AS o_orderpriority
        |  FROM o WHERE o_orderkey % 13 <> 5),
        |j AS (
        |  SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |    v1.o_totalprice AS old_price, v2.o_totalprice AS new_price,
        |    v1.o_orderpriority AS old_priority,
        |    v2.o_orderpriority AS new_priority
        |  FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey),
        |d AS (
        |  SELECT *,
        |    CASE WHEN old_price IS NULL THEN 'insert'
        |      WHEN new_price IS NULL THEN 'delete'
        |      WHEN old_price <> new_price
        |        OR old_priority <> new_priority THEN 'update' END AS change
        |  FROM j)
        |SELECT o_orderkey, change, old_price, new_price,
        |  old_priority, new_priority
        |FROM d WHERE change IS NOT NULL""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val repriced = col("o_orderkey") % 7 === 2
      val v1 = o.filter(col("o_orderkey") % 11 =!= 3)
        .select(col("o_orderkey"), col("o_totalprice").as("old_price"),
          col("o_orderpriority").as("old_priority"))
      val v2 = o.filter(col("o_orderkey") % 13 =!= 5)
        .select(col("o_orderkey"),
          when(repriced, col("o_totalprice") + 1000.0)
            .otherwise(col("o_totalprice")).as("new_price"),
          when(repriced, lit("9-REPRICED"))
            .otherwise(col("o_orderpriority")).as("new_priority"))
      val change = when(col("old_price").isNull, "insert")
        .when(col("new_price").isNull, "delete")
        .when(col("old_price") =!= col("new_price") ||
          col("old_priority") =!= col("new_priority"), "update")
      v1.join(v2, Seq("o_orderkey"), "full_outer")
        .withColumn("change", change)
        .filter(col("change").isNotNull)
        .select(col("o_orderkey"), col("change"),
          col("old_price"), col("new_price"),
          col("old_priority"), col("new_priority"))
    },

    // ------------------------------------------------------------------
    // Bradley–Terry preference ratings (MM algorithm, Hunter 2004) — the
    // aggregation under RLHF reward data and A/B ranking: pairwise
    // "i beat j" comparisons become per-item strengths p_i satisfying
    // P(i beats j) = p_i/(p_i+p_j). Comparisons are mined from the
    // event log: consecutive events of one user (ts order, event_id
    // tie-break) pit their two event types against each other, higher
    // `value` wins, ties and same-type pairs drop. Scale shape: the
    // corpus-sized work is ONE user-keyed lag window (the funnel's
    // sessionization exchange) plus one map-combinable pair count whose
    // output is ≤K² rows for K items — models/pages/arms under
    // comparison, bounded by the catalog, not the corpus. The MM
    // iterations p_i ← W_i / Σ_j n_ij/(p_i+p_j) then run on that tiny
    // cached matrix (re-normalized to mean 1 each round via a 1-row
    // broadcast, pinning the scale gauge the model leaves free); 3
    // fixed rounds replay in the oracle as generated CTEs — the
    // pagerank/k-means pattern for hash-checking iterative algorithms.
    // Rounding at 1e-9: summation-order noise is ~1e-15 over ≤K-term
    // float sums, six orders below the rounding step.
    QueryDef(
      "q_pref_btl",
      s"""WITH e AS (
        |  SELECT event_type AS cur, value AS cv,
        |    lag(event_type) OVER w AS prv, lag(value) OVER w AS pv
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |mm AS (
        |  SELECT CASE WHEN prv < cur THEN prv ELSE cur END AS lo,
        |    CASE WHEN prv < cur THEN cur ELSE prv END AS hi,
        |    CASE WHEN (CASE WHEN prv < cur THEN pv ELSE cv END) >
        |      (CASE WHEN prv < cur THEN cv ELSE pv END)
        |      THEN 1 ELSE 0 END AS wl
        |  FROM e WHERE prv IS NOT NULL AND prv <> cur AND pv <> cv),
        |m AS (SELECT lo, hi, count(*) AS n, CAST(sum(wl) AS BIGINT) AS w
        |      FROM mm GROUP BY 1, 2),
        |sym AS (SELECT lo AS i, hi AS j, n, w FROM m
        |        UNION ALL SELECT hi, lo, n, n - w FROM m),
        |wins AS (SELECT i, CAST(sum(w) AS BIGINT) AS wi,
        |           CAST(sum(n) AS BIGINT) AS ni
        |         FROM sym GROUP BY 1),
        |p0 AS (SELECT i, 1e0 AS p FROM wins),
        |${(1 to btlIters).map(btlStepSql).mkString(",\n")}
        |SELECT w.i AS item, w.wi AS wins, w.ni AS n_matches,
        |  ${Num.sql("p.p", 9)} AS rating
        |FROM wins w JOIN p$btlIters p ON w.i = p.i""".stripMargin) {
      (s, dir) =>
      val ws = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val e = t(s, dir, "events").select(
        col("event_type").as("cur"), col("value").as("cv"),
        lag(col("event_type"), 1).over(ws).as("prv"),
        lag(col("value"), 1).over(ws).as("pv"))
      val asc = col("prv") < col("cur")
      val loVal = when(asc, col("pv")).otherwise(col("cv"))
      val hiVal = when(asc, col("cv")).otherwise(col("pv"))
      val m = e
        .filter(col("prv").isNotNull && col("prv") =!= col("cur")
          && col("pv") =!= col("cv"))
        .select(when(asc, col("prv")).otherwise(col("cur")).as("lo"),
          when(asc, col("cur")).otherwise(col("prv")).as("hi"),
          when(loVal > hiVal, 1L).otherwise(0L).as("wl"))
        .groupBy(col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"), sum(col("wl")).as("w"))
      // cache lifetime: sym feeds two sides of every MM round and wins
      // feeds each round's numerator + the final join — the accepted
      // pattern (Verify/Bench/specs clearCache after the action). Both
      // are ≤K²-row relations; the events scan behind them runs once.
      val sym = m.select(col("lo").as("i"), col("hi").as("j"),
          col("n"), col("w"))
        .union(m.select(col("hi"), col("lo"), col("n"),
          (col("n") - col("w")).as("w")))
        .cache()
      val wins = sym.groupBy(col("i"))
        .agg(sum(col("w")).as("wi"), sum(col("n")).as("ni"))
        .cache()
      var p: DataFrame = wins.select(col("i"), lit(1.0).as("p"))
      for (_ <- 1 to btlIters) {
        val pa = p.select(col("i").as("ai"), col("p").as("pa"))
        val pb = p.select(col("i").as("bi"), col("p").as("pb"))
        val d = sym.join(pa, col("i") === col("ai"))
          .join(pb, col("j") === col("bi"))
          .groupBy(col("i"))
          .agg(sum(col("n") / (col("pa") + col("pb"))).as("d"))
        val r = wins.join(d, "i")
          .select(col("i"), (col("wi") / col("d")).as("pr"))
        val nk = r.agg(sum(col("pr")).as("sp"), count(lit(1)).as("kk"))
        // eager K-row localCheckpoint per round — the kmeans/pagerank
        // lineage truncation. Without it each round's plan embeds TWO
        // copies of the previous round's (pa ⋈ pb is a self-join), so
        // the plan tree doubles per iteration and round 3 spends ~16 s
        // in replanning + duplicated tiny exchanges on 25-row data
        // (measured; 27.7 s total in BENCH). Truncated: sub-second.
        p = r.crossJoin(broadcast(nk))
          .select(col("i"), (col("pr") * col("kk") / col("sp")).as("p"))
          .localCheckpoint()
      }
      wins.join(p, "i")
        .select(col("i").as("item"), col("wi").as("wins"),
          col("ni").as("n_matches"), Num.r(col("p"), 9).as("rating"))
    },

    // ------------------------------------------------------------------
    // First-order Markov transition matrix over per-user event
    // sequences — the sequence model behind next-action prediction and
    // the session-flow sankey every product team draws. Two shapes, one
    // shuffle each: the lag window is partitioned by user_id (the same
    // exchange every behavioral query here reuses), and the transition
    // table it feeds is at most |event_types|² rows, so the
    // probability normalization window runs over a relation that fits
    // in one task at ANY corpus scale — the classic big-data → small
    // model-state collapse. (ts, event_id) ordering makes the sequence
    // deterministic under timestamp ties, the q_scd2 discipline.
    QueryDef(
      "q_markov",
      s"""WITH seq AS (
        |  SELECT event_type AS curr,
        |    lag(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (
        |  SELECT prev, curr, count(*) AS n FROM seq
        |  WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, curr, n,
        |  ${Num.sql("n * 1e0 / sum(n) OVER (PARTITION BY prev)", 6)} AS p
        |FROM c""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val c = t(s, dir, "events")
        .select(col("event_type").as("curr"),
          lag(col("event_type"), 1).over(byUser).as("prev"))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("curr"))
        .agg(count(lit(1)).as("n"))
      val byPrev = Window.partitionBy(col("prev"))
      c.select(col("prev"), col("curr"), col("n"),
        Num.r(col("n") * lit(1e0) / sum(col("n")).over(byPrev), 6).as("p"))
    },

    // ------------------------------------------------------------------
    // Top event PATHS (order-2 sequence mining) — where q_markov models
    // one-step transitions, this ranks the actual three-step journeys
    // (signup>view>click, view>click>purchase, …) users most often
    // walk: the "top paths" report of product analytics. Two lags over
    // the SAME user-keyed window — one shuffle, Catalyst reuses the
    // sort — and the path relation is |event_types|³-bounded (≤125
    // rows here), so its rank window is scale-safe by construction,
    // the q_text_bpe alphabet argument.
    QueryDef(
      "q_path_trigrams",
      """WITH seq AS (
        |  SELECT
        |    lag(event_type, 2) OVER w AS a,
        |    lag(event_type, 1) OVER w AS b,
        |    event_type AS c
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (
        |  SELECT a || '>' || b || '>' || c AS path, count(*) AS n
        |  FROM seq WHERE a IS NOT NULL GROUP BY 1)
        |SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rk
        |FROM p ORDER BY n DESC, path LIMIT 10""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val p = t(s, dir, "events")
        .select(lag(col("event_type"), 2).over(w).as("a"),
          lag(col("event_type"), 1).over(w).as("b"),
          col("event_type").as("c"))
        .filter(col("a").isNotNull)
        .groupBy(concat_ws(">", col("a"), col("b"), col("c")).as("path"))
        .agg(count(lit(1)).as("n"))
      // rank window over the |types|³-bounded path table
      p.withColumn("rk",
          row_number().over(Window.orderBy(col("n").desc, col("path"))))
        .filter(col("rk") <= 10)
    },

    // ------------------------------------------------------------------
    // EVENT-SEQUENCE PATTERN MATCH — SQL:2016 MATCH_RECOGNIZE's row-
    // pattern semantics, which Spark does not ship, re-expressed
    // Spark-first: fold each user's event types into ONE ordered
    // code string (s/c/e/v/p, ordered by (ts, event_id) — the q_scd2
    // tiebreak discipline, via one sorted struct collect), then run
    // the row patterns as REGEXES over the codes inside codegen:
    //   conversions   = non-overlapping 'v[^p]*p' matches (a view
    //                   eventually converting, next search resumes
    //                   after the purchase — MATCH_RECOGNIZE's
    //                   AFTER MATCH SKIP PAST LAST ROW),
    //   frustration   = maximal runs of ≥2 consecutive errors ('ee+'),
    //   max_click_run = the longest consecutive-click streak.
    // Every pattern is alternation-free and backtracking-free, so
    // java.util.regex (Spark) and RE2 (DuckDB) provably agree — the
    // cross-engine contract for regex queries. Genuinely different
    // semantics from q_funnel/q_window_funnel (stage mins: earliest
    // WITNESSES) — patterns see ADJACENCY and REPETITION, which no
    // per-stage aggregate can express: q_funnel cannot count two
    // disjoint conversions or distinguish 'vcp' from 'vpc'.
    // 100 TB: one hash(user_id) exchange; per-user state is the user's
    // own code string (1 byte/event — the listagg/collect doc-bounded
    // contract; unbounded user histories would sessionize first, the
    // q_churn_km 6-hour-gap derivation, making state burst-bounded).
    // The regex pass is per-row codegen over the folded table, whose
    // cardinality is |users|, not |events|.
    QueryDef(
      "q_seq_match",
      """WITH c AS (
        |  SELECT user_id,
        |    CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
        |      WHEN 'error' THEN 'e' WHEN 'view' THEN 'v'
        |      WHEN 'purchase' THEN 'p' ELSE 'x' END AS k, ts, event_id
        |  FROM events),
        |q AS (
        |  SELECT user_id, string_agg(k, '' ORDER BY ts, event_id) AS seq
        |  FROM c GROUP BY 1)
        |SELECT user_id, CAST(len(seq) AS BIGINT) AS n_events,
        |  CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS BIGINT)
        |    AS conversions,
        |  CAST(len(regexp_extract_all(seq, 'ee+')) AS BIGINT)
        |    AS frustration,
        |  CAST(coalesce(list_max(list_transform(
        |    regexp_extract_all(seq, 'c+'), x -> len(x))), 0) AS BIGINT)
        |    AS max_click_run
        |FROM q""".stripMargin) { (s, dir) =>
      val code = when(col("event_type") === "signup", "s")
        .when(col("event_type") === "click", "c")
        .when(col("event_type") === "error", "e")
        .when(col("event_type") === "view", "v")
        .when(col("event_type") === "purchase", "p")
        .otherwise("x")
      val seqs = t(s, dir, "events")
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), code.as("k")).as("st"))
        .groupBy(col("user_id"))
        .agg(array_join(transform(array_sort(collect_list(col("st"))),
          x => x.getField("k")), "").as("seq"))
      seqs.select(col("user_id"),
        length(col("seq")).cast("long").as("n_events"),
        regexp_count(col("seq"), lit("v[^p]*p")).cast("long")
          .as("conversions"),
        regexp_count(col("seq"), lit("ee+")).cast("long").as("frustration"),
        coalesce(array_max(transform(
            regexp_extract_all(col("seq"), lit("c+"), lit(0)),
            x => length(x))), lit(0)).cast("long").as("max_click_run"))
    },

    // ------------------------------------------------------------------
    // SEQUENTIAL PATTERN MINING (GSP/PrefixSpan family, length-3) —
    // which ordered behaviors are FREQUENT across users: pattern
    // (a,b,c) is supported by a user iff the user's event stream
    // contains a, later b, later c (any gaps), support = user count,
    // report patterns covering ≥ 50% of users. Mining runs over each
    // user's FIRST 12 events (the onboarding window — and the guard
    // that keeps per-user pattern space data-independent: over full
    // histories every triple saturates and support stops ranking).
    // The naive derivation enumerates per-user subsequences —
    // O(len³) per user, dead at any
    // scale. This plan is the PrefixSpan projection argument run as
    // relational algebra on the GREEDY-EARLIEST witness: a user
    // supports (a,b,c) iff taking a's FIRST occurrence, then b's first
    // occurrence after it, leaves any c behind — so support needs only
    //   fa  = per (user, a) min position          (one keyed agg)
    //   gab = per (user, a, b) min position > fa  (events ⋈ fa, ×A)
    //   sup = distinct (user,a,b,c) via events ⋈ gab, ×A²
    // — every pass is events-linear with an ALPHABET-bounded fan-out
    // (A = |event types| = 5), never sequence-length-bounded: the
    // 100 TB shape (users × A² intermediate, all joins keyed by user).
    // The oracle is the DEFINITION, not a replay: a triple rn-ordered
    // self-join with DISTINCT — the hash match PROVES greedy-earliest
    // ≡ exists-any-witness (the exchange argument), on every pattern.
    QueryDef(
      "q_seq_patterns",
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS et,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |f AS (SELECT * FROM e WHERE rn <= 12),
        |nu AS (SELECT count(DISTINCT u) AS n_users FROM f),
        |tr AS (
        |  SELECT DISTINCT a.u, a.et AS pa, b.et AS pb, c.et AS pc
        |  FROM f a
        |  JOIN f b ON a.u = b.u AND b.rn > a.rn
        |  JOIN f c ON b.u = c.u AND c.rn > b.rn),
        |sup AS (
        |  SELECT pa, pb, pc, CAST(count(*) AS BIGINT) AS support
        |  FROM tr GROUP BY 1, 2, 3)
        |SELECT pa, pb, pc, support, CAST(n_users AS BIGINT) AS n_users
        |FROM sup, nu WHERE support * 2 >= n_users""".stripMargin) {
      (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("u"))
        .orderBy(col("ts"), col("event_id"))
      val pos = t(s, dir, "events")
        .select(col("user_id").as("u"), col("event_type").as("et"),
          col("ts"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 12)
        .select(col("u"), col("et"), col("rn"))
        .cache() // three alphabet-fanout consumers below
      val nu = pos.agg(countDistinct(col("u")).as("n_users"))
      val fa = pos.groupBy(col("u"), col("et").as("pa"))
        .agg(min(col("rn")).as("ra"))
      val gab = pos.join(fa, "u")
        .filter(col("rn") > col("ra"))
        .groupBy(col("u"), col("pa"), col("et").as("pb"))
        .agg(min(col("rn")).as("rb"))
      val sup = pos.join(gab, "u")
        .filter(col("rn") > col("rb"))
        .select(col("u"), col("pa"), col("pb"), col("et").as("pc"))
        .distinct()
        .groupBy(col("pa"), col("pb"), col("pc"))
        .agg(count(lit(1)).as("support"))
      sup.crossJoin(broadcast(nu))
        .filter(col("support") * 2 >= col("n_users"))
        .select(col("pa"), col("pb"), col("pc"), col("support"),
          col("n_users"))
    },

    // ------------------------------------------------------------------
    // Autocorrelation function of the daily event-count series — the
    // seasonality / burstiness diagnostic run before any forecasting or
    // anomaly model. The corpus-sized work is ONE map-combinable daily
    // rollup; after that the series is bounded by the calendar horizon
    // (days, not events), so the lagged self-join — pairs matched on
    // CALENDAR distance (d, d - k), which skips gap days instead of
    // silently sliding ranks across them — moves only day rows, with
    // the 3-row lag relation broadcast. corr() is the same float
    // aggregate both engines define (Pearson over the paired series);
    // Num-rounding at 1e-6 absorbs fold-order jitter, the q_agg_corr
    // contract.
    QueryDef(
      "q_ts_acf",
      s"""WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS y
        |  FROM events GROUP BY 1),
        |lags AS (SELECT 1 AS lag UNION ALL SELECT 2 UNION ALL SELECT 3),
        |pairs AS (
        |  SELECT l.lag, a.y AS ya, b.y AS yb
        |  FROM lags l CROSS JOIN daily a
        |  JOIN daily b ON b.d = a.d - l.lag)
        |SELECT lag, count(*) AS n, ${Num.sql("corr(ya, yb)", 6)} AS acf
        |FROM pairs GROUP BY 1""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(to_date(date_trunc("day", col("ts"))).as("d"))
        .agg(count(lit(1)).as("y"))
      val lags = s.range(1, 4).select(col("id").cast("int").as("lag"))
      val a = daily.select(col("d"), col("y").as("ya"))
      val b = daily.select(col("d").as("db"), col("y").as("yb"))
      a.crossJoin(broadcast(lags))
        .join(b, expr("db = date_sub(d, lag)"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), Num.r(corr(col("ya"), col("yb")), 6)
          .as("acf"))
    },

    // ------------------------------------------------------------------
    // CROSS-correlation between event-type pairs at signed lags — the
    // lead–lag diagnostic next to q_ts_acf's self-correlation: "does
    // clicks' daily volume LEAD purchases' by k days?" is the question
    // behind pipeline causality hunches and forecast-feature selection.
    // Pearson corr(x_d, y_{d−k}) for k ∈ −3..3 over unordered type
    // pairs (etx < ety — the (y, x, −k) mirror is the same number, so
    // ordered pairs would double every row). Scale shape is acf's
    // exactly: the corpus collapses to ONE map-combinable (type, day)
    // rollup; everything after is calendar-bounded (days × types × 7
    // lags, corpus-independent), the 7-row lag relation broadcasts, and
    // pairs match on CALENDAR distance so gap days are skipped, never
    // slid across. Same corr + Num 1e-6 contract as acf/q_agg_corr.
    QueryDef(
      "q_ts_xcorr",
      s"""WITH daily AS (
        |  SELECT event_type AS et,
        |    CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |lags AS (SELECT CAST(unnest(generate_series(-3, 3)) AS INTEGER)
        |         AS lag),
        |pairs AS (
        |  SELECT a.et AS etx, b.et AS ety, l.lag, a.y AS ya, b.y AS yb
        |  FROM lags l CROSS JOIN daily a
        |  JOIN daily b ON b.et > a.et AND b.d = a.d - l.lag)
        |SELECT etx, ety, lag, count(*) AS n,
        |  ${Num.sql("corr(ya, yb)", 6)} AS xcf
        |FROM pairs GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type").as("et"),
          to_date(date_trunc("day", col("ts"))).as("d"))
        .agg(count(lit(1)).as("y"))
      val lags = s.range(-3, 4).select(col("id").cast("int").as("lag"))
      val a = daily.select(col("et").as("etx"), col("d"), col("y").as("ya"))
      val b = daily.select(col("et").as("ety"), col("d").as("db"),
        col("y").as("yb"))
      a.crossJoin(broadcast(lags))
        .join(b, expr("ety > etx AND db = date_sub(d, lag)"))
        .groupBy(col("etx"), col("ety"), col("lag"))
        .agg(count(lit(1)).as("n"),
          Num.r(corr(col("ya"), col("yb")), 6).as("xcf"))
    },

    // ------------------------------------------------------------------
    // ROBUST trend: the Mann–Kendall S statistic (Mann 1945; Kendall
    // 1975) + Theil–Sen median slope (Theil 1950; Sen 1968) per
    // event-type daily series — the nonparametric "is this feed
    // growing, and how fast" pair that survives the outlier days that
    // wreck a least-squares fit (which q_agg_regr covers). Everything
    // is EXACT INTEGER: S = Σ sign(y_j − y_i) over day pairs;
    // the variance rides ×18 as V18 = n(n−1)(2n+5) (the untied
    // formula, identically on both engines, so the z-score is caller
    // arithmetic); pairwise slopes enter as µ-units via BIGINT
    // truncating division — Spark `div` ≡ DuckDB `//` toward zero —
    // and the median is the LOWER order statistic (rank (c+1) div 2),
    // never an average of two, so ties cost nothing. Scale shape: the
    // corpus collapses to ONE map-combinable (type, day) rollup; the
    // pair join, sign/slope arithmetic, the per-type rank window and
    // the final joins are all calendar-bounded (≤ days²/2 rows per
    // type, corpus-independent). The oracle is the identical
    // relational form, so the hash match doubles as a window≡window
    // order-statistic proof.
    QueryDef(
      "q_ts_trend",
      """WITH daily AS (
        |  SELECT event_type AS et,
        |    CAST(date_trunc('day', ts) AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.et, CAST(b.d - a.d AS BIGINT) AS dx,
        |    b.y - a.y AS dy
        |  FROM daily a JOIN daily b ON b.et = a.et AND b.d > a.d),
        |sgn AS (
        |  SELECT et,
        |    CASE WHEN dy > 0 THEN 1 WHEN dy < 0 THEN -1 ELSE 0 END AS sg,
        |    (dy * 1000000) // dx AS slope_u
        |  FROM pairs),
        |stats AS (
        |  SELECT et, CAST(sum(sg) AS BIGINT) AS s_stat FROM sgn
        |  GROUP BY 1),
        |nd AS (SELECT et, count(*) AS n_days FROM daily GROUP BY 1),
        |med AS (
        |  SELECT et, slope_u AS slope_med_u FROM (
        |    SELECT et, slope_u,
        |      row_number() OVER (PARTITION BY et ORDER BY slope_u) AS rn,
        |      count(*) OVER (PARTITION BY et) AS c
        |    FROM sgn) r
        |  WHERE rn = (c + 1) // 2)
        |SELECT n.et, n.n_days, s.s_stat,
        |  n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) AS v18,
        |  m.slope_med_u
        |FROM nd n
        |JOIN stats s ON s.et = n.et
        |JOIN med m ON m.et = n.et""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type").as("et"),
          to_date(date_trunc("day", col("ts"))).as("d"))
        .agg(count(lit(1)).as("y"))
      val b = daily.select(col("et").as("etb"), col("d").as("db"),
        col("y").as("yb"))
      val pairs = daily
        .join(b, col("etb") === col("et") && col("db") > col("d"))
        .select(col("et"),
          datediff(col("db"), col("d")).cast("long").as("dx"),
          (col("yb") - col("y")).as("dy"))
      val sgn = pairs.select(col("et"),
        when(col("dy") > 0, 1L).when(col("dy") < 0, -1L).otherwise(0L)
          .as("sg"),
        expr("dy * 1000000 div dx").as("slope_u"))
      val stats = sgn.groupBy(col("et")).agg(sum(col("sg")).as("s_stat"))
      val ndays = daily.groupBy(col("et")).agg(count(lit(1)).as("n_days"))
      val wo = Window.partitionBy(col("et")).orderBy(col("slope_u"))
      val med = sgn
        .select(col("et"), col("slope_u"),
          row_number().over(wo).as("rn"),
          count(lit(1)).over(Window.partitionBy(col("et"))).as("c"))
        .filter(expr("rn = (c + 1) div 2"))
        .select(col("et"), col("slope_u").as("slope_med_u"))
      ndays.join(stats, "et").join(med, "et")
        .select(col("et"), col("n_days"), col("s_stat"),
          (col("n_days") * (col("n_days") - 1)
            * (col("n_days") * 2 + 5)).as("v18"),
          col("slope_med_u"))
    },

    // ------------------------------------------------------------------
    // HOLT'S LINEAR EXPONENTIAL SMOOTHING (level + trend, α = β = ¼) —
    // the forecasting member of the time-series family (acf =
    // diagnosis, decompose = attribution, cusum = changepoint, THIS =
    // what comes next): per event type, smooth the daily count series
    // and report the final level/trend, a 7-day-ahead forecast, and
    // the one-step forecast MAE. The recurrence is EXACT INTEGER in
    // µ-units: with α = β = ¼, l_t = ⌊(10⁶·y_t + 3(l+b))/4⌋ and
    // b_t = ⌊((l_t − l_{t−1}) + 3b)/4⌋, where ⌊·/4⌋ is the arithmetic
    // right-shift — the ONE integer-division form Spark's shiftright
    // and DuckDB's >> agree on for negatives (trends go negative;
    // truncating DIV//​ would diverge there). Scale shape: the corpus
    // is touched by ONE map-combinable daily rollup; the series is
    // CALENDAR-bounded (days × types, not events), densified against
    // the 1-row bounds broadcast, and the smoothing folds per type
    // over its ≤horizon-length array — the q_link_align in-codegen
    // fold, no joins, no per-round passes. The oracle computes the
    // same recurrence by a DIFFERENT machine — a recursive CTE walking
    // day indices — so the hash match proves fold ≡ recursion.
    QueryDef(
      "q_ts_holt",
      """WITH RECURSIVE
        |daily AS (
        |  SELECT event_type AS et, CAST(date_trunc('day', ts) AS DATE)
        |    AS d, CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(d) AS d0,
        |  date_diff('day', min(d), max(d)) + 1 AS nd FROM daily),
        |types AS (SELECT DISTINCT et FROM daily),
        |spine AS (
        |  SELECT t.et, CAST(gs.i AS BIGINT) AS i
        |  FROM types t, (SELECT unnest(generate_series(0,
        |    (SELECT nd - 1 FROM bounds))) AS i) gs),
        |dd AS (
        |  SELECT s.et, s.i, coalesce(dl.y, 0) AS y
        |  FROM spine s LEFT JOIN daily dl
        |    ON dl.et = s.et AND dl.d = (SELECT d0 FROM bounds)
        |      + CAST(s.i AS INT)),
        |h AS (
        |  SELECT et, i, y * 1000000 AS l, CAST(0 AS BIGINT) AS b,
        |    CAST(0 AS BIGINT) AS sae
        |  FROM dd WHERE i = 0
        |  UNION ALL
        |  SELECT d.et, d.i,
        |    (d.y * 1000000 + 3 * (h.l + h.b)) >> 2,
        |    (((d.y * 1000000 + 3 * (h.l + h.b)) >> 2) - h.l
        |      + 3 * h.b) >> 2,
        |    h.sae + abs(d.y * 1000000 - (h.l + h.b))
        |  FROM h JOIN dd d ON d.et = h.et AND d.i = h.i + 1)
        |SELECT h.et, CAST(b2.nd AS BIGINT) AS n_days, h.l AS l_u,
        |  h.b AS b_u, h.l + 7 * h.b AS fc7_u, h.sae AS sae_u
        |FROM h, bounds b2 WHERE h.i = b2.nd - 1""".stripMargin) {
      (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type").as("et"),
          to_date(date_trunc("day", col("ts"))).as("d"))
        .agg(count(lit(1)).as("y"))
        .cache() // bounds + types + the dense join below
      val bounds = daily.agg(min(col("d")).as("d0"),
        (datediff(max(col("d")), min(col("d"))) + 1).as("nd"))
      val spine = daily.select(col("et")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("et"), col("d0"), col("nd"),
          explode(sequence(lit(0), col("nd") - 1)).as("i"))
      val ddc = spine.alias("sp")
        .join(daily.alias("dl"),
          col("sp.et") === col("dl.et") &&
            col("dl.d") === expr("date_add(sp.d0, sp.i)"), "left")
        .select(col("sp.et").as("et"), col("sp.i").as("i"),
          col("sp.nd").as("nd"),
          coalesce(col("dl.y"), lit(0L)).as("y"))
      val series = ddc
        .groupBy(col("et"), col("nd"))
        .agg(transform(
          sort_array(collect_list(struct(col("i"), col("y")))),
          x => x.getField("y").cast("long")).as("ys"))
      val acc0 = struct(
        (element_at(col("ys"), 1) * 1000000L).as("l"),
        lit(0L).as("b"), lit(0L).as("sae"))
      val folded = aggregate(
        slice(col("ys"), lit(2), size(col("ys")) - 1), acc0,
        (acc, y) => {
          val pred = acc.getField("l") + acc.getField("b")
          val e = abs(y * 1000000L - pred)
          val lN = shiftright(y * 1000000L + lit(3L) * pred, 2)
          val bN = shiftright(lN - acc.getField("l") +
            lit(3L) * acc.getField("b"), 2)
          struct(lN.as("l"), bN.as("b"),
            (acc.getField("sae") + e).as("sae"))
        })
      series.withColumn("f", folded)
        .select(col("et"), col("nd").cast("long").as("n_days"),
          col("f.l").as("l_u"), col("f.b").as("b_u"),
          (col("f.l") + lit(7L) * col("f.b")).as("fc7_u"),
          col("f.sae").as("sae_u"))
    },

    // ------------------------------------------------------------------
    // Welch's two-sample t-test over a hash-randomized A/B assignment —
    // the experimentation readout (where the drift family asks "did the
    // data change?", this asks "did the treatment change the metric?").
    // Assignment is h32(user_id) parity: a pure deterministic function
    // of the unit id, exactly how real experiment systems bucket users,
    // and cross-engine reproducible. Shape: ONE map-combinable pass
    // computes n/avg/var_samp per arm (Welch needs nothing else), the
    // 2-row arm table self-joins broadcast, and the t statistic plus
    // Welch–Satterthwaite df come out as scalar arithmetic on those six
    // numbers — corpus cost is a single aggregate regardless of scale.
    QueryDef(
      "q_ab_ttest",
      s"""WITH g AS (
        |  SELECT ${graft.functions.TextAnalysis.h32sql(
          "'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS v, value
        |  FROM events),
        |st AS (
        |  SELECT v, count(*) AS n, avg(value) AS m, var_samp(value) AS s2
        |  FROM g GROUP BY 1)
        |SELECT a.n AS n0, b.n AS n1,
        |  ${Num.sql("a.m", 6)} AS m0, ${Num.sql("b.m", 6)} AS m1,
        |  ${Num.sql("(a.m - b.m) / sqrt(a.s2/a.n + b.s2/b.n)", 4)} AS t,
        |  ${Num.sql(
          "pow(a.s2/a.n + b.s2/b.n, 2) / " +
            "(pow(a.s2/a.n, 2)/(a.n - 1) + pow(b.s2/b.n, 2)/(b.n - 1))",
          2)} AS df
        |FROM st a JOIN st b ON a.v = 0 AND b.v = 1""".stripMargin) {
      (s, dir) =>
      val v = graft.functions.TextAnalysis.h32(
        concat(lit("ab:"), col("user_id").cast("string"))) % 2
      val st = t(s, dir, "events")
        .select(v.as("v"), col("value"))
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("m"),
          var_samp(col("value")).as("s2"))
      val a = st.filter(col("v") === 0)
        .select(col("n").as("n0"), col("m").as("ma"), col("s2").as("sa"))
      val b = st.filter(col("v") === 1)
        .select(col("n").as("n1"), col("m").as("mb"), col("s2").as("sb"))
      val se2 = col("sa") / col("n0") + col("sb") / col("n1")
      a.crossJoin(broadcast(b))
        .select(col("n0"), col("n1"),
          Num.r(col("ma"), 6).as("m0"), Num.r(col("mb"), 6).as("m1"),
          Num.r((col("ma") - col("mb")) / sqrt(se2), 4).as("t"),
          Num.r(pow(se2, 2) / (pow(col("sa") / col("n0"), 2) / (col("n0") - 1)
            + pow(col("sb") / col("n1"), 2) / (col("n1") - 1)), 2).as("df"))
    },

    // ------------------------------------------------------------------
    // ROC AUC of a scalar score against a real label — the classifier-
    // eval primitive (every quality-filter threshold in a curation
    // pipeline is chosen off this number). Here: does document length
    // predict English? (label = lang, score = n_chars, per source.)
    // AUC is computed by the exact rank-sum identity AUC =
    // (R⁺ - n⁺(n⁺+1)/2) / (n⁺·n⁻) with midranks for ties — the same
    // doubled-integer-midrank machinery q_drift_mwu established (AUC
    // IS the common-language effect size of the score between classes),
    // so every pre-division quantity is an order-free INTEGER aggregate:
    // no float fold anywhere, bit-identical cross-engine. Scale shape:
    // one map-combinable (source, score) cell count, then windows over
    // the bounded distinct-score domain — corpus-sized work is pass one
    // only.
    QueryDef(
      "q_eval_auc",
      s"""WITH g AS (
        |  SELECT source, n_chars AS x,
        |    count(CASE WHEN lang = 'en' THEN 1 END) AS cp,
        |    count(CASE WHEN lang <> 'en' THEN 1 END) AS cn
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT source, cp, cn,
        |    sum(cp + cn) OVER (PARTITION BY source ORDER BY x)
        |      - (cp + cn) AS pre
        |  FROM g),
        |u AS (
        |  SELECT source,
        |    CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn,
        |    CAST(sum(cp * (2 * pre + cp + cn + 1)) AS BIGINT) AS r2p
        |  FROM c GROUP BY 1)
        |SELECT source, np AS n_pos, nn AS n_neg,
        |  ${Num.sql("(r2p - np * (np + 1)) / (2e0 * np * nn)", 6)} AS auc
        |FROM u WHERE np > 0 AND nn > 0""".stripMargin) { (s, dir) =>
      val g = t(s, dir, "documents")
        .groupBy(col("source"), col("n_chars").as("x"))
        .agg(count(when(col("lang") === "en", 1)).as("cp"),
          count(when(col("lang") =!= "en", 1)).as("cn"))
      val wRun = Window.partitionBy(col("source")).orderBy(col("x"))
      g.select(col("source"), col("cp"), col("cn"),
          (sum(col("cp") + col("cn")).over(wRun) - (col("cp") + col("cn")))
            .as("pre"))
        .groupBy(col("source"))
        .agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
          sum(col("cp") * (lit(2) * col("pre") + col("cp") + col("cn") + 1))
            .as("r2p"))
        .filter(col("np") > 0 && col("nn") > 0)
        .select(col("source"), col("np").as("n_pos"), col("nn").as("n_neg"),
          Num.r((col("r2p") - col("np") * (col("np") + 1)) /
            (lit(2e0) * col("np") * col("nn")), 6).as("auc"))
    },

    // ------------------------------------------------------------------
    // Fractional-epoch UPSAMPLING — the other half of data mixing
    // (q_mix_sources / q_mix_temperature downsample; scarce
    // high-quality sources get repeated): tier f ∈ {1.0, 1.5, 2.25,
    // 3.5} epochs per source, realized per document as floor(f) full
    // copies plus one extra copy iff the id-hash clears the fractional
    // threshold — thresholds are exact integer literals (frac·2³²)
    // against the 32-bit hash, so admission is a pure integer
    // predicate: reproducible cross-engine and stable as the corpus
    // grows (a document's copy count never changes on re-run, the
    // q_split property — which is what makes multi-epoch training
    // checkpoints resumable). The Spark side BUILDS the actual
    // training-row stream — explode(sequence(1, copies)), a map-side
    // generator with no shuffle, each copy tagged with its epoch — and
    // then audits it; the oracle recomputes the same totals
    // arithmetically, so any off-by-one in the explode is a hash
    // mismatch. At 100 TB the exploded stream IS the sink write; the
    // audit rides it as one map-combinable agg.
    QueryDef(
      "q_mix_epochs",
      s"""WITH rated AS (
        |  SELECT source, n_chars,
        |    CASE WHEN idx < 10 THEN 1 WHEN idx < 15 THEN 2 ELSE 3 END
        |      AS base,
        |    CASE WHEN idx < 5 THEN 0 WHEN idx < 10 THEN 2147483648
        |         WHEN idx < 15 THEN 1073741824 ELSE 2147483648 END AS thr,
        |    h
        |  FROM (
        |    SELECT source, n_chars,
        |      CAST(substr(source, 4) AS INTEGER) AS idx,
        |      ${graft.functions.TextAnalysis.h32sql(
          "'ep:' || CAST(doc_id AS VARCHAR)")} AS h
        |    FROM documents)),
        |cp AS (
        |  SELECT source, n_chars,
        |    base + CASE WHEN h < thr THEN 1 ELSE 0 END AS copies,
        |    CASE WHEN h < thr THEN 1 END AS extra
        |  FROM rated)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(copies) AS BIGINT) AS n_emitted,
        |  count(extra) AS n_extra,
        |  CAST(sum(copies * n_chars) AS BIGINT) AS chars_emitted
        |FROM cp GROUP BY 1""".stripMargin) { (s, dir) =>
      val idx = expr("substring(source, 4)").cast("int")
      val base = when(idx < 10, 1).when(idx < 15, 2).otherwise(3)
      val thr = when(idx < 5, 0L).when(idx < 10, 2147483648L)
        .when(idx < 15, 1073741824L).otherwise(2147483648L)
      val h = graft.functions.TextAnalysis.h32(
        concat(lit("ep:"), col("doc_id").cast("string")))
      // the real exploded training stream: one row per (doc, epoch)
      val stream = t(s, dir, "documents")
        .select(col("source"), col("n_chars"), base.as("base"),
          (base + when(h < thr, 1).otherwise(0)).as("copies"))
        .select(col("source"), col("n_chars"), col("base"),
          explode(sequence(lit(1), col("copies"))).as("epoch"))
      stream.groupBy(col("source"))
        .agg(count(when(col("epoch") === 1, 1)).as("n_docs"),
          count(lit(1)).as("n_emitted"),
          count(when(col("epoch") > col("base"), 1)).as("n_extra"),
          sum(col("n_chars")).as("chars_emitted"))
    },

    // ------------------------------------------------------------------
    // Last-touch conversion attribution — the marketing-warehouse
    // workhorse: every purchase is credited to the user's most recent
    // PRIOR non-purchase event (view/click/signup), falling back to
    // 'direct' when the purchase opens the history. ONE user-keyed
    // window does all the work: a running last(ignoreNulls) over
    // [unbounded, -1) carries the candidate channel forward, so there
    // is no per-conversion lookback self-join — the plan is a single
    // shuffle by user_id plus a channel-grained aggregate, and at
    // 100 TB cost scales with the event count exactly like q_scd2.
    // Conversion value totals are kept EXACT: floor(value·100 + 0.5)
    // cents as BIGINT (the Num op sequence with an integer landing),
    // so the money column hash-checks without rounding armor.
    QueryDef(
      "q_attribution",
      """WITH o AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type
        |               END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS channel
        |  FROM events)
        |SELECT coalesce(channel, 'direct') AS channel,
        |  count(*) AS conversions,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM o WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .select(col("event_type"), col("value"),
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w).as("channel"))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("conversions"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
    },

    // ------------------------------------------------------------------
    // Wilson score interval — the 95% CI every experiment dashboard
    // should put next to a rate (the naive Wald interval collapses at
    // small n / extreme p; Wilson stays honest): per event type, the
    // high-value rate (value > 100) with its interval. k and n are the
    // ONLY statistics — one map-combinable conditional count — and the
    // interval is a fixed scalar op sequence over (k, n, z=1.959964)
    // literals, bit-identical cross-engine under the shared rounding.
    QueryDef(
      "q_rate_ci",
      {
        val z = "1.959964"
        val ctr = s"(p + $z*$z/(2*n)) / (1 + $z*$z/n)"
        val hw = s"($z * sqrt(p*(1 - p)/n + $z*$z/(4*n*n))) / (1 + $z*$z/n)"
        s"""WITH c AS (
          |  SELECT event_type, count(*) AS n,
          |    count(CASE WHEN "value" > 100 THEN 1 END) AS k
          |  FROM events GROUP BY 1),
          |p0 AS (SELECT event_type, n, k, k * 1e0 / n AS p FROM c)
          |SELECT event_type, n, k, ${Num.sql("p", 6)} AS rate,
          |  ${Num.sql(s"$ctr - $hw", 6)} AS ci_lo,
          |  ${Num.sql(s"$ctr + $hw", 6)} AS ci_hi
          |FROM p0""".stripMargin
      }) { (s, dir) =>
      val zl = lit(1.959964)
      val c = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(when(col("value") > 100, 1)).as("k"))
        .withColumn("p", col("k") * lit(1e0) / col("n"))
      val ctr = (col("p") + zl * zl / (lit(2) * col("n"))) /
        (lit(1) + zl * zl / col("n"))
      val hw = (zl * sqrt(col("p") * (lit(1) - col("p")) / col("n")
        + zl * zl / (lit(4) * col("n") * col("n")))) /
        (lit(1) + zl * zl / col("n"))
      c.select(col("event_type"), col("n"), col("k"),
        Num.r(col("p"), 6).as("rate"),
        Num.r(ctr - hw, 6).as("ci_lo"),
        Num.r(ctr + hw, 6).as("ci_hi"))
    },

    // ------------------------------------------------------------------
    // Time-weighted average (TWAP/TWA) — the aggregation finance and
    // IoT run over irregularly-sampled state: each event's value HOLDS
    // until the user's next event, so the mean weights each reading by
    // its holding duration, not its sample count (a sensor that
    // reports once an hour and once a second must not average the
    // same). One user-keyed lead window (the q_scd2 exchange) produces
    // exact µs holding intervals; the weighted fold is a single
    // map-combinable aggregate per event type. Durations are exact
    // BIGINT µs; only the final weighted mean is float, Num-rounded.
    QueryDef(
      "q_twap",
      s"""WITH o AS (
        |  SELECT event_type, "value", epoch_us(ts) AS t,
        |    lead(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS tn
        |  FROM events)
        |SELECT event_type, count(*) AS n_holds,
        |  CAST(sum(tn - t) AS BIGINT) AS held_us,
        |  ${Num.sql("sum(\"value\" * (tn - t)) / sum(tn - t)", 6)} AS twap
        |FROM o WHERE tn IS NOT NULL GROUP BY 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_type"), col("value"),
          unix_micros(col("ts")).as("t"),
          lead(unix_micros(col("ts")), 1).over(w).as("tn"))
        .filter(col("tn").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_holds"),
          sum(col("tn") - col("t")).as("held_us"),
          Num.r(sum(col("value") * (col("tn") - col("t")))
            / sum(col("tn") - col("t")), 6).as("twap"))
    },

    // ------------------------------------------------------------------
    // Seasonal anomaly detection — the day-of-week-adjusted feed alarm
    // (q_anomaly_zscore flags against a GLOBAL mean, which calls every
    // quiet Sunday an anomaly on a weekday-heavy feed; this one scores
    // each day against ITS OWN weekday's distribution). Two
    // map-combinable rollups: daily counts, then per-(type, weekday)
    // moments over the day-bounded table; the flag compare runs on
    // Num-ROUNDED residual vs Num-rounded 2σ — identical doubles both
    // engines, the q_embed_outliers boundary discipline. Weekday
    // numbering is aligned explicitly (Spark weekday() = Monday 0 ↔
    // DuckDB isodow − 1): the one cross-engine trap in calendar
    // seasonality.
    QueryDef(
      "q_anomaly_seasonal",
      s"""WITH d AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, isodow(day) - 1 AS dw,
        |    avg(n) AS mu, stddev_samp(n) AS sd
        |  FROM d GROUP BY 1, 2),
        |j AS (
        |  SELECT d.event_type, d.n, b.mu, b.sd
        |  FROM d JOIN b ON d.event_type = b.event_type
        |    AND isodow(d.day) - 1 = b.dw)
        |SELECT event_type, count(*) AS n_days,
        |  count(CASE WHEN ${Num.sql("abs(n - mu)", 6)}
        |    > ${Num.sql("2 * sd", 6)} THEN 1 END) AS n_anom,
        |  ${Num.sql("max(abs(n - mu))", 4)} AS max_resid
        |FROM j GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "events")
        .groupBy(col("event_type"),
          to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(count(lit(1)).as("n"))
      val b = d.groupBy(col("event_type"), weekday(col("day")).as("dw"))
        .agg(avg(col("n")).as("mu"), stddev_samp(col("n")).as("sd"))
      d.join(b.withColumnRenamed("event_type", "et"),
          col("event_type") === col("et")
            && weekday(col("day")) === col("dw"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          count(when(Num.r(abs(col("n") - col("mu")), 6)
            > Num.r(lit(2) * col("sd"), 6), 1)).as("n_anom"),
          Num.r(max(abs(col("n") - col("mu"))), 4).as("max_resid"))
    },

    // ------------------------------------------------------------------
    // CLASSICAL SEASONAL DECOMPOSITION (the moving-average additive
    // decompose — Persons 1919 lineage, the step every forecaster runs
    // before trusting q_ts_backtest's model choice): per event type,
    // split the daily series into TREND (centered 7-day moving
    // average), SEASONAL (per-weekday mean of the detrended series),
    // and REMAINDER (reported as per-weekday mean |remainder| — the
    // decomposition-quality readout: weekday effects that survive in
    // the remainder mean the additive model is wrong). The centered
    // window never slides over RANKS (gap days would shift the frame):
    // each day's count explodes onto its 7 TARGET days — the bounded
    // q_active_trailing pattern, shuffle ∝ 7·|type-days| — and only
    // targets with all 7 contributors present keep a trend (edge and
    // gap-adjacent days drop, both engines alike). Arithmetic is
    // exact-integer end to end: counts enter µ-units via BIGINT
    // multiplication, the only divisions (/7, /n_days) are identical
    // double expressions over exact BIGINTs floored straight back to
    // µ-ints — no float accumulates across rows. Weekday numbering
    // aligns Spark weekday() ↔ DuckDB isodow − 1 (the
    // q_anomaly_seasonal contract, which this query complements:
    // that one ALARMS against a weekday baseline, this one EXTRACTS
    // the decomposition itself). 100 TB: the corpus pays the one
    // day-grain rollup; everything downstream — explode, trend join,
    // weekday means — runs on the type-day table (calendar-bounded,
    // far sublinear in events), and the seasonal table is |types|×7
    // rows (auto-broadcast for the remainder join).
    QueryDef(
      "q_ts_decompose",
      """WITH d AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT event_type, day + CAST(o AS INTEGER) AS tday, cnt
        |  FROM d, (SELECT unnest(range(-3, 4)) AS o)),
        |tr AS (
        |  SELECT event_type, tday AS day,
        |    CAST(floor(sum(cnt) * 1000000e0 / 7 + 0.5) AS BIGINT)
        |      AS trend_micro
        |  FROM x GROUP BY 1, 2 HAVING count(*) = 7),
        |det AS (
        |  SELECT d.event_type, isodow(d.day) - 1 AS dw,
        |    d.cnt * 1000000 - tr.trend_micro AS det_micro
        |  FROM d JOIN tr ON d.event_type = tr.event_type
        |    AND d.day = tr.day),
        |se AS (
        |  SELECT event_type, dw, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(floor(sum(det_micro) * 1e0 / count(*) + 0.5) AS BIGINT)
        |      AS seasonal_micro
        |  FROM det GROUP BY 1, 2)
        |SELECT s.event_type, s.dw, s.n_days, s.seasonal_micro,
        |  CAST(floor(sum(abs(det.det_micro - s.seasonal_micro)) * 1e0
        |    / s.n_days + 0.5) AS BIGINT) AS mad_micro
        |FROM det JOIN se s USING (event_type, dw)
        |GROUP BY 1, 2, 3, 4""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "events")
        .groupBy(col("event_type"),
          to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val tr = d
        .select(col("event_type"), col("day"), col("cnt"),
          explode(sequence(lit(-3), lit(3))).as("o"))
        .select(col("event_type"),
          date_add(col("day"), col("o")).as("day"), col("cnt"))
      val trend = tr.groupBy(col("event_type"), col("day"))
        .agg(sum(col("cnt")).as("s7"), count(lit(1)).as("n7"))
        .filter(col("n7") === 7)
        .select(col("event_type"), col("day"),
          floor(col("s7") * lit(1e6) / lit(7) + lit(0.5)).cast("long")
            .as("trend_micro"))
      val det = d.join(trend, Seq("event_type", "day"))
        .select(col("event_type"), weekday(col("day")).as("dw"),
          (col("cnt") * lit(1000000L) - col("trend_micro")).as("det_micro"))
      val se = det.groupBy(col("event_type"), col("dw"))
        .agg(count(lit(1)).as("n_days"), sum(col("det_micro")).as("sdet"))
        .select(col("event_type"), col("dw"), col("n_days"),
          floor(col("sdet") * lit(1e0) / col("n_days") + lit(0.5))
            .cast("long").as("seasonal_micro"))
      det.join(se, Seq("event_type", "dw"))
        .groupBy(col("event_type"), col("dw"), col("n_days"),
          col("seasonal_micro"))
        .agg(floor(sum(abs(col("det_micro") - col("seasonal_micro")))
          * lit(1e0) / col("n_days") + lit(0.5)).cast("long").as("mad_micro"))
        .select(col("event_type"), col("dw"), col("n_days"),
          col("seasonal_micro"), col("mad_micro"))
    },

    // ------------------------------------------------------------------
    // RFM segmentation — the classic customer scoring (Recency ×
    // Frequency × Monetary quintiles) every CRM warehouse computes:
    // here as exact RANK-based quintiles, not ntile (whose uneven-
    // remainder distribution is an engine implementation detail):
    // q = floor(rank·5/n) with a (metric, custkey) total order, so the
    // bucketing is bit-deterministic cross-engine. The corpus-sized
    // work is ONE customer-grained aggregate (count, exact cents via
    // the floor(x·100+0.5) landing, last-order date against a
    // broadcast 1-row anchor); the three rank passes then run on the
    // customer table through chunkedRank — parallel chunk sorts, no
    // global single-task window on the engine side (the oracle uses
    // the textbook three windows, so the hash match proves chunked ≡
    // windowed, three metrics at once). Output is the ≤125-cell
    // segment table with customer counts and money mass.
    QueryDef(
      "q_rfm",
      """WITH anchor AS (
        |  SELECT max(CAST(o_orderdate AS DATE)) AS ad FROM orders),
        |c AS (
        |  SELECT o_custkey AS ck, count(*) AS f,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS m_cents,
        |    date_diff('day', max(CAST(o_orderdate AS DATE)), min(ad))
        |      AS r_days
        |  FROM orders CROSS JOIN anchor GROUP BY 1),
        |r AS (
        |  SELECT ck, m_cents,
        |    row_number() OVER (ORDER BY r_days, ck) - 1 AS ri,
        |    row_number() OVER (ORDER BY f, ck) - 1 AS fi,
        |    row_number() OVER (ORDER BY m_cents, ck) - 1 AS mi,
        |    count(*) OVER () AS n
        |  FROM c)
        |SELECT CAST((ri*5//n)*100 + (fi*5//n)*10 + (mi*5//n) AS INTEGER)
        |    AS segment,
        |  count(*) AS n_cust,
        |  CAST(sum(m_cents) AS BIGINT) AS cents
        |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val anchor = orders
        .agg(max(col("o_orderdate").cast("date")).as("ad"))
      val c = orders.crossJoin(broadcast(anchor))
        .groupBy(col("o_custkey").as("ck"))
        .agg(count(lit(1)).as("f"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("m_cents"),
          datediff(min(col("ad")), max(col("o_orderdate").cast("date")))
            .as("r_days"))
        .withColumn("__all", lit("all"))
      def rankOf(vcol: String, as: String): DataFrame =
        Analytics.chunkedRank(
          c.select(col("ck"), col(vcol), col("__all")), "__all", vcol,
          Seq("ck"))
          .select(col("ck"), col("idx").as(as), col("n"))
      val r = rankOf("r_days", "ri").drop("n")
        .join(rankOf("f", "fi").drop("n"), "ck")
        .join(rankOf("m_cents", "mi"), "ck")
        .join(c.select(col("ck"), col("m_cents")), "ck")
      r.groupBy((expr("ri * 5 div n") * 100 + expr("fi * 5 div n") * 10
          + expr("mi * 5 div n")).cast("int").as("segment"))
        .agg(count(lit(1)).as("n_cust"), sum(col("m_cents")).as("cents"))
    },

    // ------------------------------------------------------------------
    // Calibration / reliability bins — the companion readout to
    // q_eval_auc: AUC says the score RANKS the label; calibration says
    // what the positive rate actually IS per score decile (the
    // reliability diagram a threshold gets picked from). Deciles are
    // exact global ranks (floor(rank·10/n), (score, doc_id) total
    // order) through chunkedRank — same engine-vs-textbook-window
    // equivalence play as q_rfm — and every output is an exact integer
    // or a single rounded ratio.
    QueryDef(
      "q_calibration",
      s"""WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS idx,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT CAST(idx*10//n AS INTEGER) AS decile, count(*) AS n_docs,
        |  count(CASE WHEN lang = 'en' THEN 1 END) AS n_pos,
        |  ${Num.sql("count(CASE WHEN lang = 'en' THEN 1 END) * 1e0 / count(*)",
          6)} AS pos_rate,
        |  min(n_chars) AS chars_lo, max(n_chars) AS chars_hi
        |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("__all", lit("all"))
      Analytics.chunkedRank(docs, "__all", "n_chars", Seq("doc_id"))
        .groupBy(expr("idx * 10 div n").cast("int").as("decile"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("lang") === "en", 1)).as("n_pos"),
          Num.r(count(when(col("lang") === "en", 1)) * lit(1e0)
            / count(lit(1)), 6).as("pos_rate"),
          min(col("n_chars")).as("chars_lo"),
          max(col("n_chars")).as("chars_hi"))
    },

    // ------------------------------------------------------------------
    // k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    // 2006) — the governance gate a dataset passes before release or
    // training use: group records by their QUASI-IDENTIFIER tuple
    // (here nation × market segment — the linkable attributes), and
    // report, per equivalence-class size k, how many classes and rows
    // sit at that size plus the worst l-diversity (distinct sensitive
    // values — the account-balance band) any class of that size offers.
    // The smallest class_k in the output IS the dataset's k-anonymity;
    // rows in small-k classes are the re-identifiable ones. Everything
    // is an exact integer, so the report hash-checks bit-for-bit.
    // Scale shape: one corpus-sized hash aggregate keyed on the QI
    // tuple (map-combinable counts; the distinct-sensitive count
    // expands per class, bounded by the sensitive domain), then a
    // second aggregate over the class table — which has at most
    // |QI domain| rows, corpus-independent. Nothing else touches the
    // raw records: at 100 TB the audit costs one shuffle by QI.
    QueryDef(
      "q_anonymity",
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS k,
        |    count(DISTINCT CAST(floor(c_acctbal / 1000) AS INTEGER)) AS l
        |  FROM customer GROUP BY 1, 2)
        |SELECT k AS class_k, count(*) AS n_classes,
        |  CAST(sum(k) AS BIGINT) AS n_rows, min(l) AS min_l
        |FROM cls GROUP BY 1""".stripMargin) { (s, dir) =>
      val cls = t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("k"),
          countDistinct(floor(col("c_acctbal") / 1000).cast("int")).as("l"))
      cls.groupBy(col("k").as("class_k"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("k")).as("n_rows"),
          min(col("l")).as("min_l"))
    },

    // ------------------------------------------------------------------
    // CUSUM changepoint detection (Page 1954) on the per-type daily
    // event series — "which day did this feed's level shift?", the
    // question behind every ingestion-volume alarm. The textbook CUSUM
    // S_d = Σ_{i≤d}(x_i − x̄) needs the float mean; multiplying through
    // by n makes it EXACT integer arithmetic: n·S_d = n·prefix_d − d·T
    // (prefix_d = running count sum, T = total, d = day index), so the
    // argmax day and the peak statistic hash-check bit-for-bit with no
    // rounding armor. The changepoint estimate is the day maximizing
    // |n·S_d| (tie → earliest day). Scale shape: the corpus collapses
    // to (type, day) counts in one map-combinable aggregate; every
    // window and the final argmax then run on the day-bounded rollup,
    // all sharing the ONE hash(event_type) shuffle. The Spark argmax is
    // the map-combinable max(struct(s, −day)) aggregate; the oracle
    // uses the textbook row_number window, so the hash match is another
    // aggregate≡window equivalence proof.
    QueryDef(
      "q_ts_cusum",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |cs AS (
        |  SELECT event_type, d,
        |    row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
        |    CAST(sum(x) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS ps,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM daily),
        |sc AS (SELECT event_type, d, n, tot,
        |         abs(n * ps - i * tot) AS s FROM cs)
        |SELECT event_type, n AS n_days, tot AS total,
        |  d AS cp_day, s AS cusum_max
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY s DESC, d) AS rn FROM sc) r
        |WHERE rn = 1""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("x"))
      val wo = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wp = Window.partitionBy(col("event_type"))
      val cs = daily.select(col("event_type"), col("d"),
        row_number().over(wo).as("i"),
        sum(col("x")).over(wr).as("ps"),
        count(lit(1)).over(wp).as("n"),
        sum(col("x")).over(wp).as("tot"))
      cs.select(col("event_type"), col("d"), col("n"), col("tot"),
          abs(col("n") * col("ps") - col("i") * col("tot")).as("s"))
        .groupBy(col("event_type"))
        .agg(max(struct(col("s"), (-unix_date(col("d"))).as("nd"),
          col("d"), col("n"), col("tot"))).as("m"))
        .select(col("event_type"), col("m.n").as("n_days"),
          col("m.tot").as("total"), col("m.d").as("cp_day"),
          col("m.s").as("cusum_max"))
    },

    // ------------------------------------------------------------------
    // Delta-of-delta bit-width profile (Gorilla, Pelkonen VLDB'15; the
    // same structure parquet's DELTA_BINARY_PACKED exploits) — the
    // storage-layout question "how well will this timestamp column
    // compress if I sort by (user, ts)?" answered IN-ENGINE before any
    // layout is committed: per user, first differences of the epoch-µs
    // timestamps, then second differences zigzag-mapped to non-negative
    // (Gorilla's trick — regular cadences make d² ≈ 0), then the exact
    // bit width of each value via length(bin(x)) — an INTEGER identity
    // in both engines, where floor(log2)+1 would wobble at exact powers
    // of two. Output is the bit-width histogram: its mass at small
    // widths IS the compression win. Scale shape: both lag windows and
    // the tie-break share ONE hash(user_id) shuffle (same sort), and
    // the histogram aggregate is map-combinable over ≤64 groups.
    QueryDef(
      "q_delta_bits",
      """WITH o AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
        |d1 AS (
        |  SELECT user_id, t, event_id,
        |    t - lag(t) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id) AS d
        |  FROM o),
        |d2 AS (
        |  SELECT d - lag(d) OVER (PARTITION BY user_id
        |    ORDER BY t, event_id) AS dd
        |  FROM d1 WHERE d IS NOT NULL)
        |SELECT
        |  CAST(length(bin(CASE WHEN dd >= 0 THEN 2 * dd
        |    ELSE -2 * dd - 1 END)) AS INTEGER) AS width,
        |  count(*) AS n
        |FROM d2 WHERE dd IS NOT NULL GROUP BY 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val d1 = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
          col("event_id"))
        .withColumn("d", col("t") - lag(col("t"), 1).over(w))
      val d2 = d1.filter(col("d").isNotNull)
        .withColumn("dd", col("d") - lag(col("d"), 1).over(w))
        .filter(col("dd").isNotNull)
      val zz = when(col("dd") >= 0, col("dd") * 2)
        .otherwise(col("dd") * -2 - 1)
      d2.select(length(bin(zz)).cast("int").as("width"))
        .groupBy(col("width")).agg(count(lit(1)).as("n"))
    },

    // ------------------------------------------------------------------
    // Forecast BACKTEST: seasonal-naive (same weekday last week) vs
    // persistence (yesterday) over the final observed week of each
    // event type's daily series — the methodology question every
    // forecasting pipeline answers first ("is there weekly structure
    // worth modeling?") reduced to two exact integer error masses:
    // Σ|x_d − x_{d−7}| vs Σ|x_d − x_{d−1}| on the held-out days, a
    // missing calendar day forecasting 0 (documented, deterministic).
    // Scale shape: the corpus collapses to (type, day) counts once;
    // both forecast joins are keyed calendar-date self-joins of the
    // day-bounded rollup; the backtest horizon is a 1-row broadcast.
    QueryDef(
      "q_ts_backtest",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |hz AS (SELECT max(d) AS dmax FROM daily),
        |bt AS (SELECT daily.* FROM daily, hz
        |       WHERE d > dmax - INTERVAL 7 DAY),
        |j AS (
        |  SELECT bt.event_type, bt.d, bt.x,
        |    coalesce(s7.x, 0) AS f7, coalesce(s1.x, 0) AS f1
        |  FROM bt
        |  LEFT JOIN daily s7 ON s7.event_type = bt.event_type
        |    AND s7.d = bt.d - INTERVAL 7 DAY
        |  LEFT JOIN daily s1 ON s1.event_type = bt.event_type
        |    AND s1.d = bt.d - INTERVAL 1 DAY)
        |SELECT event_type, count(*) AS n_days,
        |  CAST(sum(abs(x - f7)) AS BIGINT) AS err_seasonal,
        |  CAST(sum(abs(x - f1)) AS BIGINT) AS err_persist,
        |  sum(abs(x - f7)) < sum(abs(x - f1)) AS seasonal_better
        |FROM j GROUP BY 1""".stripMargin) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("d"))
        .agg(count(lit(1)).as("x"))
      val hz = daily.agg(max(col("d")).as("dmax"))
      val bt = daily.crossJoin(broadcast(hz))
        .filter(col("d") > date_sub(col("dmax"), 7))
        .select(col("event_type"), col("d"), col("x"))
      def lagJoin(days: Int, out: String): DataFrame = daily.select(
        col("event_type"), date_add(col("d"), days).as("d"),
        col("x").as(out))
      val j = bt
        .join(lagJoin(7, "f7"), Seq("event_type", "d"), "left")
        .join(lagJoin(1, "f1"), Seq("event_type", "d"), "left")
        .select(col("event_type"), col("x"),
          coalesce(col("f7"), lit(0L)).as("f7"),
          coalesce(col("f1"), lit(0L)).as("f1"))
      j.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("x") - col("f7"))).as("err_seasonal"),
          sum(abs(col("x") - col("f1"))).as("err_persist"),
          (sum(abs(col("x") - col("f7")))
            < sum(abs(col("x") - col("f1")))).as("seasonal_better"))
    },

    // ------------------------------------------------------------------
    // Max-min fair (water-filling) budget allocation with caps — the
    // allocator q_mix_allocate cannot express: sources DEMAND their
    // char mass, the budget is half the corpus, and fairness means no
    // source gets more than the level L while any smaller demand is
    // unmet: a_s = min(d_s, L) with Σa = B exactly. Everything is
    // integer arithmetic: the satisfied prefix k* falls out of the
    // monotone predicate d_k·(n−k+1) + prefix_{k−1} ≤ B (monotone
    // because consecutive differences are (n−k)·(d_{k+1}−d_k) ≥ 0, so
    // a SUM over the sorted relation counts it), L = (B − p_k) div
    // (n−k), and the division slack tops up the first `slack`
    // unsatisfied sources in (demand, source) order — the
    // largest-remainder discipline, so the allocations sum to B
    // bit-exactly. Scale shape: one corpus-sized map-combinable
    // aggregate; the sort, windows, and scan all run on the
    // |sources|-bounded relation; levels are 1-row broadcasts.
    QueryDef(
      "q_mix_waterfill",
      """WITH d AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS dem
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(dem) AS BIGINT) AS td,
        |               count(*) AS n FROM d),
        |b AS (SELECT td // 2 AS bud, n FROM tot),
        |r AS (
        |  SELECT source, dem,
        |    row_number() OVER (ORDER BY dem, source) AS rk,
        |    CAST(sum(dem) OVER (ORDER BY dem, source
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx
        |  FROM d),
        |sat AS (
        |  SELECT r.*, b.bud, b.n,
        |    CASE WHEN dem * (b.n - rk + 1) + (pfx - dem) <= b.bud
        |      THEN 1 ELSE 0 END AS ok
        |  FROM r, b),
        |k AS (
        |  SELECT CAST(coalesce(sum(ok), 0) AS BIGINT) AS kk,
        |    max(bud) AS bud, max(n) AS n,
        |    CAST(coalesce(sum(CASE WHEN ok = 1 THEN dem END), 0)
        |      AS BIGINT) AS pk
        |  FROM sat),
        |lvl AS (SELECT kk, (bud - pk) // (n - kk) AS lv,
        |               (bud - pk) % (n - kk) AS slack FROM k)
        |SELECT s.source, s.dem AS demand,
        |  CASE WHEN s.rk <= l.kk THEN s.dem
        |    ELSE l.lv + CASE WHEN s.rk - l.kk <= l.slack
        |      THEN 1 ELSE 0 END END AS alloc,
        |  s.rk > l.kk AS capped
        |FROM sat s, lvl l""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .groupBy(col("source")).agg(sum(col("n_chars")).as("dem"))
      val tot = d.agg(sum(col("dem")).as("td"), count(lit(1)).as("n"))
      val b = tot.select(expr("td div 2").as("bud"), col("n"))
      val wo = Window.orderBy(col("dem"), col("source"))
      val wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = d.select(col("source"), col("dem"),
        row_number().over(wo).as("rk"), sum(col("dem")).over(wr).as("pfx"))
      val sat = r.crossJoin(broadcast(b))
        .withColumn("ok",
          when(col("dem") * (col("n") - col("rk") + 1)
            + (col("pfx") - col("dem")) <= col("bud"), 1).otherwise(0))
      val lvl = sat.agg(
          coalesce(sum(col("ok")), lit(0L)).cast("long").as("kk"),
          max(col("bud")).as("b2"), max(col("n")).as("n2"),
          coalesce(sum(when(col("ok") === 1, col("dem"))), lit(0L))
            .as("pk"))
        .select(col("kk"), expr("(b2 - pk) div (n2 - kk)").as("lv"),
          expr("(b2 - pk) % (n2 - kk)").as("slack"))
      sat.crossJoin(broadcast(lvl))
        .select(col("source"), col("dem").as("demand"),
          when(col("rk") <= col("kk"), col("dem"))
            .otherwise(col("lv") + when(col("rk") - col("kk")
              <= col("slack"), 1).otherwise(0)).as("alloc"),
          (col("rk") > col("kk")).as("capped"))
    },

    // ------------------------------------------------------------------
    // Jensen–Shannon divergence between every pair of sources' unigram
    // distributions — the symmetric, bounded (≤ ln 2) info-theoretic
    // distance that completes the drift family (PSI needs reference
    // buckets, KS needs an ordering, chi² tests association; JSD
    // compares whole DISTRIBUTIONS pairwise). Exactness is the
    // q_text_lmscore discipline: each vocabulary term's contribution
    // p·ln(p/m) + q·ln(q/m) is computed with the IDENTICAL double op
    // sequence in both engines, floored to integer µnats, and only the
    // exact BIGINT µnat sums cross the engine boundary — so summation
    // order cannot flip the hash. Scale shape: ONE map-combinable
    // (source, word) count pass over the corpus; everything after runs
    // on the |sources|²·|vocab|-bounded grid (pairs × vocabulary),
    // corpus-independent.
    QueryDef(
      "q_drift_jsd",
      s"""WITH wt AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wc AS (SELECT source, w, count(*) AS c FROM wt
        |       WHERE w <> '' GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |       FROM wc GROUP BY 1),
        |pr AS (
        |  SELECT a.source AS src_a, a.n AS na, b.source AS src_b, b.n AS nb
        |  FROM ns a JOIN ns b ON a.source < b.source),
        |v AS (SELECT DISTINCT w FROM wc),
        |grid AS (
        |  SELECT pr.*, v.w,
        |    coalesce(ca.c, 0) AS c1, coalesce(cb.c, 0) AS c2
        |  FROM pr CROSS JOIN v
        |  LEFT JOIN wc ca ON ca.source = pr.src_a AND ca.w = v.w
        |  LEFT JOIN wc cb ON cb.source = pr.src_b AND cb.w = v.w),
        |terms AS (
        |  SELECT src_a, src_b, c1, c2,
        |    CAST(c1 AS DOUBLE) / na AS p, CAST(c2 AS DOUBLE) / nb AS q
        |  FROM grid WHERE c1 + c2 > 0),
        |ju AS (
        |  SELECT src_a, src_b, c1, c2,
        |    CAST(floor((
        |      (CASE WHEN c1 > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0e0 END)
        |      + (CASE WHEN c2 > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0e0 END)
        |    ) * 1000000e0 + 0.5) AS BIGINT) AS u
        |  FROM terms)
        |SELECT src_a, src_b, CAST(sum(u) AS BIGINT) AS jsd_u,
        |  count(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 END) AS n_shared
        |FROM ju GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val wc = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val ns = wc.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val pr = ns.select(col("source").as("src_a"), col("n").as("na"))
        .join(ns.select(col("source").as("src_b"), col("n").as("nb")),
          col("src_a") < col("src_b"))
      val v = wc.select(col("w")).distinct()
      val grid = pr.crossJoin(broadcast(v))
        .join(wc.select(col("source").as("src_a"), col("w"),
          col("c").as("c1")), Seq("src_a", "w"), "left")
        .join(wc.select(col("source").as("src_b"), col("w"),
          col("c").as("c2")), Seq("src_b", "w"), "left")
        .select(col("src_a"), col("src_b"), col("na"), col("nb"),
          coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
        .filter(col("c1") + col("c2") > 0)
      val p = col("c1").cast("double") / col("na")
      val q = col("c2").cast("double") / col("nb")
      val m = (p + q) / lit(2)
      val j = when(col("c1") > 0, p * log(p / m)).otherwise(lit(0e0)) +
        when(col("c2") > 0, q * log(q / m)).otherwise(lit(0e0))
      grid.select(col("src_a"), col("src_b"), col("c1"), col("c2"),
          floor(j * lit(1000000e0) + lit(0.5)).cast("long").as("u"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(col("u")).as("jsd_u"),
          count(when(col("c1") > 0 && col("c2") > 0, 1)).as("n_shared"))
    },

    // ------------------------------------------------------------------
    // Rendezvous (highest-random-weight) shard rebalance audit —
    // THE property that justifies HRW/consistent hashing over plain
    // `key mod N`: growing 8 → 9 shards moves only ~1/9 of documents
    // (mod-N would reshuffle ~8/9 of them). Both assignments are pure
    // per-row projections — shard(d, N) = argmax over s < N of
    // h60('rdz:'||s||':'||d), computed as an in-codegen array argmax
    // (array_position of the max ⇒ first-max, ties impossible at 60
    // bits) — and the output is the full 8×9-bounded movement matrix,
    // so the hash check pins every document's placement under BOTH
    // cluster sizes. The oracle derives each argmax via the explode +
    // row_number window instead, making the match an
    // array-formula ≡ window-argmax equivalence proof. At 100 TB this
    // is the rebalance PLAN for a storage layer: scan-speed, zero
    // shuffles before the tiny matrix aggregate.
    QueryDef(
      "q_shard_rendezvous",
      s"""WITH x8 AS (
        |  SELECT doc_id, i AS s,
        |    ${graft.functions.TextAnalysis.h60sql(
            "'rdz:' || CAST(i AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}
        |    AS sc
        |  FROM documents, (SELECT unnest(range(0, 8)) AS i) ii),
        |a8 AS (
        |  SELECT doc_id, s AS s8 FROM (
        |    SELECT doc_id, s,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY sc DESC, s) AS rn
        |    FROM x8) r WHERE rn = 1),
        |x9 AS (
        |  SELECT doc_id, i AS s,
        |    ${graft.functions.TextAnalysis.h60sql(
            "'rdz:' || CAST(i AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")}
        |    AS sc
        |  FROM documents, (SELECT unnest(range(0, 9)) AS i) ii),
        |a9 AS (
        |  SELECT doc_id, s AS s9 FROM (
        |    SELECT doc_id, s,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY sc DESC, s) AS rn
        |    FROM x9) r WHERE rn = 1)
        |SELECT CAST(a8.s8 AS BIGINT) AS s8, CAST(a9.s9 AS BIGINT) AS s9,
        |  count(*) AS n
        |FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      def shardOf(n: Int): Column = {
        val scores = transform(sequence(lit(0), lit(n - 1)),
          sc => graft.functions.TextAnalysis.h60(
            concat(lit("rdz:"), sc.cast("string"), lit(":"),
              col("doc_id").cast("string"))))
        array_position(scores, array_max(scores)) - 1
      }
      t(s, dir, "documents")
        .select(shardOf(8).as("s8"), shardOf(9).as("s9"))
        .groupBy(col("s8"), col("s9")).agg(count(lit(1)).as("n"))
    },

    // ------------------------------------------------------------------
    // Windowed funnel (ClickHouse's windowFunnel, strict-order mode) —
    // q_funnel asks "did the stages ever happen in order"; this asks
    // the product question "did they happen in order WITHIN 7 DAYS of
    // the signup": t₂ = first view after t₁, t₃ = first click after
    // t₂, t₄ = first purchase after t₃, every tᵢ capped at t₁ + W.
    // Each stage is one stage-filtered, user-keyed min-aggregate
    // joined to the previous stage's row — K passes whose inputs
    // SHRINK monotonically (the funnel property), every shuffle on
    // user_id, timestamps in exact epoch-µs BIGINTs so the window cap
    // is integer arithmetic. Output is the depth histogram the growth
    // team reads. Sequential mins are genuinely different from
    // q_funnel's one-pass first-occurrence flags: a click BEFORE the
    // first view doesn't count here even if a later view exists.
    QueryDef(
      "q_window_funnel",
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(t) AS t2
        |  FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'view' AND t > t1
        |    AND t <= t1 + 604800000000 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(t) AS t3
        |  FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        |  WHERE event_type = 'click' AND t > t2
        |    AND t <= t1 + 604800000000 GROUP BY 1),
        |s4 AS (
        |  SELECT e.user_id, min(t) AS t4
        |  FROM e JOIN s1 USING (user_id) JOIN s3 USING (user_id)
        |  WHERE event_type = 'purchase' AND t > t3
        |    AND t <= t1 + 604800000000 GROUP BY 1),
        |d AS (
        |  SELECT s1.user_id,
        |    CAST(1 + (s2.t2 IS NOT NULL)::INTEGER
        |      + (s3.t3 IS NOT NULL)::INTEGER
        |      + (s4.t4 IS NOT NULL)::INTEGER AS INTEGER) AS depth
        |  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |  LEFT JOIN s3 ON s1.user_id = s3.user_id
        |  LEFT JOIN s4 ON s1.user_id = s4.user_id)
        |SELECT depth, count(*) AS n_users FROM d GROUP BY 1""".stripMargin) {
      (s, dir) =>
      val W = 604800000000L // 7 days in µs
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
      def next(prev: DataFrame, prevT: String, stage: String,
          out: String): DataFrame =
        e.filter(col("event_type") === stage)
          .join(prev, "user_id")
          .filter(col("t") > col(prevT) && col("t") <= col("t1") + W)
          .groupBy(col("user_id")).agg(min(col("t")).as(out))
      val s2 = next(s1, "t1", "view", "t2")
      val s3 = next(s1.join(s2, "user_id"), "t2", "click", "t3")
      val s4 = next(s1.join(s3, "user_id"), "t3", "purchase", "t4")
      val flag = (c: Column) => when(c.isNotNull, 1).otherwise(0)
      s1.join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .join(s4, Seq("user_id"), "left")
        .select((lit(1) + flag(col("t2")) + flag(col("t3"))
          + flag(col("t4"))).cast("int").as("depth"))
        .groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
    },

    // ------------------------------------------------------------------
    // Deterministic PSEUDONYMIZATION with a referential-integrity
    // proof — the governance step between q_anonymity's audit and an
    // actual data release: replace the customer key with a keyed
    // md5-derived token (same key → same token, consistently across
    // tables) and show analytics still work on the masked data. The
    // cross-derivation IS the proof: the Spark side joins orders to
    // customers ON THE TOKENS, the oracle joins on the RAW keys and
    // derives tokens only for output — so the hash match certifies the
    // masked join produced exactly the raw join's rows (a token
    // collision would duplicate rows and mismatch instantly), and
    // n_cust = n_tok per nation pins injectivity directly. Money in
    // exact integer cents. Scale: tokenization is a pushable per-row
    // projection; the masked join hashes on the token exactly as the
    // raw join hashes on the key — same shuffle, same plan shape.
    QueryDef(
      "q_mask_pseudo",
      s"""WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    ${TA.h60sql("'pk:' || c_custkey")} AS tok
        |  FROM customer)
        |SELECT c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_cust,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_tok,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS price_c
        |FROM orders JOIN c ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      def tok(c: Column) = TA.h60(concat(lit("pk:"), c.cast("string")))
      val cust = t(s, dir, "customer")
        .select(tok(col("c_custkey")).as("tok_c"), col("c_custkey"),
          col("c_nationkey"))
      val ord = t(s, dir, "orders")
        .select(tok(col("o_custkey")).as("tok_o"), col("o_totalprice"))
      ord.join(cust, col("tok_o") === col("tok_c"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_cust"),
          countDistinct(col("tok_c")).as("n_tok"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("price_c"))
    },

    // ------------------------------------------------------------------
    // Kaplan–Meier survival (Kaplan & Meier, JASA 1958) — session
    // LIFETIME curves per entry event type. Subjects are SESSIONS
    // (6-hour inactivity gap over the user-keyed event stream — the
    // sessionization the streaming timer sessionizer runs live),
    // lifetime is the session's span in whole minutes, and
    // right-censoring is done honestly: a session whose last event is
    // within the gap of the corpus horizon may still be OPEN — it's
    // censored at its observed lifetime, not counted dead (the mistake
    // naive duration histograms make). Per (cohort, lifetime-minute):
    // d (completed), c (censored), risk set n_t = cohort total −
    // prefix, and the product-limit estimator carried in LOG space as
    // integer µnats — each factor ln((n−d)/n) is one ln of an
    // exact-integer ratio spelled identically cross-engine, so the
    // cumulative survival is an exact BIGINT prefix sum and no product
    // fold order exists to disagree on. If a cohort goes EXTINCT
    // (n = d), survival is NULL from that row on (ln 0 — the estimator
    // is undefined beyond, flagged via a prefix-max rather than
    // crashing). Scale shape: sessionization is two windows + one
    // aggregate sharing ONE hash(user_id) shuffle; all curve
    // arithmetic runs on the cohort × duration table (bounded by the
    // session-duration domain, ≪ corpus); the horizon is a 1-row
    // broadcast.
    QueryDef(
      "q_churn_km",
      s"""$kmSessionCte,
        |g AS (
        |  SELECT cohort, lt, CAST(sum(dead) AS BIGINT) AS d,
        |    CAST(count(*) - sum(dead) AS BIGINT) AS c
        |  FROM lu GROUP BY 1, 2),
        |w AS (
        |  SELECT cohort, lt, d, c,
        |    CAST(sum(d + c) OVER (PARTITION BY cohort) -
        |      coalesce(sum(d + c) OVER (PARTITION BY cohort ORDER BY lt
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n
        |  FROM g),
        |s AS (
        |  SELECT cohort, lt, d, c, n,
        |    CASE WHEN n > d THEN
        |      CAST(floor(ln((n - d) * 1e0 / n) * 1000000e0 + 0.5)
        |        AS BIGINT) END AS term,
        |    max(CASE WHEN n = d THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY cohort ORDER BY lt
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS extinct
        |  FROM w)
        |SELECT cohort, CAST(lt AS BIGINT) AS lifetime_min,
        |  d AS churned, c AS censored, n AS at_risk,
        |  CASE WHEN extinct = 0 THEN
        |    CAST(sum(term) OVER (PARTITION BY cohort ORDER BY lt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) END AS surv_unat
        |FROM s""".stripMargin) { (s, dir) =>
      val lu = sessionLifetimes(s, dir)
      val g = lu.groupBy(col("cohort"), col("lt"))
        .agg(sum(col("dead")).as("d"),
          (count(lit(1)) - sum(col("dead"))).as("c"))
      val wTot = Window.partitionBy(col("cohort"))
      val wPre = Window.partitionBy(col("cohort")).orderBy(col("lt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(col("cohort")).orderBy(col("lt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("n",
          sum(col("d") + col("c")).over(wTot) -
            coalesce(sum(col("d") + col("c")).over(wPre), lit(0L)))
        .withColumn("term", when(col("n") > col("d"),
          floor(log((col("n") - col("d")) * lit(1e0) / col("n"))
            * lit(1e6) + lit(0.5)).cast("long")))
        .withColumn("extinct",
          max(when(col("n") === col("d"), 1).otherwise(0)).over(wCum))
        .select(col("cohort"), col("lt").as("lifetime_min"),
          col("d").as("churned"), col("c").as("censored"),
          col("n").as("at_risk"),
          when(col("extinct") === 0,
            sum(col("term")).over(wCum).cast("long")).as("surv_unat"))
    },

    // ------------------------------------------------------------------
    // Log-rank test (Mantel 1966) — q_churn_km's inferential
    // companion: ARE the 'click' and 'view' entry cohorts' session
    // survival curves different, or is the gap chance? At each death
    // time, observed group-A deaths vs the hypergeometric expectation
    // d·nA/n and variance d·(nA/n)·(nB/n)·(n−d)/(n−1); the statistic
    // (ΣO − ΣE)²/ΣV is χ²(1) under H0. Exactness discipline: O is an
    // exact BIGINT; each E and V term is one fixed double op sequence
    // over exact integers floored to µ-units, so ΣE/ΣV cross the
    // engine boundary as exact BIGINT sums and the final χ² is a
    // single identical double expression over three BIGINTs,
    // Num-rounded. Risk sets come from suffix sums over the MERGED
    // death-time table — session-duration-domain bounded, so its
    // unpartitioned window is a bounded sort, not a corpus
    // serialization point.
    QueryDef(
      "q_churn_logrank",
      s"""$kmSessionCte,
        |ab AS (
        |  SELECT CASE WHEN cohort = 'click' THEN 0 ELSE 1 END AS grp,
        |    lt, dead
        |  FROM lu WHERE cohort IN ('click', 'view')),
        |g AS (
        |  SELECT lt,
        |    CAST(sum(CASE WHEN grp = 0 THEN dead ELSE 0 END) AS BIGINT)
        |      AS da,
        |    CAST(sum(CASE WHEN grp = 0 THEN 1 - dead ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN grp = 1 THEN dead ELSE 0 END) AS BIGINT)
        |      AS db,
        |    CAST(sum(CASE WHEN grp = 1 THEN 1 - dead ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM ab GROUP BY 1),
        |w AS (
        |  SELECT lt, da, db,
        |    CAST(sum(da + ca) OVER (ORDER BY lt ROWS BETWEEN CURRENT ROW
        |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS na,
        |    CAST(sum(db + cb) OVER (ORDER BY lt ROWS BETWEEN CURRENT ROW
        |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS nb
        |  FROM g),
        |terms AS (
        |  SELECT da, na, nb, da + db AS d, na + nb AS n
        |  FROM w WHERE da + db > 0),
        |agg AS (
        |  SELECT CAST(sum(da) AS BIGINT) AS o1,
        |    CAST(sum(CAST(floor(d * 1e0 * na / n * 1000000e0 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS e1_micro,
        |    CAST(sum(CAST(floor((d * 1e0 * na / n) * (nb * 1e0 / n) *
        |      CASE WHEN n > 1 THEN (n - d) * 1e0 / (n - 1) ELSE 0e0 END
        |      * 1000000e0 + 0.5) AS BIGINT)) AS BIGINT) AS v_micro
        |  FROM terms)
        |SELECT o1, e1_micro, v_micro,
        |  ${Num.sql("(o1 * 1000000e0 - e1_micro) * " +
             "(o1 * 1000000e0 - e1_micro) / (v_micro * 1000000e0)", 4)}
        |    AS chi2
        |FROM agg""".stripMargin) { (s, dir) =>
      val lu = sessionLifetimes(s, dir)
      val ab = lu.filter(col("cohort").isin("click", "view"))
        .select(when(col("cohort") === "click", 0).otherwise(1).as("grp"),
          col("lt"), col("dead"))
      val g = ab.groupBy(col("lt")).agg(
        sum(when(col("grp") === 0, col("dead")).otherwise(0)).as("da"),
        sum(when(col("grp") === 0, lit(1) - col("dead")).otherwise(0))
          .as("ca"),
        sum(when(col("grp") === 1, col("dead")).otherwise(0)).as("db"),
        sum(when(col("grp") === 1, lit(1) - col("dead")).otherwise(0))
          .as("cb"))
      val wSuf = Window.orderBy(col("lt"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val terms = g.select(col("lt"), col("da"), col("db"),
          sum(col("da") + col("ca")).over(wSuf).as("na"),
          sum(col("db") + col("cb")).over(wSuf).as("nb"))
        .withColumn("d", col("da") + col("db"))
        .withColumn("n", col("na") + col("nb"))
        .filter(col("d") > 0)
      terms.agg(
          sum(col("da")).as("o1"),
          sum(floor(col("d") * lit(1e0) * col("na") / col("n")
            * lit(1e6) + lit(0.5)).cast("long")).as("e1_micro"),
          sum(floor((col("d") * lit(1e0) * col("na") / col("n")) *
            (col("nb") * lit(1e0) / col("n")) *
            when(col("n") > 1,
              (col("n") - col("d")) * lit(1e0) / (col("n") - 1))
              .otherwise(lit(0e0)) *
            lit(1e6) + lit(0.5)).cast("long")).as("v_micro"))
        .select(col("o1"), col("e1_micro"), col("v_micro"),
          Num.r((col("o1") * lit(1e6) - col("e1_micro")) *
            (col("o1") * lit(1e6) - col("e1_micro")) /
            (col("v_micro") * lit(1e6)), 4).as("chi2"))
    },

    // ------------------------------------------------------------------
    // CDC CHANGELOG APPLY — the lakehouse MERGE every CDC sink runs:
    // a base snapshot full-outer-merged with a changelog batch under
    // latest-wins-by-sequence semantics (Debezium → Delta/Hudi/Iceberg
    // upsert). The event stream is split at its temporal midpoint into
    // snapshot half and changelog half (the midpoint is a 1-row global
    // min/max aggregate, broadcast — the allowlisted bounded pattern);
    // 'purchase' ops are tombstones (D), everything else upserts (U).
    // Each half collapses to latest-per-key with ONE user_id-partitioned
    // window (row_number over (ts, event_id) DESC — event_id breaks ts
    // ties deterministically, the q_scd2 discipline), then ONE full
    // outer join on user_id classifies every key: carry (no changelog
    // ops), update/insert (upsert over present/absent base), delete
    // (tombstone hits base), delete_noop (tombstone misses — the
    // at-least-once redelivery case an idempotent sink must absorb).
    // 100 TB: every shuffle is keyed on user_id — two window exchanges
    // over the halves plus the merge join; per-key state is O(1)
    // (row_number early-outs via WindowGroupLimit), no fan-out anywhere,
    // and the output is one row per live key, exactly what the MERGE
    // would write. `value` passes through un-arithmeticked, so the
    // cross-engine hash sees identical parquet bits.
    QueryDef(
      "q_cdc_apply",
      """WITH b AS (
        |  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |  FROM events),
        |ops AS (
        |  SELECT e.user_id, e.ts, e.event_id, e.event_type, e.value,
        |    CASE WHEN e.event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
        |    CASE WHEN epoch_us(e.ts) <= (b.lo + b.hi) // 2
        |      THEN 0 ELSE 1 END AS half
        |  FROM events e, b),
        |base AS (
        |  SELECT user_id, event_type AS b_type, value AS b_value,
        |    ts AS b_ts
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM ops WHERE half = 0)
        |  WHERE rn = 1 AND op = 'U'),
        |delta AS (
        |  SELECT user_id, op AS d_op, event_type AS d_type,
        |    value AS d_value, ts AS d_ts
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM ops WHERE half = 1)
        |  WHERE rn = 1)
        |SELECT user_id,
        |  CASE WHEN d_op IS NULL THEN 'carry'
        |       WHEN d_op = 'D' AND b_type IS NOT NULL THEN 'delete'
        |       WHEN d_op = 'D' THEN 'delete_noop'
        |       WHEN b_type IS NOT NULL THEN 'update'
        |       ELSE 'insert' END AS kind,
        |  CASE WHEN d_op = 'U' THEN d_type
        |       WHEN d_op IS NULL THEN b_type END AS state_type,
        |  CASE WHEN d_op = 'U' THEN d_value
        |       WHEN d_op IS NULL THEN b_value END AS state_value,
        |  CASE WHEN d_op = 'U' THEN d_ts
        |       WHEN d_op IS NULL THEN b_ts END AS state_ts
        |FROM base FULL OUTER JOIN delta USING (user_id)""".stripMargin) {
      (s, dir) =>
      val ev = t(s, dir, "events")
      val bounds = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi"))
      val ops = ev.crossJoin(broadcast(bounds))
        .withColumn("op",
          when(col("event_type") === "purchase", "D").otherwise("U"))
        // exact integral floor division — the double spelling
        // (lo + hi) / 2 cast to long agrees with DuckDB's // only while
        // lo + hi fits a double's 53-bit mantissa (epoch-µs sums don't
        // at the margin); `div` keeps the midpoint exact at any scale
        .withColumn("half",
          when(unix_micros(col("ts")) <= expr("(lo + hi) div 2"), 0)
            .otherwise(1))
      val byKeyDesc = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      def latest(half: Int): DataFrame = ops
        .filter(col("half") === half)
        .withColumn("rn", row_number().over(byKeyDesc))
        .filter(col("rn") === 1)
      val base = latest(0).filter(col("op") === "U")
        .select(col("user_id"), col("event_type").as("b_type"),
          col("value").as("b_value"), col("ts").as("b_ts"))
      val delta = latest(1)
        .select(col("user_id"), col("op").as("d_op"),
          col("event_type").as("d_type"), col("value").as("d_value"),
          col("ts").as("d_ts"))
      base.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          when(col("d_op").isNull, "carry")
            .when(col("d_op") === "D" && col("b_type").isNotNull, "delete")
            .when(col("d_op") === "D", "delete_noop")
            .when(col("b_type").isNotNull, "update")
            .otherwise("insert").as("kind"),
          when(col("d_op") === "U", col("d_type"))
            .when(col("d_op").isNull, col("b_type")).as("state_type"),
          when(col("d_op") === "U", col("d_value"))
            .when(col("d_op").isNull, col("b_value")).as("state_value"),
          when(col("d_op") === "U", col("d_ts"))
            .when(col("d_op").isNull, col("b_ts")).as("state_ts"))
    },

    // ------------------------------------------------------------------
    // COMPACTION PLANNER — the small-file maintenance pass every
    // lakehouse table needs: per-day "files" (size = exact order-value
    // cents, the stand-in for on-disk bytes) packed into target-sized
    // compaction groups WITHIN their month partition by cumulative-quota
    // binning: group = floor((prefix_sum − 1) / target), the O(n)
    // single-scan policy (a file lands in the quota window its END
    // position falls in; an oversized file simply owns its windows).
    // Greedy close-at-target packing needs sequential state; quota
    // binning is one partitioned prefix-sum window — same bounded group
    // sizes (≤ target + one file), embarrassingly parallel by partition.
    // 100 TB: the file manifest is metadata (days × partitions, not
    // rows) — the day-grain pre-aggregation is the only fact-sized
    // shuffle, the window and final rollup run on the manifest keyed by
    // month, and every arithmetic step is exact BIGINT cents (DuckDB's
    // HUGEINT prefix sums cast back per the oracle discipline).
    QueryDef(
      "q_compact_plan",
      """WITH files AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
        |    CAST(sum(CAST(floor(o_totalprice * 100e0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS bytes,
        |    count(*) AS n_rows
        |  FROM orders GROUP BY 1),
        |cums AS (
        |  SELECT d, bytes, n_rows,
        |    CAST(date_trunc('month', d) AS DATE) AS part,
        |    CAST(sum(bytes) OVER (PARTITION BY
        |        CAST(date_trunc('month', d) AS DATE)
        |      ORDER BY d) AS BIGINT) AS cum
        |  FROM files)
        |SELECT part, CAST((cum - 1) // 1000000000 AS BIGINT) AS grp,
        |  count(*) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS grp_bytes,
        |  CAST(sum(n_rows) AS BIGINT) AS grp_rows,
        |  min(d) AS d_min, max(d) AS d_max
        |FROM cums GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val files = t(s, dir, "orders")
        .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("d"))
        .agg(sum(floor(col("o_totalprice") * lit(100e0) + lit(0.5))
          .cast("long")).as("bytes"),
          count(lit(1)).as("n_rows"))
        .withColumn("part", to_date(date_trunc("month", col("d"))))
      val byMonth = Window.partitionBy(col("part")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      files
        .withColumn("cum", sum(col("bytes")).over(byMonth))
        .withColumn("grp", expr("(cum - 1) div 1000000000"))
        .groupBy(col("part"), col("grp"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("bytes")).as("grp_bytes"),
          sum(col("n_rows")).as("grp_rows"),
          min(col("d")).as("d_min"), max(col("d")).as("d_max"))
    }
  )
}
