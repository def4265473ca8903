package graft.operators

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator suite (SURVEY.md §2B): projection, filter, every join
  * flavor, hash/sort aggregation, distinct, rollup/cube, windows, sort/top-k,
  * and set operations — all expressed declaratively on DataFrames so Catalyst
  * plans them (pushdown, pruning, broadcast selection, AQE) and Tungsten
  * executes them under whole-stage codegen.
  *
  * Scale notes (100 TB design):
  *   - explicit `broadcast()` hints only on SCHEMA-BOUNDED dims
  *     (nation/region) and 1-row aggregates: a forced hint bypasses
  *     autoBroadcastJoinThreshold, so hinting an SF-proportional side
  *     (part/supplier/customer) driver-OOMs at 100× where the unhinted
  *     plan degrades to a keyed join. AQE runtime-broadcasts growing
  *     sides while they actually fit. Sole exception: q_join_bhj, the
  *     broadcast-join OPERATOR PIN itself (allowlisted in PlanSpec's
  *     broadcast-boundedness sweep);
  *   - fact⋈fact equi-joins rely on sort-merge + AQE (skew split / coalesce);
  *   - theta joins keep the broadcastable side small by construction;
  *   - every aggregate is a partial (map-side) + final HashAggregate — no
  *     driver-side collection anywhere.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // TPC-H Q5 shape: the 6-table flagship join — one fact⋈fact
    // sort-merge join (lineitem⋈orders, both filtered/pruned at the
    // scan) and four explicit broadcasts for the schema-bounded dims
    // (customer/supplier/nation/region), closed by a map-combinable
    // aggregation. The layering mirrors what matters at 100 TB: exactly
    // ONE big shuffle pair, every other join free, and the region/date
    // filters pushed below everything.
    QueryDef(
      "q_tpch_q5",
      s"""SELECT n_name,
        |  ${Num.sql("sum(l_extendedprice * (1 - l_discount))", 2)} AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val supp = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val reg = t(s, dir, "region")
        .filter(col("r_name") === "ASIA").select(col("r_regionkey"))
      // MERGE hint: at test scale the auto-broadcast threshold would
      // turn the fact⋈fact join into a broadcast and silently hide the
      // shape this query exists to pin; at 100 TB SMJ is what stats
      // would pick anyway
      li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
        // customer and supplier grow ∝SF (150k·SF / 10k·SF) — UNHINTED:
        // a forced broadcast() bypasses autoBroadcastJoinThreshold and
        // driver-OOMs at TPC-H 100×; AQE runtime-broadcasts while each
        // side fits and degrades to a keyed join beyond. Only the
        // schema-bounded nation/region dims keep explicit hints.
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp,
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(Num.r(sum(col("rev")), 2).as("revenue"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q3 shape (shipping priority): the second flagship — segment
    // filter broadcast against orders, ONE fact⋈fact sort-merge join,
    // map-combinable aggregation, then a global top-10 that must plan as
    // TakeOrderedAndProject (per-partition heads, O(k·partitions) moved)
    // rather than a full sort. Dates split mid-range so both the orders
    // and lineitem filters prune at the scan. (o_shippriority does not
    // exist in the driver schema; o_orderpriority carries the same role.)
    QueryDef(
      "q_tpch_q3",
      s"""SELECT l_orderkey,
        |  ${Num.sql("sum(l_extendedprice * (1 - l_discount))", 2)} AS revenue,
        |  CAST(o_orderdate AS DATE) AS odate,
        |  o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      // same MERGE-hint rationale as q_tpch_q5: keep the fact⋈fact SMJ
      // visible at test scale; the segment-filtered customer side is
      // ∝SF, so its join is UNHINTED and AQE broadcasts it at runtime
      // only while it fits the threshold
      li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(Num.r(sum(col("rev")), 2).as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate").cast("date").as("odate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ------------------------------------------------------------------
    // TPC-H Q10 (returned-item reporting) — the fourth flagship: which
    // customers returned the most value in a quarter? The scale plan:
    // the quarter filter prunes orders at the scan and the returnflag
    // filter prunes lineitem (both pushed), so the ONE fact⋈fact join
    // carries a quarter's orders against only returned lines;
    // customer attaches AFTER the revenue grain is fixed, and the
    // 25-row nation dim broadcasts. Distributed top-20 via
    // TakeOrderedAndProject — k·partitions rows move, never the full
    // per-customer revenue table.
    QueryDef(
      "q_tpch_q10",
      s"""SELECT c_custkey, c_name, n_name,
        |  ${Num.sql("sum(l_extendedprice * (1 - l_discount))", 2)}
        |    AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND c_nationkey = n_nationkey
        |  AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("rev")).as("raw_rev"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(Num.r(sum(col("raw_rev")), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // ------------------------------------------------------------------
    // TPC-H Q18 (large-volume customers) — the third flagship, and the
    // canonical GROUP-HAVING SEMI-JOIN shape: find orders whose total
    // quantity clears a threshold, then re-join the winners to their
    // customers and lines. The scale plan: the HAVING aggregate is ONE
    // map-combinable hash agg over the fact table producing a SMALL
    // winner key set (204 orders at sf0.01) that AQE then broadcasts
    // into a left-semi probe of lineitem — the fact table is never
    // joined to itself, and only winner rows reach the 3-way join.
    QueryDef(
      "q_tpch_q18",
      s"""SELECT c_name, o_orderkey, ${Num.sql("o_totalprice", 2)} AS oprice,
        |  ${Num.sql("sum(l_quantity)", 2)} AS total_qty
        |FROM orders
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY 1 HAVING sum(l_quantity) > 250)
        |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val winners = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 250)
        .select(col("l_orderkey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
      li.join(winners, Seq("l_orderkey"), "left_semi")
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")), col("l_orderkey") === col("o_orderkey"))
        // customer grows ∝SF — unhinted; the winner-scoped left side is
        // tiny post-semi-join, so AQE broadcasts whichever side fits
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"), col("o_orderkey"),
          Num.r(col("o_totalprice"), 2).as("oprice"))
        .agg(Num.r(sum(col("l_quantity")), 2).as("total_qty"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    // this dataset's columns: a line is LATE when it ships > 365 days
    // after its (finalized) order's date; report, per supplier, the
    // count of late lines on multi-supplier orders where that supplier
    // was the ONLY late one. The textbook form is a correlated EXISTS
    // plus a correlated NOT EXISTS — i.e. TWO lineitem self-joins. The
    // scale plan dissolves both into ONE per-order aggregate on the
    // already-partitioned join output:
    //   EXISTS(other supplier)        ⇔ count(distinct suppkey) ≥ 2
    //   NOT EXISTS(other late suppl.) ⇔ count(distinct late suppkey) = 1
    // so lineitem⋈orders shuffles by orderkey ONCE and the flag
    // aggregate, the qualification join, and the late-line filter all
    // reuse that partitioning — zero self-joins, zero extra exchanges
    // until the final (tiny, map-combinable) per-supplier count. The
    // supplier/nation dims attach AFTER aggregation, so at 100 TB the
    // dim join probes |suppliers| rows, not |lineitem|. The oracle runs
    // the EXISTS/NOT-EXISTS original — the hash check IS the rewrite's
    // equivalence proof.
    QueryDef(
      "q_tpch_q21",
      """SELECT s_name, n_name, numwait FROM (
        |  SELECT l1.l_suppkey AS sk, count(*) AS numwait
        |  FROM lineitem l1
        |  JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |    AND o.o_orderstatus = 'F'
        |  WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 365 DAY
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_shipdate >
        |                        o.o_orderdate + INTERVAL 365 DAY)
        |  GROUP BY 1) w
        |JOIN supplier ON s_suppkey = w.sk
        |JOIN nation ON n_nationkey = s_nationkey""".stripMargin) { (s, dir) =>
      val ord = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      // The EXISTS subqueries correlate on l_orderkey, and an order has
      // ONE status — so although l2/l3 scan lineitem unrestricted, every
      // line they can see belongs to l1's own (status-F) order, and ALL
      // per-order statistics come out of the one orders-joined relation.
      // With nlate = 1 the sole late supplier's late-line count equals
      // the order's TOTAL late-line count, so the entire qualification
      // collapses into a single per-order aggregate: lineitem is
      // scanned once, shuffles once (by orderkey), and the waiter count
      // re-aggregates |qualifying orders| rows by suppkey.
      val flagged = li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 365 DAY"))
            .as("late"))
      val perOrder = flagged.groupBy(col("l_orderkey")).agg(
        countDistinct(col("l_suppkey")).as("nsupp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("nlate"),
        max(when(col("late"), col("l_suppkey"))).as("latesupp"),
        count(when(col("late"), 1)).as("nlatelines"))
      val waiters = perOrder
        .filter(col("nsupp") >= 2 && col("nlate") === 1)
        .groupBy(col("latesupp").as("l_suppkey"))
        .agg(sum(col("nlatelines")).as("numwait"))
      val supp = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      waiters
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"), col("numwait"))
    },

    // ------------------------------------------------------------------
    // Aggregation — hash, partial+final (TPC-H Q1 shape).
    QueryDef(
      "q1_agg",
      s"""SELECT l_returnflag, l_linestatus,
        |  ${Num.sql("sum(l_quantity)", 2)} AS sum_qty,
        |  ${Num.sql("sum(l_extendedprice)", 2)} AS sum_base_price,
        |  ${Num.sql("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS sum_disc_price,
        |  ${Num.sql("sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax))", 2)} AS sum_charge,
        |  ${Num.sql("avg(l_quantity)", 2)} AS avg_qty,
        |  ${Num.sql("avg(l_extendedprice)", 2)} AS avg_price,
        |  ${Num.sql("avg(l_discount)", 4)} AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Num.r(sum(col("l_quantity")), 2).as("sum_qty"),
          Num.r(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          Num.r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          Num.r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          Num.r(avg(col("l_quantity")), 2).as("avg_qty"),
          Num.r(avg(col("l_extendedprice")), 2).as("avg_price"),
          Num.r(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // ------------------------------------------------------------------
    // Filter: comparison, BETWEEN, IN, LIKE, IS NULL, boolean combos.
    // All of these reach the parquet scan as PushedFilters.
    QueryDef(
      "q_filter_pred",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |                     AND TIMESTAMP '1996-12-31 00:00:00'
        |  AND l_quantity IN (10, 20, 30, 40, 50)
        |  AND l_returnflag LIKE 'N%'
        |  AND l_discount IS NOT NULL
        |  AND NOT (l_tax > 0.07)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp")))
        .filter(col("l_quantity").isin(10, 20, 30, 40, 50))
        .filter(col("l_returnflag").like("N%"))
        .filter(col("l_discount").isNotNull)
        .filter(!(col("l_tax") > 0.07))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },

    // ------------------------------------------------------------------
    // Projection + cast + expression arithmetic (reference's toParquet,
    // generalized — convertor/struct.go:20-28).
    QueryDef(
      "q_project_cast",
      s"""SELECT l_orderkey, l_linenumber,
        |  ${Num.sql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 2)} AS charge,
        |  CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
        |  l_returnflag || '/' || l_linestatus AS flag_status
        |FROM lineitem""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Num.r(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")), 2).as("charge"),
        floor(col("l_quantity")).as("qty_floor"),
        concat(col("l_returnflag"), lit("/"), col("l_linestatus")).as("flag_status"))
    },

    // ------------------------------------------------------------------
    // Broadcast hash join: fact (lineitem) ⋈ small dim (part) — the
    // OPERATOR PIN for the broadcast strategy itself, so the hint is the
    // thing under test (PlanSpec asserts BroadcastHashJoin appears).
    // Honest scale note: part grows 200k·SF, so a deployment would hint
    // only dims known to fit; this query is allowlisted in the
    // broadcast-boundedness sweep for exactly that reason. Revenue per
    // brand aggregates map-side either way.
    QueryDef(
      "q_join_bhj",
      s"""SELECT p.p_brand,
        |  ${Num.sql("sum(l.l_extendedprice * (1.0 - l.l_discount))", 2)} AS revenue,
        |  count(*) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_brand""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          Num.r(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // ------------------------------------------------------------------
    // Sort-merge join: fact ⋈ fact (lineitem ⋈ orders) — both sides shuffle
    // on the join key; MERGE hint pins the strategy AQE would pick at scale.
    QueryDef(
      "q_join_smj",
      s"""SELECT o.o_orderpriority,
        |  ${Num.sql("sum(l.l_extendedprice)", 2)} AS sum_price,
        |  count(*) AS n_items
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").hint("merge")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          Num.r(sum(col("l_extendedprice")), 2).as("sum_price"),
          count(lit(1)).as("n_items"))
    },

    // ------------------------------------------------------------------
    // Shuffled hash join: both sides shuffle on the key but the smaller
    // side builds an in-memory hash table instead of sorting — wins over
    // SMJ when one side is much smaller but too big to broadcast.
    QueryDef(
      "q_join_shj",
      s"""SELECT n.n_name,
        |  count(*) AS n_customers,
        |  ${Num.sql("sum(c.c_acctbal)", 2)} AS total_bal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation").hint("shuffle_hash")
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          Num.r(sum(col("c_acctbal")), 2).as("total_bal"))
    },

    // ------------------------------------------------------------------
    // Left-semi join (EXISTS): customers that placed a finished order.
    QueryDef(
      "q_join_semi",
      """SELECT c.c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY c.c_mktsegment""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    },

    // ------------------------------------------------------------------
    // Left-anti join (NOT EXISTS): customers with no high-value order.
    QueryDef(
      "q_join_anti",
      """SELECT c.c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 300000)
        |GROUP BY c.c_mktsegment""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    },

    // ------------------------------------------------------------------
    // Null-aware anti join (NOT IN): the OTHER anti join, with
    // genuinely different three-valued-logic semantics from NOT EXISTS.
    // Customers outside every embargoed nation — but a customer whose
    // nation is UNKNOWN (NULL, injected with q_audit_fk's deterministic
    // key arithmetic) is NOT proven clean: `nk NOT IN (...)` evaluates
    // to UNKNOWN for a NULL probe key and the row is dropped, where
    // NOT EXISTS would keep it (a NULL never equals anything, so no
    // witness exists). That safety-first reading is exactly what a
    // compliance filter wants, and it is unexpressible as a plain
    // left_anti equi-join. Physically Spark recognizes the rewritten
    // condition `k = j OR isnull(k = j)` (single column, broadcastable
    // build side) and plans BroadcastHashJoinExec in null-aware mode
    // (NAAJ) — one hash probe per row with an empty-or-has-null fast
    // path, NOT the quadratic BNLJ the OR-condition would naively
    // force. PlanSpec pins the NAAJ marker and the NOT-EXISTS delta.
    // 100 TB: the embargo list is nation-derived (schema-bounded ≤25
    // rows, auto-broadcast); the fact side streams through the probe
    // with zero shuffle.
    QueryDef(
      "q_join_naaj",
      """WITH c2 AS (
        |  SELECT c_mktsegment,
        |    CASE WHEN c_custkey % 101 = 11 THEN NULL
        |         ELSE c_nationkey END AS nk
        |  FROM customer)
        |SELECT c_mktsegment, count(*) AS n_customers
        |FROM c2
        |WHERE nk NOT IN (SELECT n_nationkey FROM nation
        |                 WHERE n_name LIKE '%1')
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      val c2 = t(s, dir, "customer")
        .select(col("c_mktsegment"),
          when(col("c_custkey") % 101 === 11, lit(null))
            .otherwise(col("c_nationkey")).as("nk"))
      val embargo = t(s, dir, "nation")
        .filter(col("n_name").like("%1"))
        .select(col("n_nationkey"))
      val eq = c2("nk") === embargo("n_nationkey")
      c2.join(embargo, eq || eq.isNull, "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    },

    // ------------------------------------------------------------------
    // MARK JOIN — EXISTS as a KEPT COLUMN, not a filter: the fourth
    // member of the existential-join family (semi filters to matches,
    // anti to non-matches, NAAJ to NOT-IN semantics; MARK keeps BOTH
    // populations and tags them), the shape DuckDB plans with a
    // dedicated MARK operator for `SELECT ..., EXISTS(...)`. Spark has
    // no existence join surface in the DataFrame API, so the Spark-
    // first composition is: collapse the subquery side to DISTINCT
    // keys (one map-combinable aggregate — at 100 TB the key set, not
    // the fact table, is what the join touches), LEFT-join it onto the
    // outer side, and read the null-ness of the joined key as the
    // mark. Distinctness BEFORE the join is the correctness load:
    // joining the raw fact side would duplicate outer rows per match
    // (a fan-out the filtering semi join never exposes). The query:
    // orders marked by "has a returned lineitem", then conversion-
    // style counts per priority × mark — both populations in one
    // result, which is exactly what a filter join cannot produce.
    // 100 TB: one keyed distinct + one keyed equi-join (AQE broadcasts
    // the key set while it fits); the date filter pushes to the
    // lineitem scan ahead of the distinct.
    QueryDef(
      "q_join_mark",
      """SELECT o_orderpriority,
        |  EXISTS (SELECT 1 FROM lineitem
        |          WHERE l_orderkey = o_orderkey
        |            AND l_returnflag = 'R') AS has_return,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val returned = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("rk")).distinct()
      t(s, dir, "orders")
        .join(returned, col("o_orderkey") === col("rk"), "left")
        .groupBy(col("o_orderpriority"),
          col("rk").isNotNull.as("has_return"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long").as("cents"))
    },

    // ------------------------------------------------------------------
    // INCREMENTAL-VIEW-MAINTENANCE delta rule, proven as a query: a
    // two-sided join view fed in waves advances by
    //   ΔV_k = ΔA_k ⋈ B_{<k} ∪ A_{<k} ⋈ ΔB_k ∪ ΔA_k ⋈ ΔB_k
    // (Blakeley SIGMOD'86) — the identity behind every materialized-
    // view maintainer, including this library's own
    // Streaming.ivmIngestBatch. Here the decomposition runs IN-PLAN
    // across three waves, and — r11 ADVICE fix — the two sides arrive
    // by DIFFERENT wave functions (orders by k mod 3, lineitem by
    // k mod 2, the StreamingSpec ivmIngestBatch pattern): had both
    // sides waved on k mod 3, an equi-join on k could never match
    // wave w against wave <w and the six history-join-delta terms
    // would be structurally empty, leaving the identity vacuous. With
    // independent wave functions every term family carries rows
    // (dA₁⋈B₍<1₎ = keys k≡1 (3) ∧ k≡0 (2), dB₁⋈A₍<1₎ = k≡1 (2) ∧
    // k≡0 (3), dA₀⋈dB₀ = k≡0 (6), …), so the union of the delta
    // terms hashing equal to the STRAIGHT-join oracle is a real
    // algebraic proof — multiplicities included (lineitem is
    // multi-row per key). Scale shape: every term is a keyed
    // equi-join of a wave against a bounded prefix of the other
    // side; no term re-joins history with history, which is the
    // delta rule's entire cost argument.
    QueryDef(
      "q_join_ivm",
      """SELECT o_orderkey AS k,
        |  CAST(floor(o_totalprice) AS BIGINT) AS av,
        |  CAST(l_quantity AS BIGINT) AS bv,
        |  count(*) AS n
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "orders").selectExpr("o_orderkey AS k",
        "CAST(floor(o_totalprice) AS BIGINT) AS av")
      val b = t(s, dir, "lineitem").selectExpr("l_orderkey AS k",
        "CAST(l_quantity AS BIGINT) AS bv")
      // independent wave functions per side (see note above): lineitem
      // waves 0 and 1 by k mod 2, wave 2 empty — the delta rule is
      // indifferent to empty deltas, and the asymmetry is what makes
      // the cross terms non-vacuous
      def waveA(w: Int): DataFrame =
        a.filter(pmod(col("k"), lit(3)) === w)
      def upToA(w: Int): DataFrame =
        a.filter(pmod(col("k"), lit(3)) < w)
      def waveB(w: Int): DataFrame =
        b.filter(pmod(col("k"), lit(2)) === w)
      def upToB(w: Int): DataFrame =
        b.filter(pmod(col("k"), lit(2)) < w)
      val cols = Seq(col("k"), col("av"), col("bv"))
      val deltas = (0 until 3).flatMap { w =>
        val dA = waveA(w); val dB = waveB(w)
        val t1 = if (w > 0) Some(dA.join(upToB(w), "k").select(cols: _*))
          else None
        val t2 = if (w > 0) Some(dB.join(upToA(w), "k").select(cols: _*))
          else None
        t1.toSeq ++ t2 ++ Seq(dA.join(dB, "k").select(cols: _*))
      }
      deltas.reduce(_ unionAll _)
        .groupBy(col("k"), col("av"), col("bv"))
        .agg(count(lit(1)).as("n"))
    },

    // ------------------------------------------------------------------
    // Referential-integrity audit — the data-quality gate a pipeline
    // runs before trusting joins: per FK relation, how many fact rows
    // have a NULL key vs a key with no parent, and how many distinct
    // orphan keys exist. The clean testdata has zero violations, so the
    // audit runs against DELIBERATELY corrupted derived snapshots (the
    // q_table_diff pattern): deterministic key arithmetic injects
    // out-of-domain and NULL keys both engines reproduce bit-identically.
    // Each relation costs ONE keyed left join against the dim's key
    // column plus one map-combinable conditional aggregate — the fact
    // table is scanned once per relation, never buffered, and the dim
    // key side is broadcast-eligible (AQE decides from observed sizes).
    // At 100 TB this is the cheapest possible audit shape: no
    // count(distinct) over the fact table, only over the (rare) orphans.
    QueryDef(
      "q_audit_fk",
      """WITH od AS (
        |  SELECT CASE WHEN o_orderkey % 101 = 11 THEN NULL
        |    WHEN o_orderkey % 97 = 13 THEN o_custkey + 1000000
        |    ELSE o_custkey END AS fk
        |  FROM orders),
        |ld AS (
        |  SELECT CASE WHEN (l_orderkey * 7 + l_linenumber) % 89 = 7
        |    THEN -(l_partkey + 1) ELSE l_partkey END AS pfk,
        |  CASE WHEN (l_orderkey * 7 + l_linenumber) % 83 = 5
        |    THEN l_suppkey + 500000 ELSE l_suppkey END AS sfk
        |  FROM lineitem),
        |a1 AS (
        |  SELECT 'orders.o_custkey->customer' AS relation,
        |    count(*) AS n_rows,
        |    count(*) - count(fk) AS n_null_fk,
        |    count(CASE WHEN fk IS NOT NULL AND c_custkey IS NULL
        |      THEN 1 END) AS n_orphan,
        |    count(DISTINCT CASE WHEN fk IS NOT NULL AND c_custkey IS NULL
        |      THEN fk END) AS n_orphan_keys
        |  FROM od LEFT JOIN customer ON fk = c_custkey),
        |a2 AS (
        |  SELECT 'lineitem.l_partkey->part', count(*),
        |    count(*) - count(pfk),
        |    count(CASE WHEN pfk IS NOT NULL AND p_partkey IS NULL
        |      THEN 1 END),
        |    count(DISTINCT CASE WHEN pfk IS NOT NULL AND p_partkey IS NULL
        |      THEN pfk END)
        |  FROM ld LEFT JOIN part ON pfk = p_partkey),
        |a3 AS (
        |  SELECT 'lineitem.l_suppkey->supplier', count(*),
        |    count(*) - count(sfk),
        |    count(CASE WHEN sfk IS NOT NULL AND s_suppkey IS NULL
        |      THEN 1 END),
        |    count(DISTINCT CASE WHEN sfk IS NOT NULL AND s_suppkey IS NULL
        |      THEN sfk END)
        |  FROM ld LEFT JOIN supplier ON sfk = s_suppkey)
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |UNION ALL SELECT * FROM a3""".stripMargin) { (s, dir) =>
      def audit(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
          rel: String): DataFrame = {
        val orphan = col(fk).isNotNull && col(pk).isNull
        fact.join(dim.select(col(pk)), col(fk) === col(pk), "left")
          .agg(count(lit(1)).as("n_rows"),
            (count(lit(1)) - count(col(fk))).as("n_null_fk"),
            count(when(orphan, 1)).as("n_orphan"),
            countDistinct(when(orphan, col(fk))).as("n_orphan_keys"))
          .select(lit(rel).as("relation"), col("n_rows"), col("n_null_fk"),
            col("n_orphan"), col("n_orphan_keys"))
      }
      val od = t(s, dir, "orders").select(
        when(col("o_orderkey") % 101 === 11, lit(null))
          .when(col("o_orderkey") % 97 === 13, col("o_custkey") + 1000000)
          .otherwise(col("o_custkey")).as("fk"))
      val lkey = col("l_orderkey") * 7 + col("l_linenumber")
      val ld = t(s, dir, "lineitem").select(
        when(lkey % 89 === 7, -(col("l_partkey") + 1))
          .otherwise(col("l_partkey")).as("pfk"),
        when(lkey % 83 === 5, col("l_suppkey") + 500000)
          .otherwise(col("l_suppkey")).as("sfk"))
      audit(od, "fk", t(s, dir, "customer"), "c_custkey",
          "orders.o_custkey->customer")
        .unionAll(audit(ld.select(col("pfk")), "pfk",
          t(s, dir, "part"), "p_partkey", "lineitem.l_partkey->part"))
        .unionAll(audit(ld.select(col("sfk")), "sfk",
          t(s, dir, "supplier"), "s_suppkey", "lineitem.l_suppkey->supplier"))
    },

    // ------------------------------------------------------------------
    // Left-outer join: order counts per segment keeping order-less customers.
    QueryDef(
      "q_join_outer",
      s"""SELECT c.c_mktsegment,
        |  count(o.o_orderkey) AS n_orders,
        |  count(*) AS n_rows,
        |  ${Num.sql("sum(coalesce(o.o_totalprice, 0.0))", 2)} AS total_price
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_mktsegment""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_rows"),
          Num.r(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("total_price"))
    },

    // ------------------------------------------------------------------
    // Full-outer join: nations vs customer nation-usage (exercises the
    // null-fill path on both sides of a shuffled outer join).
    QueryDef(
      "q_join_full",
      """WITH cn AS (SELECT c_nationkey, count(*) AS n_cust
        |            FROM customer GROUP BY c_nationkey)
        |SELECT n.n_name, coalesce(cn.n_cust, 0) AS n_cust
        |FROM nation n FULL OUTER JOIN cn ON n.n_nationkey = cn.c_nationkey""".stripMargin) { (s, dir) =>
      val n = t(s, dir, "nation")
      val cn = t(s, dir, "customer")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust0"))
      n.join(cn, n("n_nationkey") === cn("c_nationkey"), "full_outer")
        .select(col("n_name"), coalesce(col("n_cust0"), lit(0L)).as("n_cust"))
    },

    // ------------------------------------------------------------------
    // Theta (non-equi) join → BroadcastNestedLoopJoin: supplier vs customer
    // balances across different nations. A pure theta join has exactly two
    // physical shapes — broadcast one side, or a full cross shuffle — so
    // the smaller side (supplier, 10k·SF vs customer's 150k·SF) is the
    // honest broadcast choice; it IS still ∝SF, which is inherent to the
    // operator, not this plan (allowlisted in the boundedness sweep with
    // that argument). At a scale where supplier stops fitting, the
    // deployment answer is banding the inequality (the q_join_range2
    // bin trick), not a different join strategy.
    QueryDef(
      "q_join_theta",
      s"""SELECT s.s_suppkey,
        |  count(*) AS n_richer,
        |  ${Num.sql("avg(c.c_acctbal)", 2)} AS avg_cust_bal
        |FROM supplier s JOIN customer c
        |  ON s.s_acctbal > c.c_acctbal AND s.s_nationkey <> c.c_nationkey
        |GROUP BY s.s_suppkey""".stripMargin) { (s, dir) =>
      val sup = t(s, dir, "supplier")
      val c = t(s, dir, "customer")
      c.join(broadcast(sup),
          sup("s_acctbal") > c("c_acctbal") &&
          sup("s_nationkey") =!= c("c_nationkey"))
        .groupBy(col("s_suppkey"))
        .agg(
          count(lit(1)).as("n_richer"),
          Num.r(avg(col("c_acctbal")), 2).as("avg_cust_bal"))
    },

    // ------------------------------------------------------------------
    // The theta join DISSOLVED into order statistics — q_join_theta's
    // scale twin, added after the r9 sf0.1→sf1 probe measured the BNLJ
    // at 35× on 10× data (all-pairs work grows quadratically by the
    // operator's nature; SCALING_PROBE.md). The inequality side of the
    // predicate is a running count/sum over the acctbal order, and the
    // <>-nation side is inclusion–exclusion:
    //   n_richer(s) = #cust(bal < s) − #cust(bal < s, nation = s.nat)
    // so the whole join becomes ONE value-chunked merged sweep — the
    // chunkedRank machinery generalized from ranks to prefix sums:
    // customers and suppliers bucket into `parts` acctbal chunks
    // (bounds from a 1-row broadcast aggregate), per-chunk customer
    // totals (≤ parts rows, the reserved-__ chunk-table contract)
    // prefix across chunks, and a per-chunk window (suppliers BEFORE
    // equal-cents customers, making < strict) finishes within-chunk.
    // O(n log n) work, parallel over chunks × nations, no pair ever
    // materializes. Money in EXACT CENTS end to end (the q9 r9 lesson):
    // for 2-decimal money, cent order ≡ double order, so the oracle's
    // textbook quadratic join over the same cents proves the rewrite;
    // PlanSpec additionally pins theta ≡ theta2 in-engine.
    QueryDef(
      "q_join_theta2",
      """SELECT s.s_suppkey,
        |  CAST(count(*) AS BIGINT) AS n_richer,
        |  CAST(sum(CAST(floor(c.c_acctbal * 100e0 + 0.5) AS BIGINT))
        |      AS BIGINT) * 1e0 / count(*) / 100e0 AS avg_cust_bal
        |FROM supplier s JOIN customer c
        |  ON floor(s.s_acctbal * 100e0 + 0.5)
        |       > floor(c.c_acctbal * 100e0 + 0.5)
        |  AND s.s_nationkey <> c.c_nationkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val parts = s.sessionState.conf.numShufflePartitions
      def cents(c: org.apache.spark.sql.Column) =
        floor(c * lit(100.0) + lit(0.5)).cast("long")
      val cust = t(s, dir, "customer").select(
        col("c_nationkey").as("nat"), cents(col("c_acctbal")).as("cents"),
        lit(0).as("kind"), lit(null).cast("long").as("s_suppkey"))
      val supp = t(s, dir, "supplier").select(
        col("s_nationkey").as("nat"), cents(col("s_acctbal")).as("cents"),
        lit(1).as("kind"), col("s_suppkey"))
      // customer-value bounds: 1-row broadcast (sweep-allowlisted shape)
      val bounds = cust.agg(min(col("cents")).as("__lo"),
        max(col("cents")).as("__hi"))
      val chunkOf = greatest(lit(0L), least(
        floor((col("cents") - col("__lo")).cast("double") * parts /
          (col("__hi") - col("__lo") + 1).cast("double")).cast("long"),
        lit(parts - 1L)))
      val u = cust.unionByName(supp)
        .crossJoin(broadcast(bounds))
        .withColumn("__chunk", chunkOf)
        .drop("__lo", "__hi")
      // cross-chunk prefixes: global (≤ parts rows) and per-nation
      // (≤ |nations|·parts rows) customer totals — the reserved-__
      // chunk-statistics contract the broadcast sweep recognizes. The
      // prefix spines are DENSE over every (nation ×) chunk — a
      // supplier landing in a chunk with no customers must still see
      // every earlier chunk's totals, so the per-chunk aggregates
      // left-join onto a range/dim grid and missing cells fill 0. The
      // global prefix window is unpartitioned over ≤ parts rows
      // (windows-sweep allowlist entry, same argument as chunkedRank).
      val wg = Window.orderBy(col("__gc"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val gAgg = u.filter(col("kind") === 0)
        .groupBy(col("__chunk")).agg(count(lit(1)).as("__cn"),
          sum(col("cents")).as("__cs"))
      val gPre = s.range(parts).select(col("id").as("__gc"))
        .join(gAgg, col("__gc") === col("__chunk"), "left")
        .select(col("__gc"), coalesce(col("__cn"), lit(0L)).as("__cn"),
          coalesce(col("__cs"), lit(0L)).as("__cs"))
        .select(col("__gc"),
          coalesce(sum(col("__cn")).over(wg), lit(0L)).as("__gpn"),
          coalesce(sum(col("__cs")).over(wg), lit(0L)).as("__gps"))
      val wn = Window.partitionBy(col("__nn")).orderBy(col("__nc"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val nAgg = u.filter(col("kind") === 0)
        .groupBy(col("nat"), col("__chunk")).agg(count(lit(1)).as("__cn"),
          sum(col("cents")).as("__cs"))
      val nPre = t(s, dir, "nation")
        .select(col("n_nationkey").as("__nn"))
        .crossJoin(s.range(parts).select(col("id").as("__nc")))
        .join(nAgg, col("__nn") === col("nat") &&
          col("__nc") === col("__chunk"), "left")
        .select(col("__nn"), col("__nc"),
          coalesce(col("__cn"), lit(0L)).as("__cn"),
          coalesce(col("__cs"), lit(0L)).as("__cs"))
        .select(col("__nn"), col("__nc"),
          coalesce(sum(col("__cn")).over(wn), lit(0L)).as("__npn"),
          coalesce(sum(col("__cs")).over(wn), lit(0L)).as("__nps"))
      // within-chunk merged sweep: suppliers sort BEFORE equal-cents
      // customers (kind desc), so the running customer count at a
      // supplier row realizes the STRICT < of the original predicate
      val runW = Window.partitionBy(col("__chunk"))
        .orderBy(col("cents").asc, col("kind").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val runN = Window.partitionBy(col("nat"), col("__chunk"))
        .orderBy(col("cents").asc, col("kind").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isC = when(col("kind") === 0, 1L).otherwise(0L)
      val cC = when(col("kind") === 0, col("cents")).otherwise(0L)
      u.withColumn("__rn", sum(isC).over(runW))
        .withColumn("__rs", sum(cC).over(runW))
        .withColumn("__rnn", sum(isC).over(runN))
        .withColumn("__rns", sum(cC).over(runN))
        .filter(col("kind") === 1)
        .join(broadcast(gPre), col("__chunk") === col("__gc"))
        .join(broadcast(nPre),
          col("nat") === col("__nn") && col("__chunk") === col("__nc"))
        .select(col("s_suppkey"),
          (col("__gpn") + col("__rn") - col("__npn") - col("__rnn"))
            .as("n_richer"),
          (col("__gps") + col("__rs") - col("__nps") - col("__rns"))
            .as("sum_c"))
        .filter(col("n_richer") > 0)
        .select(col("s_suppkey"), col("n_richer"),
          (col("sum_c") * lit(1.0) / col("n_richer") / lit(100.0))
            .as("avg_cust_bal"))
    },

    // ------------------------------------------------------------------
    // Range/interval join: purchases within 10 minutes after a click by the
    // same user. Equi on user_id bounds the pair space; the ts range is a
    // post-join predicate — at scale this stays a shuffled equi-join keyed
    // by user, never a cross product.
    QueryDef(
      "q_join_range",
      """SELECT c.user_id, count(*) AS n_pairs,
        |  min(epoch_us(p.ts) - epoch_us(c.ts)) AS min_gap_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        | AND p.event_type = 'purchase'
        | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |GROUP BY c.user_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      clicks.join(purchases,
          col("user_id") === col("p_user") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_pairs"),
          min(unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("min_gap_us"))
    },

    // ------------------------------------------------------------------
    // The same interval join BINNED into an equi-join — the scale path.
    // q_join_range's non-equi condition plans as a per-user nested loop:
    // fine when the equi-key (user_id) slices the data thin, quadratic
    // when it doesn't. Bucketing time into bins the width of the join
    // range (10 min) turns it into a pure equi-join on (user, bin):
    // any in-range (click, purchase) pair is at most one bin apart, so
    // the purchase side explodes into its own and the previous bin (2×
    // fan-out, never more) and the exact predicate re-filters after the
    // keyed join. Same oracle as q_join_range — identical results, the
    // candidate generation is what changed. Bins come from integer
    // `div` (not floor of a double quotient) so bin boundaries are
    // exact at any epoch magnitude.
    QueryDef(
      "q_join_range2",
      """SELECT c.user_id, count(*) AS n_pairs,
        |  min(epoch_us(p.ts) - epoch_us(c.ts)) AS min_gap_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        | AND p.event_type = 'purchase'
        | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |GROUP BY c.user_id""".stripMargin) { (s, dir) =>
      val binUs = 600000000L // 10 minutes of microseconds = the range width
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          expr(s"unix_micros(ts) div $binUs").as("c_bin"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          expr(s"unix_micros(ts) div $binUs").as("p_bin0"))
        .withColumn("p_bin", explode(array(col("p_bin0"), col("p_bin0") - 1)))
      clicks.join(purchases,
          col("user_id") === col("p_user") &&
          col("c_bin") === col("p_bin") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_pairs"),
          min(unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("min_gap_us"))
    },

    // ------------------------------------------------------------------
    // INTERVAL OVERLAP JOIN (new r13) — the range-RANGE member of the
    // temporal-join family: where q_join_range matches a POINT into a
    // window, this matches two interval SETS on non-empty intersection
    // ([cs,ce] ∩ [ps,pe] ≠ ∅ ⟺ cs ≤ pe AND ps ≤ ce) — the
    // genomics/session-overlap staple (BEDTools intersect, temporal
    // OVERLAPS) that Spark has no native operator for. Spark-first
    // rewrite: BIN both interval sets at W = 10 min ≥ the longest
    // interval, exploding each interval into its covered bins
    // (⌈len/W⌉+1 ≤ 2 here) — overlapping intervals must share the bin
    // of ANY point in their intersection, so candidates form a pure
    // (user, bin)-keyed EQUI-join, provably lossless for any W (the
    // q_geo_pip2 cell-cover argument on the time axis); a DISTINCT on
    // the id pair collapses multi-bin duplicates before the exact
    // predicate re-filters. Overlap durations are exact integer µs
    // (min(ce,pe) − max(cs,ps) on unix_micros), so the per-user sums
    // hash with zero float armor. The oracle runs the textbook
    // non-equi join — the hash match proves the bin cover loses and
    // invents nothing. At 100 TB the non-equi form degenerates to a
    // per-user nested loop exactly like q_join_range's; the binned
    // form shuffles each side once on (user, bin).
    QueryDef(
      "q_join_overlap",
      """WITH c AS (
        |  SELECT user_id, event_id AS cid, epoch_us(ts) AS cs,
        |    epoch_us(ts) + 420000000 AS ce
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) - 180000000 AS ps,
        |    epoch_us(ts) + 180000000 AS pe
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, count(*) AS n_pairs,
        |  CAST(sum(least(ce, pe) - greatest(cs, ps)) AS BIGINT)
        |    AS overlap_us
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND cs <= pe AND ps <= ce
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val binUs = 600000000L // 10 min ≥ the longest interval (7 min)
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("cid"),
          unix_micros(col("ts")).as("cs"),
          (unix_micros(col("ts")) + 420000000L).as("ce"))
        .withColumn("bin",
          explode(sequence(expr(s"cs DIV $binUs"), expr(s"ce DIV $binUs"))))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("pid"),
          (unix_micros(col("ts")) - 180000000L).as("ps"),
          (unix_micros(col("ts")) + 180000000L).as("pe"))
        .withColumn("bin",
          explode(sequence(expr(s"ps DIV $binUs"), expr(s"pe DIV $binUs"))))
      clicks.join(purchases,
          col("user_id") === col("p_user") && clicks("bin") === purchases("bin"))
        .select(col("user_id"), col("cid"), col("pid"),
          col("cs"), col("ce"), col("ps"), col("pe"))
        .distinct() // multi-bin pairs collapse before the predicate
        .filter(col("cs") <= col("pe") && col("ps") <= col("ce"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(least(col("ce"), col("pe")) - greatest(col("cs"), col("ps")))
            .cast("long").as("overlap_us"))
    },

    // ------------------------------------------------------------------
    // As-of join: for each purchase, the most recent prior click by the same
    // user within 1 day. Composed Spark-first: bounded range join + ranking
    // window (the bound keeps the candidate set finite at 100 TB; a custom
    // SparkStrategy is only needed when no bound exists).
    QueryDef(
      "q_join_asof",
      """WITH cand AS (
        |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |    epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM events p JOIN events c
        |    ON p.user_id = c.user_id AND p.event_type = 'purchase'
        |   AND c.event_type = 'click' AND c.ts <= p.ts
        |   AND c.ts > p.ts - INTERVAL 1 DAY)
        |SELECT purchase_id, click_id, gap_us FROM cand WHERE rn = 1""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      val w = Window.partitionBy(col("purchase_id"))
        .orderBy(col("c_ts").desc, col("click_id").desc)
      purchases.join(clicks,
          col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") > col("p_ts") - expr("INTERVAL 1 DAY"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("purchase_id"), col("click_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
    },

    // ------------------------------------------------------------------
    // Distinct aggregation (exact).
    QueryDef(
      "q_agg_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT l_suppkey) AS nd_supp,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("n_rows"))
    },

    // ------------------------------------------------------------------
    // Sort-based aggregation path: collect_list forces ObjectHashAggregate /
    // SortAggregate (non-mutable buffer). Canonicalized to a string so the
    // oracle compares order-independently.
    QueryDef(
      "q_agg_sort",
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)
        |    FILTER (o_orderstatus IS NOT NULL)), ',') AS statuses,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
          count(lit(1)).as("n"))
    },

    // ------------------------------------------------------------------
    // The BOUNDED-state twin of the collect aggregate above — the shape
    // SCALING.md prescribes as its production replacement. collect_set/
    // collect_list buffer every distinct value per group (unbounded at
    // 100 TB); the graft_topk TypedImperativeAggregate keeps a k-element
    // heap per group and combines map-side, so each partition forwards
    // at most k pairs per group no matter how many rows it scanned.
    // Per-group top-5 orders by value; ties break toward the smaller
    // orderkey in BOTH engines, making the materialized id list exact.
    QueryDef(
      "q_agg_sort2",
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |SELECT o_orderpriority,
        |  array_to_string(list(o_orderkey ORDER BY rn), ',') AS top_ids
        |FROM r WHERE rn <= 5 GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("graft_topk(cast(o_totalprice as double), o_orderkey, 5)").as("top"))
        .select(col("o_orderpriority"),
          array_join(transform(col("top"),
            x => x.getField("id").cast("string")), ",").as("top_ids"))
    },

    // ------------------------------------------------------------------
    // Ordered string aggregation — Spark 4's ANSI listagg(... ) WITHIN
    // GROUP (ORDER BY ...) ≡ DuckDB's string_agg(... ORDER BY ...): the
    // lookup-table serialization shape (denormalize a dimension into
    // one delimited attribute per parent). Deterministic ONLY because
    // the order-by key is total within each group — an unordered
    // listagg is partition-order-dependent and can never hash-check.
    // State discipline: like collect_set, listagg buffers its group's
    // values — run it on dimension-bounded inputs only (here region ×
    // nation); an unbounded-group serialization belongs to graft_topk
    // (q_agg_sort2) instead.
    QueryDef(
      "q_agg_listagg",
      """SELECT r_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin) { (s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)")
          .as("nations"),
          count(lit(1)).as("n"))
    },

    // ------------------------------------------------------------------
    // Rollup.
    QueryDef(
      "q_agg_rollup",
      s"""SELECT l_returnflag, l_linestatus,
        |  ${Num.sql("sum(l_quantity)", 2)} AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(Num.r(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
    },

    // ------------------------------------------------------------------
    // Cube.
    QueryDef(
      "q_agg_cube",
      s"""SELECT l_returnflag, l_linestatus,
        |  ${Num.sql("sum(l_extendedprice)", 2)} AS sum_price, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(Num.r(sum(col("l_extendedprice")), 2).as("sum_price"), count(lit(1)).as("n"))
    },

    // ------------------------------------------------------------------
    // Statistical aggregates.
    QueryDef(
      "q_agg_stats",
      s"""SELECT l_linestatus,
        |  ${Num.sql("min(l_extendedprice)", 2)} AS min_price,
        |  ${Num.sql("max(l_extendedprice)", 2)} AS max_price,
        |  ${Num.sql("avg(l_extendedprice)", 2)} AS avg_price,
        |  ${Num.sql("stddev_samp(l_extendedprice)", 2)} AS sd_price,
        |  ${Num.sql("var_samp(l_discount)", 6)} AS var_disc
        |FROM lineitem GROUP BY l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          Num.r(min(col("l_extendedprice")), 2).as("min_price"),
          Num.r(max(col("l_extendedprice")), 2).as("max_price"),
          Num.r(avg(col("l_extendedprice")), 2).as("avg_price"),
          Num.r(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          Num.r(var_samp(col("l_discount")), 6).as("var_disc"))
    },

    // ------------------------------------------------------------------
    // Ranking windows: top-3 orders per customer (row_number/rank/dense_rank)
    // with a total tie-break so the result is deterministic.
    QueryDef(
      "q_window_rank",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER w AS rn,
        |    rank() OVER w AS rnk,
        |    dense_rank() OVER w AS drnk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey ASC)
        |) WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"))
        .filter(col("rn") <= 3)
    },

    // ------------------------------------------------------------------
    // Analytic windows with frames: running total, lag/lead, 3-row moving avg.
    QueryDef(
      "q_window_frame",
      s"""SELECT o_custkey, o_orderkey,
        |  ${Num.sql("sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)} AS running_total,
        |  ${Num.sql("lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)", 2)} AS prev_price,
        |  ${Num.sql("avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)", 2)} AS ma3
        |FROM orders""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        Num.r(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_total"),
        Num.r(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        Num.r(avg(col("o_totalprice")).over(w.rowsBetween(-2, 0)), 2).as("ma3"))
    },

    // ------------------------------------------------------------------
    // RANGE-framed window: 7-day trailing sum over events, ordered by
    // epoch seconds (numeric range frame — identical semantics both
    // engines, peers included). This is the SEMANTICS PIN for Spark's
    // native sliding RANGE frame; the production plan for the same
    // result is q_window_range2 (two running sums, O(n) instead of
    // O(n·frame)), and PlanSpec pins their equivalence on the FULL
    // table. A sliding RANGE frame re-aggregates its buffer per row, so
    // the pin runs on a one-event-type slice — RANGE semantics are
    // identical on 2k rows and 100k rows, and the r3 bench showed the
    // full-table version alone was 16% of the whole suite's time.
    QueryDef(
      "q_window_range",
      s"""SELECT event_id, event_type,
        |  ${Num.sql("sum(\"value\") OVER (PARTITION BY event_type ORDER BY CAST(floor(epoch(ts)) AS BIGINT) RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)", 2)} AS trailing_7d
        |FROM events WHERE event_type = 'click'""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-604800L, 0L)
      t(s, dir, "events")
        .filter(col("event_type") === "click")
        .select(
          col("event_id"), col("event_type"),
          Num.r(sum(col("value")).over(w), 2).as("trailing_7d"))
    },

    // ------------------------------------------------------------------
    // Sort + limit → TakeOrderedAndProject (a real distributed top-k: each
    // partition keeps k, only k·P rows reach the driver-side merge).
    QueryDef(
      "q_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice"))
    },

    // ------------------------------------------------------------------
    // Set ops. UNION dedups (Spark union+distinct ≡ SQL UNION).
    QueryDef(
      "q_set_union",
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      a.union(b).distinct()
    },

    QueryDef(
      "q_set_intersect",
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      a.intersect(b)
    },

    QueryDef(
      "q_set_except",
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      a.except(b)
    }
  )
}
