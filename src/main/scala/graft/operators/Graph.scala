package graft.operators

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics beyond connected components ([[Dedup.connectedComponents]]):
  * 17 queries over two graphs derived from the fact table, plus the
  * customer successor graph of q_graph_scc.
  *
  *   - The SUPPLIER↔PART graph: the distinct (l_partkey, l_suppkey)
  *     pairs of lineitem. Node ids are LONGS, 2·partkey for parts and
  *     2·suppkey+1 for suppliers — an id scheme, not a display string:
  *     long keys hash, shuffle, and cache at a fraction of the cost of
  *     concat'd strings (measured: the string-id version spent most of
  *     its time building the adjacency cache). [[supplierPart]] builds
  *     it on the engine side and [[supplierPartSql]] as the oracles'
  *     CTE: both directions as (src, dst), or the part→supplier half as
  *     (u, v), optionally with one more per-edge column `w`.
  *   - The ORDER CO-PURCHASE graph: parts bought together in an order
  *     with quantity ≥ 30, as distinct (a, b) pairs with a < b.
  *     [[coPurchase]] builds it in ONE shuffle (per-order sorted part
  *     set, in-place half-matrix pair explode), never an |E|-sized
  *     self-join of the fact table; [[coPurchaseSql]] is the oracles'
  *     `li`/`e` CTE pair.
  *
  * Iterative queries run a FIXED round count so both engines replay the
  * same rounds (deterministic initialization + a fixed iteration count
  * makes an iterative algorithm hash-checkable cross-engine, the
  * pattern the trained-k-means oracle established); the oracle unrolls
  * them as generated DuckDB CTEs. Engine-side eager loops go through
  * [[rounds]], which states the one materialization rule.
  */
object Graph {

  private val damping = 0.85
  private val iters = 3

  /** The supplier↔part graph (see the object doc): both directions as
    * (src, dst), or with `half` only part→supplier as (u, v); `w`, an
    * expression over l_partkey and l_suppkey, rides along as column `w`
    * on both directions. */
  private def supplierPart(s: SparkSession, dir: String,
      w: Option[Column] = None, half: Boolean = false): DataFrame = {
    val e0 = Tables(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val (part, supp) = (col("l_partkey") * 2, col("l_suppkey") * 2 + 1)
    if (half) e0.select(part.as("u"), supp.as("v"))
    else {
      val extra = w.map(_.as("w")).toSeq
      e0.select(Seq(part.as("src"), supp.as("dst")) ++ extra: _*)
        .union(e0.select(Seq(supp.as("src"), part.as("dst")) ++ extra: _*))
    }
  }

  /** [[supplierPart]] as the oracles' CTE pair: `e0` and the edge CTE
    * `name`, for a WITH clause. */
  private def supplierPartSql(name: String = "edges", w: Option[String] = None,
      half: Boolean = false): String = {
    val (part, supp) = ("2*l_partkey", "2*l_suppkey + 1")
    val extra = w.fold("")(x => s", $x AS w")
    val edges =
      if (half) s"SELECT $part AS u, $supp AS v FROM e0"
      else s"""
        |  SELECT $part AS src, $supp AS dst$extra FROM e0
        |  UNION ALL
        |  SELECT $supp AS src, $part AS dst$extra FROM e0"""
    s"""e0 AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |$name AS ($edges)""".stripMargin
  }

  /** The order co-purchase graph (see the object doc) as distinct
    * (a, b) pairs, a < b. The explicit-width exchange goes BEFORE the
    * aggregate (conf-derived, [[graft.Tables.fan]]): the part-set
    * aggregate is tiny in BYTES (~2.8 MB) but feeds the quadratic
    * half-matrix pair explode, and AQE's byte-based coalescing folded its
    * exchange read to 2 tasks — the explode+distinct ran 2-wide for
    * 2.4 s, behind a 3-task scan whose partial collect_set paid another
    * 2.3 s (r15 profile; the central finding's explode case). Pinning
    * AFTER the groupBy is a no-op — the optimizer drops a repartition
    * whose partitioning the aggregate already provides, and the
    * remaining coalescible exchange stays coalescible — so the pin rides
    * the raw 2-column rows (~4 MB) into the groupBy, which then reuses
    * the pinned clustering: scan fan-out, partial agg, final agg, pair
    * explode and the distinct's map side all run at session width. */
  private def coPurchase(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables(s, dir, "lineitem")
      .filter(col("l_quantity") >= 30)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      .transform(graft.Tables.fan(_, "okey"))
      .groupBy(col("okey"))
      .agg(array_sort(collect_set(col("pk"))).as("pks"))
      .filter(size(col("pks")) >= 2)
    // pairs exploded in place (element i with every later element — the
    // q_source_overlap half-matrix idiom), so a and b are already
    // canonical (a < b) without a comparison pass
    val pairsCol = flatten(transform(col("pks"), (x, i) =>
      transform(slice(col("pks"), i + lit(2), size(col("pks"))),
        y => struct(x.as("a"), y.as("b")))))
    parts.select(explode(pairsCol).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** [[coPurchase]] as the oracles' `li`/`e` CTE pair, for a WITH
    * clause: the textbook self-join, a < b. */
  private val coPurchaseSql: String =
    """li AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
      |  FROM lineitem WHERE l_quantity >= 30),
      |e AS (
      |  SELECT DISTINCT x.pk AS a, y.pk AS b
      |  FROM li x JOIN li y ON x.okey = y.okey AND x.pk < y.pk)""".stripMargin

  /** The eager round loop: `init` and the `k` states after it, round i
    * computed by `step(previous state, i)`. Each round's output is
    * `localCheckpoint`ed, so each round runs as exactly one eager job
    * when the helper returns, and the next round reads its rows, not its
    * lineage.
    *
    * The materialization rule, stated once for the graph family:
    * checkpoint a round table iff it has ≥2 consumers and is bounded by
    * |V|. A round table the next round reads twice (a join probe plus a
    * union, a frontier filter, a squaring self-join, the caller's final
    * union), left lazy, makes the unrolled plan a 2^k tree, and the
    * engine does not share the duplicated subtrees: the r15 BFS profile
    * caught round 1 executing 4× at k = 3 (the q_pref_btl/BPE doubling
    * regime). A table with one consumer stays lazy (q_graph_pagerank's
    * rank chain is one plan and builds with no jobs), and an |E|-sized
    * table is cached, not checkpointed (q_graph_anf's counters). */
  private def rounds(init: DataFrame, k: Int)(
      step: (DataFrame, Int) => DataFrame): Seq[DataFrame] =
    (1 to k).scanLeft(init)((prev, i) => step(prev, i).localCheckpoint())

  /** One PageRank step as a DuckDB CTE over the previous rank relation:
    * pr_k(v) = (1-d)/N + d·Σ_{u→v} pr_{k-1}(u)/deg(u). */
  private def stepSql(k: Int): String =
    s"""pr$k AS (
      |  SELECT e.dst AS node,
      |    ${1 - damping}/max(nn.n) + $damping*sum(p.pr/d.d) AS pr
      |  FROM edges e
      |  JOIN pr${k - 1} p ON e.src = p.node
      |  JOIN deg d ON e.src = d.src, nn
      |  GROUP BY 1)""".stripMargin

  private val corePeels = 3
  private val coreQ = 0.2 // k = this quantile of the initial degrees

  private val bfsRounds = 3
  private val ssspRounds = 3
  private val linkCapP = 25 // hub cap: max suppliers per part in linkpred
  private val linkMinCommon = 2

  /** One Bellman–Ford relaxation round as DuckDB CTEs: candidate
    * distances through the previous label set, folded by min per node.
    * Identical derivation to the Spark side — the cross-derivation
    * proof lives in GraphSpec's Dijkstra pin. */
  private def ssspSql(k: Int): String =
    s"""s$k AS (
      |  SELECT node, min(dist) AS dist FROM (
      |    SELECT node, dist FROM s${k - 1}
      |    UNION ALL
      |    SELECT e.dst AS node, p.dist + e.w AS dist
      |    FROM edges e JOIN s${k - 1} p ON e.src = p.node)
      |  GROUP BY node)""".stripMargin

  /** One BFS round as DuckDB CTEs over the previous frontier/visited
    * pair: new frontier = neighbors of the old frontier not yet
    * visited; visited grows by the new frontier at distance k. */
  private def bfsSql(k: Int): String =
    s"""f$k AS (
      |  SELECT DISTINCT e.dst AS node FROM edges e
      |  JOIN f${k - 1} f ON e.src = f.node
      |  WHERE e.dst NOT IN (SELECT node FROM r${k - 1})),
      |r$k AS (
      |  SELECT node, dist FROM r${k - 1}
      |  UNION ALL SELECT node, $k FROM f$k)""".stripMargin

  /** One peel generation as DuckDB CTEs over the previous edge set:
    * degrees, survivors (deg ≥ k), and the edge set induced on them
    * (the symmetric graph makes src-side degree THE degree). */
  private def peelSql(i: Int): String =
    s"""dg$i AS (SELECT src AS node, count(*) AS d FROM ed$i GROUP BY 1),
      |sv$i AS (SELECT node FROM dg$i, kk WHERE d >= k),
      |ed${i + 1} AS (
      |  SELECT e.src, e.dst FROM ed$i e
      |  JOIN sv$i a ON e.src = a.node
      |  JOIN sv$i b ON e.dst = b.node)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // PageRank over the supplier↔part graph. Link-graph centrality is a
    // standard corpus-quality signal in web-scale training pipelines
    // (rank sources by authority before sampling), and its Spark shape
    // is the canonical iterative keyed join:
    //   - the adjacency (symmetrized edges + out-degree) is
    //     hash-partitioned by src ONCE and cached; every iteration reuses
    //     that partitioning;
    //   - one iteration = adj ⋈ ranks (shuffle_hash, build = the
    //     |V|-sized rank side) → groupBy dst (map-combinable sum) — cost
    //     scales with |E|, never |V|², and nothing re-sorts or
    //     re-shuffles the cached |E| rows. The hint matters twice:
    //     without it the planner picks a sort-merge join and re-sorts the
    //     cached adjacency EVERY iteration, and unlike `broadcast(ranks)`
    //     the hash join still holds when |V| is beyond broadcast size at
    //     100 TB;
    //   - the iteration count is FIXED (k=3) and the loop is unrolled
    //     into one lazy plan: each rank table has one consumer, so it
    //     stays lazy under the [[rounds]] rule and building the query
    //     runs no jobs;
    //   - the graph is symmetric by construction, so there are no
    //     dangling nodes (every node has out-degree ≥ 1) and rank mass is
    //     conserved (GraphSpec pins Σpr = 1) — the one PageRank subtlety
    //     that silently corrupts results at any scale if ignored.
    // The oracle replays the SAME fixed iterations as generated DuckDB
    // CTEs (pr1..pr3). Rounding is at 1e-9 (not the usual 1e-6) because
    // ranks live at the 1/|V| ≈ 5e-4 scale — six decimals would keep
    // only two significant digits; float summation-order noise is
    // ~1e-15, six orders below the rounding step.
    QueryDef(
      "q_graph_pagerank",
      s"""WITH ${supplierPartSql()},
        |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM deg),
        |pr0 AS (SELECT src AS node, 1.0/nn.n AS pr FROM deg, nn),
        |${(1 to iters).map(stepSql).mkString(",\n")}
        |SELECT node, ${Num.sql("pr", 9)} AS pr FROM pr$iters""".stripMargin) {
      (s, dir) =>
      val sym = supplierPart(s, dir)
      // hash-partition by src once; deg reuses the exchange, the degree
      // join is co-partitioned (shuffle_hash: build the small deg side,
      // no sort of the |E| rows), and the result is THE cached relation
      // every iteration streams. At 100 TB this is the adjacency you'd
      // persist bucketed by src.
      val edges = sym.repartition(col("src"))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      // cache lifetime: every iteration of the ONE returned lazy plan
      // streams this relation; the consumer's action materializes it and
      // Verify/Bench/specs clearCache afterwards (the accepted pattern
      // for caches that feed multiple branches of a returned plan)
      val adj = edges.join(deg.hint("shuffle_hash"), "src").cache()
      // |V| stays IN-PLAN as a broadcast 1-row aggregate (the oracle's
      // `nn` CTE, q_active_trailing's horizon pattern): building the
      // query runs ZERO jobs, so plan-only consumers (PlanSpec's sweep)
      // pay nothing, and the one real action materializes the cached
      // adjacency exactly once instead of after two eager warm-ups.
      // node list + |V| read from the CACHE (not the deg subtree), so
      // the action's only scan of lineitem is the one that fills it
      val nodes = adj.select(col("src")).dropDuplicates("src")
      val nn = nodes.agg(count(lit(1)).as("n"))
      val contrib = (lit(1 - damping) / max(col("n"))) +
        lit(damping) * sum(col("pr") / col("d"))
      var pr: DataFrame = nodes.select(col("src").as("node"))
        .crossJoin(broadcast(nn))
        .select(col("node"), (lit(1.0) / col("n")).as("pr"), col("n"))
      for (_ <- 1 to iters)
        pr = adj.join(pr.hint("shuffle_hash"), adj("src") === pr("node"))
          .groupBy(col("dst"))
          .agg(contrib.as("pr"), max(col("n")).as("n"))
          .select(col("dst").as("node"), col("pr"), col("n"))
      pr.select(col("node"), Num.r(col("pr"), 9).as("pr"))
    },

    // ------------------------------------------------------------------
    // Triangle counting + local clustering coefficient over the
    // co-purchase graph. Community density is the other standard link-graph
    // quality signal next to PageRank — near-duplicate content farms show
    // up as abnormally dense neighborhoods. The Spark shape is the
    // node-iterator / "compact-forward" scheme (Schank & Wagner, "Finding,
    // counting and listing all triangles in large graphs", WEA 2005;
    // Suri & Vassilvitskii's MapReduce variant, WWW 2011):
    //   - edges come from [[coPurchase]]'s one shuffle;
    //   - each edge is oriented from its lower-(degree, id) endpoint, so
    //     every out-neighborhood is O(√m) and the closure work — the
    //     step that decides whether the algorithm survives skew — is
    //     Σ outdeg² ≤ m·√m instead of Σ deg² (unbounded under hubs);
    //   - orientation makes each triangle a DAG u→v, u→w, v→w, found
    //     EXACTLY once by intersecting out-neighborhoods along its
    //     source edge (u,v) — so closure is one pass over the edge
    //     relation carrying two O(√m) neighbor arrays, with the
    //     intersection inside codegen. No wedge relation ever
    //     materializes or shuffles (the first cut generated Σ outdeg²
    //     wedge rows and semi-joined them — 3× slower at sf0.1).
    // The |V|-row adjacency broadcasts here; at extreme scale it falls
    // back to a keyed join against the src/dst-bucketed edge list and
    // the plan shape survives. The oracle counts the same triangles as
    // the textbook a<b<c triple join — orientation must not change the
    // answer, which is exactly what the hash check pins.
    QueryDef(
      "q_graph_triangles",
      s"""WITH $coPurchaseSql,
        |deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT ab.a, ab.b, bc.b AS c
        |  FROM e ab
        |  JOIN e bc ON ab.b = bc.a
        |  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
        |pn AS (
        |  SELECT node, count(*) AS n_tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY 1)
        |SELECT p.node, p.n_tri,
        |  ${Num.sql("p.n_tri * 2e0 / (d.d * (d.d - 1))", 6)} AS cc
        |FROM pn p JOIN deg d ON p.node = d.node""".stripMargin) { (s, dir) =>
      val edges = coPurchase(s, dir)
        .cache() // feeds degrees, orientation, and the closing probe
      // |V|-sized degree table — GROWS WITH THE CORPUS (nodes are
      // parts, 200k·SF), so it joins shuffle_hash, never broadcast: a
      // forced broadcast of a ∝SF side bypasses
      // autoBroadcastJoinThreshold and driver-OOMs at 100× (the
      // pagerank rule, now applied uniformly).
      // shuffle_hash builds the hash table from the |V| side only and
      // co-partitions with the edge relation. Cached: it feeds two
      // orientation joins plus the final cc join — uncached, every one
      // re-derives the degree aggregation from the edge relation
      val deg = edges.select(col("a").as("node"))
        .union(edges.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .cache()
      // orient from the lower-(degree, id) endpoint: bounds every
      // out-neighborhood by O(√m), the skew armor of this algorithm
      val lowFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      // cached (r15): two consumers (the adjacency build and the
      // closing probe) each re-ran the double degree join uncached
      val oriented = edges
        .join(deg.select(col("node").as("a"), col("d").as("da"))
          .hint("shuffle_hash"), "a")
        .join(deg.select(col("node").as("b"), col("d").as("db"))
          .hint("shuffle_hash"), "b")
        .select(
          when(lowFirst, col("a")).otherwise(col("b")).as("src"),
          when(lowFirst, col("b")).otherwise(col("a")).as("dst"))
        .cache()
      // per-node out-neighbor arrays (|V| rows × O(√m) longs) — also
      // ∝ corpus, so both closure probes are shuffle_hash on the edge
      // endpoint keys. Cached for the same reason as deg: two join
      // consumers, one derivation
      val adj = oriented.groupBy(col("src"))
        .agg(collect_list(col("dst")).as("nbrs"))
        .cache()
      // closure: each triangle u→v,u→w,v→w surfaces exactly once at its
      // source edge (u,v) as w ∈ N⁺(u) ∩ N⁺(v); the intersect runs in
      // the generated loop, and an edge whose dst has no out-neighbors
      // is correctly dropped by the inner join (it can close nothing)
      val closed = oriented
        .join(adj.select(col("src"), col("nbrs").as("nu"))
          .hint("shuffle_hash"), "src")
        .join(adj.select(col("src").as("dst"), col("nbrs").as("nv"))
          .hint("shuffle_hash"), "dst")
        .select(col("src"), col("dst").as("v"),
          explode(array_intersect(col("nu"), col("nv"))).as("w"))
      val perNode = closed
        .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      perNode.join(deg.hint("shuffle_hash"), "node")
        .select(col("node"), col("n_tri"),
          Num.r(col("n_tri") * lit(2.0) / (col("d") * (col("d") - 1)), 6)
            .as("cc"))
    },

    // ------------------------------------------------------------------
    // k-core peeling (Seidman, "Network structure and minimum degree",
    // Social Networks 1983): iteratively remove nodes of degree < k
    // until the k-core remains — the dense-subgraph extractor that
    // separates well-connected entities from the sparse periphery (in a
    // corpus link graph: the stably-interlinked sources worth trusting).
    // k is DATA-DERIVED (the 20th-percentile initial degree, picked by
    // exact sorted position so both engines choose the identical
    // element) — a fixed literal k would be scale-fragile on this
    // uniformly-dense TPC-H graph: trivial at one sf, graph-erasing at
    // another. FIXED peel generations (the pagerank/k-means
    // discipline), 3 peels — convergence at the tested scales is
    // pinned by GraphSpec re-deriving the induced core independently.
    // Scale shape per peel: degree is a map-combinable count; the
    // survivor filter comes back as TWO keyed semi-joins (src side,
    // dst side) — everything keyed, nothing quadratic; k broadcasts as
    // a 1-row relation (the q_active_trailing horizon pattern; at
    // 100 TB the exact |V|-sort quantile swaps for approx_percentile
    // or a chunked rank — only the 1-row k changes producer). The edge
    // relation is a [[rounds]] state: each generation references its
    // predecessor THREE times (directly + via both survivor sides), so
    // left lazy the plan tree grows 3^rounds.
    QueryDef(
      "q_graph_kcore",
      s"""WITH ${supplierPartSql("ed0")},
        |dg AS (SELECT src AS node, count(*) AS d FROM ed0 GROUP BY 1),
        |kk AS (
        |  SELECT d AS k FROM (
        |    SELECT d, row_number() OVER (ORDER BY d, node) AS r,
        |      count(*) OVER () AS n
        |    FROM dg)
        |  WHERE r = 1 + CAST(floor($coreQ * (n - 1)) AS BIGINT)),
        |${(0 until corePeels).map(peelSql).mkString(",\n")},
        |dgf AS (SELECT src AS node, count(*) AS d FROM ed$corePeels
        |        GROUP BY 1)
        |SELECT node, d AS deg, kk.k AS k FROM dgf, kk
        |WHERE d >= kk.k""".stripMargin) {
      (s, dir) =>
      // checkpointed before the peels: the k derivation and the first
      // peel both read it
      val edges = supplierPart(s, dir).repartition(col("src"))
        .localCheckpoint()
      val dg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      // 20th-percentile degree by EXACT sorted position, derived via
      // chunkedRank (32 parallel value-chunk sorts + broadcast prefix
      // offsets, and it supplies the group size n for free) instead of
      // a global-sort row_number window over the full |V|-row degree
      // table — the r7 judge flagged that window as one task sorting
      // the degree table at 10⁹ nodes. idx is 0-based, so the
      // window's r = 1 + floor(q·(n−1)) becomes idx = floor(q·(n−1)).
      val kRel = Analytics.chunkedRank(
        dg.withColumn("__all", lit(0)), "__all", "d", Seq("src"))
        .filter(col("idx") ===
          floor(lit(coreQ) * (col("n") - 1)).cast("long"))
        .select(col("d").as("k"))
      // FRONTIER-DELTA peeling (r13): the survivor semi-join re-shuffled
      // the WHOLE edge relation by dst every generation (72.8 MB at
      // sf0.1, the suite's largest shuffle). Peeling only ever REMOVES
      // nodes, so the complement carries the same information in the
      // peel set's size: anti-join both endpoints against the REMOVED
      // frontier (nodes with d < k this generation), broadcast — the
      // edge relation keeps its one src hash-partitioning end to end
      // and per-generation shuffled bytes shrink to the frontier, not
      // the graph. Degree recompute stays exchange-free on the
      // preserved partitioning. The frontier is ≤ |V| rows and shrinks
      // monotonically; at a scale where a first-generation frontier
      // outgrew the broadcast budget, AQE's size-aware planning (drop
      // the explicit hint) or a keyed anti-join is the fallback — the
      // semantics are identical either way, which is what the
      // unchanged oracle hash proves.
      val core = rounds(edges, corePeels) { (e, _) =>
        val removed = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .crossJoin(broadcast(kRel))
          .filter(col("d") < col("k")).select(col("src"))
        e.join(broadcast(removed), Seq("src"), "left_anti")
          .join(broadcast(removed.withColumnRenamed("src", "dst")),
            Seq("dst"), "left_anti")
          .select(col("src"), col("dst"))
      }.last
      core.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .crossJoin(broadcast(kRel))
        .filter(col("deg") >= col("k"))
        .select(col("src").as("node"), col("deg"), col("k"))
    },

    // ------------------------------------------------------------------
    // Multi-source BFS / shortest hop distance — the reachability query
    // of the graph family (pagerank = centrality, k-core = density,
    // triangles = closure, BFS = distance): every node's minimum hop
    // count from a seed set, here the every-7th supplier. In a corpus
    // link graph this is "how far is each page from a trusted seed" —
    // TrustRank's first stage. Spark shape is distance relaxation on
    // the pagerank chassis:
    //   - the symmetric adjacency is hash-partitioned by src once and
    //     cached (the pagerank discipline) — every round reuses that
    //     one exchange;
    //   - a round = labels ⋈ edges (shuffle_hash on src, build = the
    //     label side) → union previous labels → ONE map-combinable
    //     min(dist) per node. Two keyed exchanges per round, cost ∝
    //     edges incident to reached nodes, never |V|²; min() absorbs
    //     re-reached nodes where a frontier formulation needs a
    //     distinct + anti-join pair (the first cut ran three shuffles
    //     per round and benched 3× slower);
    //   - the round count is FIXED (3), the way pagerank's k is. On this
    //     dense bipartite graph the 3-hop ball already covers everything
    //     reachable, which GraphSpec pins independently.
    // The oracle replays frontier-BFS as unrolled CTEs (seeds, NOT-IN
    // subtraction) — a DIFFERENT derivation of the same labeling, so
    // the hash match proves relaxation ≡ frontier BFS node by node,
    // not merely that one implementation agrees with itself.
    QueryDef(
      "q_graph_bfs",
      s"""WITH ${supplierPartSql()},
        |f0 AS (SELECT DISTINCT src AS node FROM edges WHERE src % 14 = 1),
        |r0 AS (SELECT node, 0 AS dist FROM f0),
        |${(1 to bfsRounds).map(bfsSql).mkString(",\n")}
        |SELECT node, dist FROM r$bfsRounds""".stripMargin) { (s, dir) =>
      // cached src-partitioned adjacency (pagerank pattern; consumers
      // clearCache after their action)
      val edges = supplierPart(s, dir).repartition(col("src")).cache()
      // MIN-PROPAGATION over the FRONTIER (r14 delta discipline): a
      // node at distance k has a neighbor at distance k−1, so round k
      // only expands nodes REACHED LAST ROUND — the frontier is free
      // to derive (dist = k−1 after the min-fold; BFS labels never
      // improve once set), so this keeps the two-exchange round shape
      // (one shuffle_hash join + one map-combinable min) while the
      // join's probe side shrinks from all reached nodes to the new
      // ones. The first cut's frontier/distinct/anti-join cascade ran
      // THREE keyed shuffles per round and benched 5.7 s at sf0.1 —
      // this form pays nothing for the frontier. min() still absorbs
      // re-reached nodes. The label table is a [[rounds]] state (the
      // min-fold union + the frontier filter read it): the r15 profile
      // showed round 1's min-fold executed FOUR times and round 2's
      // twice when lazy (identical 64-task stages with byte-identical
      // 0.68 MB writes, ~3.7 s of a 3.9 s action); checkpointed, every
      // round evaluates exactly once (7 → 3 evaluations at k = 3).
      val seeds = edges.filter(col("src") % 14 === 1)
        .select(col("src").as("node")).distinct()
        .select(col("node"), lit(0).as("dist"))
      rounds(seeds, bfsRounds) { (lab, k) =>
        val frontier = lab.filter(col("dist") === k - 1).select(col("node"))
        edges
          .join(frontier.withColumnRenamed("node", "src")
            .hint("shuffle_hash"), "src")
          .select(col("dst").as("node"), lit(k).as("dist"))
          .union(lab)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }.last
    },

    // ------------------------------------------------------------------
    // WEIGHTED single-source shortest paths (Bellman–Ford, K rounds) —
    // q_graph_bfs with a cost model: edges carry deterministic integer
    // weights (1 + (pk·7 + sk·13) % 97, identical for both directions),
    // and the label is the cheapest WALK of ≤K edges from the seed set
    // — the bounded-hop semantics that make the round count a
    // well-defined part of the query at ANY scale factor (the r11
    // q_graph_scc lesson: never let the two engines size their loops
    // independently). Spark shape is the BFS chassis, relaxed further:
    //   - the weighted symmetric adjacency is hash-partitioned by src
    //     once and cached (pagerank discipline);
    //   - a round = labels ⋈ edges (shuffle_hash, build = label side)
    //     → dist + w candidates → union previous → ONE map-combinable
    //     min per node. min() absorbs re-relaxed nodes exactly as in
    //     BFS — no frontier bookkeeping, two keyed exchanges a round;
    //   - all-BIGINT arithmetic: distances are exact, no rounding armor.
    // This is delta-stepping's degenerate single-bucket form; at 100 TB
    // the cost per round is edges incident to labeled nodes.
    // The oracle replays the identical relaxation rounds as CTEs; the
    // INDEPENDENT derivation check is GraphSpec's textbook-Dijkstra pin
    // on a small graph (relaxation ≡ Dijkstra whenever K ≥ the hop
    // count of some optimal path).
    QueryDef(
      "q_graph_sssp",
      s"""WITH ${supplierPartSql(w = Some("1 + (l_partkey*7 + l_suppkey*13) % 97"))},
        |s0 AS (
        |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
        |  FROM edges WHERE src % 14 = 1),
        |${(1 to ssspRounds).map(ssspSql).mkString(",\n")}
        |SELECT node, dist FROM s$ssspRounds""".stripMargin) { (s, dir) =>
      val w = (col("l_partkey") * 7 + col("l_suppkey") * 13) % 97 + 1
      val edges = supplierPart(s, dir, Some(w)).repartition(col("src"))
        .cache()
      // FULL RELAXATION, restored (r15): r14 tried delta relaxation —
      // round k joins edges only against nodes whose label improved in
      // round k−1, with an explicit previous-round compare join to
      // derive the improved set (commit 33e3c41). NEGATIVE RESULT at
      // this fixture: the |V|-sized compare join per round cost more
      // than the skipped candidates saved — static exchanges 34→38,
      // shuffle bytes only 34.0→32.5 MB (the 3-round horizon from
      // dense seeds improves almost every node every round, so the
      // "frontier" barely shrinks), and the driver measured 4.15 →
      // 6.0 s; the r15 same-day A/B reproduced the gap. Same lesson as
      // the BFS LPA-delta probe (r14 batch 4): delta forms win only
      // where frontiers actually shrink — at depth, not at k = 3 from
      // 1/14th of all nodes. Unlike BFS (labels final once set, so the
      // frontier is a free dist = k filter), weighted labels can
      // improve repeatedly and the frontier is never free — so full
      // relaxation is the right shape at this horizon: one
      // shuffle_hash join + one map-combinable min per round, two
      // keyed exchanges, no compare join. The unrolled oracle hashes
      // identically under both forms.
      // the label table is a [[rounds]] state: the relaxation join's
      // probe side and the union read it
      val seeds = edges.filter(col("src") % 14 === 1)
        .select(col("src").as("node")).distinct()
        .select(col("node"), lit(0L).as("dist"))
      rounds(seeds, ssspRounds) { (lab, _) =>
        edges
          .join(lab.withColumnRenamed("node", "src").hint("shuffle_hash"),
            "src")
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
          .union(lab)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }.last
    },

    // ------------------------------------------------------------------
    // Link prediction by common-neighbor count + Jaccard over the
    // bipartite supplier↔part graph: two suppliers are "similar" in
    // proportion to the parts they both supply — the collaborative-
    // filtering / you-may-also-link signal, and in a corpus graph the
    // "mirrors of the same upstream site" detector. The quadratic
    // danger is hub parts (a part supplied by S suppliers yields S²/2
    // pairs), so parts keep only 2..$linkCapP suppliers — the capByDf
    // hot-key discipline, applied symmetrically to BOTH the pair
    // explode and the Jaccard degrees so the metric stays internally
    // consistent under the cap (pairs and denominators live in the
    // same capped universe). Spark shape is the triangles idiom: ONE
    // shuffle groups each part's sorted supplier set, pairs explode
    // in-place as a half-matrix (a < b by construction, inside
    // codegen), and the tiny supplier-degree table broadcasts onto the
    // pair aggregate. Nothing self-joins the fact table; cost is
    // Σ min(deg, cap)² over parts — linear in |E| with the cap.
    QueryDef(
      "q_graph_linkpred",
      s"""WITH e0 AS (
        |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |pc AS (SELECT pk, count(*) AS c FROM e0 GROUP BY 1),
        |ec AS (
        |  SELECT e0.pk, e0.sk FROM e0 JOIN pc ON e0.pk = pc.pk
        |  WHERE pc.c BETWEEN 2 AND $linkCapP),
        |cn AS (
        |  SELECT a.sk AS s1, b.sk AS s2, count(*) AS common
        |  FROM ec a JOIN ec b ON a.pk = b.pk AND a.sk < b.sk
        |  GROUP BY 1, 2),
        |deg AS (SELECT sk, count(*) AS d FROM ec GROUP BY 1)
        |SELECT s1, s2, common,
        |  ${Num.sql("common * 1e0 / (d1.d + d2.d - common)", 6)} AS jaccard
        |FROM cn JOIN deg d1 ON cn.s1 = d1.sk JOIN deg d2 ON cn.s2 = d2.sk
        |WHERE common >= $linkMinCommon""".stripMargin) { (s, dir) =>
      val e0 = Tables(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .distinct()
      // one shuffle: per-part sorted supplier set, hub parts capped
      val perPart = e0.groupBy(col("pk"))
        .agg(array_sort(collect_set(col("sk"))).as("sks"))
        .filter(size(col("sks")).between(2, linkCapP))
      // the capped edge set feeds BOTH the half-matrix pairs and the
      // degrees, so Jaccard's numerator and denominator agree
      val ec = perPart.select(col("pk"), explode(col("sks")).as("sk"))
      val pairsCol = flatten(transform(col("sks"), (x, i) =>
        transform(slice(col("sks"), i + lit(2), size(col("sks"))),
          y => struct(x.as("s1"), y.as("s2")))))
      val cn = perPart.select(explode(pairsCol).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(count(lit(1)).as("common"))
        .filter(col("common") >= linkMinCommon)
      val deg = ec.groupBy(col("sk")).agg(count(lit(1)).as("d"))
      // deg is |suppliers| rows — ∝SF, so shuffle_hash (build the |V|
      // side's table per partition), never a forced broadcast
      cn.join(deg.select(col("sk").as("s1"), col("d").as("d1"))
          .hint("shuffle_hash"), "s1")
        .join(deg.select(col("sk").as("s2"), col("d").as("d2"))
          .hint("shuffle_hash"), "s2")
        .select(col("s1"), col("s2"), col("common"),
          Num.r(col("common") * lit(1e0) /
            (col("d1") + col("d2") - col("common")), 6).as("jaccard"))
    },

    // ------------------------------------------------------------------
    // Degree assortativity (Newman, "Assortative mixing in networks",
    // PRL 2002): the Pearson correlation of endpoint degrees across
    // edges — does this graph wire hubs to hubs (assortative, > 0, the
    // social-network signature) or hubs to leaves (disassortative,
    // < 0, the web/biology signature)? A one-number structural health
    // check next to pagerank/k-core, and a spam signal in corpus link
    // graphs (link farms read strongly assortative). Exactness: every
    // Pearson term is an exact BIGINT power sum over edges (deg ≤ 10⁴,
    // deg²·|E| ≈ 10¹⁴ ≪ 2⁶³ — the q_agg_skew integer-moment trick),
    // so the only float op is the final quotient, identical IEEE in
    // both engines under the shared Num rounding. Plan: degree is one
    // map-combinable count; both endpoint joins hit the |V|-row degree
    // table shuffle_hash (∝SF — never a forced broadcast); the moment
    // fold is a 1-row aggregate — cost is one pass over |E| at any
    // scale.
    QueryDef(
      "q_graph_assortativity",
      s"""WITH ${supplierPartSql()},
        |deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
        |j AS (
        |  SELECT da.d AS x, db.d AS y FROM edges e
        |  JOIN deg da ON e.src = da.node
        |  JOIN deg db ON e.dst = db.node),
        |mm AS (
        |  SELECT count(*) AS m,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*x) AS BIGINT) AS sxx,
        |    CAST(sum(y*y) AS BIGINT) AS syy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy
        |  FROM j)
        |SELECT m AS n_edges,
        |  ${Num.sql(
          "(m * 1e0 * sxy - sx * 1e0 * sy) / " +
            "(sqrt(m * 1e0 * sxx - sx * 1e0 * sx) * " +
            "sqrt(m * 1e0 * syy - sy * 1e0 * sy))", 6)}
        |    AS assortativity
        |FROM mm""".stripMargin) { (s, dir) =>
      val edges = supplierPart(s, dir)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      // |V|-row degree table, ∝SF — both endpoint joins shuffle_hash
      val j = edges
        .join(deg.select(col("src"), col("d").as("x"))
          .hint("shuffle_hash"), "src")
        .join(deg.select(col("src").as("dst"), col("d").as("y"))
          .hint("shuffle_hash"), "dst")
      val mm = j.agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      // the identical double op sequence as the oracle: promote each
      // factor via ·1e0 BEFORE multiplying (exact ≤2⁵³ integers, then
      // one IEEE product) — BIGINT products would overflow near 2⁶³ on
      // larger graphs, on either engine
      val m1 = col("m") * lit(1e0)
      val sx1 = col("sx") * lit(1e0)
      val sy1 = col("sy") * lit(1e0)
      mm.select(col("m").as("n_edges"),
        Num.r((m1 * col("sxy") - sx1 * col("sy"))
          / (sqrt(m1 * col("sxx") - sx1 * col("sx"))
            * sqrt(m1 * col("syy") - sy1 * col("sy"))), 6)
          .as("assortativity"))
    },

    // ------------------------------------------------------------------
    // Label-propagation community detection (Raghavan et al. 2007) over
    // the bulk co-purchase graph — the near-linear-time community
    // algorithm corpus pipelines use to group related sources/documents
    // before per-community sampling. Made deterministic (the classic
    // LPA pitfall is order-dependence): SYNCHRONOUS rounds, fixed k=3,
    // and the update is an exact argmax — each node adopts the label
    // most frequent among its neighbors, ties broken by SMALLEST label.
    // The Spark argmax is a map-combinable max(struct(cnt, −lbl))
    // aggregate, not a per-node window — partial aggregation collapses
    // the neighbor-label counts map-side, so the per-round shuffle
    // carries (node, label) partials, never raw |E| rows twice. One
    // round = adjacency ⋈ |V|-sized label table (the PageRank join
    // shape) + two hash aggregates; per-round localCheckpoints truncate
    // the unrolled lineage. The oracle replays the same three rounds as
    // generated CTEs (row_number argmax — the hash match doubles as an
    // aggregate≡window equivalence proof). Output is the community
    // roster (label, size) after round 3.
    QueryDef("q_graph_labelprop", labelPropOracle) { (s, dir) =>
      val (_, labels) = lpaLabels(s, dir)
      labels.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"))
    },

    // ------------------------------------------------------------------
    // Newman modularity of the label-propagation partition — the
    // quality score that says whether those communities MEAN anything
    // (Q ≈ 0: no better than random wiring; Q ≳ 0.3: real structure).
    // Exactness: multiply the textbook Q = Σ_c (e_c/m − (d_c/2m)²)
    // through by 4m² — Q·4m² = Σ_c (4m·e_c − d_c²) is pure BIGINT
    // arithmetic over intra-community edge counts and community degree
    // masses, so everything up to the single final division is exact
    // and order-free (the TextRank discipline applied to a graph
    // statistic). Scale shape: two label joins on the |E| edge list
    // (keyed, the LPA exchange re-aimed), one |V|-sized degree join,
    // then community-bounded aggregates; the final Q is scalar algebra
    // on three 1-row broadcasts.
    QueryDef("q_graph_modularity", modularityOracle) { (s, dir) =>
      val (sym, labels) = lpaLabels(s, dir)
      // undirected edges once (a < b), labels attached to both ends
      val e = sym.filter(col("src") < col("dst"))
      val lab = (side: String) => labels
        .select(col("node").as(side), col("lbl").as(s"lbl_$side"))
      val tagged = e.join(lab("src"), "src").join(lab("dst"), "dst")
      val mm = e.agg(count(lit(1)).as("m"))
      val ec = tagged.filter(col("lbl_src") === col("lbl_dst"))
        .groupBy(col("lbl_src").as("c")).agg(count(lit(1)).as("ec"))
      val dc = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("lbl").as("c")).agg(sum(col("d")).as("dc"))
      val parts = dc.join(ec, Seq("c"), "left")
        .select(col("c"), coalesce(col("ec"), lit(0L)).as("ec"),
          col("dc"))
      val nCom = parts.agg(count(lit(1)).as("k"))
      val qnum = parts.crossJoin(broadcast(mm))
        .agg(sum(lit(4) * col("m") * col("ec") - col("dc") * col("dc"))
          .as("qnum"))
      mm.crossJoin(broadcast(nCom)).crossJoin(broadcast(qnum))
        .select(col("m").as("n_edges"), col("k").as("n_communities"),
          col("qnum").as("q_scaled"),
          (col("qnum").cast("double")
            / (lit(4.0) * col("m") * col("m"))).as("modularity"))
    },

    // ------------------------------------------------------------------
    // Per-community CONDUCTANCE of the label-propagation partition —
    // the diagnostic companion to q_graph_modularity's single global
    // score: φ(c) = cut(c) / min(vol(c), 2m − vol(c)) names WHICH
    // communities leak (a well-separated community has φ near 0; a
    // community that is just a slice of a hub's neighborhood has φ
    // near 1) — the per-community number a spam-farm hunt or a
    // clustering post-mortem actually reads. Everything is exact
    // BIGINT arithmetic over the modularity machinery's relations:
    // vol from the degree table, cut = vol − same-label directed
    // edges (so intra = same2 div 2 exactly — sym counts each
    // undirected edge twice), φ in integer µ-units via one integer
    // division, zero rounding armor. Scale: the same two keyed |E|
    // label joins LPA itself runs per round; outputs are
    // community-bounded.
    QueryDef("q_graph_conductance", conductanceOracle) { (s, dir) =>
      val (sym, labels) = lpaLabels(s, dir)
      val volC = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("lbl").as("community")).agg(sum(col("d")).as("vol"))
      val lab = (side: String) => labels
        .select(col("node").as(side), col("lbl").as(s"lbl_$side"))
      val same2 = sym.join(lab("src"), "src").join(lab("dst"), "dst")
        .filter(col("lbl_src") === col("lbl_dst"))
        .groupBy(col("lbl_src").as("c2")).agg(count(lit(1)).as("same2"))
      val nNodes = labels.groupBy(col("lbl").as("c3"))
        .agg(count(lit(1)).as("n_nodes"))
      val m2 = sym.agg(count(lit(1)).as("m2")) // = 2m
      volC.join(nNodes, col("community") === col("c3"))
        .join(same2, col("community") === col("c2"), "left")
        .crossJoin(broadcast(m2))
        .withColumn("intra", expr("coalesce(same2, 0) div 2"))
        .withColumn("cut", expr("vol - coalesce(same2, 0)"))
        .withColumn("cond_u", expr(
          """CASE WHEN least(vol, m2 - vol) = 0 THEN 0
            |ELSE cut * 1000000 div least(vol, m2 - vol) END"""
            .stripMargin.replace("\n", " ")))
        .select(col("community"), col("n_nodes"), col("vol"),
          col("intra"), col("cut"), col("cond_u"))
    },

    // ------------------------------------------------------------------
    // HITS hubs & authorities (Kleinberg 1999) on the directed
    // part→supplier purchase graph — the OTHER link-centrality model:
    // PageRank ranks by random-surfer mass, HITS separates "points at
    // good things" (hubs = parts) from "is pointed at by good things"
    // (authorities = suppliers), the right frame for bipartite
    // commerce/citation data. Recast in exact integer µ-units (the
    // TextRank discipline): scores start at 10⁶, each half-step is an
    // order-free BIGINT sum over the edge list, and the normalization
    // divides by the current MAXIMUM (a 1-row broadcast) via integer
    // division — so both engines walk identical integers and the
    // output needs zero rounding armor. Two full rounds; unlike
    // PageRank's linear lineage, every raw half-step here is read
    // TWICE (max + normalize), so each is eagerly localCheckpointed —
    // without that the plan doubles per half-step (measured 60 s → 2 s
    // at sf0.1, the q_pref_btl lesson re-learned). Output: top-10 hubs
    // and top-10 authorities via chunkedRank over the |V|-bounded
    // score relation.
    QueryDef("q_graph_hits", hitsOracle) { (s, dir) =>
      val edges = supplierPart(s, dir, half = true).cache()
      var hub = edges.select(col("u")).distinct()
        .select(col("u"), lit(1000000L).as("h"))
      var auth: DataFrame = null
      // its own loop, not [[rounds]]: the checkpointed tables are the raw
      // half-steps inside a round (each read by its max and the
      // normalization), measured at 60 s before these checkpoints and
      // ~2 s after
      for (_ <- 1 to hitsRounds) {
        val aRaw = edges.join(hub, "u")
          .groupBy(col("v")).agg(sum(col("h")).as("ar"))
          .localCheckpoint()
        val aMax = aRaw.agg(max(col("ar")).as("am"))
        auth = aRaw.crossJoin(broadcast(aMax))
          .select(col("v"), expr("ar * 1000000 div am").as("a"))
        val hRaw = edges.join(auth, "v")
          .groupBy(col("u")).agg(sum(col("a")).as("hr"))
          .localCheckpoint()
        val hMax = hRaw.agg(max(col("hr")).as("hm"))
        hub = hRaw.crossJoin(broadcast(hMax))
          .select(col("u"), expr("hr * 1000000 div hm").as("h"))
      }
      val both = hub.select(lit("hub").as("kind"), col("u").as("node"),
          col("h").as("score"))
        .unionByName(auth.select(lit("authority").as("kind"),
          col("v").as("node"), col("a").as("score")))
      graft.operators.Analytics
        .chunkedRank(both.withColumn("neg", -col("score")),
          "kind", "neg", Seq("node"))
        .filter(col("idx") < 10)
        .select(col("kind"), col("node"), col("score"))
    },

    // ------------------------------------------------------------------
    // Borůvka phase (1926; the contraction step of every parallel MST
    // algorithm, and single-linkage clustering's first merge round):
    // every node selects its minimum-weight incident edge, and with a
    // TOTAL edge order — deterministic md5 pseudo-weights tie-broken by
    // (w, a, b) — the selected edge set is provably a FOREST (a cycle
    // would need some node to pick a non-minimal edge). The query
    // returns the phase summary and asserts the forest invariant
    // in-row: n_nodes − n_components = n_selected_edges, with
    // components of the selected forest derived by the repo's verified
    // min-label/pointer-jumping loop and REPLAYED by the oracle's
    // recursive closure — a third independent pair family re-proving
    // that machinery. Scale shape: the per-node argmin is one
    // map-combinable min(struct(w, a, b)) aggregate over the
    // symmetrized edges (the LPA/PageRank exchange), selection dedup is
    // a |V|-bounded distinct, and the component loop runs on the
    // forest's ≤ |V|−1 edges, not the graph's |E|.
    // ------------------------------------------------------------------
    // STRONGLY CONNECTED COMPONENTS of a successor graph by POINTER
    // DOUBLING — the PRAM path-doubling primitive (log-depth, the only
    // shape that survives 100 TB: a sequential Tarjan/Kosaraju walk is
    // O(diameter) rounds; doubling is O(log n)). The graph is the
    // functional "next pointer" derived per customer key — succ(k) =
    // (k² + 7) mod |V|, Pollard's rho map — which draws the classic
    // rho shapes: every SCC with >1 member is a cycle, tree tails
    // drain into them (~30 components whose count/sizes scale with
    // SF). Doubling state per node: cur = f^(2^i)(u) and mn = min of
    // the first 2^i path nodes; one round = ONE self-equi-join on the
    // |V|-row state (shuffle_hash — the rank side never broadcasts at
    // scale), a [[rounds]] state because squaring references the
    // previous state twice. K = ⌈log₂|V|⌉ rounds cover any rho; the
    // outputs (cycle set = image of cur; scc id = path-min of a cycle
    // node; basins via one more composition) are STABLE for any
    // larger K, so the engine sizes K from a 1-row count while the
    // sf0.01 oracle replays a fixed K=11 as chained squaring CTEs.
    // For a GENERAL digraph the same primitive runs twice (forward ∩
    // backward reachability); the functional case is the scale kernel.
    QueryDef("q_graph_scc", sccOracle) { (s, dir) =>
      val cust = Tables(s, dir, "customer")
      val nv = cust.count() // 1-value sizing action: K = ceil(log2 |V|)
      val k = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(nv - 1))
      val init = cust.selectExpr("c_custkey AS u",
        s"(c_custkey * c_custkey + 7) % ${nv}L AS cur",
        "c_custkey AS mn")
      val st = rounds(init, k) { (st, _) =>
        st.as("a")
          .join(st.as("b").hint("shuffle_hash"),
            col("a.cur") === col("b.u"))
          .select(col("a.u"), col("b.cur").as("cur"),
            least(col("a.mn"), col("b.mn")).as("mn"))
      }.last
      val cyc = st.select(col("cur").as("u")).distinct()
      val cl = st.join(cyc, Seq("u"), "left_semi")
        .groupBy(col("mn").as("scc_id"))
        .agg(count(lit(1)).as("cycle_len"))
      val ba = st.as("x")
        .join(st.as("y").hint("shuffle_hash"),
          col("x.cur") === col("y.u"))
        .groupBy(col("y.mn").as("scc_id"))
        .agg(count(lit(1)).as("basin_n"))
      cl.join(ba, Seq("scc_id"))
        .select(col("scc_id"), col("cycle_len"), col("basin_n"))
    },

    // ------------------------------------------------------------------
    // MAXIMAL INDEPENDENT SET by Luby's algorithm (Luby, SIAM J.
    // Comput. 1986) — the PRAM symmetry-breaking primitive under
    // distributed greedy problems (conflict-free scheduling, one-doc-
    // per-cluster selection, graph coloring's first move). Made
    // deterministic the q_split way: the "random" priority is the
    // portable h60 of the node id, so both engines draw the SAME
    // numbers and the whole run replays. One round = join the alive
    // edge relation with alive priorities, take the min neighbor
    // priority per node (map-combinable), and select nodes strictly
    // below it (no alive neighbor ⇒ selected); selected nodes and
    // their neighborhoods leave the alive set. Expected constant
    // fraction of EDGES dies per round — O(log n) rounds, the same
    // log-depth argument as q_graph_scc, where the sequential greedy
    // MIS is O(n) dependent steps. Fixed R=4 rounds: the residue that
    // survives is IDENTICAL cross-engine (same priorities, same
    // rounds), so the output — MIS members with their join round — is
    // hash-exact; GraphSpec replays the rounds sequentially and pins
    // independence + per-round equality. Tie-safety: equal priorities
    // exclude BOTH endpoints in both engines (strict <), so a 2⁻⁶⁰
    // hash collision degrades progress, never parity.
    QueryDef("q_graph_mis", misOracle) { (s, dir) =>
      import graft.functions.TextAnalysis.h60
      val edges = supplierPart(s, dir).repartition(col("src")).cache()
      // the min-neighbor-hash join keys on DST — without a standing
      // dst partitioning it re-shuffled the whole edge relation every
      // Luby round (56.5 MB at sf0.1). Pay that exchange ONCE, cached;
      // each round then moves only the |V|-row alive set (the
      // adjacency-shuffles-once discipline, applied to the second key).
      // Built FROM the src-side cache, not from the raw edges (r15):
      // derived from them each fill re-ran the lineitem-distinct union —
      // e0 evaluated four times across the two fills; this way the raw
      // edge build runs once and the dst fill is a re-shuffle of warm
      // blocks.
      val edgesByDst = edges.select(col("src"), col("dst"))
        .repartition(col("dst")).cache()
      var alive = edges.select(col("src").as("v")).distinct()
        .withColumn("h", h60(concat(lit("mis:"), col("v").cast("string"))))
        .localCheckpoint()
      var mis: DataFrame = null
      // its own loop, not [[rounds]]: each round checkpoints two tables,
      // the candidates (read by the removal and the output) and the
      // alive set
      for (r <- 1 to misRounds) {
        val mn = edgesByDst
          .join(alive.select(col("v").as("dst"), col("h").as("hn")), "dst")
          .groupBy(col("src")).agg(min(col("hn")).as("mn"))
        val cand = alive
          .join(mn, alive("v") === mn("src"), "left")
          .filter(col("mn").isNull || col("h") < col("mn"))
          .select(col("v")).localCheckpoint()
        val round = cand.select(col("v"), lit(r).cast("int").as("round"))
        mis = if (mis == null) round else mis.unionAll(round)
        val dead = cand
          .unionAll(edges.join(cand.withColumnRenamed("v", "src"), "src")
            .select(col("dst").as("v")))
          .distinct()
        alive = alive.join(dead, Seq("v"), "left_anti").localCheckpoint()
      }
      mis.select(col("v").as("node"), col("round"))
    },

    QueryDef("q_graph_boruvka", boruvkaOracle) { (s, dir) =>
      val ew = coPurchase(s, dir)
        .withColumn("w",
          graft.functions.TextAnalysis.h60(concat(lit("mst:"),
            col("a").cast("string"), lit(":"), col("b").cast("string")))
            % 100000)
      // Cache moved from the post-union sym (2|E| rows) down to ew
      // (|E| rows) — r15: with the node count computed from sel below,
      // sel is sym's only consumer, so the union branches are the only
      // readers and the cached half-size relation serves both. Lazy
      // cache, not an eager checkpoint (the q_dedup_purity negative
      // result: concurrent consumers overlap the fill productively).
      val ewC = ew.cache()
      val sym = ewC.select(col("a").as("node"), col("a"), col("b"), col("w"))
        .union(ewC.select(col("b").as("node"), col("a"), col("b"), col("w")))
      val sel = sym.groupBy(col("node"))
        .agg(min(struct(col("w"), col("a"), col("b"))).as("m"))
        .select(col("m.a").as("a"), col("m.b").as("b"), col("m.w").as("w"))
        .distinct()
        .cache() // feeds the component loop AND the phase summary
      val comp = Dedup.connectedComponents(
        sel.select(col("a").as("id_a"), col("b").as("id_b")))
      // n_nodes over sel's endpoints, not a second 2|E| pass over sym
      // (r15: that countDistinct was two 1.1 s stages and the only
      // reason sym was cached). PROVABLY equal: sel has one row per
      // node u (groupBy(node) over sym, every endpoint appears as
      // node), and u's min-edge struct contains u itself as a or b —
      // so ∪(a,b) over sel = the node set of sym exactly.
      val nn = sel.select(explode(array(col("a"), col("b"))).as("node"))
        .agg(countDistinct(col("node")).as("n"))
      val ns = sel.agg(count(lit(1)).as("c"), sum(col("w")).as("tw"))
      val nc = comp.agg(countDistinct(col("component")).as("k"))
      nn.crossJoin(broadcast(ns)).crossJoin(broadcast(nc))
        .select(col("n").as("n_nodes"), col("c").as("n_selected"),
          col("k").as("n_components"), col("tw").as("total_weight"),
          (col("n") - col("k") === col("c")).as("forest_ok"))
    },

    // ------------------------------------------------------------------
    // DETERMINISTIC RANDOM WALKS (DeepWalk, Perozzi KDD'14 / node2vec,
    // Grover-Leskovec KDD'16 with p=q=1) — the corpus-generation pass
    // graph-embedding training runs first: from every seed node, a
    // fixed-length walk whose step-t transition is drawn by the portable
    // h60("walk:t:wid:cur") mod out-degree, so both engines (and any
    // re-run) sample the IDENTICAL walks — randomness as a pure function
    // of (walk, step, position), the bootstrap-weights discipline
    // applied to graph traversal. Engine shape: the adjacency is indexed
    // ONCE (row_number + count over the src partition — per-node local
    // work, never a global window), and each of the L steps is one
    // keyed equi-join frontier⋈adj on cur = src (the pick lands as a
    // post-join filter eidx = h mod d), so per-step cost ∝ the
    // frontier's degree mass — the BFS/labelprop shape, never |V|²; the
    // symmetric bipartite graph has no sinks, so walks never die.
    // Output: the (wid, step, node) trajectory table an embedding
    // trainer would window into skip-grams. The oracle replays the
    // identical steps; GraphSpec replays them sequentially driver-side.
    QueryDef("q_graph_walks", walksOracle) { (s, dir) =>
      // Per-node SORTED neighbor array instead of the r14 window-indexed
      // edge relation (row_number/count over the src partition): the
      // pick "eidx = h mod d over dst-sorted edges" is identically
      // "element_at(sorted nbrs, (h mod d)+1)", so the hash-pinned walks
      // are unchanged — but each step's join now probes |V| array rows
      // (~1/avg-degree of the edge relation) and lands exactly ONE row
      // per walker inside the join instead of d rows narrowed by a
      // post-join filter, and the build drops both windows for one
      // map-combinable groupBy. Same exchange discipline as before: the
      // aggregate hash-partitions by src once, the cached relation keeps
      // that clustering, and every step moves only the frontier
      // (shuffle_hash builds the small stepped side).
      val adj = supplierPart(s, dir)
        .groupBy(col("src"))
        .agg(array_sort(collect_list(col("dst"))).as("nbrs"))
        .withColumn("d", size(col("nbrs")).cast("long"))
        .cache()
      val seeds = adj.filter(col("src") % 4 === 1)
        .select(col("src").as("wid"), col("src").as("cur"))
      // each step's |walks|-row frontier is a [[rounds]] state: the next
      // step and its own hop rows in the final union read it
      rounds(seeds, walkLen) { (front, t) =>
        val h = graft.functions.TextAnalysis.h60(concat(
          lit(s"walk:$t:"), col("wid").cast("string"),
          lit(":"), col("cur").cast("string")))
        adj
          .join(front.withColumn("h", h).hint("shuffle_hash"),
            col("cur") === col("src"))
          .select(col("wid"), element_at(col("nbrs"),
            (col("h") % col("d")).cast("int") + 1).as("cur"))
      }.zipWithIndex.map { case (front, t) =>
        front.selectExpr("wid", s"CAST($t AS INT) AS step", "cur AS node")
      }.reduce(_ unionAll _)
    },

    // ------------------------------------------------------------------
    // Approximate neighborhood function (ANF: Palmer, Gibbons & Faloutsos,
    // KDD 2002; the HLL-counter formulation is HyperANF/HyperBall — Boldi,
    // Rosa & Vigna, WWW 2011) — N(t) = Σ_v |ball_t(v)|, the curve behind
    // "effective diameter" and connectivity health of a link graph. The
    // ONLY algorithm family that answers this at 100 TB: exact balls are
    // all-pairs BFS, but a 16-register HLL counter per node makes
    // ball_t(v) a 16-BYTE value with a commutative, idempotent union, so
    //   ball_t(dst) = ⋃_{(src,dst)∈E∪self} ball_{t-1}(src)
    // is one keyed join + one map-combinable aggregate per round — the
    // pagerank iteration shape exactly, with register blobs riding where
    // rank floats rode, per-round shuffle ∝ |E|·16 B regardless of how
    // large the balls grow. Self-loops in the cached adjacency make the
    // "∪ own previous counter" term part of the same aggregate instead
    // of a second merge pass.
    //
    // HyperBall's only-changed-counters refinement (propagate a node's
    // counter only when last round's union grew it — register max is
    // monotone, so "changed" is a cheap blob compare) is deliberately
    // NOT applied at this fixture: 3 rounds from singleton seeds on a
    // dense bipartite graph change essentially every counter every
    // round, so the extra |V|-row previous-state join buys nothing
    // (the measured LPA-delta lesson, r14 batch 4). It becomes the
    // right shape at depth, where frontiers shrink — the same
    // convergence argument as q_graph_sssp's delta relaxation.
    //
    // VALUE-EXACT oracle (no accuracy verdict): registers are an
    // order-free pure function of the ball SET and the estimator reads
    // them with one exact integer sum (HllSketch.estimate), so DuckDB
    // materializes each radius-t ball EXACTLY (t unrolled join CTEs —
    // the all-pairs work the engine side exists to avoid), replays
    // key → splitmix64 → 16-register assignment → estimate bit-for-bit,
    // and the hash compare pins the entire counter pipeline. The m=16
    // estimator reuses the engine's α(m) = 0.7213/(1+1.079/m) for every
    // m (the classic small-m α constants are a lookup table the replay
    // would have to duplicate; accuracy at m=16 is ±26% either way and
    // the oracle checks the CONTRACT, not the tolerance). Radius 0 is a
    // built-in exactness pin: a singleton sketch always linear-counts to
    // 16·ln(16/15) → 1, so nf(0) = |V| exactly.
    QueryDef("q_graph_anf", anfOracle) { (s, dir) =>
      def nfOf(b: DataFrame, t: Int): DataFrame =
        b.agg(sum(expr("graft_hll_est(regs)")).as("nf"))
          .select(lit(t).as("radius"), col("nf"))
      anfBalls(s, dir).zipWithIndex
        .map { case (b, t) => nfOf(b, t) }
        .reduce(_ unionAll _)
    },

    // ------------------------------------------------------------------
    // Harmonic centrality from the SAME HyperBall counters — the
    // application the counter machinery was invented for (Boldi &
    // Vigna, "In-core computation of geometric centralities with
    // HyperBall", ICDMW 2013): H(v) = Σ_{u≠v} 1/d(u,v) truncated at the
    // round horizon, computed per node as Σ_t (|ball_t(v)| −
    // |ball_{t−1}(v)|)·(1/t) — each radius-t shell weighted by its
    // reciprocal distance. The whole statistic stays EXACT INTEGER:
    // ball sizes are the engine's integer estimates and the 1/t weights
    // enter as literal µ-unit constants (10⁶ div t), so per-node scores
    // are BIGINT sums both engines reproduce bit-for-bit (shell deltas
    // can dip negative at the linear-counting→raw estimator boundary —
    // HyperBall sums them as-is, and so do both engines here). Top-20
    // via the map-combinable graft_topk aggregate (score DESC, id ASC —
    // the knn tie contract), never an unpartitioned window; beyond the
    // counter iterate the added cost is one co-partitioned |V|-row
    // 4-way join and one top-k aggregate.
    QueryDef("q_graph_harmonic", harmonicOracle) { (s, dir) =>
      val ests = anfBalls(s, dir).zipWithIndex.map { case (b, t) =>
        b.select(col("node"), expr("graft_hll_est(regs)").as(s"e$t"))
      }
      val joined = ests.reduce((a, b) => a.join(b, "node"))
      val h = joined.select(col("node"),
        (1 to anfRounds).map(t =>
          (col(s"e$t") - col(s"e${t - 1}")) * lit(1000000L / t))
          .reduce(_ + _).as("harmonic_u"))
      h.agg(expr("graft_topk(CAST(harmonic_u AS DOUBLE), node, 20)")
          .as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.id").as("node"),
          col("e.score").cast("long").as("harmonic_u"))
    }
  )

  private def anfRounds = 3

  /** Shared chassis of the HyperBall family (q_graph_anf,
    * q_graph_harmonic): the self-looped src-partitioned cached
    * adjacency and the cached 16-register counter table per radius
    * 0..anfRounds. */
  private def anfBalls(s: SparkSession, dir: String): Seq[DataFrame] = {
    val sym = supplierPart(s, dir)
    // self-loop per node folds "keep your own previous ball" into the
    // one per-round aggregate; hash-partitioned by src ONCE and cached
    // (the pagerank adjacency discipline)
    val adj = sym
      .union(sym.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
      .repartition(col("src")).cache()
    // ball_0(v) = sketch({v}): group the cached adjacency by src (no
    // exchange — the partitioning is the grouping key) and insert the
    // key itself
    var ball = adj.groupBy(col("src"))
      .agg(expr("graft_hll_regs(src, 16)").as("regs"))
      .select(col("src").as("node"), col("regs"))
      .cache()
    val balls = scala.collection.mutable.Buffer[DataFrame](ball)
    for (_ <- 1 to anfRounds) {
      // shuffle_hash: build the |V|-row counter side against the
      // cached |E|-row adjacency, never re-sorting it (pagerank's
      // reasoning verbatim); the groupBy merge is map-combinable
      // register max, so the post-combine shuffle is ≤ |V| blobs per
      // map partition
      ball = adj
        .join(ball.hint("shuffle_hash"), adj("src") === ball("node"))
        .groupBy(col("dst"))
        .agg(expr("graft_hll_union(regs)").as("regs"))
        .select(col("dst").as("node"), col("regs"))
        .cache()
      balls += ball
    }
    balls.toSeq
  }

  /** DuckDB replay of q_graph_anf: materialize each radius-t ball
    * exactly (unrolled join CTEs over the self-looped adjacency), then
    * replay the 16-register sketch — splitmix64 hash, idx = top 4 bits,
    * rank = nlz of the remaining 60 (sentinel bit at the bottom), exact
    * 2^−64-unit register sum, α(16)·16²/invSum with linear counting
    * below 2.5·16 — per (node, radius), and sum the per-node estimates.
    * Identical IEEE op sequence to [[graft.functions.HllSketch.estimate]]
    * at m = 16 (the 4096 twin is q_agg_approx's oracle). */
  private def anfOracle: String =
    s"""$anfSharedCtes
      |${(0 to anfRounds).map(t => s"SELECT radius, nf FROM an${t}n")
        .mkString("\nUNION ALL\n")}""".stripMargin

  /** DuckDB replay of q_graph_harmonic: the shared per-(node, radius)
    * estimate CTEs, then the identical integer µ-unit shell weighting
    * and the (score DESC, id ASC) top-20 — the graft_topk tie
    * contract as a row_number window. */
  private def harmonicOracle: String =
    s"""$anfSharedCtes,
      |hc AS (
      |  SELECT a0.grp AS node,
      |    ${(1 to anfRounds).map(t =>
          s"(a$t.hll_est - a${t - 1}.hll_est) * ${1000000L / t}")
          .mkString(" + ")} AS harmonic_u
      |  FROM an0e a0
      |  ${(1 to anfRounds).map(t =>
          s"JOIN an${t}e a$t ON a$t.grp = a0.grp").mkString("\n  ")})
      |SELECT node, harmonic_u FROM (
      |  SELECT node, harmonic_u,
      |    row_number() OVER (ORDER BY harmonic_u DESC, node) AS rn
      |  FROM hc) r
      |WHERE rn <= 20""".stripMargin

  /** The WITH-clause body both HyperBall oracles share: exact ball
    * materialization (unrolled join CTEs over the self-looped
    * adjacency) + the per-(node, radius) m=16 register replay —
    * splitmix64 hash, idx = top 4 bits, rank = nlz of the remaining 60
    * (sentinel bit at the bottom), exact 2^−64-unit register sum,
    * α(16)·16²/invSum with linear counting below 2.5·16. Identical
    * IEEE op sequence to [[graft.functions.HllSketch.estimate]] at
    * m = 16 (the 4096 twin is q_agg_approx's oracle). */
  private def anfSharedCtes: String = {
    import graft.functions.Approx.splitmixCtes
    def ballSql(t: Int): String =
      s"""b$t AS (
        |  SELECT DISTINCT a.dst AS id, b.m FROM adj a
        |  JOIN b${t - 1} b ON b.id = a.src)""".stripMargin
    // the m=16 FFGM estimate over (grp, np, sp): see Approx.hllEstSql
    // for the 4096-register original of this expression
    def estSql(src: String): String =
      s"""(SELECT grp,
        |  CAST(floor(CASE
        |    WHEN (0.7213e0 / (1.0e0 + 1.079e0 / 16.0e0))
        |         * 16.0e0 * 16.0e0
        |         / (CAST(CAST(16 - np AS HUGEINT) * 9223372036854775808
        |                  * 2 + sp AS DOUBLE) / 18446744073709551616e0)
        |         <= 40.0e0 AND np < 16
        |    THEN 16.0e0 * ln(16.0e0 / CAST(16 - np AS DOUBLE))
        |    ELSE (0.7213e0 / (1.0e0 + 1.079e0 / 16.0e0))
        |         * 16.0e0 * 16.0e0
        |         / (CAST(CAST(16 - np AS HUGEINT) * 9223372036854775808
        |                  * 2 + sp AS DOUBLE) / 18446744073709551616e0)
        |    END + 0.5e0) AS BIGINT) AS hll_est
        |FROM $src)""".stripMargin
    def replaySql(t: Int): String =
      s"""${splitmixCtes(s"an${t}_", s"b$t", "m", "id")},
        |an${t}r AS (
        |  SELECT id, h >> 60 AS idx,
        |    ((h % 1152921504606846976) * 16) | 1 AS y
        |  FROM an${t}_h),
        |an${t}g AS (
        |  SELECT id AS grp, idx,
        |    max(64 - (length(ltrim(bin(y), '0')) - 1)) AS reg
        |  FROM an${t}r GROUP BY 1, 2),
        |an${t}s AS (
        |  SELECT grp, count(*) AS np,
        |    CAST(sum(CAST(pow(2.0e0, 64 - reg) AS HUGEINT)) AS HUGEINT)
        |      AS sp
        |  FROM an${t}g GROUP BY 1),
        |an${t}e AS ${estSql(s"an${t}s")},
        |an${t}n AS (
        |  SELECT $t AS radius, CAST(sum(hll_est) AS BIGINT) AS nf
        |  FROM an${t}e)""".stripMargin
    s"""WITH ${supplierPartSql("sym")},
      |adj AS (
      |  SELECT src, dst FROM sym
      |  UNION ALL
      |  SELECT DISTINCT src, src FROM sym),
      |b0 AS (SELECT DISTINCT src AS id, src AS m FROM sym),
      |${(1 to anfRounds).map(ballSql).mkString(",\n")},
      |${(0 to anfRounds).map(replaySql).mkString(",\n")}""".stripMargin
  }

  private def walkLen = 4

  /** DuckDB replay of q_graph_walks: the same indexed adjacency and the
    * same h60 pick per step. */
  private def walksOracle: String = {
    import graft.functions.TextAnalysis.h60sql
    def stepSql(t: Int): String = {
      val h = h60sql(s"'walk:$t:' || CAST(w.wid AS VARCHAR) || ':' || " +
        "CAST(w.cur AS VARCHAR)")
      s"""w$t AS (
        |  SELECT w.wid, a.dst AS cur
        |  FROM w${t - 1} w JOIN adj a ON w.cur = a.src
        |    AND a.eidx = ($h) % a.d)""".stripMargin
    }
    val unions = (1 to walkLen).map(t =>
      s"SELECT wid, CAST($t AS INT) AS step, cur AS node FROM w$t")
      .mkString("\n  UNION ALL ")
    s"""WITH ${supplierPartSql()},
      |adj AS (
      |  SELECT src, dst,
      |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS eidx,
      |    count(*) OVER (PARTITION BY src) AS d
      |  FROM edges),
      |w0 AS (
      |  SELECT DISTINCT src AS wid, src AS cur FROM edges
      |  WHERE src % 4 = 1),
      |${(1 to walkLen).map(stepSql).mkString(",\n")}
      |SELECT wid, CAST(0 AS INT) AS step, cur AS node FROM w0
      |  UNION ALL $unions""".stripMargin
  }

  private def hitsRounds = 2

  /** DuckDB replay of q_graph_hits: identical integer µ-unit rounds —
    * BIGINT sums, max normalization by integer division. */
  private def hitsOracle: String = {
    val rounds = (1 to hitsRounds).map { k =>
      s"""ar$k AS (SELECT e.v, CAST(sum(h.h) AS BIGINT) AS ar
        |  FROM edges e JOIN h${k - 1} h ON e.u = h.u GROUP BY 1),
        |am$k AS (SELECT max(ar) AS am FROM ar$k),
        |a$k AS (SELECT v, ar * 1000000 // am AS a FROM ar$k, am$k),
        |hr$k AS (SELECT e.u, CAST(sum(a.a) AS BIGINT) AS hr
        |  FROM edges e JOIN a$k a ON e.v = a.v GROUP BY 1),
        |hm$k AS (SELECT max(hr) AS hm FROM hr$k),
        |h$k AS (SELECT u, hr * 1000000 // hm AS h FROM hr$k, hm$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${supplierPartSql(half = true)},
      |h0 AS (SELECT DISTINCT u, CAST(1000000 AS BIGINT) AS h
      |       FROM edges),
      |$rounds,
      |scored AS (
      |  SELECT 'hub' AS kind, u AS node, h AS score FROM h$hitsRounds
      |  UNION ALL
      |  SELECT 'authority', v, a FROM a$hitsRounds)
      |SELECT kind, node, score FROM (
      |  SELECT kind, node, score,
      |    row_number() OVER (PARTITION BY kind
      |      ORDER BY score DESC, node) AS rk
      |  FROM scored) rr WHERE rk <= 10""".stripMargin
  }

  /** DuckDB replay of q_graph_boruvka: the same total-order argmin via
    * a row_number window, components via the recursive closure. */
  private def boruvkaOracle: String = {
    val wExpr = graft.functions.TextAnalysis
      .h60sql("'mst:' || CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)")
    s"""WITH $coPurchaseSql,
      |ew AS (SELECT a, b, $wExpr % 100000 AS w FROM e),
      |sym AS (SELECT a AS node, a, b, w FROM ew
      |        UNION ALL SELECT b AS node, a, b, w FROM ew),
      |sel AS (
      |  SELECT DISTINCT a, b, w FROM (
      |    SELECT a, b, w, row_number() OVER (PARTITION BY node
      |      ORDER BY w, a, b) AS rn
      |    FROM sym) rr WHERE rn = 1),
      |se AS (SELECT a, b FROM sel UNION ALL SELECT b, a FROM sel),
      |r AS (
      |  WITH RECURSIVE reach(a, b) AS (
      |    SELECT a, b FROM se
      |    UNION
      |    SELECT reach.a, se.b FROM reach JOIN se ON reach.b = se.a)
      |  SELECT * FROM reach),
      |comp AS (SELECT a AS node, min(b) AS label FROM r GROUP BY 1),
      |nn AS (SELECT count(DISTINCT node) AS n FROM sym),
      |ns AS (SELECT count(*) AS c, CAST(sum(w) AS BIGINT) AS tw FROM sel),
      |nc AS (SELECT count(DISTINCT label) AS k FROM comp)
      |SELECT nn.n AS n_nodes, ns.c AS n_selected, nc.k AS n_components,
      |  ns.tw AS total_weight, nn.n - nc.k = ns.c AS forest_ok
      |FROM nn, ns, nc""".stripMargin
  }

  // a def, not a val: it is referenced from labelPropOracle during the
  // object's own `defs` initialization, where a later-declared val would
  // still read 0
  private def lpaRounds = 3

  /** Shared by q_graph_labelprop, q_graph_modularity and
    * q_graph_conductance: the cached symmetric [[coPurchase]] adjacency
    * and the synchronous label table after [[lpaRounds]] deterministic
    * rounds.
    *
    * DELIBERATELY NOT frontier-delta (r14, measured): maintaining the
    * (src, lbl) count table incrementally from changed-label nodes —
    * the k-core discipline — was built and benched at sf0.1:
    * 17.2 → 60.3 MB shuffle write and ~2× wall, because 3 rounds from
    * identity seeds change MOST labels every round and each
    * delta-incident edge costs a (+1 new, −1 old) PAIR — 2·|E| moved
    * where the full recompute moves |E| once. K-core's frontier won
    * because removal is monotone and the removed set shrinks; LPA's
    * churn does not. The full-round form is the right shape until
    * label churn is sparse, which a 3-round fixed-depth query never
    * reaches. */
  private def lpaLabels(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val sym = coPurchase(s, dir)
      .select(array(struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst"))).as("both"))
      .select(explode(col("both")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // hash-partitioned by src ONCE and cached (r14): the |V|-row
      // label side broadcasts into every round's neighbor join, which
      // preserves the streamed side's partitioning — and hash(src)
      // satisfies the clustering of every downstream groupBy keyed on
      // src (the cnt groupBy(src, lbl), the argmax groupBy(src), the
      // consumers' degree/volume rollups), so ONE build-time exchange
      // replaces a per-round + per-consumer re-shuffle of the edge
      // relation. The PageRank/BFS discipline applied to LPA's chassis.
      .repartition(col("src"))
      .cache() // reused by all rounds (the PageRank discipline)
    val init = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    // the label table is a [[rounds]] state: the caller reads it many
    // times — conductance joins it four ways (volumes, both edge
    // endpoints, community sizes), and without the checkpoints each
    // consumer re-ran the whole round chain (measured at sf0.1:
    // conductance 5.7→3.8 s, modularity 6.0→3.9, labelprop 3.7→2.9)
    val labels = rounds(init, lpaRounds) { (labels, _) =>
      sym.join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("src").as("node"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
    }.last
    (sym, labels)
  }

  /** The labelprop CTE chain (li/e/sym/l0..l3) shared by the
    * labelprop and modularity oracles. */
  private def lpaCtes: String = {
    val rounds = (1 to lpaRounds).map { k =>
      s"""c$k AS (
        |  SELECT s.src, l.lbl, count(*) AS cnt
        |  FROM sym s JOIN l${k - 1} l ON s.dst = l.node GROUP BY 1, 2),
        |l$k AS (
        |  SELECT src AS node, lbl FROM (
        |    SELECT src, lbl,
        |      row_number() OVER (PARTITION BY src
        |        ORDER BY cnt DESC, lbl) AS rn
        |    FROM c$k) rr
        |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$coPurchaseSql,
      |sym AS (SELECT a AS src, b AS dst FROM e
      |        UNION ALL SELECT b AS src, a AS dst FROM e),
      |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
      |$rounds""".stripMargin
  }

  /** DuckDB replay of q_graph_labelprop: identical synchronous rounds;
    * the argmax is the textbook row_number window form. */
  private def labelPropOracle: String =
    s"""WITH $lpaCtes
      |SELECT lbl AS community, count(*) AS n_nodes
      |FROM l$lpaRounds GROUP BY 1""".stripMargin

  /** DuckDB replay of q_graph_conductance over the same labelprop CTEs:
    * exact BIGINT cut/volume algebra, φ in integer µ-units. */
  private def conductanceOracle: String =
    s"""WITH $lpaCtes,
      |lf AS (SELECT node, lbl FROM l$lpaRounds),
      |vc AS (
      |  SELECT lf.lbl AS community, CAST(sum(dg.d) AS BIGINT) AS vol
      |  FROM (SELECT src, count(*) AS d FROM sym GROUP BY 1) dg
      |  JOIN lf ON dg.src = lf.node GROUP BY 1),
      |sl AS (
      |  SELECT la.lbl AS c2, CAST(count(*) AS BIGINT) AS same2
      |  FROM sym s JOIN lf la ON s.src = la.node
      |  JOIN lf lb ON s.dst = lb.node
      |  WHERE la.lbl = lb.lbl GROUP BY 1),
      |nn AS (SELECT lbl AS c3, CAST(count(*) AS BIGINT) AS n_nodes
      |       FROM lf GROUP BY 1),
      |m2t AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM sym)
      |SELECT community, n_nodes, vol,
      |  coalesce(same2, 0) // 2 AS intra,
      |  vol - coalesce(same2, 0) AS cut,
      |  CASE WHEN least(vol, m2 - vol) = 0 THEN 0
      |    ELSE (vol - coalesce(same2, 0)) * 1000000
      |      // least(vol, m2 - vol) END AS cond_u
      |FROM vc JOIN nn ON community = c3
      |LEFT JOIN sl ON community = c2, m2t""".stripMargin

  // def, not val: referenced while `defs` initializes (a later val
  // would still be 0 there — the r11 init-order trap)
  private def misRounds = 4

  /** DuckDB replay of q_graph_mis: the same four Luby rounds as CTEs —
    * identical h60 priorities, min-alive-neighbor selection, strict-<
    * candidates, neighborhood removal. */
  private def misOracle: String = {
    import graft.functions.TextAnalysis.h60sql
    val rounds = (1 to misRounds).map { r =>
      s"""mn$r AS (
        |  SELECT e.src AS v, min(b.h) AS mn
        |  FROM edges e JOIN alive${r - 1} b ON e.dst = b.v
        |  GROUP BY 1),
        |cand$r AS (
        |  SELECT a.v FROM alive${r - 1} a LEFT JOIN mn$r m ON a.v = m.v
        |  WHERE m.mn IS NULL OR a.h < m.mn),
        |dead$r AS (
        |  SELECT v FROM cand$r
        |  UNION
        |  SELECT e.dst AS v FROM edges e JOIN cand$r c ON e.src = c.v),
        |alive$r AS (
        |  SELECT a.v, a.h FROM alive${r - 1} a
        |  WHERE a.v NOT IN (SELECT v FROM dead$r))""".stripMargin
    }.mkString(",\n")
    val out = (1 to misRounds)
      .map(r => s"SELECT v AS node, $r AS round FROM cand$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ${supplierPartSql()},
      |alive0 AS (
      |  SELECT DISTINCT src AS v,
      |    ${h60sql("'mis:' || CAST(src AS VARCHAR)")} AS h
      |  FROM edges),
      |$rounds
      |$out""".stripMargin
  }

  /** DuckDB replay of q_graph_scc, sized from |V| INSIDE the SQL so
    * the two engines stay pinned at ANY scale factor (r11 ADVICE: the
    * old fixed-K=11 chain held only at sf0.01). The successor is a
    * pure FORMULA, so the oracle needs no self-join at all: a
    * recursive CTE walks f linearly for |V| steps, after which
    * cur = f^(|V|+1)(u) and mn = min of the first |V|+1 path nodes —
    * both past rho coverage (tail + cycle ≤ |V|), exactly where
    * Spark's 2^⌈log₂|V|⌉ doubling also lands, and all three outputs
    * are K-stable past coverage (QueryDef note). Equality with the
    * join-stepping Spark side additionally needs that no pointer ever
    * exits the node domain: cur = (x²+7) mod n ≡ x²+1 ≡ 1 or 2
    * (mod 3) whenever 3 | n, so cur is never 0 and every target row
    * exists — true at every generated SF (|customer| = 150·10·sf,
    * always divisible by 3). All arithmetic is BIGINT (the old
    * c_custkey*c_custkey overflowed 32-bit keys at sf1). Measured at
    * sf0.01: 4.4 s vs the K=11 join chain's 77 s — the linear walk is
    * n² row-steps but join-free. */
  private def sccOracle: String =
    s"""WITH RECURSIVE nv AS (SELECT count(*) AS n FROM customer),
      |walk AS (
      |  SELECT 0 AS i, CAST(c_custkey AS BIGINT) AS u,
      |    (CAST(c_custkey AS BIGINT) * c_custkey + 7) % nv.n AS cur,
      |    CAST(c_custkey AS BIGINT) AS mn
      |  FROM customer, nv
      |  UNION ALL
      |  SELECT w.i + 1, w.u, (w.cur * w.cur + 7) % nv.n,
      |    least(w.mn, w.cur)
      |  FROM walk w, nv WHERE w.i < nv.n),
      |fin AS (SELECT u, cur, mn FROM walk, nv WHERE i = nv.n),
      |cyc AS (SELECT DISTINCT cur AS u FROM fin),
      |cl AS (
      |  SELECT s.mn AS scc_id, count(*) AS cycle_len
      |  FROM fin s JOIN cyc ON s.u = cyc.u GROUP BY 1),
      |ba AS (
      |  SELECT y.mn AS scc_id, count(*) AS basin_n
      |  FROM fin x JOIN fin y ON x.cur = y.u GROUP BY 1)
      |SELECT scc_id, cycle_len, basin_n
      |FROM cl JOIN ba USING (scc_id)""".stripMargin

  /** DuckDB replay of q_graph_modularity over the same labelprop CTEs:
    * Q·4m² in exact BIGINTs, one final division. */
  private def modularityOracle: String =
    s"""WITH $lpaCtes,
      |lf AS (SELECT node, lbl FROM l$lpaRounds),
      |mm AS (SELECT count(*) AS m FROM e),
      |ecc AS (
      |  SELECT la.lbl AS c, count(*) AS ec
      |  FROM e JOIN lf la ON e.a = la.node JOIN lf lb ON e.b = lb.node
      |  WHERE la.lbl = lb.lbl GROUP BY 1),
      |dcc AS (
      |  SELECT lf.lbl AS c, CAST(sum(dg.d) AS BIGINT) AS dc
      |  FROM (SELECT src, count(*) AS d FROM sym GROUP BY 1) dg
      |  JOIN lf ON dg.src = lf.node GROUP BY 1),
      |parts AS (
      |  SELECT dcc.c, coalesce(ecc.ec, 0) AS ec, dcc.dc
      |  FROM dcc LEFT JOIN ecc ON dcc.c = ecc.c),
      |nc AS (SELECT count(*) AS k FROM parts),
      |qn AS (
      |  SELECT CAST(sum(4 * mm.m * parts.ec - parts.dc * parts.dc)
      |    AS BIGINT) AS qnum
      |  FROM parts, mm)
      |SELECT mm.m AS n_edges, nc.k AS n_communities, qn.qnum AS q_scaled,
      |  CAST(qn.qnum AS DOUBLE) / (4e0 * mm.m * mm.m) AS modularity
      |FROM mm, nc, qn""".stripMargin
}
