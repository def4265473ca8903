package graft

import org.apache.spark.sql.functions._

/** Invariant pins for PageRank (Graph.scala) beyond the oracle hash:
  * properties that must hold on ANY symmetric graph. */
class GraphSpec extends SparkSpec {

  test("q_graph_scc equals a sequential rho-walk ground truth and " +
    "basins partition the node set") {
    val got = SparkEntry.queries("q_graph_scc")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = Tables(spark, sfDir, "customer").count().toInt
    // sequential ground truth: walk every rho to its cycle
    val succ = Array.tabulate(n)(k => ((k.toLong * k + 7) % n).toInt)
    val sccOf = Array.fill(n)(-1L)
    val cycleLen = scala.collection.mutable.Map.empty[Long, Long]
    for (s0 <- 0 until n if sccOf(s0) < 0) {
      val pos = scala.collection.mutable.Map.empty[Int, Int]
      val path = scala.collection.mutable.ArrayBuffer.empty[Int]
      var v = s0
      while (sccOf(v) < 0 && !pos.contains(v)) {
        pos(v) = path.length; path += v; v = succ(v)
      }
      val tailScc = if (pos.contains(v)) {
        val cyc = path.drop(pos(v))
        val id = cyc.map(_.toLong).min
        cycleLen(id) = cyc.length.toLong
        cyc.foreach(u => sccOf(u) = id)
        id
      } else sccOf(v)
      path.foreach(u => if (sccOf(u) < 0) sccOf(u) = tailScc)
    }
    val basins = sccOf.groupBy(identity).view.mapValues(_.length.toLong)
    val ref = cycleLen.keys.map(id =>
      id -> (cycleLen(id), basins(id))).toMap
    assert(got == ref, s"${got.size} sccs vs ref ${ref.size}")
    assert(got.values.map(_._2).sum == n) // basins partition V
  }

  test("q_graph_mis equals a sequential Luby replay, is independent, " +
    "and covers every decided node") {
    val got = SparkEntry.queries("q_graph_mis")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // rebuild the same graph + priorities sequentially
    val e0 = Tables(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.Set[Long]]
    def link(a: Long, b: Long): Unit =
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
    e0.foreach { case (p, s) => link(p, s); link(s, p) }
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sx: String): Long = java.lang.Long.parseLong(
      md.digest(sx.getBytes("UTF-8")).take(8)
        .map(b => f"$b%02x").mkString.take(15), 16)
    val h = adj.keys.map(v => v -> h60(s"mis:$v")).toMap
    var alive = adj.keySet.toSet
    val ref = scala.collection.mutable.Map.empty[Long, Int]
    for (r <- 1 to 4) {
      val cand = alive.filter { v =>
        val ns = adj(v).filter(alive)
        ns.isEmpty || ns.forall(u => h(v) < h(u))
      }
      cand.foreach(v => ref(v) = r)
      alive = alive -- cand -- cand.flatMap(adj(_))
    }
    assert(got == ref.toMap, s"${got.size} members vs replay ${ref.size}")
    // independence: no edge joins two members
    e0.foreach { case (p, s) =>
      assert(!(got.contains(p) && got.contains(s)), s"edge ($p,$s) in MIS")
    }
    // coverage: every decided non-member has a member neighbor
    (adj.keySet -- alive -- got.keySet).foreach { v =>
      assert(adj(v).exists(got.contains), s"$v decided but uncovered")
    }
  }

  test("q_graph_walks equals a sequential walk replay: every step " +
    "follows the h60-picked edge and walks never die") {
    val got = SparkEntry.queries("q_graph_walks")(spark, sfDir).collect()
      .map(r => (r.getLong(r.fieldIndex("wid")),
        r.getInt(r.fieldIndex("step")), r.getLong(r.fieldIndex("node"))))
      .toSet
    val e0 = Tables(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.SortedSet[Long]]
    def link(a: Long, b: Long): Unit =
      adj.getOrElseUpdate(a, scala.collection.mutable.SortedSet.empty) += b
    e0.foreach { case (p, s) => link(p, s); link(s, p) }
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sx: String): Long = java.lang.Long.parseLong(
      md.digest(sx.getBytes("UTF-8")).take(8)
        .map(b => f"$b%02x").mkString.take(15), 16)
    val ref = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    adj.keys.filter(_ % 4 == 1).foreach { seed =>
      var cur = seed
      ref += ((seed, 0, seed))
      for (t <- 1 to 4) {
        val out = adj(cur).toIndexedSeq // sorted by dst = the eidx order
        cur = out((h60(s"walk:$t:$seed:$cur") % out.size).toInt)
        ref += ((seed, t, cur))
      }
    }
    assert(got == ref.toSet,
      s"${got.size} trajectory rows vs replay ${ref.size}")
    // sanity: one row per (seed, step) — walks neither die nor fork
    val seeds = adj.keys.count(_ % 4 == 1)
    assert(got.size == seeds * 5, s"expected ${seeds * 5} rows")
  }

  test("q_graph_pagerank conserves rank mass and keeps every node") {
    val pr = SparkEntry.queries("q_graph_pagerank")(spark, sfDir).cache()
    try {
      val nodes = pr.count()
      // node set = parts-with-lineitems + suppliers-with-lineitems
      val li = Tables(spark, sfDir, "lineitem")
      val expected = li.select(col("l_partkey")).distinct().count() +
        li.select(col("l_suppkey")).distinct().count()
      assert(nodes == expected, s"$nodes nodes != $expected")
      // no dangling nodes on a symmetric graph ⇒ Σpr = 1 exactly (up to
      // float noise + the 1e-9 output rounding)
      val mass = pr.agg(sum(col("pr"))).head.getDouble(0)
      assert(math.abs(mass - 1.0) < 1e-5, s"rank mass $mass drifted from 1")
      assert(pr.filter(col("pr") <= 0).count() == 0, "ranks must be positive")
      // supplier nodes (odd ids) aggregate ~20 parts each — every
      // supplier must out-rank the uniform 1/N baseline
      val uniform = 1.0 / nodes
      val weakSuppliers = pr.filter(col("node") % 2 === 1 &&
        col("pr") <= uniform).count()
      assert(weakSuppliers == 0, s"$weakSuppliers hub suppliers below uniform")
    } finally pr.unpersist()
  }

  test("pagerank iterations join via shuffle-hash, never a per-iteration " +
    "sort-merge over the cached adjacency") {
    val df = SparkEntry.queries("q_graph_pagerank")(spark, sfDir)
    // collect() executes THIS DataFrame's QueryExecution, so the
    // assertion below reads the adaptively finalized plan that actually
    // ran (a noop write would execute a separate QueryExecution and
    // leave df's plan un-finalized)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      "rank joins must be shuffle-hash (hint lost?)")
    // the SMJ fallback would re-sort the |E|-row cached adjacency every
    // iteration; nothing in this plan may sort-merge at all
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
    // exactly ONE nested-loop join is sanctioned: the broadcast 1-row
    // |V| aggregate that keeps the query job-free at build time. The
    // |E|-sized iteration joins must all stay keyed.
    assert(!plan.contains("CartesianProduct"), "no cartesian product")
    // count in the FINAL adaptive plan only (the executed-plan string
    // repeats join nodes in its Initial Plan section)
    val finalPlan = plan.split("== Initial Plan ==").head
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size
    assert(bnlj <= 1, s"$bnlj nested-loop joins (only the 1-row |V| broadcast is allowed)")
  }

  test("building the pagerank query runs no data jobs (plan-only consumers pay " +
    "only the scan-metadata floor)") {
    // every path-based spark.read.parquet runs ONE footer-schema job —
    // that metadata floor belongs to any query build. Construction must
    // add nothing on top (the old version ran a 1.18M-edge distinct +
    // count at build time).
    def jobs(): Int = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val b0 = jobs()
    Tables(spark, sfDir, "lineitem")
    val floor = jobs() - b0
    val b1 = jobs()
    SparkEntry.queries("q_graph_pagerank")(spark, sfDir)
    val built = jobs() - b1
    assert(built <= floor,
      s"construction launched $built job(s); the bare table read costs $floor")
  }

  test("the eager round loops run one job set per round while building") {
    // building each query runs its eager rounds (one localCheckpoint per
    // round) plus the scan-metadata floor; a round that re-ran its
    // predecessor, or a lost checkpoint, changes the count. AQE is off:
    // its runtime re-planning made one count vary between runs
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // the floor is 1 (the lineitem or customer footer read); bfs, sssp
    // and walks add one job per round, scc one sizing count and one job
    // per doubling round (8 at 150 customers); labelprop and kcore add
    // their broadcast jobs
    val expected = Map("q_graph_kcore" -> 35, "q_graph_bfs" -> 4,
      "q_graph_sssp" -> 4, "q_graph_scc" -> 10, "q_graph_walks" -> 5,
      "q_graph_labelprop" -> 7)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val sc = spark.sparkContext
    val got = expected.keys.toSeq.map { name =>
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      // a relation an earlier build left cached would skip its fill
      s2.catalog.clearCache()
      org.apache.spark.GraftCoreBridge.drainListenerBus(sc)
      sc.addSparkListener(listener)
      try SparkEntry.queries(name)(s2, sfDir)
      finally {
        org.apache.spark.GraftCoreBridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
      name -> jobs.get
    }.toMap
    s2.catalog.clearCache()
    assert(got == expected)
  }

  test("q_graph_triangles: counts are consistent and the closing probe " +
    "stays keyed") {
    val df = SparkEntry.queries("q_graph_triangles")(spark, sfDir).cache()
    try {
      // each triangle contributes exactly once to each of its 3 corners
      val total = df.agg(sum(col("n_tri"))).head.getLong(0)
      assert(total > 0, "fixture graph must contain triangles")
      assert(total % 3 == 0, s"Σ n_tri = $total not divisible by 3")
      // clustering coefficient is a ratio of realized to possible wedges
      assert(df.filter(col("cc") <= 0 || col("cc") > 1).count() == 0,
        "cc must lie in (0, 1]")
      // a node in a triangle has degree ≥ 2 ⇒ at most C(d,2) triangles;
      // cc = 1 exactly when the neighborhood is a clique
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        "triangle closure must never degenerate to an unkeyed join")
      // closure = neighborhood-intersect along each edge; no wedge
      // relation may ever materialize, so no sort-merge anywhere
      assert(!plan.contains("SortMergeJoin"),
        "closure must stay hash-joined (wedge relation resurrected?)")
      assert(plan.contains("array_intersect"),
        "closure must intersect out-neighborhoods in-expression")
    } finally df.unpersist()
  }

  test("q_graph_kcore: data-derived k, peels reach the core fixed point") {
    val rows = SparkEntry.queries("q_graph_kcore")(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture graph must have a non-empty core")
    val k = rows.head.getLong(2)
    assert(rows.forall(_.getLong(2) == k), "k must be one global threshold")
    val core = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.values.forall(_ >= k), s"core nodes must have deg >= $k")
    // rebuild the full graph, induce it on the core, re-derive degrees:
    // they must match the query's reported degrees exactly, and the
    // peeling must actually have REMOVED the sparse periphery
    import org.apache.spark.sql.functions._
    val e0 = Tables(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val sym = e0.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .union(e0.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_partkey") * 2).as("dst")))
    val edges = sym.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nAll = edges.map(_._1).distinct.length
    assert(core.size < nAll,
      s"k=$k peeled nothing ($nAll nodes): threshold too low to bite")
    val keep = core.keySet
    val induced = edges.filter { case (s, d) => keep(s) && keep(d) }
    val degrees = induced.groupBy(_._1)
      .map { case (n, es) => n -> es.length.toLong }
    assert(degrees == core,
      "query degrees must equal independently induced core degrees")
    // fixed point: one more peel over the induced core removes nothing
    assert(degrees.values.forall(_ >= k),
      s"induced core is not a $k-core: the fixed rounds did not converge")
  }

  test("q_graph_bfs: exact shortest-hop labeling (seeds at 0, every other " +
    "distance = 1 + min neighbor distance)") {
    import org.apache.spark.sql.functions._
    val bfs = SparkEntry.queries("q_graph_bfs")(spark, sfDir).cache()
    try {
      val dists = bfs.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // rebuild the graph independently
      val e0 = Tables(spark, sfDir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val edges = e0.collect()
        .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
        .flatMap { case (p, sN) => Seq(p -> sN, sN -> p) }
      val nbrs = edges.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
      // seeds (supplier nodes ≡ 1 mod 14 present in the graph) are 0;
      // everything else obeys the Bellman condition exactly — which IS
      // shortest-hop correctness, not just reachability
      nbrs.keys.foreach { n =>
        if (n % 14 == 1) assert(dists(n) == 0, s"seed $n not at distance 0")
        else dists.get(n).foreach { d =>
          val m = nbrs(n).flatMap(dists.get).min
          assert(d == m + 1, s"node $n labeled $d but min neighbor is $m")
        }
      }
      // 3 rounds cover this dense bipartite graph — the fixed unroll is
      // a converged BFS here, not a truncation
      assert(dists.size == nbrs.size,
        s"${nbrs.size - dists.size} nodes unreached: rounds insufficient")
    } finally bfs.unpersist()
  }

  test("q_graph_sssp equals a sequential Bellman-Ford replay and agrees " +
    "with textbook Dijkstra wherever an optimal path fits the hop bound") {
    val out = SparkEntry.queries("q_graph_sssp")(spark, sfDir).cache()
    try {
      val dists = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // independent graph rebuild with the same deterministic weights
      val e0 = Tables(spark, sfDir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val edges = e0.flatMap { case (p, sk) =>
        val w = (p * 7 + sk * 13) % 97 + 1
        Seq((p * 2, sk * 2 + 1, w), (sk * 2 + 1, p * 2, w))
      }
      val adj = edges.groupBy(_._1).map { case (n, es) =>
        n -> es.map(e => (e._2, e._3))
      }
      val seeds = adj.keys.filter(_ % 14 == 1).toSet
      // (1) sequential K-round Bellman-Ford — the operator's semantics,
      // executed by a different machine (a driver-side fold)
      var d = seeds.map(_ -> 0L).toMap
      for (_ <- 1 to 3) {
        val cand = d.toSeq.flatMap { case (u, du) =>
          adj.getOrElse(u, Array.empty[(Long, Long)])
            .map { case (v, w) => v -> (du + w) }
        } ++ d.toSeq
        d = cand.groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).min }
      }
      assert(dists == d, "distributed relaxation != sequential replay")
      // (2) lexicographic Dijkstra (min cost, then min hops among
      // optimal paths) — an INDEPENDENT algorithm; wherever some
      // optimal path uses <= 3 edges the K-round label must equal it,
      // and everywhere else it can only overestimate
      val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Long, Long)](
        Ordering.by[(Long, Long, Long), (Long, Long)](t => (t._1, t._2)).reverse)
      val best = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      seeds.foreach { s0 => pq.enqueue((0L, 0L, s0)) }
      while (pq.nonEmpty) {
        val (dist, hops, v) = pq.dequeue()
        if (!best.contains(v)) {
          best(v) = (dist, hops)
          adj.getOrElse(v, Array.empty[(Long, Long)]).foreach {
            case (u, w) => if (!best.contains(u))
              pq.enqueue((dist + w, hops + 1, u))
          }
        }
      }
      var pinned = 0
      best.foreach { case (v, (dij, hops)) =>
        if (hops <= 3) {
          assert(dists(v) == dij,
            s"node $v: ${dists(v)} != Dijkstra $dij within hop bound")
          pinned += 1
        } else dists.get(v).foreach { dv =>
          assert(dv >= dij, s"node $v labeled $dv below Dijkstra $dij")
        }
      }
      assert(pinned > 0, "no node within the hop bound — vacuous pin")
    } finally out.unpersist()
  }

  test("q_graph_linkpred: canonical pairs, common bounded by degrees, " +
    "jaccard consistent with the capped universe") {
    val rows = SparkEntry.queries("q_graph_linkpred")(spark, sfDir).collect()
    assert(rows.nonEmpty, "dense fixture graph must produce candidate pairs")
    rows.foreach { r =>
      val (s1, s2, c, j) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(s1 < s2, s"pair ($s1,$s2) not canonical")
      assert(c >= 2 && j > 0 && j <= 1, s"($s1,$s2): common=$c jaccard=$j")
    }
    // pairs are unique — the half-matrix explode must not double-count
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length, "duplicate pairs emitted")
  }

  test("q_graph_labelprop conserves nodes, emits node-id labels, and is " +
    "deterministic") {
    val lp = SparkEntry.queries("q_graph_labelprop")(spark, sfDir).cache()
    try {
      // rebuild the node set from the same edge rule: parts sharing a
      // qty>=30 order with at least one other part
      val li = Tables(spark, sfDir, "lineitem")
        .filter(col("l_quantity") >= 30)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      val nodes = li.groupBy(col("okey"))
        .agg(collect_set(col("pk")).as("pks"))
        .filter(size(col("pks")) >= 2)
        .select(explode(col("pks")).as("node")).distinct().cache()
      // every node appears in exactly one community
      val total = lp.agg(sum(col("n_nodes"))).head.getLong(0)
      assert(total == nodes.count(), s"roster covers $total nodes")
      // community labels are propagated node ids — never invented values
      val alien = lp.join(nodes,
        lp("community") === nodes("node"), "left_anti").count()
      assert(alien == 0, s"$alien non-node community labels")
      // propagation must actually coarsen: fewer communities than nodes
      assert(lp.count() < nodes.count(), "no label ever propagated")
      // synchronous deterministic rounds ⇒ bit-identical reruns
      val again = SparkEntry.queries("q_graph_labelprop")(spark, sfDir)
      assert(lp.except(again).isEmpty && again.except(lp).isEmpty,
        "rerun diverged — update not deterministic")
      nodes.unpersist()
    } finally lp.unpersist()
  }

  test("q_graph_hits: max normalization pins both score classes to 1e6") {
    val rows = SparkEntry.queries("q_graph_hits")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byKind = rows.groupBy(_._1)
    assert(byKind.keySet == Set("hub", "authority"))
    byKind.foreach { case (kind, rs) =>
      assert(rs.length == 10, s"$kind: expected top-10, got ${rs.length}")
      // the last normalization divides by the class maximum, so the top
      // score of each class is EXACTLY 1e6 and nothing exceeds it
      assert(rs.map(_._3).max == 1000000L, s"$kind max off")
      rs.foreach { case (_, node, score) =>
        assert(score > 0 && score <= 1000000L, s"$kind/$node: $score")
      }
      // hubs are even part ids, authorities odd supplier ids
      val parity = if (kind == "hub") 0 else 1
      rs.foreach { case (_, node, _) =>
        assert(node % 2 == parity, s"$kind contains node $node")
      }
    }
  }

  test("q_graph_anf: the iterated counter union equals sketching each " +
    "EXACT ball set (sequential set-expansion replay), radius 0 counts " +
    "|V| exactly, and the curve is nondecreasing") {
    val got = SparkEntry.queries("q_graph_anf")(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(0, 1, 2, 3), s"radii ${got.keySet}")
    // independent graph rebuild + driver-side sequential replay: exact
    // ball SETS per node per radius, each sketched directly — the
    // HyperBall invariant is that the distributed iterate of register
    // unions lands on the sketch OF the set, so the two nf curves must
    // be equal, not merely close
    val e0 = Tables(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val edges = e0.flatMap { case (p, sN) => Seq(p -> sN, sN -> p) }
    val inNbrs = edges.groupBy(_._2).map { case (v, es) =>
      v -> es.map(_._1).toSet
    }
    val nodes = edges.map(_._1).toSet
    assert(got(0) == nodes.size.toLong,
      s"radius 0 must count |V|=${nodes.size} exactly, got ${got(0)}")
    var balls = nodes.map(v => v -> Set(v)).toMap
    for (t <- 1 to 3) {
      balls = nodes.map { v =>
        v -> inNbrs.getOrElse(v, Set.empty)
          .foldLeft(balls(v))((acc, u) => acc ++ balls(u))
      }.toMap
      val nf = nodes.toSeq.map { v =>
        val buf = new Array[Byte](16)
        balls(v).foreach(m => functions.HllSketch.insert(buf, m))
        functions.HllSketch.estimate(buf)
      }.sum
      assert(got(t) == nf,
        s"radius $t: engine ${got(t)} != exact-ball sketch replay $nf")
      assert(got(t) >= got(t - 1),
        s"nf must be nondecreasing: ${got(t - 1)} -> ${got(t)}")
    }
  }

  test("q_graph_harmonic equals the sequential exact-ball replay: " +
    "per-node shell-weighted scores and the (desc, id) top-20") {
    val got = SparkEntry.queries("q_graph_harmonic")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // same sequential set-expansion as the ANF pin, kept per node
    val e0 = Tables(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val edges = e0.flatMap { case (p, sN) => Seq(p -> sN, sN -> p) }
    val inNbrs = edges.groupBy(_._2).map { case (v, es) =>
      v -> es.map(_._1).toSet
    }
    val nodes = edges.map(_._1).toSet
    def estOf(s: Set[Long]): Long = {
      val buf = new Array[Byte](16)
      s.foreach(m => functions.HllSketch.insert(buf, m))
      functions.HllSketch.estimate(buf)
    }
    var balls = nodes.map(v => v -> Set(v)).toMap
    var ests = Map(0 -> nodes.map(v => v -> estOf(balls(v))).toMap)
    for (t <- 1 to 3) {
      balls = nodes.map { v =>
        v -> inNbrs.getOrElse(v, Set.empty)
          .foldLeft(balls(v))((acc, u) => acc ++ balls(u))
      }.toMap
      ests += t -> nodes.map(v => v -> estOf(balls(v))).toMap
    }
    val scored = nodes.toSeq.map { v =>
      v -> (1 to 3).map(t =>
        (ests(t)(v) - ests(t - 1)(v)) * (1000000L / t)).sum
    }
    val top = scored.sortBy { case (v, h) => (-h, v) }.take(20)
    assert(got.toSeq == top.toSeq,
      s"engine top-20 ${got.toSeq.take(3)}... != replay ${top.take(3)}...")
  }
}
