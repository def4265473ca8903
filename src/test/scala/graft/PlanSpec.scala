package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-shape assertions: the physical plans must be the ones a 100 TB
  * deployment needs — broadcast where intended, filters pushed to the
  * parquet scan, distributed top-k, codegen on the hot paths. A query
  * that silently regresses to a worse plan fails here even though its
  * results stay correct. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  // Three storage layouts the specs below check on real writes; the
  // engine's own layout writers are in `graft.sources.Layout`.

  /** Range-cluster `df` on `clusterCol` into `files` sorted files, so
    * parquet min/max statistics skip row groups for range predicates. */
  private def writeClustered(df: DataFrame, path: String,
      clusterCol: String, files: Int): Unit =
    df.repartitionByRange(files, df(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Parquet with a bloom filter sized for `ndv` distincts on each of
    * `bloomCols`, for point lookups min/max statistics cannot skip. */
  private def writeBloomFiltered(df: DataFrame, path: String,
      bloomCols: Seq[String], ndv: Long): Unit =
    bloomCols.foldLeft(df.write.mode(SaveMode.Overwrite)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }.parquet(path)

  /** A bucketed, sorted managed table: joins on `bucketCol` between
    * tables bucketed alike need no exchange. */
  private def writeBucketed(df: DataFrame, table: String,
      bucketCol: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite).bucketBy(buckets, bucketCol)
      .sortBy(bucketCol).saveAsTable(table)

  test("q_join_bhj broadcasts the dim side") {
    assert(plan("q_join_bhj").contains("BroadcastHashJoin"))
  }

  test("q_tpch_q5 runs exactly one big shuffle pair, dims broadcast") {
    val p = plan("q_tpch_q5")
    assert("SortMergeJoin".r.findAllIn(p).length == 1, p)
    assert("BroadcastHashJoin".r.findAllIn(p).length == 4, p)
    // the date filter reaches the orders scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q_tpch_q3 plans a distributed top-10 over one SMJ, segment dim broadcast") {
    val p = plan("q_tpch_q3")
    // global ORDER BY + LIMIT must be per-partition heads, not a full sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("SortMergeJoin".r.findAllIn(p).length == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    // both date filters reach their scans
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
  }

  test("q_tpch_q10 plans one fact-fact SMJ with both filters pushed and a " +
    "distributed top-20") {
    val p = plan("q_tpch_q10")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("SortMergeJoin".r.findAllIn(p).length == 1, p)
    // quarter bound reaches the orders scan, returnflag the lineitem scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q_tpch_q2 keeps keyed joins + a distributed top-100, dims broadcast") {
    val p = plan("q_tpch_q2")
    // the correlated-min de-correlation must stay keyed joins + one
    // map-combinable min agg with no single-task global sort. Since r9
    // the SF-proportional sides (filtered part, EUROPE suppliers, the
    // partsupp-derived min table) join UNHINTED — a forced broadcast()
    // would bypass autoBroadcastJoinThreshold and driver-OOM at 100× —
    // so the static plan may show SMJ/SHJ for those probes (AQE
    // converts them back to broadcasts at runtime while they fit);
    // what must never appear is a cartesian/nested-loop shape.
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p) // region→nation dims
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_tpch_q9 plans one fact-fact SMJ with the color filter pushed") {
    val p = plan("q_tpch_q9")
    // the only fact-grain sort is the merge-hinted lineitem⋈orders join;
    // partsupp and all dims attach as hash joins
    assert("SortMergeJoin".r.findAllIn(p).length == 1, p)
    // p_name LIKE 'red%' reaches the part scan as a StartsWith
    assert(p.contains("StringStartsWith(p_name,red)"), p)
  }

  test("q_tpch_q20 pushes the color prefix and keeps semi-join shape") {
    val p = plan("q_tpch_q20")
    assert(p.contains("StringStartsWith(p_name,red)"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("dynamic partition pruning injects a runtime filter on the partitioned scan") {
    import org.apache.spark.sql.functions._
    // hive-partitioned fact + selectively-filtered dim joined on the
    // partition column: the optimizer must reuse the dim's broadcast as a
    // runtime PartitionFilter on the fact scan (DPP), so at 100 TB the
    // fact read is directories-matching-the-dim, not the whole table —
    // the runtime analogue of the static pruning q_parquet_partitioned pins
    val dir = tmpDir("graft_dpp_fact")
    val fact = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_returnflag"))
    graft.sources.Layout.writePartitioned(fact, dir, "l_returnflag")
    val dim = Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus")).distinct()
      .filter(col("l_linestatus") === "F")
    val j = spark.read.parquet(dir).join(dim, "l_returnflag")
      .agg(sum(col("l_extendedprice")))
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), p)
  }

  test("q_join_range2 (binned) plans as an equi-join and equals q_join_range") {
    // the bin trick must eliminate the nested loop — candidates come
    // from equality on (user, bin), the exact range re-filters after
    val p = plan("q_join_range2")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    val a = SparkEntry.queries("q_join_range")(spark, sfDir)
    val b = SparkEntry.queries("q_join_range2")(spark, sfDir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("q_join_smj is a sort-merge join") {
    assert(plan("q_join_smj").contains("SortMergeJoin"))
  }

  test("q_join_shj is a shuffled hash join") {
    assert(plan("q_join_shj").contains("ShuffledHashJoin"))
  }

  test("ANALYZE TABLE feeds CBO estimates; the 1=1 cartesian is reordered away") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    for (t <- Seq("cbo_li", "cbo_supp", "cbo_nat")) {
      s2.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(s"/tmp/graft_warehouse/$t"))
    }
    try {
      Tables(s2, sfDir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .write.saveAsTable("cbo_li")
      Tables(s2, sfDir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        .write.saveAsTable("cbo_supp")
      Tables(s2, sfDir, "nation").select(col("n_nationkey"), col("n_name"))
        .write.saveAsTable("cbo_nat")
      for (t <- Seq("cbo_li", "cbo_supp", "cbo_nat"))
        s2.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      // exact row counts land in the catalog…
      val desc = s2.sql("DESCRIBE TABLE EXTENDED cbo_li").collect()
        .map(r => s"${r.getString(0)}|${r.getString(1)}").mkString("\n")
      assert(desc.contains("6000 rows"), desc)
      // …and the optimizer ESTIMATES from column stats, not file sizes:
      // a selective filter's plan carries a derived row count
      // (SQLConf.get reads the ACTIVE session — set it for s2)
      SparkSession.setActiveSession(s2)
      val est = s2.sql("SELECT * FROM cbo_li WHERE l_suppkey > 0")
        .queryExecution.optimizedPlan.stats.rowCount
      assert(est.exists(rc => rc > 0 && rc <= 6000), s"no CBO estimate: $est")
      // join reorder: the fact table is cross-joined to nation with ON
      // 1=1 in query ORDER, but the optimizer must pull the real
      // conditions in and leave NO cartesian in the executed plan
      val q = s2.sql(
        """SELECT n_name, count(*) AS n FROM cbo_li
          |JOIN cbo_nat ON 1=1
          |JOIN cbo_supp ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin)
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p)
      assert(q.collect().map(_.getLong(1)).sum == 6000)
    } finally {
      SparkSession.setActiveSession(spark)
      for (t <- Seq("cbo_li", "cbo_supp", "cbo_nat")) {
        s2.sql(s"DROP TABLE IF EXISTS $t")
        rm(new java.io.File(s"/tmp/graft_warehouse/$t"))
      }
    }
  }

  test("range-partitioned writes cluster data (file-level min/max narrow)") {
    import org.apache.spark.sql.functions._
    val out = tmpDir("graft_range_clustered")
    writeClustered(
      Tables(spark, sfDir, "orders"), out, "o_orderdate", files = 4)
    // each file should cover a narrow, mostly disjoint date range —
    // the clustering that lets min/max stats skip row groups at scale
    val perFile = spark.read.parquet(out)
      .select(col("o_orderdate"), input_file_name().as("f"))
      .groupBy(col("f"))
      .agg(min("o_orderdate").as("lo"), max("o_orderdate").as("hi"))
      .collect()
    assert(perFile.length == 4)
    // o_orderdate is TIMESTAMP_NTZ → LocalDateTime in rows
    val spans = perFile.map { r =>
      def epoch(i: Int) = r.getAs[java.time.LocalDateTime](i)
        .toEpochSecond(java.time.ZoneOffset.UTC)
      (epoch(1), epoch(2))
    }.sortBy(_._1)
    // disjointness: each file's max <= next file's min (range partitioner)
    spans.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap: $hi > $lo2")
      case _ =>
    }
  }

  test("AQE splits skewed join partitions at runtime") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    // one hot key holding 95% of rows — the 100 TB skew shape in miniature
    val skewed = s2.range(200000).toDF("id")
      .select(when(col("id") < 190000, 0L).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val dim = s2.range(1000).toDF("k")
      .select(col("k"), concat(lit("v"), col("k")).as("v"))
    val joined = skewed.join(dim, "k")
    // collect() executes THIS DataFrame's query execution, so its
    // adaptive plan is finalized (count() would plan a separate query)
    // — only the hot key (k=0) hits the dim; ids >= 190000 have no match
    assert(joined.collect().length == 190000)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE did not mark the skewed join:\n$finalPlan")
  }

  test("q_join_semi and q_join_anti use semi/anti joins, not materialized joins") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("q_join_naaj plans a null-aware HASH anti join and drops exactly " +
    "the null-keyed rows NOT EXISTS would keep") {
    // the `k = j OR isnull(k = j)` single-column anti condition must be
    // recognized as a null-aware anti join (BroadcastHashJoinExec NAAJ
    // mode) — a miss here degenerates to BroadcastNestedLoopJoin, the
    // quadratic shape the cartesian sweep bans
    import org.apache.spark.sql.functions.{col, count, lit, when}
    val p = plan("q_join_naaj")
    // BroadcastHashJoinExec prints its isNullAwareAntiJoin flag as a
    // trailing `true` after the build side — that token is the NAAJ marker
    assert("BroadcastHashJoin \\[nk[^\\]]*\\], \\[n_nationkey[^\\]]*\\], LeftAnti, BuildRight, true".r
      .findFirstIn(p).isDefined,
      s"NOT IN did not extract to a null-aware hash anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // semantics: NOT IN minus NOT EXISTS = the NULL-keyed customers,
    // per mktsegment (three-valued logic drops unknown provenance)
    val c2 = Tables(spark, sfDir, "customer")
      .select(col("c_mktsegment"),
        when(col("c_custkey") % 101 === 11, lit(null))
          .otherwise(col("c_nationkey")).as("nk"))
    val embargo = Tables(spark, sfDir, "nation")
      .filter(col("n_name").like("%1")).select(col("n_nationkey"))
    val notExists = c2
      .join(embargo, c2("nk") === embargo("n_nationkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nullKeyed = c2.filter(col("nk").isNull)
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val notIn = SparkEntry.queries("q_join_naaj")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val segs = notExists.keySet ++ notIn.keySet
    segs.foreach { seg =>
      assert(notIn.getOrElse(seg, 0L) ==
        notExists.getOrElse(seg, 0L) - nullKeyed.getOrElse(seg, 0L),
        s"$seg: NOT IN != NOT EXISTS - null-keyed")
    }
    assert(nullKeyed.values.sum > 0, "fixture injected no NULL keys")
  }

  test("q_filter_pred pushes predicates into the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters: ["), p)
    // at least the IS NOT NULL + comparison filters must reach the scan
    assert(p.contains("IsNotNull"), p)
  }

  test("q_knn_filtered pushes the metadata predicate to the candidate scan " +
    "(filtered search scores survivors only)") {
    val p = plan("q_knn_filtered")
    // the label filter must reach the parquet scan of the candidate
    // side, not run as a post-scan (let alone post-distance) filter
    assert(p.contains("EqualTo(label,2)"), p)
  }

  test("scans prune columns: q_project_cast reads only what it projects") {
    val p = plan("q_project_cast")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_shipdate"),
      "projection query must not read unreferenced columns: " + p)
  }

  test("q1_agg is a partial+final hash aggregation") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q_topk compiles to distributed top-k (TakeOrderedAndProject)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("hot paths run under whole-stage codegen") {
    // AQE hides codegen subtrees until execution; the codegen explain mode
    // compiles the stages regardless.
    for (q <- Seq("q1_agg", "q_project_cast", "q_filter_pred", "q_dedup_embed")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val codegen = df.queryExecution.explainString(
        org.apache.spark.sql.execution.CodegenMode)
      assert(codegen.contains("WholeStageCodegen"), s"$q lost codegen")
    }
  }

  test("q_knn_brute broadcasts the query side, not the vector table") {
    val p = plan("q_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q_knn_lsh joins buckets as an equi-join (hash-joinable key)") {
    val p = plan("q_knn_lsh")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("q_dedup_embed_lsh joins buckets as an equi-join — no cross join") {
    val p = plan("q_dedup_embed_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bucketed embedding dedup must not degenerate to an all-pairs join: " + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("q_dedup_embed_lsh pairs are a subset of brute-force q_dedup_embed") {
    val brute = SparkEntry.queries("q_dedup_embed")(spark, sfDir)
    val lsh = SparkEntry.queries("q_dedup_embed_lsh")(spark, sfDir)
    assert(lsh.exceptAll(brute).count() == 0,
      "bucketed dedup emitted a pair brute force did not")
    assert(lsh.count() > 0)
  }

  test("q_knn_ivf candidates come from a keyed cell join, not a cross join") {
    val p = plan("q_knn_ivf")
    // the ONLY nested-loop allowed is the N×K centroid-assignment
    // broadcast; the candidate probe join must be a hash equi-join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_knn_ivf cells partition the vectors (every vector in exactly one cell)") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val assign = e.crossJoin(broadcast(cents))
      .withColumn("cs", expr("graft_cosine(embedding, cemb)"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cs"), -col("cid"))).as("cell"))
    assert(assign.count() == e.count())
    assert(assign.select(col("cell")).distinct().count() <= 8)
    // a centroid's own nearest centroid is itself (cos = 1)
    val self = assign.filter(col("vec_id") < 8)
      .filter(col("vec_id") === col("cell")).count()
    assert(self == 8, "each centroid must be assigned to its own cell")
  }

  test("z-ordered writes give file-level min/max narrowing on BOTH columns") {
    import org.apache.spark.sql.functions._
    val out = tmpDir("graft_zorder")
    val files = 16
    graft.sources.Layout.writeZOrdered(
      Tables(spark, sfDir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice")),
      out, "l_partkey", "l_suppkey", files = files)
    val perFile = spark.read.parquet(out)
      .select(col("l_partkey"), col("l_suppkey"), input_file_name().as("f"))
      .groupBy(col("f"))
      .agg(min("l_partkey").as("plo"), max("l_partkey").as("phi"),
        min("l_suppkey").as("slo"), max("l_suppkey").as("shi"))
      .collect()
    assert(perFile.length == files)
    val pGlobal = perFile.map(_.getAs[Long]("phi")).max -
      perFile.map(_.getAs[Long]("plo")).min
    val sGlobal = perFile.map(_.getAs[Long]("shi")).max -
      perFile.map(_.getAs[Long]("slo")).min
    def avgSpan(lo: String, hi: String): Double =
      perFile.map(r => (r.getAs[Long](hi) - r.getAs[Long](lo)).toDouble)
        .sum / perFile.length
    // single-column clustering makes ONE of these narrow and leaves the
    // other at ~full range; the Z-curve keeps BOTH below ~60% of global
    assert(avgSpan("plo", "phi") < 0.6 * pGlobal,
      s"partkey spans not narrowed: ${avgSpan("plo", "phi")} vs $pGlobal")
    assert(avgSpan("slo", "shi") < 0.6 * sGlobal,
      s"suppkey spans not narrowed: ${avgSpan("slo", "shi")} vs $sGlobal")
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    // force a shuffle join (bloom filters don't apply to broadcasts —
    // broadcast pruning already has DPP) and let any scan size qualify
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val li = Tables(s2, sfDir, "lineitem")
    val o = Tables(s2, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
    // the optimizer injects might_contain(bloom built from the selective
    // side) under the big side's scan — rows with no join partner are
    // dropped before the shuffle
    val p = j.queryExecution.optimizedPlan.toString
    assert(p.contains("might_contain"),
      "runtime bloom filter was not injected:\n" + p)
  }

  test("q_tpch_q21 dissolves both correlated subqueries: ONE lineitem " +
    "scan, no self-join") {
    val p = plan("q_tpch_q21")
    // the EXISTS/NOT-EXISTS original needs 3 passes over lineitem and a
    // self-join; the rewrite folds every per-order statistic (supplier
    // count, late-supplier count, the sole late supplier and its line
    // count) into one aggregate over the single orders-joined relation
    val liScans = "Location.*lineitem".r.findAllIn(p).length
    assert(liScans == 1, s"$liScans lineitem scans (rewrite regressed?)\n" +
      p.take(1500))
  }

  test("q_tpch_q7 plans one fact-fact SMJ; both nation legs broadcast; " +
    "ship-date bounds pushed") {
    val p = plan("q_tpch_q7")
    assert("SortMergeJoin".r.findAllIn(p).length == 1, p.take(1500))
    // supplier→nation resolves pre-join, customer attaches post-agg:
    // every dimension hop is a broadcast, never a second big exchange
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(1500))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p.take(1500))
  }

  test("q_tpch_q6 pushes all three range predicates to the scan") {
    // Q6 IS its scan: date window, discount band, quantity cap must all
    // reach PushedFilters or the 100 TB read touches every row group.
    // The default 100-char metadata render truncates the filter list —
    // widen it for this assertion only
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val p = plan("q_tpch_q6")
      assert(p.contains("GreaterThanOrEqual(l_shipdate"), p.take(2000))
      assert(p.contains("GreaterThanOrEqual(l_discount"), p.take(2000))
      assert(p.contains("LessThan(l_quantity"), p.take(2000))
      assert(!p.contains("Join"), p.take(2000))
    } finally spark.conf.unset("spark.sql.maxMetadataStringLength")
  }

  test("q_tpch_q8 runs two grain-reducing SMJs under the deepest join tree") {
    val p = plan("q_tpch_q8")
    // exactly two big exchanges: lineitem⋈orders at line grain, then —
    // AFTER volume pre-aggregates to (custkey, year, nation) — the
    // customer region-membership join at CUSTOMER grain. Both sides of
    // the second join grow with the data, so SMJ (not broadcast) is the
    // honest 100 TB shape; everything else is a schema-bounded broadcast
    assert("SortMergeJoin".r.findAllIn(p).length == 2, p.take(1500))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p.take(1500))
    assert(p.contains("EqualTo(p_type,PROMO)"), p.take(1500))
  }

  test("q_tpch_q17 runs ONE lineitem scan with the brand filter reaching " +
    "the part scan") {
    val p = plan("q_tpch_q17")
    // the correlated-subquery original scans lineitem twice; the window
    // rewrite folds the per-part threshold into the single partkey sort
    val liScans = "Location.*lineitem".r.findAllIn(p).length
    assert(liScans == 1, s"$liScans lineitem scans (rewrite regressed?)")
    assert(p.contains("EqualTo(p_brand,Brand#13)"), p.take(1500))
    assert(p.contains("Window"), p.take(1500))
  }

  test("q_tpch_q19 keeps the disjunction a hash join with the part-only " +
    "half pruning the broadcast") {
    val p = plan("q_tpch_q19")
    // the OR of brand/size/quantity arms must not degrade to a nested
    // loop: partkey stays the equi-key, mixed arms filter post-join
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(1500))
    // the part-side halves of the arms reach the part scan as pushed
    // filters (Or(EqualTo(p_brand,...)...))
    assert(p.contains("PushedFilters: [Or("), p.take(1500))
  }

  test("q_decontam_bloom probes the filter inside the scan stage, before " +
    "the confirm join's exchange") {
    val p = plan("q_decontam_bloom")
    assert(p.contains("graft_bloom_contains"), "bloom prefilter missing")
    // the exact confirm must stay a shuffle join (the regime this plan
    // exists for: a bench set too big to broadcast as a hash relation)
    assert(p.contains("ShuffledHashJoin"), p.take(1500))
  }

  test("q_window_range2 (two running sums) equals a sliding RANGE frame, full table") {
    // the benched q_window_range pins RANGE semantics on a one-event-type
    // slice (the sliding frame is O(n·frame)); the FULL-TABLE equivalence
    // against the O(n) two-running-sums plan is pinned here instead
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("event_type"))
      .orderBy(unix_timestamp(col("ts")))
      .rangeBetween(-604800L, 0L)
    val a = Tables(spark, sfDir, "events").select(
      col("event_id"), col("event_type"),
      Num.r(sum(col("value")).over(w), 2).as("trailing_7d"))
    val b = SparkEntry.queries("q_window_range2")(spark, sfDir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("q_join_theta2 (order statistics) equals q_join_theta (nested loop)") {
    // the r9 probe measured the BNLJ at 35× on 10× data; the twin must
    // reproduce it without materializing a single pair. n_richer is
    // exact; the averages compare within a cent (theta folds raw
    // doubles, theta2 exact cents — both round to the same money value)
    val a = SparkEntry.queries("q_join_theta")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val b = SparkEntry.queries("q_join_theta2")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(a.keySet == b.keySet,
      s"supplier sets differ: ${(a.keySet diff b.keySet).take(5)} / " +
        s"${(b.keySet diff a.keySet).take(5)}")
    a.foreach { case (k, (n, avg)) =>
      assert(b(k)._1 == n, s"supplier $k n_richer ${b(k)._1} != $n")
      assert(math.abs(b(k)._2 - avg) <= 0.01,
        s"supplier $k avg ${b(k)._2} vs $avg")
    }
  }

  test("q_window_ntile2 (chunked ranks) equals q_window_ntile (native window)") {
    val a = SparkEntry.queries("q_window_ntile")(spark, sfDir)
    val b = SparkEntry.queries("q_window_ntile2")(spark, sfDir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("q_agg_bitmap stays Expand-free with partial aggregation at every level") {
    // the bitmap plan's whole point: distinct counting WITHOUT a
    // distinct aggregate — no Expand, and each of the three groupBys
    // map-side combines (partial HashAggregate/ObjectHashAggregate)
    val p = plan("q_agg_bitmap")
    assert(!p.contains("Expand"), p)
    assert(p.contains("partial"), p)
  }

  test("q_agg_approx keeps exact and sketch aggregation Expand-free") {
    // mixing countDistinct with the imperative sketch aggregates in one
    // groupBy re-plans as Expand (2x rows) through ObjectHashAggregate —
    // measured 3.5x slower; the split-and-join shape must not regress
    assert(!plan("q_agg_approx").contains("Expand"), plan("q_agg_approx"))
  }

  test("q_parquet_partitioned prunes partitions at the scan") {
    val p = plan("q_parquet_partitioned")
    assert(p.contains("PartitionFilters: [") && p.contains("lang"), p)
  }

  test("compaction collapses a small-files directory without changing content") {
    import org.apache.spark.sql.functions._
    val srcDir = tmpDir("graft_smallfiles")
    val dstDir = tmpDir("graft_compacted")
    val orders = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    orders.repartition(50).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(srcDir)
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    val src = parquetFiles(srcDir)
    assert(src.length == 50)
    val srcBytes = src.map(_.length).sum
    // target sized to ask for ~4 output files
    graft.sources.Layout.compact(
      spark.read.parquet(srcDir), srcBytes, dstDir,
      targetBytes = math.max(1L, srcBytes / 4))
    val dst = parquetFiles(dstDir)
    assert(dst.length <= 5, s"still ${dst.length} files")
    val a = spark.read.parquet(srcDir)
    val b = spark.read.parquet(dstDir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("salted join spreads a hot key and matches the plain join") {
    import org.apache.spark.sql.functions._
    // one hot key dominates the fact side; the dim is too big to
    // broadcast in this scenario, so a plain equi-join lands 95% of rows
    // on one reducer. Salting: fact gets a random-ish salt from a
    // high-cardinality column; the dim is replicated across all salts —
    // each hot key now occupies SALT reducers. Same result set.
    val SALT = 8
    val fact = spark.range(100000).toDF("id")
      .select(when(col("id") < 95000, 0L).otherwise(col("id") % 100).as("k"),
        col("id").as("payload"))
    val dim = spark.range(100).toDF("k")
      .select(col("k"), concat(lit("v"), col("k")).as("v"))
    val plain = fact.join(dim.hint("merge"), "k")
      .select(col("k"), col("payload"), col("v"))
    val saltedFact = fact.withColumn("salt", pmod(col("payload"), lit(SALT)))
    val saltedDim = dim.select(col("k"), col("v"),
      explode(sequence(lit(0L), lit((SALT - 1).toLong))).as("salt"))
    val salted = saltedFact.join(saltedDim.hint("merge"), Seq("k", "salt"))
      .select(col("k"), col("payload"), col("v"))
    assert(salted.exceptAll(plain).count() == 0
      && plain.exceptAll(salted).count() == 0)
    // the salted join's shuffle key includes the salt
    val p = salted.queryExecution.executedPlan.toString
    assert(p.contains("salt"), p)
  }

  test("no query falls back to an unintended cross/nested-loop join") {
    // the whole-suite guard: any future query (or Spark upgrade) that
    // silently degenerates to an all-pairs plan fails here, not at 100 TB
    val intentional = Set(
      "q_knn_brute", // broadcast query set × vector table: exact baseline
      "q_knn_ivf", // N×K centroid assignment (K = 8, broadcast)
      "q_knn_ivf_trained", // same N×K assignment, per Lloyd round
      // build (first run only): the N×K Lloyd assignment; probe: the
      // 10-query × K-row PERSISTED centroid crossJoin — both sides
      // bounded (queries by the probe set, centroids by K), never
      // data×data; the corpus-sized path is the runtime-filtered scan
      "q_knn_ivf_served",
      // same plan family as served: build/maintain crossJoins are
      // wave × K-row persisted centroids (both bounded), probe is the
      // 10-query × K crossJoin; the corpus path stays runtime-filtered
      "q_knn_ivf_maintained",
      "q_join_theta", // a theta join IS a nested loop by definition
      "q_join_theta2", // its order-statistics twin: 1-row bounds
      // broadcast + the nation×range prefix spine (25·parts rows) —
      // every cross here is dimension/parts-bounded, never data×data
      "q_join_range", // non-equi interval join
      "q_join_asof", // bounded range join + rank (asof2 is the O(n) path)
      "q_dedup_embed", // all-pairs ground truth (embed_lsh is the scale path)
      "q_text_tfidf", // crossJoin(broadcast(single-row corpus count))
      "q_text_lmscore", // crossJoin(broadcast(single-row corpus token total))
      "q_text_minkprob", // the same lmscore 1-row corpus-total broadcast
      "q_text_bm25", // crossJoin(broadcast(single-row N/avgdl statistics))
      "q_search_hybrid", // same 1-row stats broadcast + 1-row query vector
      "q_agg_heavyhitters", // crossJoin(broadcast(single-row total)) for the n/m threshold
      "q_agg_theta", // crossJoin of three single-row aggregates (sketch pair + exact)
      "q_active_trailing", // crossJoin(broadcast(single-row day horizon))
      "q_graph_pagerank", // crossJoin(broadcast(single-row |V| aggregate))
      "q_knn_recall", // q_knn_ivf's N×K assignment feeding the recall audit
      "q_dedup_semantic", // the Lloyd rounds' N×K broadcast centroid assignment
      "q_embed_silhouette", // the same N×K broadcast scoring pass
      "q_dedup_purity", // 1-row N/MI/H broadcasts over the cell table
      "q_decontam_bloom", // crossJoin(broadcast(single-row bloom sketch))
      "q_mix_temperature", // crossJoin(broadcast(single-row min-chars aggregate))
      "q_mix_allocate", // crossJoin(broadcast(single-row grand-total aggregate))
      "q_text_nb", // vocab × language-list densification (L-row broadcast)
      // + 1-row vocab-size/doc-total broadcasts building the NB model
      "q_agg_chi2", // crossJoin(broadcast(single-row grand-total aggregate))
      "q_profile_skew", // same constant-group chunkedRank bounds broadcast
      "q_histogram_eqdepth", // global rank: chunkedRank's 1-row bounds
      // broadcast constant-folds its equi-join key (the group column is
      // a literal — the corpus IS one group), leaving a 1-row BNLJ
      "q_subquery_scalar", // scalar subquery = 1-row broadcast join
      "q_tpch_q22", // uncorrelated scalar AVG = 1-row broadcast join
      "q_tpch_q15", // 1-row max-revenue broadcast over the revenue agg
      "q_tpch_q11", // 1-row total/part-count broadcast threshold
      "q_embed_pca", // per-round crossJoin(broadcast(1-row iterate array))
      "q_embed_centroids", // bounded L² nested loop over L centroid rows
      "q_embed_pca2", // per-round crossJoins of 1-row iterate/λ/v1 arrays
      "q_label_kappa", // crossJoin of 1-row total/agree/chance aggregates
      "q_pref_btl", // per-MM-round crossJoin(broadcast(1-row norm total))
      "q_graph_kcore", // crossJoin(broadcast(1-row degree-quantile k))
      "q_knn_ndcg", // contains q_knn_brute's exact baseline by definition
      "q_knn_mrr", // same labeled brute-force truth baseline
      "q_knn_filtered", // q_knn_brute's broadcast-query shape + label filter
      "q_skyline", // crossJoin(broadcast(1-row chunk-bounds aggregate))
      "q_ab_ttest", // crossJoin of the two 1-row arm aggregates
      "q_embed_outliers", // 1-row centroid array + 1-row threshold broadcasts
      "q_text_pmi", // 1-row N_bg/N_u totals + constant-group chunkedRank
      "q_vocab_oov", // constant-group chunkedRank bounds (global vocab rank)
      "q_vocab_coverage", // same vocab rank + 1-row total broadcast
      "q_rfm", // 1-row anchor date + constant-group chunkedRank ×3
      "q_calibration", // constant-group chunkedRank (global decile rank)
      "q_ts_acf", // day-rollup × broadcast 3-row lag relation (bounded fan-out)
      "q_ts_xcorr", // (type, day) rollup × broadcast 7-row signed-lag relation
      "q_dedup_lsh_sweep", // crossJoin(broadcast(1-row ground-truth count))
      "q_basket_rules", // crossJoin(broadcast(1-row basket count))
      "q_text_lm_bigram", // crossJoin(broadcast(1-row distinct-bigram total))
      "q_text_dsir", // crossJoin(broadcast(1-row target/raw totals))
      "q_text_ppl_buckets", // lmscore's 1-row corpus-total broadcast
      "q_knn_mips", // q_knn_brute's broadcast-query exact-baseline shape
      "q_embed_mrl", // the same corpus × 10-query broadcast probe, scoring
                     // full and prefix dims in one pass
      "q_eval_rbo", // q_embed_mrl's shared probe, RBO scoring on top
      "q_text_bpe_train", // per-round crossJoin(broadcast(1-row argmax pair))
      "q_text_wordpiece", // the same per-round 1-row argmax/total
                          // broadcasts, likelihood-scored
      "q_text_bpe_apply", // shares the trainer's per-round 1-row argmax
                          // broadcasts; serving side adds only keyed joins
      "q_text_unigram_apply", // vocab-id rank via constant-group
                              // chunkedRank: its offsets BNLJ runs over
                              // the ≤shuffle.partitions per-chunk count
                              // table (training's 1-row vm broadcasts
                              // are behind the seg localCheckpoint)
      "q_quantile_norm", // crossJoin(broadcast(1-row corpus total))
      "q_graph_boruvka", // crossJoin of three 1-row phase-summary aggregates
      "q_text_textrank", // constant-group chunkedRank bounds (global top-10)
      "q_division", // crossJoin(broadcast(1-row divisor cardinality))
      "q_graph_modularity", // crossJoins of 1-row m/k/Qnum aggregates
      "q_graph_conductance", // crossJoin(broadcast(1-row 2m total))
      "q_drift_jsd", // pairs x vocabulary grid: bounded crossJoin(broadcast(vocab))
      "q_mix_waterfill", // 1-row budget/level broadcasts over the source table
      "q_graph_hits", // per-half-step crossJoin(broadcast(1-row max)) normalizers
      "q_ts_backtest", // crossJoin(broadcast(1-row backtest horizon))
      "q_churn_km", // crossJoin(broadcast(1-row corpus horizon))
      "q_churn_logrank", // same 1-row horizon broadcast via sessionLifetimes
      "q_ml_logreg", // per-Newton-step crossJoin(broadcast(1-row weights))
      "q_ml_adaboost", // per-round crossJoins: the 96-row literal stump
                       // grid plus 1-row best/norm/acc aggregates —
                       // all bounded by construction
      "q_ml_isotonic", // BETWEEN-joins over the 64-row bin table and
                       // its 2080-range grid — both sides bin-grid
                       // bounded at every SF
      "q_ml_als", // crossJoins of the two 1-row RMSE aggregates onto
                  // the 64-row item-factor output (factor-table joins
                  // themselves are keyed equi-joins)
      "q_ml_conformal", // crossJoins of 1-row model/k/q̂ aggregates +
                        // chunkedRank's bounded offsets BNLJ
      "q_search_mmr", // 1-row query-vector broadcast (knn-brute shape)
                      // + the pool²-bounded candidate pair matrix and
                      // ≤5-row greedy-round joins (LIMIT-bounded)
      "q_stats_kruskal", // crossJoin of the two 1-row moment/tie
                         // aggregates (the anova pivot shape)
      "q_ml_ransac", // corpus × 16-row candidate table (adaboost
                     // bounded fan-out) + 1-row winner broadcasts
      "q_ml_gbt", // per-round crossJoins: the 32-row literal stump
                  // grid + 1-row mean/best/SSE aggregates
      "q_ml_tree", // per-level crossJoins: the same 32-row grid +
                   // 1-row root split (the leaf-split join is keyed)
      "q_ab_permutation", // crossJoin(broadcast(1-row observed-Δ agg))
      "q_layout_zorder", // 1-row bounds broadcast + zone-map × 16
                         // broadcast boxes box-overlap probe (both
                         // sides bounded: 128 zones, 16 boxes)
      "q_geo_haversine", // corpus × broadcast ≤8-row probe set (the
                         // knn-brute radius-search shape)
      "q_geo_pip", // corpus × broadcast 17-row literal polygon-edge
                   // table (the haversine probe idiom)
      "q_geo_knn", // the same corpus × broadcast ≤8-row probe set
      "q_ml_svm", // per-round crossJoin(broadcast(1-row weights)) —
                  // the logreg shape on hinge loss
      "q_stats_fdr", // crossJoin(broadcast(1-row BH k_max)) onto the
                     // 20-row ranked p-value table
      "q_seq_patterns", // crossJoin(broadcast(1-row user-count total))
                        // onto the ≤A³-row pattern support table
      "q_ts_holt", // crossJoin(broadcast(1-row calendar bounds)) onto
                   // the event-type relation (spine densification)
      "q_agg_kll", // crossJoin(broadcast(3-row quantile spine)) onto
                   // the sketch-sized pair table
      "q_cdc_apply") // crossJoin(broadcast(1-row min/max ts bounds)); the
                     // half=0/1 filters fold into the BNLJ condition but
                     // the broadcast side stays exactly one row
    for ((name, fn) <- SparkEntry.queries if !intentional(name)) {
      val p = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name planned an unintended non-equi join:\n$p")
    }
  }

  test("q_layout_dsv2 plans the box THROUGH the V2 source: BatchScan " +
    "carries the pushed predicates and a kept<total zone count") {
    val p = plan("q_layout_dsv2")
    assert(p.contains("BatchScan graft_zonemap"), p)
    // the query's own a/b bounds reach the scan as pushed filters
    assert(p.contains("GreaterThanOrEqual(a,"), p)
    assert(p.contains("LessThanOrEqual(b,"), p)
    // and the planning-time pruning decision is visible in-plan:
    // the middle-quarter box must skip at least half the Z-tiles
    val kept = raw"zones kept (\d+)/(\d+)".r.findFirstMatchIn(p)
      .getOrElse(fail(s"no kept/total in plan:\n$p"))
    val (k, n) = (kept.group(1).toInt, kept.group(2).toInt)
    assert(k * 2 <= n, s"box kept $k of $n zones — pruning too weak:\n$p")
  }

  test("q_layout_dv reads deletion vectors as scan+filter: the bitmap " +
    "rides the BatchScan (dv count in-plan), never a join operator") {
    val p = plan("q_layout_dv")
    assert(p.contains("BatchScan graft_zonemap"), p)
    // deletions applied inside the scan, visible in the plan
    val dv = raw"dv deleted: (\d+)".r.findFirstMatchIn(p)
      .getOrElse(fail(s"no dv count in plan:\n$p"))
    assert(dv.group(1).toLong > 0, s"no deletions visible in-plan:\n$p")
    // THE deletion-vector contract: no anti-join against the fact —
    // in fact no join operator of any kind anywhere in the read plan
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"deletion-vector read planned a join:\n$p")
  }

  test("q_layout_runtime composes DPP with the zone index: the year " +
    "dim's join keys arrive as a runtime filter on the V2 scan and " +
    "actually skip files") {
    val df = SparkEntry.queries("q_layout_runtime")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan graft_zonemap"), p)
    // the planner injected the runtime filter (it could not push the
    // year predicate statically — it lives on a derived expression)
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    // and no static box reached the scan: pruning is ALL runtime here
    assert(p.contains("box: a in [-inf, inf], b in [-inf, inf]"), p)
    // execute: the dim's 365 contiguous days must skip files — the
    // year window covers ~15 % of the day domain, so a Z-clustered
    // layout keeps well under half the zones
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    val kept = raw"zones kept (\d+)/(\d+)".r.findFirstMatchIn(executed)
      .getOrElse(fail(s"no kept/total in executed plan:\n$executed"))
    val (k, n) = (kept.group(1).toInt, kept.group(2).toInt)
    assert(k * 2 <= n,
      s"runtime keys kept $k of $n zones — skip too weak:\n$executed")
    assert(executed.contains("runtime keys on a:"), executed)
  }

  test("q_layout_topn pushes ORDER BY a LIMIT 500 into the scan: the " +
    "prefix rule skips most files and Spark's TakeOrdered stays on top") {
    val df = SparkEntry.queries("q_layout_topn")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("topN: a asc limit 500"), p)
    val kept = raw"zones kept (\d+)/(\d+)".r.findFirstMatchIn(p)
      .getOrElse(fail(s"no kept/total in plan:\n$p"))
    val (k, n) = (kept.group(1).toInt, kept.group(2).toInt)
    assert(k * 2 <= n, s"top-N kept $k of $n zones — skip too weak:\n$p")
    // partial pushdown: the exactness-restoring global top-k remains
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_layout_spj joins two co-bucketed fact tables with NO join " +
    "shuffle: the only exchange in the plan is the final aggregation") {
    val df = SparkEntry.queries("q_layout_spj")(spark, sfDir)
    df.collect()
    // the FINAL adaptive plan only (toString also prints the pre-AQE
    // initial plan, which would double-count)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"), p)
    // exactly one exchange: hashpartitioning for the groupBy ABOVE the
    // join — the fact-fact shuffle itself was deleted by the reported
    // KeyGroupedPartitioning
    val exchanges = raw"Exchange hashpartitioning".r
      .findAllMatchIn(p).size
    assert(exchanges == 1, s"expected only the agg exchange, got " +
      s"$exchanges:\n$p")
  }

  test("q_layout_stats serves count/min/max from the zone rows: the " +
    "BatchScan declares it in-plan and no aggregate reads a data file") {
    val p = plan("q_layout_stats")
    assert(p.contains("aggregates served from zone rows"), p)
    assert(p.contains("no data file read"), p)
    // the whole query is scan → project: the agg was consumed by
    // pushdown, so no shuffle and no zones-kept file listing appear
    assert(!p.contains("Exchange"), s"stats query planned a shuffle:\n$p")
    assert(!p.contains("zones kept"), s"stats query listed data files:\n$p")
  }

  test("no query force-broadcasts an SF-proportional relation") {
    // the third CartesianGuard-idiom sweep (joins: cartesian sweep
    // above; windows: unpartitioned-window sweep below; now broadcast
    // hints). An explicit broadcast() BYPASSES
    // autoBroadcastJoinThreshold — Spark builds the hash relation on
    // the driver no matter how big the side got — so a hint on a
    // relation that grows with the corpus (part/supplier/customer at
    // TPC-H 100×, or anything documents/embeddings/events-derived)
    // trades a graceful SMJ degradation for a driver OOM. The rule this
    // sweep enforces: a broadcast hint's subtree must be PROVABLY
    // bounded — leaf scans only of schema-bounded dims (nation: 25
    // rows, region: 5, local/range relations), or every path to a fact
    // leaf cut by a GLOBAL aggregate (empty grouping ⇒ exactly 1 row).
    // Three more patterns are recognized structurally: (a) an upper
    // bound on a DENSE UNIQUE KEY (`vec_id < 10`, `doc_id IN (...)`) —
    // vec_id/doc_id are contiguous keys per TESTDATA.md, so a literal
    // ceiling bounds the row count by the literal at every SF (the knn
    // query-set/centroid idiom); (b) LIMIT k; (c) chunkedRank's
    // internal `__`-prefixed statistics tables (bounds: |groups| rows,
    // offsets: |groups|·shuffle.partitions — the reserved __ prefix is
    // that helper's contract, and the unpartitioned-window sweep below
    // already polices its callers' group-key boundedness). Anything
    // else (e.g. a groupBy over a bounded key space, whose boundedness
    // Catalyst cannot see) must be allowlisted here WITH the
    // boundedness argument, or the build fails.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In, LessThan, LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val factTables = Set("lineitem", "orders", "customer", "part",
      "supplier", "documents", "embeddings", "events")
    // name -> why the hinted side is bounded despite touching a fact.
    // Two recurring argument families: DIMENSION-BOUNDED pre-aggs
    // (grouping key is a schema-bounded categorical — source, lang,
    // event_type, l_returnflag/linestatus — so the table has a fixed
    // row count at every SF) and VOCAB-BOUNDED model tables (per-term
    // aggregates; |vocab| grows sublinearly by Heaps' law and the
    // SCALING.md discipline df-caps or rank-caps the hot tail).
    val allow: Map[String, String] = Map(
      "q_join_bhj" ->
        "the broadcast-join OPERATOR PIN: the hint IS the thing under test",
      "q_join_theta" ->
        ("theta join: broadcast-or-cartesian are the only two shapes; " +
          "supplier is the smaller side by construction"),
      "q_ab_ttest" -> "per-arm aggregates; the arm key is hash%2 = 2 rows",
      "q_agg_approx" ->
        "per-l_returnflag sketch table; 3 flag values at every SF",
      "q_agg_approx_pct" ->
        "pricePercentiles bracketing rows: 2 per percentile per linestatus",
      "q_agg_corr" ->
        "same pricePercentiles bracketing-row table (2 rows per group)",
      "q_winsorize" ->
        "same pricePercentiles bracketing-row table (2 rows per group)",
      "q_agg_chi2" ->
        "contingency marginals grouped by source / lang — schema-bounded",
      "q_agg_spearman" ->
        ("per-(linestatus, quantity) rank table; l_quantity is integral " +
          "1..50, so the table is domain-bounded (the price-side rank " +
          "table is fact-sized and correctly joins unhinted)"),
      "q_anomaly_zscore" ->
        "per-event_type mean/stddev table — schema-bounded categories",
      "q_anomaly_mad" ->
        "per-event_type median/MAD tables — schema-bounded categories",
      "q_curate_report" ->
        "per-source funnel totals/entropy — |sources| schema-bounded",
      "q_dedup_lsh_sweep" ->
        "per-(bands, rows) sweep aggregate — the fixed banding config grid",
      "q_dedup_purity" ->
        ("per-source marginal byL — |sources| schema-bounded (the " +
          "∝corpus per-component marginal byC joins shuffle_hash)"),
      "q_drift_psi" ->
        "per-(source, decile-bin) histogram — fixed bins × sources",
      "q_drift_jsd" ->
        "pair × union-vocabulary grid — vocab-bounded (Heaps' law)",
      "q_embed_centroids" ->
        "per-label centroid/count tables — |labels| schema-bounded",
      "q_eval_f1" ->
        "confusion-matrix marginals — |langs|+1 rows",
      "q_knn_recall" ->
        ("query-side tables under a Window ABOVE the vec_id<10 ceiling " +
          "(10 queries x probes rows); the Window hides the Filter from " +
          "the static key-ceiling rule"),
      "q_mix_temperature" ->
        "per-source sampling thresholds — |sources| schema-bounded",
      "q_search_hybrid" ->
        "per-term document-frequency table — vocab-bounded (Heaps' law)",
      "q_source_overlap" ->
        "per-source shingle totals — |sources| schema-bounded",
      "q_text_tfidf" ->
        "per-term document-frequency table — vocab-bounded (Heaps' law)",
      "q_text_bm25" ->
        "per-term document-frequency table — vocab-bounded (Heaps' law)",
      "q_text_lmscore" ->
        "per-token unigram LM table — vocab-bounded (Heaps' law)",
      "q_text_minkprob" ->
        "the same vocab-bounded unigram LM broadcast as lmscore",
      "q_text_dsir" ->
        ("λ model grouped by hash%128 — fixed-modulus bucket key, 128 " +
          "rows at every SF; per-source selection counts schema-bounded"),
      "q_text_ppl_buckets" ->
        ("lmscore's vocab-bounded unigram LM broadcast + per-lang doc " +
          "counts — |langs| schema-bounded"),
      "q_text_nb" ->
        "per-(lang, token) NB model — |langs| x vocab, Heaps-bounded",
      "q_vocab_oov" ->
        "rank-capped top-K vocabulary table — K rows by construction",
      "q_geo_haversine" ->
        ("probe side is a c_custkey < 8 ceiling — customer keys are " +
          "contiguous per TESTDATA.md, so ≤8 rows at every SF (the " +
          "static key-ceiling rule only knows vec_id/doc_id)"),
      "q_geo_knn" ->
        ("the same c_custkey < 8 probe ceiling as q_geo_haversine — " +
          "≤8 rows at every SF"),
      "q_layout_runtime" ->
        ("distinct order days of ONE year — calendar-bounded (≤366 " +
          "rows at every SF); the hint is also what makes the DPP " +
          "broadcast reusable for the runtime zone filter"),
      "q_agg_kll" ->
        ("the estimate table is the KLL sketch's GROUPED aggregate — " +
          "|linestatus| × 3 quantile rows at every SF (the sketch " +
          "bounds state per group by construction)"),
      "q_ml_tree" ->
        ("the leaf-split table is the windowed argmax over the " +
          "(2 leaves × 32 candidates) aggregate — ≤2 rows broadcast"))
    def isFactScan(l: LogicalRelation): Boolean = l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.exists(p =>
        factTables.exists(t => p.toString.contains(s"/$t")))
      case _ => false
    }
    val denseKeys = Set("vec_id", "doc_id")
    // type coercion wraps one side in Cast (vec_id < CAST(10 AS BIGINT))
    def strip(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => strip(c.child)
      case o => o
    }
    def isKey(e: Expression): Boolean = strip(e) match {
      case a: AttributeReference => denseKeys(a.name)
      case _ => false
    }
    def isLit(e: Expression): Boolean = strip(e).isInstanceOf[Literal] ||
      strip(e).foldable
    def keyCeiling(e: Expression): Boolean = e match {
      case LessThan(a, l) => isKey(a) && isLit(l)
      case LessThanOrEqual(a, l) => isKey(a) && isLit(l)
      case EqualTo(a, l) => isKey(a) && isLit(l)
      case In(a, vs) => isKey(a) && vs.forall(isLit)
      // one bounding conjunct bounds the whole AND; an OR does not bound
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        keyCeiling(l) || keyCeiling(r)
      case _ => false
    }
    def bounded(p: LogicalPlan): Boolean = p match {
      // a global aggregate emits EXACTLY one row — bounded no matter
      // what it scans (the dominant legitimate pattern:
      // crossJoin(broadcast(df.agg(...))))
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      // chunkedRank's reserved-prefix statistics tables (contract above)
      case a: Aggregate
        if a.aggregateExpressions.exists(_.name.startsWith("__")) => true
      case f: Filter if keyCeiling(f.condition) => true
      case _: GlobalLimit | _: LocalLimit => true
      case l: LogicalRelation => !isFactScan(l)
      case _: LocalRelation | _: Range | _: OneRowRelation => true
      case o => o.children.forall(bounded)
    }
    val offenders = for {
      (name, fn) <- SparkEntry.queries.toSeq
      if !allow.contains(name)
      plan = fn(spark, sfDir).queryExecution.analyzed
      h <- plan.collectWithSubqueries {
        case r: ResolvedHint if r.hints.strategy.contains(BROADCAST) &&
          !bounded(r.child) => r
      }
    } yield s"$name: broadcast hint over ${h.child.nodeName} subtree " +
      "scanning a fact table without a global-aggregate cut"
    assert(offenders.isEmpty,
      "queries force-broadcasting an SF-proportional side without a " +
        s"boundedness allowlist entry:\n${offenders.distinct.mkString("\n")}")
  }

  test("no graph query shuffles the same input twice without reusing it") {
    // the replay sweep: two ShuffleExchangeExec nodes over one
    // canonicalized child are one input computed twice, which the lazy
    // plan does not share (the BFS rounds' 2^k replay class). Exchanges
    // with an identical partitioning are merged by exchange reuse into a
    // ReusedExchangeExec and are not counted; what is left differs only
    // in its partitioning. Planned with AQE off so the static plan shows
    // every exchange; a cached relation's plan is walked once. Each query
    // builds on an empty cache manager, as Verify and Bench run them: a
    // relation an earlier query left cached is matched into the next
    // query's plan and reads as a second shuffle of the same input.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    // name -> why the repeated input stays
    val allow: Map[String, String] = Map()
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    def exchanges(p: SparkPlan, seen: scala.collection.mutable.Set[SparkPlan])
        : Seq[ShuffleExchangeExec] =
      p.collectWithSubqueries { case e: ShuffleExchangeExec => e } ++
        p.collectWithSubqueries { case m: InMemoryTableScanExec => m.relation.cachedPlan }
          .filter(seen.add).flatMap(exchanges(_, seen))
    def replays(df: DataFrame): Seq[String] = {
      val plan = df.queryExecution.executedPlan
      s2.catalog.clearCache()
      exchanges(plan, scala.collection.mutable.Set.empty)
        .groupBy(_.child.canonicalized).toSeq.collect {
          case (child, es) if es.size > 1 =>
            s"${es.size} exchanges (${es.map(_.outputPartitioning).mkString(", ")}) " +
              s"over one ${child.nodeName}"
        }
    }
    // the sweep sees a replay: one aggregate shuffled by two keys
    val agg = s2.range(100).selectExpr("id % 7 AS a", "id % 5 AS b").distinct()
    assert(replays(agg.repartition(col("a")).union(agg.repartition(col("b")))).size == 1)
    val offenders = graft.operators.Graph.defs.filterNot(d => allow.contains(d.name))
      .flatMap(d => replays(d.fn(s2, sfDir)).map(r => s"${d.name}: $r"))
    assert(offenders.isEmpty,
      "graph queries shuffling one input twice without a replay allowlist " +
        s"entry:\n${offenders.mkString("\n")}")
  }

  test("no query plans an unpartitioned window over unbounded input") {
    // the CartesianGuard idiom for single-task sorts: a WindowExec with
    // an EMPTY partitionSpec moves ALL its input rows to one task — fine
    // when the input is bounded by construction, a cluster-wide
    // serialization point when it is corpus-sized. Any query planning
    // one must be allowlisted here WITH the boundedness argument; a new
    // query (or a Spark upgrade) that silently adds a global sort fails
    // this sweep, not the 100 TB run. (The corpus-sized global ranks all
    // go through Analytics.chunkedRank — its only empty-partition window
    // runs over the per-(group,chunk) COUNT table, ≤ shuffle.partitions
    // rows by construction, which is the dominant allowlist entry.)
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // this list is EXACT, not defensive: every entry verifiably plans at
    // least one empty-partitionSpec window today (grouped chunkedRank
    // callers like q_curate_percentile partition their offsets window by
    // the real group key and do NOT appear). Constant-group chunkedRank
    // shows up here because Catalyst constant-folds the literal group
    // column out of the partitionSpec — the window that remains runs
    // over the per-chunk COUNT table, ≤ shuffle.partitions rows.
    val bounded = Map(
      // constant-group chunkedRank prefix offsets: ≤ #chunks rows
      "chunked-rank offsets" -> Set(
        "q_histogram_eqdepth", "q_profile_skew", "q_vocab_oov",
        "q_vocab_coverage",
        "q_text_pmi", "q_text_textrank", "q_rfm", "q_calibration",
        "q_quantile_norm", "q_basket_rules", "q_graph_kcore",
        // bpe_apply's vocab-id rank: constant-group chunkedRank over
        // the post-merge VOCABULARY (Heaps-sublinear, model-sized)
        "q_text_bpe_apply",
        // unigram_apply's vocab-id rank: same argument — the input is
        // the TRAINED vocabulary (chars + uniTopK capped multi-char
        // tokens), bounded by the training cap at every SF
        "q_text_unigram_apply",
        "q_search_hybrid",
        // conformal's calibration-score rank: constant-group
        // chunkedRank — the remaining window runs over the per-chunk
        // COUNT table, ≤ shuffle.partitions rows
        "q_ml_conformal"),
      // BPE's adjacent-pair table ≤ alphabet² rows
      "BPE pair table" -> Set("q_text_bpe"),
      // allocation sweeps run over the SOURCES relation (schema-bounded
      // handful of rows); gini's chunkedRank input is the same relation
      "sources relation" -> Set(
        "q_mix_waterfill", "q_mix_allocate", "q_mix_gini"),
      // |event types|³-bounded path table
      "path table" -> Set("q_path_trigrams"),
      // skyline's global sweep runs over 32 chunk-local frontiers
      "skyline frontier" -> Set("q_skyline"),
      // theta2's cross-chunk prefix runs over the DENSE ≤ parts-row
      // chunk spine (the chunkedRank offsets argument, sums not ranks)
      "theta2 chunk prefix" -> Set("q_join_theta2"),
      // log-rank risk-set suffix sums run over the MERGED death-time
      // table — bounded by the session-duration domain (minutes of
      // the longest session), far sublinear in the corpus
      "logrank death-time table" -> Set("q_churn_logrank"),
      // Benford's N total runs over the ≤9-row first-digit table
      "benford digit table" -> Set("q_audit_benford"),
      // Kruskal-Wallis' cumulative rank spine runs over the
      // thousand-dollar bins of the PINNED TPC-H price domain
      // (~560 rows at every SF — domain-bounded, not corpus-bounded)
      "kruskal bin spine" -> Set("q_stats_kruskal"),
      // BH's rank + m windows run over the per-SOURCE p-value relation
      // (source-cardinality bounded — 20 rows at every SF)
      "fdr p-value table" -> Set("q_stats_fdr"),
      // the two drift-rank windows run over the per-SOURCE W1 relation
      // (source-cardinality bounded — 20 rows at every SF)
      "drift rank table" -> Set("q_drift_kll"))
    val allow: Set[String] = bounded.values.flatten.toSet
    def emptyPartWindows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[String] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          Seq(w.nodeName)
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          Seq(w.nodeName)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      here ++ kids.flatMap(emptyPartWindows)
    }
    val offenders = for {
      (name, fn) <- SparkEntry.queries.toSeq
      if !allow(name)
      w = emptyPartWindows(fn(spark, sfDir).queryExecution.executedPlan)
      if w.nonEmpty
    } yield s"$name: ${w.mkString(", ")}"
    assert(offenders.isEmpty,
      "queries planning an unpartitioned window without a boundedness " +
        s"allowlist entry:\n${offenders.mkString("\n")}")
  }

  test("writeBloomFiltered stores working per-row-group bloom filters in the footer") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.column.values.bloomfilter.BloomFilter
    import org.apache.parquet.io.api.Binary
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("graft_bloom")
    // the key must OVERFLOW the dictionary page: parquet skips the bloom
    // filter for fully dictionary-encoded chunks (the dictionary is
    // already exact membership) — 300k distinct longs forces the plain-
    // encoding fallback, the regime bloom filters exist for
    import org.apache.spark.sql.functions.{col, lit}
    writeBloomFiltered(
      spark.range(300000).select(
        col("id").as("o_orderkey"), col("id").as("o_custkey"),
        lit("x").as("o_orderpriority")).repartition(1),
      dir, Seq("o_custkey"), ndv = 300000L)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.getAbsolutePath),
      spark.sparkContext.hadoopConfiguration))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val byCol = rg.getColumns.asScala
        .map(c => c.getPath.toDotString -> c).toMap
      // the requested column carries a filter; the others don't
      assert(byCol("o_custkey").getBloomFilterOffset > 0, byCol.keys)
      assert(byCol("o_orderkey").getBloomFilterOffset <= 0)
      val bloom: BloomFilter = reader.readBloomFilter(byCol("o_custkey"))
      assert(bloom != null)
      // membership: every present key answers "maybe", and probing
      // far-away keys finds definite absences — the row-group skip a
      // reader takes on a point lookup
      assert((0L until 1000L).forall(k => bloom.findHash(bloom.hash(k))))
      val absentHits = (1 to 1000)
        .map(i => 10000000L + i)
        .count(k => bloom.findHash(bloom.hash(k)))
      assert(absentHits < 1000, "bloom filter never reports absence")
    } finally reader.close()
  }

  test("bucketed tables join without a shuffle exchange") {
    import org.apache.spark.sql.functions._
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // directory persists — clear both
    for (t <- Seq("graft_li_bucketed", "graft_o_bucketed")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft_warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    writeBucketed(li, "graft_li_bucketed",
      "l_orderkey", buckets = 8)
    writeBucketed(o, "graft_o_bucketed",
      "o_orderkey", buckets = 8)
    val joined = spark.table("graft_li_bucketed")
      .join(spark.table("graft_o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
    // bucketing co-locates both sides: the sort-merge join must not
    // re-shuffle either input
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(joined.count() > 0)
  }
}
