package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** GraftExtensions end-to-end: a session built with
  * spark.sql.extensions=graft.GraftExtensions gets the custom functions
  * and the rebalance-before-explode optimizer rule. */
class ExtensionsSpec extends SparkSpec {

  private def withExtSession(f: SparkSession => Unit): Unit = {
    val base = spark // force base session/context creation
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a STATIC conf read at SparkContext
    // creation; on a shared test context we apply the same class via
    // the builder hook instead.
    val ext = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try f(ext)
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("functions resolve without manual registration") {
    withExtSession { ext =>
      // self-cosine ≈ 1 (exact up to sqrt rounding)
      ext.read.parquet(s"$sfDir/embeddings.parquet").limit(3)
        .select(expr("graft_cosine(embedding, embedding)").as("c"))
        .collect().foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
      val topk = ext.read.parquet(s"$sfDir/orders.parquet")
        .agg(expr("graft_topk(o_totalprice, o_orderkey, 3)").as("t"))
        .select(explode(col("t"))).count()
      assert(topk == 3)
      val hll = ext.read.parquet(s"$sfDir/orders.parquet")
        .agg(expr("graft_hll(o_orderkey)").as("h")).collect()(0).getLong(0)
      assert(hll > 0)
      val shingles = ext.read.parquet(s"$sfDir/documents.parquet").limit(5)
        .select(expr("graft_shingles(text, 3)")).count()
      assert(shingles > 0)
      val norm = ext.range(1)
        .selectExpr("graft_normalize('é', 'NFC')")
        .collect()(0).getString(0)
      assert(norm == "é", "graft_normalize not injected")
      val freq = ext.read.parquet(s"$sfDir/documents.parquet")
        .agg(expr("graft_freq(lang, 4)").as("f"))
        .select(explode(col("f"))).count()
      assert(freq > 0 && freq <= 4)
      val mm = ext.range(1)
        .selectExpr("graft_multi_match('ushers', array('she', 'hers'))")
        .collect()(0).getSeq[Long](0)
      assert(mm == Seq(1L, 1L), "graft_multi_match not injected")
      // theta: sketch → estimate through the injected trio; exact mode
      // at this sf, so self-intersection returns the true distinct count
      val nd = ext.read.parquet(s"$sfDir/orders.parquet")
        .agg(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
      val theta = ext.read.parquet(s"$sfDir/orders.parquet")
        .agg(expr("graft_theta(o_custkey)").as("t"))
        .select(expr("graft_theta_est(t)").as("e"),
          expr("graft_theta_intersect(t, t)").as("i"))
        .collect()(0)
      assert(theta.getLong(0) == nd && theta.getLong(1) == nd, theta.toString)
      // the HLL blob surface (r14): regs at an explicit register count,
      // union re-aggregation of stored blobs, scalar estimate — the
      // chained pipeline must agree with the one-shot graft_hll (both
      // are pure functions of the key set)
      val hllPipe = ext.read.parquet(s"$sfDir/orders.parquet")
        .groupBy(expr("o_orderkey % 4").as("g"))
        .agg(expr("graft_hll_regs(o_orderkey)").as("r"))
        .agg(expr("graft_hll_est(graft_hll_union(r))").as("e"))
        .collect()(0).getLong(0)
      assert(hllPipe == hll,
        s"blob pipeline $hllPipe != one-shot graft_hll $hll")
      val small = ext.read.parquet(s"$sfDir/orders.parquet")
        .agg(expr("graft_hll_est(graft_hll_regs(o_orderkey, 16))").as("e"))
        .collect()(0).getLong(0)
      assert(small > 0, "small-m regs/est not injected")
    }
  }

  test("function catalog: every row resolves in the extensions-built " +
    "session and, after Functions.install, in a plain session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val names = functions.Functions.all.map(_.name)
    assert(names.size == 23 && names.distinct == names, names)
    def missing(s: SparkSession): Seq[String] = names.filterNot(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    withExtSession(ext => assert(missing(ext).isEmpty))
    val plain = spark.newSession()
    assert(missing(plain) == names, "a new session starts without them")
    functions.Functions.install(plain)
    functions.Functions.install(plain) // a second install is harmless
    assert(missing(plain).isEmpty)
    assert(plain.sql("SELECT graft_jaro_winkler('martha', 'marhta')")
      .collect()(0).getDouble(0) > 0.9)
  }

  test("HLL blob surface rejects malformed inputs loudly") {
    def chain(e: Throwable): String = {
      var t = e; val sb = new StringBuilder
      while (t != null) { sb.append(t.getMessage).append(" | "); t = t.getCause }
      sb.toString
    }
    // register-count argument: non-power-of-two, out of range
    for (bad <- Seq("graft_hll_regs(o_orderkey, 17)",
        "graft_hll_regs(o_orderkey, 8)",
        "graft_hll_regs(o_orderkey, 131072)")) {
      val e = intercept[Exception] {
        Tables(spark, sfDir, "orders").agg(expr(bad)).collect()
      }
      assert(chain(e).contains("register"), s"$bad: ${chain(e)}")
    }
    // union over blobs of MIXED register counts must fail, not corrupt
    val o = Tables(spark, sfDir, "orders")
    val mixed = intercept[Exception] {
      o.agg(expr("graft_hll_regs(o_orderkey, 16)").as("r"))
        .union(o.agg(expr("graft_hll_regs(o_orderkey, 32)").as("r")))
        .coalesce(1)
        .agg(expr("graft_hll_union(r)")).collect()
    }
    assert(chain(mixed).contains("different sizes"), chain(mixed))
    // estimate of a non-register blob must fail its length check
    val badEst = intercept[Exception] {
      spark.range(1).selectExpr("graft_hll_est(CAST('abc' AS BINARY))")
        .collect()
    }
    assert(chain(badEst).contains("register"), chain(badEst))
  }

  test("approx-distinct rewrite: flag on rewrites count(DISTINCT x) to " +
    "the HLL estimate within the ±5% band; flag off and guarded shapes " +
    "stay exact") {
    withExtSession { ext =>
      val orders = ext.read.parquet(s"$sfDir/orders.parquet")
      val exact = orders.agg(countDistinct(col("o_custkey")))
        .collect()(0).getLong(0)
      // default off: untouched plan, exact answer
      val offPlan = orders.agg(countDistinct(col("o_custkey")))
        .queryExecution.optimizedPlan.toString
      assert(!offPlan.contains("graft_hll"), "rewrite fired while off")
      try {
        ext.conf.set("graft.approxDistinct.enabled", "true")
        val df = orders.agg(countDistinct(col("o_custkey")).as("nd"))
        assert(df.queryExecution.optimizedPlan.toString
          .contains("graft_hll"), "rewrite did not fire")
        val est = df.collect()(0).getLong(0)
        assert(math.abs(est - exact) <= math.max(1L, exact / 20),
          s"estimate $est outside ±5% of $exact")
        // grouped shape rewrites too, one estimate per group
        val grouped = orders.groupBy(col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).as("nd"))
        assert(grouped.queryExecution.optimizedPlan.toString
          .contains("graft_hll"))
        assert(grouped.collect().forall(_.getLong(1) > 0))
        // guarded shapes pass through untouched
        val guarded = Seq(
          orders.agg(countDistinct(col("o_custkey"), col("o_orderpriority"))),
          orders.agg(sum_distinct(col("o_custkey"))),
          orders.agg(count_distinct(col("o_custkey"))
            .as("x")).filter(lit(true)))
        assert(!guarded(0).queryExecution.optimizedPlan.toString
          .contains("graft_hll"), "two-child distinct rewritten")
        assert(!guarded(1).queryExecution.optimizedPlan.toString
          .contains("graft_hll"), "sum DISTINCT rewritten")
        // FILTER clause guard
        val filtered = ext.sql(
          "SELECT count(DISTINCT o_custkey)" +
            " FILTER (WHERE o_orderpriority = '1-URGENT')" +
            s" FROM parquet.`$sfDir/orders.parquet`")
        assert(!filtered.queryExecution.optimizedPlan.toString
          .contains("graft_hll"), "filtered distinct rewritten")
        // complex-type guard: array/map values hash by JVM identity in
        // the sketch, so the rewrite must pass them through exact
        val complexGuard = ext.sql(
          "SELECT count(DISTINCT array(o_custkey, o_orderkey))" +
            s" FROM parquet.`$sfDir/orders.parquet`")
        assert(!complexGuard.queryExecution.optimizedPlan.toString
          .contains("graft_hll"), "count(DISTINCT array) rewritten")
        // BINARY now hashes by value (hashBytes) — rewrite fires and
        // the estimate tracks the true distinct count, not row count
        val binDf = ext.sql(
          "SELECT count(DISTINCT cast(o_orderpriority AS BINARY)) AS nd" +
            s" FROM parquet.`$sfDir/orders.parquet`")
        assert(binDf.queryExecution.optimizedPlan.toString
          .contains("graft_hll"), "count(DISTINCT binary) not rewritten")
        val binEst = binDf.collect()(0).getLong(0)
        assert(binEst == 5L, s"binary distinct estimate $binEst != 5")
      } finally ext.conf.set("graft.approxDistinct.enabled", "false")
    }
  }

  test("approx-percentile rewrite: flag on swaps exact percentile for " +
    "the sketch within the rank band; flag off and guarded shapes " +
    "stay exact") {
    withExtSession { ext =>
      val li = ext.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("CAST(l_extendedprice AS DOUBLE) AS x",
          "l_linestatus AS g")
      li.createOrReplaceTempView("apr_li")
      def medianDf = ext.sql("SELECT percentile(x, 0.5) AS p FROM apr_li")
      val exact = medianDf.collect()(0).getDouble(0)
      assert(!medianDf.queryExecution.optimizedPlan.toString
        .contains("percentile_approx"), "rewrite fired while off")
      try {
        ext.conf.set("graft.approxPercentile.enabled", "true")
        val df = medianDf
        assert(df.queryExecution.optimizedPlan.toString
          .contains("percentile_approx"), "rewrite did not fire")
        val est = df.collect()(0).getDouble(0)
        // accuracy 10000 bounds rank error to 0.01%·n — a 1% value
        // band is a wide margin on this smooth distribution
        assert(math.abs(est - exact) <= math.abs(exact) * 0.01,
          s"estimate $est outside 1% of $exact")
        // grouped shape rewrites too
        val grouped = ext.sql(
          "SELECT g, percentile(x, 0.9) AS p FROM apr_li GROUP BY g")
        assert(grouped.queryExecution.optimizedPlan.toString
          .contains("percentile_approx"))
        assert(grouped.collect().forall(!_.isNullAt(1)))
        // guarded shapes pass through untouched: array of fractions,
        // FILTER clause, weighted percentile, DESCENDING
        // percentile_cont (Percentile.reverse — the ascending sketch
        // at the same fraction would return the wrong tail),
        // non-numeric child
        val guarded = Seq(
          "SELECT percentile(x, array(0.25, 0.75)) FROM apr_li",
          "SELECT percentile(x, 0.5) FILTER (WHERE g = 'F') FROM apr_li",
          "SELECT percentile(x, 0.5, 2) FROM apr_li",
          "SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY x DESC)" +
            " FROM apr_li",
          "SELECT percentile(CAST(x AS DECIMAL(18,2)), 0.5) FROM apr_li")
        guarded.foreach { q =>
          assert(!ext.sql(q).queryExecution.optimizedPlan.toString
            .contains("percentile_approx"), s"guarded shape rewritten: $q")
        }
        // the descending guard returns the exact upper quartile, not
        // the sketch's lower one
        val exactDesc = ext.sql(
          "SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY x DESC)" +
            " AS p FROM apr_li").collect()(0).getDouble(0)
        val exactAsc75 = ext.sql(
          "SELECT percentile_cont(0.75) WITHIN GROUP (ORDER BY x ASC)" +
            " AS p FROM apr_li").collect()(0).getDouble(0)
        // same rank statistic; interpolation arithmetic runs on the
        // reversed array so it is equal in value, not bitwise
        assert(math.abs(exactDesc - exactAsc75) <=
          math.abs(exactAsc75) * 1e-3,
          s"desc p25 $exactDesc far from asc p75 $exactAsc75")
        // integral children DO rewrite now, through an explicit
        // double cast that keeps the aggregate's DOUBLE result type
        val bigintDf = ext.sql(
          "SELECT percentile(CAST(x AS BIGINT), 0.5) AS p FROM apr_li")
        assert(bigintDf.queryExecution.optimizedPlan.toString
          .contains("percentile_approx"),
          "BIGINT percentile not rewritten")
        assert(bigintDf.schema("p").dataType ==
          org.apache.spark.sql.types.DoubleType,
          "BIGINT rewrite changed the result type")
        val bigintEst = bigintDf.collect()(0).getDouble(0)
        assert(math.abs(bigintEst - exact) <= math.abs(exact) * 0.02,
          s"BIGINT estimate $bigintEst outside 2% of $exact")
      } finally ext.conf.set("graft.approxPercentile.enabled", "false")
    }
  }

  test("cartesian guard check rule: opt-in rejection, default-off passage") {
    withExtSession { ext =>
      val a = ext.range(3).toDF("a")
      val b = ext.range(3).toDF("b")
      // default off: deliberate cross joins analyze and run
      assert(a.crossJoin(b).count() == 9)
      ext.conf.set(graft.plans.CartesianGuard.ConfKey, "true")
      try {
        val e = intercept[Exception] { a.crossJoin(b).count() }
        assert(e.getMessage.contains("failOnCartesian"), e.getMessage)
        // conditioned joins still pass under the guard
        assert(a.join(b, col("a") === col("b")).count() == 3)
      } finally ext.conf.unset(graft.plans.CartesianGuard.ConfKey)
    }
  }

  test("as-of planner strategy is injected: plans without manual register()") {
    withExtSession { ext =>
      // build the logical node directly over analyzed children — NOT via
      // AsOfJoin.asof, which would call register() and mask the injection
      val ev = ext.read.parquet(s"$sfDir/events.parquet")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id").as("pu"),
          col("ts").as("pt"))
      val r = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id").as("cu"),
          col("ts").as("ct"))
      def a(df: org.apache.spark.sql.DataFrame, n: String) =
        df.queryExecution.analyzed.output.find(_.name == n).get
      val df = org.apache.spark.sql.GraftBridge.ofRows(ext,
        graft.plans.AsOfJoin(
          l.queryExecution.analyzed, r.queryExecution.analyzed,
          a(l, "pu"), a(r, "cu"), a(l, "pt"), a(r, "ct"), Seq(a(r, "cid"))))
      assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin "),
        df.queryExecution.executedPlan.toString)
      assert(df.count() > 0)
    }
  }

  test("rebalance rule fans out explode over a small scan, same results") {
    withExtSession { ext =>
      val df = ext.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("Repartition"), s"rule did not fire:\n$opt")
      // semantics unchanged vs the base session (no extensions)
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      assert(df.count() == base.count())
      // and the fan-out actually runs at shuffle parallelism
      assert(df.rdd.getNumPartitions == 4, df.rdd.getNumPartitions.toString)
    }
  }

  test("rule does NOT fire when the input's size stats exceed the threshold") {
    withExtSession { ext =>
      // documents at this sf reports well over 1 KiB of stats bytes, so
      // under a 1 KiB threshold the input no longer counts as "small
      // enough that the shuffle is free" — the rule must stand down
      // (the fires-below-threshold direction is the test above)
      ext.conf.set("graft.rebalanceGenerate.threshold", "1024")
      val df = ext.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("tok"))
      assert(!df.queryExecution.optimizedPlan.toString.contains("Repartition"),
        df.queryExecution.optimizedPlan.toString)
      ext.conf.unset("graft.rebalanceGenerate.threshold")
    }
  }

  test("rule does not stack a second shuffle on an already-repartitioned input") {
    withExtSession { ext =>
      val df = ext.read.parquet(s"$sfDir/documents.parquet")
        .repartition(4)
        .select(explode(split(col("text"), " ")).as("tok"))
      val opt = df.queryExecution.optimizedPlan.toString
      val n = "Repartition".r.findAllIn(opt).length
      assert(n == 1, s"expected exactly the user's repartition, got $n:\n$opt")
    }
  }

  test("rule is disabled by threshold 0") {
    withExtSession { ext =>
      ext.conf.set("graft.rebalanceGenerate.threshold", "0")
      val df = ext.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("tok"))
      assert(!df.queryExecution.optimizedPlan.toString.contains("Repartition"))
      ext.conf.unset("graft.rebalanceGenerate.threshold")
    }
  }

  test("SQL-defined scalar functions compose with engine queries") {
    // Spark 4 SQL UDFs (CREATE FUNCTION ... RETURN expr): the
    // user-facing extension surface that needs NO Scala — the body is
    // a catalyst expression, so it inlines into whole-stage codegen
    // instead of the JVM-lambda boundary a registered udf() pays
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_disc_price")
    spark.sql(
      """CREATE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, d DOUBLE)
        |RETURNS DOUBLE RETURN p * (1.0 - d)""".stripMargin)
    val viaUdf = spark.sql(
      s"""SELECT sum(graft_disc_price(l_extendedprice, l_discount)) AS r
         |FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
      .collect()(0).getDouble(0)
    val direct = Tables(spark, sfDir, "lineitem")
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
      .collect()(0).getDouble(0)
    assert(math.abs(viaUdf - direct) < 1e-6 * math.abs(direct))
    // the body INLINES: no ScalaUDF / BatchEvalPython node in the plan
    val p = spark.sql(
      s"""SELECT graft_disc_price(l_extendedprice, l_discount)
         |FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p.take(800))
  }

  test("parameterized spark.sql binds named parameters without string " +
    "interpolation") {
    // named-parameter binding (Spark 4): literals arrive as PARAMETERS,
    // not spliced text — the SQL-injection-proof entry path for a
    // service wrapping this engine
    val n = spark.sql(
      "SELECT count(*) AS n FROM parquet.`" + sfDir +
        "/orders.parquet` WHERE o_orderpriority = :prio AND " +
        "o_totalprice > :floor",
      Map("prio" -> "1-URGENT", "floor" -> 50000))
      .collect()(0).getLong(0)
    val direct = Tables(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 50000)
      .count()
    assert(n == direct && n > 0, s"param=$n direct=$direct")
  }
}
