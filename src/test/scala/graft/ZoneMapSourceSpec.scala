package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThanOrEqual, StringContains}

import graft.sources.{ZoneBox, ZoneMapSource}

/** The DSv2 zone-map source: pruning must be a PLANNING decision —
  * visible in the plan, partition count == surviving files, pushdown
  * conservative, results exact. */
class ZoneMapSourceSpec extends SparkSpec {

  private lazy val table: String = {
    val dir = tmpDir("zonemap_dsv2")
    val rows = Tables(spark, sfDir, "lineitem").selectExpr(
      "l_orderkey * 10 + l_linenumber AS rid",
      "l_partkey AS a", "l_suppkey AS b")
    (0 until 3).foreach { w =>
      graft.streaming.Streaming.zoneIngestBatch(
        rows.filter(pmod(col("rid"), lit(3)) === w), w.toLong, dir)
    }
    graft.streaming.Streaming.zoneOptimize(spark, dir)
    dir
  }

  private def rows = Tables(spark, sfDir, "lineitem").selectExpr(
    "l_orderkey * 10 + l_linenumber AS rid",
    "l_partkey AS a", "l_suppkey AS b")

  private def v2 = spark.read.format("graft.sources.ZoneMapSource")
    .load(table)

  /** Domain-relative middle-quarter box (the spec constants rule:
    * sf0.001's b domain is tiny, so derive, don't hardcode). */
  private lazy val box: (Long, Long, Long, Long) = {
    val r = rows.agg(min(col("a")), max(col("a")),
      min(col("b")), max(col("b"))).collect()(0)
    val (amin, amax, bmin, bmax) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    (amin + (amax - amin + 1) / 4, amin + (amax - amin + 1) / 2 - 1,
      bmin + (bmax - bmin + 1) / 4, bmin + (bmax - bmin + 1) / 2 - 1)
  }

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** All BatchScans, recursing through AQE query stages (a grouped
    * plan's leaves are materialized ShuffleQueryStageExec nodes). */
  private def scansIn(p: SparkPlan): Seq[BatchScanExec] = p.collect {
    case b: BatchScanExec => Seq(b)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scansIn(q.plan)
  }.flatten

  private def batchScan(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
    df.collect() // finalize AQE
    scansIn(finalPlan(df.queryExecution.executedPlan)) match {
      case Seq(one) => one
      case other => fail(s"expected one BatchScan, got $other")
    }
  }

  test("box scan: pruning lands in-plan (kept < total in the BatchScan " +
    "description, pushed filters listed) and results equal the direct " +
    "filter exactly") {
    val (alo, ahi, blo, bhi) = box
    val df = v2.filter(
      col("a").between(alo, ahi) && col("b").between(blo, bhi))
    val scan = batchScan(df)
    val desc = scan.scan.description()
    assert(desc.contains("graft_zonemap"), desc)
    val kept = raw"zones kept (\d+)/(\d+)".r.findFirstMatchIn(desc)
      .getOrElse(fail(s"no kept/total in: $desc"))
    val (k, n) = (kept.group(1).toInt, kept.group(2).toInt)
    assert(k < n, s"box scan pruned nothing: $desc")
    assert(desc.contains(s"GreaterThanOrEqual(a,$alo)"), desc)
    assert(desc.contains(s"LessThanOrEqual(b,$bhi)"), desc)
    // partition count == surviving part-files (one task per kept file)
    val keptFiles = graft.sources.ZoneMapSource.zoneRows(table)
      .filter(z => z.la <= ahi && z.ha >= alo && z.lb <= bhi && z.hb >= blo)
      .flatMap(z => ZoneMapSource.partFiles(table, z.file))
    assert(scan.inputRDD.getNumPartitions == keptFiles.size)
    // exactness: residual filter re-applies the box within kept files
    val expect = rows.filter(
      col("a").between(alo, ahi) && col("b").between(blo, bhi))
    assert(df.count() == expect.count())
    assert(df.agg(sum(col("rid")), sum(col("a")), sum(col("b")))
      .collect()(0) ==
      expect.agg(sum(col("rid")), sum(col("a")), sum(col("b")))
        .collect()(0))
  }

  test("unfiltered scan keeps every zone and returns every row") {
    val df = v2
    val scan = batchScan(df)
    val desc = scan.scan.description()
    val kept = raw"zones kept (\d+)/(\d+)".r.findFirstMatchIn(desc).get
    assert(kept.group(1) == kept.group(2), desc)
    assert(df.count() == rows.count())
  }

  test("projection pushdown reaches the scan: a single-column read " +
    "plans a single-column BatchScan") {
    val df = v2.select(col("a"))
    val scan = batchScan(df)
    assert(scan.output.map(_.name) == Seq("a"), scan.output)
    assert(df.agg(sum(col("a"))).collect()(0).getLong(0) ==
      rows.agg(sum(col("a"))).collect()(0).getLong(0))
  }

  test("zero-column projection (count(*)) still counts every row") {
    assert(v2.count() == rows.count())
  }

  test("planning statistics come from the surviving zone rows") {
    val (alo, ahi, blo, bhi) = box
    val df = v2.filter(
      col("a").between(alo, ahi) && col("b").between(blo, bhi))
    val scan = batchScan(df).scan
    val stats = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    val keptN = graft.sources.ZoneMapSource.zoneRows(table)
      .filter(z => z.la <= ahi && z.ha >= alo && z.lb <= bhi && z.hb >= blo)
      .map(_.n).sum
    assert(stats.numRows.getAsLong == keptN)
    assert(stats.sizeInBytes.getAsLong > 0)
    // the estimate bounds the true row count (zones are supersets of
    // the exact box)
    assert(keptN >= df.count())
  }

  test("ZoneBox folds filters conservatively: strict bounds widen to " +
    "inclusive, non-integral and foreign columns are ignored") {
    val b1 = ZoneBox.from(Seq(
      GreaterThan("a", 10L), LessThanOrEqual("a", 90),
      EqualTo("b", 7L), IsNotNull("a"),
      StringContains("a", "x"), GreaterThanOrEqual("rid", 5L)))
    // GreaterThan folds to an INCLUSIVE lower bound (file granularity
    // cannot exploit openness; conservative = correct)
    assert(b1.alo == 10L && b1.ahi == 90L)
    assert(b1.blo == 7L && b1.bhi == 7L)
    assert(!ZoneBox.prunable(StringContains("a", "x")))
    assert(!ZoneBox.prunable(EqualTo("rid", 1L)))
    assert(ZoneBox.prunable(IsNotNull("b")))
    // a double literal must not prune (zone stats are integral)
    assert(ZoneBox.from(Seq(EqualTo("a", 1.5))) == ZoneBox.all)
  }

  test("aggregate pushdown: whole-table count/min/max is served from " +
    "the zone rows — one synthetic partition, no data file read, " +
    "values exact") {
    val df = v2.agg(count(lit(1)).as("n"),
      min(col("a")).as("min_a"), max(col("a")).as("max_a"),
      min(col("b")).as("min_b"), max(col("b")).as("max_b"))
    val scan = batchScan(df)
    val desc = scan.scan.description()
    assert(desc.contains("aggregates served from zone rows"), desc)
    assert(scan.inputRDD.getNumPartitions == 1, desc)
    val got = df.collect()(0)
    val want = rows.agg(count(lit(1)), min(col("a")), max(col("a")),
      min(col("b")), max(col("b"))).collect()(0)
    assert(got == want, s"$got vs $want")
  }

  test("aggregate pushdown declines when it cannot be exact: a filter, " +
    "a grouping, a non-stats column, or a live deletion vector all " +
    "fall back to the normal zone scan") {
    val (alo, ahi, _, _) = box
    // residual filter: file-granular stats cannot re-filter rows
    val f = v2.filter(col("a") >= alo && col("a") <= ahi)
      .agg(count(lit(1)).as("n"))
    assert(!batchScan(f).scan.description()
      .contains("aggregates served"), "filtered agg must not be served")
    // grouping: zone rows carry no group keys
    val g = v2.groupBy(pmod(col("rid"), lit(5))).agg(count(lit(1)))
    assert(!batchScan(g).scan.description()
      .contains("aggregates served"), "grouped agg must not be served")
    // rid is not a statistics column — min(rid) is not in the index
    val r = v2.agg(min(col("rid")))
    assert(!batchScan(r).scan.description()
      .contains("aggregates served"), "min(rid) must not be served")
    // a live deletion vector changes count and can delete an extremum
    val dvDir = tmpDir("zonemap_dsv2_dvagg")
    graft.streaming.Streaming.zoneIngestBatch(rows, 0L, dvDir)
    graft.streaming.Streaming.dvDelete(spark, dvDir,
      (rid, _, _) => rid % 7 == 3)
    val dv = spark.read.format("graft.sources.ZoneMapSource").load(dvDir)
      .agg(count(lit(1)).as("n"))
    assert(!batchScan(dv).scan.description()
      .contains("aggregates served"), "agg over live DVs must not be served")
    assert(dv.collect()(0).getLong(0) ==
      rows.filter(pmod(col("rid"), lit(7)) =!= 3).count())
  }

  test("runtime filtering: join keys delivered at execution prune zone " +
    "files (kept < total partitions) and the join result is exact") {
    val (alo, ahi, _, _) = box
    // dim keys: a CONTIGUOUS a-range, filtered on a DERIVED predicate
    // so nothing transfers statically (pmod of the key is opaque to
    // constraint-propagation pushdown — and even the inferred filter
    // is not a translatable source Filter)
    val dim = spark.range(alo, ahi + 1).toDF("d")
      .filter(pmod(col("d"), lit(1000000007L)) === col("d")) // no-op, selective-shaped
    val df = v2.join(broadcast(dim), col("a") === col("d"))
      .agg(count(lit(1)).as("n"), sum(col("rid")).as("sr"))
    val scan = batchScan(df)
    val totalFiles = graft.sources.ZoneMapSource.zoneRows(table).size
    assert(scan.inputRDD.getNumPartitions < totalFiles,
      s"runtime filter pruned nothing: ${scan.inputRDD.getNumPartitions}" +
        s" of $totalFiles — ${scan.scan.description()}")
    // plan carries the injected runtime filter
    assert(finalPlan(df.queryExecution.executedPlan).toString
      .toLowerCase.contains("dynamicpruning"),
      df.queryExecution.executedPlan.toString)
    val want = rows.filter(col("a").between(alo, ahi))
      .agg(count(lit(1)), sum(col("rid"))).collect()(0)
    assert(df.collect()(0) == want)
  }

  test("top-N pushdown: both directions prune by the prefix rule with " +
    "exact results, and live deletion vectors decline the push") {
    def topn(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      finalPlan(df.queryExecution.executedPlan).toString
    }
    val k = 40
    val asc = v2.select(col("b")).orderBy(col("b")).limit(k)
    val pa = topn(asc)
    assert(pa.contains(s"topN: b asc limit $k"), pa)
    assert(asc.collect().map(_.getLong(0)).toSeq ==
      rows.select(col("b")).orderBy(col("b")).limit(k)
        .collect().map(_.getLong(0)).toSeq)
    val desc = v2.select(col("a")).orderBy(col("a").desc).limit(k)
    val pd = topn(desc)
    assert(pd.contains(s"topN: a desc limit $k"), pd)
    assert(desc.collect().map(_.getLong(0)).toSeq ==
      rows.select(col("a")).orderBy(col("a").desc).limit(k)
        .collect().map(_.getLong(0)).toSeq)
    // live deletion vectors: counts stop bounding survivors — decline
    val dvDir = tmpDir("zonemap_dsv2_topndv")
    graft.streaming.Streaming.zoneIngestBatch(rows, 0L, dvDir)
    graft.streaming.Streaming.dvDelete(spark, dvDir,
      (rid, _, _) => rid % 5 == 2)
    val dv = spark.read.format("graft.sources.ZoneMapSource").load(dvDir)
      .select(col("a")).orderBy(col("a")).limit(k)
    assert(!topn(dv).contains("topN:"), "DV table must decline top-N")
    assert(dv.collect().map(_.getLong(0)).toSeq ==
      rows.filter(pmod(col("rid"), lit(5)) =!= 2)
        .select(col("a")).orderBy(col("a")).limit(k)
        .collect().map(_.getLong(0)).toSeq)
  }

  test("v2 write path: batches commit atomically with exact zone " +
    "stats, a failed write leaves nothing visible, and batch ids are " +
    "immutable") {
    val dir = tmpDir("zonemap_dsv2_write")
    def save(df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      df.write.format("graft.sources.ZoneMapSource")
        .option("batch", b).mode("append").save(dir)
    save(rows.filter(pmod(col("rid"), lit(2)) === 0), 0L)
    save(rows.filter(pmod(col("rid"), lit(2)) === 1), 1L)
    val v = spark.read.format("graft.sources.ZoneMapSource").load(dir)
    // round-trip exact
    assert(v.count() == rows.count())
    assert(v.agg(sum(col("rid")), sum(col("a")), sum(col("b")))
      .collect()(0) ==
      rows.agg(sum(col("rid")), sum(col("a")), sum(col("b")))
        .collect()(0))
    // the committed zone rows carry the true per-batch stats
    val half0 = rows.filter(pmod(col("rid"), lit(2)) === 0)
    val want = half0.agg(min(col("a")), max(col("a")), min(col("b")),
      max(col("b")), count(lit(1))).collect()(0)
    val z0 = graft.sources.ZoneMapSource.zoneRows(dir)
      .find(_.file == "batch=0").get
    assert((z0.la, z0.ha, z0.lb, z0.hb, z0.n) ==
      ((want.getLong(0), want.getLong(1), want.getLong(2),
        want.getLong(3), want.getLong(4))))
    // a mid-write task failure aborts: nothing becomes visible and no
    // staging survives
    val boom = rows.select(
      when(col("rid") % 997 === 3,
        (lit(1) / lit(0)).cast("long")) // ANSI division error mid-task
        .otherwise(col("rid")).as("rid"), col("a"), col("b"))
    intercept[Exception] { save(boom, 2L) }
    assert(v.count() == rows.count(), "failed write changed the table")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith(".w_staging"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    // batch ids are immutable
    val dup = intercept[Exception] {
      save(rows.limit(5).selectExpr("rid", "a", "b"), 1L)
    }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
  }

  test("streaming sink: epochs become batches through the v2 write, a " +
    "re-delivered epoch is a no-op, and a crash leftover re-publishes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("zonemap_dsv2_sink") + "/t"
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val q = mem.toDF().toDF("rid", "a", "b")
      .writeStream.format("graft.sources.ZoneMapSource")
      .option("checkpointLocation", tmpDir("zonemap_sink_ckpt"))
      .outputMode("append").start(dir)
    try {
      mem.addData((1L, 10L, 100L), (2L, 20L, 200L))
      q.processAllAvailable()
      mem.addData((3L, 30L, 300L))
      q.processAllAvailable()
      val v = spark.read.format("graft.sources.ZoneMapSource").load(dir)
      assert(v.count() == 3)
      // each epoch is one visible batch with true stats
      val zs = graft.sources.ZoneMapSource.zoneRows(dir)
        .sortBy(_.file)
      assert(zs.map(_.file) == Seq("batch=0", "batch=1"), zs)
      assert(zs.head.n == 2 && zs.head.la == 10 && zs.head.ha == 20)
    } finally q.stop()
    // exactly-once: a RE-DELIVERED committed epoch commits as a no-op
    val sw = new graft.sources.ZoneMapStreamingWrite(dir, "redeliver")
    sw.commit(1L, Array.empty) // batch=1 already visible: must not throw
    assert(spark.read.format("graft.sources.ZoneMapSource").load(dir)
      .count() == 3)
    // crash leftover: data/batch=K without its zone row was never
    // visible — a re-commit clears it and publishes fresh
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    rows.limit(4).write.mode("overwrite")
      .parquet(s"$dir/data/batch=7") // simulated half-commit leftover
    assert(spark.read.format("graft.sources.ZoneMapSource").load(dir)
      .count() == 3, "zone-row-less data must stay invisible")
    Seq((9L, 90L, 900L)).toDF("rid", "a", "b")
      .write.format("graft.sources.ZoneMapSource")
      .option("batch", 7L).mode("append").save(dir)
    val after = spark.read.format("graft.sources.ZoneMapSource")
      .load(dir)
    assert(after.count() == 4, "recovered batch=7 must hold ONLY the " +
      "fresh row, not the crash leftover")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/zones/batch=7")))
  }

  test("streaming source: readStream serves each published batch " +
    "exactly once, resumes from the checkpoint, and a compacted delta " +
    "throws") {
    import spark.implicits._
    val dir = tmpDir("zonemap_dsv2_src") + "/t"
    def save(w: Int): Unit =
      rows.filter(pmod(col("rid"), lit(3)) === w)
        .write.format("graft.sources.ZoneMapSource")
        .option("batch", w.toLong).mode("append").save(dir)
    save(0)
    // phase 1: incremental arrival into a memory sink (fresh query)
    val q = spark.readStream
      .format("graft.sources.ZoneMapSource").load(dir)
      .writeStream.format("memory").queryName("zm_src")
      .option("checkpointLocation", tmpDir("zonemap_src_memckpt"))
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("zm_src").count() ==
        rows.filter(pmod(col("rid"), lit(3)) === 0).count())
      save(1)
      q.processAllAvailable()
      assert(spark.table("zm_src").count() ==
        rows.filter(pmod(col("rid"), lit(3)) <= 1).count())
    } finally q.stop()
    // phase 2: the medallion hop — stream table A into table B through
    // the table's OWN sink, then restart from the checkpoint and prove
    // only the new batch travels
    val dirB = tmpDir("zonemap_dsv2_srcB") + "/t"
    val ckpt = tmpDir("zonemap_src_ckpt")
    def pipe() = spark.readStream
      .format("graft.sources.ZoneMapSource").load(dir)
      .writeStream.format("graft.sources.ZoneMapSource")
      .option("checkpointLocation", ckpt).outputMode("append")
      .start(dirB)
    val q2 = pipe()
    try { q2.processAllAvailable() } finally { q2.stop() }
    val b1 = spark.read.format("graft.sources.ZoneMapSource").load(dirB)
    assert(b1.count() ==
      rows.filter(pmod(col("rid"), lit(3)) <= 1).count())
    save(2)
    val q3 = pipe() // restart from the checkpoint
    try { q3.processAllAvailable() } finally { q3.stop() }
    val b2 = spark.read.format("graft.sources.ZoneMapSource").load(dirB)
    assert(b2.count() == rows.count(),
      "restarted pipeline must deliver exactly the new batch")
    // B saw exactly two epochs: the catch-up batch and the resumed one
    assert(graft.sources.ZoneMapSource.zoneRows(dirB).size == 2,
      graft.sources.ZoneMapSource.zoneRows(dirB).map(_.file).toString)
    // change feed, batch form: (0, latest] = batches 1 and 2
    val delta = spark.read.format("graft.sources.ZoneMapSource")
      .option("changesfrom", 0L).load(dir)
    assert(delta.count() ==
      rows.filter(pmod(col("rid"), lit(3)) >= 1).count())
    assert(batchScan(delta).scan.description()
      .contains("changes: batch>0"), batchScan(delta).scan.description())
    // pushed boxes prune WITHIN the delta
    val (alo, ahi, _, _) = box
    val boxed = spark.read.format("graft.sources.ZoneMapSource")
      .option("changesfrom", 0L).load(dir)
      .filter(col("a").between(alo, ahi))
    assert(boxed.count() ==
      rows.filter(pmod(col("rid"), lit(3)) >= 1 &&
        col("a").between(alo, ahi)).count())
    // a compacted delta throws rather than serving wrong rows
    graft.streaming.Streaming.zoneOptimize(spark, dir)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.ZoneMapSource")
        .option("changesfrom", 0L).load(dir).count()
    }
    assert(e.getMessage.contains("compacted away"), e.getMessage)
    // ...but a fresh consumer (changesfrom=-1) reads the generation
    assert(spark.read.format("graft.sources.ZoneMapSource")
      .option("changesfrom", -1L).load(dir).count() == rows.count())
  }

  test("streaming source: a committed offset range replays byte-identical " +
    "after a dvDelete lands between deliveries (append-feed determinism)") {
    import spark.implicits._
    val dir = tmpDir("zonemap_dsv2_dvreplay") + "/t"
    def save(w: Int): Unit =
      rows.filter(pmod(col("rid"), lit(3)) === w)
        .write.format("graft.sources.ZoneMapSource")
        .option("batch", w.toLong).mode("append").save(dir)
    val ckpt = tmpDir("zonemap_dvreplay_ckpt")
    val emitted =
      scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, Long)]]
    def run(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ZoneMapSource").load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          emitted(id) = b.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .sorted.toSeq
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    save(0)
    val q1 = spark.readStream
      .format("graft.sources.ZoneMapSource").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        emitted(id) = b.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sorted.toSeq
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q1.processAllAvailable()
      save(1)
      q1.processAllAvailable()
    } finally q1.stop()
    val orig = emitted.toMap
    val lastId = orig.keys.max
    assert(orig.size >= 2 && orig(lastId).nonEmpty,
      s"expected two deliveries, got ${orig.keys}")
    // simulate crash-after-offset-log-write-before-commit-log-write:
    // dropping commits/<last> makes restart re-execute the SAME offset
    // range (Spark's exactly-once recovery path)
    val commitFile = new java.io.File(s"$ckpt/commits/$lastId")
    assert(commitFile.exists, s"no commit log entry at $commitFile")
    assert(commitFile.delete())
    // the local ChecksumFs keeps a .crc sidecar that would block the
    // replayed commit's rename — drop it with the entry
    new java.io.File(s"$ckpt/commits/.$lastId.crc").delete()
    // the deletion lands BETWEEN the original delivery and the replay
    graft.streaming.Streaming.dvDelete(spark, dir,
      (rid, _, _) => rid % 2 == 0)
    emitted.clear()
    run()
    assert(emitted.contains(lastId),
      s"restart did not replay batch $lastId: ${emitted.keys}")
    assert(emitted(lastId) == orig(lastId),
      "replayed offset range must be byte-identical to the original " +
        "delivery — deletion vectors must not rewrite committed history")
    // the BATCH scan, by contrast, applies the dv (reads live rows only;
    // the table holds batches 0 and 1, i.e. rid % 3 <= 1)
    assert(spark.read.format("graft.sources.ZoneMapSource").load(dir)
      .count() == rows.filter(pmod(col("rid"), lit(3)) <= 1 &&
        pmod(col("rid"), lit(2)) === 1).count())
  }

  test("column NDV statistics: zone sketches merge to per-column " +
    "distinct counts in-plan, and CBO flips the join above to " +
    "broadcast on that evidence") {
    // 1. the merged NDVs surface in the scan description and track the
    // exact distinct counts within HLL tolerance (σ ≈ 1.6% at 4096
    // registers; allow 5%)
    // a plain projection (count(*) would be served by the stats-only
    // scan, which has no ndv surface)
    val desc = batchScan(v2.select(col("rid"))).scan.description()
    val ndv = "(rid|a|b)≈(\\d+)".r.findAllMatchIn(desc)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    assert(ndv.keySet == Set("rid", "a", "b"), s"ndv missing in: $desc")
    val exact = rows.agg(
      countDistinct(col("rid")), countDistinct(col("a")),
      countDistinct(col("b"))).collect()(0)
    Seq("rid" -> exact.getLong(0), "a" -> exact.getLong(1),
      "b" -> exact.getLong(2)).foreach { case (c, ex) =>
      assert(math.abs(ndv(c) - ex) <= math.max(2L, ex / 20),
        s"ndv($c) = ${ndv(c)} vs exact $ex")
    }
    // 2. the CBO flip: (t1 ⋈ t2-filtered ON rid) ⋈ t3 ON a — with
    // column stats the join output is estimated near-exactly (rid is
    // unique, the box filter's selectivity comes from min/max), so it
    // broadcasts into t3; with colstats OFF (same cbo, same data) the
    // join has no cardinality and falls back to the size product — too
    // big to broadcast, so the upper join stays sort-merge.
    def load(statsOn: Boolean) = spark.read
      .format("graft.sources.ZoneMapSource")
      .option("colstats", statsOn.toString).load(table)
    val (amin, amax) = {
      val r = rows.agg(min(col("a")), max(col("a"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // middle 1/16th of the a-domain — selective enough that the
    // estimated join output undercuts the data files' byte size
    val lo16 = amin + (amax - amin + 1) / 2
    val hi16 = amin + (amax - amin + 1) / 2 + (amax - amin + 1) / 16
    def q(statsOn: Boolean) = {
      val t1 = load(statsOn)
      val t2 = load(statsOn).filter(col("a").between(lo16, hi16))
        .select(col("rid"), col("b").as("b2"))
      val t3 = load(statsOn).select(col("a"), col("b").as("b3"))
      t1.join(t2, "rid").join(t3, "a")
        .agg(count(lit(1)).as("n"))
    }
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled", "false")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // the threshold sits BETWEEN the stats-on estimate of the lower
      // join's output (broadcastable evidence) and the projected t3
      // scan (must never broadcast) — all measured, not guessed. The
      // t3 estimate differs per world (CBO row-width model with
      // column stats, file-bytes fallback without), so bound by BOTH.
      val eOn = load(true)
        .join(load(true).filter(col("a").between(lo16, hi16))
          .select(col("rid"), col("b").as("b2")), "rid")
        .select(col("a"))
        .queryExecution.optimizedPlan.stats.sizeInBytes
      def t3est(statsOn: Boolean) = load(statsOn)
        .filter(col("a").isNotNull).select(col("a"))
        .queryExecution.optimizedPlan.stats.sizeInBytes
      val b3 = t3est(true).min(t3est(false))
      assert(eOn * 2 <= b3,
        s"precondition: join estimate $eOn not well under t3 scan $b3")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((eOn + b3) / 2).toString)
      val onPlan = q(true).queryExecution.sparkPlan.toString
      val offPlan = q(false).queryExecution.sparkPlan.toString
      assert(onPlan.contains("BroadcastHashJoin [a#"),
        s"stats-on upper join not broadcast:\n$onPlan")
      assert(!onPlan.contains("SortMergeJoin [a#"), onPlan)
      assert(offPlan.contains("SortMergeJoin [a#"),
        s"stats-off upper join unexpectedly broadcast:\n$offPlan")
      // the answers agree regardless of strategy, of course
      assert(q(true).collect()(0).getLong(0) ==
        q(false).collect()(0).getLong(0))
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("storage-partitioned join: co-bucketed tables join with ZERO " +
    "exchanges and the result equals the plain shuffled join") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // join keys (bkt, rid) are a SUPERSET of the partition key (bkt):
    // co-partitioning must not insist on an exact key match
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition",
      "false")
    val dirO = tmpDir("zonemap_spj_o") + "/t"
    val dirL = tmpDir("zonemap_spj_l") + "/t"
    Tables(spark, sfDir, "orders")
      .selectExpr("o_orderkey AS rid", "o_custkey AS a",
        "CAST(floor(o_totalprice) AS BIGINT) AS b")
      .write.format("graft.sources.ZoneMapSource")
      .option("batch", 0L).option("buckets", 8).mode("append").save(dirO)
    rows.selectExpr("rid DIV 10 AS rid", "a", "b") // l_orderkey
      .write.format("graft.sources.ZoneMapSource")
      .option("batch", 0L).option("buckets", 8).mode("append").save(dirL)
    val o = spark.read.format("graft.sources.ZoneMapSource").load(dirO)
      .selectExpr("bkt AS obkt", "rid AS ok", "a AS oc")
    val l = spark.read.format("graft.sources.ZoneMapSource").load(dirL)
      .selectExpr("bkt AS lbkt", "rid AS lk", "a AS lp")
    val joined = o.hint("merge")
      .join(l, col("obkt") === col("lbkt") && col("ok") === col("lk"))
      .select(col("ok"), col("oc"), col("lp"))
    joined.collect()
    val p = finalPlan(joined.queryExecution.executedPlan).toString
    assert(!p.contains("Exchange"),
      s"storage-partitioned join planned a shuffle:\n$p")
    assert(p.contains("SortMergeJoin"), p)
    // exactness vs the plain shuffled join on raw parquet
    val want = Tables(spark, sfDir, "orders")
      .selectExpr("o_orderkey AS ok", "o_custkey AS oc")
      .join(rows.selectExpr("rid DIV 10 AS lk", "a AS lp"),
        col("ok") === col("lk"))
    assert(joined.count() == want.count())
    assert(joined.agg(sum(col("ok")), sum(col("oc")), sum(col("lp")))
      .collect()(0) ==
      want.agg(sum(col("ok")), sum(col("oc")), sum(col("lp")))
        .collect()(0))
    // projection pruning away bkt falls back gracefully (no report,
    // normal shuffled join, same values)
    val noBkt = spark.read.format("graft.sources.ZoneMapSource")
      .load(dirO).selectExpr("rid AS ok2", "a AS oc2")
    assert(noBkt.count() ==
      Tables(spark, sfDir, "orders").count())
  }

  test("time travel: asof pins the batch horizon, a compacted snapshot " +
    "throws, and deletion vectors stay retroactive") {
    val dir = tmpDir("zonemap_dsv2_asof")
    (0 until 3).foreach { w =>
      graft.streaming.Streaming.zoneIngestBatch(
        rows.filter(pmod(col("rid"), lit(3)) === w), w.toLong, dir)
    }
    def snap(h: Long) = spark.read
      .format("graft.sources.ZoneMapSource").option("asof", h).load(dir)
    // horizons before any compaction: exactly batches <= h
    assert(snap(0L).count() ==
      rows.filter(pmod(col("rid"), lit(3)) === 0).count())
    assert(snap(1L).count() ==
      rows.filter(pmod(col("rid"), lit(3)) <= 1).count())
    // a horizon beyond the newest batch is just the full table
    assert(snap(99L).count() == rows.count())
    // the snapshot lands in the plan where planning decisions belong
    val df = snap(1L)
    assert(batchScan(df).scan.description().contains("asof: batch<=1"),
      batchScan(df).scan.description())
    // deletes are retroactive: a historical read never resurrects
    graft.streaming.Streaming.dvDelete(spark, dir,
      (rid, _, _) => rid % 7 == 3)
    assert(snap(1L).count() ==
      rows.filter(pmod(col("rid"), lit(3)) <= 1 &&
        pmod(col("rid"), lit(7)) =!= 3).count())
    // materialize folds the deletes into a NEW generation (opt=3), so
    // every pre-materialize snapshot is compacted away — gone means
    // thrown, never silently wrong
    graft.streaming.Streaming.dvMaterialize(spark, dir)
    graft.streaming.Streaming.zoneOptimize(spark, dir)
    val e = intercept[IllegalArgumentException] { snap(2L).count() }
    assert(e.getMessage.contains("compacted away"), e.getMessage)
    // horizons at or past the new generation still read the survivors
    assert(snap(99L).count() ==
      rows.filter(pmod(col("rid"), lit(7)) =!= 3).count())
  }

  test("post-optimize ingest: a new batch is visible through the v2 " +
    "source next to the optimized generation") {
    val dir = tmpDir("zonemap_dsv2_mix")
    (0 until 2).foreach { w =>
      graft.streaming.Streaming.zoneIngestBatch(
        rows.filter(pmod(col("rid"), lit(2)) === w), w.toLong, dir)
    }
    graft.streaming.Streaming.zoneOptimize(spark, dir)
    graft.streaming.Streaming.zoneIngestBatch(
      rows.filter(pmod(col("rid"), lit(2)) === 0)
        .selectExpr("rid + 1000000000 AS rid", "a", "b"), 5L, dir)
    // a batch from non-nullable columns stores `required` fields: the
    // scan reads each file under its own footer schema
    val ranged = spark.range(40)
      .selectExpr("id + 2000000000 AS rid", "id % 7 AS a", "id % 11 AS b")
    graft.streaming.Streaming.zoneIngestBatch(ranged, 6L, dir)
    val df = spark.read.format("graft.sources.ZoneMapSource").load(dir)
    assert(df.count() == rows.count() +
      rows.filter(pmod(col("rid"), lit(2)) === 0).count() + 40)
    def triples(d: org.apache.spark.sql.DataFrame) = d
      .filter(col("rid") >= 2000000000L).select("rid", "a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(triples(df) == triples(ranged))
  }
}
