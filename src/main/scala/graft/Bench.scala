package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** One timed execution of one query in one pass: wall seconds,
    * success flag, and the task-metric deltas attributed to it by the
    * suite-wide listener (shuffle write/read bytes, memory/disk spill).
    * The byte fields turn PLAN_AUDIT's static exchange counts into
    * measured exchange VOLUMES (r9 VERDICT item 6) and make
    * shuffle-creep regressions visible even when wall-clock noise
    * hides them. */
  final case class Sample(sec: Double, ok: Boolean,
      shufWrite: Long, shufRead: Long, spillMem: Long, spillDisk: Long)

  /** Accumulates task metrics across the whole run; Bench snapshots the
    * counters around each query (after draining the listener bus) and
    * differences them. Counters are monotone, so attribution is exact
    * once the bus is drained. */
  private final class MetricsListener
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val shufWrite = new AtomicLong; val shufRead = new AtomicLong
    val spillMem = new AtomicLong; val spillDisk = new AtomicLong
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
      }
    }
    def snapshot(): (Long, Long, Long, Long) =
      (shufWrite.get, shufRead.get, spillMem.get, spillDisk.get)
  }

  /** The one session builder in the program, shared with Profile,
    * Verify and PlanAudit so a profile or a correctness check runs under
    * EXACTLY the session being benched (same master, same shuffle
    * partitions, same window-buffer thresholds — ADVICE r14).
    * Reads $SPARK_GRAFT_CPUS (driver contract: the driver re-runs the
    * bench at a lower core count to measure scaling) and the local
    * SPARK_GRAFT_WINBUF iteration knob. */
  def cpusFromEnv: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  def buildSession(cpus: String): SparkSession = {
    val winBuf = sys.env.getOrElse("SPARK_GRAFT_WINBUF", "4096")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Window buffers: Spark keeps the first 4096 rows of a window
      // partition in an in-memory array and falls back to a
      // spill-capable UnsafeExternalSorter beyond it. r3 raised the
      // in-memory threshold to 1M rows and the round bench recorded
      // q_window_ntile at 4.6s; r4 measured both settings 3x head to
      // head and found NO reproducible difference (~0.45s either way —
      // the 4.6s was a measurement artifact), so the threshold is back
      // at the default: it buys nothing here and the default keeps the
      // spill-capable path, which is what survives a skewed partition
      // at scale. The spill THRESHOLD (when the sorter goes to disk)
      // stays raised — that one only defers disk I/O.
      .config("spark.sql.windowExec.buffer.in.memory.threshold", winBuf)
      .config("spark.sql.windowExec.buffer.spill.threshold", "4194304")
      .config("spark.ui.enabled", "false")
      // the `file:` filesystem without chmod/readlink subprocesses
      .config(graft.sources.LocalFs.sessionConf)
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cpusFromEnv
    // local-iteration overrides (the driver sets neither): bench a subset
    // of queries, or measure a different window-buffer threshold
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail fast on typos: a misspelled name would silently bench an
    // empty set and "confirm" a fix against a 0-query run
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.mkString(",")}")
    }
    val spark = buildSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    def drain(): Unit =
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
    // Warm the JVM once before timing: scheduler + codegen + parquet
    // footer/metadata caches, so query 1 doesn't pay session start-up.
    Tables.names.foreach(n => Tables(spark, sfDir, n).count())
    // noop sink forces FULL materialization of every output column —
    // a bare count() would let Catalyst prune the computed projections
    // and under-report the real work.
    // LAYOUT-FIXTURE TIMING CONTRACT (r14 VERDICT item 6): the
    // q_layout_* family reads derived /tmp zone tables built once per
    // testdata content fingerprint (Tables.buildOnce) — their bench
    // numbers measure the WARM read path, matching a table maintained
    // once and queried many times. Two exceptions keep the build cost
    // measured every run: q_layout_write times the writer itself, and
    // q_layout_runtime passes cold=true so its zone-table derivation
    // (ingest waves + optimize) rebuilds inside the timed region.
    // A crashed query (OOM, analysis error) must not masquerade as a
    // fast sample: time-to-failure would win the min and the bench
    // would report success. Each sample carries an ok flag; failures
    // are reported per query in the emitted JSON.
    def timeOne(name: String, fn: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame): Sample = {
      // each invocation caches fresh self-join intermediates; clear so
      // dead blocks from prior runs can't pollute the timing
      spark.catalog.clearCache()
      drain()
      val (w0, r0, m0, d0) = metrics.snapshot()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200))
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      drain()
      val (w1, r1, m1, d1) = metrics.snapshot()
      Sample(sec, ok, w1 - w0, r1 - r0, m1 - m0, d1 - d0)
    }
    // name-sorted Seq (a Map would re-hash the order away) so the
    // emitted per-query map diffs cleanly across rounds
    val qlist = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Host-noise fingerprint: loadavg and the cumulative steal ticks
    // (/proc/stat cpu field 8) bracket the run AND each pass. The r9
    // committed artifact carried 31k suite-wide steal ticks and read as
    // a 1.12× regression that a controlled quiet-host A/B disproved —
    // per-PASS steal (r9 VERDICT item 1) makes a stolen pass
    // identifiable post hoc: a noisy pass shows its own tick count, and
    // the min-of-3 discipline discards it.
    def loadavg(): String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim
        .split(" ").take(3).mkString(",")
      catch { case _: Exception => "" }
    def stealTicks(): Long =
      try {
        val cpu = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/stat"))).linesIterator.next()
        val f = cpu.trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      } catch { case _: Exception => -1L }
    val loadStart = loadavg()
    val stealStart = stealTicks()
    // min-of-3, with the three samples INTERLEAVED across the suite:
    // pass 1 runs every query once, then pass 2, then pass 3, and the
    // reported number is the min per query across passes. The r4 driver
    // artifact showed why back-to-back sampling is not noise-proof: a
    // sustained (~minute-long) host-steal window covers all three
    // consecutive samples of the same query and inflates its min by
    // 10-30×. With the passes spread over the whole suite (~30s each),
    // a contiguous noise window can poison at most ONE sample of any
    // given query, and the min discards it.
    val passData = (1 to 3).map { _ =>
      val s0 = stealTicks()
      val res = qlist.map { case (name, fn) => name -> timeOne(name, fn) }
      val s1 = stealTicks()
      (res, if (s0 >= 0 && s1 >= 0) s1 - s0 else -1L, loadavg())
    }
    val passes = passData.map(_._1)
    val passSteal = passData.map(_._2)
    val passLoad = passData.map(_._3)
    val loadEnd = loadavg()
    val stealDelta =
      { val e = stealTicks(); if (e >= 0 && stealStart >= 0) e - stealStart else -1L }
    // per-pass wall totals (successful or not — this is a noise probe,
    // not a score): if pass totals spread far beyond the min-based
    // headline, the host was unstable during the run
    val passTotals = passes.map(_.map(_._2.sec).sum)
    // min over SUCCESSFUL samples only; a query with zero successes
    // keeps its (meaningless) fastest failure time but lands on the
    // failed list, so the artifact can never read as a clean run.
    val results = qlist.map { case (name, _) =>
      val samples = passes.map(_.find(_._1 == name).get._2)
      val okSamples = samples.filter(_.ok)
      name -> (if (okSamples.nonEmpty) okSamples.minBy(_.sec)
               else samples.minBy(_.sec))
    }
    // any failed sample puts the query on the list — a crash is signal
    // (noise slows queries down, it doesn't throw), even if another
    // pass succeeded and supplied a valid min
    val failed = qlist.map(_._1).filter { name =>
      passes.exists(_.find(_._1 == name).get._2.ok == false)
    }
    // values rounded to ms so the single JSON line stays short — the
    // driver tail-captures stdout and must see the whole map
    def ms(v: Double): Double = math.round(v * 1000) / 1000.0
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms(v.sec) }
      .mkString("{", ",", "}")
    val total = results.map(_._2.sec).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val passesJson = passTotals.map(ms).mkString("[", ",", "]")
    val passStealJson = passSteal.mkString("[", ",", "]")
    val passLoadJson = passLoad.map("\"" + _ + "\"").mkString("[", ",", "]")
    // cpus + default_parallelism in every emitted line (r14 VERDICT
    // item 2, additions-only): the driver's c8/c32 scaling probe could
    // not distinguish "env var honored but queries overhead-bound at
    // sf0.1" from "env var ignored" — these two fields make the
    // honored config driver-verifiable per artifact.
    val par = spark.sparkContext.defaultParallelism
    val noise =
      s""""cpus":$cpus,"default_parallelism":$par,"passes":$passesJson,"pass_steal":$passStealJson,"pass_load":$passLoadJson,"load_start":"$loadStart","load_end":"$loadEnd","steal_ticks":$stealDelta"""
    val line =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec",$noise,"failed":$failedJson,"queries":$qs,"sf":"$sfDir"}"""
    // The driver tail-captures stdout; r2/r3/r4 all had the full line's
    // LEADING fields clipped by the capture window (parsed: null three
    // rounds running). Defense in depth, in order:
    //   1. the full line (with the per-query map) twice, so a complete
    //      copy lands inside any window that covers the map at all;
    //   2. the full line persisted to BENCH_LOCAL.json — guarded, so a
    //      write failure (full disk, unwritable cwd) can never destroy
    //      the stdout channel after minutes of completed queries;
    //   3. a SHORT total-only JSON line as the very LAST stdout output:
    //      whatever the capture window's size, it always starts at the
    //      tail, so a <120-byte final line is unclippable — the driver
    //      can always parse at least the headline total.
    println(line)
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] BENCH_LOCAL.json not written: ${e.getMessage}")
    }
    // Full per-query artifact (r8 VERDICT item 4): the driver's stdout
    // tail capture truncates to the last ~80 of 281 per-query timings,
    // leaving the heavy q_graph_*/q_dedup_* families invisible in
    // round-over-round comparisons. Persist EVERY query's min AND all
    // three raw pass samples (pretty-printed, one query per line, so
    // git diffs rank regressions directly) plus the task-metric bytes
    // from the min-winning sample — same guarded write as
    // BENCH_LOCAL.json: a disk failure must not kill the stdout channel.
    // On SPARK_GRAFT_ONLY subset runs the committed artifact must not
    // be clobbered (it represents the FULL suite; it was once — the
    // restore commit after dccfaaa), so subsets land in a sidecar
    // bench_per_query_subset.json instead: dev loops still get the
    // task-metric bytes (the shuffle/spill evidence plan work is
    // judged by) without touching the round artifact.
    try {
      val perQuery = qlist.map { case (name, _) =>
        val samples = passes.map(_.find(_._1 == name).get._2)
        val raw = samples.map(s => ms(s.sec)).mkString("[", ",", "]")
        val okAll = samples.forall(_.ok)
        val best = results.find(_._1 == name).get._2
        s"""  "$name": {"min":${ms(best.sec)},"passes":$raw,"ok":$okAll,""" +
          s""""shuffle_write_bytes":${best.shufWrite},"shuffle_read_bytes":${best.shufRead},""" +
          s""""spill_mem_bytes":${best.spillMem},"spill_disk_bytes":${best.spillDisk}}"""
      }.mkString(",\n")
      val body = s"""{"sf":"$sfDir","unit":"sec","steal_ticks":$stealDelta,
        |"cpus":$cpus,"default_parallelism":$par,
        |"pass_steal":$passStealJson,"pass_load":$passLoadJson,
        |"queries":{
        |$perQuery
        |}}""".stripMargin
      val artifact = if (only.isEmpty) "bench_per_query.json"
        else "bench_per_query_subset.json"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(artifact),
        (body + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(
        s"[bench] bench_per_query.json not written: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"cpus":$cpus,"default_parallelism":$par,"passes":$passesJson,"pass_steal":$passStealJson,"steal_ticks":$stealDelta,"sf":"$sfDir"}""")
    System.out.flush()
    spark.stop()
  }
}
