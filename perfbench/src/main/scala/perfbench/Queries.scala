package perfbench

import graft.QueryDef
import org.apache.spark.sql.SparkSession

/** The query workload: one closed-loop client runs the configured
  * queries (already in the seed's order, each with its input directory)
  * pass after pass, each from building its DataFrame to its final noop
  * write. */
object Queries {
  /** Modules whose queries the workloads draw from; the module name is
    * the `<Module>.` prefix of the per-layer metrics. */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "Graph" -> graft.operators.Graph.defs,
    "Relational" -> graft.operators.Relational.defs,
    "TpchExtra" -> graft.operators.TpchExtra.defs,
    "Multimodal" -> graft.operators.Multimodal.defs)

  def run(conf: Conf): Map[String, Any] = {
    val byName = modules.flatMap { case (m, ds) => ds.map(d => d.name -> (m, d)) }.toMap
    val order = conf.list("queries").map { e =>
      val Array(q, dir) = e.split("@", 2); (q, dir)
    }
    val unknown = order.map(_._1).filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val traced = conf.traced

    val spark = graft.Bench.buildSession(conf("cores"))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = Clock.ms
    val execs = Seq.newBuilder[Map[String, Any]]
    def pass(p: Int, tr: Boolean): Unit =
      order.foreach { case (q, dir) => execs += exec(spark, dir, q, byName(q), p, tr, None) }
    // The first pass takes two to three times as long as a warm one
    // (class loading, JIT, codegen caches), so it is set-up. It also dumps every result for the untimed correctness
    // check: the same plans, with a single-file parquet sink.
    val checkOut = conf("check_out")
    val warm0 = Clock.ms
    val checks = order.map { case (q, dir) =>
      exec(spark, dir, q, byName(q), -1, traced = false, Some(s"$checkOut/$q"))
    }
    val warmPassMs = Clock.ms - warm0

    val engine = new Engine
    val sc = spark.sparkContext
    val heap = new LiveHeap
    heap.start()
    val passes = Seq.newBuilder[Map[String, Any]]
    // A fixed amount of work per run, so the same passes are compared
    // across commits: one pass per started 8 s of --seconds, at least 2
    // (a pass takes 3-4 s on 4 cores). Traced runs interleave untraced
    // and traced passes as U T T U ..., so that their difference, the
    // tracing overhead, is not biased by the JVM still warming up.
    val perKind = math.max(2, math.ceil(conf.int("seconds") / 8.0).toInt)
    for (p <- 0 until (if (traced) 2 * perKind else perKind)) {
      val tr = traced && (p % 4 == 1 || p % 4 == 2)
      if (tr) sc.addSparkListener(engine)
      val c0 = Cpu.ns; val t0 = Clock.ms
      pass(p, tr)
      val t1 = Clock.ms; val c1 = Cpu.ns
      if (tr) { engine.drain(sc); sc.removeSparkListener(engine) }
      passes += Map("pass" -> p, "traced" -> tr, "start" -> t0, "end" -> t1,
        "cpu_ns" -> (c1 - c0))
    }
    val heapPeakMb = heap.stopAndPeakMb()

    val oracles = order.flatMap { case (q, _) => byName(q)._2.oracle.map(q -> _) }.toMap
    spark.stop()
    Map(
      "setup" -> Map("session_ready" -> sessionReady,
        "warm_pass_ms" -> warmPassMs),
      "passes" -> passes.result(), "execs" -> execs.result(),
      "heap_peak_mb" -> heapPeakMb, "checks" -> checks, "oracles" -> oracles,
      "modules" -> order.map { case (q, _) => q -> byName(q)._1 }.toMap,
      "engine" -> (if (traced) engine.dump() else Map.empty))
  }

  /** One query execution, ending in a noop write (or a parquet `sink`).
    * In a traced pass the job group names the query, and the plan is
    * forced on its own so that planning time separates from execution. */
  private def exec(spark: SparkSession, dir: String, q: String,
      md: (String, QueryDef), p: Int, traced: Boolean,
      sink: Option[String]): Map[String, Any] = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(s"pb|$q|$p", q, interruptOnCancel = false)
    val c0 = Cpu.ns
    val t0 = Clock.ms
    var tBuild, tPlan = -1.0
    val err = try {
      val df = md._2.fn(spark, dir)
      tBuild = Clock.ms
      if (traced) { df.queryExecution.executedPlan; tPlan = Clock.ms }
      sink match {
        case None => df.write.format("noop").mode("overwrite").save()
        case Some(path) => df.coalesce(1).write.mode("overwrite").parquet(path)
      }
      null
    } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    finally if (traced) sc.clearJobGroup()
    val t1 = Clock.ms
    System.err.println(f"[perfbench] $q pass $p: ${t1 - t0}%.0f ms" +
      (if (err == null) "" else s" FAILED $err"))
    Map("name" -> q, "module" -> md._1, "pass" -> p, "traced" -> traced,
      "start" -> t0, "build_end" -> tBuild, "plan_end" -> tPlan, "end" -> t1,
      "cpu_ns" -> (Cpu.ns - c0), "error" -> err)
  }
}
