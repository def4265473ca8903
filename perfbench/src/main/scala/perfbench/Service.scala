package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

/** The reference's own job: `Streaming.notificationDrivenStream` with
  * `GraftConfig(Poller = 1, Worker = cores)`. run.py stages the seeded
  * corpus: objects already in the bucket, notification bodies in a
  * staging directory, and a schedule of `phase \t file \t offset_s`.
  * This thread is the load generator: it makes a notification visible
  * by an atomic move into the watched directory. */
object Service {
  def run(conf: Conf): Map[String, Any] = {
    val traced = conf.traced
    val notify = conf("notify_dir")
    val bucket = conf("object_root")
    val stage = conf("stage_dir")
    val schedule = Files.readAllLines(Paths.get(conf("schedule"))).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t")).map(a => (a(0), a(1), a(2).toDouble))
    def files(phase: String) = schedule.filter(_._1 == phase)
    def release(f: String): Unit =
      Files.move(Paths.get(stage, f), Paths.get(notify, f),
        StandardCopyOption.ATOMIC_MOVE)

    val spark = graft.Bench.buildSession(conf("cores"))
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val sessionReady = Clock.ms
    val cfg = graft.GraftConfig(poller = 1, worker = conf.int("cores"),
      sqsName = notify, s3Bucket = bucket)
    val q = graft.streaming.Streaming.notificationDrivenStream(
      spark, cfg.sqsName, cfg.s3Bucket, cfg.s3Bucket, conf("ckpt_dir"), Some(cfg))
    val sc = spark.sparkContext
    val engine = new Engine
    val phases = Seq.newBuilder[Map[String, Any]]
    val releases = Seq.newBuilder[Map[String, Any]]
    var error: String = null
    var heapPeakMb = 0.0
    var cpuNs = 0L
    def phase(name: String)(body: => Unit): Unit = {
      val t0 = Clock.ms
      body
      q.processAllAvailable()
      phases += Map("name" -> name, "start" -> t0, "end" -> Clock.ms)
    }
    try {
      // the first micro-batches are slower: part of set-up
      phase("warm")(files("warm").foreach(f => release(f._2)))
      if (traced) sc.addSparkListener(engine)
      val heap = new LiveHeap
      heap.start()
      val c0 = Cpu.ns
      // open loop: each notification is due at its offset, late or not
      phase("steady") {
        val s0 = Clock.ms + 50
        files("steady").foreach { case (_, f, off) =>
          val due = s0 + off * 1000
          var wait = due - Clock.ms
          while (wait > 0) { LockSupport.parkNanos((wait * 1e6).toLong); wait = due - Clock.ms }
          release(f)
          releases += Map("file" -> f, "due" -> due, "visible" -> Clock.ms)
        }
      }
      if (traced) { engine.drain(sc); sc.removeSparkListener(engine) }
      // the backlog lands at once; the stream drains it at its own pace
      phase("drain")(files("drain").foreach(f => release(f._2)))
      cpuNs = Cpu.ns - c0
      heapPeakMb = heap.stopAndPeakMb()
      if (traced) {
        // the same drain with the engine recorder attached, then once
        // more without: traced minus the mean of the untraced drains on
        // either side is the tracing overhead, unbiased by warm-up
        sc.addSparkListener(engine)
        phase("drain_traced")(files("drain_traced").foreach(f => release(f._2)))
        engine.drain(sc)
        sc.removeSparkListener(engine)
        phase("drain_after")(files("drain_after").foreach(f => release(f._2)))
      }
    } catch { case e: Throwable =>
      error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    q.stop()
    val progress = q.recentProgress.toSeq.map { p =>
      Map("batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
    val probes = if (traced && error == null) probe(spark, conf) else Map.empty
    spark.stop()
    Map(
      "setup" -> Map("session_ready" -> sessionReady),
      "phases" -> phases.result(), "releases" -> releases.result(),
      "progress" -> progress, "cpu_ns" -> cpuNs, "heap_peak_mb" -> heapPeakMb,
      "error" -> error, "probes" -> probes,
      "engine" -> (if (traced) engine.dump() else Map.empty))
  }

  /** Direct calls into `operators.Convert`, outside the stream: one
    * conversion per probe object, and the notification parse over every
    * body the run delivered. */
  private def probe(spark: org.apache.spark.sql.SparkSession,
      conf: Conf): Map[String, Any] = {
    val bucket = conf("object_root")
    val out = conf("probe_out")
    val fileMs = conf.list("probe_keys").map { k =>
      val t0 = Clock.ms
      graft.operators.Convert.jsonToParquet(spark, s"$bucket/$k", s"$out/$k.parquet")
      Clock.ms - t0
    }
    val bodies = spark.read.option("wholetext", true).text(conf("notify_dir"))
    val parseMs = Seq.fill(5) {
      val t0 = Clock.ms
      graft.operators.Convert.parseS3Events(bodies, "value").collect()
      Clock.ms - t0
    }
    Map("file_ms" -> fileMs, "parse_events_ms" -> parseMs)
  }
}
