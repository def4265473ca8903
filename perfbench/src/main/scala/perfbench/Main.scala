package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark. `run.py` writes a properties file naming
  * the workload, its inputs and its scratch paths, launches this class
  * with the path, and reads back one raw JSON document of measurements.
  * All statistics (medians, percentiles, self time) are computed by
  * run.py, so this side only timestamps and counts. */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = new Conf(args(0))
    val host0 = Host.snapshot()
    val calibMs = Host.calibMs()
    val body = conf("workload") match {
      case "convert_service" => Service.run(conf)
      case "queries" => Queries.run(conf)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val host1 = Host.snapshot()
    val doc = body ++ Map(
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "host" -> Map(
        "steal_ticks" -> (host1.steal - host0.steal),
        "loadavg" -> host0.load1,
        "calib_ms" -> calibMs))
    Files.writeString(Paths.get(conf("raw_out")), Json(doc))
  }
}

/** The properties file run.py writes. */
final class Conf(path: String) {
  private val p = new java.util.Properties
  locally {
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
  }
  def apply(k: String): String =
    Option(p.getProperty(k)).getOrElse(
      throw new IllegalArgumentException(s"config key $k missing"))
  def int(k: String): Int = apply(k).toInt
  def traced: Boolean = apply("trace") == "1"
  def list(k: String): Seq[String] =
    apply(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
}

/** Wall clock in epoch milliseconds with nanoTime resolution, so the
  * benchmark's spans and Spark listener times (epoch ms) share one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Process CPU (driver and executors share the JVM in local mode). */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def ns: Long = os.getProcessCpuTime
}

/** Peak heap retained after garbage collection while running, in MB:
  * the largest live set any collection left behind. The heap's peak
  * before collection follows the young generation's adaptive sizing,
  * not the program, and spreads by 40% between identical runs. */
final class LiveHeap {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        synchronized { if (after > peak) peak = after }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
  def stopAndPeakMb(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    // no collection at all: what is in use now bounds the live set
    val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / 1048576.0
  }
}

/** Host-noise witness: steal ticks (/proc/stat cpu field 8), 1-minute
  * load average, and a fixed CPU kernel timed in-process. A slow
  * `calib_ms` marks a run whose numbers the host, not the code, moved. */
object Host {
  final case class Snap(steal: Long, load1: Double)
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Exception => "" }
  def snapshot(): Snap = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).getOrElse(Array.empty[String])
    val steal = if (cpu.length > 8) cpu(8).toLong else 0L
    val load = read("/proc/loadavg").split(" ").headOption
      .flatMap(_.toDoubleOption).getOrElse(0.0)
    Snap(steal, load)
  }
  /** Median of 7 timings of a fixed integer kernel (xorshift over 4M
    * steps); the first timing also pays JIT compilation. */
  def calibMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L; var acc = 0L; var i = 0
      while (i < 4000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 0xff; i += 1
      }
      if (acc == 42) println("")
      (System.nanoTime() - t0) / 1e6
    }
    val xs = Seq.fill(7)(once()).sorted
    xs(3)
  }
}

/** Minimal JSON rendering for the raw measurement document. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
