package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: same conf shape as Verify/Bench
  * (UTC, small shuffle fan-out, nanos-as-long for events.parquet, the
  * fork-free `file:` filesystem), with the `graft_*` function catalog
  * installed, so a spec calls the functions by name as a query does. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .config(graft.sources.LocalFs.sessionConf)
      .getOrCreate()
    graft.functions.Functions.install(s)
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // One JVM-shared session across suites (getOrCreate) — don't stop it
    // between suites; sbt forks one JVM for the whole test run. DO drop
    // cached relations: several queries cache shared intermediates
    // (capByDf, q_ts_fill's daily, pagerank's adjacency) whose lifetime
    // is bounded by the consumer, and Verify/Bench clearCache between
    // queries — the suite boundary is this harness's equivalent.
    spark.catalog.clearCache()
    super.afterAll()
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
