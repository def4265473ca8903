package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md).
  *
  * One parquet file per table under the scale-factor directory. Reads go
  * through Spark's vectorized parquet reader; Catalyst pushes filters and
  * prunes columns at the scan, so callers should express queries
  * declaratively and never pre-materialize.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session shuffle parallelism — the scale-adaptive width for
    * explicit repartitions inside query builders (the driver's c8
    * bench run reads 8, a production session whatever it configured;
    * never a literal). Two measured pathologies need an explicit
    * width (r15 profiles): a CPU-heavy kernel inheriting the narrow
    * layout of a small scan (one ~11 MB parquet file splits 3 ways
    * under openCostInBytes) through an eager localCheckpoint, and
    * AQE's byte-based coalescing folding a tiny-bytes/heavy-CPU
    * shuffle down to one task — bytes are a proxy for work only when
    * per-row cost is flat, which an explode/pair-expansion breaks. */
  def sp(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  /** Explicit-width fan-out repartition: hash by `k` at the session's
    * shuffle parallelism (use via `.transform(Tables.fan(_, "doc_id"))`).
    * The bare `repartition(col)` variant plans the same exchange but
    * leaves it AQE-COALESCIBLE — on a tiny-bytes / heavy-CPU fan-out
    * (explode + hash over one small file) AQE folds it back to ONE
    * task, exactly what the repartition was inserted to prevent
    * (measured r15: 5.6 s single-task shingle+hash stages behind a
    * 0.6 MB documents scan). An explicit width is pinned against
    * coalescing; the width itself stays conf-derived, never a literal. */
  def fan(df: DataFrame, k: String): DataFrame =
    df.repartition(sp(df.sparkSession),
      org.apache.spark.sql.functions.col(k))

  /** Content fingerprint of one or more input paths: MD5 over the
    * sorted (path, mtime, length) triples of every file underneath.
    * Derived artifacts (persisted indexes, rebuildable zone tables)
    * key their on-disk location on this so a REGENERATED input at the
    * same path invalidates the artifact, and two distinct inputs can
    * never collide the way `String.hashCode` can — the staleness bug
    * class a plain dir-hash key carries. Control-plane only: one FS
    * listing per path, no data read. */
  def contentFingerprint(spark: SparkSession, paths: String*): String = {
    val conf = spark.sessionState.newHadoopConf()
    val parts = paths.sorted.flatMap { p =>
      val fsPath = new org.apache.hadoop.fs.Path(p)
      val fs = fsPath.getFileSystem(conf)
      if (!fs.exists(fsPath)) Seq(s"$p:absent")
      else {
        val it = fs.listFiles(fsPath, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          buf += s"${st.getPath}:${st.getModificationTime}:${st.getLen}"
        }
        buf.sorted.toSeq
      }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(parts.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** BUILD-ONCE GATE for derived /tmp tables: path keyed on
    * [[contentFingerprint]] of `inputs` (regenerated inputs get a
    * fresh path; hashCode-style collisions are impossible), build
    * runs only while the completion marker is absent — written last,
    * so a crash mid-build leaves no marker and the next run wipes
    * and rebuilds. Repeat runs then measure the READ path, matching
    * how a real table is maintained once and queried many times.
    * Returns the table path. */
  def buildOnce(
      s: SparkSession, dir: String, kind: String,
      inputs: Seq[String] = Seq("lineitem"),
      cold: Boolean = false)(
      build: String => Unit): String = {
    val fp = contentFingerprint(
      s, inputs.map(n => s"$dir/$n.parquet"): _*)
    val table = s"/tmp/graft_${kind}_$fp"
    val conf = s.sessionState.newHadoopConf()
    val tablePath = new org.apache.hadoop.fs.Path(table)
    val marker = new org.apache.hadoop.fs.Path(s"$table.ok")
    val fs = tablePath.getFileSystem(conf)
    // cold = true: this caller MEASURES the derivation — wipe and
    // rebuild every invocation so the bench keeps one cold-build
    // number per fixture family beside the warm read-path numbers
    // (r14 VERDICT item 6: fixture reuse must not hide the build cost
    // from every round's artifact).
    if (cold || !fs.exists(marker)) {
      if (fs.exists(marker)) fs.delete(marker, false)
      if (fs.exists(tablePath)) fs.delete(tablePath, true)
      build(table)
      fs.create(marker, true).close()
    }
    table
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as two physical encodings across driver
      // testdata generations, so the loader adapts by SCHEMA, not by
      // assumption:
      //   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
      //     (with spark.sql.legacy.parquet.nanosAsLong=true, set at
      //     session build time) the raw nanos arrive as LONG and are
      //     truncated to microseconds — the same ns→µs truncation DuckDB
      //     applies, so the oracle sees identical instants;
      //   - TIMESTAMP(MICROS) (current generation): reads natively as
      //     TIMESTAMP_NTZ; cast to the session-zone TIMESTAMP every
      //     downstream query and the µs-era plans were written against
      //     (sessions here run UTC, so the wall-clock instant is
      //     unchanged and DuckDB's naive TIMESTAMP read matches).
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.LongType
      val raw =
        try spark.read.parquet(s"$dir/$name.parquet")
        catch {
          case e: Exception
              if String.valueOf(e.getMessage).contains("NANOS") =>
            // keep the actionable guidance the old require() carried:
            // NANOS-generation testdata needs the legacy flag to read
            throw new IllegalStateException(
              "events.parquet uses TIMESTAMP(NANOS): set " +
                "spark.sql.legacy.parquet.nanosAsLong=true at " +
                "SparkSession build time", e)
        }
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
}

/** Numeric helpers shared by every query: engine-agnostic rounding.
  *
  * Spark's `round()` on doubles goes through the value's shortest decimal
  * string (`BigDecimal.valueOf`) while DuckDB rounds the binary value — the
  * two disagree on values like 152741.235. `floor(x·10^d + 0.5)/10^d`
  * performs the same IEEE ops in both engines, so identical inputs give
  * identical outputs. Use [[Num.sql]] to emit the matching oracle fragment.
  */
object Num {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{floor, lit}

  def r(c: Column, d: Int): Column = {
    val p = math.pow(10, d)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** The identical formula as SQL text. Exponent-notation literals
    * (`10000e0`) parse as DOUBLE in both DuckDB and Spark SQL — a plain
    * `10000.0` would be DECIMAL in Spark SQL and poison the division. */
  def sql(expr: String, d: Int): String = {
    val p = "1" + ("0" * d)
    s"floor(($expr) * ${p}e0 + 0.5) / ${p}e0"
  }
}

/** One verifiable operator: a DataFrame query over the tables in `dir`,
  * plus an equivalent DuckDB SQL oracle run by the driver on the same
  * parquet files (registered under their table names). Every query has
  * one (ContractSpec checks it), yet `oracle` stays an `Option`:
  * perfbench's `Queries.scala` reads it as `.oracle.map(q -> _)`, which
  * on a `String` would still compile, as a map over its characters.
  *
  * Contract notes (driver compare):
  *   - column NAMES must match between the Spark result and the oracle;
  *   - double-typed aggregates are rounded on BOTH sides so that
  *     summation-order differences between engines cannot flip a hash;
  *   - results must be deterministic as a SET (total tie-breaks on any
  *     top-k / limit).
  *
  * CACHE CONTRACT (r9 VERDICT task 7): a query builder may `.cache()`
  * an intermediate that feeds ≥2 consumers in its OWN plan (span/
  * shingle relations, signature tables, bucket folds). Builders return
  * LAZY DataFrames, so they cannot unpersist before the caller
  * materializes — release is the CALLER's job: Bench and Verify run
  * `spark.catalog.clearCache()` around every query, and a long-lived
  * library session should do the same after materializing a result
  * (or `df.unpersist()` the handles it keeps). Cached blocks are
  * MEMORY_AND_DISK and evictable, never pinned, so the failure mode of
  * a caller that skips release is eviction pressure — not OOM. Eager
  * INTERNAL loops (connectedComponents, LPA, Lloyd, Borůvka) manage
  * their own round state with localCheckpoint + finally-unpersist and
  * are exempt from caller release.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  /** Query with a DuckDB oracle. */
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, installing(fn), Some(oracle))

  /** `fn`, first installing the function catalog on the session it is
    * given, so a query can call any `graft_*` function by name on
    * whatever session runs it. */
  private def installing(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (s, dir) =>
    graft.functions.Functions.install(s)
    fn(s, dir)
  }
}
