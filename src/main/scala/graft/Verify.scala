package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // `<sfDir> <outDir> [--only q1,q2]` — the driver always passes two
    // args; --only is a dev-loop filter matching tools/oracle_check.py's
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] = args.drop(2) match {
      case Array("--only", names) => Some(names.split(",").toSet)
      case _                      => None
    }
    // the bench's own session, so correctness is checked under the
    // settings that are timed
    val spark = Bench.buildSession(Bench.cpusFromEnv)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // per-query output schema, dumped alongside the results so a future
    // hash mismatch can be triaged as value-diff vs type-diff without a
    // re-run (the r6 q_split / r7 q_embed_rp HUGEINT class was pure
    // type-canonicalization skew — values identical)
    val schemas = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        schemas(name) = df.schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries cache self-join intermediates; drop them between queries
      // so dead blocks never evict live ones
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val schemaJson = schemas
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/output_schemas.json"), schemaJson)
    spark.stop()
  }
}
