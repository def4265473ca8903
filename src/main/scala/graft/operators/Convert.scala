package graft.operators

import graft.{Num, QueryDef}
import graft.sources.DirTable
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's fixed record type (`convertor/struct.go:4-9`) as a
  * typed Dataset row. `age` is Option — missing JSON fields become None
  * instead of Go's silent zero value. */
final case class Person(
    ID: String,
    name: String,
    nationality: String,
    age: Option[Byte])

/** The reference's entire compute surface, Spark-native: JSON in, Parquet
  * out (reference: `convertor/convertor.go:135-153` download→decode→write;
  * schema `convertor/struct.go:4-17`; writer knobs `convertor.go:169-184`).
  *
  * What took the reference ~300 LoC of Go (SQS poller, S3 multipart
  * download, struct decode, parquet-go writer) is one declarative pipeline
  * here — and distributed: one task per file split, vectorized reads,
  * whole-stage codegen on the projection.
  */
object Convert {

  /** The reference's fixed input schema (`convertor/struct.go:4-9`). */
  val personSchema: StructType = StructType(Seq(
    StructField("ID", StringType),
    StructField("name", StringType),
    StructField("nationality", StringType),
    StructField("age", IntegerType)))

  private val narrowedAge = expr("try_cast(age AS TINYINT)")

  /** The reference's output projection+cast `toParquet`
    * (`convertor/struct.go:20-28`): field-by-field copy, age narrowed to
    * int8 (logical INT_8 on INT32 physical — Spark ByteType writes the
    * same annotation). Go silently wraps out-of-range values
    * (`int32(p.Age)`); under ANSI SQL that's an error, so we use
    * try_cast — out-of-range age becomes NULL instead of corrupting the
    * value or failing the batch. `keep` names extra columns to carry. */
  def toParquet(df: DataFrame, keep: String*): DataFrame =
    df.select(Seq(col("ID"), col("name"), col("nationality"),
      narrowedAge.as("age")) ++ keep.map(col): _*)

  /** What one conversion pass read, dropped and altered, observed in the
    * same scan (`Dataset.observe`, no second pass): input rows, rows
    * dropped as corrupt, and ages narrowed to NULL by [[toParquet]];
    * plus the keys [[jsonToParquetBatch]] skipped as naming no file. */
  final case class ConvertStats(rowsIn: Long, corruptDropped: Long, agesNulled: Long,
      skippedKeys: Seq[String] = Nil)

  /** JSON → Parquet with the reference writer's exact knobs
    * (`convertor/convertor.go:180-182`): 16 MiB row groups, SNAPPY,
    * dictionary encoding. `multiLine` matches the reference's whole-file
    * decode (`convertor.go:137-141`; sample inputs are multi-line
    * objects). Corrupt records are dropped like the reference's
    * log-and-skip (`convertor.go:112-141`), but per-row instead of
    * per-file — PERMISSIVE mode nulls them into `_corrupt_record` and we
    * filter, so one bad row no longer discards a whole file.
    *
    * Output-path idempotence (SaveMode.Overwrite) mirrors the
    * deterministic `<key>.parquet` output key that makes the reference's
    * at-least-once redelivery safe (`convertor.go:156-171`). */
  def jsonToParquet(
      spark: SparkSession,
      in: String,
      out: String,
      schema: StructType = personSchema,
      multiLine: Boolean = true): ConvertStats =
    convertPass(spark, Seq(in), out, schema, multiLine)

  /** The one read → drop-corrupt → [[toParquet]] → write pass both
    * conversion entry points run. `tag` adds a column computed from the
    * raw rows, and the write is partitioned by it; `maxTasks` caps the
    * job's concurrent tasks. */
  private def convertPass(spark: SparkSession, in: Seq[String], out: String,
      schema: StructType = personSchema, multiLine: Boolean = true,
      maxTasks: Option[Int] = None, tag: Option[Column] = None): ConvertStats = {
    val raw = spark.read.schema(schema.add(Corrupt, StringType))
      .option("multiLine", multiLine).options(PermissiveJson)
      .json(in: _*)
    val tagged = tag.fold(raw)(raw.withColumn(KeyIndex, _))
    val obs = Observation()
    val kept = maxTasks.fold(tagged)(tagged.coalesce)
      .observe(obs, Counters.head, Counters.tail: _*)
      .filter(col(Corrupt).isNull)
    val keep = tag.map(_ => KeyIndex).toSeq
    writeRefParquet(toParquet(kept, keep: _*), out, keep)
    val m = obs.get.view.mapValues(_.asInstanceOf[Long])
    ConvertStats(m("rows_in"), m("corrupt"), m("nulled"))
  }

  /** The column a PERMISSIVE JSON read fills, instead of the fields,
    * for input that does not parse; every conversion drops those rows. */
  private[graft] val Corrupt = "_corrupt_record"

  /** The JSON reader options that route unparsable input to [[Corrupt]]. */
  private[graft] val PermissiveJson: Map[String, String] = Map(
    "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> Corrupt)

  /** What a conversion counts in its read, as `Dataset.observe` metrics
    * over the raw rows: `rows_in`, `corrupt` (rows the conversion drops)
    * and `nulled` (ages [[toParquet]] narrows to NULL). */
  private[graft] val Counters: Seq[Column] = {
    val clean = col(Corrupt).isNull
    Seq(count(lit(1)).as("rows_in"), count_if(!clean).as("corrupt"),
      count_if(clean && col("age").isNotNull && narrowedAge.isNull).as("nulled"))
  }

  /** The reference writer's exact knobs (`convertor/convertor.go:180-182`)
    * in ONE place, shared by every source mode and the directory-watch
    * stream — the sink contract must not drift between the
    * explicit-schema, batched, inference and streaming paths. */
  private[graft] val RefParquetOptions: Map[String, String] = Map(
    "compression" -> "snappy",
    "parquet.block.size" -> (16 * 1024 * 1024).toString,
    "parquet.enable.dictionary" -> "true")

  private def writeRefParquet(
      df: DataFrame, out: String, partitionBy: Seq[String] = Nil): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionBy: _*)
      .options(RefParquetOptions)
      .parquet(out)

  private val KeyIndex = "key_index"

  /** A zero-row file with [[toParquet]]'s output schema, written on the
    * driver (no Spark job), for a key none of whose rows survived. */
  private def writeEmptyParquet(spark: SparkSession, file: Path): Unit = {
    val schema = toParquet(
      spark.createDataFrame(java.util.List.of[Row](), personSchema)).schema
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, spark.sessionState.newHadoopConf()))
      .withType(new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(schema))
      .withExtraMetaData(java.util.Map.of(ParquetReadSupport.SPARK_METADATA_KEY, schema.json))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build().close()
  }

  /** Convert every object a notification micro-batch names in ONE Spark
    * job, each `<objectRoot>/<key>` to the `<outDir>/<key>.parquet`
    * [[jsonToParquet]] would give it: one read over every object; each
    * row tagged with its object's index via `_metadata.file_path` (a row
    * of an unmapped file fails the job by `raise_error`, never lands
    * under a wrong key); one write partitioned by that index into
    * `<outDir>/_staging/<batchId>`; then the driver moves each index's
    * directory to its key's output (delete, then rename; a FALSE rename
    * or delete throws) and removes the staging directory once it is
    * empty. A key with no surviving rows gets a zero-row file. Every
    * move overwrites, so a replayed batch id is idempotent. A key that
    * names a directory (an S3 console "folder" placeholder such as
    * `incoming/`, or the empty key) is skipped and reported in the
    * result. Missing objects are skipped, the rest converted, then the
    * call throws naming them, so the caller's batch does not commit. */
  def jsonToParquetBatch(
      spark: SparkSession,
      objectRoot: String,
      keys: Seq[String],
      outDir: String,
      batchId: Long,
      maxTasks: Option[Int] = None): ConvertStats = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(outDir).getFileSystem(conf)
    val located = keys.map { k =>
      val p = new Path(s"$objectRoot/$k")
      k -> (try Some(p.getFileSystem(conf).getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None })
    }
    // each object's path in the form `_metadata.file_path` reports it:
    // percent-encoded, and `file:/…` where the qualified path is `file:///…`
    def filePath(st: FileStatus): String = {
      val u = st.getPath.toUri
      new java.net.URI(u.getScheme, Option(u.getAuthority).filter(_.nonEmpty)
        .orNull, u.getPath, null, null).toString
    }
    // keys naming one object differ only in spelling (`a//b`, `a/b`),
    // which the output path normalizes too: one read and one move each
    val files = located.collect { case (k, Some(st)) if st.isFile => (k, filePath(st)) }
      .distinctBy(_._2)
    val index = files.map(_._2).zipWithIndex.toMap
    val stage = new Path(s"$outDir/_staging/$batchId")
    val file = col("_metadata.file_path")
    val stats = try {
      val s = if (files.isEmpty) ConvertStats(0, 0, 0) else convertPass(
        spark, files.map(k => s"$objectRoot/${k._1}"), stage.toString,
        maxTasks = maxTasks, tag = Some(coalesce(try_element_at(typedLit(index), file),
          raise_error(concat(lit("no key names input file "), file)))))
      for (((k, _), i) <- files.zipWithIndex) {
        val dst = new Path(s"$outDir/$k.parquet")
        DirTable.delete(fs, dst, s"batch $batchId")
        fs.mkdirs(dst.getParent)
        val part = new Path(stage, s"$KeyIndex=$i")
        if (!fs.exists(part)) writeEmptyParquet(spark, new Path(dst, "part-00000.parquet"))
        else DirTable.rename(fs, part, dst, s"batch $batchId")
      }
      DirTable.delete(fs, stage, s"batch $batchId")
      val staging = stage.getParent
      if (fs.exists(staging) && fs.listStatus(staging).isEmpty)
        DirTable.delete(fs, staging, s"batch $batchId")
      s
    } catch { case e: Exception =>
      throw new RuntimeException(s"batch $batchId left ${keys.length} " +
        s"unconverted keys: ${keys.mkString(",")}", e)
    }
    val missing = located.collect { case (k, None) => k }
    if (missing.nonEmpty) throw new RuntimeException(s"batch $batchId left " +
      s"${missing.length} unconverted keys (no object): ${missing.mkString(",")}")
    stats.copy(skippedKeys = located.collect { case (k, Some(st)) if !st.isFile => k })
  }

  /** Schema-INFERENCE mode — the second source mode SURVEY §1 promises:
    * point the converter at JSON of UNKNOWN shape and let Spark derive
    * the schema from the data, instead of the reference's hard-coded
    * struct (`convertor/struct.go:4-9`), which silently drops every
    * field it doesn't name. Inference costs one extra pass over the
    * input up front — acceptable for a converter that reads the data
    * anyway; at 100 TB you'd infer from a sample
    * (`samplingRatio`/`spark.read.limit`) and pin the result as an
    * explicit schema. Rows that parse but only as corrupt records are
    * dropped per-row, same contract as the explicit-schema path.
    * Returns the inferred schema so callers can pin it. */
  def jsonToParquetInferred(
      spark: SparkSession,
      in: String,
      out: String,
      multiLine: Boolean = true,
      samplingRatio: Double = 1.0): StructType = {
    // samplingRatio < 1 is the 100 TB mode: infer the schema from a
    // sample of the input instead of a full extra pass, then READ with
    // that pinned schema — rows whose fields the sample missed surface
    // as nulls/corrupt records, the explicit trade a production
    // converter makes (and documents) rather than paying 2× the scan
    val df = spark.read
      .option("multiLine", multiLine)
      .option("samplingRatio", samplingRatio)
      .options(PermissiveJson)
      .json(in)
    // inference only materializes _corrupt_record if some input didn't
    // parse; drop those rows when the column exists
    val clean =
      if (df.columns.contains(Corrupt))
        df.filter(col(Corrupt).isNull).drop(Corrupt)
      else df
    writeRefParquet(clean, out)
    clean.schema
  }

  /** Schema-EVOLUTION read — the drift case a long-running converter
    * service hits: the input schema gains a field, and the sink must
    * keep reading old and new parquet together. `mergeSchema` unions
    * the per-file schemas (absent fields read as NULL); the reference
    * would silently drop the new field (`convertor/convertor.go:138`
    * decodes into the fixed struct). Schema merging is a footer-only
    * operation — at 100 TB, file contents are not re-read. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", true).parquet(path)

  /** S3 event-notification schema: what the reference's SQS message body
    * carries (`convertor/convertor.go:35-44`). */
  val s3EventSchema: StructType = StructType(Seq(
    StructField("Records", ArrayType(StructType(Seq(
      StructField("s3", StructType(Seq(
        StructField("object", StructType(Seq(
          StructField("key", StringType),
          StructField("size", LongType)))))))))))))

  /** Parse a column of S3 ObjectCreated event-notification JSON into one
    * row per referenced object, with the key URL-unescaped
    * (`convertor/convertor.go:110-121`). `explode` fixes the reference's
    * first-record-only bug (`Records[0]` at `convertor.go:117` silently
    * drops multi-record events). */
  def parseS3Events(events: DataFrame, bodyCol: String = "body"): DataFrame =
    events
      .select(explode(from_json(col(bodyCol), s3EventSchema)("Records"))
        .as("rec"))
      .select(
        url_decode(col("rec.s3.object.key")).as("key"),
        col("rec.s3.object.size").as("size"))

  /** End-to-end source/sink check runnable under the driver's oracle:
    * parquet → JSON (sink) → JSON (source, explicit schema) → projection,
    * compared against the original table. Exercises both directions of
    * the reference's conversion on real multi-column data. */
  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_convert_roundtrip",
      """SELECT doc_id, text, lang, source, n_chars FROM documents""".stripMargin) { (s, dir) =>
      // scratch path keyed by input dir: concurrent sessions on different
      // scale factors must not overwrite each other's round-trip data
      val tmp = s"/tmp/graft_roundtrip_json_${dir.hashCode.toHexString}"
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType)))
      graft.Tables(s, dir, "documents")
        .write.mode(SaveMode.Overwrite).json(tmp)
      s.read.schema(docSchema).json(tmp)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
    },

    // Same round-trip through the INFERENCE mode: JSON sink →
    // jsonToParquetInferred (no StructType anywhere) → parquet →
    // projection. Inference must recover the numeric/string kinds the
    // explicit-schema path declares, or the oracle's schema/hash compare
    // fails — the end-to-end check that the second source mode SURVEY §1
    // promises actually produces driver-grade output.
    QueryDef(
      "q_convert_inferred",
      """SELECT doc_id, text, lang, source, n_chars FROM documents""".stripMargin) { (s, dir) =>
      val tmpJ = s"/tmp/graft_infer_json_${dir.hashCode.toHexString}"
      val tmpP = s"/tmp/graft_infer_parquet_${dir.hashCode.toHexString}"
      graft.Tables(s, dir, "documents")
        .write.mode(SaveMode.Overwrite).json(tmpJ)
      // the JSON sink writes json-lines, not whole-file objects
      jsonToParquetInferred(s, tmpJ, tmpP, multiLine = false)
      s.read.parquet(tmpP)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
    },

    // STORED complex types (SURVEY §1's map/nested promise): build a
    // real map<string,int>, a nested struct, and an array<bigint> column
    // from `events`, persist them as a parquet table (Spark writes
    // parquet LIST/MAP/group annotations), re-read, and flatten back to
    // scalars. The oracle computes the same flattened values straight
    // from `events` — equality proves the complex-typed storage is
    // value-preserving end-to-end, not just transient in the plan. The
    // flattened output is scalar-only on purpose: the driver compare
    // hashes sorted columns, and map/array output cells don't sort.
    QueryDef(
      "q_convert_complex",
      s"""SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS ks,
        |  CAST(props->>'k' AS INTEGER) AS k_val,
        |  event_type AS etype,
        |  user_id AS uid,
        |  ${Num.sql("value", 6)} AS val6,
        |  CAST(user_id + event_id AS BIGINT) AS id_sum
        |FROM events""".stripMargin) { (s, dir) =>
      val tmp = s"/tmp/graft_complex_parquet_${dir.hashCode.toHexString}"
      graft.Tables(s, dir, "events")
        .select(
          col("event_id"),
          from_json(col("props"), MapType(StringType, IntegerType))
            .as("props_map"),
          struct(
            col("event_type"),
            struct(col("user_id"), col("value")).as("usr")).as("meta"),
          array(col("user_id"), col("event_id")).as("ids"))
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      val back = s.read.parquet(tmp)
      back.select(
        col("event_id"),
        array_join(array_sort(map_keys(col("props_map"))), ",").as("ks"),
        element_at(col("props_map"), "k").as("k_val"),
        col("meta.event_type").as("etype"),
        col("meta.usr.user_id").as("uid"),
        Num.r(col("meta.usr.value"), 6).as("val6"),
        (element_at(col("ids"), 1) + element_at(col("ids"), 2)).as("id_sum"))
    },

    // Schema EVOLUTION end-to-end (readEvolved's oracle row): generation 1
    // persists documents WITHOUT `source`; generation 2 adds it — the
    // field-gains-a-column drift a long-running converter hits. The
    // mergeSchema read unions the per-file footers (a footer-only
    // operation — no data re-read at 100 TB) and must surface gen-1 rows
    // with NULL source. The oracle recomputes the expected merged relation
    // straight from `documents`, so the hash check proves the evolved read
    // is value-preserving, not merely non-crashing. The reference would
    // silently drop the new field (`convertor/convertor.go:138` decodes
    // into the fixed struct) — this is the Spark-native answer to that.
    QueryDef(
      "q_convert_evolved",
      """SELECT doc_id, lang, n_chars,
        |  CASE WHEN doc_id % 2 = 1 THEN source END AS source
        |FROM documents""".stripMargin) { (s, dir) =>
      val tmp = s"/tmp/graft_evolved_parquet_${dir.hashCode.toHexString}"
      val docs = graft.Tables(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/gen=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/gen=2")
      readEvolved(s, tmp)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
    }
  )
}
