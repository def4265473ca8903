package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Convert, Person}
import org.apache.spark.sql.types.ByteType

/** Reference-faithful JSON→Parquet conversion (SURVEY §2A #4-6):
  * multi-line person objects, permissive corrupt-record handling,
  * int→int8 narrowing, snappy parquet output. */
class ConvertSpec extends SparkSpec {

  private def writePerson(dir: String, name: String, json: String): Unit =
    Files.writeString(Paths.get(dir, name), json)

  test("AvroIO roundtrips nullable unions and multi-block containers " +
    "exactly, including rows a connector-less reader must not drop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("avro_rt")
    // nulls in every nullable field + long texts to force several
    // deflate blocks per container (syncInterval is 2 KiB)
    val rows = (0L until 300L).map { i =>
      (i,
        if (i % 7 == 0) null else "t" * 64 + i.toString,
        if (i % 11 == 0) null else s"l${i % 3}",
        if (i % 13 == 0) null else s"s${i % 5}",
        i * 3)
    }
    val df = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4)
    graft.sources.AvroIO.writeDocs(df, dir)
    // one container per non-empty partition
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.length == 4, s"${files.length} containers")
    // multiple sync blocks per file: 75 rows x ~70 B >> 2 KiB interval
    val back = graft.sources.AvroIO.readDocs(spark, dir)
    val got = back.collect().map(r => (r.getLong(0),
      Option(r.getString(1)), Option(r.getString(2)),
      Option(r.getString(3)), r.getLong(4))).sortBy(_._1)
    val want = rows.map(t => (t._1, Option(t._2), Option(t._3),
      Option(t._4), t._5)).sortBy(_._1)
    assert(got.toSeq == want.toSeq, "roundtrip diverged")
    // re-write over an existing dir must replace, not accumulate
    graft.sources.AvroIO.writeDocs(df.limit(10).repartition(1), dir)
    assert(graft.sources.AvroIO.readDocs(spark, dir).count() == 10)
  }

  test("person JSON round-trips through parquet with the reference schema") {
    val in = tmpDir("convert_in")
    val out = tmpDir("convert_out") + "/person.parquet"
    // same shape as the reference's sample inputs (multi-line objects)
    writePerson(in, "p1.json",
      """{
        |  "ID": "9001",
        |  "name": "Ada",
        |  "nationality": "UK",
        |  "age": 36
        |}""".stripMargin)
    writePerson(in, "p2.json",
      """{ "ID": "9002", "name": "Grace", "nationality": "US", "age": 85 }""")
    // missing field → null (richer than Go's zero-value but explicit)
    writePerson(in, "p3.json",
      """{ "ID": "9003", "name": "NoAge", "nationality": "FR" }""")
    // malformed → dropped like the reference's log-and-skip
    writePerson(in, "p4.json", """{ "ID": oops not json""")

    Convert.jsonToParquet(spark, in, out)

    val back = spark.read.parquet(out)
    assert(back.schema("age").dataType == ByteType)
    val rows = back.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Byte]))).sortBy(_._1)
    assert(rows.length == 3) // corrupt record dropped
    assert(rows(0) == ("9001", "Ada", "UK", Some(36.toByte)))
    assert(rows(1) == ("9002", "Grace", "US", Some(85.toByte)))
    assert(rows(2) == ("9003", "NoAge", "FR", None))
  }

  test("round-trips arbitrary unicode person records (seeded fuzz)") {
    val rnd = new scala.util.Random(7)
    // BMP-only pool: char-level sampling would split surrogate pairs
    val pool = "abcXYZ0189 éüñ中文№\\\"\n\t"
    def randStr(): String =
      (0 until (1 + rnd.nextInt(12))).map(_ => pool(rnd.nextInt(pool.length))).mkString
    val in = tmpDir("convert_fuzz")
    val cases = (0 until 40).map { i =>
      val p = Person(randStr(), randStr(), randStr(),
        Some((rnd.nextInt(256) - 128).toByte))
      // JSON-encode with full escaping
      def js(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      Files.writeString(Paths.get(in, s"p$i.json"),
        s"""{ "ID": ${js(p.ID)}, "name": ${js(p.name)},
           |  "nationality": ${js(p.nationality)}, "age": ${p.age.get} }""".stripMargin)
      p
    }
    val out = tmpDir("convert_fuzz_out") + "/p.parquet"
    Convert.jsonToParquet(spark, in, out)
    val got = spark.read.parquet(out).collect().map(r =>
      Person(r.getString(0), r.getString(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Byte]))).toSet
    assert(got == cases.toSet, s"missing=${cases.toSet -- got} extra=${got -- cases.toSet}")
  }

  test("output parquet is snappy-compressed") {
    val in = tmpDir("convert_in2")
    val out = tmpDir("convert_out2") + "/p.parquet"
    writePerson(in, "p.json",
      """{ "ID": "1", "name": "X", "nationality": "CM", "age": 22 }""")
    Convert.jsonToParquet(spark, in, out)
    val files = new java.io.File(out).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".snappy.parquet")), files.mkString(","))
  }

  test("parquet round-trips under zstd and gzip codecs too") {
    for ((codec, ext) <- Seq("zstd" -> ".zstd.", "gzip" -> ".gz.")) {
      val out = tmpDir(s"codec_$codec") + "/t.parquet"
      Tables(spark, sfDir, "nation")
        .write.option("compression", codec).parquet(out)
      val files = new java.io.File(out).listFiles().map(_.getName)
      assert(files.exists(_.contains(ext)), files.mkString(","))
      assert(spark.read.parquet(out).count() == 25)
    }
  }

  test("idempotent overwrite: re-running the conversion is safe") {
    val in = tmpDir("convert_in3")
    val out = tmpDir("convert_out3") + "/p.parquet"
    writePerson(in, "p.json",
      """{ "ID": "1", "name": "X", "nationality": "CM", "age": 22 }""")
    Convert.jsonToParquet(spark, in, out)
    Convert.jsonToParquet(spark, in, out) // at-least-once redelivery
    assert(spark.read.parquet(out).count() == 1)
  }

  test("stored parquet preserves map / nested-struct / array columns") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val out = tmpDir("convert_complex") + "/c.parquet"
    // one row with every complex kind SURVEY §1 promises as STORABLE
    spark.range(1)
      .select(
        col("id"),
        map(lit("a"), lit(1), lit("b"), lit(2)).as("m"),
        struct(lit("x").as("tag"),
          struct(lit(7L).as("n"), lit(1.5).as("v")).as("inner")).as("st"),
        array(lit(10L), lit(20L)).as("arr"))
      .write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    // the FILE schema is complex-typed — not strings in disguise
    assert(back.schema("m").dataType.isInstanceOf[MapType])
    val st = back.schema("st").dataType.asInstanceOf[StructType]
    assert(st("inner").dataType.isInstanceOf[StructType])
    assert(back.schema("arr").dataType.isInstanceOf[ArrayType])
    val r = back.select(
      element_at(col("m"), "b"), col("st.inner.n"), col("st.inner.v"),
      element_at(col("arr"), 2)).head()
    assert((r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      == ((2, 7L, 1.5, 20L)))
  }

  test("schema-inference mode converts unknown JSON without a StructType") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val in = tmpDir("convert_infer")
    val out = tmpDir("convert_infer_out") + "/p.parquet"
    // a shape the fixed personSchema does NOT know (extra field, no age)
    writePerson(in, "p1.json",
      """{ "ID": "1", "name": "Ada", "nationality": "UK", "age": 36,
        |  "email": "ada@example.org" }""".stripMargin)
    writePerson(in, "p2.json",
      """{ "ID": "2", "name": "Grace", "nationality": "US", "age": 85,
        |  "email": "grace@example.org" }""".stripMargin)
    val inferred = Convert.jsonToParquetInferred(spark, in, out)
    // inference found every field the data carries — including the one
    // the reference's hard-coded struct would silently drop
    assert(inferred.fieldNames.toSet ==
      Set("ID", "name", "nationality", "age", "email"))
    assert(inferred("age").dataType == LongType) // JSON integer infers long
    assert(inferred("email").dataType == StringType)
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    assert(back.where("email = 'ada@example.org' AND age = 36").count() == 1)
  }

  test("schema inference can run on a sample of the input (the 100 TB mode)") {
    val in = tmpDir("convert_infer_sample")
    val out = tmpDir("convert_infer_sample_out") + "/p.parquet"
    // a homogeneous corpus: any sample sees the full shape
    (1 to 50).foreach { i =>
      writePerson(in, s"p$i.json",
        s"""{ "ID": "$i", "name": "N$i", "nationality": "DE", "age": ${20 + i} }""")
    }
    val inferred = graft.operators.Convert.jsonToParquetInferred(
      spark, in, out, samplingRatio = 0.2)
    assert(inferred.fieldNames.toSet == Set("ID", "name", "nationality", "age"))
    assert(spark.read.parquet(out).count() == 50) // sample infers, FULL data converts
  }

  test("schema-inference mode still drops corrupt records per-row") {
    val in = tmpDir("convert_infer2")
    val out = tmpDir("convert_infer2_out") + "/p.parquet"
    writePerson(in, "good.json", """{ "ID": "1", "name": "X" }""")
    writePerson(in, "bad.json", """{ "ID": oops not json""")
    Convert.jsonToParquetInferred(spark, in, out)
    val back = spark.read.parquet(out)
    assert(back.count() == 1)
    assert(!back.columns.contains("_corrupt_record"))
  }

  test("mergeSchema reads evolved parquet: old files gain NULL new columns") {
    import org.apache.spark.sql.types.ByteType
    val table = tmpDir("convert_evolve") + "/person"
    val inV1 = tmpDir("convert_evolve_v1")
    val inV2 = tmpDir("convert_evolve_v2")
    // v1 of the service wrote the 4-column reference schema…
    writePerson(inV1, "p.json",
      """{ "ID": "1", "name": "Ada", "nationality": "UK", "age": 36 }""")
    Convert.jsonToParquet(spark, inV1, s"$table/d=1")
    // …then the input drifted: `age` disappears and a new `email` field
    // appears (the case the reference's fixed struct silently drops,
    // convertor/convertor.go:138); inference picks the new shape up.
    // (mergeSchema unions NEW columns; a same-name TYPE conflict is a
    // hard error by design — evolution means adding fields, not
    // repurposing them.)
    writePerson(inV2, "p.json",
      """{ "ID": "2", "name": "Grace", "nationality": "US",
        |  "email": "grace@example.org" }""".stripMargin)
    Convert.jsonToParquetInferred(spark, inV2, s"$table/d=2")
    val merged = Convert.readEvolved(spark, table)
    // union of the per-file schemas: all 5 data columns + partition col
    assert(merged.columns.toSet ==
      Set("ID", "name", "nationality", "age", "email", "d"))
    val byId = merged.collect()
      .map(r => r.getAs[String]("ID") ->
        (Option(r.getAs[String]("email")), Option(r.get(merged.columns.indexOf("age"))))).toMap
    assert(byId("1")._1.isEmpty && byId("1")._2.contains(36.toByte))
    assert(byId("2")._1.contains("grace@example.org") && byId("2")._2.isEmpty)
    // and the downstream converter projection still runs on the merged
    // view — absent fields are NULL, not schema errors
    val projected = Convert.toParquet(merged)
    assert(projected.schema("age").dataType == ByteType)
    assert(projected.count() == 2)
  }

  test("S3 event notifications parse to one row per record, key unescaped") {
    import spark.implicits._
    // two records in one event — the reference's Records[0] bug would
    // drop the second; explode keeps it
    val body =
      """{"Records":[
        |  {"s3":{"object":{"key":"in%2Fperson%202.json","size":123}}},
        |  {"s3":{"object":{"key":"in%2Fperson3.json","size":456}}}
        |]}""".stripMargin
    val parsed = Convert.parseS3Events(Seq(body).toDF("body"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    assert(parsed.sameElements(Array(
      ("in/person 2.json", 123L), ("in/person3.json", 456L))))
  }

  test("typed Dataset[Person] path reads with compile-time fields") {
    val in = tmpDir("convert_typed")
    writePerson(in, "p.json",
      """{ "ID": "7", "name": "Tycho", "nationality": "DK", "age": 54 }""")
    // the converted columns map straight onto the reference's struct
    import spark.implicits._
    val ds = Convert.toParquet(spark.read.schema(Convert.personSchema)
      .option("multiLine", true).json(in)).as[Person]
    val p = ds.filter(_.age.exists(_ > 50)).collect()
    assert(p.length == 1 && p(0) == Person("7", "Tycho", "DK", Some(54.toByte)))
  }

  test("age outside int8 range narrows with explicit cast semantics") {
    val in = tmpDir("convert_in4")
    val out = tmpDir("convert_out4") + "/p.parquet"
    writePerson(in, "p.json",
      """{ "ID": "1", "name": "Big", "nationality": "CM", "age": 300 }""")
    Convert.jsonToParquet(spark, in, out)
    val v = spark.read.parquet(out).collect()(0).get(3)
    // Spark ANSI-off cast wraps like Go's int32→int8 truncation
    assert(v == (300.toByte) || v == null)
  }

  test("GraftConfig mirrors the reference env contract (CheckEnv panic-if-unset)") {
    // infra/env.go:9-15 — unset OR empty panics with the exact message
    val e1 = intercept[IllegalStateException](
      GraftConfig.checkEnv("Poller", Map.empty))
    assert(e1.getMessage == "Not able to find Poller in environment")
    val e2 = intercept[IllegalStateException](
      GraftConfig.checkEnv("Poller", Map("Poller" -> "")))
    assert(e2.getMessage == "Not able to find Poller in environment")
    assert(GraftConfig.checkEnv("Poller", Map("Poller" -> "3")) == "3")
    // infra/utils.go:6-12 — Str_Int panics on a malformed count,
    // INCLUDING surrounding whitespace (strconv.Atoi rejects " 3 ";
    // a .trim here would silently accept what the reference panics on)
    assert(GraftConfig.strInt("4") == 4)
    intercept[IllegalStateException](GraftConfig.strInt("four"))
    intercept[IllegalStateException](GraftConfig.strInt(" 3 "))
    // cmd/convertor/main.go:22-31 — the full startup read, including the
    // presence-only credential checks
    val env = Map(
      "Poller" -> "2", "Worker" -> "3",
      "AWS_SQS" -> "/q", "AWS_S3" -> "/b",
      "AWS_ACCESS_KEY_ID" -> "k", "AWS_SECRET_ACCESS_KEY" -> "s",
      "AWS_DEFAULT_REGION" -> "r")
    val cfg = GraftConfig.fromEnv(env)
    assert(cfg == GraftConfig(2, 3, "/q", "/b"))
    // ≤10 messages per poll per poller (convertor.go:52)
    assert(cfg.filesPerTrigger == 20)
    val e3 = intercept[IllegalStateException](
      GraftConfig.fromEnv(env - "AWS_SECRET_ACCESS_KEY"))
    assert(e3.getMessage.contains("AWS_SECRET_ACCESS_KEY"))
  }

  test("GraftConfig feeds the notification-driven service's parallelism") {
    import graft.streaming.Streaming
    val notify = tmpDir("cfg_notify")
    val objects = tmpDir("cfg_objects")
    val ckpt = tmpDir("cfg_ckpt")
    val cfg = GraftConfig.fromEnv(Map(
      "Poller" -> "1", "Worker" -> "2",
      "AWS_SQS" -> notify, "AWS_S3" -> objects,
      "AWS_ACCESS_KEY_ID" -> "k", "AWS_SECRET_ACCESS_KEY" -> "s",
      "AWS_DEFAULT_REGION" -> "r"))
    for (i <- 0 until 3)
      writePerson(objects, s"c$i.json",
        s"""{ "ID": "$i", "name": "C$i", "nationality": "US", "age": ${30 + i} }""")
    val records = (0 until 3)
      .map(i => s"""{"s3":{"object":{"key":"c$i.json","size":1}}}""")
      .mkString("""{"Records":[""", ",", "]}")
    Files.writeString(Paths.get(notify, "n1.json"), records)
    // the reference writes back to the SAME bucket at <key>.parquet
    // (convertor.go:171) — cfg.s3Bucket is object root AND sink
    val q = Streaming.notificationDrivenStream(
      spark, cfg.sqsName, cfg.s3Bucket, cfg.s3Bucket, ckpt, Some(cfg))
    try {
      q.processAllAvailable()
      for (i <- 0 until 3) {
        val df = spark.read.parquet(s"$objects/c$i.json.parquet")
        assert(df.count() == 1)
        assert(df.select("name").collect()(0).getString(0) == s"C$i")
      }
    } finally q.stop()
  }
}
