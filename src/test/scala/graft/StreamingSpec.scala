package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.operators.Convert
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** A local filesystem that FAILS renames into paths matching a suffix
  * by returning FALSE — Hadoop `FileSystem.rename`'s real failure mode
  * (S3A non-atomic directory renames, HDFS lease conflicts). Registered
  * under the `graftfail:` scheme so upsertBatch's table-swap protocol
  * can be driven through a rename failure at each swap step (the r9
  * ADVICE data-loss scenario). Targeting by DESTINATION suffix leaves
  * the parquet committer's own renames (into `.tmp/...`) untouched. */
class FlakyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfail"
  override def getUri: java.net.URI = java.net.URI.create("graftfail:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    val suffix = FlakyRenameFs.failDstSuffix.get()
    if (suffix != null && dst.toString.endsWith(suffix)) false
    else super.rename(src, dst)
  }
}
object FlakyRenameFs {
  val failDstSuffix =
    new java.util.concurrent.atomic.AtomicReference[String](null)
}

/** Streaming semantics the batch oracle can't check: incremental file
  * discovery, watermark-driven late-data drop, stateful dedup —
  * exercised with MemoryStream / the real file source. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("file-stream JSON→Parquet service converts incrementally (the reference pipeline)") {
    val in = tmpDir("stream_in")
    val out = tmpDir("stream_out")
    val ckpt = tmpDir("stream_ckpt")
    Files.writeString(Paths.get(in, "a.json"),
      """{ "ID": "1", "name": "A", "nationality": "CM", "age": 22 }""")
    val q = Streaming.jsonToParquetStream(spark, in, out, ckpt)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 1)
      // second "SQS message": a new file appears; only it is processed
      Files.writeString(Paths.get(in, "b.json"),
        """{ "ID": "2", "name": "B", "nationality": "US", "age": 30 }""")
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
      assert(rows.count() == 2)
      assert(rows.select("age").collect().map(_.getByte(0)).sorted
        .sameElements(Array(22.toByte, 30.toByte)))
    } finally q.stop()
  }

  test("notification-driven stream converts the objects each event names") {
    val notify = tmpDir("notify_in")
    val objects = tmpDir("objects")
    val out = tmpDir("notify_out")
    val ckpt = tmpDir("notify_ckpt")
    Files.writeString(Paths.get(objects, "p1.json"),
      """{ "ID": "1", "name": "A", "nationality": "CM", "age": 20 }""")
    Files.writeString(Paths.get(objects, "p 2.json"),
      """{ "ID": "2", "name": "B", "nationality": "US", "age": 30 }""")
    // one notification naming BOTH objects (second key URL-escaped)
    Files.writeString(Paths.get(notify, "n1.json"),
      """{"Records":[
        |  {"s3":{"object":{"key":"p1.json","size":1}}},
        |  {"s3":{"object":{"key":"p%202.json","size":1}}}
        |]}""".stripMargin)
    val q = Streaming.notificationDrivenStream(spark, notify, objects, out, ckpt)
    try {
      q.processAllAvailable()
      val a = spark.read.parquet(s"$out/p1.json.parquet")
      val b = spark.read.parquet(s"$out/p 2.json.parquet")
      assert(a.count() == 1 && b.count() == 1)
      assert(b.select("name").collect()(0).getString(0) == "B")
    } finally q.stop()
  }

  test("AvailableNow backfill drains the backlog in rate-limited batches, then stops") {
    val in = tmpDir("backfill_in")
    val out = tmpDir("backfill_out")
    val ckpt = tmpDir("backfill_ckpt")
    // 7 files with maxFilesPerTrigger=2 → the backlog must take several
    // micro-batches, all under one AvailableNow run
    for (i <- 0 until 7)
      Files.writeString(Paths.get(in, s"p$i.json"),
        s"""{ "ID": "$i", "name": "P$i", "nationality": "US", "age": ${20 + i} }""")
    val q = Streaming.jsonToParquetStream(spark, in, out, ckpt,
      maxFilesPerTrigger = 2, backfill = true)
    q.awaitTermination() // AvailableNow terminates by itself when drained
    assert(spark.read.parquet(out).count() == 7)
    // a later file is NOT picked up — the backfill run is done
    Files.writeString(Paths.get(in, "late.json"),
      """{ "ID": "9", "name": "L", "nationality": "US", "age": 40 }""")
    assert(!q.isActive)
    // restarting from the same checkpoint processes ONLY the new file
    val q2 = Streaming.jsonToParquetStream(spark, in, out, ckpt,
      maxFilesPerTrigger = 2, backfill = true)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 8)
  }

  test("notification batch naming many keys converts them all (concurrent key loop)") {
    val notify = tmpDir("notify_many_in")
    val objects = tmpDir("objects_many")
    val out = tmpDir("notify_many_out")
    val ckpt = tmpDir("notify_many_ckpt")
    val n = 8
    for (i <- 0 until n)
      Files.writeString(Paths.get(objects, s"obj$i.json"),
        s"""{ "ID": "$i", "name": "N$i", "nationality": "US", "age": ${20 + i} }""")
    val records = (0 until n)
      .map(i => s"""{"s3":{"object":{"key":"obj$i.json","size":1}}}""")
      .mkString("""{"Records":[""", ",", "]}")
    Files.writeString(Paths.get(notify, "n1.json"), records)
    val q = Streaming.notificationDrivenStream(spark, notify, objects, out, ckpt)
    try {
      q.processAllAvailable()
      for (i <- 0 until n) {
        val df = spark.read.parquet(s"$out/obj$i.json.parquet")
        assert(df.count() == 1)
        assert(df.select("name").collect()(0).getString(0) == s"N$i")
      }
    } finally q.stop()
  }

  /** A static micro-batch of notification bodies (the `value` column the
    * notification stream hands its batch body), one body naming `keys`
    * URL-encoded the way S3 event notifications carry them. */
  private def notificationBatch(keys: String*) = {
    import spark.implicits._
    val enc = keys.map(k => java.net.URLEncoder.encode(k, "UTF-8"))
    Seq(enc.map(k => s"""{"s3":{"object":{"key":"$k","size":1}}}""")
      .mkString("""{"Records":[""", ",", "]}")).toDF("value")
  }

  private def writeObject(root: String, key: String, text: String): Unit = {
    val p = Paths.get(root, key)
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }

  private def person(id: String, age: Any = 30): String =
    s"""{ "ID": "$id", "name": "N$id", "nationality": "US", "age": $age }"""

  /** Every `<key>.parquet` directory under `out`, as its key. */
  private def outputKeys(out: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(out)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString.stripSuffix(".parquet")).toSet
  }

  private def rowsOf(out: String, key: String): Seq[String] =
    spark.read.parquet(s"$out/$key.parquet").collect().map(_.toString).toSeq.sorted

  test("notification batch maps every key to exactly its own object's rows") {
    val objects = tmpDir("map_objects")
    val out = tmpDir("map_out")
    val keys = Seq("plain.json", "with space.json", "a+b.json", "100%.json",
      "Élodie.json", "nested/dir a/deep.json")
    keys.zipWithIndex.foreach { case (k, i) => writeObject(objects, k, person(s"id$i")) }
    // the same key twice in one batch (an at-least-once redelivery), and
    // a second spelling of one key's path
    Streaming.convertNotificationBatch(notificationBatch(
      keys :+ "plain.json" :+ "nested//dir a/deep.json": _*), 0L, objects, out)
    assert(outputKeys(out) == keys.toSet)
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(spark.read.parquet(s"$out/$k.parquet").collect()
        .map(_.getString(0)).toSeq == Seq(s"id$i"), k)
    }
  }

  test("notification batch gives zero-row outputs for all-corrupt, empty and truncated objects") {
    import org.apache.spark.sql.types._
    val objects = tmpDir("empty_objects")
    val out = tmpDir("empty_out")
    writeObject(objects, "good.json", person("g"))
    writeObject(objects, "corrupt.json", person("c", "\"unknown\""))
    writeObject(objects, "zero.json", "")
    writeObject(objects, "truncated.json", person("t").take(20))
    writeObject(objects, "good2.json", person("g2"))
    val keys = Seq("good.json", "corrupt.json", "zero.json", "truncated.json", "good2.json")
    Streaming.convertNotificationBatch(notificationBatch(keys: _*), 0L, objects, out)
    assert(outputKeys(out) == keys.toSet)
    val schema = StructType(Seq(StructField("ID", StringType),
      StructField("name", StringType), StructField("nationality", StringType),
      StructField("age", ByteType)))
    for (k <- Seq("corrupt.json", "zero.json", "truncated.json")) {
      val df = spark.read.parquet(s"$out/$k.parquet")
      assert(df.schema == schema, k)
      assert(df.count() == 0, k)
    }
    assert(rowsOf(out, "good.json") == Seq("[g,Ng,US,30]"))
    assert(rowsOf(out, "good2.json") == Seq("[g2,Ng2,US,30]"))
    // a batch whose only object has no rows at all still completes
    writeObject(objects, "zero2.json", "")
    Streaming.convertNotificationBatch(notificationBatch("zero2.json"), 1L, objects, out)
    assert(spark.read.parquet(s"$out/zero2.json.parquet").schema == schema)
  }

  test("notification batch counts rows in, corrupt rows dropped and ages nulled in its one pass") {
    val objects = tmpDir("count_objects")
    val out = tmpDir("count_out")
    writeObject(objects, "one.json", person("1"))
    // a multi-line array object: two rows, one age out of int8 range
    writeObject(objects, "two.json", s"[${person("2")}, ${person("3", 300)}]")
    writeObject(objects, "bad.json", person("4", "\"unknown\""))
    writeObject(objects, "cut.json", person("5").take(10))
    val s = Streaming.convertNotificationBatch(
      notificationBatch("one.json", "two.json", "bad.json", "cut.json"), 3L, objects, out)
    assert(s == Convert.ConvertStats(rowsIn = 5, corruptDropped = 2, agesNulled = 1))
    assert(rowsOf(out, "two.json") == Seq("[2,N2,US,30]", "[3,N3,US,null]"))
  }

  test("notification batch with a missing object fails naming the key; the replay converts it") {
    val notify = tmpDir("missing_notify")
    val objects = tmpDir("missing_objects")
    val out = tmpDir("missing_out")
    val ckpt = tmpDir("missing_ckpt")
    writeObject(objects, "here.json", person("h"))
    val e = intercept[RuntimeException](Streaming.convertNotificationBatch(
      notificationBatch("here.json", "gone.json"), 0L, objects, out))
    assert(e.getMessage.contains("gone.json") && !e.getMessage.contains("here.json"))
    // the keys that exist still convert
    assert(rowsOf(out, "here.json") == Seq("[h,Nh,US,30]"))
    // in the stream, the failed batch does not commit; a restart re-runs it
    Files.writeString(Paths.get(notify, "n.json"),
      notificationBatch("here.json", "gone.json").collect()(0).getString(0))
    val q = Streaming.notificationDrivenStream(spark, notify, objects, out, ckpt)
    intercept[Exception](q.processAllAvailable())
    q.stop()
    assert(!Files.exists(Paths.get(ckpt, "commits", "0")))
    writeObject(objects, "gone.json", person("g"))
    val q2 = Streaming.notificationDrivenStream(spark, notify, objects, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(Files.exists(Paths.get(ckpt, "commits", "0")))
    assert(rowsOf(out, "gone.json") == Seq("[g,Ng,US,30]"))
    assert(outputKeys(out) == Set("here.json", "gone.json"))
  }

  test("notification batch replays idempotently and clears a killed attempt's staging") {
    val objects = tmpDir("replay_objects")
    val out = tmpDir("replay_out")
    val keys = Seq("a.json", "b.json", "sub/c.json", "bad.json")
    keys.init.zipWithIndex.foreach { case (k, i) => writeObject(objects, k, person(s"r$i", 20 + i)) }
    writeObject(objects, "bad.json", "{ not json")
    // what a batch killed mid-write leaves: a partial staging directory
    val stale = Paths.get(out, "_staging", "7", "key_index=0")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-stale.parquet"), "junk")
    val batch = notificationBatch(keys: _*)
    Streaming.convertNotificationBatch(batch, 7L, objects, out)
    val first = keys.map(rowsOf(out, _))
    assert(!Files.exists(Paths.get(out, "_staging", "7")))
    Streaming.convertNotificationBatch(batch, 7L, objects, out)
    assert(keys.map(rowsOf(out, _)) == first)
    assert(first == Seq(Seq("[r0,Nr0,US,20]"), Seq("[r1,Nr1,US,21]"),
      Seq("[r2,Nr2,US,22]"), Nil))
    assert(!Files.exists(Paths.get(out, "_staging", "7")))
    // no output exists for a key no notification named
    assert(outputKeys(out) == keys.toSet)
  }

  test("foreachBatch keyed upsert: inserts, updates, and idempotent replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val table = tmpDir("upsert_table") + "/t" // path must not pre-exist
    val mem = MemoryStream[(Long, String, Int)]
    val q = mem.toDF().toDF("id", "name", "age")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Streaming.upsertBatch(b, table, "id")
      }
      .option("checkpointLocation", tmpDir("upsert_ckpt"))
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, "a", 20), (2L, "b", 30))
      q.processAllAvailable()
      assert(spark.read.parquet(table).count() == 2)
      // update key 2, insert key 3
      mem.addData((2L, "b2", 31), (3L, "c", 40))
      q.processAllAvailable()
      val rows = spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
      assert(rows.size == 3)
      assert(rows(2L) == ("b2", 31), s"key 2 not updated: $rows")
      // replaying the same logical rows changes nothing (idempotence)
      mem.addData((2L, "b2", 31), (3L, "c", 40))
      q.processAllAvailable()
      val again = spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
      assert(again == rows)
    } finally q.stop()
  }

  test("CDC changelog apply: sequence-wins merge absorbs out-of-order " +
    "redelivery, tombstones beat late upserts, any wave order converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def op(u: Long, t: String, eid: Long, typ: String, v: Double, o: String) =
      (u, ts(t), eid, typ, v, o)
    val wave1 = Seq(
      op(1, "2024-01-01 10:00:00", 101, "view", 1.0, "U"),
      op(2, "2024-01-01 10:01:00", 102, "click", 2.0, "U"),
      op(3, "2024-01-01 10:02:00", 103, "view", 3.0, "U"))
    val wave2 = Seq(
      op(1, "2024-01-01 11:00:00", 201, "click", 1.5, "U"), // update 1
      op(2, "2024-01-01 11:01:00", 202, "purchase", 0.0, "D"), // delete 2
      op(4, "2024-01-01 11:02:00", 203, "view", 4.0, "U")) // insert 4
    val wave3 = Seq(
      // late upsert SEQUENCED BEFORE key 2's delete: must not resurrect
      op(2, "2024-01-01 10:30:00", 150, "view", 2.2, "U"),
      // tombstone with no base row: key stays absent (delete_noop)
      op(5, "2024-01-01 11:30:00", 301, "purchase", 0.0, "D"),
      // stale update for key 1, older than wave2's: must lose the race
      op(1, "2024-01-01 09:00:00", 50, "view", 0.9, "U"))
    val cols = Seq("user_id", "ts", "event_id", "event_type", "value", "op")
    val table = tmpDir("cdc_table") + "/t"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val q = mem.toDF().toDF(cols: _*)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Streaming.cdcApplyBatch(b, table)
      }
      .option("checkpointLocation", tmpDir("cdc_ckpt"))
      .outputMode(OutputMode.Append()).start()
    try {
      for (w <- Seq(wave1, wave2, wave3)) {
        mem.addData(w: _*); q.processAllAvailable()
      }
      def liveMap(path: String) = Streaming.cdcLive(spark, path).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(2), r.getString(3), r.getDouble(4))).toMap
      val live = liveMap(table)
      assert(live.keySet == Set(1L, 3L, 4L), live)
      assert(live(1L) == ((201L, "click", 1.5)), live) // wave3's stale lost
      assert(live(3L) == ((103L, "view", 3.0)), live)
      // tombstones persist in the raw state table (2 and 5), off the live view
      val raw = spark.read.parquet(table)
      assert(raw.filter(col("op") === "D").count() == 2, "tombstones dropped")
      // the folded state equals the one-shot global latest-wins MERGE
      // (the q_cdc_apply discipline) over the full changelog
      val all = (wave1 ++ wave2 ++ wave3).toDF(cols: _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val expected = all.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).filter(col("op") === "U")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(2), r.getString(3), r.getDouble(4))).toMap
      assert(live == expected, s"fold != one-shot MERGE: $live vs $expected")
      // idempotence: redelivering wave2 verbatim changes nothing
      mem.addData(wave2: _*); q.processAllAvailable()
      assert(liveMap(table) == live, "redelivery mutated the table")
      // order-freedom: folding the SAME waves in a different order
      // converges to the same live state (max-sequence is commutative) —
      // the contract batch-wins upsertBatch cannot make
      val table2 = tmpDir("cdc_table2") + "/t"
      for (w <- Seq(wave3, wave1, wave2))
        Streaming.cdcApplyBatch(w.toDF(cols: _*), table2)
      assert(liveMap(table2) == live, "wave order changed the state")
    } finally q.stop()
  }

  test("stream-static join enriches micro-batches and keeps unmatched facts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("cust"), col("c_mktsegment"))
    val mem = MemoryStream[(Long, Long, Double)]
    val q = Streaming.enrichStream(
        mem.toDF().toDF("event_id", "cust", "value"), dim, "cust")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      // custkey 1 exists in every generation; -999 never does
      mem.addData((1L, 1L, 5.0), (2L, -999L, 7.0))
      q.processAllAvailable()
      // USING-join output order: (cust, event_id, value, c_mktsegment)
      val rows = spark.sql("SELECT * FROM enriched").collect()
        .map(r => r.getLong(1) -> Option(r.getString(3))).toMap
      assert(rows.size == 2)
      val seg = Tables(spark, sfDir, "customer")
        .filter(col("c_custkey") === 1L)
        .select("c_mktsegment").collect()(0).getString(0)
      assert(rows(1L).contains(seg), s"enrichment mismatch: $rows")
      // unmatched fact survives the left join with NULL attributes
      assert(rows(2L).isEmpty, s"unmatched fact dropped or filled: $rows")
      // a second batch joins the same static dim without restart
      mem.addData((3L, 1L, 9.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM enriched").count() == 3)
    } finally q.stop()
  }

  test("incremental dedup ingestion: in-batch + cross-batch dedup, idempotent replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = tmpDir("ingest_corpus")
    val state = tmpDir("ingest_state")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Streaming.dedupIngestBatch(b, id, corpus, state)
      }
      .option("checkpointLocation", tmpDir("ingest_ckpt"))
      .outputMode(OutputMode.Append()).start()
    def corpusIds: Set[Long] = spark.read.parquet(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      // batch 0: doc 3 repeats doc 1's text -> in-batch dedup keeps min id
      mem.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      q.processAllAvailable()
      assert(corpusIds == Set(1L, 2L))
      // batch 1: doc 4 repeats an EARLIER batch's text -> cross-batch drop
      mem.addData((4L, "beta"), (5L, "gamma"))
      q.processAllAvailable()
      assert(corpusIds == Set(1L, 2L, 5L))
      // replay batch 1 (same data, same batch id — the recovery path):
      // the deterministic per-batch overwrite must leave the corpus
      // unchanged, and the batch must not dedup against its own attempt
      Streaming.dedupIngestBatch(
        Seq((4L, "beta"), (5L, "gamma")).toDF("doc_id", "text"), 1L,
        corpus, state)
      assert(corpusIds == Set(1L, 2L, 5L))
      // NULL text never deduplicates — in-batch or across batches —
      // so two null-text docs in one batch both survive
      mem.addData((6L, null: String), (7L, null: String))
      q.processAllAvailable()
      assert(corpusIds == Set(1L, 2L, 5L, 6L, 7L))
      // a batch whose rows ALL dedup away writes an empty (part-file-
      // less) state partition; the next batch's pinned-schema state
      // read must survive it — schema inference would refuse the dir
      mem.addData((8L, "alpha"), (9L, "beta"))
      q.processAllAvailable()
      assert(corpusIds == Set(1L, 2L, 5L, 6L, 7L))
      mem.addData((10L, "delta"))
      q.processAllAvailable()
      assert(corpusIds == Set(1L, 2L, 5L, 6L, 7L, 10L))
    } finally q.stop()
  }

  test("incremental near-dup ingestion: band ownership drops fuzzy repeats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = tmpDir("neardup_corpus")
    val bands = tmpDir("neardup_bands")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Streaming.nearDupIngestBatch(b, id, corpus, bands)
      }
      .option("checkpointLocation", tmpDir("neardup_ckpt"))
      .outputMode(OutputMode.Append()).start()
    def corpusIds: Set[Long] = spark.read.parquet(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    try {
      // batch 0: doc 2 is doc 1's text verbatim (all 8 bands collide),
      // doc 3 is unrelated — in-batch ownership keeps {1, 3}
      mem.addData((1L, base), (2L, base),
        (3L, "completely different text with many other words in this sample"))
      q.processAllAvailable()
      assert(corpusIds == Set(1L, 3L))
      // batch 1: doc 4 is a NEAR-dup of doc 1 (one word changed out of
      // 14 → 3 of 12 shingles differ, J ≈ 0.69; its md5-derived
      // signature deterministically shares a band with doc 1) — dropped
      // against the stored state; doc 5 is fresh — admitted
      mem.addData(
        (4L, base.replace("today", "tonight")),
        (5L, "fresh words that have no overlap with anything stored before"))
      q.processAllAvailable()
      assert(corpusIds == Set(1L, 3L, 5L))
      // replay batch 1 (same id, same data): deterministic overwrite,
      // state read excludes the batch's own partition — corpus unchanged
      Streaming.nearDupIngestBatch(
        Seq((4L, base.replace("today", "tonight")),
          (5L, "fresh words that have no overlap with anything stored before"))
          .toDF("doc_id", "text"), 1L, corpus, bands)
      assert(corpusIds == Set(1L, 3L, 5L))
      // a 2-token doc has no shingles → no bands → always admitted
      mem.addData((6L, "too short"))
      q.processAllAvailable()
      assert(corpusIds == Set(1L, 3L, 5L, 6L))
    } finally q.stop()
  }

  test("incremental sketch table: per-batch partials merge to the right estimate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val table = tmpDir("sketch_table")
    val mem = MemoryStream[(String, Long)]
    val q = mem.toDF().toDF("grp", "key")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Streaming.sketchIngestBatch(b, id, table, "grp", "key")
      }
      .option("checkpointLocation", tmpDir("sketch_ckpt"))
      .outputMode(OutputMode.Append()).start()
    def est: Map[String, Long] =
      Streaming.sketchTable(spark, table, "grp")
        .select(col("grp"), col("estimate"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      // group a: keys 0..999 across two batches with overlap — the
      // union over batch partials must count distincts, not rows
      mem.addData((0L until 600L).map(k => ("a", k)): _*)
      q.processAllAvailable()
      mem.addData((400L until 1000L).map(k => ("a", k)): _*) // 400-599 repeat
      mem.addData((0L until 100L).map(k => ("b", k)): _*)
      q.processAllAvailable()
      val e1 = est
      assert(math.abs(e1("a") - 1000L) <= 50, e1.toString) // ±5%
      assert(math.abs(e1("b") - 100L) <= 5, e1.toString)
      // replayed batch (same id, same data) overwrites its own partial:
      // estimates unchanged — the idempotence dedupIngestBatch pioneered
      Streaming.sketchIngestBatch(
        (0L until 600L).map(k => ("a", k)).toDF("grp", "key"), 0L,
        table, "grp", "key")
      assert(est == e1)
    } finally q.stop()
  }

  test("incremental KLL quantile table: batch partials merge to exact " +
    "total weight and tight median ranks, replay included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val table = tmpDir("kll_table")
    val mem = MemoryStream[(String, Long)]
    val q = mem.toDF().toDF("grp", "v")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Streaming.kllIngestBatch(b, id, table, "grp", "v", 256)
      }
      .option("checkpointLocation", tmpDir("kll_ckpt"))
      .outputMode(OutputMode.Append()).start()
    def state: Map[String, (Seq[(Long, Long)], Long)] =
      Streaming.kllTable(spark, table, "grp").collect().map { r =>
        r.getString(0) -> (r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => (p.getLong(0), p.getLong(1))), r.getLong(2))
      }.toMap
    def medianEst(pairs: Seq[(Long, Long)], n: Long): Long = {
      var cum = 0L
      pairs.sortBy(_._1).find { case (_, w) =>
        cum += w; 2 * cum >= n
      }.get._1
    }
    try {
      // group a: 1..9000 over three skewed batches; group b: 1..500
      mem.addData((1L to 3000L).map(v => ("a", v)): _*)
      q.processAllAvailable()
      mem.addData((3001L to 9000L).map(v => ("a", v)): _*)
      mem.addData((1L to 500L).map(v => ("b", v)): _*)
      q.processAllAvailable()
      val s1 = state
      assert(s1("a")._2 == 9000L && s1("b")._2 == 500L,
        "merged weight != item count")
      val medA = medianEst(s1("a")._1, 9000L)
      assert(math.abs(medA - 4500L) <= 180L, s"median drifted: $medA")
      val medB = medianEst(s1("b")._1, 500L)
      assert(math.abs(medB - 250L) <= 10L, s"median drifted: $medB")
      // replayed batch overwrites its own partial: state unchanged
      Streaming.kllIngestBatch(
        (1L to 3000L).map(v => ("a", v)).toDF("grp", "v"), 0L,
        table, "grp", "v", 256)
      assert(state == s1)
      // the SortAggregate pin runs on a CLONED session: the caller's
      // conf never sees the flag flip (a set/restore would race
      // concurrent ingests and strip ObjectHashAggregate from
      // unrelated queries mid-write)
      assert(spark.conf.get(
        "spark.sql.execution.useObjectHashAggregateExec", "true")
        == "true", "ingest leaked its conf pin into the caller session")
    } finally q.stop()
  }

  test("incremental export manifest: batch partials fold to the batch " +
    "manifest, replay included") {
    import org.apache.spark.sql.functions.col
    val table = tmpDir("manifest_table")
    val docs = Tables(spark, sfDir, "documents")
    // three arrival waves split by doc_id — boundaries are arbitrary,
    // the monoid fold must erase them
    (0 until 3).foreach { w =>
      Streaming.manifestIngestBatch(
        docs.filter(col("doc_id") % 3 === w), w.toLong, table)
    }
    def snap: Map[Long, (Long, Long, Long, Long, Long)] =
      Streaming.manifestTable(spark, table).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5))).toMap
    val expected = SparkEntry.queries("q_export_manifest")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val s1 = snap
    assert(s1 == expected,
      "merged per-batch manifest must equal the one-shot batch manifest")
    // a replayed wave overwrites its own partial — nothing double-counts
    Streaming.manifestIngestBatch(
      docs.filter(col("doc_id") % 3 === 1), 1L, table)
    assert(snap == expected, "replay must be idempotent")
  }

  test("incremental document-frequency table folds to the one-shot " +
    "vocabulary, idf derived at read time, replay included") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("df_table")
    val docs = Tables(spark, sfDir, "documents")
    (0 until 3).foreach { w =>
      Streaming.dfIngestBatch(
        docs.filter(col("doc_id") % 3 === w), w.toLong, table)
    }
    def snap: Map[String, (Long, Long, Long)] =
      Streaming.dfTable(spark, table).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // one-shot derivation over the union corpus: same df, N, idf
    val n = docs.count()
    val expected = docs
      .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .withColumn("idf_micro",
        floor(log(lit(n) * lit(1e0) / col("df")) * lit(1e6) + lit(0.5))
          .cast("long"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), n, r.getLong(2))).toMap
    val s1 = snap
    assert(s1 == expected,
      "folded df table must equal the one-shot vocabulary derivation")
    // replay one wave: idempotent overwrite, nothing double-counts
    Streaming.dfIngestBatch(
      docs.filter(col("doc_id") % 3 === 2), 2L, table)
    assert(snap == expected, "replay must be idempotent")
  }

  test("incremental DSIR model folds to the one-shot lambda table " +
    "bit-for-bit, replay included") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("dsir_model")
    val docs = Tables(spark, sfDir, "documents")
    (0 until 3).foreach { w =>
      Streaming.dsirIngestBatch(
        docs.filter(col("doc_id") % 3 === w), w.toLong, table)
    }
    def snap: Map[Long, Long] =
      Streaming.dsirModelTable(spark, table).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one-shot model over the union corpus through the SAME shared
    // builders the batch query uses — λ must match to the micronat
    val expected = graft.functions.TextAnalysis.dsirLambda(
      graft.functions.TextAnalysis.dsirBuckets(docs)
        .groupBy(col("bucket"))
        .agg(count(when(col("lang") === "en", 1)).as("ct"),
          count(lit(1)).as("cr")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expected.nonEmpty && expected.size > 100,
      s"fixture corpus should populate most buckets (${expected.size})")
    val s1 = snap
    assert(s1 == expected,
      "folded DSIR model must equal the one-shot lambda table")
    // replay a wave under its own batch id: idempotent overwrite
    Streaming.dsirIngestBatch(
      docs.filter(col("doc_id") % 3 === 1), 1L, table)
    assert(snap == expected, "replay must be idempotent")
  }

  test("incremental weighted sample folds to the one-shot batch sample, " +
    "replay and arrival order included") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
    def snap(table: String): Set[(String, Long, Int, Double)] =
      Streaming.sampleTable(spark, table).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).toSet
    val expected = SparkEntry.queries("q_sample_weighted")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    // three disjoint arrival waves fold to the one-shot sample
    val table = tmpDir("wsample_table")
    (0 until 3).foreach { w =>
      Streaming.sampleIngestBatch(
        docs.filter(col("doc_id") % 3 === w), w.toLong, table)
    }
    assert(snap(table) == expected,
      "folded sample must equal the one-shot weighted sample")
    // replay one wave: idempotent overwrite, nothing double-counts
    Streaming.sampleIngestBatch(
      docs.filter(col("doc_id") % 3 === 2), 2L, table)
    assert(snap(table) == expected, "replay must be idempotent")
    // a DIFFERENT batch split folds to the same sample (semilattice:
    // the fold is invariant to how the corpus was sliced)
    val table2 = tmpDir("wsample_table2")
    (0 until 2).foreach { w =>
      Streaming.sampleIngestBatch(
        docs.filter(col("doc_id") % 2 === w), w.toLong, table2)
    }
    assert(snap(table2) == expected,
      "fold must be invariant to batch boundaries")
  }

  test("incremental manifest over an incremental dedup corpus equals the " +
    "one-shot manifest of the final corpus") {
    import org.apache.spark.sql.functions.{col, length}
    // two independently-maintained incremental tables must stay
    // consistent: each batch's dedup SURVIVORS feed the manifest, so
    // after all waves the folded manifest must equal a manifest
    // computed from scratch over the corpus directory
    val corpus = tmpDir("consist_corpus")
    val state = tmpDir("consist_state")
    val manifest = tmpDir("consist_manifest")
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    // waves with CROSS-WAVE duplicates: wave 1 re-sends some of wave 0
    val waves = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1)
        .unionAll(docs.filter(col("doc_id") % 6 === 0)),
      docs.filter(col("doc_id") % 3 === 2))
    waves.zipWithIndex.foreach { case (w, i) =>
      Streaming.dedupIngestBatch(w, i.toLong, corpus, state)
      val survivors = spark.read.parquet(s"$corpus/batch=$i")
        .withColumn("n_chars", length(col("text")).cast("long"))
      Streaming.manifestIngestBatch(survivors, i.toLong, manifest)
    }
    val folded = Streaming.manifestTable(spark, manifest).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // one-shot manifest recomputed from the corpus directory itself
    val oneShot = {
      import org.apache.spark.sql.functions._
      spark.read.parquet(corpus)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select(col("n_chars"),
          graft.functions.TextAnalysis
            .h60(concat(lit("shuf1:"), col("doc_id").cast("string")))
            .as("key"))
        .groupBy((col("key") % 8).as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          min(col("key")).as("key_lo"), max(col("key")).as("key_hi"),
          bit_xor(col("key")).as("checksum"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
    }
    assert(folded == oneShot,
      "incrementally-maintained manifest diverged from the corpus")
  }

  test("incremental drift monitor: identical slices read as exactly zero " +
    "PSI, shifted slices as positive, replay changes nothing") {
    import org.apache.spark.sql.functions.col
    val table = tmpDir("drift_table")
    val docs = Tables(spark, sfDir, "documents")
    val half = docs.filter(col("doc_id") % 2 === 0)
    Streaming.driftIngestBatch(half, 0L, table) // reference
    Streaming.driftIngestBatch(half, 1L, table) // identical arrival
    def psi: Map[String, Double] =
      Streaming.driftVsReference(spark, table, 0L).collect()
        .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val p1 = psi
    assert(p1.nonEmpty && p1.values.forall(_ == 0.0),
      s"identical distributions must read as exact zero: $p1")
    // a length-skewed slice drifts: only short documents arrive
    Streaming.driftIngestBatch(
      docs.filter(col("doc_id") % 2 === 1 && col("n_chars") < 200), 2L, table)
    val p2 = psi
    assert(p2.values.exists(_ > 0.0), s"skewed arrival must drift: $p2")
    // replaying the skewed batch overwrites its own partial
    Streaming.driftIngestBatch(
      docs.filter(col("doc_id") % 2 === 1 && col("n_chars") < 200), 2L, table)
    assert(psi == p2, "replay must be idempotent")
  }

  test("incrementalDedupStream service: file source in, deduped corpus out") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val in = tmpDir("ingest_svc_in")
    val corpus = tmpDir("ingest_svc_corpus")
    val state = tmpDir("ingest_svc_state")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def writeDoc(name: String, id: Long, text: String): Unit =
      Files.writeString(Paths.get(in, name),
        s"""{"doc_id": $id, "text": "$text"}""" + "\n")
    writeDoc("a.json", 1L, "alpha words here")
    val q = Streaming.incrementalDedupStream(
      spark, in, corpus, state, tmpDir("ingest_svc_ckpt"), schema)
    try {
      q.processAllAvailable()
      // a later FILE with one duplicate and one new doc
      writeDoc("b.json", 2L, "alpha words here")
      writeDoc("c.json", 3L, "fresh words here")
      q.processAllAvailable()
      val ids = spark.read.parquet(corpus)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L), ids.toString)
    } finally q.stop()
  }

  test("transformWithState funnel: per-user state machine advances " +
    "across batches in event order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(Long, String, Long)] // (user_id, event_type, ts)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    def transitions: Set[(Long, String, Long)] = spark.table("funnel_test")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = Streaming.funnelAdvance(mem.toDS())
        .writeStream.format("memory").queryName("funnel_test")
        .option("checkpointLocation", tmpDir("funnel_ckpt"))
        .outputMode(OutputMode.Append()).start()
      // batch 1, user 1: a click BEFORE any signup/view advances nothing;
      // signup advances even when it arrives out of order in the batch
      // (rows are applied in event-time order within the batch)
      mem.addData((1L, "click", 10L), (1L, "signup", 5L), (2L, "signup", 7L))
      q.processAllAvailable()
      assert(transitions == Set((1L, "signup", 5L), (2L, "signup", 7L)))
      // batch 2: user 1 walks view AND click in one batch (multi-stage
      // advance); the machine differs from the batch q_funnel aggregate
      // here — the global first click (ts=10) preceded the first view,
      // but the SEQUENTIAL funnel advances on the later click at ts=30
      mem.addData((1L, "view", 20L), (1L, "click", 30L))
      q.processAllAvailable()
      assert(transitions == Set((1L, "signup", 5L), (2L, "signup", 7L),
        (1L, "view", 20L), (1L, "click", 30L)))
      // batch 3: wrong-stage events advance nothing (user 2 needs view,
      // gets purchase; user 1 re-sends click, already consumed)
      mem.addData((2L, "purchase", 40L), (1L, "click", 41L))
      q.processAllAvailable()
      assert(transitions.size == 4)
      // batch 4: user 1 completes; state survived three batch boundaries
      mem.addData((1L, "purchase", 50L))
      q.processAllAvailable()
      assert(transitions.contains((1L, "purchase", 50L)) &&
        transitions.size == 5)
      // batch 5: EQUAL-timestamp view+click must advance BOTH stages —
      // ties break by funnel stage order, not alphabetically (click <
      // view as strings, which would consume the click first and lose it)
      mem.addData((3L, "signup", 60L))
      q.processAllAvailable()
      mem.addData((3L, "click", 70L), (3L, "view", 70L))
      q.processAllAvailable()
      assert(transitions.contains((3L, "view", 70L)) &&
        transitions.contains((3L, "click", 70L)),
        s"same-ts view+click must both apply: $transitions")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState attribution equals the batch q_attribution " +
    "aggregate over the corpus fed in ts-ordered waves") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(Long, String, Long, Long, Long)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = Streaming.attributeLastTouch(mem.toDS())
        .writeStream.format("memory").queryName("attr_test")
        .option("checkpointLocation", tmpDir("attr_ckpt"))
        .outputMode(OutputMode.Append()).start()
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .as[(Long, String, Long, Long, Long)]
        .collect().sortBy(r => (r._3, r._4))
      // three waves cut strictly BETWEEN distinct timestamps, so
      // per-user event-time order holds across batch boundaries and
      // same-ts ties never straddle a boundary
      val cuts = {
        val ts = rows.map(_._3).distinct.sorted
        Seq(ts(ts.length / 3), ts(2 * ts.length / 3))
      }
      val waves = Seq(
        rows.filter(_._3 <= cuts(0)),
        rows.filter(r => r._3 > cuts(0) && r._3 <= cuts(1)),
        rows.filter(_._3 > cuts(1)))
      waves.foreach { w => mem.addData(w.toSeq); q.processAllAvailable() }
      val streamed = spark.table("attr_test")
        .groupBy(col("_2").as("channel"))
        .agg(count(lit(1)).as("conversions"), sum(col("_3")).as("cents"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val batch = SparkEntry.queries("q_attribution")(spark, sfDir)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(streamed == batch,
        s"streaming attribution diverged:\n  stream=$streamed\n  batch=$batch")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState sequence automaton equals the batch q_seq_match " +
    "regexes over the corpus fed in ts-ordered waves") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(Long, Long, Long, String)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = Streaming.seqMatchAdvance(mem.toDS())
        .writeStream.format("memory").queryName("seqmatch_test")
        .option("checkpointLocation", tmpDir("seqmatch_ckpt"))
        .outputMode(OutputMode.Append()).start()
      val rows = Tables(spark, sfDir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
        .collect().sortBy(r => (r._2, r._3))
      // waves cut BETWEEN distinct timestamps (the attribution spec
      // discipline) so per-user event order holds across batches
      val cuts = {
        val ts = rows.map(_._2).distinct.sorted
        Seq(ts(ts.length / 3), ts(2 * ts.length / 3))
      }
      val waves = Seq(
        rows.filter(_._2 <= cuts(0)),
        rows.filter(r => r._2 > cuts(0) && r._2 <= cuts(1)),
        rows.filter(_._2 > cuts(1)))
      waves.foreach { w => mem.addData(w.toSeq); q.processAllAvailable() }
      // snapshot = latest changelog row per user (n_events is
      // monotone, so max-n wins)
      val streamed = spark.table("seqmatch_test")
        .groupBy(col("_1"))
        .agg(max(struct(col("_2"), col("_3"), col("_4"), col("_5")))
          .as("s"))
        .collect().map(r => r.getLong(0) -> {
          val s = r.getStruct(1)
          (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3)) })
        .toMap
      val batch = SparkEntry.queries("q_seq_match")(spark, sfDir)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(streamed == batch,
        s"automaton diverged from the regexes:\n  stream=$streamed\n  batch=$batch")
      // a conversion window left OPEN at a wave boundary must close in a
      // later wave — assert the fixture actually crosses one
      assert(batch.values.exists(_._2 > 0), "no conversions exercised")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState event-time timers close idle sessions from the " +
    "watermark, not from new per-user events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(Long, Long)] // (user_id, ts_ms)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    def sessions: Set[(Long, Long, Long, Long)] = spark.table("session_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val watermarked = mem.toDS().toDF("user_id", "ts_ms")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .withWatermark("ts", "0 seconds")
      q = Streaming.sessionTimeout(watermarked, gapMs = 10000L)
        .writeStream.format("memory").queryName("session_test")
        .option("checkpointLocation", tmpDir("session_ckpt"))
        .outputMode(OutputMode.Append()).start()
      // batch 1, user 1: two events 2s apart + an intra-batch gap >10s —
      // the first session must close INLINE without any timer involved
      mem.addData((1L, 1000L), (1L, 3000L), (1L, 20000L))
      q.processAllAvailable()
      assert(sessions == Set((1L, 1000L, 3000L, 2L)),
        s"intra-batch gap must close inline: $sessions")
      // batch 2, other user far in the future: advances the WATERMARK
      // past user 1's trailing expiry (20000+10000) but delivers no
      // user-1 event. The timer — not an event — must close the session.
      mem.addData((9L, 50000L))
      q.processAllAvailable()
      // batch 3 triggers evaluation under the advanced watermark
      mem.addData((9L, 50001L))
      q.processAllAvailable()
      assert(sessions.contains((1L, 20000L, 20000L, 1L)),
        s"watermark-driven timer close missing: $sessions")
      // user 9's own session stays OPEN (watermark 50001 < 50001+10000):
      // re-armed timers must not fire early
      assert(!sessions.exists(_._1 == 9L),
        s"open session closed prematurely: $sessions")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState list-state attribution matches the stream-stream " +
    "join twin when the cap doesn't bind, and evicts oldest-first when it does") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(Long, String, Long, Long)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    def attributed: Set[(Long, Long)] = spark.table("attr_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = Streaming.clickAttribution(mem.toDS(), windowMs = 600000L,
          maxClicks = 1000)
        .writeStream.format("memory").queryName("attr_test")
        .option("checkpointLocation", tmpDir("attr_ckpt"))
        .outputMode(OutputMode.Append()).start()
      // real events, split into two batches at the median ts so clicks
      // held as STATE from batch 1 must attribute purchases in batch 2
      val ev = Tables(spark, sfDir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._4)
      val (b1, b2) = ev.splitAt(ev.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      // batch twin on the same data (the q_stream_join definition)
      val p = Tables(spark, sfDir, "events")
        .filter(col("event_type") === "purchase")
        .select(unix_millis(col("ts")).as("p_ts"), col("user_id").as("p_user"),
          col("event_id").as("purchase_id"))
      val c = Tables(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .select(unix_millis(col("ts")).as("c_ts"), col("user_id").as("c_user"),
          col("event_id").as("click_id"))
      val twin = p.join(c, col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - 600000L)
        .select(col("purchase_id"), col("click_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(attributed == twin,
        s"only-stream=${attributed.diff(twin).take(5)} " +
          s"only-twin=${twin.diff(attributed).take(5)}")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    // cap-binding case: two in-window clicks, cap 1 — only the NEWEST
    // survives to attribute (oldest-first eviction, the documented trade)
    val mem2 = MemoryStream[(Long, String, Long, Long)]
    var q2: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q2 = Streaming.clickAttribution(mem2.toDS(), windowMs = 600000L,
          maxClicks = 1)
        .writeStream.format("memory").queryName("attr_cap_test")
        .option("checkpointLocation", tmpDir("attr_cap_ckpt"))
        .outputMode(OutputMode.Append()).start()
      mem2.addData((7L, "click", 100L, 1000L), (7L, "click", 101L, 2000L),
        (7L, "purchase", 900L, 3000L))
      q2.processAllAvailable()
      val got = spark.table("attr_cap_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((900L, 101L)),
        s"cap must keep only the newest click: $got")
    } finally {
      if (q2 != null) q2.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState map-state profile counts accumulate by point " +
    "updates and the changelog reconstructs the batch truth") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(Long, String)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    def changelog: Seq[(Long, String, Long)] = spark.table("profile_test")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = Streaming.profileCounts(mem.toDS())
        .writeStream.format("memory").queryName("profile_test")
        .option("checkpointLocation", tmpDir("profile_ckpt"))
        .outputMode(OutputMode.Append()).start()
      mem.addData((1L, "click"), (1L, "click"), (1L, "view"), (2L, "view"))
      q.processAllAvailable()
      assert(changelog.toSet == Set((1L, "click", 2L), (1L, "view", 1L),
        (2L, "view", 1L)))
      // batch 2: only touched (user, type) cells emit, counts accumulate
      // across batches through the map's point reads
      mem.addData((1L, "click"), (2L, "purchase"))
      q.processAllAvailable()
      val b2 = changelog.diff(Seq((1L, "click", 2L), (1L, "view", 1L),
        (2L, "view", 1L)))
      assert(b2.toSet == Set((1L, "click", 3L), (2L, "purchase", 1L)),
        s"unexpected batch-2 changelog: $b2")
      // the LAST changelog row per (user, type) must equal the global
      // group-count truth — the upsert-sink contract
      val last = changelog.groupBy(t => (t._1, t._2))
        .map { case (k, v) => k -> v.last._3 }
      assert(last == Map((1L, "click") -> 3L, (1L, "view") -> 1L,
        (2L, "view") -> 1L, (2L, "purchase") -> 1L))
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState initial state seeds quota counters from a batch " +
    "table before the first streaming row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(String, Long, Long)] // (source, doc_id, n_tokens)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // batch-mode history: srcA already exhausted its 100-token quota,
      // srcB half-way; srcC never seen in batch
      val seed = Seq(("srcA", 100L), ("srcB", 50L)).toDS()
      q = Streaming.quotaAdmitSeeded(mem.toDS(), quota = 100L, initial = seed)
        .writeStream.format("memory").queryName("seeded_quota_test")
        .option("checkpointLocation", tmpDir("seeded_quota_ckpt"))
        .outputMode(OutputMode.Append()).start()
      mem.addData(("srcA", 1L, 10L), ("srcB", 2L, 60L), ("srcB", 3L, 60L),
        ("srcC", 4L, 10L))
      q.processAllAvailable()
      val got = spark.table("seeded_quota_test")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // srcA: seeded at quota -> nothing admits. srcB: 50 consumed, doc 2
      // admits (soft cap) and exhausts, doc 3 rejected. srcC: fresh.
      assert(got == Set(("srcB", 2L), ("srcC", 4L)),
        s"seeded admission wrong: $got")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("incremental kNN maintenance equals the batch top-k after any number " +
    "of batches, and replay rebuilds a version bit-identically") {
    import org.apache.spark.sql.functions.col
    graft.functions.CosineSimilarity.register(spark)
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val dir = tmpDir("knn_ingest")
    // three arrival waves by vec_id range
    val waves = Seq(
      e.filter(col("vec_id") % 3 === 0),
      e.filter(col("vec_id") % 3 === 1),
      e.filter(col("vec_id") % 3 === 2))
    waves.zipWithIndex.foreach { case (b, i) =>
      Streaming.knnIngestBatch(b, i.toLong, queries, dir, k = 5)
    }
    val inc = Streaming.knnTable(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // batch truth over ALL vectors, same scoring + tie-break
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val truth = e.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos", expr("graft_cosine(q_emb, embedding)"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(inc == truth,
      s"only-inc=${inc.diff(truth).take(5)} only-truth=${truth.diff(inc).take(5)}")
    // replay wave 2 (batchId 1): the version it owns must rebuild
    // identically from the same inputs — the idempotence the versioned
    // overwrite exists for
    def v1: Set[(Long, Long, Double)] = spark.read.parquet(s"$dir/v=1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = v1
    Streaming.knnIngestBatch(waves(1), 1L, queries, dir, k = 5)
    assert(v1 == before, "replay must rebuild v=1 bit-identically")
  }

  test("transformWithState funnel state survives a query RESTART from " +
    "the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = tmpDir("funnel_restart_ckpt")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // the memory sink cannot recover a checkpoint; the parquet file
      // sink is the restart-capable one (its commit log is also what
      // gives the file sink exactly-once)
      val out = tmpDir("funnel_restart_out")
      def start() = Streaming.funnelAdvance(mem.toDS())
        .toDF("user_id", "stage", "ts")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      def transitions: Set[(String, Long)] = spark.read.parquet(out)
        .collect().map(r => (r.getString(1), r.getLong(2))).toSet
      q = start()
      mem.addData((1L, "signup", 5L))
      q.processAllAvailable()
      assert(transitions == Set(("signup", 5L)))
      q.stop()
      // cold restart on the same checkpoint: the RocksDB state must
      // remember the user is PAST signup — a replayed signup advances
      // nothing, the next stage does
      q = start()
      mem.addData((1L, "signup", 6L), (1L, "view", 7L))
      q.processAllAvailable()
      assert(transitions == Set(("signup", 5L), ("view", 7L)),
        s"restarted machine must advance only view: $transitions")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState quota admission: per-source soft cap across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store; the conf set
    // and the query start both live INSIDE the try so a failing start()
    // cannot leak the provider into the shared session's later tests
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(String, Long, Long)] // (source, doc_id, n_tokens)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    def admitted: Set[Long] = spark.table("quota_test")
      .collect().map(_.getLong(1)).toSet
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = Streaming.quotaAdmit(mem.toDS(), quota = 10L)
        .writeStream.format("memory").queryName("quota_test")
        .option("checkpointLocation", tmpDir("quota_ckpt"))
        .outputMode(OutputMode.Append()).start()
      mem.addData(("a", 1L, 6L), ("b", 3L, 8L))
      q.processAllAvailable()
      assert(admitted == Set(1L, 3L))
      // soft cap: both sources still under quota -> admitted (and the
      // whole document counts, pushing both sources over)
      mem.addData(("a", 2L, 5L), ("b", 4L, 7L))
      q.processAllAvailable()
      assert(admitted == Set(1L, 2L, 3L, 4L))
      // both sources now at/over quota -> rejected, state survived the
      // batch boundary
      mem.addData(("a", 5L, 1L), ("b", 6L, 1L))
      q.processAllAvailable()
      assert(admitted == Set(1L, 2L, 3L, 4L))
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpointed quota state is introspectable offline via the state " +
    "data source") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the ops surface behind every stateful stream here: the RocksDB
    // state a query checkpointed is readable later as a plain DataFrame
    // (spark.read.format("statestore")) — the audit path for "why is
    // source X being rejected" without instrumenting the running job
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(String, Long, Long)]
    val ckpt = tmpDir("quota_state_read")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = Streaming.quotaAdmit(mem.toDS(), quota = 10L)
        .writeStream.format("memory").queryName("quota_state_read")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      mem.addData(("a", 1L, 6L), ("b", 3L, 8L))
      q.processAllAvailable()
      mem.addData(("a", 2L, 5L)) // a: 6 + 5 = 11, over quota hereafter
      q.processAllAvailable()
      q.stop(); q = null
      val state = spark.read.format("statestore")
        .option("path", ckpt)
        .option("stateVarName", "consumed")
        .load()
      val consumed = state.selectExpr("key.value AS source", "value.value AS c")
        .as[(String, Long)].collect().toMap
      assert(consumed == Map("a" -> 11L, "b" -> 8L),
        s"offline state read disagrees with the stream's bookkeeping: $consumed")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("CDC apply recovers a state table stranded at .old and the " +
    "sequence race still holds through the crash") {
    import spark.implicits._
    import java.nio.file.{Files => NF, Paths => NP}
    val cols = Seq("user_id", "ts", "event_id", "event_type", "value", "op")
    val table = tmpDir("cdc_crash") + "/t"
    Streaming.cdcApplyBatch(Seq(
      (1L, ts("2024-01-01 10:00:00"), 101L, "view", 1.0, "U"),
      (2L, ts("2024-01-01 10:01:00"), 102L, "purchase", 0.0, "D"))
      .toDF(cols: _*), table)
    // crash window between the swap's two renames: table moved aside,
    // new table never moved in
    NF.move(NP.get(table), NP.get(table + ".old"))
    assert(!NF.exists(NP.get(table)) && NF.exists(NP.get(table + ".old")))
    // the next batch must merge against the RECOVERED state — in
    // particular key 2's tombstone must survive the crash and still
    // beat this batch's OLDER redelivered upsert
    Streaming.cdcApplyBatch(Seq(
      (2L, ts("2024-01-01 09:30:00"), 90L, "click", 2.0, "U"),
      (3L, ts("2024-01-01 11:00:00"), 103L, "view", 3.0, "U"))
      .toDF(cols: _*), table)
    val live = Streaming.cdcLive(spark, table).collect()
      .map(r => r.getLong(0)).toSet
    assert(live == Set(1L, 3L),
      s"crash recovery lost the tombstone race: live=$live")
    assert(!NF.exists(NP.get(table + ".old")), "stale .old not cleaned up")
  }

  test("upsert recovers a table stranded at .old by a mid-swap crash") {
    import spark.implicits._
    import java.nio.file.{Files => NF, Paths => NP}
    val table = tmpDir("upsert_crash") + "/t"
    // batch 1 creates the table
    Streaming.upsertBatch(
      Seq((1L, "a", 20), (2L, "b", 30)).toDF("id", "name", "age"), table, "id")
    // simulate the crash window between the swap's two moves: the table
    // directory has been moved aside, the new table never moved in
    NF.move(NP.get(table), NP.get(table + ".old"))
    assert(!NF.exists(NP.get(table)) && NF.exists(NP.get(table + ".old")))
    // the replayed batch must merge against the RECOVERED table, not
    // rebuild from the batch alone (the ADVICE r3 data-loss mode)
    Streaming.upsertBatch(
      Seq((3L, "c", 40)).toDF("id", "name", "age"), table, "id")
    val rows = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(rows == Map(1L -> ("a", 20), 2L -> ("b", 30), 3L -> ("c", 40)),
      s"pre-crash keys lost: $rows")
    assert(!NF.exists(NP.get(table + ".old")), "stale .old not cleaned up")
  }

  test("a FALSE FileSystem.rename aborts the table swap with every " +
    "existing copy intact — no silent data loss (r9 ADVICE)") {
    import spark.implicits._
    import java.nio.file.{Files => NF, Paths => NP}
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfail.impl", classOf[FlakyRenameFs].getName)
    val local = tmpDir("upsert_flaky") + "/t"
    val table = "graftfail:" + local
    def names: Set[Long] = spark.read.parquet(table)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    try {
      Streaming.upsertBatch(
        Seq((1L, "a"), (2L, "b")).toDF("id", "name"), table, "id")
      assert(names == Set(1L, 2L))
      // failure at swap step 1 — old table CANNOT move aside: the
      // swap must throw before touching the live table at all
      FlakyRenameFs.failDstSuffix.set(".old")
      val e1 = intercept[java.io.IOException](Streaming.upsertBatch(
        Seq((3L, "c")).toDF("id", "name"), table, "id"))
      assert(e1.getMessage.contains("rename"), e1.getMessage)
      assert(names == Set(1L, 2L), "live table touched by aborted swap")
      // failure at swap step 2 — new table cannot move in AFTER the
      // old moved aside: the only surviving copy lives at .old and
      // MUST NOT be deleted (the silent-data-loss mode: the pre-fix
      // code fell through to fs.delete(aside) here)
      FlakyRenameFs.failDstSuffix.set("/t")
      val e2 = intercept[java.io.IOException](Streaming.upsertBatch(
        Seq((3L, "c")).toDF("id", "name"), table, "id"))
      assert(e2.getMessage.contains("rename"), e2.getMessage)
      assert(!NF.exists(NP.get(local)), "table should be mid-swap absent")
      assert(NF.exists(NP.get(local + ".old")),
        "the surviving aside copy was deleted — data loss")
      // recovery: the next delivery restores from .old and completes
      FlakyRenameFs.failDstSuffix.set(null)
      Streaming.upsertBatch(
        Seq((3L, "c")).toDF("id", "name"), table, "id")
      assert(names == Set(1L, 2L, 3L), "recovery lost pre-crash keys")
      assert(!NF.exists(NP.get(local + ".old")), "stale .old left behind")
    } finally {
      FlakyRenameFs.failDstSuffix.set(null)
      spark.sparkContext.hadoopConfiguration.unset("fs.graftfail.impl")
    }
  }

  test("watermark drops late events from windowed aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val agg = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(sum(col("v")).as("total"))
      .select(col("window.start").as("ws"), col("total"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts("2024-01-01 00:01:00"), 1L), (ts("2024-01-01 00:05:00"), 2L))
      q.processAllAvailable()
      // advance event time far enough to close + emit the first window
      mem.addData((ts("2024-01-01 01:00:00"), 10L))
      q.processAllAvailable()
      // this event is now far behind the watermark → must be dropped
      mem.addData((ts("2024-01-01 00:02:00"), 100L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 02:00:00"), 20L))
      q.processAllAvailable()
      val emitted = spark.table("wm_test")
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
      assert(emitted("2024-01-01 00:00:00.0") == 3L,
        s"late +100 must not count: $emitted")
    } finally q.stop()
  }

  test("stateful streaming dedup by event id within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val dedup = mem.toDF().toDF("ts", "id")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("id")
    val q = dedup.writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:01:00"), 2L))
      q.processAllAvailable()
      // redelivery of id=1 (the SQS at-least-once case) → suppressed
      mem.addData((ts("2024-01-01 00:02:00"), 1L), (ts("2024-01-01 00:03:00"), 3L))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)), ids.mkString(","))
    } finally q.stop()
  }

  test("streaming tumbling-window aggregation equals the batch window()") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (ts("2024-01-01 00:05:00"), "a", 1.0), (ts("2024-01-01 00:40:00"), "a", 2.0),
      (ts("2024-01-01 00:59:00"), "b", 3.0), (ts("2024-01-01 01:10:00"), "a", 4.0),
      (ts("2024-01-01 02:00:00"), "b", 5.0))
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = mem.toDF().toDF("ts", "k", "v")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(sum(col("v")).as("total"))
      .select(col("window.start").as("ws"), col("k"), col("total"))
    val q = agg.writeStream.format("memory").queryName("tumble_eq")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streaming = spark.table("tumble_eq")
      val batch = rows.toDF("ts", "k", "v")
        .groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(sum(col("v")).as("total"))
        .select(col("window.start").as("ws"), col("k"), col("total"))
      assert(streaming.exceptAll(batch).count() == 0
        && batch.exceptAll(streaming).count() == 0)
    } finally q.stop()
  }

  test("flatMapGroupsWithState maintains custom per-key state across batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)] // (user_id, value)
    // custom state: running count + running sum per user, emitted on
    // every update — the shape of a per-entity online aggregate
    val updated = mem.toDS().groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          val batch = rows.toSeq
          val n = n0 + batch.size
          val s = s0 + batch.map(_._2).sum
          state.update((n, s))
          Iterator((user, n, s))
      }.toDF("user_id", "n", "total")
    val q = updated.writeStream.format("memory").queryName("fmgws_test")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData((1L, 10.0), (1L, 5.0), (2L, 1.0))
      q.processAllAvailable()
      mem.addData((1L, 2.0))
      q.processAllAvailable()
      val byUser = spark.table("fmgws_test")
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n"), max(col("total")).as("total"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(byUser(1L) == ((3L, 17.0))) // state carried across batches
      assert(byUser(2L) == ((1L, 1.0)))
    } finally q.stop()
  }

  test("stream-static join enriches a stream against a dimension table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val mem = MemoryStream[(Long, Int)] // (event, nationkey)
    val enriched = mem.toDF().toDF("ev", "nk")
      .join(dim, col("nk") === col("n_nationkey"))
      .select(col("ev"), col("n_name"))
    val q = enriched.writeStream.format("memory").queryName("ss_dim")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, 0), (2L, 3), (3L, 999)) // 999 has no dim row
      q.processAllAvailable()
      val got = spark.table("ss_dim").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got.size == 2 && got.map(_._1) == Set(1L, 2L), got.toString)
    } finally q.stop()
  }

  test("stream-stream join: purchases join prior clicks within the time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)] // ts, user, click_id
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val c = clicks.toDF().toDF("c_ts", "c_user", "click_id")
      .withWatermark("c_ts", "1 hour")
    val p = purchases.toDF().toDF("p_ts", "p_user", "purchase_id")
      .withWatermark("p_ts", "1 hour")
    // the SAME join definition q_stream_join hash-checks in batch mode
    val joined = Streaming.purchaseClickJoin(p, c)
      .select(col("purchase_id"), col("click_id"))
    val q = joined.writeStream.format("memory").queryName("ssj_test")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData((ts("2024-01-01 00:00:00"), 1L, 100L),
        (ts("2024-01-01 00:30:00"), 1L, 101L))
      purchases.addData((ts("2024-01-01 00:35:00"), 1L, 900L)) // joins 101 only
      q.processAllAvailable()
      // advance both watermarks to flush state
      clicks.addData((ts("2024-01-01 03:00:00"), 9L, 999L))
      purchases.addData((ts("2024-01-01 03:00:00"), 9L, 998L))
      q.processAllAvailable()
      val got = spark.table("ssj_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((900L, 101L)), got.toString)
      assert(!got.contains((900L, 100L)), "click outside the 10-min bound joined")
    } finally q.stop()
  }

  test("left-outer stream-stream join emits the null row only after the " +
    "watermark proves no match can arrive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val c = clicks.toDF().toDF("c_ts", "c_user", "click_id")
      .withWatermark("c_ts", "1 hour")
    val p = purchases.toDF().toDF("p_ts", "p_user", "purchase_id")
      .withWatermark("p_ts", "1 hour")
    // same predicate as purchaseClickJoin, LEFT OUTER: unattributed
    // purchases must still come out (with a null click) — but only once
    // the click watermark passes the bound, because until then a
    // matching click could still arrive. The deferred null is the
    // outer-join semantics that makes attribution EXACT on a stream.
    val joined = p.join(c,
      expr("""c_user = p_user AND c_ts <= p_ts
             |AND c_ts >= p_ts - INTERVAL 10 MINUTES""".stripMargin),
      "left_outer")
      .select(col("purchase_id"), col("click_id"))
    val q = joined.writeStream.format("memory").queryName("ssj_outer_test")
      .outputMode(OutputMode.Append()).start()
    try {
      def got: Set[(Long, Option[Long])] = spark.table("ssj_outer_test")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      clicks.addData((ts("2024-01-01 00:30:00"), 1L, 101L))
      purchases.addData(
        (ts("2024-01-01 00:35:00"), 1L, 900L), // matches click 101
        (ts("2024-01-01 00:36:00"), 2L, 901L)) // no click — outer row
      q.processAllAvailable()
      assert(got.contains((900L, Some(101L))), got.toString)
      // the unmatched purchase must NOT have emitted yet: its match
      // window is still open under the click watermark
      assert(!got.exists(_._1 == 901L),
        s"outer row emitted before the watermark closed: $got")
      // advance both watermarks far past the bound -> state evicts and
      // the unmatched purchase surfaces with a null click
      clicks.addData((ts("2024-01-01 05:00:00"), 9L, 999L))
      purchases.addData((ts("2024-01-01 05:00:00"), 9L, 998L))
      q.processAllAvailable()
      clicks.addData((ts("2024-01-01 08:00:00"), 9L, 997L))
      purchases.addData((ts("2024-01-01 08:00:00"), 9L, 996L))
      q.processAllAvailable()
      assert(got.contains((901L, None)), got.toString)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups redeliveries, then forgets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val dedup = mem.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = dedup.writeStream.format("memory").queryName("ddww_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts("2024-01-01 00:00:00"), 1L))
      q.processAllAvailable()
      // redelivery within the watermark window → suppressed
      mem.addData((ts("2024-01-01 00:01:00"), 1L))
      q.processAllAvailable()
      // push the watermark far past the first id=1 state, then redeliver:
      // state was dropped, so the "duplicate" legitimately reappears
      mem.addData((ts("2024-01-01 05:00:00"), 2L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 05:01:00"), 1L))
      q.processAllAvailable()
      val n1 = spark.table("ddww_test").filter(col("id") === 1).count()
      assert(n1 == 2, s"expected suppressed-then-forgotten, got $n1 rows for id=1")
    } finally q.stop()
  }

  test("batch session_window agrees with the gaps-and-islands rewrite") {
    // the q_stream_session oracle identity, checked in-process as well
    val got = SparkEntry.queries("q_stream_session")(spark, sfDir)
    val events = Tables(spark, sfDir, "events")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val flagged = events.withColumn("prev",
        lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 600L * 1000000, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_session"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val want = flagged.groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("n_events"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("incremental bloom maintenance equals the one-shot filter " +
    "bit-for-bit and keeps the no-false-negative guarantee") {
    import spark.implicits._
    graft.functions.BloomSketch.register(spark)
    val dir = tmpDir("bloom_state")
    val docs = Tables(spark, sfDir, "documents").select(col("doc_id"))
    val waves = (0 until 3).map(w => docs.filter(col("doc_id") % 3 === w))
    waves.zipWithIndex.foreach { case (wv, i) =>
      Streaming.bloomIngestBatch(wv, i.toLong, dir, "doc_id", 1 << 14, 5)
    }
    val merged = Streaming.bloomTable(spark, dir)
    val oneShot = docs
      .agg(expr("graft_bloom(doc_id, 16384, 5)")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, oneShot),
      "OR-fold of batch partials diverged from the one-shot filter")
    // replaying a batch is a no-op: OR is idempotent
    Streaming.bloomIngestBatch(waves(1), 1L, dir, "doc_id", 1 << 14, 5)
    assert(java.util.Arrays.equals(Streaming.bloomTable(spark, dir), oneShot))
    // no false negatives: every ingested key probes true against the
    // folded filter (carried as a literal binary column, the broadcast
    // shape the decontamination scan uses)
    val nMiss = docs.withColumn("bf", lit(merged))
      .filter(!expr("graft_bloom_contains(bf, doc_id)")).count()
    assert(nMiss == 0, s"$nMiss ingested keys probed false")
    // mismatched parameters across batches must be rejected, not merged
    Streaming.bloomIngestBatch(waves(0), 99L, dir, "doc_id", 1 << 15, 5)
    intercept[IllegalArgumentException](Streaming.bloomTable(spark, dir))
  }

  test("incremental component maintenance equals the batch re-cluster " +
    "after waves, merges bridged clusters, and is replay-idempotent") {
    import spark.implicits._
    val compDir = tmpDir("comp_state") + "/components"
    def pairsDf(ps: Seq[(Long, Long)]) = ps.toDF("id_a", "id_b")
    def table() = Streaming.componentTable(spark, compDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def batchCc(ps: Seq[(Long, Long)]) =
      graft.operators.Dedup.connectedComponents(pairsDf(ps))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // wave 1: two separate clusters
    val w1 = Seq(1L -> 2L, 5L -> 6L)
    Streaming.componentIngestBatch(pairsDf(w1), compDir)
    assert(table() == Set((1L, 1L, 2L), (2L, 1L, 2L), (5L, 5L, 2L),
      (6L, 5L, 2L)))
    // wave 2: an unrelated third cluster
    val w2 = Seq(3L -> 4L)
    Streaming.componentIngestBatch(pairsDf(w2), compDir)
    assert(table() == batchCc(w1 ++ w2))
    // wave 3: one pair BRIDGES the wave-1 clusters — the incremental
    // merge must collapse both stored stars into one min-label component
    val w3 = Seq(2L -> 5L)
    Streaming.componentIngestBatch(pairsDf(w3), compDir)
    val all = w1 ++ w2 ++ w3
    assert(table() == batchCc(all))
    assert(table().filter(_._1 != 3L).filter(_._1 != 4L)
      .forall { case (_, c, sz) => c == 1L && sz == 4L })
    // replay wave 3 (at-least-once redelivery): the table cannot change
    Streaming.componentIngestBatch(pairsDf(w3), compDir)
    assert(table() == batchCc(all))
    // real pair family: the q_dedup_components exact-Jaccard pairs over
    // the corpus, split into two arbitrary waves — final state must
    // equal the one-shot batch re-cluster of the full pair graph
    val docs = Tables(spark, sfDir, "documents")
    val sh = graft.operators.Dedup.shinglesOf(docs)
      .select(col("doc_id"),
        graft.functions.TextAnalysis.h60(col("shingle")).as("sid"))
    val corpus = graft.operators.Dedup.jaccardPairs(sh)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(corpus.nonEmpty, "corpus pair graph unexpectedly empty")
    val (cw1, cw2) = corpus.partition { case (a, _) => a % 2 == 0 }
    val compDir2 = tmpDir("comp_state2") + "/components"
    Streaming.componentIngestBatch(pairsDf(cw1), compDir2)
    Streaming.componentIngestBatch(pairsDf(cw2), compDir2)
    val got = Streaming.componentTable(spark, compDir2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batchCc(corpus))
  }

  test("transformWithState as-of enrichment equals q_join_asof2 over " +
    "ts-ordered waves with O(1) per-user state") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(Long, String, Long, Long)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      q = Streaming.asofEnrichStream(mem.toDS())
        .writeStream.format("memory").queryName("asof_enrich_test")
        .option("checkpointLocation", tmpDir("asof_enrich_ckpt"))
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
      // the real corpus in THREE ts-ordered waves: clicks carried as
      // state from wave k must enrich purchases in wave k+1, and the
      // wave boundaries land mid-user so the O(1) ValueState is what
      // bridges them (a processor that rebuilt state per batch fails)
      val ev = Tables(spark, sfDir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(e => (e._4, if (e._2 == "click") 0 else 1, e._3))
      ev.grouped((ev.length + 2) / 3).foreach { wave =>
        mem.addData(wave.toIndexedSeq); q.processAllAvailable()
      }
      val streamed = spark.table("asof_enrich_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch twin: the oracle-checked last-observation window plan
      val twin = SparkEntry.queries("q_join_asof2")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == twin,
        s"only-stream=${streamed.diff(twin).take(5)} " +
          s"only-twin=${twin.diff(streamed).take(5)}")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("incremental span-table ingest folds to the batch duplicated-span " +
    "set, replay included") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val table = tmpDir("span_table")
    // three disjoint arrival waves (documents arrive whole, the ingest
    // family's shared contract)
    (0 until 3).foreach { w =>
      Streaming.spanIngestBatch(
        docs.filter(col("doc_id") % 3 === w), w.toLong, table)
    }
    def snap: Set[Long] = Streaming.dupSpanTable(spark, table)
      .collect().map(_.getLong(0)).toSet
    // one-shot derivation over the union corpus: spans in >= 2 docs
    val expected = graft.operators.Dedup.spanRelation(docs)
      .select(col("doc_id"), col("sid")).distinct()
      .groupBy(col("sid")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty, "fixture corpus should contain dup spans")
    assert(snap == expected,
      "folded span table must equal the one-shot duplicated-span set")
    // replay a wave under its own batch id: idempotent overwrite
    Streaming.spanIngestBatch(
      docs.filter(col("doc_id") % 3 === 1), 1L, table)
    assert(snap == expected, "replay must be idempotent")
    // and the CURRENT dup set drives the same rewrite the batch query
    // produces: a span duplicated across waves is excised either way
    val dup = Streaming.dupSpanTable(spark, table)
    val viaTable = graft.operators.Dedup.spanRelation(docs)
      .join(dup, Seq("sid"), "left_semi")
      .select(col("doc_id"), col("s")).distinct().count()
    val viaBatch = graft.operators.Dedup.spanRelation(docs)
      .groupBy(col("sid"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("sid"))
      .join(graft.operators.Dedup.spanRelation(docs), Seq("sid"))
      .select(col("doc_id"), col("s")).distinct().count()
    assert(viaTable == viaBatch)
  }

  test("transformWithState streaks equal the batch q_window_islands " +
    "over the corpus fed in day-ordered waves") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val prev =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val mem = MemoryStream[(Long, Long)] // (user_id, epoch_day)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      q = Streaming.streakAdvance(mem.toDS())
        .writeStream.format("memory").queryName("streak_test")
        .option("checkpointLocation", tmpDir("streak_ckpt"))
        .outputMode(OutputMode.Append()).start()
      // the SAME day derivation as the batch query, fed in three
      // day-ordered waves (including raw duplicates per user-day)
      val userDays = Tables(spark, sfDir, "events")
        .select(col("user_id"),
          datediff(date_trunc("day", col("ts")).cast("date"),
            lit("1992-01-01").cast("date")).cast("long").as("d"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._2)
      val n = userDays.length
      Seq(userDays.slice(0, n / 3), userDays.slice(n / 3, 2 * n / 3),
        userDays.slice(2 * n / 3, n)).foreach { wave =>
        mem.addData(wave.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      // latest changelog row per user = monotone-counter max/min fold
      val got = spark.table("streak_test")
        .groupBy(col("_1").as("user_id"))
        .agg(max(col("_2")).as("n_islands"), max(col("_3")).as("longest"),
          max(col("_4")).as("active_days"), min(col("_5")).as("first_day"))
      val want = SparkEntry.queries("q_window_islands")(spark, sfDir)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "streaming streak snapshot diverged from the batch islands query")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("incremental join-view maintenance: two-sided deltas fold to " +
    "the full join after every wave, multiplicities exact, replay " +
    "idempotent, one-sided waves included") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("ivm")
    val aFull = Tables(spark, sfDir, "orders").selectExpr(
      "o_orderkey AS k", "CAST(floor(o_totalprice) AS BIGINT) AS av")
    // lineitem has MULTIPLE rows per key — m·n multiset semantics are
    // exercised by construction
    val bFull = Tables(spark, sfDir, "lineitem").selectExpr(
      "l_orderkey AS k", "CAST(l_quantity AS BIGINT) AS bv")
    def bagEqual(x: org.apache.spark.sql.DataFrame,
        y: org.apache.spark.sql.DataFrame): Boolean =
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    // wave 0: both sides; wave 1: both sides; wave 2: A only (B empty)
    val aw = (0 to 2).map(w => aFull.filter(col("k") % 3 === w))
    val bw = Seq(bFull.filter(col("k") % 2 === 0),
      bFull.filter(col("k") % 2 === 1), bFull.limit(0))
    for (w <- 0 to 2) {
      Streaming.ivmIngestBatch(spark, aw(w), bw(w), w.toLong, dir)
      val aSoFar = aw.take(w + 1).reduce(_ unionAll _)
      val bSoFar = bw.take(w + 1).reduce(_ unionAll _)
      val want = aSoFar.join(bSoFar, "k")
        .select(col("k"), col("av"), col("bv"))
      assert(bagEqual(Streaming.ivmView(spark, dir), want),
        s"view diverged from full re-join after wave $w")
    }
    val total = Streaming.ivmView(spark, dir).count()
    assert(total > 0)
    // replayed middle batch rewrites the same partials: reads only
    // state < 1, so the redelivery converges byte-for-byte
    Streaming.ivmIngestBatch(spark, aw(1), bw(1), 1L, dir)
    val aAll = aw.reduce(_ unionAll _)
    val bAll = bw.reduce(_ unionAll _)
    assert(bagEqual(Streaming.ivmView(spark, dir),
      aAll.join(bAll, "k").select(col("k"), col("av"), col("bv"))),
      "replay of wave 1 changed the view")
    assert(Streaming.ivmView(spark, dir).count() == total)
  }

  test("zone-map table: incremental stats serve pruned scans exactly; " +
    "optimize re-tiles crash-safely and a same-horizon re-run no-ops") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files => NF, Paths => NP}
    val table = tmpDir("zone_map")
    val rows = Tables(spark, sfDir, "lineitem").selectExpr(
      "l_orderkey * 10 + l_linenumber AS rid",
      "l_partkey AS a", "l_suppkey AS b").cache()
    try {
      // round-robin ingestion: every micro-batch spans the full key
      // range — the realistic unclustered arrival order
      (0 until 3).foreach { w =>
        Streaming.zoneIngestBatch(
          rows.filter(col("rid") % 3 === w), w.toLong, table)
      }
      // index rows == a from-scratch recompute per file
      val idx = Streaming.zoneTable(spark, table).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(idx.keySet == Set("batch=0", "batch=1", "batch=2"))
      (0 until 3).foreach { w =>
        val ref = rows.filter(col("rid") % 3 === w)
          .agg(min(col("a")), max(col("a")), min(col("b")), max(col("b")),
            count(lit(1))).collect().head
        assert(idx(s"batch=$w") == ((ref.getLong(0), ref.getLong(1),
          ref.getLong(2), ref.getLong(3), ref.getLong(4))))
      }
      // box scan through the index == direct filter; full-span files
      // mean no skips yet. Box bounds are domain-relative so the spec
      // holds at any SF's key ranges.
      val dom = rows.agg(max(col("a")), max(col("b"))).collect().head
      val (amax, bmax) = (dom.getLong(0), dom.getLong(1))
      val (alo, ahi, blo, bhi) =
        (amax / 10, amax / 3, bmax / 10, bmax / 2)
      def direct: Set[Long] = rows
        .filter(col("a").between(alo, ahi) && col("b").between(blo, bhi))
        .select(col("rid")).collect().map(_.getLong(0)).toSet
      val (scan1, files1) = Streaming.zoneScan(
        spark, table, alo, ahi, blo, bhi)
      assert(scan1.select(col("rid")).collect().map(_.getLong(0)).toSet
        == direct)
      assert(files1 == Seq("batch=0", "batch=1", "batch=2"),
        "full-span ingest files cannot be skipped")
      // a box outside the global range prunes EVERYTHING (no read)
      assert(Streaming.zoneScan(spark, table, -9, -1, 0, 9)._2.isEmpty)
      // OPTIMIZE: same answers, and the box now skips most of the data
      Streaming.zoneOptimize(spark, table)
      val (scan2, files2) = Streaming.zoneScan(
        spark, table, alo, ahi, blo, bhi)
      assert(scan2.select(col("rid")).collect().map(_.getLong(0)).toSet
        == direct, "optimize changed scan results")
      assert(files2.forall(_.startsWith("opt=2/tile=")))
      val total = rows.count()
      val readRows = Streaming.zoneTable(spark, table)
        .filter(col("file").isin(files2: _*))
        .agg(sum(col("n"))).collect().head.getLong(0)
      assert(readRows < total / 2,
        s"z-tiles should skip most rows: read $readRows of $total")
      assert(!NF.exists(NP.get(s"$table/data/batch=0")),
        "superseded ingest files not retired")
      // same-horizon re-run must not rewrite the live generation
      // (part-file names carry task UUIDs — untouched dir ⇒ same names)
      def gen: Set[String] = {
        import scala.jdk.CollectionConverters._
        NF.walk(NP.get(s"$table/data/opt=2")).iterator().asScala
          .map(_.toString).toSet
      }
      val before = gen
      Streaming.zoneOptimize(spark, table)
      assert(gen == before, "same-horizon optimize rewrote the " +
        "only live generation (delete-before-rename loss window)")
      // post-optimize ingest: new batch is visible next to the tiles,
      // and the next optimize folds it in under the new horizon
      Streaming.zoneIngestBatch(
        rows.filter(col("rid") % 3 === 0)
          .selectExpr("rid + 1000000000 AS rid", "a", "b"),
        7L, table)
      val (scan3, files3) = Streaming.zoneScan(
        spark, table, alo, ahi, blo, bhi)
      assert(files3.contains("batch=7"))
      // row COUNTS here, not rid sets — rid is not unique in the
      // synthetic lineitem, and the copy batch duplicates rows
      val directCnt = rows.filter(
        col("a").between(alo, ahi) && col("b").between(blo, bhi)).count()
      val dup0 = rows.filter((col("rid") % 3 === 0) &&
        col("a").between(alo, ahi) && col("b").between(blo, bhi)).count()
      assert(scan3.count() == directCnt + dup0)
      Streaming.zoneOptimize(spark, table)
      val (scan4, files4) = Streaming.zoneScan(
        spark, table, alo, ahi, blo, bhi)
      assert(scan4.count() == directCnt + dup0)
      assert(files4.forall(_.startsWith("opt=7/tile=")))
      assert(!NF.exists(NP.get(s"$table/data/opt=2")),
        "old generation not retired")
      // crash leftover below the horizon stays invisible to readers
      NF.createDirectories(NP.get(s"$table/zones/batch=3"))
      assert(Streaming.zoneVisibleParts(spark, table, "zones")
        .forall(n => n == "opt=7"))
    } finally rows.unpersist()
  }

  test("zone-map scan: the prune-everything branch carries the INGESTED " +
    "schema, not fabricated BIGINT columns (r11 ADVICE)") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("zone_schema")
    // ingest INT-typed columns: the no-hit frame must come back INT too,
    // or a downstream union of hit and no-hit scans breaks on schema
    val rows = Tables(spark, sfDir, "lineitem").selectExpr(
      "CAST(l_orderkey * 10 + l_linenumber AS INT) AS rid",
      "CAST(l_partkey AS INT) AS a", "CAST(l_suppkey AS INT) AS b")
    Streaming.zoneIngestBatch(rows, 0L, table)
    val (hitDf, hitFiles) = Streaming.zoneScan(
      spark, table, 0L, Long.MaxValue, 0L, Long.MaxValue)
    val (missDf, missFiles) = Streaming.zoneScan(
      spark, table, -9L, -1L, -9L, -1L)
    assert(hitFiles.nonEmpty && missFiles.isEmpty)
    assert(missDf.schema == hitDf.schema,
      s"no-hit schema ${missDf.schema} != ingested schema ${hitDf.schema}")
    assert(missDf.count() == 0)
    // and the two branches union cleanly (the downstream shape that broke)
    assert(hitDf.unionAll(missDf).count() == hitDf.count())
  }

  test("change feed with retractions: op-weighted catch-up advances a " +
    "materialization AND a maintained join view to exactly the current " +
    "snapshot through deletes") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("zone_retract")
    val rows = Tables(spark, sfDir, "lineitem").selectExpr(
      "l_orderkey * 10 + l_linenumber AS rid",
      "l_partkey AS a", "l_suppkey AS b").cache()
    try {
      (0 until 2).foreach { w =>
        Streaming.zoneIngestBatch(
          rows.filter(col("rid") % 3 === w), w.toLong, table)
      }
      def v2 = spark.read.format("graft.sources.ZoneMapSource").load(table)
      def multiset(df: org.apache.spark.sql.DataFrame)
          : Seq[(Long, Long, Long)] = df.select("rid", "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      // the consumer materializes state (batch<=1, no deletions)
      val v0 = multiset(v2)
      // ... then a delete, a new batch, and a second delete land
      Streaming.dvDelete(spark, table, (rid, _, _) => rid % 7 == 3)
      Streaming.zoneIngestBatch(
        rows.filter(col("rid") % 3 === 2), 2L, table)
      Streaming.dvDelete(spark, table, (rid, _, _) => rid % 11 == 5)
      val feed = Streaming.zoneChangesFeed(spark, table, 1L, -1L).cache()
      // 1. multiset identity: V0 + inserts − retractions == snapshot
      val plus = multiset(feed.filter(col("op") === 1))
      val minus = multiset(feed.filter(col("op") === -1))
      // (rid, a, b) tuples are NOT unique in the synthetic lineitem —
      // the identity must hold with true multiplicities
      val counts = ((v0 ++ plus).groupBy(identity).map {
        case (k, occ) => k -> occ.size
      }.toMap /: minus) { (m, k) => m.updated(k, m(k) - 1) }
      assert(counts.values.forall(_ >= 0), "multiset went negative")
      val applied = counts.toSeq
        .flatMap { case (k, c) => Seq.fill(c)(k) }.sorted
      assert(applied == multiset(v2),
        "op-applied catch-up diverged from the direct snapshot")
      // a retraction only ever names rows the consumer held
      assert(minus.toSet.subsetOf(v0.toSet),
        "retraction for a row the consumer never had")
      // 2. the composed JOIN view (Blakeley delta with op carried
      // through): maintained = base-view agg + op-weighted delta agg
      val dim = rows.select(pmod(col("rid"), lit(10)).as("k"))
        .distinct().withColumn("label", concat(lit("g"), col("k")))
      import spark.implicits._
      val base = v0.toDF("rid", "a", "b").withColumn("op", lit(1))
      val maintained = base.unionByName(feed)
        .join(dim, pmod(col("rid"), lit(10)) === col("k"))
        .groupBy(col("label"))
        .agg(sum(col("op")).as("n"),
          sum(col("op") * col("b")).as("sb"))
        .filter(col("n") =!= 0)
      val recomputed = v2
        .join(dim, pmod(col("rid"), lit(10)) === col("k"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("b")).as("sb"))
      assert(maintained.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq ==
        recomputed.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
        "maintained join view != recomputed join view")
      feed.unpersist()
    } finally rows.unpersist()
  }

  test("deletion vectors: positional skip equals the predicate filter, " +
    "waves fold into one generation, publication survives crash " +
    "leftovers, and optimize refuses until materialize clears them") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files => NF, Paths => NP}
    val table = tmpDir("dv_table")
    val rows = Tables(spark, sfDir, "lineitem").selectExpr(
      "l_orderkey * 10 + l_linenumber AS rid",
      "l_partkey AS a", "l_suppkey AS b").cache()
    try {
      (0 until 3).foreach { w =>
        Streaming.zoneIngestBatch(
          rows.filter(col("rid") % 3 === w), w.toLong, table)
      }
      def v2 = spark.read.format("graft.sources.ZoneMapSource").load(table)
      val total = rows.count()
      assert(v2.count() == total)
      // wave 1: positional skip == predicate filter, exactly
      Streaming.dvDelete(spark, table, (rid, _, _) => rid % 7 == 3)
      val keep1 = rows.filter(!(col("rid") % 7 === 3))
      assert(v2.count() == keep1.count())
      assert(v2.agg(sum(col("rid")), sum(col("a"))).collect()(0) ==
        keep1.agg(sum(col("rid")), sum(col("a"))).collect()(0))
      // wave 2 FOLDS wave 1 (one generation is always the whole truth)
      Streaming.dvDelete(spark, table, (_, a, b) => (a + b) % 11 == 5)
      val keep2 = keep1.filter(!((col("a") + col("b")) % 11 === 5))
      assert(v2.count() == keep2.count())
      assert(Streaming.dvVisibleGen(spark, table) == 1,
        "second publication should land as gen=1")
      assert(!NF.exists(NP.get(s"$table/dv/gen=0")),
        "superseded dv generation not retired")
      val delTotal = total - keep2.count()
      assert(Streaming.dvDeletedCount(spark, table) == delTotal)
      // crash leftover: a stale staging dir is invisible to readers
      // and the next publication clears it
      NF.createDirectories(NP.get(s"$table/dv/.dv_staging/junk"))
      assert(v2.count() == keep2.count(),
        "staging leftover leaked into reads")
      Streaming.dvDelete(spark, table, (rid, _, _) => rid % 9999999 == -1)
      assert(!NF.exists(NP.get(s"$table/dv/.dv_staging")),
        "publication did not clear the crashed staging dir")
      assert(v2.count() == keep2.count())
      // optimize must refuse while live deletions exist
      val e = intercept[IllegalArgumentException](
        Streaming.zoneOptimize(spark, table))
      assert(e.getMessage.contains("dvMaterialize"), e.getMessage)
      // materialize: survivors rewritten as one atomic generation,
      // dv cleared, optimize permitted again
      Streaming.dvMaterialize(spark, table)
      assert(Streaming.dvVisibleGen(spark, table) == -1)
      assert(v2.count() == keep2.count())
      assert(v2.agg(sum(col("rid")), sum(col("b"))).collect()(0) ==
        keep2.agg(sum(col("rid")), sum(col("b"))).collect()(0))
      Streaming.zoneOptimize(spark, table) // must not throw now
      assert(v2.count() == keep2.count())
      // crash case: a dvMaterialize staging leftover (data staged but
      // never renamed in) must stay invisible and not block a re-run
      Streaming.dvDelete(spark, table, (rid, _, _) => rid % 13 == 1)
      val keep3 = keep2.filter(!(col("rid") % 13 === 1))
      NF.createDirectories(NP.get(s"$table/.dv_mat_data/junk"))
      assert(v2.count() == keep3.count())
      Streaming.dvMaterialize(spark, table)
      assert(v2.count() == keep3.count())
      assert(!NF.exists(NP.get(s"$table/.dv_mat_data")))
    } finally rows.unpersist()
  }

  test("span-table compaction preserves the duplicated-span set exactly " +
    "and leftover source dirs stay invisible (crash idempotence)") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files => NF, Paths => NP}
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val table = tmpDir("span_compact")
    (0 until 3).foreach { w =>
      Streaming.spanIngestBatch(
        docs.filter(col("doc_id") % 3 === w), w.toLong, table)
    }
    def snap: Set[Long] = Streaming.dupSpanTable(spark, table)
      .collect().map(_.getLong(0)).toSet
    val before = snap
    assert(before.nonEmpty, "fixture corpus should contain dup spans")
    // compact the first two waves into one base: read unchanged,
    // sources gone, batch 2 still a live partial
    Streaming.spanCompact(spark, table, upToBatch = 1L)
    assert(snap == before, "compaction changed the duplicated-span set")
    assert(NF.exists(NP.get(s"$table/compact=1")), "base missing")
    assert(!NF.exists(NP.get(s"$table/batch=0")) &&
      !NF.exists(NP.get(s"$table/batch=1")), "folded sources not retired")
    assert(NF.exists(NP.get(s"$table/batch=2")), "live partial retired")
    // crash simulation: a folded source left behind (delete never ran)
    // must be INVISIBLE to readers, not double-counted — rebuild one
    // by replaying wave 1 under its old batch id
    Streaming.spanIngestBatch(
      docs.filter(col("doc_id") % 3 === 1), 1L, table)
    assert(snap == before,
      "leftover pre-horizon batch dir was double-counted")
    // re-running the same compaction is idempotent AND must not touch
    // the lone base: with inputs == {compact=1} the fold is the
    // identity, and the ADVICE-r10 loss window (delete the only live
    // copy, then crash before the replacement renames in) only exists
    // if the base is rewritten at all. Spark part-file names carry a
    // random task UUID, so an untouched directory means identical file
    // names — pin that, plus the leftover sweep still running.
    def baseFiles: Set[String] = {
      import scala.jdk.CollectionConverters._
      NF.list(NP.get(s"$table/compact=1")).iterator().asScala
        .map(_.getFileName.toString).toSet
    }
    val baseBefore = baseFiles
    Streaming.spanCompact(spark, table, upToBatch = 1L)
    assert(snap == before)
    assert(!NF.exists(NP.get(s"$table/batch=1")), "leftover not cleared")
    assert(baseFiles == baseBefore,
      "same-horizon re-run rewrote the lone base instead of " +
        "short-circuiting (the delete-before-rename loss window)")
    // the horizon only moves forward
    Streaming.spanIngestBatch(
      docs.filter(col("doc_id") % 3 === 0), 3L, table)
    Streaming.spanCompact(spark, table, upToBatch = 3L)
    assert(NF.exists(NP.get(s"$table/compact=3")) &&
      !NF.exists(NP.get(s"$table/compact=1")), "old base not retired")
    intercept[IllegalArgumentException](
      Streaming.spanCompact(spark, table, upToBatch = 2L))
    // wave-0 docs ingested twice (batch 0 folded + batch 3) — the
    // distinct-doc per-batch counts legitimately double for their
    // spans, which can only ADD duplicated spans, never lose one
    assert(before.subsetOf(snap), "compacted table lost duplicated spans")
  }

  // --------------------------------------------------------------------
  // BOUNDED-STATE AUDIT (r11 VERDICT task 6): each transformWithState
  // operator's per-key state must be provably bounded — the way
  // PlanSpec pins plan shapes, these pin STATE shapes. Two teeth per
  // operator: (1) the measured UnsafeRow width of a worst-case state
  // value stays under a documented per-key ceiling, and (2) the state
  // store's actual row count after a 3-wave replay equals (or is
  // bounded by) the key count — numRowsTotal comes from the running
  // query's progress, i.e. from the RocksDB store itself, not from
  // the operator's own claims.
  // --------------------------------------------------------------------

  /** Serialized UnsafeRow width of one state VALUE under its encoder —
    * the per-key payload the state store persists (the store adds the
    * grouping key and provider framing on top; ceilings below leave
    * room for that by construction of the documented bound). */
  private def stateRowBytes[T](
      enc: org.apache.spark.sql.Encoder[T], v: T): Int = {
    val ee = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      enc.asInstanceOf[
        org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[T]])
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(ee.schema)
    proj(ee.createSerializer()(v)).getSizeInBytes
  }

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def stateRows(
      q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.lastProgress.stateOperators(0).numRowsTotal

  test("bounded-state audit: streak automaton holds exactly one " +
    "<=64-byte value per user under a 3-wave replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // worst-case value: six longs, every field at its extreme
    val worst = Streaming.StreakState(Long.MaxValue, Long.MaxValue,
      Long.MaxValue, Long.MaxValue, Long.MinValue, Long.MaxValue)
    val width = stateRowBytes(
      org.apache.spark.sql.Encoders.product[Streaming.StreakState], worst)
    assert(width <= 64, s"streak state value grew to $width B/key")
    val mem = MemoryStream[(Long, Long)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try withRocksDb {
      q = Streaming.streakAdvance(mem.toDS())
        .writeStream.format("memory").queryName("streak_bound")
        .option("checkpointLocation", tmpDir("streak_bound_ckpt"))
        .outputMode(OutputMode.Append()).start()
      val users = 40L
      // 3 day-ordered waves, several days and duplicates per user
      for (wave <- 0 until 3) {
        val rows = for (u <- 0L until users; d <- 0L until 4L)
          yield (u, wave * 4L + d)
        mem.addData(rows ++ rows.take(10): _*)
        q.processAllAvailable()
        assert(stateRows(q) == users,
          s"wave $wave: ${stateRows(q)} state rows for $users users")
      }
      // replaying an already-seen wave must not grow state
      mem.addData((0L until users).map(u => (u, 9L)): _*)
      q.processAllAvailable()
      assert(stateRows(q) == users, "replay grew streak state")
    } finally if (q != null) q.stop()
  }

  test("bounded-state audit: as-of enrichment holds exactly one " +
    "<=40-byte last-click value per user regardless of event volume") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    val width = stateRowBytes(enc, (Long.MaxValue, Long.MaxValue))
    assert(width <= 40, s"as-of state value grew to $width B/key")
    val mem = MemoryStream[(Long, String, Long, Long)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try withRocksDb {
      q = Streaming.asofEnrichStream(mem.toDS())
        .writeStream.format("memory").queryName("asof_bound")
        .option("checkpointLocation", tmpDir("asof_bound_ckpt"))
        .outputMode(OutputMode.Append()).start()
      val users = 25L
      // 3 waves, MANY clicks per user per wave: state must stay at one
      // row per user — the whole point of last-observation compaction
      for (wave <- 0 until 3) {
        val rows = for (u <- 0L until users; k <- 0L until 20L) yield
          (u, if (k % 5 == 4) "purchase" else "click",
            wave * 100L + k, wave * 1000L + k)
        mem.addData(rows: _*)
        q.processAllAvailable()
        assert(stateRows(q) == users,
          s"wave $wave: ${stateRows(q)} state rows for $users users " +
            "(state must not scale with click volume)")
      }
    } finally if (q != null) q.stop()
  }

  test("bounded-state audit: the session automaton stays within two " +
    "state rows (<=48-byte value + timer) per ACTIVE user and frees " +
    "closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    val width = stateRowBytes(enc,
      (Long.MaxValue, Long.MaxValue, Long.MaxValue))
    assert(width <= 48, s"session state value grew to $width B/key")
    val mem = MemoryStream[(Long, Long)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try withRocksDb {
      val watermarked = mem.toDS().toDF("user_id", "ts_ms")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .withWatermark("ts", "0 seconds")
      q = Streaming.sessionTimeout(watermarked, gapMs = 10000L)
        .writeStream.format("memory").queryName("session_bound")
        .option("checkpointLocation", tmpDir("session_bound_ckpt"))
        .outputMode(OutputMode.Append()).start()
      val users = 30L
      for (wave <- 0 until 3) {
        mem.addData((0L until users).map(u =>
          (u, wave * 2000L + u)): _*)
        q.processAllAvailable()
        // value row + armed expiry timer: never more than 2 rows/user
        assert(stateRows(q) <= 2 * users,
          s"wave $wave: ${stateRows(q)} state rows for $users users")
      }
      // a watermark-advancing wave from one far-future user closes
      // every other session: state must SHRINK to the active few
      mem.addData((999L, 10000000L)); q.processAllAvailable()
      mem.addData((999L, 10000001L)); q.processAllAvailable()
      assert(stateRows(q) <= 2 * 1,
        s"closed sessions not freed: ${stateRows(q)} rows remain")
    } finally if (q != null) q.stop()
  }

  test("bounded-state audit: list-state attribution never exceeds " +
    "maxClicks <=40-byte elements per user, even under a click storm") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    val width = stateRowBytes(enc, (Long.MaxValue, Long.MaxValue))
    assert(width <= 40, s"click element grew to $width B")
    val maxClicks = 4
    val mem = MemoryStream[(Long, String, Long, Long)]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try withRocksDb {
      q = Streaming.clickAttribution(mem.toDS(),
          windowMs = 1000000L, maxClicks = maxClicks)
        .writeStream.format("memory").queryName("attr_bound")
        .option("checkpointLocation", tmpDir("attr_bound_ckpt"))
        .outputMode(OutputMode.Append()).start()
      val users = 20L
      // 3 waves of a CLICK STORM: 30 in-window clicks per user per
      // wave — without the cap, list state would grow to 90/user
      for (wave <- 0 until 3) {
        val rows = for (u <- 0L until users; k <- 0L until 30L) yield
          (u, "click", wave * 100L + k, wave * 30L + k)
        mem.addData(rows: _*)
        q.processAllAvailable()
        assert(stateRows(q) <= users * maxClicks,
          s"wave $wave: ${stateRows(q)} list rows exceed " +
            s"$users users x $maxClicks cap")
      }
    } finally if (q != null) q.stop()
  }
}
