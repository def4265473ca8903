package graft.streaming

import graft.{Num, QueryDef, Tables}
import graft.operators.{Convert, Dedup}
import graft.sources.DirTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState, OutputMode,
  StatefulProcessor, StatefulProcessorWithInitialState, StreamingQuery, TTLConfig, TimeMode,
  TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Streaming layer (SURVEY.md §2A #1/#6/#7 + §2B streaming rows).
  *
  * The reference IS a streaming pipeline: SQS long-poll → S3 JSON → Parquet
  * → ack (`convertor/convertor.go:79-164`). Structured Streaming replaces
  * each piece: the file source's listing replaces the S3→SQS notification,
  * the checkpoint offset log replaces the SQS cursor, and the idempotent
  * per-batch overwrite replaces the delete-after-write ack — upgrading the
  * reference's at-least-once to effective exactly-once.
  *
  * Event-time semantics (tumbling/sliding/session windows) are expressed
  * with the SAME functions batch queries use, so the window queries below
  * run under the DuckDB oracle in batch mode while the streaming-specific
  * behavior (watermarks, late-data drop, stateful dedup, incremental file
  * discovery) is exercised in StreamingSpec via MemoryStream.
  */
object Streaming {

  /** The reference service, Spark-native: watch `inDir` for new JSON
    * files, convert each micro-batch to Parquet under `outDir`.
    * `maxFilesPerTrigger` ≈ the SQS receive batch of ≤10 messages
    * (`convertor/convertor.go:52`); the checkpoint replaces the
    * visibility-timeout redelivery loop (`convertor.go:48`). */
  def jsonToParquetStream(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      schema: StructType = Convert.personSchema,
      maxFilesPerTrigger: Int = 10,
      backfill: Boolean = false): StreamingQuery = {
    val in = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // the reference's inputs are one multi-line object per file
      // (sample_json/*.json) — same whole-file parse as the batch path
      .option("multiLine", true)
      .json(inDir)
    Convert.toParquet(in)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      // backfill = Trigger.AvailableNow: drain everything the source has
      // (still rate-limited into maxFilesPerTrigger-sized batches, still
      // checkpointed) then STOP — the reprocess-the-backlog mode. A
      // 100 TB catch-up runs exactly this, then flips to the continuous
      // trigger on the same checkpoint.
      .trigger(if (backfill) Trigger.AvailableNow()
               else Trigger.ProcessingTime("1 second"))
      .start()
  }

  /** The reference's FULL control flow: a stream of S3-event-notification
    * bodies (the SQS messages), each naming object keys to convert — not
    * just a watched directory. Notification JSON files land in
    * `notifyDir`; each micro-batch is one [[convertNotificationBatch]]:
    * parse the keys, resolve them against `objectRoot` (the S3 bucket
    * stand-in) and write one parquet per key under `outDir` — the
    * reference's deterministic `<key>.parquet` idempotent output
    * (`convertor/convertor.go:171`).
    *
    * `config` (optional) is the reference-faithful [[graft.GraftConfig]]
    * env mirror: `Worker` caps the concurrent tasks of the batch's one
    * conversion job the way the worker goroutine count bounds the
    * reference's fan-out (`convertor.go:62-65`), and `Poller` caps the
    * per-trigger notification intake at pollers × the 10-message poll
    * batch (`convertor.go:52`) via maxFilesPerTrigger.
    *
    * The trigger fires every 500 ms. The reference long-polls
    * (`convertor.go:79-104`): a poll returns as soon as messages arrive
    * and the poller asks again at once, so a fixed clock costs each
    * arrival half an interval of waiting on average and caps a backlog
    * at one batch per interval. A drain batch takes about 500 ms or
    * more, so at this interval a backlog drains in back-to-back batches.
    * A shorter interval adds micro-batches whose fixed cost (planning,
    * and JIT compilation while the service is young) outweighs the wait
    * it saves. On 4 cores, with the fork-free `file:` filesystem and
    * the shuffle-free key parse, a 250 ms trigger cost 5-18% more CPU
    * than the earlier 1 s trigger without them, and a 0 ms one 21% more,
    * where 500 ms cost 7% less. */
  def notificationDrivenStream(
      spark: SparkSession,
      notifyDir: String,
      objectRoot: String,
      outDir: String,
      checkpointDir: String,
      config: Option[graft.GraftConfig] = None): StreamingQuery = {
    val reader = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .option("wholetext", true)
    config.foreach(c =>
      reader.option("maxFilesPerTrigger", c.filesPerTrigger))
    reader.text(notifyDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        convertNotificationBatch(batch, batchId, objectRoot, outDir,
          config.map(_.worker))
        ()
      }
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One micro-batch of [[notificationDrivenStream]]: every key the
    * notification bodies (`value` column) name converts in ONE Spark job
    * (`Convert.jsonToParquetBatch`), and the pass's counters and the
    * keys it skipped (folder placeholders such as `incoming/`, the empty
    * key) go to stderr as one JSON line. `distinct`, taken on the driver
    * after the collect so the parse is one job with no shuffle:
    * at-least-once delivery can name a key twice. If any key fails the
    * call throws and the batch does not commit, so Spark re-runs it on
    * restart — the redelivery the reference gets from not acking the
    * message (convertor.go:156-164); the overwriting moves make the
    * re-run safe. */
  def convertNotificationBatch(
      batch: DataFrame,
      batchId: Long,
      objectRoot: String,
      outDir: String,
      maxTasks: Option[Int] = None): Convert.ConvertStats = {
    val keys = Convert.parseS3Events(batch, "value")
      .select("key").collect().map(_.getString(0)).distinct.toSeq
    val s = Convert.jsonToParquetBatch(
      batch.sparkSession, objectRoot, keys, outDir, batchId, maxTasks)
    val skipped = json.writeValueAsString(s.skippedKeys.toArray)
    System.err.println(s"""{"batch":$batchId,"keys":${keys.length},""" +
      s""""rows_in":${s.rowsIn},"corrupt_dropped":${s.corruptDropped},""" +
      s""""ages_nulled":${s.agesNulled},"skipped":$skipped}""")
    s
  }

  /** Idempotent keyed upsert: merge a micro-batch into the parquet table
    * at `tablePath` — new keys insert, existing keys take the batch's
    * row (batch wins via the priority column, ties within the batch are
    * unspecified upstream concerns). Replaying a batch yields the same
    * table state, so at-least-once redelivery composes to effective
    * exactly-once. The read-merge-swap below is the parquet-only
    * stand-in for what a transactional table format's MERGE does at
    * 100 TB; the swap is a filesystem rename, atomic on one filesystem.
    * Use as a `foreachBatch` body (StreamingSpec drives it from a
    * MemoryStream). */
  def upsertBatch(batch: DataFrame, tablePath: String, key: String): Unit = {
    val s = batch.sparkSession
    // Crash recovery FIRST (ADVICE r3): a crash between the two renames
    // in the swap below leaves the table ABSENT with the only surviving
    // copy at `.old`. Restore it before merging — otherwise this
    // replayed batch would read an empty table and silently rebuild from
    // the batch alone, exactly the data-loss mode the swap ordering
    // exists to prevent. (A `.old` alongside a PRESENT table is a
    // leftover from a crash after the second rename — stale, dropped
    // inside the swap.)
    recoverFromAside(s, tablePath)
    val (fs, tableP) = DirTable.fs(s, tablePath)
    val existing =
      if (fs.exists(tableP)) s.read.parquet(tablePath)
      else s.createDataFrame(s.sparkContext.emptyRDD[Row], batch.schema)
    val w = Window.partitionBy(col(key)).orderBy(col("__prio").desc)
    val merged = existing.withColumn("__prio", lit(0))
      .unionByName(batch.withColumn("__prio", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__prio", "__rn")
    merged.write.mode(SaveMode.Overwrite)
      .parquet(tablePath + ".tmp")
    DirTable.publish(fs, new Path(tablePath + ".tmp"), tableP,
      new Path(tablePath + ".old"), "upsertBatch")
  }

  /** CDC changelog apply — the STREAMING twin of the batch
    * `q_cdc_apply` MERGE (operators/Behavior.scala), maintaining a keyed
    * state table under latest-wins-BY-SEQUENCE semantics with
    * tombstones. The batch carries upserts (`op = 'U'`) and deletes
    * (`op = 'D'`), each stamped with its source sequence `(ts,
    * event_id)`; the merge keeps, per key, the row with the HIGHEST
    * sequence across the existing table and the batch.
    *
    * Three properties [[upsertBatch]]'s batch-wins rule cannot give,
    * all StreamingSpec-pinned:
    *   - ORDER-FREE: the winner per key is `max(sequence)` — an
    *     associative, commutative fold — so delivering micro-batches in
    *     ANY order (late redelivery, partition lag, backfill) converges
    *     to the same table. Under batch-wins, a redelivered OLD change
    *     would clobber newer state.
    *   - TOMBSTONES PERSIST: a delete is merged as a row, not applied
    *     as a removal, so an older upsert redelivered AFTER the delete
    *     loses the sequence race instead of resurrecting the key. The
    *     live view is `op = 'U'`; [[cdcLive]] reads it.
    *   - IDEMPOTENT: replaying any batch re-runs a deterministic
    *     race (event_id breaks ts ties) against state that already
    *     contains the winner — a no-op, so at-least-once delivery
    *     composes to effective exactly-once.
    *
    * 100 TB: one `hash(key)` exchange per micro-batch over
    * |existing keys| + |batch| rows (row_number early-outs via
    * WindowGroupLimit); table size is bounded by LIVE key cardinality
    * plus retained tombstones. Tombstone retention is required only
    * while an older update for the deleted key can still arrive — once
    * the source's redelivery horizon passes, a maintenance pass may
    * drop `op = 'D'` rows older than that watermark (the span-table
    * compaction pattern); this function retains them all, making the
    * order-free guarantee unconditional. */
  def cdcApplyBatch(batch: DataFrame, tablePath: String,
      key: String = "user_id"): Unit = {
    val s = batch.sparkSession
    recoverFromAside(s, tablePath)
    val (fs, tableP) = DirTable.fs(s, tablePath)
    val existing =
      if (fs.exists(tableP)) s.read.parquet(tablePath)
      else s.createDataFrame(s.sparkContext.emptyRDD[Row], batch.schema)
    val w = Window.partitionBy(col(key))
      .orderBy(col("ts").desc, col("event_id").desc)
    val merged = existing.unionByName(batch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    merged.write.mode(SaveMode.Overwrite)
      .parquet(tablePath + ".tmp")
    DirTable.publish(fs, new Path(tablePath + ".tmp"), tableP,
      new Path(tablePath + ".old"), "cdcApplyBatch")
  }

  /** Read side of [[cdcApplyBatch]]: the live keys — tombstoned keys
    * stay in the state table to win sequence races against late
    * redeliveries, but they are not rows of the logical table. */
  def cdcLive(s: SparkSession, tablePath: String): DataFrame =
    s.read.parquet(tablePath).filter(col("op") === "U").drop("op")

  /** Crash-recovery half of the aside-swap contract shared by
    * [[upsertBatch]], [[cdcApplyBatch]] and [[componentIngestBatch]]:
    * each publishes `<table>.tmp` with the old table moved aside to
    * `.old` ([[DirTable.publish]]). If the table is absent but `.old`
    * survives, a crash happened between the publish's two renames —
    * restore the aside copy before reading.
    * A FALSE rename here must throw, not fall through: proceeding would
    * read an empty table and silently rebuild from the batch alone — the
    * exact data-loss mode this recovery exists to prevent. */
  private def recoverFromAside(s: SparkSession, tablePath: String): Unit = {
    val (fs, p) = DirTable.fs(s, tablePath)
    val aside = new Path(tablePath + ".old")
    if (!fs.exists(p) && fs.exists(aside))
      DirTable.rename(fs, aside, p, "recoverFromAside")
  }

  /** One micro-batch of incremental corpus ingestion with CROSS-BATCH
    * exact dedup: drop rows whose content hash arrived in any earlier
    * batch (or earlier in this one), append survivors to the corpus and
    * their hashes to the state table. The cross-batch state is a plain
    * parquet hash table — tiny relative to the corpus (16 B/doc), and at
    * 100 TB it lives as a bucketed table so the anti-join is shuffle-free.
    *
    * Exactly-once WITHOUT a transactional format: both sinks write to a
    * DETERMINISTIC per-batch subdirectory (`batch=<id>`) with overwrite —
    * a replayed batch rewrites the same directories instead of appending
    * duplicates, the same idempotence trick as the reference's
    * `<key>.parquet` output key. Hash-state replay is additionally
    * self-correcting: a duplicate hash row only strengthens the anti-join.
    *
    * Use as a `foreachBatch` body (see [[incrementalDedupStream]];
    * StreamingSpec drives it from a MemoryStream and replays a batch). */
  def dedupIngestBatch(
      batch: DataFrame, batchId: Long,
      corpusDir: String, stateDir: String): Unit = {
    val s = batch.sparkSession
    val hashed = batch
      .withColumn("h", md5(col("text").cast("binary")))
      // In-batch dedup first: smallest doc_id is canonical, matching
      // q_dedup_exact's keep rule. NULL text never deduplicates (SQL
      // null-equality rules, and what the cross-batch anti-join below
      // does anyway): the extra doc_id partition term gives every
      // null-hash row its own window partition, so both dedup layers
      // agree regardless of which batch such rows arrive in.
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("h"), when(col("h").isNull, col("doc_id")))
        .orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn")
    // Read every EARLIER batch's hashes (ids < batchId): on a replay
    // this batch's own partial already exists on disk, and letting the
    // batch "see" its previous attempt would dedup the rows against
    // themselves and overwrite the output with nothing.
    val seen = DirTable.partialsBefore(s, stateDir, batchId,
      StructType(Seq(StructField("h", StringType))))
    val fresh = hashed.join(seen, Seq("h"), "left_anti").cache()
    try {
      fresh.drop("h").write
        .mode(SaveMode.Overwrite).parquet(s"$corpusDir/batch=$batchId")
      fresh.select(col("h")).write
        .mode(SaveMode.Overwrite).parquet(s"$stateDir/batch=$batchId")
    } finally fresh.unpersist()
  }

  /** The always-on ingestion service around [[dedupIngestBatch]]: watch
    * `inDir` for new JSON document files, dedup each micro-batch against
    * everything already ingested, grow the corpus incrementally. */
  def incrementalDedupStream(
      spark: SparkSession,
      inDir: String,
      corpusDir: String,
      stateDir: String,
      checkpointDir: String,
      schema: StructType): StreamingQuery =
    spark.readStream.schema(schema).json(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, id: Long) =>
        dedupIngestBatch(batch, id, corpusDir, stateDir))
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

  /** One micro-batch of incremental NEAR-dup ingestion — the fuzzy
    * counterpart of [[dedupIngestBatch]]: drop documents whose MinHash
    * LSH band was already claimed by an earlier document, append
    * survivors to the corpus and their bands to the state table. The
    * admission rule is deterministic band OWNERSHIP: a document is
    * dropped iff any of its 8 band keys is held by a smaller-id document
    * of the same batch or by any earlier batch's survivor. That is the
    * aggressive production mode — candidates are deduped WITHOUT the
    * pairwise agreement verification the batch query suite applies
    * (q_dedup_minhash verifies agree ≥ 10/16); on chains (A~B~C, A≁C)
    * it can drop more than a greedy scan would, which is the standard
    * trade for an O(batch) incremental check against state that is
    * 8 rows/doc, not the corpus text. Signatures/bands come from the
    * SAME [[graft.operators.Dedup.minhashSignatures]] the batch query
    * uses, so stored state and batch semantics cannot drift. Documents
    * under 3 tokens have no shingles → no bands → always admitted.
    * Exactly-once exactly as dedupIngestBatch: deterministic
    * `batch=<id>` overwrite, state read takes only earlier ids so a
    * replay never dedups against its previous attempt. */
  def nearDupIngestBatch(
      batch: DataFrame, batchId: Long,
      corpusDir: String, bandsDir: String): Unit = {
    val s = batch.sparkSession
    val bands = Dedup.minhashBandKeys(Dedup.minhashSignatures(batch)).cache()
    try {
      val seen = DirTable.partialsBefore(s, bandsDir, batchId, StructType(Seq(
        StructField("band", IntegerType), StructField("band_key", StringType))))
      val dupCross = bands
        .join(seen, Seq("band", "band_key"), "left_semi")
        .select(col("doc_id"))
      // in-batch: the smallest doc_id in each band bucket owns the band
      val mins = bands.groupBy(col("band"), col("band_key"))
        .agg(min(col("doc_id")).as("min_id"))
      val dupIn = bands.join(mins, Seq("band", "band_key"))
        .filter(col("doc_id") > col("min_id"))
        .select(col("doc_id"))
      val survivors = batch.join(
        dupCross.union(dupIn).distinct(), Seq("doc_id"), "left_anti").cache()
      try {
        survivors.write
          .mode(SaveMode.Overwrite).parquet(s"$corpusDir/batch=$batchId")
        bands.join(survivors.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("band"), col("band_key")).write
          .mode(SaveMode.Overwrite).parquet(s"$bandsDir/batch=$batchId")
      } finally survivors.unpersist()
    } finally bands.unpersist()
  }

  /** One micro-batch of incremental CONNECTED-COMPONENT maintenance —
    * the streaming twin of q_dedup_components' cluster derivation
    * (r7 VERDICT next-round item 7): fold a new batch's near-dup PAIRS
    * into the stored component table without re-running clustering
    * over the full historical pair graph.
    *
    * The trick that makes the merge cheap AND exact: the stored
    * labeling (node → component = min reachable id) is a spanning STAR
    * of each historical component, so running connected components over
    * `stored-labeling-as-edges ∪ new pairs` yields exactly the
    * components of `all historical pairs ∪ new pairs` — the history
    * contributes |V| star edges instead of its full pair set, and a new
    * pair that bridges two old components collapses both stars into one
    * label in the usual O(log d) pointer-jumping rounds
    * ([[graft.operators.Dedup.connectedComponents]], the verified
    * loop). Pair DERIVATION stays with the caller (band joins, exact
    * Jaccard, entity blocking — any family), so one maintenance
    * primitive serves them all.
    *
    * Replay-idempotent by algebra: components(merged ∪ pairs) =
    * components(merged) when `pairs` is already folded in, so
    * redelivering a batch cannot change the table. Crash safety is the
    * [[upsertBatch]] aside-swap: at every instant a full copy of the
    * pre- or post-merge table exists on disk, and the recovery below
    * closes the between-moves window. At 100 TB the table is
    * |clustered nodes| rows — orders smaller than the corpus (dup
    * clusters are sparse) — and would live PK-bucketed by node. */
  def componentIngestBatch(pairs: DataFrame, compDir: String): Unit = {
    val s = pairs.sparkSession
    recoverFromAside(s, compDir)
    val (fs, compP) = DirTable.fs(s, compDir)
    val oldEdges =
      if (fs.exists(compP))
        s.read.parquet(compDir)
          .select(col("node").as("id_a"), col("component").as("id_b"))
      else pairs.select(col("id_a"), col("id_b")).limit(0)
    val merged = Dedup.connectedComponents(
      pairs.select(col("id_a"), col("id_b")).unionByName(oldEdges))
    merged.write.mode(SaveMode.Overwrite).parquet(compDir + ".tmp")
    DirTable.publish(fs, new Path(compDir + ".tmp"), compP,
      new Path(compDir + ".old"), "componentIngestBatch")
  }

  /** Read side of [[componentIngestBatch]]: the current (node,
    * component, cluster_size) labeling. */
  def componentTable(spark: SparkSession, compDir: String): DataFrame =
    spark.read.parquet(compDir)
      .select(col("node"), col("component"), col("cluster_size"))

  /** One micro-batch of incremental sketch-table maintenance: aggregate
    * the batch's keys into one HLL sketch per group and write them as a
    * DETERMINISTIC `batch=<id>` partial (same idempotent-replay trick as
    * [[dedupIngestBatch]] — a replayed batch overwrites its own
    * directory, never double-counts). The table stays APPEND-ONLY
    * partials; [[sketchTable]] merges at read time. That split is the
    * 100 TB shape: the hot path writes group×batch fixed-size sketches
    * and never rewrites history, reads pay one register-max merge over
    * partials (compactable offline exactly like small parquet files),
    * and any date-range distinct query costs rows-of-sketch-table — the
    * streaming half of q_agg_sketch_table's story. */
  def sketchIngestBatch(
      batch: DataFrame, batchId: Long,
      tableDir: String, groupCol: String, keyCol: String): Unit =
    batch.groupBy(col(groupCol))
      .agg(expr(s"hll_sketch_agg($keyCol)").as("sk"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/batch=$batchId")

  /** Read-side merge of [[sketchIngestBatch]]'s partials: one row per
    * group with the union sketch and its estimate. Register-wise max is
    * merge-order independent, so estimates do not depend on how many
    * batches the data arrived in. */
  def sketchTable(
      spark: SparkSession, tableDir: String, groupCol: String): DataFrame =
    spark.read.parquet(tableDir)
      .groupBy(col(groupCol))
      .agg(expr("hll_union_agg(sk)").as("sk"))
      .withColumn("estimate", expr("hll_sketch_estimate(sk)"))

  /** One micro-batch of incremental QUANTILE-sketch maintenance — the
    * rank member of the sketch-table family ([[sketchIngestBatch]] =
    * cardinality, [[bloomIngestBatch]] = membership): each batch
    * aggregates its values into one serialized
    * [[graft.functions.KllSketchBin]] per group and writes a
    * DETERMINISTIC `batch=<id>` partial (idempotent replay — a
    * re-delivered batch overwrites its own directory, never
    * double-counts). The table stays append-only fixed-size partials;
    * [[kllTable]] folds them at read time, so "p50/p99 of the last N
    * days" costs rows-of-sketch-table, never a corpus re-scan — the
    * latency-dashboard shape at 100 TB. k must stay fixed across
    * batches (the read-side merge adopts the partials' k and
    * [[graft.functions.KllMerge]] keeps the compactor schedule
    * consistent).
    *
    * CANONICALIZATION: unlike HLL's register-max, a KLL sketch is
    * insertion-order-sensitive, so a replayed batch re-partitioned
    * differently would write a DIFFERENT (still valid) partial. The
    * ingest therefore repartitions by group, sorts by value, and pins
    * the aggregate to SortAggregate for the duration of the write —
    * ObjectHashAggregate's sort-based spill fallback re-sorts by
    * grouping key only (row order within a group undefined), which
    * would break byte-idempotence at large batch sizes, while
    * SortAggregate consumes rows in the partition's explicit
    * (grp, val) order (already satisfying its required child ordering,
    * so no extra sort is planned). Each group's sketch is then a pure
    * function of the batch's value MULTISET (wholly in one partition,
    * inserted ascending — AQE partition coalescing cannot reorder it
    * because the sort runs after the exchange read), making the
    * overwrite byte-idempotent under replay no matter how the
    * re-delivered batch arrives.
    *
    * The SortAggregate pin runs on a CLONED session (isolated
    * SQLConf) rather than set/restore on the caller's session —
    * mutating the shared conf would strip ObjectHashAggregate from
    * concurrent queries on the same session, and two concurrent
    * ingests could race the save/restore and leave the flag off. */
  def kllIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String,
      groupCol: String, valCol: String, k: Int): Unit = {
    val iso = org.apache.spark.sql.graft.SessionShims
      .cloneWithIsolatedConf(batch.sparkSession)
    iso.conf.set("spark.sql.execution.useObjectHashAggregateExec", "false")
    graft.functions.KllSketch.register(iso)
    org.apache.spark.sql.graft.SessionShims.ofRows(iso, batch)
      .repartition(col(groupCol))
      .sortWithinPartitions(col(groupCol), col(valCol))
      .groupBy(col(groupCol))
      .agg(expr(s"graft_kll_bin($valCol, $k)").as("sk"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/batch=$batchId")
  }

  /** Read-side fold of [[kllIngestBatch]] partials: one row per group
    * with the merged weighted sample and its total weight — estimation
    * runs relationally on the sample exactly as in q_agg_kll. */
  def kllTable(
      spark: SparkSession, tableDir: String, groupCol: String): DataFrame = {
    graft.functions.KllSketch.register(spark)
    spark.read.parquet(tableDir)
      .groupBy(col(groupCol))
      .agg(expr("graft_kll_merge(sk)").as("sample"))
      .withColumn("n", expr(
        "aggregate(sample, CAST(0 AS BIGINT), (a, p) -> a + p.weight)"))
  }

  /** One micro-batch of incremental BLOOM-FILTER maintenance — the
    * streaming half of q_decontam_bloom's prefilter: as new benchmark
    * shingles (or any blocklist keys) arrive, each batch contributes
    * one fixed-size bloom partial under the sketch-table pattern
    * (deterministic `batch=<id>` overwrite, append-only history).
    * Bit-set union is a commutative idempotent monoid — the EXACT
    * reason the filter is incrementally maintainable AND replay-proof:
    * re-ingesting a batch ORs in bits already set. [[bloomTable]]
    * folds the partials into the single serialized filter the scan-side
    * `graft_bloom_contains` probe broadcasts, bit-identical to a
    * one-shot `graft_bloom` over the union of all batches (same hash
    * positions, same OR — StreamingSpec pins byte equality and
    * no-false-negative probes). `numBits`/`numHashes` must stay fixed
    * across batches; the read side enforces it via the serialized
    * header. */
  def bloomIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String,
      keyCol: String, numBits: Int, numHashes: Int): Unit = {
    graft.functions.BloomSketch.register(batch.sparkSession)
    batch
      .agg(expr(s"graft_bloom($keyCol, $numBits, $numHashes)").as("bloom"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/batch=$batchId")
  }

  /** Read-side fold of [[bloomIngestBatch]] partials into ONE serialized
    * filter (8-byte size header + OR of the bit words — the same merge
    * the UDAF's own combiner runs). The collect is control-plane: B
    * one-row partials of numBits/8 bytes each; the result broadcasts
    * into the probe expression. */
  def bloomTable(spark: SparkSession, tableDir: String): Array[Byte] = {
    val parts = spark.read.parquet(tableDir)
      .collect().map(_.getAs[Array[Byte]]("bloom"))
    require(parts.nonEmpty, s"no bloom partials under $tableDir")
    val out = parts.head.clone()
    parts.tail.foreach { p =>
      require(p.length == out.length &&
        p.take(8).sameElements(out.take(8)),
        "bloom partials disagree on numBits/numHashes — the filter " +
          "parameters must stay fixed across batches")
      var i = 8
      while (i < out.length) { out(i) = (out(i) | p(i)).toByte; i += 1 }
    }
    out
  }

  /** One micro-batch of incremental export-manifest maintenance — the
    * streaming twin of q_export_manifest, on the sketch-table pattern
    * (append-only `batch=<id>` partials, idempotent per-batch
    * overwrite): each arriving document slice contributes its per-shard
    * counts, char mass, key range, and XOR checksum as a deterministic
    * partial. Every manifest field is a commutative monoid (sum / sum /
    * min / max / xor), which is exactly WHY the manifest is
    * incrementally maintainable with no read-modify-write of history —
    * the same algebra that makes the fields partition-order-proof in
    * batch makes them batch-order-proof here. */
  def manifestIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String): Unit =
    batch.select(col("n_chars"),
        graft.functions.TextAnalysis
          .h60(concat(lit("shuf1:"), col("doc_id").cast("string")))
          .as("key"))
      .groupBy((col("key") % 8).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        min(col("key")).as("key_lo"), max(col("key")).as("key_hi"),
        bit_xor(col("key")).as("checksum"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/batch=$batchId")

  /** Read-side merge of [[manifestIngestBatch]]'s partials: fold each
    * monoid across batches. Equal to the batch manifest over the union
    * of all ingested slices, independent of arrival order or batch
    * boundaries (StreamingSpec proves equality after three waves plus a
    * replayed batch). */
  def manifestTable(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(tableDir)
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("chars")).as("chars"),
        min(col("key_lo")).as("key_lo"), max(col("key_hi")).as("key_hi"),
        bit_xor(col("checksum")).as("checksum"))

  /** One micro-batch of SPAN-TABLE maintenance for exact-substring
    * dedup (q_dedup_substr's 100 TB incremental story): derive the
    * batch's distinct (doc, span-hash) pairs through the SAME
    * [[graft.operators.Dedup.spanRelation]] the batch query uses,
    * collapse to per-span distinct-doc counts, and write them as a
    * DETERMINISTIC `batch=<id>` partial — the sketch-table pattern
    * ([[sketchIngestBatch]]): a replayed batch overwrites its own
    * directory, never double-counts, and the hot path appends
    * fixed-width (sid, n_docs) rows without rewriting history. Sums of
    * per-batch DISTINCT-doc counts equal global distinct-doc counts
    * because a document arrives whole in exactly one batch (the
    * document-stream contract every ingest here shares). Read side:
    * [[dupSpanTable]] merges partials and keeps spans seen in ≥2
    * documents — exactly the batch pipeline's duplicated-span set, so
    * incoming documents can be span-rewritten against the CURRENT
    * corpus without ever re-deriving history's span table. */
  def spanIngestBatch(batch: DataFrame, batchId: Long,
      spanDir: String,
      window: Int = Dedup.substrWindow): Unit = {
    Dedup.spanRelation(batch, window)
      .select(col("doc_id"), col("sid")).distinct()
      .groupBy(col("sid")).agg(count(lit(1)).as("n_docs"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$spanDir/batch=$batchId")
  }

  /** Read side of [[spanIngestBatch]]: the duplicated-span set (spans
    * in ≥2 distinct documents across every ingested batch). */
  def dupSpanTable(spark: SparkSession, spanDir: String): DataFrame =
    spark.read.parquet(DirTable.visible(spark, spanDir, "compact")
        .map(_.path.toString): _*)
      .groupBy(col("sid")).agg(sum(col("n_docs")).as("nd"))
      .filter(col("nd") >= 2).select(col("sid"))

  /** COMPACTION for the incremental span table (r9 VERDICT task 8).
    * Retention semantics are deliberately unchanged: a singleton span
    * is NOT dropped — it can still become duplicated by a future
    * document, so discarding it would silently under-count retroactive
    * duplication (the exact trap the verdict flagged). What compaction
    * buys is BOUNDS: the raw table grows one row per (batch, distinct
    * span) forever; the compacted base is one row per distinct span —
    * corpus-span-cardinality, independent of batch count — and the
    * per-read fold shrinks to base + recent partials.
    *
    * Crash safety via the idempotent-directory pattern: fold the
    * current base plus batch partials ≤ `upToBatch` into a hidden
    * staging dir, publish it as `compact=<upToBatch>`
    * ([[DirTable.publish]]'s checked renames), and only then delete the
    * folded sources. A crash at ANY point leaves a readable table:
    * readers take the newest base plus newer batches only
    * ([[DirTable.visible]]), so un-deleted sources are invisible, and
    * re-running the compaction folds exactly the visible inputs again
    * (sums are associative — bit-identical result). Single-writer contract, as
    * for every non-transactional directory table here. */
  def spanCompact(
      spark: SparkSession, spanDir: String, upToBatch: Long): Unit = {
    val (fs, _) = DirTable.fs(spark, spanDir)
    val live = DirTable.visible(spark, spanDir, "compact")
    // a base newer than the requested horizon would be orphaned by the
    // source deletes below while still being what readers prefer —
    // compaction horizons must only move forward
    live.filter(_.kind == "compact").foreach(b => require(upToBatch >= b.id,
      s"spanCompact: horizon $upToBatch behind existing base ${b.id}"))
    val inputs = live.filter(p => p.kind != "batch" || p.id <= upToBatch)
    val target = new Path(spanDir, s"compact=$upToBatch")
    val staged = new Path(spanDir, ".compact_staging")
    if (inputs.nonEmpty) {
      // Re-folding a lone base is the identity: a run at a horizon equal
      // to the newest base (including the re-run after a crash that
      // completed the stage->base rename but not the source deletes)
      // would fold compact=<horizon> into itself, so it skips straight
      // to the supersede sweep, which completes any pending source
      // deletes a crashed run left behind (ADVICE r10).
      if (inputs.map(_.name) != Seq(target.getName)) {
        spark.read.parquet(inputs.map(_.path.toString): _*)
          .groupBy(col("sid")).agg(sum(col("n_docs")).as("n_docs"))
          .write.mode(SaveMode.Overwrite).parquet(staged.toString)
        // under the single-writer contract an existing compact=<horizon>
        // is always the newest base and takes the skip above; a violated
        // contract degrades to the publish's recoverable aside move
        DirTable.publish(fs, staged, target,
          new Path(spanDir, ".compact_aside"), "spanCompact")
      }
      // retire EVERYTHING the new base supersedes LAST, including
      // already-invisible crash leftovers (readers ignore them, so this
      // only reclaims space; a false delete is loud)
      DirTable.sweep(spark, spanDir, "spanCompact")(
        DirTable.superseded("compact", upToBatch))
    }
    // root-level listing junk (_SUCCESS markers from staged writes)
    DirTable.delete(fs, staged, "spanCompact")
  }

  // --------------------------------------------------------------------
  // Streaming ZONE-MAP maintenance — the lakehouse file-statistics
  // index under q_layout_zorder, kept incrementally. Every ingested
  // micro-batch lands as its own data directory plus a tiny per-file
  // stats row (min/max of both filter dimensions + row count): exactly
  // the per-file stats a Delta/Iceberg writer records on commit, so
  // scans can skip files BEFORE opening them. zoneOptimize is the
  // OPTIMIZE ZORDER moment: re-cluster everything visible into Z-tiles
  // (axis-aligned rectangles) and swap the new generation in with the
  // span-table directory discipline — newest `opt=K` + `batch>K` are
  // the readable truth, crash leftovers stay invisible, and a
  // same-horizon re-run short-circuits instead of folding the only
  // live generation into itself (the r10 spanCompact lesson, applied
  // from day one here).
  //
  // Layout under `dir`:  data/batch=<id>, data/opt=<K>/tile=<t>
  //                      zones/batch=<id>, zones/opt=<K>
  // zones/ is the SOURCE OF TRUTH for visibility (optimize renames
  // data first, zones second, deletes last — so a zones/opt=K entry
  // always points at complete data). Both follow [[DirTable.visible]]
  // with `opt` as the base.

  /** Newest visible batch id (the change-feed high watermark): the
    * newest generation's horizon or any raw batch beyond it. */
  private[graft] def zoneLatestBatch(spark: SparkSession, dir: String): Long =
    DirTable.latest(spark, s"$dir/zones", "opt", "batch")

  /** One micro-batch of zone-map-indexed ingest. `batch` must carry
    * (rid, a, b); the data file and its stats row commit under the
    * same `batch=<id>` name in data/ and zones/. */
  def zoneIngestBatch(
      batch: DataFrame, batchId: Long, dir: String): Unit = {
    val rows = batch.select(col("rid"), col("a"), col("b"))
    rows.write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/data/batch=$batchId")
    // stats from the JUST-WRITTEN file, not the input frame: the row
    // the index serves must describe the bytes a scan would read
    zoneStats(batch.sparkSession.read.parquet(s"$dir/data/batch=$batchId"),
      lit(s"batch=$batchId"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/zones/batch=$batchId")
  }

  /** The zone stats rows of `data`, one per `by` group (one in all
    * without): (file, la, ha, lb, hb, n, skr, ska, skb). Beside
    * min/max/count, each row carries per-column NDV register blobs
    * (graft_hll_regs, 4 KiB each) — register max is order-free and
    * idempotent, so the scan can union them over ANY pruned file subset
    * and report distinct counts to the planner
    * (SupportsReportStatistics.columnStats → CBO join estimation). */
  private def zoneStats(data: DataFrame, file: Column, by: Column*)
      : DataFrame = {
    graft.functions.HllSketch.register(data.sparkSession)
    data.groupBy(by: _*)
      .agg(min(col("a")).as("la"), max(col("a")).as("ha"),
        min(col("b")).as("lb"), max(col("b")).as("hb"),
        count(lit(1)).as("n"),
        expr("graft_hll_regs(rid)").as("skr"),
        expr("graft_hll_regs(a)").as("ska"),
        expr("graft_hll_regs(b)").as("skb"))
      .select(file.as("file"), col("la"), col("ha"), col("lb"), col("hb"),
        col("n"), col("skr"), col("ska"), col("skb"))
  }

  /** The visible zone-map index (one row per readable file). */
  def zoneTable(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(DirTable.visible(spark, s"$dir/zones", "opt")
      .map(_.path.toString): _*)
  }

  /** Box scan THROUGH the index: prune files whose [min,max] rectangle
    * misses the box, read only survivors, apply the exact predicate.
    * Returns (matching rows, the file names actually read) — the skip
    * set is the deliverable a 100 TB scan planner acts on. */
  def zoneScan(spark: SparkSession, dir: String,
      alo: Long, ahi: Long, blo: Long, bhi: Long)
      : (DataFrame, Seq[String]) = {
    val hit = zoneTable(spark, dir)
      .filter(col("la") <= ahi && col("ha") >= alo &&
        col("lb") <= bhi && col("hb") >= blo)
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted
    val df =
      if (hit.isEmpty)
        // r11 ADVICE fix: the no-hit frame must carry the INGESTED
        // schema, not fabricated BIGINT literals — a table ingested
        // with INT columns would otherwise change schema depending on
        // whether the box pruned everything, breaking downstream
        // unions. Read one visible data part at limit(0): schema only,
        // zero row work (a zones row always points at complete data,
        // so a visible part exists whenever the zone table is
        // non-empty; a table with no parts at all keeps the empty
        // zoneTable-shaped frame below, where no row can ever exist).
        DirTable.visible(spark, s"$dir/data", "opt").headOption match {
          case Some(part) =>
            spark.read.parquet(part.path.toString)
              .select(col("rid"), col("a"), col("b"))
              .limit(0).filter(lit(false))
          case None =>
            zoneTable(spark, dir).limit(0)
              .select(lit(0L).as("rid"), lit(0L).as("a"), lit(0L).as("b"))
              .filter(lit(false))
        }
      else spark.read.parquet(hit.map(n => s"$dir/data/$n"): _*)
        .filter(col("a").between(alo, ahi) && col("b").between(blo, bhi))
    (df, hit)
  }

  /** OPTIMIZE: re-cluster every visible row into 8×8 Z-tiles (bounds
    * from the data being optimized — the one global pass OPTIMIZE
    * already pays) and swap the generation in crash-safely:
    * stage data → stage zones → rename data/opt=K → rename
    * zones/opt=K → delete superseded sources. A crash at any point
    * leaves a readable table; a re-run at an unchanged horizon is a
    * checked NO-OP (never fold the only live generation into itself). */
  def zoneOptimize(spark: SparkSession, dir: String): Unit = {
    val (fs, _) = DirTable.fs(spark, dir)
    // OPTIMIZE rewrites files, which would silently RESURRECT rows the
    // deletion vectors removed (DVs are keyed by the old file names).
    // A real compaction materializes deletions first — so must callers.
    require(dvVisibleGen(spark, dir) < 0 ||
      dvDeletedCount(spark, dir) == 0,
      s"zoneOptimize($dir): live deletion vectors exist; run " +
        "dvMaterialize first (optimize would resurrect deleted rows)")
    val visible = DirTable.visible(spark, s"$dir/zones", "opt")
    if (visible.isEmpty) return
    val batchIds = visible.filter(_.kind == "batch").map(_.id)
    // nothing newer than the current generation: re-optimizing would
    // fold opt=K into itself — skip the rewrite, then finish any
    // supersede deletes a crashed prior run left behind
    val horizon = batchIds.maxOption.getOrElse(visible.head.id)
    if (batchIds.nonEmpty) {
      // recursive lookup, not partition discovery: a visible part may be
      // a flat batch dir or a tile-partitioned opt generation — mixing
      // the two trips CONFLICTING_DIRECTORY_STRUCTURES, and the tile
      // column is re-derived from fresh bounds anyway
      val rows = spark.read.option("recursiveFileLookup", "true")
        .parquet(DirTable.visible(spark, s"$dir/data", "opt")
          .map(_.path.toString): _*)
      val bounds = rows.agg(
        min(col("a")).as("amin"), max(col("a")).as("amax"),
        min(col("b")).as("bmin"), max(col("b")).as("bmax"))
      val tiled = rows.crossJoin(broadcast(bounds))
        .withColumn("ba", expr("((a - amin) * 256) div (amax - amin + 1)"))
        .withColumn("bb", expr("((b - bmin) * 256) div (bmax - bmin + 1)"))
        .withColumn("tile", shiftright(
          graft.operators.Analytics.zInterleave8(col("ba"), col("bb")), 10))
        .select(col("rid"), col("a"), col("b"), col("tile"))
      val dataStage = new Path(dir, ".opt_data_staging")
      val zoneStage = new Path(dir, ".opt_zone_staging")
      Seq(dataStage, zoneStage).foreach(
        DirTable.delete(fs, _, "zoneOptimize(stale staging)"))
      // Cluster by tile BEFORE the dynamic-partition write: without it,
      // every input task writes into every tile dir it touches — 6 scan
      // tasks × 64 tiles ≈ 384 near-empty files whose per-file writer
      // open/commit dominated the rewrite (1.57 s stage, r15 profile) and
      // whose count the staged stats scan then pays again. One conf-width
      // exchange lands one file per (partition, tile) ≈ one per tile
      // (guide §6 file sizing). Parallelism is capped by the 8×8 tiling's
      // 64 tiles — a table constant, fine for a maintenance rewrite.
      tiled.repartition(graft.Tables.sp(spark), col("tile"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("tile").parquet(dataStage.toString)
      // stats from the staged files (tile= partition dirs), one row each
      zoneStats(spark.read.parquet(dataStage.toString),
        concat(lit(s"opt=$horizon/tile="), col("tile")), col("tile"))
        .write.mode(SaveMode.Overwrite).parquet(zoneStage.toString)
      // data first, zones second — zones/opt=K implies complete data
      Seq(dataStage -> "data", zoneStage -> "zones").foreach { case (st, sub) =>
        DirTable.publish(fs, st, new Path(s"$dir/$sub", s"opt=$horizon"),
          new Path(s"$dir/$sub", ".opt_aside"), s"zoneOptimize($sub)")
      }
    }
    Seq("data", "zones").foreach(sub => DirTable.sweep(spark, s"$dir/$sub",
      "zoneOptimize")(DirTable.superseded("opt", horizon)))
  }

  // --------------------------------------------------------------------
  // DELETION VECTORS — the lakehouse read-side delete protocol beside
  // q_cdc_apply's write-side MERGE: deleting rows from an immutable
  // parquet layout must not rewrite data files, so deletes publish a
  // per-file POSITIONAL bitmap (bit i = "skip the i-th row of this
  // part-file") and every subsequent scan applies its file's bitmap
  // while reading — never an anti-join against the fact table, which
  // would pay a fact-sized shuffle on every query forever. The DSv2
  // zone-map source ([[graft.sources.ZoneMapSource]]) is the consumer:
  // each InputPartition carries its part-file's bitmap and the
  // PartitionReader skips marked ordinals as it decodes, so the plan
  // stays BatchScan + residual Filter with ZERO join operators
  // (PlanSpec pins this). Positions are canonical because both the
  // delete pass and the scan read part-files with the same sequential
  // parquet reader.
  //
  // Layout under `dir`: dv/gen=<k>/*.parquet, rows
  // (file: dir-relative part-file path, bucket: ordinal >> 6,
  // word: 64-bit mask). Publication is crash-safe by generation swap:
  // stage to dv/.dv_staging, CHECKED-rename to dv/gen=<k+1>, then
  // retire older generations with checked deletes. Readers take the
  // highest complete gen=K, so every crash window leaves either the
  // old or the new generation fully visible — a staging leftover is
  // invisible and the next publication clears it (the zoneOptimize
  // invisible-leftover discipline; StreamingSpec drives the crash
  // cases). Each new generation FOLDS prior deletions (bitwise OR),
  // so one generation is always the whole truth.
  //
  // OPTIMIZE interaction: zoneOptimize rewrites files, which would
  // resurrect DV-deleted rows; a real lakehouse compaction MATERIALIZES
  // deletions and clears the vectors. This library keeps the honest
  // subset: [[zoneOptimize]] refuses to run while live deletions
  // exist (loud, documented), and [[dvMaterialize]] applies-and-clears
  // them explicitly first.
  // --------------------------------------------------------------------

  /** Highest complete dv generation id under `dir/dv`, or -1. */
  private[graft] def dvVisibleGen(spark: SparkSession, dir: String): Long =
    DirTable.latest(spark, s"$dir/dv", "gen")

  /** The visible deletion-vector rows (file, bucket, word); empty
    * frame with the right schema when nothing was ever deleted. */
  def dvTable(spark: SparkSession, dir: String): DataFrame = {
    val gen = dvVisibleGen(spark, dir)
    if (gen < 0)
      spark.range(0).select(
        lit("").as("file"), lit(0L).as("bucket"), lit(0L).as("word"))
        .filter(lit(false))
    else spark.read.parquet(s"$dir/dv/gen=$gen")
  }

  /** Delete from a zone-map table every row matching `pred` (on the
    * long-typed (rid, a, b) ingest contract): one task per visible
    * part-file reads it with the SAME sequential reader the scan
    * uses, records matching ordinals as a bitmap, and the driver
    * publishes old-OR-new as the next dv generation. Scale shape: the
    * per-file pass is embarrassingly parallel and touches each file
    * once; the published table is one row per (file, 64-row bucket
    * with a deletion) — proportional to deletions, not data. */
  def dvDelete(spark: SparkSession, dir: String,
      pred: (Long, Long, Long) => Boolean): Unit = {
    import spark.implicits._
    val files = DirTable.visible(spark, s"$dir/data", "opt")
      .flatMap(p => graft.sources.ZoneMapSource.partFiles(dir, p.name)
        .map(_._1))
      .map(graft.sources.ZoneMapSource.relPath)
    val dirB = dir
    val fresh = spark.createDataset(files).repartition(
      math.max(1, files.size))
      .flatMap { rel =>
        graft.sources.ZoneMapSource.readOrdinals(s"$dirB/data/$rel")
          .collect { case (ord, rid, a, b) if pred(rid, a, b) =>
            (rel, ord >> 6, 1L << (ord & 63)) }
      }
      .toDF("file", "bucket", "word")
    dvPublish(spark, dir, dvFold(spark, dir, fresh))
  }

  /** Fold fresh (file, bucket, word) deletion rows into the visible
    * generation's truth (bitwise OR per bucket) — the input to the
    * next generation swap. Shared by [[dvDelete]] and the row-level
    * delta commit ([[graft.sources.ZoneMapSource]]). */
  private[graft] def dvFold(
      spark: SparkSession, dir: String, fresh: DataFrame): DataFrame =
    dvTable(spark, dir).unionAll(fresh)
      .groupBy(col("file"), col("bucket"))
      .agg(expr("CAST(bit_or(word) AS BIGINT)").as("word"))

  /** Crash-safe generation swap for the dv table (see header). Beside
    * the cumulative generation, the NORMALIZED delta — bits the new
    * generation sets that the visible one lacks — persists to
    * `dv_log/gen=<g>`: the append-only retraction journal
    * [[zoneChangesFeed]] resolves into op=-1 rows. Normalization makes
    * re-deleting an already-deleted row journal-silent, so a replayed
    * feed range never double-retracts. The log lands BEFORE the
    * generation swap: a crash in between leaves an orphan log for a
    * generation that never published — invisible (readers stop at
    * dvVisibleGen) and overwritten by the retry. */
  private[graft] def dvPublish(
      spark: SparkSession, dir: String, rows: DataFrame): Unit = {
    val (fs, _) = DirTable.fs(spark, dir)
    val stage = new Path(dir, "dv/.dv_staging")
    DirTable.delete(fs, stage, "dvPublish(stale staging)")
    rows.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val next = dvVisibleGen(spark, dir) + 1
    // the generation delta, computed against the STILL-VISIBLE old
    // generation from the staged bytes (never the unevaluated frame)
    val cur = dvTable(spark, dir)
      .select(col("file"), col("bucket"), col("word").as("oldw"))
    val logStage = new Path(dir, "dv_log/.staging")
    DirTable.delete(fs, logStage, "dvPublish(stale staging)")
    spark.read.parquet(stage.toString)
      .join(cur, Seq("file", "bucket"), "left")
      .select(col("file"), col("bucket"),
        expr("word & ~coalesce(oldw, CAST(0 AS BIGINT))").as("word"))
      .filter(col("word") =!= 0L)
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(logStage.toString)
    val logTarget = new Path(dir, s"dv_log/gen=$next")
    DirTable.delete(fs, logTarget, "dvPublish(orphan log)")
    DirTable.rename(fs, logStage, logTarget, "dvPublish(log)")
    DirTable.rename(fs, stage, new Path(dir, s"dv/gen=$next"),
      "dvPublish(stage->gen)")
    // retire superseded generations; readers already ignore them
    DirTable.sweep(spark, s"$dir/dv", "dvPublish")(
      p => p.kind == "gen" && p.id < next)
  }

  /** Count of deleted positions in the visible generation. */
  def dvDeletedCount(spark: SparkSession, dir: String): Long =
    dvTable(spark, dir)
      .agg(coalesce(sum(expr("bit_count(word)")), lit(0L)))
      .collect()(0).getLong(0)

  /** Materialize deletions: rewrite the surviving rows (read through
    * the DV-aware v2 scan) as a fresh `opt=<g>` GENERATION — the same
    * atomic visibility flip zoneOptimize uses: stage data, stage the
    * zone stats row, rename data in, rename zones in (the moment
    * zones/opt=g lands, the newest-generation rule supersedes every
    * older part at once), then retire old parts and the dv table. A
    * crash before the zones rename leaves the OLD state fully
    * readable; after it, the NEW state — and the not-yet-cleared dv
    * rows are keyed by the retired files' names, so they match
    * nothing; a dvMaterialize re-run completes the cleanup (reading
    * through no-op vectors is correct, just unpruned). This is the
    * compaction-side half of the DV protocol and the required prelude
    * to [[zoneOptimize]] on a table with live deletions. */
  def dvMaterialize(spark: SparkSession, dir: String): Unit = {
    if (dvVisibleGen(spark, dir) < 0) return
    val (fs, _) = DirTable.fs(spark, dir)
    val gen = DirTable.visible(spark, s"$dir/data", "opt").map(_.id).max + 1
    val kept = spark.read.format("graft.sources.ZoneMapSource").load(dir)
      .select(col("rid"), col("a"), col("b"))
    val dataStage = new Path(dir, ".dv_mat_data")
    val zoneStage = new Path(dir, ".dv_mat_zones")
    Seq(dataStage, zoneStage).foreach(
      DirTable.delete(fs, _, "dvMaterialize(stale staging)"))
    kept.write.mode(SaveMode.Overwrite).parquet(dataStage.toString)
    zoneStats(spark.read.parquet(dataStage.toString), lit(s"opt=$gen"))
      .write.mode(SaveMode.Overwrite).parquet(zoneStage.toString)
    DirTable.rename(fs, dataStage, new Path(s"$dir/data", s"opt=$gen"),
      "dvMaterialize(data)")
    DirTable.rename(fs, zoneStage, new Path(s"$dir/zones", s"opt=$gen"),
      "dvMaterialize(zones)") // visibility flips here, atomically
    Seq("data", "zones").foreach(sub => DirTable.sweep(spark, s"$dir/$sub",
      "dvMaterialize")(DirTable.superseded("opt", gen)))
    DirTable.delete(fs, new Path(s"$dir/dv"), "dvMaterialize(dv)")
    // the retraction journal resets with the generations it indexes:
    // a feed consumer straddling a materialize must recompute (the
    // same contract as a compacted-away batch delta)
    DirTable.delete(fs, new Path(s"$dir/dv_log"), "dvMaterialize(dv_log)")
  }

  /** CHANGE FEED WITH RETRACTIONS — the composition of the batch
    * change feed (`changesfrom`) with the deletion-vector journal: a
    * consumer whose materialization reflects state (fromBatch,
    * fromDvGen) catches up to the current (latestBatch, visibleGen)
    * with ONE frame of (rid, a, b, op) rows:
    *
    *   op = +1 — rows of batches in (fromBatch, latest], read through
    *       the dv-applying batch scan, so a row appended AND deleted
    *       inside the catch-up window nets to nothing (emitted never);
    *   op = −1 — deletions journaled in dv_log generations in
    *       (fromDvGen, visible] that hit batches ≤ fromBatch — rows
    *       the consumer already holds. Deletions of newer batches are
    *       already absorbed by the +1 term's dv filter.
    *
    * Applying the feed (multiset add/remove, or any op-weighted
    * aggregate) advances the materialization to EXACTLY the current
    * snapshot — StreamingSpec proves both the multiset identity and
    * the composed JOIN view (the Blakeley delta rule with op carried
    * through) hash-equal to recompute. Cost: the +1 term is the
    * O(new files) delta scan; the −1 term reads journal rows
    * proportional to NEW deletions and resolves them with one task
    * per affected file. A dvMaterialize/OPTIMIZE resets the journal
    * — consumers straddling it must recompute (loud, same contract
    * as a compacted delta). fromDvGen = -1 means "consumer has no
    * deletions applied yet". */
  def zoneChangesFeed(
      spark: SparkSession, dir: String,
      fromBatch: Long, fromDvGen: Long): DataFrame = {
    import spark.implicits._
    val toGen = dvVisibleGen(spark, dir)
    require(fromDvGen <= toGen,
      s"zone table $dir: dv generations were reset (materialized) " +
        s"after the consumer's watermark $fromDvGen — recompute")
    val inserts = spark.read.format("graft.sources.ZoneMapSource")
      .option("changesfrom", fromBatch).load(dir)
      .select(col("rid"), col("a"), col("b"))
      .withColumn("op", lit(1))
    val gens = (fromDvGen + 1) to toGen
    if (gens.isEmpty) return inserts
    val (fs, _) = DirTable.fs(spark, dir)
    // every published generation journals (possibly empty) — a missing
    // dir inside the window means the journal was vacuumed past the
    // consumer's watermark (or predates the journal): loud recompute,
    // never silently missing retractions
    val logParts = gens.map { g =>
      val p = s"$dir/dv_log/gen=$g"
      require(fs.exists(new Path(p)),
        s"zone table $dir: retraction journal gen=$g is gone " +
          s"(vacuumed past the consumer's watermark $fromDvGen) — " +
          "recompute the materialization")
      p
    }
    // journal bits for the window, OR-folded per (file, bucket), kept
    // only where they hit batches the consumer already has
    val batchOfUdf = udf((rel: String) => DirTable.idOf(rel.takeWhile(_ != '/')))
    val hits = spark.read.parquet(logParts: _*)
      .filter(batchOfUdf(col("file")) <= fromBatch)
      .groupBy(col("file"), col("bucket"))
      .agg(expr("CAST(bit_or(word) AS BIGINT)").as("word"))
      .collect() // control-plane: rows ∝ new deletions, never data
      .groupBy(_.getString(0))
      .map { case (f, rs) =>
        f -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      }
    val dirB = dir
    val hitList = hits.toSeq.map { case (f, bw) =>
      (f, bw.map(_._1).toArray, bw.map(_._2).toArray)
    }
    val retractions = spark.createDataset(hitList)
      .repartition(math.max(1, hitList.size))
      .flatMap { case (rel, bks, words) =>
        val idx = bks.zip(words).toMap
        graft.sources.ZoneMapSource.readOrdinals(s"$dirB/data/$rel")
          .collect { case (ord, rid, a, b)
            if (idx.getOrElse(ord >> 6, 0L) & (1L << (ord & 63))) != 0L =>
            (rid, a, b) }
      }
      .toDF("rid", "a", "b")
      .withColumn("op", lit(-1))
    inserts.unionByName(retractions)
  }

  /** Retention for the retraction journal: keep the newest `retain`
    * generations' logs (those a live feed consumer could still need),
    * delete everything older plus orphan logs for generations that
    * never published (a dvPublish crash window) and stale staging.
    * Returns (removed, kept). A consumer whose watermark predates the
    * horizon gets [[zoneChangesFeed]]'s loud recompute error — never
    * silently missing retractions. This is the journal's VACUUM: the
    * log grows ∝ deletions × generations without it. */
  def dvLogVacuum(
      spark: SparkSession, dir: String, retain: Int): (Long, Long) = {
    require(retain >= 0, s"retain must be >= 0, got $retain")
    val visible = dvVisibleGen(spark, dir)
    val horizon = visible - retain // keep gens > horizon, <= visible
    val removed = DirTable.sweep(spark, s"$dir/dv_log", "dvLogVacuum")(
      p => p.kind == "gen" && (p.id <= horizon || p.id > visible))
    val kept = DirTable.list(spark, s"$dir/dv_log").count(_.kind == "gen")
    // superseded CUMULATIVE dv generations age out under the same
    // horizon: readers only ever consult the newest generation (every
    // read path goes through dvVisibleGen → max), so generations below
    // it are dead weight the moment their journal window expires —
    // but the VISIBLE generation survives any retain, including 0
    // (deleting it would resurrect every tombstoned row). Snapshot
    // reads are untouched by design: deletion vectors are retroactive
    // through the visible generation at ANY asof horizon, so a
    // post-vacuum time travel read returns byte-identical rows
    // (spec-pinned), and horizons that predate OPTIMIZE retention
    // keep their own loud "compacted away" error.
    DirTable.sweep(spark, s"$dir/dv", "dvLogVacuum")(
      p => p.kind == "gen" && p.id <= horizon && p.id < visible)
    // stale staging of a crashed dvPublish
    val (fs, _) = DirTable.fs(spark, dir)
    Seq("dv_log/.staging", "dv/.dv_staging").foreach(st =>
      DirTable.delete(fs, new Path(dir, st), "dvLogVacuum(stale staging)"))
    (removed.toLong, kept.toLong)
  }

  // --------------------------------------------------------------------
  // INCREMENTAL VIEW MAINTENANCE for a two-sided equi-join — the
  // classic delta rule (Blakeley et al., SIGMOD'86) made executable:
  // for V = A ⋈ B with per-batch insert deltas on BOTH sides,
  //     ΔV_k = ΔA_k ⋈ B_{<k}  ∪  A_{<k} ⋈ ΔB_k  ∪  ΔA_k ⋈ ΔB_k,
  // so the view advances by joining each batch against the OTHER
  // side's accumulated state — never re-joining history with history.
  // At 100 TB this is the whole point: a nightly full re-join pays
  // |A|⋈|B| forever, the delta plan pays |Δ|⋈|state| per batch. The
  // state sides are the same keyed directory tables every maintainer
  // here uses (batch=<id> partials, deterministic per-batch overwrite
  // ⇒ replay-idempotent: recomputing batch k reads only ids < k, so a
  // redelivered batch rewrites byte-identical partials). Insert-only
  // deltas by contract — retractions belong to the CDC/tombstone
  // machinery (cdcApplyBatch); multiset join semantics hold exactly
  // (a key with m rows in A and n in B yields m·n view rows, and each
  // delta term multiplies the right multiplicities).
  //
  // Contract: dA carries (k, av), dB carries (k, bv); the view is
  // (k, av, bv). Layout under `dir`: a/batch=<id>, b/batch=<id>,
  // v/batch=<id>.

  /** One micro-batch of join-view maintenance. */
  def ivmIngestBatch(spark: SparkSession, dA: DataFrame, dB: DataFrame,
      batchId: Long, dir: String): Unit = {
    val cols = Seq(col("k"), col("av"), col("bv"))
    val da = dA.select(col("k"), col("av"))
    val db = dB.select(col("k"), col("bv"))
    def stored(side: DataFrame, sub: String) =
      DirTable.partialsBefore(spark, s"$dir/$sub", batchId, side.schema)
    val terms = Seq(da.join(stored(db, "b"), "k"),
      db.join(stored(da, "a"), "k"), da.join(db, "k")).map(_.select(cols: _*))
    // deterministic per-batch overwrites: the delta view is a pure
    // function of (ΔA_k, ΔB_k, state < k), so replay rewrites the same
    // bytes; reading only ids < k makes write order irrelevant
    terms.reduce(_ unionAll _).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/v/batch=$batchId")
    da.write.mode(SaveMode.Overwrite).parquet(s"$dir/a/batch=$batchId")
    db.write.mode(SaveMode.Overwrite).parquet(s"$dir/b/batch=$batchId")
  }

  /** The maintained view: union of all delta partials (the batch=
    * directory level reads back as a hive partition column — project
    * it away, it is bookkeeping, not view schema). */
  def ivmView(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/v").select(col("k"), col("av"), col("bv"))

  /** One micro-batch of DSIR MODEL maintenance (q_text_dsir's 100 TB
    * incremental story): fold the batch's hashed-bigram bucket counts
    * (target + raw) into a DETERMINISTIC `batch=<id>` partial — the
    * sketch-table pattern. Counts are sum monoids, so batch
    * boundaries, arrival order, and replay are invisible to the fold;
    * [[dsirModelTable]] derives the λ model at read time through the
    * SAME [[graft.functions.TextAnalysis.dsirLambda]] spelling the
    * one-shot query uses, so incoming documents can be
    * importance-scored against the CURRENT corpus without re-deriving
    * history's features (StreamingSpec pins bit-equality with the
    * one-shot model, replay included). */
  def dsirIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String): Unit = {
    graft.functions.TextAnalysis.dsirBuckets(batch)
      .groupBy(col("bucket"))
      .agg(count(when(col("lang") === "en", 1)).as("ct"),
        count(lit(1)).as("cr"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/batch=$batchId")
  }

  /** Read side of [[dsirIngestBatch]]: fold the partials, derive λ. */
  def dsirModelTable(spark: SparkSession, tableDir: String): DataFrame =
    graft.functions.TextAnalysis.dsirLambda(
      spark.read.parquet(tableDir)
        .groupBy(col("bucket"))
        .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr")))

  /** One micro-batch of incremental document-frequency maintenance —
    * the streaming half of the tf-idf vocabulary: per-token document
    * frequency plus the batch's doc count as append-only `batch=<id>`
    * partials (idempotent overwrite, the sketch/manifest pattern).
    * Both are count monoids, so the table folds batch-order-free; idf
    * is deliberately NOT stored — [[dfTable]] derives it at read time
    * from the folded (df, N), the drift-monitor discipline (store
    * monoids, derive the statistic). The corpus doc count rides under
    * the reserved NULL token — real tokens are never NULL because
    * split() yields strings — so one table carries both monoids. */
  def dfIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String): Unit = {
    val toks = batch
      .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = batch.agg(count(lit(1)).as("df"))
      .select(lit(null).cast("string").as("tok"), col("df"))
    toks.unionByName(nDocs)
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/batch=$batchId")
  }

  /** Read-side fold of [[dfIngestBatch]]'s partials: per-token df, the
    * corpus doc count, and the derived idf in integer µnats (the
    * repo-wide ln() parity convention). Equal to the single-batch
    * derivation over the union corpus, independent of arrival order or
    * batch boundaries (StreamingSpec proves it, incl. replay). */
  def dfTable(spark: SparkSession, tableDir: String): DataFrame = {
    val folded = spark.read.parquet(tableDir)
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
    val n = folded.filter(col("tok").isNull)
      .select(col("df").as("n_docs"))
    folded.filter(col("tok").isNotNull)
      .crossJoin(broadcast(n))
      .withColumn("idf_micro",
        floor(log(col("n_docs") * lit(1e0) / col("df")) * lit(1e6) + lit(0.5))
          .cast("long"))
  }

  /** One micro-batch of incremental weighted-sample maintenance — the
    * streaming half of q_sample_weighted (sequential Poisson sampling):
    * each batch computes its documents' deterministic priorities
    * (hash-uniform / weight, the batch query's exact formula) and
    * stores its own per-source k-smallest as an append-only
    * `batch=<id>` partial (idempotent overwrite, the sketch/manifest
    * pattern). k-smallest-by-priority is a SEMILATTICE — top-k of a
    * union equals top-k of the per-part top-ks — so the table folds
    * batch-order-free and each partial is at most sources×k rows, not
    * the batch. */
  def sampleIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String, k: Int = 5): Unit = {
    graft.functions.TopK.register(batch.sparkSession)
    val u = (graft.functions.TextAnalysis.h32(
      concat(lit("wsamp:"), col("doc_id").cast("string"))) + 1) /
      lit(4294967296e0)
    batch.select(col("source"), col("doc_id"),
        (u / col("n_chars")).as("pri"))
      .groupBy(col("source"))
      .agg(expr(s"graft_topk(-pri, doc_id, $k)").as("top"))
      .select(col("source"), explode(col("top")).as("e"))
      .select(col("source"), col("e.id").as("doc_id"),
        (-col("e.score")).as("pri"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/batch=$batchId")
  }

  /** Read-side fold of [[sampleIngestBatch]]'s partials: the per-source
    * k smallest priorities across every batch — equal to the one-shot
    * q_sample_weighted over the union corpus, independent of arrival
    * order or batch boundaries (StreamingSpec proves it, incl. replay).
    * Emits the batch query's exact schema (rnk, Num-rounded pri). */
  def sampleTable(
      spark: SparkSession, tableDir: String, k: Int = 5): DataFrame = {
    graft.functions.TopK.register(spark)
    spark.read.parquet(tableDir)
      .groupBy(col("source"))
      .agg(expr(s"graft_topk(-pri, doc_id, $k)").as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), col("col.id").as("doc_id"),
        (col("pos") + 1).as("rnk"),
        graft.Num.r(-col("col.score"), 9).as("pri"))
  }

  /** One micro-batch of incremental drift-monitor maintenance — the
    * streaming half of q_drift_psi: each arriving slice contributes its
    * per-(source, length-bucket) counts as an append-only `batch=<id>`
    * partial (idempotent overwrite, the manifest/sketch pattern).
    * Counts are the monoid; PSI is deliberately NOT stored — it is
    * derived at read time against whichever reference the reader picks,
    * so one table answers "drift since batch 0" and "drift since
    * yesterday" alike. */
  def driftIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String): Unit =
    batch.select(col("source"),
        least(expr("n_chars div 100"), lit(4L)).as("bucket"))
      .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("c"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/batch=$batchId")

  /** Read-side PSI of everything-after-the-reference against the
    * reference batch, per source (same +1-smoothed formula as
    * q_drift_psi, over the union of observed buckets). Identical
    * distributions give EXACTLY psi = 0.0 — equal counts make p = q
    * bucket-wise, and (p−q)·ln(p/q) is an exact float zero — so the
    * no-drift case is a hard equality, not a tolerance
    * (StreamingSpec pins it, plus directional drift and replay). */
  def driftVsReference(
      spark: SparkSession, tableDir: String, refBatch: Long): DataFrame = {
    val cells = spark.read.parquet(tableDir)
      .groupBy(col("source"), col("bucket"))
      .agg(
        sum(when(col("batch") === refBatch, col("c")).otherwise(0L)).as("c0"),
        sum(when(col("batch") =!= refBatch, col("c")).otherwise(0L)).as("c1"))
    val tot = cells.groupBy(col("source"))
      .agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
        count(lit(1)).as("k"))
    val p = (col("c0") + 1) * lit(1e0) / (col("n0") + col("k"))
    val q = (col("c1") + 1) * lit(1e0) / (col("n1") + col("k"))
    cells.join(broadcast(tot), "source")
      .select(col("source"), col("n0"), col("n1"),
        ((p - q) * log(p / q)).as("term"))
      .groupBy(col("source"))
      .agg(min(col("n0")).as("n_ref"), min(col("n1")).as("n_cur"),
        sum(col("term")).as("psi"))
  }

  /** Per-source token-quota admission — the domain-balancing curation
    * primitive ("at most N tokens per source/domain in the training
    * mix"), on Spark 4's transformWithState API (the arbitrary-state
    * successor to mapGroupsWithState, RocksDB-backed). Soft cap: a
    * document is admitted while the source's consumed count is still
    * under quota and the whole document then counts — admission is
    * per-document atomic, never a partial document. State is one Long
    * per source; at 100 TB that is exactly the state a quota needs, and
    * the RocksDB store checkpoints it incrementally. */
  class SourceQuotaProcessor(quota: Long)
      extends StatefulProcessor[
        String, (String, Long, Long), (String, Long)] {
    @transient private var consumed:
        ValueState[Long] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      consumed = getHandle.getValueState[Long]("consumed", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(
        source: String,
        rows: Iterator[(String, Long, Long)], timerValues: TimerValues)
        : Iterator[(String, Long)] = {
      var c = if (consumed.exists()) consumed.get() else 0L
      // materialize before returning: the state update must not depend
      // on whether the caller drains the iterator
      val admitted = rows.flatMap { case (_, docId, nTokens) =>
        if (c < quota) { c += nTokens; Some((source, docId)) } else None
      }.toList
      consumed.update(c)
      admitted.iterator
    }
  }

  /** Streaming quota admission over (source, doc_id, n_tokens) rows:
    * emits (source, doc_id) for every admitted document. Requires the
    * RocksDB state store provider (transformWithState's backing store):
    * `spark.sql.streaming.stateStore.providerClass=
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`. */
  def quotaAdmit(
      docs: Dataset[(String, Long, Long)],
      quota: Long): Dataset[(String, Long)] = {
    implicit val outEnc: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    docs.groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new SourceQuotaProcessor(quota), TimeMode.None(),
        OutputMode.Append())
  }

  /** Inactivity-timeout sessionizer on transformWithState EVENT-TIME
    * TIMERS — the third TWS surface after value-state counters
    * ([[SourceQuotaProcessor]]) and the state machine
    * ([[FunnelProcessor]]): state that closes ITSELF when the watermark
    * passes the session's trailing edge, with no new event required.
    * Built-in session_window() can only aggregate; a processor with
    * timers can emit an arbitrary summary row at close (here:
    * (user, start, end, n_events) — the shape downstream attribution
    * actually joins against).
    *
    * Mechanics: events apply in event-time order; a gap > gapMs inside a
    * batch closes the session INLINE (emitted immediately), and the
    * trailing open session re-arms ONE timer at last+gapMs (stale timers
    * deleted — at most one live timer per user). When the watermark
    * passes the expiry, [[handleExpiredTimer]] emits the summary and
    * clears state. State: 3 Longs per ACTIVE user only — closed sessions
    * leave nothing behind, which is what lets this run forever at
    * 100 TB (the watermark, not a scan, is the garbage collector). */
  class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long, Long)] {
    @transient private var sess:
        ValueState[(Long, Long, Long)] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long)], timerValues: TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val ts = rows.map(_._2).toArray.sorted
      var (start, last, n) =
        if (sess.exists()) sess.get() else (0L, 0L, 0L)
      val out = List.newBuilder[(Long, Long, Long, Long)]
      ts.foreach { t =>
        if (n == 0L) { start = t; last = t; n = 1L }
        else if (t - last > gapMs) {
          out += ((user, start, last, n)) // intra-batch gap: close inline
          start = t; last = t; n = 1L
        } else { last = math.max(last, t); n += 1L }
      }
      // exactly one live timer per user: re-arm at the new trailing edge
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last + gapMs)
      sess.update((start, last, n))
      out.result().iterator
    }

    override def handleExpiredTimer(
        user: Long, timerValues: TimerValues, expired: ExpiredTimerInfo)
        : Iterator[(Long, Long, Long, Long)] =
      if (sess.exists()) {
        val (start, last, n) = sess.get()
        // a stale timer (already superseded by a re-arm) must not close
        // a session that new events have since extended
        if (expired.getExpiryTimeInMs() >= last + gapMs) {
          sess.clear()
          Iterator.single((user, start, last, n))
        } else Iterator.empty
      } else Iterator.empty
  }

  /** Timer-based sessionization over a WATERMARKED stream: `events` must
    * carry (user_id: long, ts: timestamp) with `withWatermark` already
    * applied to ts (the watermark drives timer expiry). Emits
    * (user_id, session_start_ms, session_end_ms, n_events) — inline for
    * intra-batch gaps, via event-time timer for trailing sessions. */
  def sessionTimeout(events: DataFrame, gapMs: Long)
      : Dataset[(Long, Long, Long, Long)] = {
    implicit val inEnc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    implicit val outEnc: Encoder[(Long, Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong)
    events.select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      .as[(Long, Long)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new SessionTimeoutProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Bounded purchase←click attribution on transformWithState LIST
    * state — the explicitly-bounded alternative to the watermarked
    * stream-stream join ([[purchaseClickJoin]]): instead of letting the
    * engine hold EVERY in-window click, the processor keeps at most
    * `maxClicks` recent clicks per user (newest win), so worst-case
    * state is maxClicks·16 B per user BY CONSTRUCTION — the cap a
    * production attribution pipeline actually enforces against
    * click-storm users, and the trade it accepts (a storm can evict an
    * older in-window click; the join twin has no cap and no eviction).
    * Rows apply in event-time order with clicks before purchases at the
    * same timestamp, matching the join's inclusive `c_ts <= p_ts`.
    * Clicks older than windowMs prune on every touch, so the list also
    * never holds out-of-window state. */
  class ClickWindowProcessor(windowMs: Long, maxClicks: Int)
      extends StatefulProcessor[
        Long, (Long, String, Long, Long), (Long, Long, Long)] {
    @transient private var clicks:
        ListState[(Long, Long)] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      clicks = getHandle.getListState[(Long, Long)]("clicks",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, String, Long, Long)], timerValues: TimerValues)
        : Iterator[(Long, Long, Long)] = {
      var buf: Vector[(Long, Long)] =
        if (clicks.exists()) clicks.get().toVector else Vector.empty
      val out = List.newBuilder[(Long, Long, Long)]
      // clicks sort before purchases at equal ts (inclusive c_ts <= p_ts)
      rows.toList.sortBy { case (_, kind, _, ts) =>
        (ts, if (kind == "click") 0 else 1)
      }.foreach { case (_, kind, id, ts) =>
        if (kind == "click") {
          buf = (buf :+ ((id, ts)))
            .filter { case (_, cts) => cts >= ts - windowMs }
            .takeRight(maxClicks) // newest win under the cap
        } else {
          buf.foreach { case (cid, cts) =>
            if (cts >= ts - windowMs && cts <= ts) out += ((id, cid, user))
          }
        }
      }
      clicks.put(buf.toArray)
      out.result().iterator
    }
  }

  /** Streaming attribution over interleaved (user_id, kind, event_id,
    * ts_ms) rows, kind ∈ {click, purchase}: emits (purchase_id,
    * click_id, uid) for every click within windowMs before each
    * purchase, holding at most maxClicks clicks of state per user.
    * Requires the RocksDB state store provider, like [[quotaAdmit]]. */
  def clickAttribution(
      events: Dataset[(Long, String, Long, Long)],
      windowMs: Long, maxClicks: Int)
      : Dataset[(Long, Long, Long)] = {
    implicit val outEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    events.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new ClickWindowProcessor(windowMs, maxClicks),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming LAST-OBSERVATION as-of enrichment on transformWithState
    * VALUE state — the streaming twin of q_join_asof2 (and of the
    * native AsOfJoinExec's batch semantics), closing the one join
    * regime the as-of family didn't cover incrementally (r8 VERDICT
    * item 7). Each user's state is a single (ts_us, click_id) pair —
    * the latest click observed so far — so per-user state is O(1) BY
    * CONSTRUCTION (16 B), unlike the watermarked stream-stream join
    * whose state holds every in-window click. A purchase enriches from
    * the current last click and emits (purchase_id, click_id, gap_us);
    * a click advances the state under the exact q_join_asof2 total
    * order ((ts, kind, event_id) with clicks before purchases at equal
    * ts, larger event_id winning click ties), applied lexicographically
    * so replays and equal-ts boundary rows across batches cannot
    * regress the state. Contract: waves arrive ts-ordered per user
    * (the micro-batch analogue of the batch window's sort) — the
    * processor sorts WITHIN a batch, and cross-batch order is the
    * source's watermark discipline. */
  class AsOfLastProcessor
      extends StatefulProcessor[
        Long, (Long, String, Long, Long), (Long, Long, Long)] {
    @transient private var lastClick:
        ValueState[(Long, Long)] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastClick = getHandle.getValueState[(Long, Long)]("lastClick",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, String, Long, Long)], timerValues: TimerValues)
        : Iterator[(Long, Long, Long)] = {
      var last: (Long, Long) = // (ts_us, click_id), null = none yet
        if (lastClick.exists()) lastClick.get() else null
      val out = List.newBuilder[(Long, Long, Long)]
      rows.toList.sortBy { case (_, kind, id, ts) =>
        (ts, if (kind == "click") 0 else 1, id)
      }.foreach { case (_, kind, id, ts) =>
        if (kind == "click") {
          if (last == null || ts > last._1 ||
            (ts == last._1 && id > last._2)) last = (ts, id)
        } else if (last != null) {
          out += ((id, last._2, ts - last._1))
        }
      }
      if (last != null) lastClick.update(last)
      out.result().iterator
    }
  }

  /** Streaming as-of enrichment over interleaved (user_id, kind,
    * event_id, ts_us) rows, kind ∈ {click, purchase}: emits
    * (purchase_id, click_id, gap_us) matching q_join_asof2 row for row
    * when waves are ts-ordered. O(1) state per user; requires the
    * RocksDB state store provider, like [[quotaAdmit]]. */
  def asofEnrichStream(
      events: Dataset[(Long, String, Long, Long)])
      : Dataset[(Long, Long, Long)] = {
    implicit val outEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    events.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new AsOfLastProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-user behavioral profile on transformWithState MAP state — the
    * fourth and last TWS state surface (value, list, timers, map): a
    * running count per event_type per user, maintained by POINT
    * reads/writes on the touched keys only. That point access is why
    * MapState exists over ValueState[Map[...]]: RocksDB updates the one
    * (user, event_type) entry a batch touches instead of
    * deserializing-rewriting the whole per-user map — at 100 TB the
    * write amplification of a profile update is O(types touched this
    * batch), not O(types ever seen). Emits the updated (user, type,
    * count) rows per batch — an incremental changelog a downstream
    * upsert sink applies directly. */
  class ProfileProcessor
      extends StatefulProcessor[
        Long, (Long, String), (Long, String, Long)] {
    @transient private var counts:
        MapState[String, Long] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts", Encoders.STRING,
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, String)], timerValues: TimerValues)
        : Iterator[(Long, String, Long)] = {
      // pre-aggregate the batch locally, then ONE point read+write per
      // touched key — never an iteration over untouched profile entries
      val batchCounts = rows.foldLeft(Map.empty[String, Long]) {
        case (m, (_, et)) => m.updated(et, m.getOrElse(et, 0L) + 1L)
      }
      batchCounts.toSeq.sortBy(_._1).map { case (et, dn) =>
        val next =
          (if (counts.containsKey(et)) counts.getValue(et) else 0L) + dn
        counts.updateValue(et, next)
        (user, et, next)
      }.iterator
    }
  }

  /** Streaming per-user event-type profile over (user_id, event_type)
    * rows: emits the updated (user_id, event_type, count) changelog each
    * batch. Requires the RocksDB state store provider. */
  def profileCounts(events: Dataset[(Long, String)])
      : Dataset[(Long, String, Long)] = {
    implicit val outEnc: Encoder[(Long, String, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)
    events.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new ProfileProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** [[SourceQuotaProcessor]] with INITIAL STATE — the batch→stream
    * migration story: a corpus pipeline that already consumed part of
    * each source's budget in batch mode cuts over to streaming without
    * resetting quotas, by seeding the per-source consumed counters from
    * the batch table on the FIRST batch (handleInitialState runs once
    * per seeded key, before any input rows). Admission semantics are
    * identical to the unseeded processor; unseeded sources start at 0. */
  class SeededQuotaProcessor(quota: Long)
      extends StatefulProcessorWithInitialState[
        String, (String, Long, Long), (String, Long), (String, Long)] {
    @transient private var consumed:
        ValueState[Long] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      consumed = getHandle.getValueState[Long]("consumed", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInitialState(
        source: String,
        initial: (String, Long), timerValues: TimerValues): Unit =
      consumed.update(initial._2)

    override def handleInputRows(
        source: String,
        rows: Iterator[(String, Long, Long)], timerValues: TimerValues)
        : Iterator[(String, Long)] = {
      var c = if (consumed.exists()) consumed.get() else 0L
      val admitted = rows.flatMap { case (_, docId, nTokens) =>
        if (c < quota) { c += nTokens; Some((source, docId)) } else None
      }.toList
      consumed.update(c)
      admitted.iterator
    }
  }

  /** [[quotaAdmit]] seeded from a batch-computed (source, consumed)
    * table. Same admission rule; the initial state applies before the
    * first batch's rows. */
  def quotaAdmitSeeded(
      docs: Dataset[(String, Long, Long)], quota: Long,
      initial: Dataset[(String, Long)])
      : Dataset[(String, Long)] = {
    implicit val outEnc: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    docs.groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new SeededQuotaProcessor(quota), TimeMode.None(),
        OutputMode.Append(), initial.groupByKey(_._1)(Encoders.STRING))
  }

  /** One micro-batch of INCREMENTAL top-k maintenance — the streaming
    * half of the kNN suite (the continuously-arriving-corpus case: keep
    * each query's exact top-k as new vectors land, without ever
    * re-scoring history). Per batch: score ONLY the new vectors against
    * the broadcast query set, union with the stored per-query top-k
    * (queries·k rows — the entire state), dedup by (query, neighbor),
    * and keep the new top-k as a DETERMINISTIC `v=<batchId>` version.
    * A replayed batch rebuilds its own version from the same inputs —
    * idempotent, the versioned sibling of [[dedupIngestBatch]]'s
    * overwrite trick (versions beat in-place swap here because the
    * merge READS the previous version while writing the next). Dedup
    * before the top-k makes replay safe: a twice-delivered candidate
    * collapses instead of double-occupying heap slots. At 100 TB the
    * per-batch cost is |batch|·|queries| scoring + a queries·k merge —
    * history is never touched. */
  def knnIngestBatch(
      batch: DataFrame, batchId: Long,
      queries: DataFrame, tableDir: String, k: Int): Unit = {
    val s = batch.sparkSession
    graft.functions.CosineSimilarity.register(s)
    val fresh = batch
      .join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos", expr("graft_cosine(q_emb, embedding)"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
    val prevDir = new java.io.File(s"$tableDir/v=${batchId - 1}")
    val prev =
      if (prevDir.exists()) s.read.parquet(prevDir.getPath)
      else fresh.limit(0)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    prev.unionByName(fresh)
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .drop("rnk")
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/v=$batchId")
  }

  /** Read-side of [[knnIngestBatch]]: the CURRENT top-k per query (the
    * highest version), ranked. */
  def knnTable(spark: SparkSession, tableDir: String): DataFrame = {
    val versions = new java.io.File(tableDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)
    require(versions.nonEmpty, s"no versions under $tableDir")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    spark.read.parquet(s"$tableDir/v=${versions.max}")
      .withColumn("rnk", row_number().over(w))
  }

  /** The funnel stages [[FunnelProcessor]] walks, in order. */
  private[graft] val funnelStages =
    Vector("signup", "view", "click", "purchase")

  /** Streaming conversion funnel as a per-user STATE MACHINE — the
    * live twin of the batch `q_funnel` aggregate, and the canonical
    * stateful-streaming shape beyond counters: state is the index of
    * the highest funnel stage reached (one Int per user — at 100 TB
    * users·4 bytes, RocksDB-backed, incremental checkpoints), and each
    * batch advances the machine through whatever stages its events
    * unlock, emitting one (user, stage, ts) row per transition.
    *
    * Semantics are the SEQUENTIAL funnel (advance on the first
    * next-stage event after the current stage was reached) — the state
    * machine walks forward in event order, unlike the batch
    * first-occurrence aggregate which compares global per-stage minima;
    * StreamingSpec pins the case where the two differ (a click that
    * precedes the first view advances neither machine, but a LATER
    * click does advance this one). Within a batch rows are applied in
    * event-time order (the iterator is buffered and sorted — batches
    * are bounded by the trigger, not the corpus); across batches the
    * machine follows arrival order, the same trade quotaAdmit
    * documents, with the watermark bounding how stale a replayed
    * event can be. */
  class FunnelProcessor
      extends StatefulProcessor[
        Long, (Long, String, Long), (Long, String, Long)] {
    @transient private var reached:
        ValueState[Int] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      reached = getHandle.getValueState[Int]("reached", Encoders.scalaInt,
        TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, String, Long)], timerValues: TimerValues)
        : Iterator[(Long, String, Long)] = {
      var at = if (reached.exists()) reached.get() else 0
      val out = List.newBuilder[(Long, String, Long)]
      // event-time order within the batch; state must not depend on
      // shuffle arrival order of a single micro-batch. Equal-timestamp
      // ties break by FUNNEL STAGE ORDER (not the raw string, whose
      // alphabetical order is the reverse): a user whose view and click
      // share a timestamp must advance through both, which only happens
      // if the view applies first. Unknown event types index to -1 and
      // sort first — they match no stage, so their position is inert.
      rows.toList
        .sortBy(r => (r._3, funnelStages.indexOf(r._2)))
        .foreach { case (_, et, ts) =>
        if (at < funnelStages.length && et == funnelStages(at)) {
          at += 1
          out += ((user, funnelStages(at - 1), ts))
        }
      }
      reached.update(at)
      out.result().iterator
    }
  }

  /** Streaming funnel over (user_id, event_type, ts_ms) rows: emits
    * (user_id, stage, ts_ms) per stage transition. Requires the RocksDB
    * state store provider, like [[quotaAdmit]]. */
  def funnelAdvance(events: Dataset[(Long, String, Long)])
      : Dataset[(Long, String, Long)] = {
    implicit val outEnc: Encoder[(Long, String, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)
    events.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new FunnelProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-user streak state for [[streakAdvance]]: the O(1) record that
    * replaces q_window_islands' day-table walk — last active day,
    * current/longest run, island count, first day, total active days. */
  case class StreakState(lastDay: Long, curLen: Long, maxLen: Long,
      nIslands: Long, firstDay: Long, activeDays: Long)

  /** Gaps-and-islands as a live automaton: q_window_islands re-derives
    * every user's full day table per run; this processor carries SIX
    * longs per user and advances them as days arrive. Contract: days
    * must arrive non-decreasing per user ACROSS batches (event-time
    * ordered replay, the attributeLastTouch feed discipline) — a
    * consecutive day extends the run, a jump opens a new island,
    * revisits of the current day are no-ops. Within a batch days sort
    * and dedup first, so shuffle arrival order is invisible. */
  class StreakProcessor
      extends StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long, Long, Long)] {
    @transient private var st:
        ValueState[StreakState] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[StreakState]("streak",
        Encoders.product[StreakState], TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long)], timerValues: TimerValues)
        : Iterator[(Long, Long, Long, Long, Long)] = {
      var s = if (st.exists()) st.get()
        else StreakState(Long.MinValue, 0L, 0L, 0L, Long.MaxValue, 0L)
      rows.map(_._2).toArray.sorted.distinct.foreach { day =>
        if (day > s.lastDay) {
          val cur = if (day == s.lastDay + 1) s.curLen + 1 else 1L
          s = StreakState(day, cur, math.max(s.maxLen, cur),
            if (cur == 1L) s.nIslands + 1 else s.nIslands,
            math.min(s.firstDay, day), s.activeDays + 1)
        } // day <= lastDay: replay/duplicate under the ordered contract
      }
      st.update(s)
      Iterator.single(
        (user, s.nIslands, s.maxLen, s.activeDays, s.firstDay))
    }
  }

  /** Streaming activity streaks over (user_id, epoch_day) rows — the
    * live twin of the batch `q_window_islands` query. Emits a
    * changelog row per touched user per batch; counters are monotone,
    * so the latest row per user is the current snapshot. */
  def streakAdvance(days: Dataset[(Long, Long)])
      : Dataset[(Long, Long, Long, Long, Long)] = {
    implicit val outEnc
        : Encoder[(Long, Long, Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    days.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new StreakProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-user automaton state for [[seqMatchAdvance]]: the O(1)-state
    * compilation of q_seq_match's three row patterns. `inV` is the
    * 'v[^p]*p' machine (inside an open conversion window), `eRun`/`cRun`
    * the current error/click run lengths, the rest the emitted
    * measures. Fixed size regardless of history length — the whole
    * point of compiling the regexes to an automaton: the batch twin
    * folds the user's full code string, the stream never stores more
    * than this record per user. */
  case class SeqMatchState(inV: Boolean, conv: Long, frus: Long,
      eRun: Int, maxC: Int, cRun: Int, n: Long)

  /** The automaton itself, shared row-at-a-time semantics with the
    * batch q_seq_match regexes (BehaviorSpec pins the batch side to the
    * same walk; StreamingSpec pins this side to the batch query). */
  class SeqMatchProcessor
      extends StatefulProcessor[
        Long, (Long, Long, Long, String), (Long, Long, Long, Long, Long)] {
    @transient private var st:
        ValueState[SeqMatchState] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SeqMatchState]("seq",
        Encoders.product[SeqMatchState], TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long, Long, String)], timerValues: TimerValues)
        : Iterator[(Long, Long, Long, Long, Long)] = {
      var s = if (st.exists()) st.get()
        else SeqMatchState(inV = false, 0L, 0L, 0, 0, 0, 0L)
      // (ts, event_id) order within the batch — the funnel discipline:
      // automaton state must not depend on shuffle arrival order
      rows.toList.sortBy(r => (r._2, r._3)).foreach { case (_, _, _, et) =>
        val ch = et match {
          case "signup" => 's'; case "click" => 'c'; case "error" => 'e'
          case "view" => 'v'; case "purchase" => 'p'; case _ => 'x'
        }
        val (inV, conv) =
          if (ch == 'v') (true, s.conv)
          else if (ch == 'p' && s.inV) (false, s.conv + 1)
          else (s.inV, s.conv)
        val eRun = if (ch == 'e') s.eRun + 1 else 0
        val frus = if (eRun == 2) s.frus + 1 else s.frus
        val cRun = if (ch == 'c') s.cRun + 1 else 0
        s = SeqMatchState(inV, conv, frus, eRun,
          math.max(s.maxC, cRun), cRun, s.n + 1)
      }
      st.update(s)
      // changelog row per touched user per batch; the LATEST row per
      // user (max n) is the current snapshot, matching the batch query
      Iterator.single((user, s.n, s.conv, s.frus, s.maxC.toLong))
    }
  }

  /** Streaming sequence-pattern matching over (user_id, ts_us,
    * event_id, event_type) rows — the live twin of the batch
    * `q_seq_match` MATCH_RECOGNIZE query. Where the batch side folds
    * each user's history into a code string and runs regexes, this
    * side runs the equivalent automaton with a FIXED-size record per
    * user on transformWithState + RocksDB — pattern matching over
    * unbounded history with O(1) state, which no collected-string
    * plan can claim. Emits (user_id, n_events, conversions,
    * frustration, max_click_run) per touched user per batch. */
  def seqMatchAdvance(
      events: Dataset[(Long, Long, Long, String)])
      : Dataset[(Long, Long, Long, Long, Long)] = {
    implicit val outEnc:
        Encoder[(Long, Long, Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    events.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new SeqMatchProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming LAST-TOUCH attribution — the live twin of the batch
    * `q_attribution` window: state is the user's most recent
    * non-purchase event type (ONE small string per user — RocksDB-backed
    * at 100 TB, the same bounded-state argument as [[FunnelProcessor]]),
    * and each purchase emits (user, credited channel, value_cents) at
    * the moment it arrives — the real-time revenue-by-channel feed.
    * Rows apply in (event-time, event_id) order within a batch (the
    * funnel discipline: state must not depend on shuffle arrival order),
    * which makes the sequential machine EXACTLY the batch window's lag
    * semantics as long as batches respect event-time order per user —
    * StreamingSpec proves bit-equality with q_attribution's aggregate
    * over the full corpus fed in ts-ordered waves. */
  class AttributionProcessor
      extends StatefulProcessor[
        Long, (Long, String, Long, Long, Long), (Long, String, Long)] {
    @transient private var channel:
        ValueState[String] = _

    override def init(
        outputMode: OutputMode, timeMode: TimeMode): Unit =
      channel = getHandle.getValueState[String]("channel", Encoders.STRING,
        TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, String, Long, Long, Long)],
        timerValues: TimerValues)
        : Iterator[(Long, String, Long)] = {
      val out = List.newBuilder[(Long, String, Long)]
      // (ts, event_id) order — the batch window's exact tie-break
      rows.toList.sortBy(r => (r._3, r._4)).foreach {
        case (_, et, _, _, cents) =>
          if (et == "purchase") {
            val c = if (channel.exists()) channel.get() else "direct"
            out += ((user, c, cents))
          } else channel.update(et)
      }
      out.result().iterator
    }
  }

  /** Streaming attribution over (user_id, event_type, ts_us, event_id,
    * value_cents) rows: emits (user_id, channel, value_cents) per
    * purchase. Requires the RocksDB state store provider. */
  def attributeLastTouch(
      events: Dataset[(Long, String, Long, Long, Long)])
      : Dataset[(Long, String, Long)] = {
    implicit val outEnc: Encoder[(Long, String, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)
    events.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new AttributionProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Purchase←click attribution: each purchase joins the same user's
    * clicks from the preceding 10 minutes. ONE definition for both
    * execution modes — q_stream_join runs it in batch under the DuckDB
    * oracle; StreamingSpec runs the identical plan as a watermarked
    * stream-stream join (Spark keeps 10 min + watermark of click state
    * per user, evicting as event time advances — the bounded-state
    * contract that makes this join runnable forever at 100 TB).
    * Inputs must expose (p_ts, p_user, purchase_id) / (c_ts, c_user,
    * click_id); streams add their watermarks before calling. */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame): DataFrame =
    purchases.join(clicks,
      expr("""c_user = p_user AND c_ts <= p_ts
             |AND c_ts >= p_ts - INTERVAL 10 MINUTES""".stripMargin))

  /** Stream-static enrichment: streaming fact rows joined against a
    * STATIC dimension — the third join regime Structured Streaming
    * supports (beside stream-stream and foreachBatch), and the cheapest:
    * no watermark, no join state, the static side simply joins into
    * every micro-batch (broadcast here — dims are schema-bounded). With
    * a file-backed dimension the static side is re-resolved as batches
    * run, so slowly-changing dims refresh without restarting the query.
    * Left join keeps facts whose key has no dim row yet (late dim
    * arrival) with NULL attributes instead of dropping them. */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Tumbling 1-hour event-time windows. Same window() the streaming
    // query uses; epoch-aligned on both engines.
    QueryDef(
      "q_stream_tumbling",
      s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
        |  count(*) AS n, ${Num.sql("sum(\"value\")", 2)} AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), Num.r(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("sum_value"))
    },

    // ------------------------------------------------------------------
    // Sliding windows: 1 hour every 30 minutes — each event lands in the
    // two windows whose start is its 30-min bucket and that bucket − 30 min.
    QueryDef(
      "q_stream_sliding",
      s"""WITH x AS (
        |  SELECT unnest([
        |      time_bucket(INTERVAL '30 minutes', ts),
        |      time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
        |    ]) AS ws,
        |    event_type, "value"
        |  FROM events)
        |SELECT ws, event_type, count(*) AS n,
        |  ${Num.sql("sum(\"value\")", 2)} AS sum_value
        |FROM x GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), Num.r(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("sum_value"))
    },

    // ------------------------------------------------------------------
    // Session windows: 10-minute inactivity gap per user. The oracle is
    // the classic gaps-and-islands rewrite — a lag + cumulative-flag
    // window — which must agree with session_window() exactly.
    QueryDef(
      "q_stream_session",
      """WITH flagged AS (
        |  SELECT user_id, ts, "value",
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL '10 minutes'
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, "value",
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      ev(s, dir)
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
    },

    // ------------------------------------------------------------------
    // Stream-stream join, batch twin: the same purchaseClickJoin the
    // streaming spec runs with watermarks, here over the full events
    // table so the DuckDB oracle hash-checks the join semantics
    // (event-time range + key equality) end to end.
    QueryDef(
      "q_stream_join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.user_id AS uid
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.user_id = p.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '10 minutes'""".stripMargin) { (s, dir) =>
      val p = ev(s, dir).filter(col("event_type") === "purchase")
        .select(col("ts").as("p_ts"), col("user_id").as("p_user"),
          col("event_id").as("purchase_id"))
      val c = ev(s, dir).filter(col("event_type") === "click")
        .select(col("ts").as("c_ts"), col("user_id").as("c_user"),
          col("event_id").as("click_id"))
      purchaseClickJoin(p, c)
        .select(col("purchase_id"), col("click_id"), col("p_user").as("uid"))
    }
  )
}
