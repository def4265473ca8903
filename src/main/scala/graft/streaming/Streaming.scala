package graft.streaming

import graft.{Num, QueryDef, Tables}
import graft.operators.{Convert, Dedup}
import graft.sources.DirTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor,
  StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import scala.reflect.runtime.universe.TypeTag

/** Streaming layer (SURVEY.md §2A #1/#6/#7 + §2B streaming rows).
  *
  * The reference IS a streaming pipeline: SQS long-poll → S3 JSON → Parquet
  * → ack (`convertor/convertor.go:79-164`). Structured Streaming replaces
  * each piece: the file source's listing replaces the S3→SQS notification,
  * the checkpoint offset log replaces the SQS cursor, and the idempotent
  * per-batch output replaces the delete-after-write ack — upgrading the
  * reference's at-least-once to effective exactly-once.
  *
  * What runs here, and who runs it:
  *   - The service: [[notificationDrivenStream]], one
  *     [[convertNotificationBatch]] per micro-batch (perfbench's
  *     `convert_service` workload), and the directory-watch
  *     [[jsonToParquetStream]].
  *   - Zone-map and deletion-vector maintenance ([[zoneIngestBatch]],
  *     [[zoneOptimize]], [[dvDelete]], [[dvMaterialize]], ...), which
  *     ZoneMapSource, ZoneCatalog and the Analytics and Similarity
  *     queries call.
  *   - [[defs]]: the windowed and stream-join queries, run in batch
  *     under the DuckDB oracle with the same functions a stream uses.
  *   - Library helpers that StreamingSpec drives: the aside-swap tables
  *     rewritten whole per batch ([[upsertBatch]], [[cdcApplyBatch]],
  *     [[componentIngestBatch]]); the maintained tables on the partials
  *     fold, each an ingest that publishes one partial per batch through
  *     [[graft.sources.DirTable.writePart]] and a read that folds
  *     [[graft.sources.DirTable.partials]] (dedup, near-dup, sketch, kll,
  *     bloom, manifest, span, ivm, dsir, df, sample, drift, knn); and the
  *     transformWithState twins of batch queries, most on one ordered
  *     fold per key.
  *
  * Streaming-specific behaviour (watermarks, late-data drop, stateful
  * dedup, incremental file discovery) is exercised in StreamingSpec via
  * MemoryStream and the real file source.
  */
object Streaming {

  /** The reference service, Spark-native: watch `inDir` for new JSON
    * files, convert each micro-batch to Parquet under `outDir`.
    * `maxFilesPerTrigger` ≈ the SQS receive batch of ≤10 messages
    * (`convertor/convertor.go:52`); the checkpoint replaces the
    * visibility-timeout redelivery loop (`convertor.go:48`). A file
    * that does not parse is dropped and the parquet is written with the
    * reference's knobs, as in [[Convert.jsonToParquet]]; each batch's
    * [[Convert.Counters]] appear in its progress's `observedMetrics`
    * under "convert". Outside `backfill` it polls the directory every
    * 1 s, not at [[notificationDrivenStream]]'s 200 ms: a trickle of more
    * than one file a second would then pay a micro-batch's fixed cost
    * per file (on 4 cores, 5 files a second cost about 3 times the CPU
    * of the 1 s trigger; CHANGES.md has the runs). */
  def jsonToParquetStream(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      schema: StructType = Convert.personSchema,
      maxFilesPerTrigger: Int = 10,
      backfill: Boolean = false): StreamingQuery = {
    val in = spark.readStream
      .schema(schema.add(Convert.Corrupt, StringType))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // the reference's inputs are one multi-line object per file
      // (sample_json/*.json) — same whole-file parse as the batch path
      .option("multiLine", true)
      .options(Convert.PermissiveJson)
      .json(inDir)
    import Convert.Counters
    Convert.toParquet(in.observe("convert", Counters.head, Counters.tail: _*)
        .filter(col(Convert.Corrupt).isNull))
      .writeStream
      .format("parquet")
      .options(Convert.RefParquetOptions)
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
    * The trigger fires every 200 ms. The reference long-polls
    * (`convertor.go:79-104`): a poll returns as soon as messages arrive
    * and the poller asks again at once, so a fixed clock costs each
    * arrival half an interval of waiting on average (about 100 ms here)
    * and caps a backlog at one batch per interval. A steady
    * micro-batch takes 0.12-0.3 s on 4 cores and a 30-key drain batch
    * 0.19-0.4 s, so at 200 ms the conversion, not the clock, sets most of
    * the arrival-to-commit latency, and a backlog drains in back-to-back
    * batches. A batch that runs longer than the interval makes Spark log
    * "Current batch is falling behind"; during a drain that is expected.
    * A shorter interval adds micro-batches whose fixed cost (planning,
    * and JIT compilation while the service is young) buys less than the
    * wait it saves. An idle poll lists the whole notification directory,
    * and nothing removes delivered notifications, so its cost grows with
    * how long the service has run: on 4 cores it took about 23 ms of
    * process CPU with 150 notifications and 73 ms with 3000.
    *
    * Sizing, on a quiet 4-core host: perfbench `convert_service`
    * (`--seconds 17 --trace 0`), medians [quartiles] over 5-6
    * interleaved runs per interval, every run 201 operations attempted
    * and 0 failed. The 10-pair A/B of 200 ms against 500 ms is in
    * CHANGES.md.
    * {{{
    * trigger  op_p50_s             op_p90_s  wall_s  cpu_s
    * 500 ms   0.403 [0.389-0.444]  0.608     1.707   14.89 [14.04-15.65]
    * 200 ms   0.251 [0.234-0.261]  0.327     0.818   17.07 [16.87-17.47]
    * 100 ms   0.184                0.260     0.819   17.96
    *   0 ms   0.143                0.231     0.801   20.98
    * }}}
    * (the 0 ms runs were a separate set, where 500 ms read cpu_s 15.41).
    * The extra CPU is the extra batches, mostly their JIT compilation:
    * a JFR recording counted 44 batches at 200 ms against 32 at 500 ms.
    * 100 ms and 0 ms cost 21% and 36% more CPU than 500 ms for the little
    * latency they save beyond 200 ms. */
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
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
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

  // --------------------------------------------------------------------
  // MAINTAINED TABLES on the partials fold. Each ingest below aggregates
  // one micro-batch into a small partial and publishes it as
  // `batch=<id>` through [[DirTable.writePart]] (a hidden stage, then a
  // checked rename); each read folds the visible partials
  // ([[DirTable.partials]]) with a merge that is a commutative monoid or
  // semilattice (sum, min/max, xor, OR, register max, top-k). So the
  // table is append-only, arrival order and batch boundaries vanish in
  // the fold, and a replayed batch replaces its own partial: at-least-
  // once delivery folds to exactly-once, the idempotence of the
  // reference's deterministic `<key>.parquet` output. Ingests that test a
  // batch against the state before it (dedup, near-dup, ivm, knn) read
  // only ids below the batch's own, so a replay never sees its first
  // attempt. Every ingest takes documents whole, each in one batch.
  // StreamingSpec pins each fold to its one-shot batch derivation,
  // replay included.

  /** Incremental corpus ingestion with CROSS-BATCH exact dedup: drop
    * rows whose content hash arrived in an earlier batch (or earlier in
    * this one), append survivors to the corpus and their hashes to the
    * state table: 16 B/doc, bucketed at 100 TB so the anti-join is
    * shuffle-free. A `foreachBatch` body (see [[incrementalDedupStream]]). */
  def dedupIngestBatch(
      batch: DataFrame, batchId: Long,
      corpusDir: String, stateDir: String): Unit = {
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
    val seen = DirTable.partials(batch.sparkSession, stateDir,
      Some(StructType(Seq(StructField("h", StringType)))), before = batchId)
    val fresh = hashed.join(seen, Seq("h"), "left_anti").cache()
    try {
      DirTable.writePart(fresh.drop("h"), corpusDir, batchId)
      DirTable.writePart(fresh.select(col("h")), stateDir, batchId)
    } finally fresh.unpersist()
  }

  /** The always-on ingestion service around [[dedupIngestBatch]]: watch
    * `inDir` for new JSON document files, dedup each micro-batch against
    * everything already ingested, grow the corpus incrementally. */
  def incrementalDedupStream(spark: SparkSession, inDir: String,
      corpusDir: String, stateDir: String, checkpointDir: String,
      schema: StructType): StreamingQuery =
    spark.readStream.schema(schema).json(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, id: Long) =>
        dedupIngestBatch(batch, id, corpusDir, stateDir))
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

  /** Incremental NEAR-dup ingestion, the fuzzy counterpart of
    * [[dedupIngestBatch]]: a document is dropped iff one of its 8 MinHash
    * LSH band keys is held by a smaller-id document of the same batch or
    * by an earlier batch's survivor; survivors join the corpus and their
    * bands the state table. That is the aggressive production mode:
    * candidates are dropped WITHOUT q_dedup_minhash's pairwise agreement
    * check (agree >= 10/16), so on chains (A~B~C, A≁C) it can drop more
    * than a greedy scan would — the trade for an O(batch) check against
    * 8 rows/doc of state. Signatures and bands come from the SAME
    * [[graft.operators.Dedup.minhashSignatures]] the batch query uses.
    * Documents under 3 tokens have no bands and are always admitted. */
  def nearDupIngestBatch(
      batch: DataFrame, batchId: Long,
      corpusDir: String, bandsDir: String): Unit = {
    val bands = Dedup.minhashBandKeys(Dedup.minhashSignatures(batch)).cache()
    try {
      val seen = DirTable.partials(batch.sparkSession, bandsDir,
        Some(StructType(Seq(StructField("band", IntegerType),
          StructField("band_key", StringType)))), before = batchId)
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
        DirTable.writePart(survivors, corpusDir, batchId)
        DirTable.writePart(bands
          .join(survivors.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("band"), col("band_key")), bandsDir, batchId)
      } finally survivors.unpersist()
    } finally bands.unpersist()
  }

  /** Incremental sketch table: one HLL sketch of `keyCol` per group per
    * batch. The hot path writes group×batch fixed-size sketches and never
    * rewrites history, and a date-range distinct count costs
    * rows-of-sketch-table — the streaming half of q_agg_sketch_table. */
  def sketchIngestBatch(
      batch: DataFrame, batchId: Long,
      tableDir: String, groupCol: String, keyCol: String): Unit =
    DirTable.writePart(batch.groupBy(col(groupCol))
      .agg(expr(s"hll_sketch_agg($keyCol)").as("sk")), tableDir, batchId)

  /** Fold of [[sketchIngestBatch]]: one row per group with the union
    * sketch and its estimate (register max: merge-order independent). */
  def sketchTable(
      spark: SparkSession, tableDir: String, groupCol: String): DataFrame =
    DirTable.partials(spark, tableDir).groupBy(col(groupCol))
      .agg(expr("hll_union_agg(sk)").as("sk"))
      .withColumn("estimate", expr("hll_sketch_estimate(sk)"))

  /** Incremental QUANTILE table: one serialized
    * [[graft.functions.KllSketchBin]] of `valCol` per group per batch, so
    * "p50/p99 of the last N days" costs rows-of-sketch-table. `k` must
    * stay fixed across batches ([[graft.functions.KllMerge]] adopts the
    * partials' k).
    *
    * Unlike HLL's register max, a KLL sketch depends on insertion order,
    * so the ingest makes each group's sketch a pure function of the
    * batch's value MULTISET: repartition by group, sort by value, and
    * aggregate with SortAggregate, which consumes rows in that
    * (grp, val) order. ObjectHashAggregate's sort-based spill fallback
    * re-sorts by grouping key only and would break byte-idempotent
    * replay at large batch sizes. The pin runs on a CLONED session
    * (isolated SQLConf): setting and restoring it on the caller's
    * session would strip ObjectHashAggregate from concurrent queries,
    * and two concurrent ingests could race the restore. */
  def kllIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String,
      groupCol: String, valCol: String, k: Int): Unit = {
    val iso = org.apache.spark.sql.graft.SessionShims
      .cloneWithIsolatedConf(batch.sparkSession)
    iso.conf.set("spark.sql.execution.useObjectHashAggregateExec", "false")
    graft.functions.Functions.install(iso)
    DirTable.writePart(org.apache.spark.sql.graft.SessionShims.ofRows(iso, batch)
      .repartition(col(groupCol))
      .sortWithinPartitions(col(groupCol), col(valCol))
      .groupBy(col(groupCol))
      .agg(expr(s"graft_kll_bin($valCol, $k)").as("sk")), tableDir, batchId)
  }

  /** Fold of [[kllIngestBatch]]: one row per group with the merged
    * weighted sample and its total weight; estimation runs relationally
    * on the sample exactly as in q_agg_kll. */
  def kllTable(
      spark: SparkSession, tableDir: String, groupCol: String): DataFrame = {
    graft.functions.Functions.install(spark)
    DirTable.partials(spark, tableDir).groupBy(col(groupCol))
      .agg(expr("graft_kll_merge(sk)").as("sample"))
      .withColumn("n", expr(
        "aggregate(sample, CAST(0 AS BIGINT), (a, p) -> a + p.weight)"))
  }

  /** Incremental BLOOM filter, the streaming half of q_decontam_bloom's
    * prefilter: one fixed-size filter of `keyCol` per batch. Bit-set
    * union is an idempotent monoid, so re-ingesting a batch ORs in bits
    * already set. `numBits`/`numHashes` must stay fixed across batches. */
  def bloomIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String,
      keyCol: String, numBits: Int, numHashes: Int): Unit = {
    graft.functions.Functions.install(batch.sparkSession)
    DirTable.writePart(batch.agg(
      expr(s"graft_bloom($keyCol, $numBits, $numHashes)").as("bloom")),
      tableDir, batchId)
  }

  /** Fold of [[bloomIngestBatch]] into ONE serialized filter (8-byte
    * size header + OR of the bit words, the UDAF's own merge), bit-equal
    * to a one-shot `graft_bloom` over the union of all batches, for the
    * scan-side `graft_bloom_contains` probe to broadcast. The collect is
    * control-plane: one row of numBits/8 bytes per batch. Partials whose
    * headers disagree are refused. */
  def bloomTable(spark: SparkSession, tableDir: String): Array[Byte] = {
    val parts = DirTable.partials(spark, tableDir)
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

  /** Incremental export manifest, the streaming twin of
    * q_export_manifest: per-shard counts, char mass, key range and XOR
    * checksum per batch — sum / sum / min / max / xor, the same algebra
    * that makes the batch manifest partition-order-proof. */
  def manifestIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String): Unit =
    DirTable.writePart(batch.select(col("n_chars"),
        graft.functions.TextAnalysis
          .h60(concat(lit("shuf1:"), col("doc_id").cast("string")))
          .as("key"))
      .groupBy((col("key") % 8).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        min(col("key")).as("key_lo"), max(col("key")).as("key_hi"),
        bit_xor(col("key")).as("checksum")), tableDir, batchId)

  /** Fold of [[manifestIngestBatch]]: equal to the batch manifest over
    * the union of all ingested slices. */
  def manifestTable(spark: SparkSession, tableDir: String): DataFrame =
    DirTable.partials(spark, tableDir).groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("chars")).as("chars"),
        min(col("key_lo")).as("key_lo"), max(col("key_hi")).as("key_hi"),
        bit_xor(col("checksum")).as("checksum"))

  /** Incremental SPAN table for exact-substring dedup (q_dedup_substr):
    * per-span distinct-document counts of the batch, derived through the
    * SAME [[graft.operators.Dedup.spanRelation]] the batch query uses.
    * Sums of per-batch distinct-doc counts equal global ones because a
    * document arrives whole in one batch. */
  def spanIngestBatch(batch: DataFrame, batchId: Long,
      spanDir: String,
      window: Int = Dedup.substrWindow): Unit =
    DirTable.writePart(Dedup.spanRelation(batch, window)
      .select(col("doc_id"), col("sid")).distinct()
      .groupBy(col("sid")).agg(count(lit(1)).as("n_docs")), spanDir, batchId)

  /** Fold of [[spanIngestBatch]] (over the newest [[spanCompact]] base
    * and the batches after it): the duplicated-span set, spans in >= 2
    * documents — exactly the batch pipeline's, so incoming documents can
    * be span-rewritten against the CURRENT corpus. */
  def dupSpanTable(spark: SparkSession, spanDir: String): DataFrame =
    DirTable.partials(spark, spanDir)
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
    * current base plus batch partials <= `upToBatch` and publish the
    * fold as the part `compact=<upToBatch>` ([[DirTable.writePart]]),
    * and only then delete the folded sources. A crash at ANY point
    * leaves a readable table: readers take the newest base plus newer
    * batches only ([[DirTable.visible]]), so un-deleted sources are
    * invisible, and re-running the compaction folds exactly the visible
    * inputs again (sums are associative — bit-identical result).
    * Single-writer contract, as for every non-transactional directory
    * table here. */
  def spanCompact(
      spark: SparkSession, spanDir: String, upToBatch: Long): Unit = {
    val live = DirTable.visible(spark, spanDir, "compact")
    // a base newer than the requested horizon would be orphaned by the
    // source deletes below while still being what readers prefer —
    // compaction horizons must only move forward
    live.filter(_.kind == "compact").foreach(b => require(upToBatch >= b.id,
      s"spanCompact: horizon $upToBatch behind existing base ${b.id}"))
    val inputs = live.filter(p => p.kind != "batch" || p.id <= upToBatch)
    if (inputs.nonEmpty) {
      // Re-folding a lone base is the identity: a run at a horizon equal
      // to the newest base (including the re-run after a crash that
      // completed the stage->base rename but not the source deletes)
      // would fold compact=<horizon> into itself, so it skips straight
      // to the supersede sweep, which completes any pending source
      // deletes a crashed run left behind (ADVICE r10). Under the
      // single-writer contract an existing compact=<horizon> is always
      // the newest base and takes this skip; a violated contract
      // degrades to the publish's recoverable aside move.
      if (inputs.map(_.name) != Seq(s"compact=$upToBatch"))
        DirTable.writePart(
          DirTable.partials(spark, spanDir, before = upToBatch + 1)
            .groupBy(col("sid")).agg(sum(col("n_docs")).as("n_docs")),
          spanDir, upToBatch, "compact")
      // retire EVERYTHING the new base supersedes LAST, including
      // already-invisible crash leftovers (readers ignore them, so this
      // only reclaims space; a false delete is loud)
      DirTable.sweep(spark, spanDir, "spanCompact")(
        DirTable.superseded("compact", upToBatch))
    }
  }

  /** INCREMENTAL VIEW MAINTENANCE for a two-sided equi-join, the delta
    * rule of Blakeley et al. (SIGMOD'86): for V = A ⋈ B with insert
    * deltas on both sides,
    *     ΔV_k = ΔA_k ⋈ B_{<k}  ∪  A_{<k} ⋈ ΔB_k  ∪  ΔA_k ⋈ ΔB_k,
    * so each batch joins against the OTHER side's accumulated state and
    * never re-joins history with history: |Δ|⋈|state| per batch instead
    * of |A|⋈|B|. Multiset semantics hold exactly (m rows of a key in A
    * and n in B give m·n view rows). Insert-only by contract; retractions
    * belong to [[cdcApplyBatch]]'s tombstones. `dA` carries (k, av), `dB`
    * (k, bv), the view (k, av, bv); the tables are `dir`'s a/, b/ and v/. */
  def ivmIngestBatch(spark: SparkSession, dA: DataFrame, dB: DataFrame,
      batchId: Long, dir: String): Unit = {
    val cols = Seq(col("k"), col("av"), col("bv"))
    val da = dA.select(col("k"), col("av"))
    val db = dB.select(col("k"), col("bv"))
    def stored(side: DataFrame, sub: String) = DirTable.partials(
      spark, s"$dir/$sub", Some(side.schema), before = batchId)
    val terms = Seq(da.join(stored(db, "b"), "k"),
      db.join(stored(da, "a"), "k"), da.join(db, "k")).map(_.select(cols: _*))
    DirTable.writePart(terms.reduce(_ unionAll _), s"$dir/v", batchId)
    DirTable.writePart(da, s"$dir/a", batchId)
    DirTable.writePart(db, s"$dir/b", batchId)
  }

  /** The maintained view of [[ivmIngestBatch]]: the union of its deltas. */
  def ivmView(spark: SparkSession, dir: String): DataFrame =
    DirTable.partials(spark, s"$dir/v").select(col("k"), col("av"), col("bv"))

  /** Incremental DSIR model (q_text_dsir): hashed-bigram bucket counts,
    * target and raw, per batch. [[dsirModelTable]] derives λ at read time
    * through the SAME [[graft.functions.TextAnalysis.dsirLambda]] the
    * one-shot query uses, so documents can be importance-scored against
    * the CURRENT corpus. */
  def dsirIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String): Unit =
    DirTable.writePart(graft.functions.TextAnalysis.dsirBuckets(batch)
      .groupBy(col("bucket"))
      .agg(count(when(col("lang") === "en", 1)).as("ct"),
        count(lit(1)).as("cr")), tableDir, batchId)

  /** Fold of [[dsirIngestBatch]], then λ. */
  def dsirModelTable(spark: SparkSession, tableDir: String): DataFrame =
    graft.functions.TextAnalysis.dsirLambda(
      DirTable.partials(spark, tableDir).groupBy(col("bucket"))
        .agg(sum(col("ct")).as("ct"), sum(col("cr")).as("cr")))

  /** Incremental document frequency, the streaming half of the tf-idf
    * vocabulary: per-token df plus the batch's doc count, which rides
    * under the reserved NULL token (split() never yields NULL). Both are
    * counts; idf is derived at read time, never stored. */
  def dfIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String): Unit = {
    val toks = batch
      .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = batch.agg(count(lit(1)).as("df"))
      .select(lit(null).cast("string").as("tok"), col("df"))
    DirTable.writePart(toks.unionByName(nDocs), tableDir, batchId)
  }

  /** Fold of [[dfIngestBatch]]: per-token df, the corpus doc count, and
    * idf in integer µnats (the repo-wide ln() parity convention). */
  def dfTable(spark: SparkSession, tableDir: String): DataFrame = {
    val folded = DirTable.partials(spark, tableDir)
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
    val n = folded.filter(col("tok").isNull)
      .select(col("df").as("n_docs"))
    folded.filter(col("tok").isNotNull)
      .crossJoin(broadcast(n))
      .withColumn("idf_micro",
        floor(log(col("n_docs") * lit(1e0) / col("df")) * lit(1e6) + lit(0.5))
          .cast("long"))
  }

  /** The per-source `k` smallest priorities of (source, doc_id, pri)
    * rows, as one `top` array per source. k-smallest is a semilattice:
    * the top-k of a union is the top-k of the parts' top-ks. */
  private def topPri(rows: DataFrame, k: Int): DataFrame = {
    graft.functions.Functions.install(rows.sparkSession)
    rows.groupBy(col("source"))
      .agg(expr(s"graft_topk(-pri, doc_id, $k)").as("top"))
  }

  /** Incremental weighted sample, the streaming half of
    * q_sample_weighted (sequential Poisson sampling): each batch keeps
    * its per-source k smallest priorities (hash-uniform / weight, the
    * batch query's formula), at most sources×k rows. */
  def sampleIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String, k: Int = 5): Unit = {
    val u = (graft.functions.TextAnalysis.h32(
      concat(lit("wsamp:"), col("doc_id").cast("string"))) + 1) /
      lit(4294967296e0)
    DirTable.writePart(topPri(batch.select(col("source"), col("doc_id"),
        (u / col("n_chars")).as("pri")), k)
      .select(col("source"), explode(col("top")).as("e"))
      .select(col("source"), col("e.id").as("doc_id"),
        (-col("e.score")).as("pri")), tableDir, batchId)
  }

  /** Fold of [[sampleIngestBatch]]: equal to the one-shot
    * q_sample_weighted over the union corpus, with its exact schema
    * (rnk, Num-rounded pri). */
  def sampleTable(
      spark: SparkSession, tableDir: String, k: Int = 5): DataFrame =
    topPri(DirTable.partials(spark, tableDir), k)
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), col("col.id").as("doc_id"),
        (col("pos") + 1).as("rnk"),
        graft.Num.r(-col("col.score"), 9).as("pri"))

  /** Incremental drift monitor, the streaming half of q_drift_psi: per
    * (source, length bucket) counts per batch. PSI is not stored; it is
    * derived at read time against whichever reference batch the reader
    * picks. */
  def driftIngestBatch(
      batch: DataFrame, batchId: Long, tableDir: String): Unit =
    DirTable.writePart(batch.select(col("source"),
        least(expr("n_chars div 100"), lit(4L)).as("bucket"))
      .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("c")),
      tableDir, batchId)

  /** PSI of every batch after `refBatch` against it, per source (the
    * +1-smoothed formula of q_drift_psi, over the union of observed
    * buckets). Identical distributions give EXACTLY psi = 0.0: equal
    * counts make p = q bucket-wise, and (p−q)·ln(p/q) is an exact float
    * zero. */
  def driftVsReference(
      spark: SparkSession, tableDir: String, refBatch: Long): DataFrame = {
    val cells = DirTable.partials(spark, tableDir)
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

  /** (query_id, neighbor_id, cos) rows ranked per query, best first. */
  private def rankByCos(rows: DataFrame): DataFrame =
    rows.withColumn("rnk", row_number().over(Window.partitionBy(
      col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)))

  /** Incremental top-k, the streaming half of the kNN suite (the
    * incremental top-k of EDBT 2020, `PAPERS.md`): score ONLY the new
    * vectors against the broadcast query set, merge with the previous
    * top-k (queries·k rows, the whole state), dedup by (query, neighbor)
    * so a twice-delivered candidate cannot take two slots, and keep the
    * new top-k as version `v=<batchId>`. A version, not a `batch=`
    * partial: the merge reads version k-1 while writing k, and a replay
    * rebuilds its version from the same inputs. Per batch the cost is
    * |batch|·|queries| scoring plus a queries·k merge; history is never
    * read. */
  def knnIngestBatch(
      batch: DataFrame, batchId: Long,
      queries: DataFrame, tableDir: String, k: Int): Unit = {
    val s = batch.sparkSession
    graft.functions.Functions.install(s)
    val fresh = batch
      .join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos", expr("graft_cosine(q_emb, embedding)"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
    val prev = DirTable.list(s, tableDir)
      .find(p => p.kind == "v" && p.id == batchId - 1)
      .fold(fresh.limit(0))(p => s.read.parquet(p.path.toString))
    DirTable.writePart(rankByCos(prev.unionByName(fresh)
      .dropDuplicates("query_id", "neighbor_id"))
      .filter(col("rnk") <= k).drop("rnk"), tableDir, batchId, "v")
  }

  /** The CURRENT top-k of [[knnIngestBatch]] (its newest version),
    * ranked. */
  def knnTable(spark: SparkSession, tableDir: String): DataFrame = {
    val v = DirTable.latest(spark, tableDir, "v")
    require(v >= 0, s"no versions under $tableDir")
    rankByCos(spark.read.parquet(s"$tableDir/v=$v"))
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
    graft.functions.Functions.install(data.sparkSession)
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
  // transformWithState twins of batch queries. Each keeps its per-key
  // state in the RocksDB state store (`spark.sql.streaming.stateStore.
  // providerClass=org.apache.spark.sql.execution.streaming.state.
  // RocksDBStateStoreProvider`) and applies a micro-batch's rows in a
  // fixed order of its own, so state never depends on how the batch was
  // shuffled. Across batches they follow arrival order: the contract is
  // that waves arrive event-time ordered per key.

  private def enc[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()

  /** The shell the value-state twins share: per key, fold the batch's
    * rows, sorted by `order`, over one value state named `name` (`zero`
    * before the key's first row), emitting what `step` returns per row
    * and what `end` returns once the batch is folded. */
  private class FoldProcessor[K, I, S, O](name: String, stateEnc: Encoder[S],
      zero: S, order: Seq[I] => Seq[I], step: (K, S, I) => (S, Option[O]),
      end: (K, S) => Option[O]) extends StatefulProcessor[K, I, O] {
    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](name, stateEnc, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
        timerValues: TimerValues): Iterator[O] = {
      val out = List.newBuilder[O]
      val s = order(rows.toList).foldLeft(if (st.exists()) st.get() else zero) {
        (s, row) => val (next, o) = step(key, s, row); out ++= o; next
      }
      st.update(s)
      (out.result() ++ end(key, s)).iterator
    }
  }

  /** `rows` grouped by `key`, each group run through a [[FoldProcessor]]. */
  private def foldByKey[K: TypeTag, I, S: TypeTag, O: TypeTag](
      rows: Dataset[I])(key: I => K, name: String, zero: S,
      order: Seq[I] => Seq[I])(step: (K, S, I) => (S, Option[O]),
      end: (K, S) => Option[O] = (_: K, _: S) => None): Dataset[O] =
    rows.groupByKey(key)(enc[K]).transformWithState(
      new FoldProcessor(name, enc[S], zero, order, step, end),
      TimeMode.None(), OutputMode.Append())(enc[O])

  /** Per-source token-quota admission over (source, doc_id, n_tokens)
    * rows, in arrival order: the streaming form of q_curate_quota's
    * running-sum admission. Soft cap: a document is admitted while its
    * source's consumed count is under `quota`, and the whole document
    * then counts. Emits (source, doc_id) per admitted document; the
    * state is one Long per source, named `consumed`. */
  def quotaAdmit(docs: Dataset[(String, Long, Long)], quota: Long)
      : Dataset[(String, Long)] =
    foldByKey(docs)(_._1, "consumed", 0L, identity) {
      case (src, c, (_, doc, n)) =>
        if (c < quota) (c + n, Some((src, doc))) else (c, None)
    }

  /** The funnel stages [[funnelAdvance]] walks, in order. */
  private val funnelStages = Vector("signup", "view", "click", "purchase")

  /** Streaming conversion funnel over (user_id, event_type, ts_ms) rows
    * as a per-user state machine: the state is the index of the next
    * stage (one Int per user), and each batch emits one (user_id, stage,
    * ts_ms) row per transition. This is the SEQUENTIAL funnel: a stage
    * advances on the first next-stage event after the previous stage
    * was reached, unlike the batch q_funnel aggregate of global
    * per-stage minima (StreamingSpec pins a case where they differ).
    * Equal timestamps apply in stage order, so a view and a click at the
    * same instant both advance; unknown event types sort first and match
    * no stage. */
  def funnelAdvance(events: Dataset[(Long, String, Long)])
      : Dataset[(Long, String, Long)] =
    foldByKey(events)(_._1, "reached", 0,
        _.sortBy(r => (r._3, funnelStages.indexOf(r._2)))) {
      case (user, at, (_, et, ts)) =>
        if (at < funnelStages.length && et == funnelStages(at))
          (at + 1, Some((user, et, ts)))
        else (at, None)
    }

  /** Bounded purchase←click attribution on transformWithState LIST
    * state — the explicitly-bounded alternative to the watermarked
    * stream-stream join ([[purchaseClickJoin]]): instead of letting the
    * engine hold EVERY in-window click, the processor keeps at most
    * `maxClicks` recent clicks per user (newest win), so worst-case
    * state is maxClicks·16 B per user BY CONSTRUCTION. The trade: a
    * click storm can evict an older in-window click, which the join
    * twin never does. Rows apply in event-time order with clicks before
    * purchases at the same timestamp, matching the join's inclusive
    * `c_ts <= p_ts`, and clicks older than windowMs prune on every
    * touch. */
  private class ClickWindowProcessor(windowMs: Long, maxClicks: Int)
      extends StatefulProcessor[
        Long, (Long, String, Long, Long), (Long, Long, Long)] {
    @transient private var clicks: ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      clicks = getHandle.getListState[(Long, Long)]("clicks",
        enc[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, String, Long, Long)], timerValues: TimerValues)
        : Iterator[(Long, Long, Long)] = {
      var buf: Vector[(Long, Long)] =
        if (clicks.exists()) clicks.get().toVector else Vector.empty
      val out = List.newBuilder[(Long, Long, Long)]
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
    * purchase, holding at most maxClicks clicks of state per user. */
  def clickAttribution(
      events: Dataset[(Long, String, Long, Long)],
      windowMs: Long, maxClicks: Int)
      : Dataset[(Long, Long, Long)] =
    events.groupByKey(_._1)(enc[Long])
      .transformWithState(new ClickWindowProcessor(windowMs, maxClicks),
        TimeMode.None(), OutputMode.Append())(enc[(Long, Long, Long)])

  private val NoClick = (Long.MinValue, Long.MinValue)

  /** Streaming LAST-OBSERVATION as-of enrichment over interleaved
    * (user_id, kind, event_id, ts_us) rows, kind ∈ {click, purchase} —
    * the streaming twin of q_join_asof2. Each user's state is the latest
    * click so far as one (ts_us, click_id) pair, O(1) BY CONSTRUCTION,
    * unlike the stream-stream join's every in-window click. A purchase
    * emits (purchase_id, click_id, gap_us) from the current last click.
    * Rows apply in q_join_asof2's total order ((ts, kind, event_id),
    * clicks first at equal ts, the larger event_id winning click ties),
    * so replays and equal-ts rows across batches cannot regress the
    * state. */
  def asofEnrichStream(events: Dataset[(Long, String, Long, Long)])
      : Dataset[(Long, Long, Long)] =
    foldByKey(events)(_._1, "lastClick", NoClick,
        _.sortBy(r => (r._4, if (r._2 == "click") 0 else 1, r._3))) {
      case (_, last, (_, "click", id, ts)) =>
        val later = ts > last._1 || (ts == last._1 && id > last._2)
        (if (later) (ts, id) else last, None)
      case (_, last, (_, _, id, ts)) =>
        (last, Option.when(last != NoClick)((id, last._2, ts - last._1)))
    }

  /** Per-user streak state for [[streakAdvance]]: the O(1) record that
    * replaces q_window_islands' day-table walk — last active day,
    * current/longest run, island count, first day, total active days. */
  case class StreakState(lastDay: Long, curLen: Long, maxLen: Long,
      nIslands: Long, firstDay: Long, activeDays: Long) {
    /** A consecutive day extends the run, a jump opens a new island, and
      * a day at or before `lastDay` is a replay: a no-op. */
    def next(day: Long): StreakState =
      if (day <= lastDay) this
      else {
        val cur = if (day == lastDay + 1) curLen + 1 else 1L
        StreakState(day, cur, math.max(maxLen, cur),
          if (cur == 1L) nIslands + 1 else nIslands,
          math.min(firstDay, day), activeDays + 1)
      }
  }

  /** Streaming activity streaks over (user_id, epoch_day) rows — the
    * live twin of the batch q_window_islands query, with six longs of
    * state per user instead of a day table. Days must arrive
    * non-decreasing per user across batches; within a batch they sort
    * and dedup first. Emits a changelog row (user_id, n_islands,
    * longest, active_days, first_day) per touched user per batch; the
    * counters are monotone, so the latest row per user is the current
    * snapshot. */
  def streakAdvance(days: Dataset[(Long, Long)])
      : Dataset[(Long, Long, Long, Long, Long)] =
    foldByKey(days)(_._1, "streak",
        StreakState(Long.MinValue, 0L, 0L, 0L, Long.MaxValue, 0L),
        _.sortBy(_._2).distinctBy(_._2))(
      (_, s, row) => (s.next(row._2), None),
      (user, s) => Some((user, s.nIslands, s.maxLen, s.activeDays, s.firstDay)))

  /** Per-user automaton state for [[seqMatchAdvance]]: the O(1)-state
    * compilation of q_seq_match's three row patterns. `inV` is the
    * 'v[^p]*p' machine (inside an open conversion window), `eRun`/`cRun`
    * the current error/click run lengths, the rest the emitted
    * measures. Fixed size regardless of history length. */
  case class SeqMatchState(inV: Boolean, conv: Long, frus: Long,
      eRun: Int, maxC: Int, cRun: Int, n: Long) {
    /** One event through the automaton, with the same row-at-a-time
      * semantics as the batch q_seq_match regexes (BehaviorSpec pins the
      * batch side to the same walk). */
    def next(eventType: String): SeqMatchState = {
      val ch = eventType match {
        case "signup" => 's'; case "click" => 'c'; case "error" => 'e'
        case "view" => 'v'; case "purchase" => 'p'; case _ => 'x'
      }
      val (v, c) =
        if (ch == 'v') (true, conv)
        else if (ch == 'p' && inV) (false, conv + 1)
        else (inV, conv)
      val e = if (ch == 'e') eRun + 1 else 0
      val k = if (ch == 'c') cRun + 1 else 0
      SeqMatchState(v, c, if (e == 2) frus + 1 else frus, e,
        math.max(maxC, k), k, n + 1)
    }
  }

  /** Streaming sequence-pattern matching over (user_id, ts_us,
    * event_id, event_type) rows — the live twin of the batch
    * q_seq_match MATCH_RECOGNIZE query. The batch side folds each
    * user's history into a code string and runs regexes; this side runs
    * the equivalent automaton with a fixed-size record per user, rows in
    * (ts, event_id) order. Emits (user_id, n_events, conversions,
    * frustration, max_click_run) per touched user per batch; the latest
    * row per user (max n) is the current snapshot. */
  def seqMatchAdvance(events: Dataset[(Long, Long, Long, String)])
      : Dataset[(Long, Long, Long, Long, Long)] =
    foldByKey(events)(_._1, "seq",
        SeqMatchState(inV = false, 0L, 0L, 0, 0, 0, 0L),
        _.sortBy(r => (r._2, r._3)))(
      (_, s, row) => (s.next(row._4), None),
      (user, s) => Some((user, s.n, s.conv, s.frus, s.maxC.toLong)))

  /** Streaming LAST-TOUCH attribution over (user_id, event_type, ts_us,
    * event_id, value_cents) rows — the live twin of the batch
    * q_attribution window. The state is the user's most recent
    * non-purchase event type, and each purchase emits (user_id,
    * credited channel, value_cents) as it arrives ("direct" before any
    * touch). Rows apply in (ts, event_id) order, the batch window's
    * tie-break, so the machine equals the window's lag semantics as long
    * as batches respect event-time order per user. */
  def attributeLastTouch(events: Dataset[(Long, String, Long, Long, Long)])
      : Dataset[(Long, String, Long)] =
    foldByKey(events)(_._1, "channel", "direct",
        _.sortBy(r => (r._3, r._4))) {
      case (user, c, (_, "purchase", _, _, cents)) =>
        (c, Some((user, c, cents)))
      case (_, _, (_, et, _, _, _)) => (et, None)
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
