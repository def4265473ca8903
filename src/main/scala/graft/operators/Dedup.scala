package graft.operators

import graft.{Num, QueryDef, Tables}
import graft.functions.TextAnalysis.{h32, h32sql, h60, h60sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for LLM training-data curation (SURVEY.md §2B north
  * star): exact, n-gram Jaccard, MinHash-LSH, SimHash, and embedding-cosine
  * near-dup — over `documents` / `embeddings`.
  *
  * Algorithms per the published literature: MinHash resemblance sketches
  * (Broder, "On the resemblance and containment of documents", 1997) with
  * banded LSH (Indyk & Motwani 1998; the banding analysis as popularized
  * in Mining of Massive Datasets ch. 3); SimHash random-hyperplane
  * fingerprints (Charikar, "Similarity estimation techniques from
  * rounding algorithms", STOC 2002) with the chunked hamming lookup of
  * Manku et al., "Detecting near-duplicates for web crawling", WWW 2007.
  *
  * 100 TB design notes:
  *   - exact dedup is one hash-partitioned aggregation on md5(text) — the
  *     canonical map-side-combinable shape;
  *   - Jaccard / MinHash / SimHash never do an all-pairs join: candidates
  *     come from an equi-join on shingle / LSH-band / simhash-chunk keys,
  *     so the shuffle is keyed and bounded. Hot keys (stop-shingles) would
  *     be dropped by a document-frequency cap at scale;
  *   - the LSH parameters are chosen so candidate recall is *provably* 1.0
  *     for the emitted threshold (pigeonhole: fewer mismatching positions
  *     than bands/chunks forces at least one exact band/chunk match), which
  *     is what makes the DuckDB all-pairs oracle an exact check — the
  *     banded plan and the quadratic plan must produce identical output;
  *   - all hashes are md5-derived (portable) — see TextAnalysis.h32/h60.
  */
object Dedup {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Distinct 3-word shingles per doc: (doc_id, shingle). Docs shorter
    * than 3 tokens are excluded (both engines). The input is rebalanced
    * first: the testdata tables are single-row-group files, so without it
    * the whole explode+hash fan-out would run inside a one-partition scan
    * stage — the classic small-input/heavy-compute shape where an early
    * repartition buys full parallelism for a trivial shuffle.
    *
    * `dfCap` is the hot-key mitigation SCALING.md names: a shingle
    * appearing in more than `dfCap` documents is boilerplate (licenses,
    * headers, templates) — it blows the candidate self-join up
    * quadratically (df² pairs per hot shingle) while carrying ~no
    * near-dup signal. The over-cap list is tiny by construction, so it
    * broadcasts and the big relation is pruned by a broadcast anti-join
    * without reshuffling. Default: no cap (exact semantics, what the
    * oracle-checked queries use on the curated testdata). */
  private[graft] def shinglesOf(
      docs: DataFrame, dfCap: Int = Int.MaxValue): DataFrame = {
    val toks = split(col("text"), " ")
    val base = docs
      .transform(graft.Tables.fan(_, "doc_id"))
      .filter(size(toks) >= 3)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2))))).as("shingle"))
    if (dfCap == Int.MaxValue) base
    else capByDf(base, "shingle", dfCap).select(col("doc_id"), col("shingle"))
  }

  /** THE hot-key mitigation, shared by every capped plan: drop rows whose
    * `keyCol` value appears in more than `cap` documents. `rel` must be
    * one row per (doc, key) — keys distinct per doc — so count(*) per key
    * IS the document frequency. The fan-out feeds TWO branches (the df
    * count and the anti-join probe side); it is cached so the expensive
    * derivation above it runs once — at 100 TB that materialization is a
    * checkpoint to a bucketed table instead of executor memory.
    *
    * No broadcast hint on the over-cap list: with a PRODUCTION cap
    * (~1e4) it is tiny and AQE turns this into a broadcast anti-join on
    * its own from the observed size — but a hint would FORCE the
    * broadcast regardless, and a low cap (tests use 3) makes the hot
    * list grow with the corpus, risking the 8 GB / 512M-row broadcast
    * limits and driver memory at scale. Let the runtime decide from
    * actual sizes; correctness is identical either way. */
  private[graft] def capByDf(rel: DataFrame, keyCol: String, cap: Int)
      : DataFrame = {
    val b = rel.cache()
    // The OUTPUT materializes eagerly too (localCheckpoint, the
    // q_dedup_lsh_sweep discipline): every caller feeds the capped
    // relation to ≥3 plan branches (per-doc counts + both self-join
    // sides), some of which are broadcast builds that evaluate
    // CONCURRENTLY — with a lazy result, each replayed the cache scan +
    // anti-join per branch (q_dedup_ngram_capped profiled 4 identical
    // 2.6 MB exchange stages, ~1 s each, doing one relation's work
    // four times). Eager checkpoint runs the cap exactly once.
    b.join(hot(b, keyCol, cap), Seq(keyCol), "left_anti")
      .localCheckpoint()
  }

  private def hot(b: DataFrame, keyCol: String, cap: Int): DataFrame =
    b.groupBy(col(keyCol))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select(col(keyCol))

  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(t(s, dir, "documents"))

  /** 16 md5-derived minhashes per document over its 3-word shingles:
    * (doc_id, sig: array<long>). One md5 yields four 32-bit hash
    * functions (32 hex chars = 4×8), so 4 digests per shingle instead
    * of 16. Shared by q_dedup_minhash and the incremental near-dup
    * ingestion ([[graft.streaming.Streaming.nearDupIngestBatch]]) so
    * the stored band table and the batch query cannot drift. Documents
    * under 3 tokens produce no shingles and therefore no signature. */
  private[graft] def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = shinglesOf(docs).select(col("doc_id") +:
      (0 until 4).map(g =>
        md5(concat(lit(s"$g:"), col("shingle")).cast("binary")).as(s"m$g")): _*)
    sh.groupBy(col("doc_id")).agg(
      array(minhashSeeds.map { seed =>
        val m = col(s"m${seed / 4}")
        min(conv(substring(m, (seed % 4) * 8 + 1, 8), 16, 10).cast("long"))
      }: _*).as("sig"))
  }

  /** LSH band keys from signatures: (doc_id, band, band_key), 8 bands of
    * 2 rows — a shared (band, band_key) makes two docs candidates. */
  private[graft] def minhashBandKeys(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      posexplode(array((0 until minhashBands).map(b => concat_ws("_",
        element_at(col("sig"), 2 * b + 1),
        element_at(col("sig"), 2 * b + 2))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")

  /** Connected components of an undirected pair graph: (node, component,
    * cluster_size) with component = min node id in the component — the
    * pairs→clusters step keep-one-per-group dedup needs.
    *
    * Iterative min-label propagation with pointer jumping: each round,
    * every node takes the min label over itself and its neighbors (one
    * hop), then label := label's label (halves the remaining distance),
    * so convergence is O(log diameter) rounds, not O(diameter); at
    * 100 TB the same primitive is large-star/small-star (Kiveris et
    * al., "Connected components in MapReduce and beyond", SoCC 2014) —
    * always a per-round keyed shuffle, never an all-pairs closure.
    *
    * Two lessons this loop encodes (measured, see the bench history):
    * lineage MUST be truncated each round with an eager checkpoint
    * (lazy self-referencing plans make Catalyst re-optimize an
    * exponentially deepening tree — 13s of pure planning by round 2),
    * and the iterative stage re-sizes partitioning to the EDGE LIST,
    * which is orders smaller than the corpus (dup clusters are sparse).
    * The edge list's partition count is derived from the observed edge
    * count (one partition per ~50k edges, capped at the session
    * default) — the r3 bench showed the loop's cost is per-round FIXED
    * JOB OVERHEAD, so a 47-node graph must not pay 32-task stages six
    * rounds in a row. The loop's interior shuffles are left to AQE
    * coalescing rather than a session-global shuffle-partition
    * override: mutating the session conf would silently resize every
    * CONCURRENT query's shuffles (measured cost of leaving it alone:
    * ~0.3s on the sf0.1 bench — cheap insurance).
    *
    * `checkpointDir`: when set, rounds checkpoint to that (reliable)
    * directory — the cluster-reality mode, survives executor loss; when
    * None, eager localCheckpoint (executor-local, fine on local[n] and
    * in the bench). */
  private[graft] def connectedComponents(
      pairs: DataFrame, checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def cp(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // Materializes the caller's pair plan once; the count sizes the
    // loop's parallelism to the working set (edges = 2·pairs).
    val nEdges = 2L * pairs.count()
    val defaultSP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = math.max(1L, math.min(defaultSP.toLong, nEdges / 50000L + 1)).toInt
    val edges = pairs
      .select(col("id_a"), col("id_b"))
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .repartition(parts, col("id_a"))
      .cache() // drives every propagation round
    try {
      // Seed with label₀ = min(v, min neighbor) — one aggregate over
      // the cached edges. Round 1's hop would compute exactly this
      // from identity labels, so the seed is a whole round's joins
      // bought for one groupBy (r15; the fixed per-round job overhead
      // is what dominates the loop on the sparse pair graphs every
      // consumer feeds it — q_graph_boruvka profiled 87 jobs).
      var labels = cp(edges.groupBy(col("id_a"))
        .agg(least(col("id_a"), min(col("id_b"))).as("label"))
        .select(col("id_a").as("node"), col("label")))
      var converged = false
      var rounds = 0
      while (!converged && rounds < 20) {
        val hop = labels
          .join(edges, col("node") === col("id_a"), "left")
          .join(labels.select(col("node").as("nb_node"),
            col("label").as("nb_label")), col("id_b") === col("nb_node"), "left")
          .groupBy(col("node"))
          .agg(min(col("label")).as("old"),
            // least() skips nulls, so nodes whose left joins matched
            // nothing keep their own label
            least(min(col("label")), min(col("nb_label"))).as("label"))
        // ONE pointer jump per round, as in r14. A double jump was
        // tried (r15) and measured WORSE: the extra self-joins
        // reference `hop`/`j1` twice each, and every duplicated
        // broadcast subtree spawns its own build job — boruvka's loop
        // went 87 → 133 jobs, job overhead being exactly the cost the
        // change was meant to cut. Negative result; the seed above is
        // the part that survived its A/B.
        val next = cp(hop
          .join(hop.select(col("node").as("l_node"), col("label").as("l_label")),
            col("label") === col("l_node"), "left")
          .select(col("node"), col("old"),
            least(col("label"), col("l_label")).as("label")))
        // the checkpoint above already materialized `next`; this runs on
        // the checkpointed blocks (parts tasks, no recompute) and stops
        // at the first changed row
        converged = next.filter(col("label") =!= col("old")).isEmpty
        labels = next.drop("old")
        rounds += 1
      }
      // min-label + pointer jumping converges in O(log diameter); hitting
      // the cap means the graph (or the loop) is broken — wrong labels
      // must not be returned silently (ADVICE r3).
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge in $rounds rounds " +
          s"($nEdges edges) — pointer jumping should need O(log d) rounds")
      // singletons never enter the pair graph, so every node here has ≥1
      // edge; sizes come from the final labels
      // sizes is |components| rows — ∝ corpus, so the size-attach join
      // is shuffle_hash (hash table from the component side, keyed on
      // the label both relations already shuffle by), never a forced
      // broadcast that would driver-OOM on a 100 TB pair graph
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("sz"))
      labels.join(sizes.hint("shuffle_hash"), "label")
        .select(col("node"), col("label").as("component"),
          col("sz").as("cluster_size"))
      // labels is checkpointed, so the result never re-reads the edge
      // cache; unpersisting in finally also covers the non-convergence
      // throw (a leaked cache would otherwise outlive the failure)
    } finally edges.unpersist()
  }

  /** The same relation as DuckDB SQL (CTE body). */
  private val shinglesSql: String =
    """sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3)""".stripMargin

  /** The document-frequency cap the capped twin runs (Spark AND oracle —
    * the constant must be identical on both sides for the hash check to
    * mean anything). 3 is deliberately low for the curated testdata so
    * the cap provably PRUNES (615 shingles at sf0.01): a production cap
    * would be ~1e4, but a cap that never fires verifies nothing. */
  private val ngramDfCap = 3

  /** Shared exact-Jaccard pair pipeline over hashed shingles (doc_id,
    * sid): candidates share ≥1 shingle (any pair with J ≥ 0.8 must),
    * exact J computed from shared/total counts. Used by the uncapped and
    * df-capped n-gram queries — same plan, different shingle relation —
    * and by CurationPipelineSpec's end-to-end funnel. */
  /** Exact-substring span dedup core over a (doc_id, text) relation —
    * q_dedup_substr's pipeline factored out so DedupSpec can pin the
    * coverage semantics on hand-built documents (window off-by-ones
    * are invisible at corpus scale). See the QueryDef header for the
    * algorithm and scale argument. */
  /** Excision window (tokens) for exact-substring dedup — the span
    * length below which a duplicated region is ignored. Lee et al.
    * ACL'22 run production at ~50; the testdata default stays at 4 so
    * duplicated spans actually OCCUR in the synthetic corpus (the
    * ngramDfCap "a knob that never fires verifies nothing" rule). The
    * SAME value threads through the Spark plan, the generated oracle
    * SQL, and the streaming span-table ingest — r9 VERDICT task 3
    * replaced the four hard-coded literals with this parameter;
    * DedupSpec pins a SECOND window length against a sequential
    * re-derivation so the generalized arithmetic can't silently
    * regress to the 4-token special case. */
  private[graft] val substrWindow = 4

  /** The (doc_id, start, sid) `window`-token span relation over a
    * (doc_id, text) input — one row per span occurrence, sid the
    * shared 60-bit hash. Shared by [[substrDedup]] and the streaming
    * span-table ingest ([[graft.streaming.Streaming.spanIngestBatch]]),
    * so batch and incremental paths hash identical spans by
    * construction. */
  private[graft] def spanRelation(
      docs: DataFrame, window: Int = substrWindow): DataFrame = {
    require(window >= 2, s"span window must be >= 2, got $window")
    val d = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")))
    val spanStruct = transform(sequence(lit(1), col("n") - (window - 1)),
      i => struct(i.as("s"),
        h60(concat_ws(" ",
          (0 until window).map(k => element_at(col("w"), i + k)): _*))
          .as("sid")))
    d.filter(col("n") >= window)
      .select(col("doc_id"), explode(spanStruct).as("u"))
      .select(col("doc_id"), col("u.s").as("s"), col("u.sid").as("sid"))
  }

  private[graft] def substrDedup(
      docs: DataFrame, window: Int = substrWindow): DataFrame = {
    val d = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")))
    // the span relation feeds BOTH the dup derivation and the per-doc
    // start collection — cache so the explode + span-hash pass runs
    // once (the jaccardPairs sh-cache discipline; modest here —
    // 2.4→2.2 s at sf0.1, the joins dominate — but it keeps the
    // second consumer from rescanning documents at 100 TB).
    // CACHE CONTRACT (r9 VERDICT task 7): the returned DataFrame is
    // LAZY, so this builder cannot unpersist before its consumer
    // materializes; the caller owns release — Bench/Verify call
    // spark.catalog.clearCache() per query, and a long-lived session
    // should do the same after materializing (blocks are evictable
    // MEMORY_AND_DISK either way, never pinned).
    val sp = spanRelation(docs, window).cache()
    val dup = sp.groupBy(col("sid"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("sid"))
    val ds = sp.join(dup, Seq("sid"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("s"))).as("dups"))
    // token i is covered iff a duplicated span STARTS in
    // [i − (window−1), i] — the one place the window length enters the
    // coverage arithmetic
    val keepIdx = filter(sequence(lit(1), col("n")),
      i => !exists(col("dups"), sc => sc >= i - (window - 1) && sc <= i))
    d.join(ds, Seq("doc_id"), "left")
      .withColumn("dups",
        coalesce(col("dups"), array().cast("array<int>")))
      .withColumn("keepidx", keepIdx)
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        (col("n") - size(col("keepidx"))).cast("long").as("n_removed"),
        array_join(transform(col("keepidx"),
          i => element_at(col("w"), i)), " ").as("cleaned"),
        Num.r((col("n") - size(col("keepidx"))) * lit(1e0) / col("n"), 6)
          .as("removed_frac"))
  }

  private[graft] def jaccardPairs(sh: DataFrame): DataFrame = {
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // No explicit repartition here (r15 measured): the candidate
    // expansion inherits its width from the caller's shingle relation
    // (shinglesOf pins its fan-out width), and forcing a sid-keyed
    // shuffle of the raw relation costs a ~20 MB exchange and kills
    // the broadcast plan q_dedup_ngram's cached sh gets — measured
    // 1.45 → 2.6 s before this was reverted.
    val a = sh.select(col("doc_id").as("id_a"), col("sid"))
    val b = sh.select(col("doc_id").as("id_b"), col("sid").as("sid_b"))
    val pairs = a.join(b,
        col("sid") === col("sid_b") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    val jac = col("shared") * lit(1.0) /
      (col("na") + col("nb") - col("shared"))
    pairs
      .join(cnt.select(col("doc_id").as("id_a2"), col("n").as("na")),
        col("id_a") === col("id_a2"))
      .join(cnt.select(col("doc_id").as("id_b2"), col("n").as("nb")),
        col("id_b") === col("id_b2"))
      .filter(jac >= 0.8)
      .select(col("id_a"), col("id_b"), Num.r(jac, 6).as("jaccard"))
  }

  /** AllPairs/PPJoin candidate generation for J ≥ 0.8 over a hashed
    * shingle relation `sh(doc_id, sid)` (distinct per doc): rank each
    * doc's shingles in the global (df ASC, sid ASC) order, keep the
    * first n − ⌈4n/5⌉ + 1 as the doc's prefix, and emit distinct
    * (id_a < id_b) pairs whose prefixes share a shingle and whose sizes
    * pass the length filter 4·n_max ≤ 5·n_min. Sound by the prefix
    * theorem: |A∩B| ≥ ⌈0.8·max(n_a,n_b)⌉ forces an overlap inside both
    * prefixes under any shared total order. Shared by q_dedup_ppjoin
    * and the DedupSpec candidate-reduction pin so the two cannot
    * drift. */
  private[graft] def ppjoinCandidates(sh: DataFrame): DataFrame = {
    val dfc = sh.groupBy(col("sid")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = sh.join(dfc, "sid")
      .withColumn("n", count(lit(1)).over(byDoc))
      .withColumn("r", row_number().over(
        byDoc.orderBy(col("df").asc, col("sid").asc)))
    val prefix = ranked
      .filter(col("r") <= col("n") - expr("(4 * n + 4) div 5") + lit(1))
      .select(col("doc_id"), col("sid"), col("n"))
    prefix.select(col("doc_id").as("id_a"), col("sid"), col("n").as("na"))
      .join(prefix.select(col("doc_id").as("id_b"),
          col("sid").as("sid_b"), col("n").as("nb")),
        col("sid") === col("sid_b") && col("id_a") < col("id_b") &&
          col("na") * 4 <= col("nb") * 5 && col("nb") * 4 <= col("na") * 5)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** The same pair pipeline as DuckDB SQL, over shingle relation `rel`
    * (must expose doc_id, shingle). */
  private def jaccardPairsSql(rel: String): String =
    s"""shh AS (SELECT doc_id, ${h60sql("shingle")} AS sid FROM $rel),
      |$jaccardPairsCoreSql""".stripMargin

  /** The pair pipeline body, assuming a relation `shh(doc_id, sid)` is
    * already defined — lets the capped twin hash FIRST and cap on the
    * hashed ids. */
  private def jaccardPairsCoreSql: String =
    s"""cnt AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |  FROM shh a JOIN shh b ON a.sid = b.sid AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  ${Num.sql("p.shared * 1.0 / (ca.n + cb.n - p.shared)", 6)} AS jaccard
      |FROM pairs p
      |JOIN cnt ca ON p.id_a = ca.doc_id
      |JOIN cnt cb ON p.id_b = cb.doc_id
      |WHERE p.shared * 1.0 / (ca.n + cb.n - p.shared) >= 0.8""".stripMargin

  private val minhashSeeds = 0 until 16 // 8 bands × 2 rows
  private val minhashBands = 8
  private val agreeThreshold = 10 // > 16 - 8 ⇒ banded recall is exactly 1

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Exact dedup: hash-group on md5(text), keep the smallest doc_id as
    // canonical. One shuffle, map-side combinable, no skew (md5 keys).
    QueryDef(
      "q_dedup_exact",
      """SELECT min(doc_id) AS canonical_id, count(*) AS n_copies,
        |  min(n_chars) AS n_chars
        |FROM documents GROUP BY md5(text)""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(
          min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_copies"),
          min(col("n_chars")).as("n_chars"))
        .select(col("canonical_id"), col("n_copies"), col("n_chars"))
    },

    // ------------------------------------------------------------------
    // EXACT-SUBSTRING span dedup (Lee et al., "Deduplicating Training
    // Data Makes Language Models Better", ACL 2022 — the ExactSubstr
    // operation): instead of dropping whole near-dup DOCUMENTS, excise
    // the duplicated SPANS and keep the unique remainder — the
    // treatment for boilerplate/licenses/templates that contaminate
    // otherwise-unique documents. Suffix-array machinery reduces, in
    // the fixed-window regime, to: hash every W-token span (W =
    // substrWindow, ONE constant threaded through the Spark plan, the
    // generated oracle SQL, and the streaming span ingest; 4 here so
    // testdata spans actually collide, ~50 in Lee et al.'s production
    // setting), find spans
    // occurring in ≥2 distinct documents, and drop every token covered
    // by a duplicated span (token i is covered iff a duplicated span
    // starts in [i−(W−1), i]). Output is the REWRITTEN text plus exact
    // removal counts — the cleaned corpus a pipeline feeds forward.
    // Scale shape: the span table is a keyed explode (8-byte hashed
    // ids, the shingle discipline), the ≥2-docs span set stays a keyed
    // semi-join (corpus-sized — never broadcast), and the only
    // per-doc state is the sorted duplicated-start array, bounded by
    // the document's own token count (the listagg/collect_set
    // doc-bounded contract); coverage + rewrite run inside one codegen
    // array projection. The oracle replays every step in DuckDB list
    // algebra, so a coverage off-by-one (a 3-vs-4 window slip) or a
    // join that drops span multiplicity hash-mismatches on the
    // rewritten STRINGS themselves.
    QueryDef(
      "q_dedup_substr",
      {
        // the window literal enters the oracle in three places — span
        // count, span text, coverage bound — all generated from the
        // ONE substrWindow constant the Spark plan uses
        val wspan = (0 until substrWindow)
          .map(k => if (k == 0) "w[i]" else s"w[i+$k]")
          .mkString(" || ' ' || ")
        s"""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |sp0 AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, n - ${substrWindow - 2}),
        |    i -> struct_pack(s := i, sid := ${h60sql(wspan)}
        |    ))) AS u
        |  FROM d WHERE n >= $substrWindow),
        |sp AS (SELECT doc_id, u.s AS s, u.sid AS sid FROM sp0),
        |dup AS (SELECT sid FROM sp GROUP BY sid
        |        HAVING count(DISTINCT doc_id) >= 2),
        |ds AS (
        |  SELECT sp.doc_id, list_sort(list(sp.s)) AS dups
        |  FROM sp JOIN dup USING (sid) GROUP BY 1),
        |o AS (
        |  SELECT d.doc_id, d.n, d.w,
        |    list_filter(range(1, d.n + 1),
        |      i -> len(list_filter(coalesce(ds.dups, CAST([] AS BIGINT[])),
        |        s -> s >= i - ${substrWindow - 1} AND s <= i)) = 0)
        |      AS keepidx
        |  FROM d LEFT JOIN ds ON d.doc_id = ds.doc_id)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(n - len(keepidx) AS BIGINT) AS n_removed,
        |  -- a FULLY-removed doc: DuckDB's array_to_string(empty) is
        |  -- NULL where Spark's array_join is '' — coalesce to match
        |  coalesce(array_to_string(list_transform(keepidx, i -> w[i]),
        |    ' '), '') AS cleaned,
        |  ${Num.sql("(n - len(keepidx)) * 1e0 / n", 6)} AS removed_frac
        |FROM o""".stripMargin
      }) { (s, dir) =>
      substrDedup(t(s, dir, "documents").select(col("doc_id"), col("text")))
    },

    // ------------------------------------------------------------------
    // Exact n-gram Jaccard near-dup: candidates share ≥1 shingle (any pair
    // with J ≥ 0.8 must), exact J computed from shared/total counts. The
    // join key is the 60-bit md5 of the shingle, not the string — an 8-byte
    // shuffle key instead of ~25 bytes, and both engines hash identically
    // so any (≈2⁻⁶⁰) collision is deterministic on both sides.
    QueryDef(
      "q_dedup_ngram",
      s"""WITH $shinglesSql,
        |${jaccardPairsSql("sh")}""".stripMargin) { (s, dir) =>
      // The hashed shingle relation feeds three plan branches (doc counts
      // + both self-join sides); cache it so the explode+md5 work runs
      // once. ~16 B/row — at 100 TB this would be a checkpoint to a
      // bucketed table instead.
      jaccardPairs(shingles(s, dir)
        .select(col("doc_id"), h60(col("shingle")).as("sid")).cache())
    },

    // ------------------------------------------------------------------
    // The df-CAPPED n-gram twin — the plan you'd actually run at 100 TB.
    // Identical to q_dedup_ngram except shingles appearing in more than
    // `ngramDfCap` documents are dropped first (boilerplate carries ~no
    // near-dup signal but inflates the candidate self-join by df² pairs
    // per hot shingle). The cap changes the per-doc shingle counts, so
    // the emitted Jaccard VALUES differ from the uncapped query — this
    // is a real hash check of the capped semantics, not a rerun. The
    // oracle expresses the same cap with the same constant; on the
    // curated testdata the surviving pair SET is cap-invariant (measured:
    // 615 pruned shingles at sf0.01, same 25 pairs), which is itself the
    // design claim — hot shingles are pure join-blowup, zero recall.
    // The cap is applied to the HASHED shingle id, not the string: the
    // hash is computed exactly once per (doc, shingle) anyway, and
    // capping after it means the df-count shuffle, the anti-join probe,
    // and the ONE cache all carry 8-byte longs instead of ~20-byte
    // shingle strings (shingles are distinct per doc, so df-per-sid ==
    // df-per-shingle up to 60-bit collisions — and both engines hash
    // identically, so even a collision is bit-identical cross-engine).
    // Measured at sf0.1: 4.5 s (string-cap + double cache) → ~2 s.
    QueryDef(
      "q_dedup_ngram_capped",
      s"""WITH $shinglesSql,
        |shh0 AS (SELECT doc_id, ${h60sql("shingle")} AS sid FROM sh),
        |shh AS (
        |  SELECT doc_id, sid FROM shh0
        |  WHERE sid NOT IN (
        |    SELECT sid FROM shh0 GROUP BY 1 HAVING count(*) > $ngramDfCap)),
        |$jaccardPairsCoreSql""".stripMargin) { (s, dir) =>
      // the same capByDf mitigation as shinglesOf(dfCap), applied AFTER
      // hashing so the df-count shuffle, the anti-join probe, and the
      // one cache all carry 8-byte longs
      jaccardPairs(capByDf(
        shingles(s, dir).select(col("doc_id"), h60(col("shingle")).as("sid")),
        "sid", ngramDfCap))
    },

    // ------------------------------------------------------------------
    // PREFIX-FILTERED exact similarity self-join — the AllPairs/PPJoin
    // candidate discipline (Bayardo et al., "Scaling Up All Pairs
    // Similarity Search", WWW 2007; Xiao et al., "Efficient Similarity
    // Joins for Near Duplicate Detection", WWW 2008), the third
    // candidate-generation strategy beside the full shingle join
    // (q_dedup_ngram) and the df-cap (q_dedup_ngram_capped) — and unlike
    // the cap it is EXACT BY THEOREM, not by curation: sort each doc's
    // shingles in one global total order (df ASC, sid ASC — rarest
    // first) and keep only the first p = n − ⌈0.8·n⌉ + 1 as its PREFIX;
    // any pair with J ≥ 0.8 must overlap by ≥ ⌈0.8·min(n_a,n_b)⌉, so its
    // prefixes must intersect — candidates are pairs sharing a PREFIX
    // shingle (plus the length filter 4·max ≤ 5·min), verified exactly
    // against the full sorted shingle sets. The oracle is the SAME SQL
    // as q_dedup_ngram: this query's claim IS that prefix filtering
    // loses nothing, so the plain formulation is its ground truth.
    // All arithmetic is integer-exact: ⌈4n/5⌉ = (4n+4) div 5 — never
    // 0.8·n in doubles (0.8 has no binary representation).
    // 100 TB: the prefix join's fan-out is Σ df_prefix² over PREFIX
    // occurrences only — df-ascending order puts boilerplate shingles
    // LAST, so hot keys enter no prefix unless a doc is nearly all
    // boilerplate; every shuffle is keyed (sid df-count, doc_id window,
    // candidate distinct, set join); per-doc state is the doc-bounded
    // sorted shingle array (the substrDedup contract). DedupSpec pins
    // candidates(prefix) strictly below candidates(full join) at equal
    // output.
    QueryDef(
      "q_dedup_ppjoin",
      s"""WITH $shinglesSql,
        |${jaccardPairsSql("sh")}""".stripMargin) { (s, dir) =>
      // the hashed relation feeds three branches (df counts, the ranked
      // prefixes, the verification sets) — cache under the QueryDef
      // clearCache contract; a 100 TB run checkpoints to a bucketed table
      val sh = shingles(s, dir)
        .select(col("doc_id"), h60(col("shingle")).as("sid")).cache()
      val cand = ppjoinCandidates(sh)
      val sets = sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("sid"))).as("ss"),
          count(lit(1)).as("n"))
      val j = cand
        .join(sets.select(col("doc_id").as("id_a"), col("ss").as("ss_a"),
          col("n").as("na")), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("ss").as("ss_b"),
          col("n").as("nb")), "id_b")
        .withColumn("shared",
          size(array_intersect(col("ss_a"), col("ss_b"))).cast("long"))
      val jac = col("shared") * lit(1.0) /
        (col("na") + col("nb") - col("shared"))
      j.filter(jac >= 0.8)
        .select(col("id_a"), col("id_b"), Num.r(jac, 6).as("jaccard"))
    },

    // ------------------------------------------------------------------
    // MinHash-LSH near-dup: 16 md5-derived minhashes per doc, 8 bands × 2
    // rows; candidates share a band; emit pairs agreeing on ≥ 10/16
    // positions. agree ≥ 10 ⇒ ≤ 6 mismatches < 8 bands ⇒ some band matches
    // ⇒ the banded join finds every qualifying pair (recall exactly 1), so
    // the all-pairs oracle is an equality check, not an approximation.
    QueryDef(
      "q_dedup_minhash",
      s"""WITH $shinglesSql,
        |shm AS (
        |  SELECT doc_id,
        |    md5('0:' || shingle) AS m0, md5('1:' || shingle) AS m1,
        |    md5('2:' || shingle) AS m2, md5('3:' || shingle) AS m3
        |  FROM sh),
        |mh AS (
        |  SELECT doc_id, seed,
        |    min(CAST('0x' || substr(
        |      CASE seed // 4 WHEN 0 THEN m0 WHEN 1 THEN m1
        |                     WHEN 2 THEN m2 ELSE m3 END,
        |      (seed % 4) * 8 + 1, 8) AS BIGINT)) AS h
        |  FROM shm, (SELECT unnest(range(0, 16)) AS seed)
        |  GROUP BY doc_id, seed),
        |sig AS (SELECT doc_id, list(h ORDER BY seed) AS sig FROM mh GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_filter(range(1, 17), k -> a.sig[k] = b.sig[k])) AS agree
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(range(1, 17), k -> a.sig[k] = b.sig[k])) >= 10""".stripMargin) { (s, dir) =>
      // sig feeds both sides of the band join — cache (5k rows × 16 longs).
      val sig = minhashSignatures(t(s, dir, "documents")).cache()
      // LSH bands: (band index, band key) per doc; a shared band ⇒ candidate.
      // The band join and the (id_a, id_b) dedup that follows it carry
      // ONLY the two 8-byte ids — a pair sharing k bands reaches the
      // dedup exchange k times, so every extra byte on these rows is
      // multiplied by the collision factor (the r3 bench measured 2×
      // when the two 16-long signatures rode along). Signatures are
      // joined back AFTER the dedup, once per surviving pair.
      val banded = minhashBandKeys(sig)
      val left = banded.select(col("doc_id").as("id_a"),
        col("band"), col("band_key"))
      val right = banded.select(col("doc_id").as("id_b"),
        col("band").as("band_b"), col("band_key").as("band_key_b"))
      val cand = left.join(right,
          col("band") === col("band_b") && col("band_key") === col("band_key_b")
            && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .dropDuplicates("id_a", "id_b")
      val agree = aggregate(
        zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x)
      cand
        .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
        .select(col("id_a"), col("id_b"), agree.as("agree"))
        .filter(col("agree") >= agreeThreshold)
    },

    // ------------------------------------------------------------------
    // SimHash near-dup: 60-bit md5-derived simhash over all token
    // occurrences; pairs at hamming distance ≤ 3 found via 4×15-bit chunk
    // banding (≤ 3 flipped bits < 4 chunks ⇒ some chunk equal ⇒ recall 1).
    QueryDef(
      "q_dedup_simhash",
      s"""WITH tok AS (
        |  SELECT doc_id, ${h60sql("t")} AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
        |bits AS (
        |  SELECT doc_id, j,
        |    CASE WHEN sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) >= 0
        |         THEN 1::BIGINT << j ELSE 0 END AS bitval
        |  FROM tok, (SELECT unnest(range(0, 60)) AS j)
        |  GROUP BY doc_id, j),
        |sh2 AS (SELECT doc_id, sum(bitval)::BIGINT AS simhash FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin) { (s, dir) =>
      val toks = t(s, dir, "documents")
        .transform(graft.Tables.fan(_, "doc_id")) // parallelize the hash fan-out
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), h60(col("tok")).as("h"))
      // Collapse duplicate tokens FIRST (map-side-combinable count on
      // (doc_id, h)), then run the 60-way conditional-sum fan-out over
      // DISTINCT tokens weighted by cnt: the expensive 60 aggregates
      // evaluate once per distinct token instead of once per occurrence.
      val tokCnt = toks.groupBy(col("doc_id"), col("h"))
        .agg(count(lit(1)).as("cnt"))
      val aggCols = (0 until 60).map(j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1, col("cnt"))
          .otherwise(-col("cnt"))).as(s"b$j"))
      val bitSums = tokCnt.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
      val simhash = (0 until 60).map(j =>
        when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      // feeds both chunk-join sides — cache (one long per doc).
      val sigs = bitSums.select(col("doc_id"), simhash.as("simhash")).cache()
      // 4 × 15-bit chunk banding.
      val chunked = sigs.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("simhash"), 15 * c).bitwiseAND(lit(0x7fffL))): _*)))
        .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_key")
      val l = chunked.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"),
        col("chunk"), col("chunk_key"))
      val r = chunked.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"),
        col("chunk").as("chunk_b"), col("chunk_key").as("chunk_key_b"))
      l.join(r, col("chunk") === col("chunk_b")
          && col("chunk_key") === col("chunk_key_b")
          && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
        .dropDuplicates("id_a", "id_b")
        .filter(col("hamming") <= 3)
    },

    // ------------------------------------------------------------------
    // Embedding-cosine near-dup: brute-force verified pairs at this scale
    // (the oracle-checkable ground truth); the 100 TB path is
    // q_dedup_embed_lsh below, which restricts candidates to a sign-LSH
    // bucket (Similarity.bucketCol) and replaces the cross join with a
    // keyed equi-join. Norms are computed once per vector BEFORE the join.
    QueryDef(
      "q_dedup_embed",
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)))
        |      / sqrt(a.n2 * b.n2) AS c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ${Num.sql("c", 6)} AS cos
        |FROM p WHERE c >= 0.4""".stripMargin) { (s, dir) =>
      // The codegen'd CosineSimilarity expression folds dot/norms in the
      // same left-to-right element order as the oracle's list_sum, so the
      // results are bitwise identical — but it runs inside whole-stage
      // codegen instead of the interpreted higher-order-function path.
      // rebalance the streamed side so pair scoring uses every core
      val e = t(s, dir, "embeddings").transform(graft.Tables.fan(_, "vec_id"))
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos", expr("graft_cosine(emb_a, emb_b)"))
        .filter(col("cos") >= 0.4)
        .select(col("id_a"), col("id_b"), Num.r(col("cos"), 6).as("cos"))
    },

    // ------------------------------------------------------------------
    // LSH-bucketed embedding near-dup — the 100 TB shape. Each vector is
    // assigned a sign-LSH bucket (Similarity.bucketCol, deterministic
    // md5-derived hyperplanes, same literals baked into the oracle), and
    // pairs are scored only WITHIN a bucket: the all-pairs cross join of
    // q_dedup_embed becomes a keyed equi-join on the bucket id, shrinking
    // candidates ~2^bits× while keeping the plan shuffle-keyed. The
    // oracle expresses the SAME bucketed semantics, so the check is
    // exact, not approximate; q_dedup_embed remains the recall baseline.
    // PlanSpec asserts this plan contains no cartesian/nested-loop join.
    QueryDef(
      "q_dedup_embed_lsh",
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2,
        |    ${Similarity.bucketSql("embedding")} AS bucket
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)))
        |      / sqrt(a.n2 * b.n2) AS c
        |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ${Num.sql("c", 6)} AS cos
        |FROM p WHERE c >= 0.4""".stripMargin) { (s, dir) =>
      // bucket fold feeds both join sides — cache (id, 64 floats, 1 int)
      val e = t(s, dir, "embeddings")
        .transform(graft.Tables.fan(_, "vec_id"))
        .select(col("vec_id"), col("embedding"),
          Similarity.bucketCol(col("embedding")).as("bucket"))
        .cache()
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("bucket"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
        col("bucket").as("bucket_b"))
      a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
        .withColumn("cos", expr("graft_cosine(emb_a, emb_b)"))
        .filter(col("cos") >= 0.4)
        .select(col("id_a"), col("id_b"), Num.r(col("cos"), 6).as("cos"))
    },

    // ------------------------------------------------------------------
    // Near-dup CLUSTERS — the step after pairwise detection that real
    // dedup needs: pairs only say "a resembles b"; keeping one copy per
    // GROUP requires the connected components of the resemblance graph —
    // see [[connectedComponents]] (min-label propagation + pointer
    // jumping; DedupSpec pins it on synthetic chain/triangle graphs).
    // The DuckDB oracle computes the same components by recursive-CTE
    // transitive closure (fine at oracle scale, "don't ever do this at
    // 100 TB" — which is the point of the Spark plan). component = min
    // doc_id reachable, so output is deterministic.
    QueryDef(
      "q_dedup_components",
      s"""WITH $shinglesSql,
        |shh AS (SELECT doc_id, ${h60sql("shingle")} AS sid FROM sh),
        |cnt AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM shh a JOIN shh b ON a.sid = b.sid AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM cand p
        |  JOIN cnt ca ON p.id_a = ca.doc_id
        |  JOIN cnt cb ON p.id_b = cb.doc_id
        |  WHERE p.shared * 1.0 / (ca.n + cb.n - p.shared) >= 0.8),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION ALL SELECT id_b, id_a FROM pairs),
        |r AS (
        |  WITH RECURSIVE reach(a, b) AS (
        |    SELECT a, b FROM e
        |    UNION
        |    SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a)
        |  SELECT * FROM reach)
        |SELECT a AS doc_id, min(b) AS component,
        |  count(DISTINCT b) AS cluster_size
        |FROM r GROUP BY a""".stripMargin) { (s, dir) =>
      // (in the closure every edge-bearing node reaches ITSELF via any
      // a→b→a path, so min(b) covers the self label and count(DISTINCT b)
      // is exactly the component size)
      // reuse the verified pair plan: shingle equi-join candidates +
      // exact Jaccard filter (same derivation as q_dedup_ngram)
      val sh = shingles(s, dir)
        .select(col("doc_id"), h60(col("shingle")).as("sid")).cache()
      val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val cand = sh.select(col("doc_id").as("id_a"), col("sid"))
        .join(sh.select(col("doc_id").as("id_b"), col("sid").as("sid_b")),
          col("sid") === col("sid_b") && col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      val pairs = cand
        .join(cnt.select(col("doc_id").as("id_a2"), col("n").as("na")),
          col("id_a") === col("id_a2"))
        .join(cnt.select(col("doc_id").as("id_b2"), col("n").as("nb")),
          col("id_b") === col("id_b2"))
        .filter(col("shared") * lit(1.0) /
          (col("na") + col("nb") - col("shared")) >= 0.8)
        .select(col("id_a"), col("id_b"))
        .cache() // feeds both directions of the edge union
      val cc = connectedComponents(pairs)
      // labels are checkpointed inside connectedComponents, so the
      // result no longer depends on these intermediates (ADVICE r3:
      // leaking them accumulates cached self-join inputs across a
      // full-suite run)
      pairs.unpersist()
      sh.unpersist()
      cc.withColumnRenamed("node", "doc_id")
    },

    // ------------------------------------------------------------------
    // Benchmark decontamination — the cross-corpus overlap check every
    // training-data pipeline runs before a model ships: what fraction of
    // each corpus document's 3-gram shingles also appears in a held-out
    // benchmark set (here: docs 0..19 stand in for an eval suite)?
    // The 100 TB shape: the benchmark's distinct shingle hashes are
    // SMALL by definition (eval suites are thousands of documents, not
    // billions), so they broadcast; the corpus side streams through a
    // broadcast hash join keyed on the 60-bit shingle hash and reduces
    // to two counts per doc — no corpus-side self-join anywhere.
    QueryDef(
      "q_text_decontam",
      s"""WITH $shinglesSql,
        |shh AS (SELECT doc_id, ${h60sql("shingle")} AS sid FROM sh),
        |bench AS (SELECT DISTINCT sid FROM shh WHERE doc_id < 20),
        |tot AS (SELECT doc_id, count(*) AS n_sh FROM shh
        |        WHERE doc_id >= 20 GROUP BY 1),
        |hit AS (SELECT s.doc_id, count(*) AS n_hit
        |        FROM shh s JOIN bench b ON s.sid = b.sid
        |        WHERE s.doc_id >= 20 GROUP BY 1)
        |SELECT t.doc_id, t.n_sh, coalesce(h.n_hit, 0) AS n_hit,
        |  ${Num.sql("coalesce(h.n_hit, 0) * 1.0 / t.n_sh", 6)} AS overlap_frac,
        |  coalesce(h.n_hit, 0) * 1.0 / t.n_sh >= 0.5 AS contaminated
        |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id""".stripMargin) { (s, dir) =>
      val sh = shingles(s, dir)
        .select(col("doc_id"), h60(col("shingle")).as("sid"))
        .cache() // feeds the benchmark set, totals, and the hit join
      val bench = sh.filter(col("doc_id") < 20).select(col("sid")).distinct()
      val tot = sh.filter(col("doc_id") >= 20)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val hit = sh.filter(col("doc_id") >= 20)
        .join(broadcast(bench), "sid")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      val frac = col("n_hit") * lit(1.0) / col("n_sh")
      tot.join(hit, Seq("doc_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .select(col("doc_id"), col("n_sh"), col("n_hit"),
          Num.r(frac, 6).as("overlap_frac"),
          (frac >= 0.5).as("contaminated"))
    },

    // ------------------------------------------------------------------
    // Decontamination candidates via a Bloom-prefiltered exact
    // confirm — q_text_decontam's scale twin for when the benchmark
    // shingle set is too big to broadcast as a hash relation. The
    // graft_bloom aggregate (functions/Bloom.scala) compresses the bench
    // set ~10× into a broadcastable bit array with NO false negatives;
    // the corpus side probes it with a codegen'd graft_bloom_contains
    // INSIDE the scan's whole-stage loop, so the exact-confirm join's
    // exchange carries only true hits + the ~0.04% false positives
    // instead of every corpus shingle. The confirm join is deliberately
    // shuffle_hash (not broadcast) — that is the regime this plan
    // exists for. Correctness is UNCHANGED by the filter (no false
    // negatives + exact confirm), which is exactly what the oracle
    // hash-checks: DuckDB computes the kill list with no bloom at all.
    QueryDef(
      "q_decontam_bloom",
      s"""WITH $shinglesSql,
        |shh AS (SELECT doc_id, ${h60sql("shingle")} AS sid FROM sh),
        |bench AS (SELECT DISTINCT sid FROM shh WHERE doc_id < 20),
        |tot AS (SELECT doc_id, count(*) AS n_sh FROM shh
        |        WHERE doc_id >= 20 GROUP BY 1),
        |hit AS (SELECT s.doc_id, count(*) AS n_hit
        |        FROM shh s JOIN bench b ON s.sid = b.sid
        |        WHERE s.doc_id >= 20 GROUP BY 1)
        |SELECT t.doc_id, t.n_sh, h.n_hit,
        |  h.n_hit * 1.0 / t.n_sh >= 0.5 AS contaminated
        |FROM tot t JOIN hit h ON t.doc_id = h.doc_id""".stripMargin) { (s, dir) =>
      val sh = shingles(s, dir)
        .select(col("doc_id"), h60(col("shingle")).as("sid"))
        .cache() // feeds the bench set (twice: bloom + confirm) + corpus
      val bench = sh.filter(col("doc_id") < 20).select(col("sid")).distinct()
      // ~4k bench shingles into 64 Ki bits / 7 hashes ⇒ ~16 bits/key,
      // false-positive rate ≈ 4e-4; at 10⁸ keys the same 10-16 bits/key
      // sizing holds and the filter stays a ~100-200 MB broadcast
      val bloom = bench.agg(expr("graft_bloom(sid, 65536, 7)").as("bf"))
      val corpus = sh.filter(col("doc_id") >= 20)
      val tot = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val pre = corpus.crossJoin(broadcast(bloom))
        .filter(expr("graft_bloom_contains(bf, sid)"))
        .select(col("doc_id"), col("sid"))
      val hit = pre.join(bench.hint("shuffle_hash"), "sid")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      // inner join: the output is the candidate list the bloom surfaces
      // (docs sharing ≥1 bench shingle) — zero-hit docs never reach the
      // confirm join at all, which is the point of the prefilter
      tot.join(hit, "doc_id")
        .select(col("doc_id"), col("n_sh"), col("n_hit"),
          (col("n_hit") * lit(1.0) / col("n_sh") >= 0.5).as("contaminated"))
    },

    // ------------------------------------------------------------------
    // Canonical-document selection per near-dup cluster — the step a real
    // pipeline runs BETWEEN clustering and output: inside each component
    // of the resemblance graph, keep the best member (here: max n_chars,
    // ties to the smallest doc_id) and mark the rest as casualties. The
    // plan composes the verified pieces: the q_dedup_ngram pair
    // derivation → connectedComponents (O(log d) keyed shuffles) → ONE
    // map-combinable max_by per component joined back to the members.
    // Nothing beyond the component label ever shuffles per-doc payloads;
    // at 100 TB the keeper election is a per-cluster argmax, cost ∝
    // clustered docs, not corpus size. The oracle replays the closure
    // recursively (oracle-scale only) and elects with a ranking window.
    QueryDef(
      "q_dedup_keepbest",
      s"""WITH $shinglesSql,
        |shh AS (SELECT doc_id, ${h60sql("shingle")} AS sid FROM sh),
        |cnt AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM shh a JOIN shh b ON a.sid = b.sid AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM cand p
        |  JOIN cnt ca ON p.id_a = ca.doc_id
        |  JOIN cnt cb ON p.id_b = cb.doc_id
        |  WHERE p.shared * 1.0 / (ca.n + cb.n - p.shared) >= 0.8),
        |e AS (SELECT id_a AS a, id_b AS b FROM pairs
        |      UNION ALL SELECT id_b, id_a FROM pairs),
        |r AS (
        |  WITH RECURSIVE reach(a, b) AS (
        |    SELECT a, b FROM e
        |    UNION
        |    SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a)
        |  SELECT * FROM reach),
        |comp AS (SELECT a AS doc_id, min(b) AS component FROM r GROUP BY a),
        |ranked AS (
        |  SELECT c.doc_id, c.component, d.n_chars,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rnk
        |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
        |keepers AS (SELECT component, doc_id AS keeper FROM ranked WHERE rnk = 1)
        |SELECT r2.doc_id, r2.component, k.keeper,
        |  r2.doc_id = k.keeper AS keep
        |FROM ranked r2 JOIN keepers k ON r2.component = k.component""".stripMargin) { (s, dir) =>
      val sh = shingles(s, dir)
        .select(col("doc_id"), h60(col("shingle")).as("sid")).cache()
      val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val cand = sh.select(col("doc_id").as("id_a"), col("sid"))
        .join(sh.select(col("doc_id").as("id_b"), col("sid").as("sid_b")),
          col("sid") === col("sid_b") && col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      val pairs = cand
        .join(cnt.select(col("doc_id").as("id_a2"), col("n").as("na")),
          col("id_a") === col("id_a2"))
        .join(cnt.select(col("doc_id").as("id_b2"), col("n").as("nb")),
          col("id_b") === col("id_b2"))
        .filter(col("shared") * lit(1.0) /
          (col("na") + col("nb") - col("shared")) >= 0.8)
        .select(col("id_a"), col("id_b"))
        .cache() // feeds both directions of the edge union
      val cc = connectedComponents(pairs)
      pairs.unpersist()
      sh.unpersist()
      val members = cc.withColumnRenamed("node", "doc_id")
        .join(t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id")
      // keeper election: ONE map-combinable argmax per component —
      // max_by on (n_chars, -doc_id) is the deterministic tie-break
      val keepers = members.groupBy(col("component"))
        .agg(max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
          .as("keeper"))
      members.join(keepers, "component")
        .select(col("doc_id"), col("component"), col("keeper"),
          (col("doc_id") === col("keeper")).as("keep"))
    },

    // ------------------------------------------------------------------
    // Containment near-dup (Broder's second resemblance measure):
    // |A∩B| / min(|A|,|B|) — the signal Jaccard structurally MISSES when
    // a small document is embedded whole inside a much larger one (the
    // quote-a-full-article case: intersection ≈ the small doc, union ≈
    // the large doc, Jaccard ≈ |small|/|large| ≈ 0). Same shingle-hash
    // equi-join candidate derivation as q_dedup_ngram — candidates come
    // from shared shingles, never all pairs — with the containment
    // ratio replacing the Jaccard filter; the emitted jacc column shows
    // per pair how far the two measures diverge. Scale shape identical
    // to the 3-gram suite (keyed joins, capByDf composes).
    QueryDef(
      "q_dedup_containment",
      s"""WITH $shinglesSql,
        |shh AS (SELECT doc_id, ${h60sql("shingle")} AS sid FROM sh),
        |cnt AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM shh a JOIN shh b ON a.sid = b.sid AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared,
        |  ${Num.sql("p.shared * 1.0 / least(ca.n, cb.n)", 6)} AS containment,
        |  ${Num.sql("p.shared * 1.0 / (ca.n + cb.n - p.shared)", 6)} AS jacc
        |FROM cand p
        |JOIN cnt ca ON p.id_a = ca.doc_id
        |JOIN cnt cb ON p.id_b = cb.doc_id
        |WHERE p.shared * 1.0 / least(ca.n, cb.n) >= 0.9""".stripMargin) { (s, dir) =>
      val sh = shingles(s, dir)
        .select(col("doc_id"), h60(col("shingle")).as("sid")).cache()
      val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val cand = sh.select(col("doc_id").as("id_a"), col("sid"))
        .join(sh.select(col("doc_id").as("id_b"), col("sid").as("sid_b")),
          col("sid") === col("sid_b") && col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      val contain = col("shared") * lit(1.0) / least(col("na"), col("nb"))
      val jacc = col("shared") * lit(1.0) /
        (col("na") + col("nb") - col("shared"))
      cand
        .join(cnt.select(col("doc_id").as("id_a2"), col("n").as("na")),
          col("id_a") === col("id_a2"))
        .join(cnt.select(col("doc_id").as("id_b2"), col("n").as("nb")),
          col("id_b") === col("id_b2"))
        .filter(contain >= 0.9)
        .select(col("id_a"), col("id_b"), col("shared"),
          Num.r(contain, 6).as("containment"), Num.r(jacc, 6).as("jacc"))
    },

    // ------------------------------------------------------------------
    // Repeated-passage profiling — the span-level contamination signal
    // (Lee et al., "Deduplicating Training Data Makes Language Models
    // Better"): a document whose 8-gram spans largely also occur in
    // OTHER documents is boilerplate/template even when no whole-doc
    // pair clears a Jaccard threshold. The plan never forms doc pairs at
    // all: per-shingle document frequency is ONE map-combinable count
    // (shingles are distinct within a doc, so count(*) per shingle IS
    // its df), the repeated set is df ≥ 2, and a semi-join back tags
    // each doc's spans — every shuffle is keyed on the 60-bit span hash.
    // At 100 TB the hot-span cap (capByDf) composes exactly as in the
    // 3-gram suite.
    QueryDef(
      "q_text_novelty",
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |           FROM documents),
        |g8 AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(list_transform(range(1, len(w) - 6),
        |      i -> array_to_string(w[i:i+7], ' '))) AS g
        |  FROM d WHERE len(w) >= 8),
        |gh AS (SELECT doc_id, source, ${h60sql("g")} AS gid FROM g8),
        |seen AS (SELECT DISTINCT gid FROM gh WHERE doc_id % 2 = 0),
        |nw AS (
        |  SELECT source, count(*) AS n_spans,
        |    count(CASE WHEN s.gid IS NULL THEN 1 END) AS n_novel
        |  FROM gh LEFT JOIN seen s ON gh.gid = s.gid
        |  WHERE gh.doc_id % 2 = 1
        |  GROUP BY 1)
        |SELECT source, n_spans, n_novel,
        |  ${Num.sql("n_novel * 1.0 / n_spans", 6)} AS novelty
        |FROM nw""".stripMargin) { (s, dir) =>
      // --------------------------------------------------------------
      // Corpus NOVELTY rate — "how much genuinely new content does the
      // next crawl wave add?", the datapoint behind dedup ROI and
      // crawl-scheduling decisions: treat even doc_ids as the existing
      // corpus, odd ids as the incoming wave, and measure the fraction
      // of the wave's distinct 8-gram spans absent from the existing
      // span set, per source. Plan shape: the q_dedup_passage span
      // derivation (in-place array slices, per-doc distinct) feeds ONE
      // keyed left join on the 60-bit span hash — the existing side is
      // a DISTINCT span relation, so fan-in per key is 1 and the probe
      // never amplifies; at 100 TB "seen" is the persisted span table
      // the incremental ingest already maintains
      // (Streaming.nearDupIngestBatch's band-table sibling).
      val toks = split(col("text"), " ")
      val gh = t(s, dir, "documents")
        .transform(graft.Tables.fan(_, "doc_id"))
        .filter(size(toks) >= 8)
        .select(col("doc_id"), col("source"),
          explode(array_distinct(transform(
            sequence(lit(1), size(toks) - 7),
            i => concat_ws(" ", slice(toks, i, lit(8)))))).as("g"))
        .select(col("doc_id"), col("source"), h60(col("g")).as("gid"))
      val seen = gh.filter(col("doc_id") % 2 === 0)
        .select(col("gid")).distinct()
        .withColumn("seen", lit(1))
      gh.filter(col("doc_id") % 2 === 1)
        .join(seen, Seq("gid"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_spans"),
          count(when(col("seen").isNull, 1)).as("n_novel"))
        .select(col("source"), col("n_spans"), col("n_novel"),
          Num.r(col("n_novel") * lit(1.0) / col("n_spans"), 6)
            .as("novelty"))
    },

    QueryDef(
      "q_dedup_passage",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g8 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(w) - 6),
        |      i -> array_to_string(w[i:i+7], ' '))) AS g
        |  FROM d WHERE len(w) >= 8),
        |gh AS (SELECT doc_id, ${h60sql("g")} AS gid FROM g8),
        |df AS (SELECT gid, count(*) AS df FROM gh GROUP BY 1),
        |rep AS (SELECT gid FROM df WHERE df >= 2),
        |per AS (
        |  SELECT gh.doc_id, count(*) AS n8,
        |    count(CASE WHEN r.gid IS NOT NULL THEN 1 END) AS n_rep
        |  FROM gh LEFT JOIN rep r ON gh.gid = r.gid
        |  GROUP BY 1)
        |SELECT doc_id, n8, n_rep,
        |  ${Num.sql("n_rep * 1.0 / n8", 6)} AS rep_frac,
        |  n_rep * 1.0 / n8 >= 0.3 AS boilerplate
        |FROM per""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val gh = t(s, dir, "documents")
        .transform(graft.Tables.fan(_, "doc_id"))
        .filter(size(toks) >= 8)
        .select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(1), size(toks) - 7),
          i => concat_ws(" ", slice(toks, i, lit(8)))))).as("g"))
        .select(col("doc_id"), h60(col("g")).as("gid"))
        .cache() // feeds the df count and the per-doc tagging join
      val rep = gh.groupBy(col("gid")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2).select(col("gid"))
      val frac = col("n_rep") * lit(1.0) / col("n8")
      gh.join(rep.withColumn("hit", lit(1)), Seq("gid"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n8"), count(col("hit")).as("n_rep"))
        .select(col("doc_id"), col("n8"), col("n_rep"),
          Num.r(frac, 6).as("rep_frac"),
          (frac >= 0.3).as("boilerplate"))
    },

    // ------------------------------------------------------------------
    // Pairwise source-overlap matrix — the corpus-provenance audit run
    // before mixing: for every source pair, how many distinct 3-gram
    // shingles do the two sources share, and what is their Jaccard?
    // The scale-critical move: ONE groupBy(span-hash) with a
    // collect_set(source) partial — map-side sets are bounded by the
    // source vocabulary (~20), so the single shuffle carries at most
    // |sources| entries per span no matter how many DOCUMENTS share it —
    // and the pair matrix then EXPLODES ordered pairs out of each set
    // (≤ C(|sources|,2) rows per span) instead of self-joining the span
    // relation, which would shuffle it twice more (the first version
    // did: distinct + self-join, 5.2 s at sf0.1 vs 4.3 s for this
    // shape; the remaining cost is the irreducible floor — hashing and
    // shuffling the ~|corpus spans| (sid, source) fan-out once, the
    // same floor the n-gram dedup suite pays). Totals come from
    // re-scanning the same cached set relation; counts are exact
    // BIGINTs.
    QueryDef(
      "q_source_overlap",
      s"""WITH $shinglesSql,
        |ss AS (
        |  SELECT DISTINCT d.source, ${h60sql("shingle")} AS sid
        |  FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
        |tot AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
        |pair AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS shared
        |  FROM ss a JOIN ss b ON a.sid = b.sid AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.shared,
        |  ${Num.sql("p.shared * 1.0 / (ta.n + tb.n - p.shared)", 6)} AS jacc
        |FROM pair p
        |JOIN tot ta ON p.source_a = ta.source
        |JOIN tot tb ON p.source_b = tb.source""".stripMargin) { (s, dir) =>
      // the source label rides THROUGH the shingle explode (it is a
      // column of the same row) — joining it back after the fan-out
      // would shuffle the whole shingle relation once more for data the
      // scan already had in hand
      val toks = split(col("text"), " ")
      val ssets = t(s, dir, "documents")
        .transform(graft.Tables.fan(_, "doc_id")) // fan-out parallelism (1-row-group files)
        .filter(size(toks) >= 3)
        .select(col("source"), explode(array_distinct(transform(
          sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ",
            element_at(toks, i), element_at(toks, i + 1),
            element_at(toks, i + 2))))).as("shingle"))
        .select(h60(col("shingle")).as("sid"), col("source"))
        // explicit-width repartition (r15, the jaccardPairs lesson):
        // the map-combined per-sid sets are tiny in bytes, so AQE
        // coalesced the final aggregate — and the pair explode both
        // consumers run over the cached layout — to ONE task
        // (profiled 3.9 s single-task stage). Pinning the width keeps
        // the set-build and the C(|srcs|,2) expansion parallel; the
        // trade is shuffling raw (sid, source) rows instead of
        // map-combined sets — single-digit MB here, and at scale the
        // combined sets dominate either way.
        .repartition(graft.Tables.sp(s), col("sid"))
        .groupBy(col("sid"))
        .agg(array_sort(collect_set(col("source"))).as("srcs"))
        .cache() // feeds the totals scan and the pair explode
      val tot = ssets.select(explode(col("srcs")).as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      // ordered pairs out of each span's source set: element i pairs
      // with every LATER element, preserving the a < b half-matrix
      val pairsCol = flatten(transform(col("srcs"), (x, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
          y => struct(x.as("source_a"), y.as("source_b")))))
      val pair = ssets.select(explode(pairsCol).as("p"))
        .groupBy(col("p.source_a").as("source_a"),
          col("p.source_b").as("source_b"))
        .agg(count(lit(1)).as("shared"))
      pair
        .join(broadcast(tot.select(col("source").as("source_a"),
          col("n").as("na"))), "source_a")
        .join(broadcast(tot.select(col("source").as("source_b"),
          col("n").as("nb"))), "source_b")
        .select(col("source_a"), col("source_b"), col("shared"),
          Num.r(col("shared") * lit(1.0) /
            (col("na") + col("nb") - col("shared")), 6).as("jacc"))
    },

    // ------------------------------------------------------------------
    // The WHOLE curation funnel as ONE declarative plan — quality gate →
    // exact dedup → benchmark decontamination → per-source char quota →
    // sequence packing — composed from the exact stage definitions the
    // individual queries pin (q_curate_corpus's gate, q_text_decontam's
    // overlap rule, q_curate_quota's admission window, q_text_pack's
    // bins). One plan means Catalyst sees the funnel end to end: the
    // gate's filters push into the scan under everything else, the
    // shingle fan-out feeds decontamination without re-reading documents,
    // and the two windows (quota by source, packing by lang) are the only
    // per-shard serial points — each O(n) within its shard, exactly the
    // shape a 100 TB corpus build wants. CurationPipelineSpec drives the
    // same composition imperatively; this row makes it hash-checked.
    QueryDef(
      "q_curate_funnel",
      s"""WITH $shinglesSql,
        |keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |base AS (
        |  SELECT d.doc_id, d.lang, d.source, d.n_chars,
        |    len(string_split(d.text, ' ')) AS n_tok
        |  FROM documents d JOIN keep k ON d.doc_id = k.doc_id
        |  WHERE d.lang IN ('en', 'de') AND d.n_chars >= 50
        |    AND len(string_split(d.text, ' ')) >= 10 AND d.doc_id >= 20),
        |shh AS (SELECT doc_id, ${h60sql("shingle")} AS sid FROM sh),
        |bench AS (SELECT DISTINCT sid FROM shh WHERE doc_id < 20),
        |tot AS (SELECT doc_id, count(*) AS n_sh FROM shh
        |        WHERE doc_id >= 20 GROUP BY 1),
        |hit AS (SELECT s.doc_id, count(*) AS n_hit
        |        FROM shh s JOIN bench b ON s.sid = b.sid
        |        WHERE s.doc_id >= 20 GROUP BY 1),
        |clean AS (
        |  SELECT b.doc_id, b.lang, b.source, b.n_chars, b.n_tok
        |  FROM base b JOIN tot t ON b.doc_id = t.doc_id
        |  LEFT JOIN hit h ON b.doc_id = h.doc_id
        |  WHERE coalesce(h.n_hit, 0) * 1.0 / t.n_sh < 0.5),
        |adm AS (
        |  SELECT *, sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS used
        |  FROM clean),
        |packed AS (
        |  SELECT doc_id, lang, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
        |      AS start_off
        |  FROM adm WHERE coalesce(used, 0) < 4000)
        |SELECT doc_id, lang, source, n_tok,
        |  CAST(start_off // 512 AS BIGINT) AS bin,
        |  CAST(start_off % 512 AS BIGINT) AS bin_off
        |FROM packed""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val keepers = docs
        .groupBy(md5(col("text").cast("binary")))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val base = docs
        .filter(col("lang").isin("en", "de") && col("n_chars") >= 50 &&
          col("doc_id") >= 20)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tok") >= 10)
        .join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("n_tok"))
      val sh = shingles(s, dir)
        .select(col("doc_id"), h60(col("shingle")).as("sid"))
        .cache() // feeds the benchmark set, totals, and the hit join
      val bench = sh.filter(col("doc_id") < 20).select(col("sid")).distinct()
      val tot = sh.filter(col("doc_id") >= 20)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val hit = sh.filter(col("doc_id") >= 20)
        .join(broadcast(bench), "sid")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      val clean = base.join(tot, "doc_id").join(hit, Seq("doc_id"), "left")
        .filter(coalesce(col("n_hit"), lit(0L)) * lit(1.0) / col("n_sh") < 0.5)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("n_tok"))
      val wq = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wp = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clean
        .withColumn("used", sum(col("n_chars")).over(wq))
        .filter(coalesce(col("used"), lit(0L)) < 4000)
        .withColumn("start_off", sum(col("n_tok")).over(wp) - col("n_tok"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
          expr("start_off div 512").as("bin"),
          (col("start_off") % 512).as("bin_off"))
    },

    // ------------------------------------------------------------------
    // Fuzzy record linkage by edit distance with BLOCKING — the
    // structured-data sibling of the document near-dup suite. All-pairs
    // levenshtein is O(n²) and never survives scale; the standard fix is
    // a cheap blocking key (here: the noun token of the part name) so
    // the quadratic comparator runs only inside blocks. Two extra
    // scale guards: the comparison runs over DISTINCT names (64 at any
    // sf — name-space cardinality, not row count), and the `<` on the
    // pair cuts the symmetric half. The plan is an equi-join on the
    // block key with the levenshtein as a post-join filter — keyed
    // shuffle, no cartesian (PlanSpec's suite-wide sweep applies).
    QueryDef(
      "q_link_fuzzy",
      """WITH names AS (
        |  SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk
        |  FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM names a JOIN names b
        |  ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin) { (s, dir) =>
      val names = t(s, dir, "part")
        .select(col("p_name"),
          element_at(split(col("p_name"), " "), 2).as("blk"))
        .distinct()
      val a = names.select(col("p_name").as("name_a"), col("blk"))
      val b = names.select(col("p_name").as("name_b"), col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        .filter(levenshtein(col("name_a"), col("name_b")) <= 3)
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
    },

    // ------------------------------------------------------------------
    // SMITH-WATERMAN LOCAL ALIGNMENT (1981) — the third comparator in
    // the record-linkage family: where levenshtein charges for the
    // WHOLE string and Jaro-Winkler for global character order, local
    // alignment finds the best-matching REGION (match +2, mismatch −1,
    // gap −1, floor 0) — the right scorer when entity names carry
    // unrelated prefixes/suffixes. First shipped as the q_eval_rougel
    // anti-diagonal wavefront HOF fold; now the exact O(n·m) DP in
    // the native [[graft.functions.SwScore]] kernel (two primitive
    // int rows over interned symbol ids, inside whole-stage codegen) —
    // same answer, the per-cell constant cut from a list allocation to
    // three integer maxes. Banding is deliberately NOT applied: the
    // output aggregates EVERY pair's score (no admission threshold),
    // so a band could only be lossy. Each customer aligns against a
    // deterministic drop/substitute corruption of its own name (the
    // q_eval_bleu corruption on characters), and per-segment score
    // stats roll up map-combinably. The oracle is UNCHANGED — it
    // replays the wavefront as a recursive CTE, so the hash match is
    // the cross-algorithm proof.
    QueryDef("q_link_align", swOracle) { (s, dir) =>
      t(s, dir, "customer")
        .selectExpr("c_custkey AS id", "c_mktsegment AS seg",
          "c_name AS nm")
        .withColumn("aw", transform(sequence(lit(1), length(col("nm"))),
          i => col("nm").substr(i, lit(1))))
        .withColumn("bw", filter(
          transform(sequence(lit(1), length(col("nm"))),
            i => when((col("id") + i) % 9 === 0, lit(null))
              .when((col("id") + i) % 5 === 0, lit("x"))
              .otherwise(col("nm").substr(i, lit(1)))),
          x => x.isNotNull))
        .withColumn("sw", expr("graft_sw_score(aw, bw, 2, -1, -1)"))
        .groupBy(col("seg"))
        .agg(expr(swAgg.head), swAgg.tail.map(expr): _*)
    },

    // ------------------------------------------------------------------
    // Jaro–Winkler record linkage — the prefix-weighted comparator the
    // record-linkage literature pairs with edit distance (Winkler's
    // census work): q_link_fuzzy's blocked-join plan, scored by the
    // native [[graft.functions.JaroWinkler]] codegen expression instead
    // of levenshtein. The oracle is DuckDB's BUILTIN
    // jaro_winkler_similarity — no replay SQL at all — which only works
    // because the expression pins DuckDB's exact semantics (byte-level
    // comparison, integer half-transpositions, 0.7 boost threshold,
    // empty⇒0.0; JaroWinklerSpec holds the probed constants). Same
    // scale guards as the levenshtein twin: distinct names, block-keyed
    // equi-join, `<` halves the matrix — the comparator only ever runs
    // inside blocks.
    QueryDef(
      "q_link_jaro",
      s"""WITH names AS (
        |  SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk
        |  FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  ${Num.sql("jaro_winkler_similarity(a.p_name, b.p_name)", 6)} AS jw
        |FROM names a JOIN names b
        |  ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.88""".stripMargin) {
      (s, dir) =>
      val names = t(s, dir, "part")
        .select(col("p_name"),
          element_at(split(col("p_name"), " "), 2).as("blk"))
        .distinct()
      val a = names.select(col("p_name").as("name_a"), col("blk"))
      val b = names.select(col("p_name").as("name_b"), col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("jw_raw", expr("graft_jaro_winkler(name_a, name_b)"))
        .filter(col("jw_raw") >= 0.88)
        .select(col("name_a"), col("name_b"),
          Num.r(col("jw_raw"), 6).as("jw"))
    },

    // ------------------------------------------------------------------
    // PHONETIC BLOCKING (Soundex) — the fourth comparator family in the
    // record-linkage suite, and the one that BLOCKS rather than scores:
    // where q_link_fuzzy blocks on an exact token and then pays
    // levenshtein, phonetic codes catch spelling variants the exact
    // block key separates (SMITH/SMYTH land in the same S530 bucket).
    // The code is American Soundex WITHOUT the h/w-transparency rule
    // (the common SQL-implementable variant): translate letters to
    // digit classes, collapse same-digit runs, drop the first letter's
    // digit, strip vowels' zeros, pad to letter+3. Both engines run
    // the SAME translate/collapse/strip pipeline (DuckDB's
    // regexp_replace takes an explicit 'g' where Spark's is global by
    // default — semantics identical, DedupSpec pins the textbook
    // vectors R163/P236/T522/J250 through the Spark fragment). The
    // matching problem is built in: beside every DISTINCT part-name
    // token, two deterministic misspellings enter the name set. The
    // final-letter doubling (BOLT→BOLTT) is ALWAYS code-preserving —
    // the run collapse absorbs it — so every token is guaranteed at
    // least one reunited pair; the interior-E/I strip (WIDGET→WDGT)
    // preserves the code EXCEPT where the vowel separated two
    // same-class consonants (GIZMO→GZMO collapses Z into G's class —
    // exactly the vowel-as-separator rule that defines Soundex), so
    // the output also EXHIBITS the rule: reunited pairs where the
    // vowel was phonetically inert, visible misses where it wasn't.
    // Levenshtein inside each block reports spelling drift. Scale
    // guards are
    // q_link_fuzzy's: the vocabulary is corpus-DISTINCT (bounded at
    // any SF — one distinct pass, then everything is
    // vocabulary-sized), pairs form by equi-join on the code with `<`
    // halving the matrix, and the comparator runs only inside blocks.
    QueryDef(
      "q_link_soundex",
      s"""WITH t0 AS (
        |  SELECT unnest(string_split(p_name, ' ')) AS tok FROM part),
        |w0 AS (SELECT DISTINCT upper(tok) AS w FROM t0),
        |names AS (
        |  SELECT DISTINCT w FROM (
        |    SELECT w FROM w0
        |    UNION ALL SELECT substr(w, 1, 1) ||
        |      replace(replace(substr(w, 2), 'E', ''), 'I', '') FROM w0
        |    UNION ALL SELECT w || substr(w, length(w), 1) FROM w0)),
        |c AS (SELECT w, ${soundexSql("w", duck = true)} AS code
        |      FROM names)
        |SELECT a.code, a.w AS name_a, b.w AS name_b,
        |  levenshtein(a.w, b.w) AS dist
        |FROM c a JOIN c b ON a.code = b.code AND a.w < b.w""".stripMargin) {
      (s, dir) =>
      val w0 = t(s, dir, "part")
        .selectExpr("explode(split(p_name, ' ')) AS tok")
        .selectExpr("upper(tok) AS w")
        .distinct()
      val c = w0
        .union(w0.selectExpr("substr(w, 1, 1) ||" +
          " replace(replace(substr(w, 2), 'E', ''), 'I', '') AS w"))
        .union(w0.selectExpr("w || substr(w, length(w), 1) AS w"))
        .distinct()
        .selectExpr("w", s"${soundexSql("w", duck = false)} AS code")
      val a = c.select(col("code"), col("w").as("name_a"))
      val b = c.select(col("code"), col("w").as("name_b"))
      a.join(b, Seq("code"))
        .filter(col("name_a") < col("name_b"))
        .select(col("code"), col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).as("dist"))
    },

    // ------------------------------------------------------------------
    // Entity resolution end-to-end: q_link_fuzzy's blocked edit-distance
    // pairs → connected components → one GOLDEN RECORD per entity
    // cluster — the master-data step that turns "these records
    // resemble each other" into "these are the same thing, keep this
    // one". Cluster identity comes from the same min-label propagation
    // as the document near-dup path ([[connectedComponents]] on h60
    // name ids); the canonical record is the cluster's LABEL node
    // joined back to its name (a pure function of the cluster, no
    // arbitrary pick), and each entity reports its variant count plus
    // how many fact rows (part occurrences) it absorbs — the dedup
    // savings a master-data merge actually delivers. The oracle
    // replays the closure recursively over the identical hashed pair
    // set (the q_dedup_components pattern), so Spark's O(log d)
    // pointer-jumping is hash-checked against textbook transitive
    // closure on this second, independent pair family too.
    QueryDef(
      "q_link_cluster",
      s"""WITH names AS (
        |  SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk
        |  FROM part),
        |pr AS (
        |  SELECT ${h60sql("a.p_name")} AS id_a, ${h60sql("b.p_name")} AS id_b
        |  FROM names a JOIN names b
        |    ON a.blk = b.blk AND a.p_name < b.p_name
        |  WHERE levenshtein(a.p_name, b.p_name) <= 3),
        |e AS (SELECT id_a AS a, id_b AS b FROM pr
        |      UNION ALL SELECT id_b, id_a FROM pr),
        |r AS (
        |  WITH RECURSIVE reach(a, b) AS (
        |    SELECT a, b FROM e
        |    UNION
        |    SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a)
        |  SELECT * FROM reach),
        |comp AS (SELECT a AS node, min(b) AS c FROM r GROUP BY a),
        |hn AS (SELECT p_name, ${h60sql("p_name")} AS h FROM names),
        |pc AS (SELECT p_name, count(*) AS np FROM part GROUP BY 1),
        |cl AS (
        |  SELECT comp.c, hn.p_name, pc.np FROM comp
        |  JOIN hn ON comp.node = hn.h
        |  JOIN pc ON hn.p_name = pc.p_name)
        |SELECT cn.p_name AS canonical, count(*) AS n_variants,
        |  CAST(sum(cl.np) AS BIGINT) AS n_part_rows
        |FROM cl JOIN hn cn ON cl.c = cn.h
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val names = t(s, dir, "part")
        .select(col("p_name"),
          element_at(split(col("p_name"), " "), 2).as("blk"))
        .distinct()
      val a = names.select(col("p_name").as("name_a"), col("blk"))
      val b = names.select(col("p_name").as("name_b"), col("blk"))
      val pairs = a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        .filter(levenshtein(col("name_a"), col("name_b")) <= 3)
        .select(h60(col("name_a")).as("id_a"), h60(col("name_b")).as("id_b"))
      val cc = connectedComponents(pairs)
      val hn = names.select(col("p_name"), h60(col("p_name")).as("h"))
      val pc = t(s, dir, "part").groupBy(col("p_name"))
        .agg(count(lit(1)).as("np"))
      // hn is one row per DISTINCT part name — ∝SF, so both name
      // resolutions are unhinted keyed joins (AQE broadcasts while the
      // side fits, SMJ beyond), never a forced broadcast
      cc.join(hn, col("node") === col("h"))
        .join(pc, "p_name")
        .join(hn.select(col("p_name").as("canonical"),
          col("h").as("hc")), col("component") === col("hc"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_variants"), sum(col("np")).as("n_part_rows"))
    },

    // ------------------------------------------------------------------
    // LSH band-parameter SWEEP — the tuning table behind every MinHash
    // deployment: with 16 hashes, (bands, rows) ∈ {(8,2), (4,4),
    // (2,8)} trade candidate volume against recall along the S-curve
    // P(candidate) = 1 − (1 − J^r)^b, and this query measures the trade
    // ON THIS CORPUS — per config, the candidate-pair count, how many
    // exact-Jaccard-≥0.8 pairs the banding catches, and the resulting
    // recall/precision against the exact n-gram ground truth
    // (q_dedup_ngram's pair pipeline, shared code). The number a
    // practitioner reads off before committing a 100 TB dedup run to
    // one config. Scale shape: signatures computed ONCE (cached, the
    // q_dedup_minhash derivation), each config's candidates come from
    // the same keyed band-equi-join — never all-pairs on the engine
    // side; the oracle DOES go all-pairs over signatures (oracle-scale
    // "never do this at 100 TB", the components precedent) which is
    // exactly why the hash match proves the banded join finds the
    // same candidate sets. Empty-config rows survive via the cfg LEFT
    // JOIN / always-one-row aggregate pairing, so a config that
    // produces zero candidates reads 0, not absent.
    QueryDef(
      "q_dedup_lsh_sweep",
      s"""WITH $shinglesSql,
        |shm AS (
        |  SELECT doc_id,
        |    md5('0:' || shingle) AS m0, md5('1:' || shingle) AS m1,
        |    md5('2:' || shingle) AS m2, md5('3:' || shingle) AS m3
        |  FROM sh),
        |mh AS (
        |  SELECT doc_id, seed,
        |    min(CAST('0x' || substr(
        |      CASE seed // 4 WHEN 0 THEN m0 WHEN 1 THEN m1
        |                     WHEN 2 THEN m2 ELSE m3 END,
        |      (seed % 4) * 8 + 1, 8) AS BIGINT)) AS h
        |  FROM shm, (SELECT unnest(range(0, 16)) AS seed)
        |  GROUP BY doc_id, seed),
        |sig AS (SELECT doc_id, list(h ORDER BY seed) AS sig
        |        FROM mh GROUP BY doc_id),
        |cfg(b, r) AS (VALUES (8, 2), (4, 4), (2, 8)),
        |cand AS (
        |  SELECT c.b, c.r, a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM cfg c CROSS JOIN sig a JOIN sig b2 ON a.doc_id < b2.doc_id
        |  WHERE len(list_filter(range(0, c.b),
        |    i -> a.sig[i*c.r + 1 : i*c.r + c.r]
        |         = b2.sig[i*c.r + 1 : i*c.r + c.r])) >= 1),
        |shh AS (SELECT doc_id, ${h60sql("shingle")} AS sid FROM sh),
        |cntj AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1),
        |pj AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM shh a JOIN shh b ON a.sid = b.sid AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT id_a, id_b FROM pj
        |  JOIN cntj ca ON pj.id_a = ca.doc_id
        |  JOIN cntj cb ON pj.id_b = cb.doc_id
        |  WHERE pj.shared * 1.0 / (ca.n + cb.n - pj.shared) >= 0.8),
        |nt AS (SELECT count(*) AS n_truth FROM truth),
        |ag AS (
        |  SELECT c.b, c.r, count(*) AS n_cand, count(t.id_a) AS n_hits
        |  FROM cand c LEFT JOIN truth t
        |    ON c.id_a = t.id_a AND c.id_b = t.id_b
        |  GROUP BY 1, 2)
        |SELECT cfg.b AS bands, cfg.r AS rows_per_band,
        |  coalesce(ag.n_cand, 0) AS n_cand,
        |  coalesce(ag.n_hits, 0) AS n_hits, nt.n_truth AS n_truth,
        |  CASE WHEN nt.n_truth = 0 THEN 0e0 ELSE
        |    ${Num.sql("coalesce(ag.n_hits, 0) * 1e0 / nt.n_truth", 6)} END
        |    AS recall,
        |  CASE WHEN coalesce(ag.n_cand, 0) = 0 THEN 0e0 ELSE
        |    ${Num.sql("coalesce(ag.n_hits, 0) * 1e0 / ag.n_cand", 6)} END
        |    AS precision
        |FROM cfg LEFT JOIN ag ON cfg.b = ag.b AND cfg.r = ag.r
        |CROSS JOIN nt""".stripMargin) { (s, dir) =>
      // localCheckpoint, not cache (r15): sig feeds BOTH sides of the
      // band self-join and truth feeds two broadcast builds (n_truth
      // and the hit join) — broadcast subtrees evaluate CONCURRENTLY,
      // and a lazy cache lets the racing jobs each compute the full
      // upstream pipeline before either populates it (profiled: two
      // parallel 3.8 s single-task jobs doing identical truth work).
      // The eager checkpoint materializes each relation exactly once.
      val sig = minhashSignatures(t(s, dir, "documents")).localCheckpoint()
      val sh = shingles(s, dir)
        .select(col("doc_id"), h60(col("shingle")).as("sid"))
      val truth = jaccardPairs(sh).select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      val cfgs = Seq((8, 2), (4, 4), (2, 8))
      // ALL configs' band keys in ONE tagged relation → ONE band join,
      // ONE dedup, ONE truth probe, ONE aggregate for the whole sweep
      // (the first cut ran the pipeline per config — 3× the shuffles
      // for identical output; benched 5.9 → ~2 s at sf0.1)
      val keys = cfgs.map { case (bN, r) =>
        sig.select(lit(bN).as("bands"), col("doc_id"),
          posexplode(array((0 until bN).map(i => concat_ws("_",
            (1 to r).map(j => element_at(col("sig"), i * r + j)): _*)): _*)))
          .withColumnRenamed("pos", "band")
          .withColumnRenamed("col", "band_key")
      }.reduce(_ unionByName _)
      val cand = keys
        .select(col("bands"), col("doc_id").as("id_a"), col("band"),
          col("band_key"))
        .join(keys.select(col("bands").as("bands_b"),
          col("doc_id").as("id_b"), col("band").as("band_b"),
          col("band_key").as("band_key_b")),
          col("bands") === col("bands_b") && col("band") === col("band_b")
            && col("band_key") === col("band_key_b")
            && col("id_a") < col("id_b"))
        .select(col("bands"), col("id_a"), col("id_b"))
        .dropDuplicates("bands", "id_a", "id_b")
      val ag = cand
        .join(truth.withColumn("hit", lit(1)), Seq("id_a", "id_b"), "left")
        .groupBy(col("bands"))
        .agg(count(lit(1)).as("n_cand"), count(col("hit")).as("n_hits"))
      // cfg LEFT JOIN keeps an empty config visible as (0, 0) — the
      // oracle's shape exactly
      import s.implicits._
      val cfgDf = cfgs.toDF("bands", "rows_per_band")
      cfgDf.join(broadcast(ag), Seq("bands"), "left")
        .crossJoin(broadcast(nt))
        .select(col("bands"), col("rows_per_band"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_truth"),
          when(col("n_truth") === 0, lit(0e0))
            .otherwise(Num.r(coalesce(col("n_hits"), lit(0L)) * lit(1e0)
              / col("n_truth"), 6)).as("recall"),
          when(coalesce(col("n_cand"), lit(0L)) === 0, lit(0e0))
            .otherwise(Num.r(coalesce(col("n_hits"), lit(0L)) * lit(1e0)
              / col("n_cand"), 6)).as("precision"))
    },

    // ------------------------------------------------------------------
    // EXTERNAL clustering evaluation of the near-dup components against
    // the documents' source labels — purity and normalized mutual
    // information (Manning/Raghavan/Schütze IR ch.16's standard pair):
    // "do near-dup clusters stay within a source?" is both a dedup
    // sanity check (cross-source clusters suggest boilerplate, not
    // provenance) and the template for ANY cluster-vs-label audit
    // (entity resolution vs golden ids, semantic cells vs topics).
    // Exactness discipline: purity is one integer division (Σ per-
    // cluster majority counts / N); the information quantities are
    // per-cell/per-marginal DOUBLE terms computed with the IDENTICAL
    // op spelling in both engines, floored to integer µnats, then
    // summed exactly (the q_drift_jsd contract) — so MI/H(C)/H(L)
    // cross the engine boundary as BIGINTs and only the final NMI
    // ratio is rounded. Scale: the component derivation is the
    // verified pointer-jumping loop; everything downstream runs on the
    // (component × label) CELL table, bounded by clusters·labels, via
    // map-combinable counts. The oracle replays the closure recursively
    // over the identical hashed pairs — a fourth independent re-proof
    // of pointer-jumping ≡ transitive closure, this time feeding an
    // information-theoretic reduction.
    QueryDef("q_dedup_purity", purityOracle) { (s, dir) =>
      // Lazy cache, NOT an eager localCheckpoint (r15 negative result,
      // measured in both A/B orderings): jaccardPairs references this
      // relation three times and the first action profiles as four
      // concurrent 2.7 s stages — but those stages productively OVERLAP
      // the cache fill (per-block loading locks dedupe the compute), so
      // serializing the fill behind a checkpoint measured 0.78×
      // normalized. The racy-looking profile was already the fast form.
      val sh = shingles(s, dir)
        .select(col("doc_id"), h60(col("shingle")).as("sid")).cache()
      val pairs = jaccardPairs(sh).select(col("id_a"), col("id_b")).cache()
      val cc = connectedComponents(pairs)
        .select(col("node"), col("component"))
      val cl = cc.join(t(s, dir, "documents")
          .select(col("doc_id"), col("source")),
          col("node") === col("doc_id"))
        .select(col("component"), col("source"))
      val cell = cl.groupBy(col("component"), col("source"))
        .agg(count(lit(1)).as("n_cl"))
      val byC = cell.groupBy(col("component"))
        .agg(sum(col("n_cl")).as("n_c"), max(col("n_cl")).as("max_l"))
      val byL = cell.groupBy(col("source")).agg(sum(col("n_cl")).as("n_l"))
      val tot = cell.agg(sum(col("n_cl")).as("nn"))
      def d(c: Column) = c.cast("double")
      def unats(x: Column) = floor(x * lit(1000000e0) + lit(0.5e0))
        .cast("long")
      val miTerm = unats((d(col("n_cl")) / d(col("nn"))) *
        log(d(col("nn")) * d(col("n_cl")) / (d(col("n_c")) * d(col("n_l")))))
      // byC is |components| rows — ∝ corpus, so its marginal attaches
      // shuffle_hash on the component key the cell table already
      // carries; byL (per-source, schema-bounded) and tot (1-row) stay
      // broadcast
      val mi = cell
        .join(byC.select(col("component").as("cc2"), col("n_c"))
            .hint("shuffle_hash"),
          col("component") === col("cc2"))
        .join(broadcast(byL.select(col("source").as("sl2"), col("n_l"))),
          col("source") === col("sl2"))
        .crossJoin(broadcast(tot))
        .agg(sum(miTerm).as("mi_u"))
      def entU(rel: DataFrame, cnt: String) = rel.crossJoin(broadcast(tot))
        .agg(sum(unats(-(d(col(cnt)) / d(col("nn"))) *
          log(d(col(cnt)) / d(col("nn"))))).as("h_u"),
          count(lit(1)).as("k"))
      val hc = entU(byC, "n_c")
        .select(col("h_u").as("hc_u"), col("k").as("n_clusters"))
      val hl = entU(byL, "n_l")
        .select(col("h_u").as("hl_u"), col("k").as("n_labels"))
      val pur = byC.crossJoin(broadcast(tot))
        .agg(first(col("nn")).as("n_docs"),
          Num.r(d(sum(col("max_l"))) / d(first(col("nn"))), 6).as("purity"))
      pur.crossJoin(broadcast(mi)).crossJoin(broadcast(hc))
        .crossJoin(broadcast(hl))
        .select(col("n_docs"), col("n_clusters"), col("n_labels"),
          col("purity"), col("mi_u"), col("hc_u"), col("hl_u"),
          when(col("hc_u") <= 0 || col("hl_u") <= 0, lit(0e0))
            .otherwise(Num.r(d(col("mi_u")) /
              sqrt(d(col("hc_u")) * d(col("hl_u"))), 6)).as("nmi"))
    }
  )

  /** DuckDB replay of q_dedup_purity: identical hashed pairs, recursive
    * transitive closure (the q_dedup_components oracle pattern), then
    * the identical µnat information terms over the cell table. */
  private def purityOracle: String =
    s"""WITH $shinglesSql,
      |shh AS (SELECT doc_id, ${h60sql("shingle")} AS sid FROM sh),
      |cnt AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
      |cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |  FROM shh a JOIN shh b ON a.sid = b.sid AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b FROM cand p
      |  JOIN cnt ca ON p.id_a = ca.doc_id
      |  JOIN cnt cb ON p.id_b = cb.doc_id
      |  WHERE p.shared * 1.0 / (ca.n + cb.n - p.shared) >= 0.8),
      |e AS (SELECT id_a AS a, id_b AS b FROM pairs
      |      UNION ALL SELECT id_b, id_a FROM pairs),
      |r AS (
      |  WITH RECURSIVE reach(a, b) AS (
      |    SELECT a, b FROM e
      |    UNION
      |    SELECT reach.a, e.b FROM reach JOIN e ON reach.b = e.a)
      |  SELECT * FROM reach),
      |comp AS (SELECT a AS node, min(b) AS component FROM r GROUP BY a),
      |cl AS (
      |  SELECT comp.component, d.source FROM comp
      |  JOIN documents d ON comp.node = d.doc_id),
      |cell AS (SELECT component, source, count(*) AS n_cl
      |         FROM cl GROUP BY 1, 2),
      |byc AS (SELECT component, CAST(sum(n_cl) AS BIGINT) AS n_c,
      |               CAST(max(n_cl) AS BIGINT) AS max_l
      |        FROM cell GROUP BY 1),
      |byl AS (SELECT source, CAST(sum(n_cl) AS BIGINT) AS n_l
      |        FROM cell GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_cl) AS BIGINT) AS nn FROM cell),
      |mi AS (
      |  SELECT CAST(sum(CAST(floor(
      |    (CAST(n_cl AS DOUBLE) / CAST(nn AS DOUBLE)) *
      |    ln(CAST(nn AS DOUBLE) * CAST(n_cl AS DOUBLE)
      |       / (CAST(n_c AS DOUBLE) * CAST(n_l AS DOUBLE)))
      |    * 1000000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS mi_u
      |  FROM cell
      |  JOIN byc USING (component) JOIN byl USING (source), tot),
      |hc AS (
      |  SELECT CAST(sum(CAST(floor(
      |    -(CAST(n_c AS DOUBLE) / CAST(nn AS DOUBLE)) *
      |     ln(CAST(n_c AS DOUBLE) / CAST(nn AS DOUBLE))
      |    * 1000000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS hc_u,
      |    CAST(count(*) AS BIGINT) AS n_clusters
      |  FROM byc, tot),
      |hl AS (
      |  SELECT CAST(sum(CAST(floor(
      |    -(CAST(n_l AS DOUBLE) / CAST(nn AS DOUBLE)) *
      |     ln(CAST(n_l AS DOUBLE) / CAST(nn AS DOUBLE))
      |    * 1000000e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS hl_u,
      |    CAST(count(*) AS BIGINT) AS n_labels
      |  FROM byl, tot),
      |pur AS (
      |  SELECT max(nn) AS n_docs,
      |    ${Num.sql(
        "CAST(CAST(sum(max_l) AS BIGINT) AS DOUBLE) / CAST(max(nn) AS DOUBLE)",
        6)} AS purity
      |  FROM byc, tot)
      |SELECT n_docs, n_clusters, n_labels, purity, mi_u, hc_u, hl_u,
      |  CASE WHEN hc_u <= 0 OR hl_u <= 0 THEN 0e0
      |    ELSE ${Num.sql(
        "CAST(mi_u AS DOUBLE) / sqrt(CAST(hc_u AS DOUBLE) * CAST(hl_u AS DOUBLE))",
        6)} END AS nmi
      |FROM pur, mi, hc, hl""".stripMargin

  /** Soundex (no h/w-transparency variant) as a SQL fragment over an
    * upper-case word expression `w` — identical pipeline in both
    * engines; `duck` only adds DuckDB's explicit global-replace flag
    * (Spark's regexp_replace is global by default). Digit classes:
    * BFPV→1 CGJKQSXZ→2 DT→3 L→4 MN→5 R→6, vowels/H/W/Y→0. */
  private[graft] def soundexSql(w: String, duck: Boolean): String = {
    val g = if (duck) ", 'g'" else ""
    val tr = s"translate($w, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ'," +
      s" '01230120022455012623010202')"
    val collapsed = (1 to 6).foldLeft(tr)((a, d) =>
      s"regexp_replace($a, '$d$d+', '$d'$g)")
    s"substr($w, 1, 1) ||" +
      s" substr(replace(substr($collapsed, 2), '0', '') || '000', 1, 3)"
  }

  // --------------------------------------------------------------------
  // q_link_align fragments — per-segment rollup + the oracle's
  // recursive wavefront (the q_eval_rougel machinery with SW scoring).

  private lazy val swAgg: Seq[String] = Seq(
    "CAST(count(*) AS BIGINT) AS n",
    "CAST(floor(CAST(sum(sw) AS DOUBLE) / CAST(count(*) AS DOUBLE)" +
      " * 1000000.0e0 + 0.5e0) AS BIGINT) AS mean_sw_u",
    "CAST(max(sw) AS BIGINT) AS max_sw",
    "CAST(min(sw) AS BIGINT) AS min_sw")

  private def swOracle: String =
    s"""WITH RECURSIVE c0 AS (
      |  SELECT c_custkey AS id, c_mktsegment AS seg, c_name AS nm
      |  FROM customer),
      |base AS (
      |  SELECT id, seg,
      |    list_transform(range(1, length(nm) + 1),
      |      i -> nm[CAST(i AS INTEGER):CAST(i AS INTEGER)]) AS aw,
      |    list_filter(list_transform(range(1, length(nm) + 1),
      |      i -> CASE WHEN (id + i) % 9 = 0 THEN NULL
      |                WHEN (id + i) % 5 = 0 THEN 'x'
      |                ELSE nm[CAST(i AS INTEGER):CAST(i AS INTEGER)]
      |           END),
      |      x -> x IS NOT NULL) AS bw
      |  FROM c0),
      |dims AS (
      |  SELECT id, seg, aw, bw, len(aw) AS n, len(bw) AS m FROM base),
      |rec AS (
      |  SELECT id, n, m, aw, bw, CAST(1 AS BIGINT) AS d,
      |    list_transform(range(0, n + 1), x -> 0) AS d1,
      |    list_transform(range(0, n + 1), x -> 0) AS d2,
      |    0 AS bst
      |  FROM dims WHERE n >= 1 AND m >= 1
      |  UNION ALL
      |  SELECT id, n, m, aw, bw, d + 1 AS d,
      |    nd AS d1, d1 AS d2,
      |    greatest(bst, list_max(nd)) AS bst
      |  FROM (
      |    SELECT rec.*,
      |      list_transform(range(0, n + 1), i ->
      |        CASE WHEN i = 0 OR d + 1 - i <= 0 OR d + 1 - i > m THEN 0
      |             ELSE greatest(0,
      |               d1[CAST(i AS INTEGER)] - 1,
      |               d1[CAST(i AS INTEGER) + 1] - 1,
      |               d2[CAST(i AS INTEGER)] +
      |                 CASE WHEN aw[CAST(i AS INTEGER)] =
      |                   bw[CAST(d + 1 - i AS INTEGER)]
      |                   THEN 2 ELSE -1 END)
      |        END) AS nd
      |    FROM rec WHERE d < n + m) q),
      |fin AS (
      |  SELECT id, bst AS sw FROM rec WHERE d = n + m
      |  UNION ALL
      |  SELECT id, 0 AS sw FROM dims WHERE n = 0 OR m = 0),
      |per AS (
      |  SELECT dims.seg, fin.sw FROM fin JOIN dims USING (id))
      |SELECT seg, ${swAgg.mkString(",\n  ")}
      |FROM per GROUP BY seg""".stripMargin
}
