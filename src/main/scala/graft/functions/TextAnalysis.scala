package graft.functions

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-pipeline data curation (SURVEY.md §2B
  * north star): token counting, quality scoring, language-ID heuristic and
  * document fingerprinting over the `documents` table.
  *
  * All four queries are shuffle-free narrow projections (the scan prunes to
  * `doc_id, text[, lang]`), so they scale linearly with input size — the
  * shape that matters when scoring 100 TB of crawl text. Hashes are
  * md5-derived so the DuckDB oracle reproduces them bit-for-bit (Spark
  * xxhash64/hash are engine-specific; md5 is standard everywhere).
  *
  * The winnowing minimum-shingle fingerprint follows Schleimer, Wilkerson
  * & Aiken, "Winnowing: local algorithms for document fingerprinting"
  * (SIGMOD 2003); the rolling polynomial hash is Karp–Rabin (1987).
  */
object TextAnalysis {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** q_text_multimatch dictionary: border-free ASCII phrases (no
    * proper prefix = suffix, none a substring of another) — the class
    * where AC all-ends counting equals the oracle's replace-based
    * greedy count. 'hash value' exercises cross-token matching. */
  private val mmPats: Seq[String] =
    Seq("scan", "merge", "table", "spark", "hash value")

  private def mmPatsSqlValues: String =
    mmPats.map(p => s"('$p')").mkString(", ")

  private def mmPatsSqlArray: String =
    "array(" + mmPats.map(p => s"'$p'").mkString(", ") + ")"

  import org.apache.spark.sql.GraftBridge

  /** First 8 md5 hex chars as an unsigned 32-bit value in a long —
    * identical in DuckDB as CAST('0x'||substr(md5(e),1,8) AS BIGINT). */
  def h32(c: Column): Column =
    GraftBridge.column(Md5Prefix(GraftBridge.expression(c), 32))

  /** First 15 md5 hex chars = 60 bits in a long (16 would overflow the
    * sign bit). DuckDB: CAST('0x'||substr(md5(e),1,15) AS BIGINT).
    * Computed by the native [[Md5Prefix]] expression (byte path, no hex
    * round-trip); HashSpec pins equality with the declarative formula. */
  def h60(c: Column): Column =
    GraftBridge.column(Md5Prefix(GraftBridge.expression(c), 60))

  /** DuckDB fragment equivalent of [[h32]]. */
  def h32sql(e: String): String = s"CAST('0x' || substr(md5($e), 1, 8) AS BIGINT)"

  /** DuckDB fragment equivalent of [[h60]]. */
  def h60sql(e: String): String = s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  private val stopwords = Seq("a", "the", "and", "of", "in")
  private val stopSqlList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  private val bpeRounds = 3

  private def trRounds = 2

  /** DuckDB replay of q_text_textrank: the identical two integer-µunit
    * rounds — per-edge integer division, order-free BIGINT sums. */
  private def textrankOracle: String = {
    val rounds = (1 to trRounds).map { k =>
      s"""s$k AS (
        |  SELECT e.v AS word, CAST(sum((p.pr * e.w) // d.wdeg) AS BIGINT)
        |    AS s
        |  FROM edges e JOIN p${k - 1} p ON e.u = p.word
        |  JOIN deg d ON e.u = d.u
        |  GROUP BY 1),
        |p$k AS (
        |  SELECT d.u AS word,
        |    150000 + (85 * coalesce(s.s, 0)) // 100 AS pr
        |  FROM deg d LEFT JOIN s$k s ON d.u = s.word)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
      |  SELECT string_split(text, ' ') AS ts FROM documents),
      |adj AS (
      |  SELECT ts[CAST(i AS INTEGER)] AS a, ts[CAST(i AS INTEGER) + 1] AS b
      |  FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM toks) u
      |  WHERE ts[CAST(i AS INTEGER)] <> ts[CAST(i AS INTEGER) + 1]
      |    AND ts[CAST(i AS INTEGER)] <> '' AND ts[CAST(i AS INTEGER) + 1] <> ''),
      |edges AS (
      |  SELECT u, v, count(*) AS w FROM (
      |    SELECT a AS u, b AS v FROM adj
      |    UNION ALL SELECT b AS u, a AS v FROM adj)
      |  GROUP BY 1, 2),
      |deg AS (SELECT u, CAST(sum(w) AS BIGINT) AS wdeg FROM edges GROUP BY 1),
      |p0 AS (SELECT u AS word, CAST(1000000 AS BIGINT) AS pr FROM deg),
      |$rounds
      |SELECT word, pr FROM (
      |  SELECT word, pr,
      |    row_number() OVER (ORDER BY pr DESC, word) AS rk
      |  FROM p$trRounds) rr
      |WHERE rk <= 10""".stripMargin
  }

  /** Symbol-wrapper delimiters for the BPE-train replace-encoding:
    * U+001E / U+001F control characters, NOT '(' / ')' — a token
    * containing a paren (e.g. the single char ')' encodes as "())")
    * made the paren encoding ambiguous, so a merge could corrupt
    * symbol boundaries (r7 ADVICE). Control separators cannot appear
    * in whitespace-split tokens of any sane corpus; both engines use
    * the identical bytes (Verify's JSON escaper \\u-escapes them on
    * the way to the driver). */
  private val bpeO = "\u001e"
  private val bpeC = "\u001f"

  /** The shared CTE prefix replaying q_text_bpe_train's merge rounds
    * in DuckDB (the k-means/PageRank oracle pattern). Round k:
    * tokenize the previous encoding, count adjacent pairs, pick the
    * (freq desc, a, b) argmax, apply it with replace(). Ends at
    * `w<bpeRounds>` (the trained word encodings) plus the per-round
    * `r<k>` summary rows — q_text_bpe_train unions the latter,
    * q_text_bpe_apply tokenizes the corpus against the former (DuckDB
    * drops unused CTEs, so sharing the full prefix costs nothing). */
  private def bpeCtePrefix: String = {
    val rounds = (1 to bpeRounds).map { k =>
      s"""t$k AS (SELECT w, c, enc,
        |  string_split(substr(enc, 2, length(enc) - 2), '$bpeC$bpeO') AS ts
        |  FROM w${k - 1}),
        |p$k AS (
        |  SELECT ts[CAST(i AS INTEGER)] AS a,
        |    ts[CAST(i AS INTEGER) + 1] AS b,
        |    CAST(sum(c) AS BIGINT) AS freq
        |  FROM (SELECT ts, c, unnest(range(1, len(ts))) AS i FROM t$k) u
        |  GROUP BY 1, 2),
        |b$k AS (SELECT a, b, freq FROM p$k ORDER BY freq DESC, a, b LIMIT 1),
        |w$k AS (
        |  SELECT t.w, t.c,
        |    replace(t.enc, '$bpeO' || b.a || '$bpeC$bpeO' || b.b || '$bpeC',
        |      '$bpeO' || b.a || b.b || '$bpeC') AS enc
        |  FROM t$k t, b$k b),
        |r$k AS (
        |  SELECT $k AS round, b.a, b.b, b.freq, s.vocab_toks
        |  FROM b$k b, (
        |    SELECT CAST(sum(c * (length(enc) -
        |      length(replace(enc, '$bpeO', '')))) AS BIGINT) AS vocab_toks
        |    FROM w$k) s)""".stripMargin
    }.mkString(",\n")
    s"""WITH wt AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT w, count(*) AS c FROM wt WHERE w <> '' GROUP BY 1),
      |w0 AS (SELECT w, c,
      |  regexp_replace(w, '(.)', '$bpeO\\1$bpeC', 'g') || '${bpeO}_$bpeC'
      |    AS enc FROM wc),
      |$rounds""".stripMargin
  }

  private def bpeTrainOracle: String = {
    val union = (1 to bpeRounds)
      .map(k => s"SELECT * FROM r$k").mkString(" UNION ALL ")
    s"""$bpeCtePrefix
      |$union""".stripMargin
  }

  /** DuckDB replay of q_text_bpe_apply: tokenize every word with the
    * trained encoding (w<bpeRounds>), rank the post-merge vocabulary
    * into ids by (corpus frequency desc, token), fingerprint each
    * word's id sequence, and roll the fingerprints up per document. */
  private def bpeApplyOracle: String =
    s"""$bpeCtePrefix,
      |tok AS (
      |  SELECT w, c,
      |    string_split(substr(enc, 2, length(enc) - 2), '$bpeC$bpeO') AS ts
      |  FROM w$bpeRounds),
      |vocab AS (
      |  SELECT tokn, CAST(sum(c) AS BIGINT) AS freq
      |  FROM (SELECT unnest(ts) AS tokn, c FROM tok) v GROUP BY 1),
      |vid AS (
      |  SELECT tokn,
      |    CAST(row_number() OVER (ORDER BY freq DESC, tokn) AS BIGINT)
      |      AS id
      |  FROM vocab),
      |wfp AS (
      |  SELECT x.w, count(*) AS n_toks, CAST(sum(id) AS BIGINT) AS id_sum,
      |    bit_xor(id) AS id_xor
      |  FROM (SELECT w, unnest(ts) AS tokn FROM tok) x
      |  JOIN vid USING (tokn) GROUP BY 1),
      |dw AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents)
      |SELECT doc_id, count(*) AS n_words,
      |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(sum(id_sum) AS BIGINT) AS id_sum,
      |  bit_xor(id_xor) AS id_xor
      |FROM dw JOIN wfp USING (w)
      |GROUP BY 1""".stripMargin

  /** The shared Spark-side BPE training loop (Sennrich et al. 2016 —
    * see q_text_bpe_train's header for the greedy-replace semantics
    * and scale argument): corpus → word counts, then bpeRounds merge
    * rounds, each a vocab-sized pair explode + deterministic 1-row
    * argmax + broadcast replace, localCheckpointed per round. Returns
    * the per-round (round, a, b, freq, vocab_toks) summary rows
    * (q_text_bpe_train's output) AND the final (w, c, enc) word
    * encoding (q_text_bpe_apply's tokenizer). */
  private def bpeTrain(s: SparkSession, dir: String)
      : (Seq[DataFrame], DataFrame) = {
    val wc = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    def nTok(e: Column): Column =
      length(e) - length(replace(e, lit(bpeO), lit("")))
    var cur = wc.select(col("w"), col("c"),
        concat(regexp_replace(col("w"), "(.)", bpeO + "$1" + bpeC),
          lit(bpeO + "_" + bpeC)).as("enc"))
      .localCheckpoint()
    val rounds = (1 to bpeRounds).map { k =>
      val ts = split(col("enc").substr(lit(2), length(col("enc")) - 2),
        java.util.regex.Pattern.quote(bpeC + bpeO))
      val pairs = cur.select(col("c"), ts.as("ts"))
        .select(col("c"), col("ts"),
          explode(sequence(lit(1), size(col("ts")) - 1)).as("i"))
        .select(element_at(col("ts"), col("i")).as("a"),
          element_at(col("ts"), col("i") + 1).as("b"), col("c"))
        .groupBy(col("a"), col("b")).agg(sum(col("c")).as("freq"))
      // total order (freq, a, b) makes the 1-row argmax deterministic
      val best = pairs.orderBy(col("freq").desc, col("a"), col("b"))
        .limit(1)
      cur = cur.crossJoin(broadcast(best))
        .select(col("w"), col("c"),
          replace(col("enc"),
            concat(lit(bpeO), col("a"), lit(bpeC + bpeO), col("b"),
              lit(bpeC)),
            concat(lit(bpeO), col("a"), col("b"), lit(bpeC))).as("enc"))
        .localCheckpoint()
      val tot = cur.agg(sum(col("c") * nTok(col("enc")))
        .as("vocab_toks"))
      best.select(lit(k).as("round"), col("a"), col("b"), col("freq"))
        .crossJoin(broadcast(tot))
    }
    (rounds, cur)
  }

  // --------------------------------------------------------------------
  // q_eval_rougel fragments — per-doc µ-quantized P/R/F, per-source
  // fold-order-free means; the oracle's recursive wavefront.

  private lazy val rougePer: Seq[String] = Seq(
    "source",
    "CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE CAST(floor(" +
      "CAST(lcs AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0e0 + 0.5e0)" +
      " AS BIGINT) END AS p_u",
    "CASE WHEN m = 0 THEN CAST(0 AS BIGINT) ELSE CAST(floor(" +
      "CAST(lcs AS DOUBLE) / CAST(m AS DOUBLE) * 1000000.0e0 + 0.5e0)" +
      " AS BIGINT) END AS r_u",
    "CASE WHEN n + m = 0 THEN CAST(0 AS BIGINT) ELSE CAST(floor(" +
      "2.0e0 * CAST(lcs AS DOUBLE) / CAST(n + m AS DOUBLE)" +
      " * 1000000.0e0 + 0.5e0) AS BIGINT) END AS f_u")

  private lazy val rougeAgg: Seq[String] = Seq(
    "CAST(count(*) AS BIGINT) AS n_docs",
    "CAST(floor(CAST(sum(p_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)" +
      " + 0.5e0) AS BIGINT) AS mean_p_u",
    "CAST(floor(CAST(sum(r_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)" +
      " + 0.5e0) AS BIGINT) AS mean_r_u",
    "CAST(floor(CAST(sum(f_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)" +
      " + 0.5e0) AS BIGINT) AS mean_f_u")

  /** DuckDB replay of q_eval_rougel: the identical anti-diagonal
    * wavefront as a recursive CTE — one row per (doc, diagonal)
    * carrying the two prior diagonals as lists; every cell reads only
    * position-independent entries of those lists. */
  private def rougeOracle: String =
    s"""WITH RECURSIVE d0 AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS rw
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, source, rw,
      |    list_filter(list_transform(range(1, len(rw) + 1),
      |      i -> CASE WHEN (doc_id + i) % 11 = 0 THEN NULL
      |                WHEN (doc_id + i) % 7 = 0 THEN 'the'
      |                ELSE rw[CAST(i AS INTEGER)] END),
      |      x -> x IS NOT NULL) AS cw
      |  FROM d0),
      |dims AS (
      |  SELECT doc_id, source, cw, rw,
      |    len(cw) AS n, len(rw) AS m FROM base),
      |rec AS (
      |  SELECT doc_id, n, m, cw, rw, CAST(1 AS BIGINT) AS d,
      |    list_transform(range(0, n + 1), x -> 0) AS d1,
      |    list_transform(range(0, n + 1), x -> 0) AS d2
      |  FROM dims WHERE n >= 1 AND m >= 1
      |  UNION ALL
      |  SELECT doc_id, n, m, cw, rw, d + 1 AS d,
      |    list_transform(range(0, n + 1), i ->
      |      CASE WHEN i = 0 OR d + 1 - i <= 0 OR d + 1 - i > m THEN 0
      |           ELSE greatest(
      |             d1[CAST(i AS INTEGER)],
      |             d1[CAST(i AS INTEGER) + 1],
      |             d2[CAST(i AS INTEGER)] +
      |               CASE WHEN cw[CAST(i AS INTEGER)] =
      |                 rw[CAST(d + 1 - i AS INTEGER)]
      |                 THEN 1 ELSE 0 END)
      |      END) AS d1,
      |    d1 AS d2
      |  FROM rec WHERE d < n + m),
      |lcst AS (
      |  SELECT doc_id, n, m, d1[CAST(n AS INTEGER) + 1] AS lcs
      |  FROM rec WHERE d = n + m
      |  UNION ALL
      |  SELECT doc_id, n, m, 0 AS lcs
      |  FROM dims WHERE n = 0 OR m = 0),
      |per AS (
      |  SELECT ${rougePer.mkString(",\n    ")}
      |  FROM lcst JOIN dims USING (doc_id, n, m))
      |SELECT source, ${rougeAgg.mkString(",\n  ")}
      |FROM per GROUP BY source""".stripMargin

  // --------------------------------------------------------------------
  // q_eval_bleu fragments — clipped n-gram precisions + brevity
  // penalty in µnats; ONE output text, two engines.

  /** Per-order µnat log-precision with the −20 nat zero-match floor. */
  private def bleuLp(n: Int): String =
    s"CASE WHEN m$n = 0 THEN CAST(-20000000 AS BIGINT)" +
      s" ELSE CAST(floor(ln(CAST(m$n AS DOUBLE) / CAST(t$n AS DOUBLE))" +
      s" * 1000000.0e0 + 0.5e0) AS BIGINT) END"

  private def bleuLbp: String =
    "CAST(floor(least(0.0e0, 1.0e0 - CAST(rlen AS DOUBLE)" +
      " / CAST(clen AS DOUBLE)) * 1000000.0e0 + 0.5e0) AS BIGINT)"

  private lazy val bleuOut: Seq[String] =
    Seq("source", "clen", "rlen") ++
      (1 to 4).flatMap(n => Seq(s"m$n", s"t$n")) :+
      ("CAST(floor(CAST(" +
        (1 to 4).map(n => s"(${bleuLp(n)})").mkString(" + ") +
        " AS DOUBLE) / 4.0e0 + 0.5e0) AS BIGINT)" +
        s" + ($bleuLbp) AS logbleu_u")

  /** DuckDB replay of q_eval_bleu: same candidate corruption, in-list
    * n-gram windows, per-doc clipping, per-source rollup. */
  private def bleuOracle: String = {
    def gramsSql(c: String, n: Int): String =
      s"""list_transform(range(1, len($c) - ${n - 1} + 1),
        |      i -> array_to_string($c[i:i + ${n - 1}], ' '))""".stripMargin
    val perN = (1 to 4).map { n =>
      s"""cc$n AS (
        |  SELECT source, doc_id, g, count(*) AS cc
        |  FROM (SELECT source, doc_id,
        |      unnest(${gramsSql("cw", n)}) AS g FROM base)
        |  GROUP BY 1, 2, 3),
        |rc$n AS (
        |  SELECT doc_id, g, count(*) AS rc
        |  FROM (SELECT doc_id, unnest(${gramsSql("rw", n)}) AS g
        |    FROM base)
        |  GROUP BY 1, 2),
        |p$n AS (
        |  SELECT source,
        |    CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS m$n,
        |    CAST(sum(cc) AS BIGINT) AS t$n
        |  FROM cc$n LEFT JOIN rc$n USING (doc_id, g)
        |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH d0 AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS rw
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, source, rw,
      |    list_filter(list_transform(range(1, len(rw) + 1),
      |      i -> CASE WHEN (doc_id + i) % 11 = 0 THEN NULL
      |                WHEN (doc_id + i) % 7 = 0 THEN 'the'
      |                ELSE rw[CAST(i AS INTEGER)] END),
      |      x -> x IS NOT NULL) AS cw
      |  FROM d0),
      |lens AS (
      |  SELECT source, CAST(sum(len(cw)) AS BIGINT) AS clen,
      |    CAST(sum(len(rw)) AS BIGINT) AS rlen
      |  FROM base GROUP BY 1),
      |$perN
      |SELECT ${bleuOut.mkString(",\n  ")}
      |FROM lens
      |JOIN p1 USING (source) JOIN p2 USING (source)
      |JOIN p3 USING (source) JOIN p4 USING (source)""".stripMargin
  }

  /** DuckDB replay of q_eval_chrf: same corruption, whitespace-stripped
    * character n-grams of orders 1..6 counted RAW (the engine side is
    * a per-row kernel, so there is no shuffle key to hash), per-(doc,
    * order) matched/total counts, and the β=2 F-score in EXACT integer
    * µ-units — F = 5m/(4·tr + tc) is a ratio of exact integers, so
    * unlike BLEU's logs there is NO float anywhere in this metric. */
  private def chrfOracle: String = {
    s"""WITH d0 AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS rw
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, source,
      |    array_to_string(list_filter(list_transform(range(1, len(rw) + 1),
      |      i -> CASE WHEN (doc_id + i) % 11 = 0 THEN NULL
      |                WHEN (doc_id + i) % 7 = 0 THEN 'the'
      |                ELSE rw[CAST(i AS INTEGER)] END),
      |      x -> x IS NOT NULL), '') AS cs,
      |    array_to_string(rw, '') AS rs
      |  FROM d0),
      |gr AS (
      |  SELECT doc_id, source, n, g AS gid, side FROM (
      |    SELECT doc_id, source, nn.n AS n,
      |      unnest(list_transform(range(1, len(cs) - nn.n + 2),
      |        i -> substring(cs, CAST(i AS INTEGER), nn.n))) AS g,
      |      0 AS side
      |    FROM base, (SELECT CAST(unnest(range(1, 7)) AS INTEGER) AS n) nn
      |    WHERE len(cs) >= nn.n
      |    UNION ALL
      |    SELECT doc_id, source, nn.n AS n,
      |      unnest(list_transform(range(1, len(rs) - nn.n + 2),
      |        i -> substring(rs, CAST(i AS INTEGER), nn.n))) AS g,
      |      1 AS side
      |    FROM base, (SELECT CAST(unnest(range(1, 7)) AS INTEGER) AS n) nn
      |    WHERE len(rs) >= nn.n)),
      |cnts AS (
      |  SELECT doc_id, source, n, gid,
      |    count(CASE WHEN side = 0 THEN 1 END) AS c0,
      |    count(CASE WHEN side = 1 THEN 1 END) AS c1
      |  FROM gr GROUP BY 1, 2, 3, 4),
      |pn AS (
      |  SELECT doc_id, source, n,
      |    CAST(sum(least(c0, c1)) AS BIGINT) AS m,
      |    CAST(sum(c0) AS BIGINT) AS tc,
      |    CAST(sum(c1) AS BIGINT) AS tr
      |  FROM cnts GROUP BY 1, 2, 3),
      |fd AS (
      |  SELECT doc_id, source,
      |    CAST(sum((5 * m * 1000000) // (4 * tr + tc)) AS BIGINT)
      |      // count(*) AS chrf_u
      |  FROM pn GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(floor(CAST(sum(chrf_u) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) + 0.5e0) AS BIGINT) AS mean_chrf_u
      |FROM fd GROUP BY 1""".stripMargin
  }

  // --------------------------------------------------------------------
  // WordPiece trainer — bpeTrain's loop with the likelihood argmax.

  private def wpRounds = 3

  /** The Spark-side WordPiece training loop: per round, pair counts
    * AND token counts over the current encoding, score =
    * freq(ab)/(freq(a)·freq(b)), deterministic (score DESC, a, b)
    * argmax, broadcast replace. Returns the per-round summary rows. */
  private def wpTrain(s: SparkSession, dir: String): Seq[DataFrame] = {
    val wc = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    def nTok(e: Column): Column =
      length(e) - length(replace(e, lit(bpeO), lit("")))
    var cur = wc.select(col("w"), col("c"),
        concat(regexp_replace(col("w"), "(.)", bpeO + "$1" + bpeC),
          lit(bpeO + "_" + bpeC)).as("enc"))
      .localCheckpoint()
    (1 to wpRounds).map { k =>
      val ts = split(col("enc").substr(lit(2), length(col("enc")) - 2),
        java.util.regex.Pattern.quote(bpeC + bpeO))
      val toks = cur.select(col("c"), ts.as("ts"))
      val pairs = toks
        .select(col("c"), col("ts"),
          explode(sequence(lit(1), size(col("ts")) - 1)).as("i"))
        .select(element_at(col("ts"), col("i")).as("a"),
          element_at(col("ts"), col("i") + 1).as("b"), col("c"))
        .groupBy(col("a"), col("b")).agg(sum(col("c")).as("freq"))
      val tc = toks.select(explode(col("ts")).as("tokn"), col("c"))
        .groupBy(col("tokn")).agg(sum(col("c")).as("tf"))
      val best = pairs
        .join(tc.select(col("tokn").as("a"), col("tf").as("ta")), "a")
        .join(tc.select(col("tokn").as("b"), col("tf").as("tb")), "b")
        .selectExpr("a", "b", "freq",
          "CAST(freq AS DOUBLE)" +
            " / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)) AS score")
        .orderBy(col("score").desc, col("a"), col("b"))
        .limit(1)
      cur = cur.crossJoin(broadcast(best.select(col("a"), col("b"))))
        .select(col("w"), col("c"),
          replace(col("enc"),
            concat(lit(bpeO), col("a"), lit(bpeC + bpeO), col("b"),
              lit(bpeC)),
            concat(lit(bpeO), col("a"), col("b"), lit(bpeC))).as("enc"))
        .localCheckpoint()
      val tot = cur.agg(sum(col("c") * nTok(col("enc")))
        .as("vocab_toks"))
      best.select(lit(k).as("round"), col("a"), col("b"), col("freq"),
          expr("CAST(floor(score * 1000000000000.0e0 + 0.5e0) AS BIGINT)")
            .as("score_u"))
        .crossJoin(broadcast(tot))
    }
  }

  /** DuckDB replay of q_text_wordpiece: generated CTEs per round —
    * pair counts, token counts, likelihood argmax, replace. */
  private def wpTrainOracle: String = {
    val rounds = (1 to wpRounds).map { k =>
      s"""t$k AS (SELECT w, c, enc,
        |  string_split(substr(enc, 2, length(enc) - 2), '$bpeC$bpeO') AS ts
        |  FROM w${k - 1}),
        |p$k AS (
        |  SELECT ts[CAST(i AS INTEGER)] AS a,
        |    ts[CAST(i AS INTEGER) + 1] AS b,
        |    CAST(sum(c) AS BIGINT) AS freq
        |  FROM (SELECT ts, c, unnest(range(1, len(ts))) AS i FROM t$k) u
        |  GROUP BY 1, 2),
        |c$k AS (
        |  SELECT tokn, CAST(sum(c) AS BIGINT) AS tf
        |  FROM (SELECT unnest(ts) AS tokn, c FROM t$k) v GROUP BY 1),
        |s$k AS (
        |  SELECT p.a, p.b, p.freq,
        |    CAST(p.freq AS DOUBLE)
        |      / (CAST(ca.tf AS DOUBLE) * CAST(cb.tf AS DOUBLE)) AS score
        |  FROM p$k p JOIN c$k ca ON p.a = ca.tokn
        |  JOIN c$k cb ON p.b = cb.tokn),
        |b$k AS (
        |  SELECT a, b, freq, score FROM s$k
        |  ORDER BY score DESC, a, b LIMIT 1),
        |w$k AS (
        |  SELECT t.w, t.c,
        |    replace(t.enc, '$bpeO' || b.a || '$bpeC$bpeO' || b.b || '$bpeC',
        |      '$bpeO' || b.a || b.b || '$bpeC') AS enc
        |  FROM t$k t, b$k b),
        |r$k AS (
        |  SELECT $k AS round, b.a, b.b, b.freq,
        |    CAST(floor(score * 1000000000000.0e0 + 0.5e0) AS BIGINT)
        |      AS score_u,
        |    s.vocab_toks
        |  FROM b$k b, (
        |    SELECT CAST(sum(c * (length(enc) -
        |      length(replace(enc, '$bpeO', '')))) AS BIGINT) AS vocab_toks
        |    FROM w$k) s)""".stripMargin
    }.mkString(",\n")
    val union = (1 to wpRounds)
      .map(k => s"SELECT * FROM r$k").mkString(" UNION ALL ")
    s"""WITH wt AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT w, count(*) AS c FROM wt WHERE w <> '' GROUP BY 1),
      |w0 AS (SELECT w, c,
      |  regexp_replace(w, '(.)', '$bpeO\\1$bpeC', 'g') || '${bpeO}_$bpeC'
      |    AS enc FROM wc),
      |$rounds
      |$union""".stripMargin
  }

  /** Unigram-LM (SentencePiece-style) tokenizer constants: candidate
    * tokens up to 4 chars, 24 multi-char vocab slots, 2 EM rounds. */
  private val uniMaxTok = 4
  private val uniTopK = 24
  private val uniRounds = 2

  /** Viterbi best segmentation of `w` under the µnat score map `vm`
    * (tok → floor(ln(p)·10⁶), BIGINT): dp over positions as a bounded
    * HOF — acc(k) = (best score, backpointer) for prefix k−1, each
    * step scanning at most [[uniMaxTok]] predecessors — then a second
    * fold walks the backpointers into the token list. Entirely inside
    * whole-stage codegen: no UDF, no shuffle, vocabulary lookups via
    * one broadcast map column. Tie-break is total: max score, then
    * smallest predecessor (longest final token) via max of
    * (s, −j) — the same rule the DuckDB replay spells. */
  private def unigramVit(w: Column, vm: Column): Column = {
    val n = length(w)
    val dp = aggregate(
      sequence(lit(1), n),
      array(struct(lit(0L).as("s"), lit(-1L).as("bp"))),
      (acc, i) => {
        val cands = filter(
          transform(sequence(greatest(i - lit(uniMaxTok), lit(0)), i - 1),
            j => struct(
              (element_at(acc, (j + 1).cast("int"))("s") +
                try_element_at(vm, w.substr((j + 1).cast("int"),
                  (i - j).cast("int")))).as("s"),
              (-j).cast("long").as("nj"))),
          x => x("s").isNotNull)
        val best = array_max(cands)
        concat(acc,
          array(struct(best("s").as("s"), (-best("nj")).as("bp"))))
      })
    aggregate(
      sequence(lit(1), n),
      struct(n.cast("long").as("pos"),
        array().cast("array<string>").as("toks")),
      (st, _) => {
        val pos = st("pos")
        val j = element_at(dp, (pos + 1).cast("int"))("bp")
        when(pos > lit(0L), struct(j.as("pos"),
          concat(array(w.substr((j + 1).cast("int"),
            (pos - j).cast("int"))), st("toks")).as("toks")))
          .otherwise(st)
      })("toks")
  }

  /** One generated Viterbi-segmentation CTE block against the scored
    * vocab `lamCte`: a 1-row token→µnat MAP, the dp as a recursive CTE
    * carrying the growing (score, backpointer) list per word, and the
    * backtrace recursion — recursion standing in for Spark's HOF fold,
    * with identical candidate windows and the identical
    * (max s, min j) tie-break. Emits `bt$tag` (toks per word at
    * pos = 0). */
  private def uniVitCtes(tag: String, lamCte: String): String =
    s"""vm$tag AS (
      |  SELECT map(list(tok ORDER BY tok), list(lam ORDER BY tok))
      |    AS vm
      |  FROM $lamCte),
      |dp$tag AS (
      |  SELECT w, c, 0 AS i,
      |    [struct_pack(s := CAST(0 AS BIGINT),
      |      bp := CAST(-1 AS BIGINT))] AS acc
      |  FROM wc
      |  UNION ALL
      |  SELECT w, c, i + 1, list_append(acc, (
      |    SELECT struct_pack(s := mx.s, bp := -mx.nj) FROM (
      |      SELECT list_max(list_filter(list_transform(
      |        range(greatest(i + 1 - $uniMaxTok, 0), i + 1),
      |        j -> struct_pack(
      |          s := acc[CAST(j + 1 AS INTEGER)].s +
      |            vm[substr(w, CAST(j + 1 AS INTEGER),
      |              CAST(i + 1 - j AS INTEGER))][1],
      |          nj := -j)),
      |        x -> x.s IS NOT NULL)) AS mx)))
      |  FROM dp$tag, vm$tag WHERE i < length(w)),
      |bt$tag AS (
      |  SELECT w, c, acc, CAST(length(w) AS BIGINT) AS pos,
      |    CAST([] AS VARCHAR[]) AS toks
      |  FROM dp$tag WHERE i = length(w)
      |  UNION ALL
      |  SELECT w, c, acc, acc[CAST(pos + 1 AS INTEGER)].bp,
      |    list_prepend(substr(w,
      |      CAST(acc[CAST(pos + 1 AS INTEGER)].bp + 1 AS INTEGER),
      |      CAST(pos - acc[CAST(pos + 1 AS INTEGER)].bp AS INTEGER)),
      |      toks)
      |  FROM bt$tag WHERE pos > 0)""".stripMargin

  /** The shared CTE prefix replaying q_text_unigram's seed + EM rounds
    * in DuckDB (the bpeCtePrefix pattern): substring-count seeding,
    * then per round a Viterbi segmentation block ([[uniVitCtes]]) and
    * the M-step re-count. Ends at `l$uniRounds`, the final scored
    * vocabulary — q_text_unigram unions the per-round tables,
    * q_text_unigram_apply segments the corpus against the final one. */
  private def uniCtePrefix: String = {
    val rounds = (1 to uniRounds).map { r =>
      s"""${uniVitCtes(r.toString, s"l${r - 1}")},
        |use$r AS (
        |  SELECT tok, CAST(sum(c) AS BIGINT) AS u
        |  FROM (SELECT c, unnest(toks) AS tok FROM bt$r WHERE pos = 0)
        |  GROUP BY 1),
        |v$r AS (
        |  SELECT ch.tok, CAST(coalesce(u.u, 0) + 1 AS BIGINT) AS cnt
        |  FROM ch LEFT JOIN use$r u ON ch.tok = u.tok
        |  UNION ALL
        |  SELECT tok, u AS cnt FROM use$r WHERE length(tok) > 1),
        |l$r AS (
        |  SELECT tok, cnt,
        |    CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(t.total AS DOUBLE))
        |      * 1e6) AS BIGINT) AS lam
        |  FROM v$r, (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v$r) t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
      |wt AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM wt
      |  WHERE w <> '' GROUP BY 1),
      |ch AS (
      |  SELECT substr(w, CAST(i AS INTEGER), 1) AS tok,
      |    CAST(sum(c) + 1 AS BIGINT) AS cnt
      |  FROM (SELECT w, c, unnest(range(1, length(w) + 1)) AS i FROM wc)
      |  GROUP BY 1),
      |mu AS (
      |  SELECT substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS tok,
      |    CAST(sum(c) AS BIGINT) AS cnt
      |  FROM (SELECT w, c, i, unnest(range(2, ${uniMaxTok + 1})) AS l
      |    FROM (SELECT w, c, unnest(range(1, length(w) + 1)) AS i
      |      FROM wc))
      |  WHERE i + l - 1 <= length(w)
      |  GROUP BY 1),
      |tp AS (SELECT tok, cnt FROM mu ORDER BY cnt DESC, tok
      |  LIMIT $uniTopK),
      |v0 AS (SELECT * FROM ch UNION ALL SELECT * FROM tp),
      |l0 AS (
      |  SELECT tok, cnt,
      |    CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(t.total AS DOUBLE))
      |      * 1e6) AS BIGINT) AS lam
      |  FROM v0, (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v0) t),
      |$rounds""".stripMargin
  }

  /** DuckDB replay of q_text_unigram: the prefix's full (round, tok,
    * cnt, lam) vocabulary trajectory. */
  private def unigramOracle: String = {
    val out = (0 to uniRounds)
      .map(r => s"SELECT $r AS round, tok, cnt, lam FROM l$r")
      .mkString("\nUNION ALL ")
    s"""$uniCtePrefix
      |$out""".stripMargin
  }

  /** DuckDB replay of q_text_unigram_apply: one more Viterbi pass
    * against the FINAL vocabulary, frequency-ranked token ids, and
    * per-document fingerprint roll-ups (the bpeApplyOracle shape). */
  private def unigramApplyOracle: String =
    s"""$uniCtePrefix,
      |${uniVitCtes("F", s"l$uniRounds")},
      |sgF AS (SELECT w, c, toks FROM btF WHERE pos = 0),
      |vocab AS (
      |  SELECT tokn, CAST(sum(c) AS BIGINT) AS freq
      |  FROM (SELECT c, unnest(toks) AS tokn FROM sgF) v GROUP BY 1),
      |vid AS (
      |  SELECT tokn,
      |    CAST(row_number() OVER (ORDER BY freq DESC, tokn) AS BIGINT)
      |      AS id
      |  FROM vocab),
      |wfp AS (
      |  SELECT x.w, count(*) AS n_toks, CAST(sum(id) AS BIGINT) AS id_sum,
      |    bit_xor(id) AS id_xor
      |  FROM (SELECT w, unnest(toks) AS tokn FROM sgF) x
      |  JOIN vid USING (tokn) GROUP BY 1),
      |dw AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents)
      |SELECT doc_id, count(*) AS n_words,
      |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(sum(id_sum) AS BIGINT) AS id_sum,
      |  bit_xor(id_xor) AS id_xor
      |FROM dw JOIN wfp USING (w)
      |GROUP BY 1""".stripMargin

  /** DSIR's hashed-bigram feature stream over a (doc_id, source,
    * lang, text) relation: one row per bigram occurrence, bucket =
    * h32(bigram) % 128. Shared by the q_text_dsir batch query and the
    * streaming model ingest ([[graft.streaming.Streaming
    * .dsirIngestBatch]]) so both hash identical features. */
  private[graft] def dsirBuckets(docs: DataFrame): DataFrame = {
    val ts = split(col("text"), " ")
    docs
      .select(col("doc_id"), col("source"), col("lang"), ts.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("source"), col("lang"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(col("doc_id"), col("source"), col("lang"),
        (h32(concat(element_at(col("w"), col("i")), lit(" "),
          element_at(col("w"), col("i") + 1))) % 128).as("bucket"))
  }

  /** DSIR's λ model from a per-bucket (bucket, ct, cr) count table:
    * totals derived by exact re-aggregation (so an incrementally
    * folded count table yields the IDENTICAL model as the one-shot —
    * the λ spelling is the single ln-of-exact-integer-ratio both
    * engines and both maintenance paths share). */
  private[graft] def dsirLambda(tb: DataFrame): DataFrame = {
    val tot = tb.agg(sum(col("ct")).as("tott"), sum(col("cr")).as("totr"))
    tb.crossJoin(broadcast(tot))
      .select(col("bucket"),
        floor(log(((col("ct") + 1) * lit(1e0) * (col("totr") + 128)) /
          ((col("tott") + 128) * lit(1e0) * (col("cr") + 1)))
          * lit(1e6) + lit(0.5)).cast("long").as("lam"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Token counting: whitespace tokens, BPE-ish regex tokens, distinct
    // tokens, char count. The regex pass approximates subword pre-token
    // splitting (letters / digits / other runs).
    QueryDef(
      "q_text_tokens",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  length(text) AS n_chars_measured
        |FROM documents""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      t(s, dir, "documents").select(
        col("doc_id"),
        size(toks).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("n_bpe_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        length(col("text")).as("n_chars_measured"))
    },

    // ------------------------------------------------------------------
    // MULTI-PATTERN SCREENING in one pass — the [[MultiMatch]]
    // Aho-Corasick expression driven end to end: count every
    // occurrence of a 5-phrase dictionary (including a cross-token
    // bigram phrase) per source, the contamination/denylist screen.
    // The engine side scans each document ONCE through the compiled
    // goto/fail DFA (per-row cost O(bytes + matches), independent of
    // dictionary size — the shape that survives a 10⁵-phrase denylist
    // at 100 TB, where per-pattern scans multiply the corpus read by
    // K). The oracle is deliberately the NAIVE plan — one
    // replace-and-measure scan PER pattern — so the hash match proves
    // the automaton against the definitional count on every
    // (source, pattern) cell; patterns are border-free, which is the
    // regime where all-match-ends (AC) equals greedy non-overlapping
    // (replace), and MultiMatchSpec pins the bordered regime where
    // they differ. Aggregation is one map-combinable sum keyed by
    // (source, pattern-ordinal): counts stay as a 5-long array per
    // row inside codegen until the final fold.
    QueryDef(
      "q_text_multimatch",
      s"""WITH p(pat) AS (VALUES $mmPatsSqlValues)
        |SELECT d.source, p.pat AS pattern,
        |  CAST(sum((length(d.text) - length(replace(d.text, p.pat, '')))
        |    // length(p.pat)) AS BIGINT) AS n
        |FROM documents d, p GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          posexplode(expr(s"graft_multi_match(text, $mmPatsSqlArray)")))
        .select(col("source"),
          element_at(expr(mmPatsSqlArray), col("pos") + 1).as("pattern"),
          col("col").as("c"))
        .groupBy(col("source"), col("pattern"))
        .agg(sum(col("c")).as("n"))
    },

    // ------------------------------------------------------------------
    // Quality scoring: stopword ratio, punctuation ratio, mean token
    // length, and a composite score — the filters a pre-training pipeline
    // applies before anything expensive touches the text.
    QueryDef(
      "q_text_quality",
      s"""SELECT doc_id, lang,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  ${Num.sql(s"len(list_filter(string_split(text, ' '), w -> list_contains($stopSqlList, w))) * 1.0 / len(string_split(text, ' '))", 4)} AS stop_ratio,
        |  ${Num.sql("len(regexp_extract_all(text, '[^a-z0-9 ]')) * 1.0 / length(text)", 4)} AS punct_ratio,
        |  ${Num.sql("(length(text) - len(string_split(text, ' ')) + 1) * 1.0 / len(string_split(text, ' '))", 4)} AS mean_tok_len,
        |  ${Num.sql(s"(1.0 - len(list_filter(string_split(text, ' '), w -> list_contains($stopSqlList, w))) * 1.0 / len(string_split(text, ' '))) * least(1.0, len(string_split(text, ' ')) / 50.0)", 4)} AS quality
        |FROM documents""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val nTok = size(toks).cast("double")
      val stopArr = array(stopwords.map(lit): _*)
      val nStop = size(filter(toks, w => array_contains(stopArr, w))).cast("double")
      val stopRatio = nStop / nTok
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        size(toks).as("n_tokens"),
        Num.r(stopRatio, 4).as("stop_ratio"),
        Num.r(size(regexp_extract_all(col("text"), lit("[^a-z0-9 ]"), lit(0)))
          .cast("double") / length(col("text")), 4).as("punct_ratio"),
        Num.r((length(col("text")) - size(toks) + 1).cast("double") / nTok, 4)
          .as("mean_tok_len"),
        Num.r((lit(1.0) - stopRatio) * least(lit(1.0), nTok / 50.0), 4)
          .as("quality"))
    },

    // ------------------------------------------------------------------
    // Fixed-weight logistic quality classifier — the shape of the
    // fastText/CCNet-style model gate every pre-training pipeline runs
    // after the cheap heuristics: interpretable features → linear model
    // → sigmoid → keep/drop. The weights are LITERALS standing in for a
    // trained model (training is offline; serving is what the engine
    // owns), which makes the whole classifier a pure PROJECTION: weights
    // ride the plan as constants, nothing shuffles until a downstream
    // consumer aggregates, and at 100 TB the gate runs at scan speed
    // inside whole-stage codegen. Features reuse q_text_quality's exact
    // derivations; the sigmoid is one exp per row rounded via Num (same
    // single-transcendental parity budget as q_text_tfidf's ln). The
    // label compares the ROUNDED score, so it adds no cross-engine risk
    // beyond the score column itself.
    QueryDef(
      "q_text_classify",
      s"""WITH f AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(list_filter(string_split(text, ' '),
        |      w -> list_contains($stopSqlList, w))) * 1.0
        |      / len(string_split(text, ' ')) AS stop_ratio,
        |    (length(text) - len(string_split(text, ' ')) + 1) * 1.0
        |      / len(string_split(text, ' ')) AS mean_tok_len
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, n_tok,
        |    -3.0 + 0.8 * ln(1.0 + n_tok) + 2.5 * stop_ratio
        |      - 0.1 * mean_tok_len AS zv
        |  FROM f),
        |sc AS (SELECT doc_id, n_tok, ${Num.sql("1.0 / (1.0 + exp(-zv))", 6)} AS score
        |       FROM z)
        |SELECT doc_id, n_tok, score, score >= 0.5 AS keep
        |FROM sc""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val nTok = size(toks).cast("double")
      val stopArr = array(stopwords.map(lit): _*)
      val stopRatio =
        size(filter(toks, w => array_contains(stopArr, w))).cast("double") / nTok
      val meanTokLen = (length(col("text")) - size(toks) + 1).cast("double") / nTok
      val z = lit(-3.0) + lit(0.8) * log(lit(1.0) + nTok) +
        lit(2.5) * stopRatio - lit(0.1) * meanTokLen
      t(s, dir, "documents")
        .select(col("doc_id"), size(toks).cast("long").as("n_tok"),
          Num.r(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("score"))
        .select(col("doc_id"), col("n_tok"), col("score"),
          (col("score") >= 0.5).as("keep"))
    },

    // ------------------------------------------------------------------
    // TRAINED Naive Bayes language classifier — where q_text_classify
    // serves a fixed-weight model and q_text_langid a hand-written
    // heuristic, this query TRAINS the model in-engine (Laplace-
    // smoothed per-language token log-likelihoods + doc-count priors),
    // scores every document against every language, and reports the
    // confusion matrix — the whole fit/predict/evaluate loop as one
    // declarative plan. Determinism is the q_text_lmscore trick: every
    // log-probability becomes an INTEGER (µnats) the moment it leaves
    // ln(), so per-doc score sums are order-free exact integer folds
    // and argmax can't flip on float noise (ties break on language
    // name). Scale shape: the model is V×L rows — bounded by VOCABULARY
    // (at 100 TB: df-capped or feature-hashed, from a persisted counts
    // table) — and broadcasts; scoring fans each token out L ways
    // (bounded by the language count, not the corpus) and immediately
    // collapses in a map-combinable (doc, lang) sum; prediction is one
    // window on high-cardinality doc_id. The corpus never shuffles by
    // language. (The synthetic corpus shares one vocabulary across
    // langs, so the diagonal is weak — the value is the mechanics +
    // exact cross-engine parity of a trained model, not accuracy.)
    QueryDef(
      "q_text_nb",
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |v AS (SELECT DISTINCT tok FROM t),
        |vs AS (SELECT count(*) AS vsize FROM v),
        |l AS (SELECT lang, count(*) AS dl FROM documents GROUP BY 1),
        |dt AS (SELECT count(*) AS n FROM documents),
        |c AS (
        |  SELECT d.lang, t.tok, count(*) AS c
        |  FROM t JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |nl AS (
        |  SELECT d.lang, count(*) AS ntok
        |  FROM t JOIN documents d USING (doc_id) GROUP BY 1),
        |m AS (
        |  SELECT l.lang AS cand, v.tok,
        |    CAST(floor(ln((coalesce(c.c, 0) + 1) * 1e0
        |      / (nl.ntok + vs.vsize)) * 1000000e0 + 0.5) AS BIGINT) AS s
        |  FROM v CROSS JOIN l
        |  JOIN nl ON nl.lang = l.lang
        |  CROSS JOIN vs
        |  LEFT JOIN c ON c.lang = l.lang AND c.tok = v.tok),
        |p AS (
        |  SELECT lang AS cand,
        |    CAST(floor(ln(dl * 1e0 / n) * 1000000e0 + 0.5) AS BIGINT)
        |      AS prior
        |  FROM l CROSS JOIN dt),
        |sc AS (
        |  SELECT t.doc_id, m.cand, sum(m.s) AS ts
        |  FROM t JOIN m USING (tok) GROUP BY 1, 2),
        |sc2 AS (
        |  SELECT sc.doc_id, sc.cand, sc.ts + p.prior AS score
        |  FROM sc JOIN p USING (cand)),
        |r AS (
        |  SELECT doc_id, cand,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) AS rk
        |  FROM sc2)
        |SELECT d.lang AS actual, r.cand AS pred, count(*) AS n_docs
        |FROM r JOIN documents d USING (doc_id)
        |WHERE rk = 1 GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // NOT cached (r15 negative result, 0.74× normalized): four
      // consumers re-run the corpus explode, but caching token-level
      // string rows costs more in fill + memory-read than the replays
      // save — the concurrent uncached consumers overlap instead.
      val toks = docs.transform(graft.Tables.fan(_, "doc_id"))
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
      val v = toks.select(col("tok")).distinct()
      val vsz = v.agg(count(lit(1)).as("vsize"))
      val lgs = docs.groupBy(col("lang")).agg(count(lit(1)).as("dl"))
      val dt = docs.agg(count(lit(1)).as("n"))
      val c = toks.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val nl = toks.groupBy(col("lang")).agg(count(lit(1)).as("ntok"))
      val m = v.crossJoin(broadcast(lgs.select(col("lang"))))
        .join(broadcast(c), Seq("lang", "tok"), "left")
        .join(broadcast(nl), "lang")
        .crossJoin(broadcast(vsz))
        .select(col("lang").as("cand"), col("tok"),
          floor(log((coalesce(col("c"), lit(0L)) + 1) * lit(1e0)
            / (col("ntok") + col("vsize"))) * lit(1e6) + lit(0.5))
            .cast("long").as("s"))
      val prior = lgs.crossJoin(broadcast(dt))
        .select(col("lang").as("cand"),
          floor(log(col("dl") * lit(1e0) / col("n")) * lit(1e6) + lit(0.5))
            .cast("long").as("prior"))
      val sc = toks.select(col("doc_id"), col("tok"))
        .join(broadcast(m), "tok")
        .groupBy(col("doc_id"), col("cand")).agg(sum(col("s")).as("ts"))
        .join(broadcast(prior), "cand")
        .select(col("doc_id"), col("cand"),
          (col("ts") + col("prior")).as("score"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("cand"))
      sc.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("doc_id"), col("cand").as("pred"))
        .join(docs.select(col("doc_id"), col("lang").as("actual")), "doc_id")
        .groupBy(col("actual"), col("pred"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // ------------------------------------------------------------------
    // Language-ID heuristic: score each candidate language by marker-token
    // hits; deterministic priority order breaks ties. (The synthetic corpus
    // shares one vocabulary across langs, so the value of this query is the
    // operator mechanics + oracle parity, not classifier accuracy.)
    QueryDef(
      "q_text_langid",
      """SELECT doc_id, lang,
        |  CASE
        |    WHEN en_s >= de_s AND en_s >= fr_s AND en_s > 0 THEN 'en'
        |    WHEN de_s >= fr_s AND de_s > 0 THEN 'de'
        |    WHEN fr_s > 0 THEN 'fr'
        |    ELSE 'unknown'
        |  END AS predicted,
        |  en_s, de_s, fr_s
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), w -> list_contains(['the', 'a', 'and'], w))) AS en_s,
        |    len(list_filter(string_split(text, ' '), w -> list_contains(['der', 'und', 'das'], w))) AS de_s,
        |    len(list_filter(string_split(text, ' '), w -> list_contains(['le', 'et', 'la'], w))) AS fr_s
        |  FROM documents)""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      def score(markers: Seq[String]): Column =
        size(filter(toks, w => array_contains(array(markers.map(lit): _*), w)))
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        score(Seq("the", "a", "and")).as("en_s"),
        score(Seq("der", "und", "das")).as("de_s"),
        score(Seq("le", "et", "la")).as("fr_s"))
      scored.select(
        col("doc_id"), col("lang"),
        when(col("en_s") >= col("de_s") && col("en_s") >= col("fr_s")
          && col("en_s") > 0, "en")
          .when(col("de_s") >= col("fr_s") && col("de_s") > 0, "de")
          .when(col("fr_s") > 0, "fr")
          .otherwise("unknown").as("predicted"),
        col("en_s"), col("de_s"), col("fr_s"))
    },

    // ------------------------------------------------------------------
    // Document chunking: overlapping token windows (size 50, stride 25) —
    // how long documents become training samples. explode(sequence) bounds
    // chunks per doc; the chunk text is re-joined from the token slice.
    QueryDef(
      "q_text_chunk",
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |    unnest(range(0, ((greatest(len(w) - 50, 0) + 24) // 25) + 1))
        |      AS chunk_idx
        |  FROM d)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(w[chunk_idx * 25 + 1 : chunk_idx * 25 + 50], ' ')
        |    AS chunk_text,
        |  least(len(w) - chunk_idx * 25, 50) AS n_tokens
        |FROM c""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      t(s, dir, "documents")
        .select(col("doc_id"), toks.as("w"))
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0),
            (greatest(size(col("w")) - 50, lit(0)) + 24)
              .divide(25).cast("int"))).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          array_join(slice(col("w"), col("chunk_idx") * 25 + 1, lit(50)), " ")
            .as("chunk_text"),
          least(size(col("w")) - col("chunk_idx") * 25, lit(50)).as("n_tokens"))
    },

    // ------------------------------------------------------------------
    // TF-IDF: term frequency per doc × inverse document frequency (global
    // df over ALL docs), top-3 terms per selected doc. tf and df are two
    // map-side-combinable aggregations; idf joins back on term (a
    // broadcastable vocabulary at any corpus size — vocab grows far
    // slower than the corpus).
    QueryDef(
      "q_text_tfidf",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf * ln(n.n * 1e0 / df.df) AS x
        |  FROM tf CROSS JOIN n JOIN df ON tf.term = df.term
        |  WHERE tf.doc_id < 50),
        |r AS (
        |  SELECT doc_id, term, x,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY x DESC, term) AS rnk
        |  FROM s)
        |SELECT doc_id, term, rnk, ${Num.sql("x", 6)} AS tfidf
        |FROM r WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val terms = docs.transform(graft.Tables.fan(_, "doc_id"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      // tf feeds both df and the scored join — cache so the explode +
      // first shuffle run once
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")).cache()
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("x").desc, col("term"))
      tf.filter(col("doc_id") < 50)
        .join(broadcast(df), "term")
        .crossJoin(broadcast(n))
        .withColumn("x",
          col("tf") * log(col("n") * lit(1e0) / col("df")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("rnk"),
          Num.r(col("x"), 6).as("tfidf"))
    },

    // ------------------------------------------------------------------
    // BM25 ranked retrieval — the search-engine scoring function over
    // the corpus, with every statistic it needs (df, N, avgdl) computed
    // in-engine: score(d) = Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/
    // avgdl)), the Robertson idf ln((N−df+0.5)/(df+0.5)+1), k1=1.2,
    // b=0.75 as literals on both sides. Scale shape: tokens filter to
    // the QUERY TERMS at the scan (the posting-list read — rows ∝ hits,
    // not corpus), per-term df/idf and the 1-row avgdl broadcast, doc
    // lengths join on doc_id only for hit docs, and the top-20 is
    // TakeOrderedAndProject. Determinism: tf/dl/df/N are exact
    // integers, avgdl is one double division of exact integers, and
    // both engines run the identical IEEE expression — ORDER BY the raw
    // score is stable because the doubles are bit-identical; doc_id
    // breaks true ties.
    QueryDef(
      "q_text_bm25",
      s"""WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |dl AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl
        |  FROM documents),
        |st AS (
        |  SELECT CAST(sum(dl) AS BIGINT) AS sdl, count(*) AS n FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM t
        |  WHERE term IN ('table', 'spark', 'fast') GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    ln((st.n - df.df + 0.5e0) / (df.df + 0.5e0) + 1e0)
        |      * tf.tf * 2.2e0
        |      / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl
        |        / (st.sdl * 1e0 / st.n))) AS x
        |  FROM tf
        |  JOIN df ON tf.term = df.term
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN st),
        |agg AS (SELECT doc_id, sum(x) AS score FROM sc GROUP BY 1)
        |SELECT doc_id, ${Num.sql("score", 6)} AS bm25
        |FROM agg ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = split(col("text"), " ")
      val terms = docs.select(col("doc_id"), explode(toks).as("term"))
      val dl = docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
      val st = dl.agg(sum(col("dl")).as("sdl"), count(lit(1)).as("n"))
      val tf = terms.filter(col("term").isin("table", "spark", "fast"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val x = log((col("n") - col("df") + lit(0.5e0))
          / (col("df") + lit(0.5e0)) + lit(1e0)) *
        col("tf") * lit(2.2e0) /
        (col("tf") + lit(1.2e0) * (lit(0.25e0) + lit(0.75e0) * col("dl")
          / (col("sdl") * lit(1e0) / col("n"))))
      tf.join(broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st))
        .select(col("doc_id"), x.as("x"))
        .groupBy(col("doc_id")).agg(sum(col("x")).as("score"))
        // rank on the ROUNDED score: the ≤3-term sum can differ by an
        // ulp between engines (and partition orders), and a raw-score
        // sort would let that flip near-equal ranks; rounding collapses
        // the noise and doc_id breaks genuine ties
        .select(col("doc_id"), Num.r(col("score"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },

    // ------------------------------------------------------------------
    // Higher-order array functions over embeddings: filter/exists/forall
    // and a comparator sort. The sorted head is serialized to a string of
    // Num-scaled integers (the driver's compare cannot sort array-typed
    // output; float→string formatting differs between engines).
    QueryDef(
      "q_array_hof",
      """SELECT vec_id,
        |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
        |  len(list_filter(embedding, x -> x < 0)) > 0 AS any_neg,
        |  len(list_filter(embedding, x -> abs(x) <= 1)) = len(embedding)
        |    AS all_unit,
        |  array_to_string(list_transform(
        |    list_sort(list_slice(embedding, 1, 4), 'DESC'),
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000e0 + 0.5) AS BIGINT)
        |         AS VARCHAR)), ',') AS top_head
        |FROM embeddings""".stripMargin) { (s, dir) =>
      // exists/forall are three-valued (NULL with null elements); the
      // coalesce to false matches the oracle's two-valued list_filter
      // formulation on any input, null elements included
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(filter(col("embedding"), x => x > 0)).as("n_pos"),
        coalesce(exists(col("embedding"), x => x < 0), lit(false)).as("any_neg"),
        coalesce(forall(col("embedding"), x => abs(x) <= 1), lit(false))
          .as("all_unit"),
        array_join(transform(reverse(array_sort(slice(col("embedding"), 1, 4))),
          x => floor(x.cast("double") * lit(1e6) + lit(0.5)).cast("string")),
          ",").as("top_head"))
    },

    // ------------------------------------------------------------------
    // Repetition signals (the Gopher-style quality filters): most-common-
    // token fraction, distinct-token ratio, and most-common-bigram
    // fraction — the signals that catch degenerate/boilerplate documents
    // a length filter misses. Two map-side-combinable aggregations per
    // granularity (token, bigram), keyed on doc_id: shuffle rows ∝
    // distinct terms, never the corpus.
    QueryDef(
      "q_text_repetition",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM d),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
        |         count(*) AS n_distinct, max(c) AS top_c
        |       FROM tc GROUP BY 1),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i+1])) AS b
        |       FROM d WHERE len(w) >= 2),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bg, max(c) AS top_bc
        |       FROM bc GROUP BY 1)
        |SELECT ts.doc_id, n_tok, n_distinct,
        |  ${Num.sql("top_c * 1.0 / n_tok", 6)} AS top_tok_frac,
        |  ${Num.sql("n_distinct * 1.0 / n_tok", 6)} AS distinct_frac,
        |  ${Num.sql("top_bc * 1.0 / n_bg", 6)} AS top_bigram_frac
        |FROM ts JOIN bs ON ts.doc_id = bs.doc_id""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .transform(graft.Tables.fan(_, "doc_id")) // parallelize the explode fan-out
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val tc = d.select(col("doc_id"), explode(col("w")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      val ts = tc.groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_tok"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      val bc = d.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("w")) - 1),
          i => concat_ws(" ",
            element_at(col("w"), i), element_at(col("w"), i + 1)))).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      val bs = bc.groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_bg"), max(col("c")).as("top_bc"))
      ts.join(bs, "doc_id").select(
        col("doc_id"), col("n_tok"), col("n_distinct"),
        Num.r(col("top_c") * lit(1.0) / col("n_tok"), 6).as("top_tok_frac"),
        Num.r(col("n_distinct") * lit(1.0) / col("n_tok"), 6).as("distinct_frac"),
        Num.r(col("top_bc") * lit(1.0) / col("n_bg"), 6).as("top_bigram_frac"))
    },

    // ------------------------------------------------------------------
    // Zipf-law fit — the corpus-health macro-signal: per language, the
    // least-squares slope of log(frequency) against log(rank) over the
    // top-100 token ranks. Natural text sits near slope −1 (Zipf 1949);
    // machine-generated or template-heavy corpora bend away from it, so
    // the fit (plus r²) is a one-row-per-language drift alarm on the
    // vocabulary SHAPE, complementing q_text_repetition's per-document
    // signals. One corpus pass builds exact (lang, token) counts
    // (map-combinable); ranking then runs over the VOCABULARY, not the
    // corpus — bounded here, and at 100 TB the top-100 cut would ride a
    // frequency-threshold prefilter from a heavy-hitters sketch
    // (q_agg_heavyhitters) so the window never sees the long tail. The
    // regression consumes 100 (ln rank, ln freq) points per language via
    // the built-in regr_* aggregates — identical doubles both engines,
    // Num-rounded.
    QueryDef(
      "q_text_zipf",
      s"""WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, c,
        |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, w ASC)
        |      AS rnk
        |  FROM f)
        |SELECT lang, count(*) AS n_ranks,
        |  CAST(max(CASE WHEN rnk = 1 THEN c END) AS BIGINT) AS top_freq,
        |  ${Num.sql("regr_slope(ln(c), ln(rnk))", 4)} AS slope,
        |  ${Num.sql("regr_intercept(ln(c), ln(rnk))", 4)} AS icept,
        |  ${Num.sql("regr_r2(ln(c), ln(rnk))", 4)} AS r2
        |FROM r WHERE rnk <= 100 GROUP BY lang""".stripMargin) { (s, dir) =>
      val f = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      val wRank = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("w").asc)
      f.withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= 100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_ranks"),
          max(when(col("rnk") === 1, col("c"))).as("top_freq"),
          Num.r(regr_slope(log(col("c")), log(col("rnk"))), 4).as("slope"),
          Num.r(regr_intercept(log(col("c")), log(col("rnk"))), 4).as("icept"),
          Num.r(regr_r2(log(col("c")), log(col("rnk"))), 4).as("r2"))
    },

    // ------------------------------------------------------------------
    // Sequence packing: assign documents to fixed-capacity training bins
    // (512 tokens) by their start offset in a per-language concatenated
    // stream — the step that turns a curated corpus into training
    // sequences. The running sum partitions by lang (the shard key), so
    // the cumulative window parallelizes across shards instead of
    // serializing on one global order; at 100 TB the shard key would be
    // (lang, shard_id) with the same plan.
    QueryDef(
      "q_text_pack",
      """WITH d AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
        |      AS start_off
        |  FROM d)
        |SELECT doc_id, lang, n_tok,
        |  CAST(start_off // 512 AS BIGINT) AS bin,
        |  CAST(start_off % 512 AS BIGINT) AS bin_off
        |FROM c""".stripMargin) { (s, dir) =>
      // (the windowed sum is HUGEINT in DuckDB → cast its derivatives,
      // or the driver's pandas fetch turns them into float64)
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr("start_off div 512").as("bin"),
          (col("start_off") % 512).as("bin_off"))
    },

    // ------------------------------------------------------------------
    // DYNAMIC-BATCHING padding audit — the other half of the packing
    // story (q_text_pack concatenates; inference/fine-tuning serving
    // BATCHES): documents bucket by length (fixed 32-token boundaries,
    // scale-invariant — no corpus statistic decides the bucket), each
    // bucket's docs sort by (len, doc_id) and group into batches of 16,
    // and every batch pays padding = n·max_len − Σlen. The per-bucket
    // report (batches, tokens, padding, padded fraction of batch
    // capacity) is the number that says whether the bucketing is worth
    // its shuffle — unbucketed batching wastes 30-60% of compute on
    // pad tokens; 8 buckets typically cut that to a few percent. Scale
    // shape: the within-bucket order comes from chunkedRank (groups ×
    // chunks parallel sorts — never one task per bucket, the same
    // machinery as every global rank here), the batch rollup is
    // map-combinable, and the final report is 8 rows. The oracle runs
    // the textbook row_number form, so the hash match re-proves
    // chunkedRank ≡ native ranking on a fourth ordering domain.
    QueryDef(
      "q_batch_padding",
      s"""WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS len
        |  FROM documents),
        |b AS (SELECT doc_id, len, least(len // 32, 7) AS bucket FROM d),
        |r AS (
        |  SELECT bucket, len,
        |    row_number() OVER (PARTITION BY bucket ORDER BY len, doc_id)
        |      - 1 AS idx
        |  FROM b),
        |pb AS (
        |  SELECT bucket, idx // 16 AS batch, count(*) AS nd,
        |    max(len) AS mx, sum(len) AS sl
        |  FROM r GROUP BY 1, 2)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_batches,
        |  CAST(sum(nd) AS BIGINT) AS n_docs,
        |  CAST(sum(sl) AS BIGINT) AS total_tokens,
        |  CAST(sum(nd * mx - sl) AS BIGINT) AS total_padding,
        |  ${Num.sql("CAST(sum(nd * mx - sl) AS BIGINT) * 1e0 / " +
           "CAST(sum(nd * mx) AS BIGINT)", 6)} AS pad_frac
        |FROM pb GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("len"))
        .withColumn("bucket", least(expr("len div 32"), lit(7L)))
      val ranked = graft.operators.Analytics.chunkedRank(
        d, "bucket", "len", Seq("doc_id"))
      val perBatch = ranked
        .withColumn("batch", expr("idx div 16"))
        .groupBy(col("bucket"), col("batch"))
        .agg(count(lit(1)).as("nd"), max(col("len")).as("mx"),
          sum(col("len")).as("sl"))
      perBatch.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("nd")).as("n_docs"),
          sum(col("sl")).as("total_tokens"),
          sum(col("nd") * col("mx") - col("sl")).as("total_padding"),
          Num.r(sum(col("nd") * col("mx") - col("sl")) * lit(1e0) /
            sum(col("nd") * col("mx")), 6).as("pad_frac"))
    },

    // ------------------------------------------------------------------
    // The curation funnel end-to-end: quality gate → exact dedup (keep
    // the smallest doc_id per content hash) → language selection — the
    // composition a real corpus build runs, as ONE declarative plan.
    // Shapes: the quality gate is a pushed filter, dedup is one
    // map-combinable aggregation on md5(text) + a semi join on the
    // keeper ids; nothing here is more than a keyed shuffle.
    QueryDef(
      "q_curate_corpus",
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  len(string_split(d.text, ' ')) AS n_tok
        |FROM documents d JOIN keep k ON d.doc_id = k.doc_id
        |WHERE d.lang IN ('en', 'de')
        |  AND d.n_chars >= 50
        |  AND len(string_split(d.text, ' ')) >= 10""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val keepers = docs
        .groupBy(md5(col("text").cast("binary")))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      docs
        .filter(col("lang").isin("en", "de") && col("n_chars") >= 50)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tok") >= 10)
        .join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("n_tok"))
    },

    // ------------------------------------------------------------------
    // PII redaction — the privacy scrub a corpus runs before training:
    // emails and phone-like sequences replaced with typed placeholders.
    // Deterministic PII is derived inline from doc_id (the synthetic
    // corpus carries none), so the oracle compares FULL redacted values
    // — a value-level check that Spark's Java regex and DuckDB's RE2
    // agree on these character-class patterns (kept to the common
    // subset: no lookaround, no backreferences — which is also what
    // keeps the expression codegen-friendly and portable). Output is
    // the md5 of the redacted text (rows stay narrow) plus the
    // redaction deltas.
    QueryDef(
      "q_text_redact",
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' reach user' || CAST(doc_id AS VARCHAR) ||
        |    '@mail.example or +1-555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, txt,
        |    regexp_replace(
        |      regexp_replace(txt,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?[0-9][0-9-]{6,}', '<PHONE>', 'g') AS red
        |  FROM d)
        |SELECT doc_id, md5(red) AS h,
        |  CAST(length(txt) - length(red) AS BIGINT) AS removed,
        |  red LIKE '%<EMAIL>%' AND red LIKE '%<PHONE>%' AS both_hit
        |FROM r""".stripMargin) { (s, dir) =>
      val txt = concat(col("text"), lit(" reach user"),
        col("doc_id").cast("string"), lit("@mail.example or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val red = regexp_replace(
        regexp_replace(txt,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\+?[0-9][0-9-]{6,}", "<PHONE>")
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(red.cast("binary")).as("h"),
        (length(txt) - length(red)).cast("long").as("removed"),
        (red.contains("<EMAIL>") && red.contains("<PHONE>")).as("both_hit"))
    },

    // ------------------------------------------------------------------
    // Unigram (token) Shannon entropy per document + type-token ratio —
    // the information-density quality signals next to the length/punct
    // ratios (low entropy ⇒ repetitive/templated text, near-zero TTR ⇒
    // word spam). Uses the identity −Σ(c/n)·log2(c/n) = log2(n) −
    // (Σ c·log2 c)/n so each engine computes ONE map-combinable fold
    // over per-token counts (no per-row p materialization); both sides
    // round at 6 decimals, absorbing sub-ulp log differences.
    QueryDef(
      "q_text_entropy",
      s"""WITH c AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tok,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  ${Num.sql("log2(sum(c)) - sum(c * log2(c)) / sum(c)", 6)} AS entropy,
        |  ${Num.sql("count(*) * 1.0 / sum(c)", 6)} AS ttr
        |FROM c GROUP BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_types"),
          Num.r(log2(sum(col("c"))) -
            sum(col("c") * log2(col("c"))) / sum(col("c")), 6).as("entropy"),
          Num.r(count(lit(1)) * lit(1.0) / sum(col("c")), 6).as("ttr"))
    },

    // ------------------------------------------------------------------
    // Unigram LM score — the CCNet-style curation signal: a document's
    // mean token surprisal −(1/L)·Σ ln p(tok) under the corpus's own
    // unigram distribution (high ⇒ rare-token gibberish, very low ⇒
    // boilerplate). The corpus token-frequency table broadcasts (the
    // vocabulary, tiny next to the corpus — at 100 TB it would come
    // from a persisted counts table, like tf-idf's df). Determinism
    // across engines: each token's surprisal is scaled to an INTEGER
    // (µnats) before summing, so the per-doc reduction is an exact,
    // order-free integer sum — no float-summation-order hazard — and
    // the mean is integer division.
    QueryDef(
      "q_text_lmscore",
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM t),
        |s AS (
        |  SELECT t.doc_id,
        |    CAST(floor(ln(n.n * 1e0 / f.c) * 1000000e0 + 0.5) AS BIGINT) AS s
        |  FROM t JOIN f USING (tok) CROSS JOIN n)
        |SELECT doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(s) AS BIGINT) AS nll_micro,
        |  CAST(sum(s) // count(*) AS BIGINT) AS avg_nll_micro
        |FROM s GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val toks = t(s, dir, "documents")
        .transform(graft.Tables.fan(_, "doc_id"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val total = toks.agg(count(lit(1)).as("n"))
      toks.join(broadcast(freq), "tok")
        .crossJoin(broadcast(total))
        .withColumn("s",
          floor(log(col("n") * lit(1e0) / col("c")) * lit(1e6) + lit(0.5))
            .cast("long"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(col("s")).as("nll_micro"))
        .withColumn("avg_nll_micro", expr("nll_micro div n_tokens"))
    },

    // ------------------------------------------------------------------
    // MIN-K% PROB — the membership-inference / pretraining-data
    // detection score (Shi et al. 2023, "Detecting Pretraining Data
    // from Large Language Models"): average the log-probability of
    // the k% LEAST-probable tokens only. A document the model (here:
    // the corpus unigram LM, the engine\u2019s stand-in scorer) has seen
    // tends to have NO very-improbable tokens, so its min-k score is
    // low; fresh text carries surprise outliers. Determinism is the
    // lmscore discipline — per-token surprisals are integer µnats —
    // plus an ORDER-SAFE selection: the per-doc array sorts
    // descending and the top ceil(n/5) slice sums exactly, so ties
    // cannot flip anything a sum can see. Scale shape: the corpus
    // pays the same one explode + vocab-broadcast join as lmscore;
    // the sort is PER-DOCUMENT (array-local, bounded by doc length),
    // never a corpus sort.
    QueryDef(
      "q_text_minkprob",
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM t),
        |s AS (
        |  SELECT t.doc_id,
        |    CAST(floor(ln(n.n * 1e0 / f.c) * 1000000e0 + 0.5) AS BIGINT)
        |      AS s
        |  FROM t JOIN f USING (tok) CROSS JOIN n),
        |d AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    list_reverse_sort(list(s)) AS ss
        |  FROM s GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  CAST((n_tokens + 4) // 5 AS BIGINT) AS k_used,
        |  CAST(list_sum(ss[1:CAST((n_tokens + 4) // 5 AS INTEGER)])
        |    AS BIGINT) AS mink_micro,
        |  CAST(list_sum(ss[1:CAST((n_tokens + 4) // 5 AS INTEGER)])
        |    // ((n_tokens + 4) // 5) AS BIGINT) AS avg_mink_micro
        |FROM d""".stripMargin) { (s, dir) =>
      val toks = t(s, dir, "documents")
        .transform(graft.Tables.fan(_, "doc_id"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val total = toks.agg(count(lit(1)).as("n"))
      toks.join(broadcast(freq), "tok")
        .crossJoin(broadcast(total))
        .withColumn("s",
          floor(log(col("n") * lit(1e0) / col("c")) * lit(1e6) + lit(0.5))
            .cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sort_array(collect_list(col("s")), asc = false).as("ss"))
        .withColumn("k_used", expr("(n_tokens + 4) div 5"))
        .withColumn("mink_micro", expr(
          "aggregate(slice(ss, 1, CAST(k_used AS INT)), 0L," +
            " (a, x) -> a + x)"))
        .withColumn("avg_mink_micro", expr("mink_micro div k_used"))
        .select(col("doc_id"), col("n_tokens"), col("k_used"),
          col("mink_micro"), col("avg_mink_micro"))
    },

    // ------------------------------------------------------------------
    // DSIR — Data Selection via Importance Resampling (Xie et al.,
    // NeurIPS 2023): select raw documents whose hashed n-gram feature
    // distribution looks like a TARGET corpus, the
    // distribution-matching selection step modern pretraining
    // pipelines run after the cheap quality gates. Target here is the
    // lang='en' slice standing in for "high-quality reference"; the
    // feature space is word bigrams hashed into 128 buckets (the
    // paper's hashed n-grams, the q_text_hashtf routing trick). Per
    // bucket, the smoothed log-likelihood ratio
    //   λ_b = ln( ((ct+1)·(totr+B)) / ((tott+B)·(cr+1)) )
    // lands as integer µnats via the one-ln-of-a-ratio spelling (all
    // four operands exact integers, products forced through double
    // identically in both engines), so each document's importance
    // weight Σ c_db·λ_b is an exact BIGINT fold — order-free
    // cross-engine. Selection is the paper's resampling made
    // deterministic: top quarter per source by (weight desc, doc_id).
    // Scale shape: the λ model is a 128-row broadcast (fixed modulus —
    // domain-bounded at any SF); the corpus pays one bigram explode
    // and one broadcast probe; ranking is per-source chunkedRank.
    // Docs with <2 tokens have no features and are unscored (both
    // engines drop them identically).
    QueryDef(
      "q_text_dsir",
      s"""WITH d AS (
        |  SELECT doc_id, source, lang, string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, lang,
        |    ${h32sql(
             "w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER)+1]")}
        |      % 128 AS bucket
        |  FROM (SELECT doc_id, source, lang, w,
        |        unnest(range(1, n)) AS i FROM d WHERE n >= 2) u),
        |tb AS (
        |  SELECT bucket,
        |    count(CASE WHEN lang = 'en' THEN 1 END) AS ct,
        |    count(*) AS cr
        |  FROM bg GROUP BY 1),
        |tot AS (
        |  SELECT count(CASE WHEN lang = 'en' THEN 1 END) AS tott,
        |    count(*) AS totr
        |  FROM bg),
        |lam AS (
        |  SELECT bucket,
        |    CAST(floor(ln(((ct + 1) * 1e0 * (totr + 128)) /
        |      ((tott + 128) * 1e0 * (cr + 1))) * 1000000e0 + 0.5)
        |      AS BIGINT) AS lam
        |  FROM tb, tot),
        |wd AS (
        |  SELECT bg.doc_id, bg.source, count(*) AS n_feat,
        |    CAST(sum(lam) AS BIGINT) AS weight_unat
        |  FROM bg JOIN lam USING (bucket)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT doc_id, source, n_feat, weight_unat,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY weight_unat DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS ns
        |  FROM wd)
        |SELECT doc_id, source, n_feat, weight_unat,
        |  rn - 1 < ns // 4 AS keep
        |FROM r""".stripMargin) { (s, dir) =>
      // NOT cached (r15 negative result, 0.64× normalized for the
      // bg+wd cache pair): the bigram-bucket rows are cheap to
      // recompute and the concurrent consumers overlap uncached.
      val bg = dsirBuckets(t(s, dir, "documents"))
      val lam = dsirLambda(bg.groupBy(col("bucket")).agg(
        count(when(col("lang") === "en", 1)).as("ct"),
        count(lit(1)).as("cr")))
      val wd = bg.join(broadcast(lam), "bucket")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_feat"), sum(col("lam")).as("weight_unat"))
      val ranked = graft.operators.Analytics.chunkedRank(
        wd.withColumn("negw", -col("weight_unat")),
        "source", "negw", Seq("doc_id"))
      val ns = wd.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      ranked.join(broadcast(ns), "source")
        .select(col("doc_id"), col("source"), col("n_feat"),
          col("weight_unat"), (col("idx") < expr("ns div 4")).as("keep"))
    },

    // ------------------------------------------------------------------
    // CCNet perplexity buckets (Wenzek et al., LREC 2020): shard each
    // language's documents into head/middle/tail TERCILES by LM
    // perplexity — the sharding CommonCrawl pipelines publish and
    // downstream mixers consume ("train on head+middle"). Per-doc
    // surprisal is q_text_lmscore's exact integer-µnat mean under the
    // corpus unigram LM; the tercile boundary is a pure RANK rule
    // ((rn−1)·3 < k·n_lang), so bucket membership is exact-integer
    // deterministic — no quantile interpolation can flip a document
    // across engines. Output is the per-(lang, bucket) shard manifest:
    // doc/char mass + exact surprisal extremes. Scale shape: one
    // corpus explode + vocab-bounded LM broadcast (the lmscore
    // argument), one doc-grained rollup, per-lang chunkedRank, then
    // arithmetic on |langs|×3 rows.
    QueryDef(
      "q_text_ppl_buckets",
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, count(*) AS c FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM t),
        |s AS (
        |  SELECT t.doc_id,
        |    CAST(floor(ln(n.n * 1e0 / f.c) * 1000000e0 + 0.5) AS BIGINT)
        |      AS s
        |  FROM t JOIN f USING (tok) CROSS JOIN n),
        |ds AS (
        |  SELECT doc_id, CAST(sum(s) // count(*) AS BIGINT) AS ppl
        |  FROM s GROUP BY 1),
        |dl AS (
        |  SELECT ds.doc_id, ds.ppl, d.lang, d.n_chars
        |  FROM ds JOIN documents d USING (doc_id)),
        |r AS (
        |  SELECT lang, n_chars, ppl,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ppl, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS nl
        |  FROM dl)
        |SELECT lang,
        |  CASE WHEN (rn - 1) * 3 < nl THEN 'head'
        |       WHEN (rn - 1) * 3 < 2 * nl THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(min(ppl) AS BIGINT) AS min_ppl,
        |  CAST(max(ppl) AS BIGINT) AS max_ppl,
        |  CAST(sum(ppl) AS BIGINT) AS sum_ppl
        |FROM r GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // both corpus-explode consumers below (LM freq/total build and
      // the per-doc surprisal probe) re-ran the explode uncached; the
      // cache fills once and overlaps its concurrent readers (r15)
      val toks = docs
        .transform(graft.Tables.fan(_, "doc_id"))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .cache()
      val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val total = toks.agg(count(lit(1)).as("n"))
      val perDoc = toks.join(broadcast(freq), "tok")
        .crossJoin(broadcast(total))
        .withColumn("s",
          floor(log(col("n") * lit(1e0) / col("c")) * lit(1e6) + lit(0.5))
            .cast("long"))
        .groupBy(col("doc_id"))
        .agg(expr("sum(s) div count(1)").as("ppl"))
      // cached (r15): chunkedRank reads dl three times (bounds,
      // offsets, window) and the per-lang count a fourth — uncached,
      // each replayed the whole explode→LM-probe→rollup pipeline
      val dl = perDoc.join(docs.select(col("doc_id"), col("lang"),
        col("n_chars")), "doc_id")
        .cache()
      val ranked = graft.operators.Analytics.chunkedRank(
        dl, "lang", "ppl", Seq("doc_id"))
      val nl = dl.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
      ranked.join(broadcast(nl), "lang")
        .withColumn("bucket",
          when(col("idx") * 3 < col("nl"), "head")
            .when(col("idx") * 3 < col("nl") * 2, "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          min(col("ppl")).as("min_ppl"),
          max(col("ppl")).as("max_ppl"),
          sum(col("ppl")).as("sum_ppl"))
    },

    // ------------------------------------------------------------------
    // Domain-balancing quota, batch form: admit each source's documents
    // in doc_id order until the source's char budget is spent (soft cap:
    // the document that crosses the line is still admitted whole). One
    // running-sum window per source — O(n), no state beyond the frame.
    // Streaming.quotaAdmit is the arrival-order streaming form of the
    // same admission rule (transformWithState + RocksDB); this twin
    // fixes the order (doc_id) so the result is deterministic and the
    // oracle can hash-check it.
    QueryDef(
      "q_curate_quota",
      """WITH w AS (
        |  SELECT source, doc_id,
        |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS used
        |  FROM documents)
        |SELECT source, doc_id FROM w
        |WHERE coalesce(used, 0) < 4000""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .withColumn("used", sum(col("n_chars")).over(w))
        .filter(coalesce(col("used"), lit(0)) < 4000)
        .select(col("source"), col("doc_id"))
    },

    // ------------------------------------------------------------------
    // Adaptive per-language quality cutoff: drop each language's bottom
    // quartile by document length — the percentile-based pruning every
    // production curation pipeline runs (fixed thresholds rot as the
    // corpus mix shifts; a percentile tracks it). The cutoff needs a
    // GLOBAL rank within a low-cardinality group — the exact shape that
    // serializes into one task per language under a native window — so
    // the rank comes from chunkedRank (groups × chunks parallel sorts +
    // broadcast prefix offsets, the q_agg_spearman machinery), with
    // (n_chars, doc_id) total order for determinism. The oracle ranks
    // with the textbook single window — NULLS FIRST spelled out, since
    // chunkedRank ranks NULL values first (chunk −1) while DuckDB's
    // default ORDER BY is NULLS LAST; the testdata has no NULL n_chars
    // today, but the parity must not depend on that. The hash match
    // re-proves chunked ≡ native on this query too. Output is the
    // per-language
    // admission report: kept count, realized threshold, kept chars.
    QueryDef(
      "q_curate_percentile",
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars NULLS FIRST, doc_id) - 1 AS idx,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS kept,
        |  min(n_chars) AS thresh_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
        |FROM r WHERE idx >= n // 4
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.operators.Analytics
        .chunkedRank(docs, "lang", "n_chars", Seq("doc_id"))
        .filter(col("idx") >= expr("n div 4"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept"),
          min(col("n_chars")).as("thresh_chars"),
          sum(col("n_chars")).as("kept_chars"))
    },

    // ------------------------------------------------------------------
    // Document fingerprinting: whole-doc 60-bit fingerprint, a rolling
    // (polynomial) hash over token hashes, and a winnowing-style minimum
    // shingle hash — the primitives under near-dup detection and content-
    // defined chunking.
    QueryDef(
      "q_text_fingerprint",
      s"""WITH d AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS w
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, text, w,
        |    list_transform(w, t -> ${h32sql("t")}) AS hs
        |  FROM d WHERE len(w) >= 3)
        |SELECT doc_id,
        |  ${h60sql("text")} AS fp60,
        |  list_reduce(hs, (a, b) -> (a * 31 + b) % 999999999999989) AS roll_hash,
        |  list_min(list_transform(
        |    range(1, len(w) - 1),
        |    i -> ((hs[i] * 31 + hs[i+1]) * 31 + hs[i+2]) % 999999999999989))
        |    AS win_min
        |FROM h""".stripMargin) { (s, dir) =>
      // Tokens are hashed ONCE (materialized array column); the rolling
      // hash folds over it and the winnowing shingle hash composes three
      // token hashes arithmetically — no second digest pass.
      val toks = split(col("text"), " ")
      val M = 999999999999989L
      t(s, dir, "documents")
        .transform(graft.Tables.fan(_, "doc_id")) // parallelize the hash fan-out
        .filter(size(toks) >= 3)
        .select(col("doc_id"), col("text"), toks.as("w"),
          transform(toks, w => h32(w)).as("hs"))
        .select(
          col("doc_id"),
          h60(col("text")).as("fp60"),
          aggregate(
            col("hs"), lit(0L),
            (acc, x) => (acc * 31 + x) % M).as("roll_hash"),
          array_min(transform(
            sequence(lit(1), size(col("w")) - 2),
            i => ((element_at(col("hs"), i) * 31
              + element_at(col("hs"), i + 1)) * 31
              + element_at(col("hs"), i + 2)) % M)).as("win_min"))
    },

    // ------------------------------------------------------------------
    // BPE pair-frequency counting — the counting step of byte-pair-
    // encoding tokenizer training (Sennrich et al. 2016): the most
    // frequent adjacent symbol pair is the next merge. Scale shape is
    // the one production BPE trainers (subword-nmt, HF tokenizers) use:
    // the corpus collapses to WORD COUNTS first (map-combinable agg,
    // vocab-sized output — vocabulary grows ~Heaps-sublinearly while
    // the corpus grows to 100 TB), then the pair fan-out runs over
    // DISTINCT words only, weighted by their counts — cost is
    // vocab × avg word length, independent of corpus size. The final
    // pair agg is bounded by symbol-alphabet² (≤ ~27² here), so the
    // ranking window runs over a corpus-independent tiny relation —
    // the one place a single-partition window is scale-safe by
    // construction. '_' is the end-of-word symbol; iterating BPE =
    // apply the winning merge to the vocab's symbol sequences (again
    // vocab-sized work) and recount.
    QueryDef(
      "q_text_bpe",
      """WITH wt AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS c FROM wt WHERE w <> '' GROUP BY 1),
        |p AS (
        |  SELECT CASE WHEN i < length(w) THEN substr(w, CAST(i AS INTEGER), 2)
        |              ELSE substr(w, CAST(i AS INTEGER), 1) || '_' END AS pair,
        |         c
        |  FROM (SELECT w, c, unnest(range(1, length(w) + 1)) AS i FROM wc)),
        |pc AS (SELECT pair, CAST(sum(c) AS BIGINT) AS freq FROM p GROUP BY 1)
        |SELECT pair, freq,
        |  row_number() OVER (ORDER BY freq DESC, pair) AS rk
        |FROM pc ORDER BY freq DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val wc = t(s, dir, "documents")
        .select(explode(toks).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val pair = when(col("i") < length(col("w")),
        col("w").substr(col("i"), lit(2)))
        .otherwise(concat(col("w").substr(col("i"), lit(1)), lit("_")))
      // rank window: single partition over an alphabet²-bounded relation
      val rw = Window.orderBy(col("freq").desc, col("pair"))
      wc.select(col("w"), col("c"),
          explode(sequence(lit(1), length(col("w")))).as("i"))
        .select(pair.as("pair"), col("c"))
        .groupBy(col("pair")).agg(sum(col("c")).as("freq"))
        .withColumn("rk", row_number().over(rw))
        .filter(col("rk") <= 20)
    },

    // ------------------------------------------------------------------
    // BPE tokenizer TRAINING — three full merge rounds (Sennrich et al.
    // 2016), one level above q_text_bpe's single pair count: each round
    // picks the globally most frequent adjacent symbol pair
    // (deterministic tie-break: freq desc, then lexicographic) and
    // APPLIES the merge to every word before recounting. Token
    // sequences are encoded as "⟨t1⟩⟨t2⟩…⟨tn⟩⟨_⟩" with U+001E/U+001F
    // wrappers (control separators no whitespace-split token contains —
    // parens were ambiguous, r7 ADVICE) — each symbol individually
    // wrapped — so applying a merge is a plain left-to-
    // right non-overlapping string replace, which is exactly the greedy
    // semantics reference BPE trainers use ("aaa" + merge a+a → [aa, a],
    // not [a, aa]); both engines' replace() share that contract, and the
    // per-round post-merge corpus token count in the output pins it
    // (pair FREQUENCY counts overlaps, applied merges don't, so the
    // count catches any divergence the merge table alone would miss).
    // Scale shape is the real trainers': the corpus collapses ONCE to
    // word counts (map-combinable, Heaps-sublinear vocab), then every
    // round — pair explode, 1-row argmax, broadcast merge, replace —
    // runs over the vocabulary only, cost independent of corpus size;
    // per-round eager localCheckpoints truncate the growing lineage
    // exactly like the k-means/PageRank loops. The oracle replays all
    // three rounds as generated CTEs.
    QueryDef("q_text_bpe_train", bpeTrainOracle) { (s, dir) =>
      bpeTrain(s, dir)._1.reduce(_ unionByName _)
    },

    // ------------------------------------------------------------------
    // ROUGE-L (Lin, ACL 2004) — the LCS-based summarization eval next
    // to q_eval_bleu's n-gram precision: per (candidate, reference)
    // pair, the longest common subsequence drives precision/recall/F.
    // LCS is an O(n·m) dynamic program with a SEQUENTIAL dependency —
    // the classic "can't do that in SQL". First shipped as an
    // anti-diagonal wavefront HOF fold (exact, zero joins/shuffles,
    // but a per-cell list-allocation constant); now the BIT-PARALLEL
    // Allison–Dix/CIPR kernel [[graft.functions.LcsLength]] — 64 DP
    // cells per machine word inside whole-stage codegen, same exact
    // LCS, ~
    // two orders of magnitude less per-doc CPU. The oracle is
    // UNCHANGED: the identical wavefront as a recursive CTE carrying
    // two diagonals — the hash match is the cross-algorithm proof.
    // Per-doc P/R/F µ-quantize immediately, so the per-source means
    // are fold-order-free integer sums. The candidate is
    // q_eval_bleu's deterministic corruption — the two eval metrics
    // read the same system output.
    QueryDef("q_eval_rougel", rougeOracle) { (s, dir) =>
      val rw = split(col("text"), " ")
      val cwExpr = filter(
        transform(sequence(lit(1), size(col("rw"))),
          i => when((col("doc_id") + i) % 11 === 0, lit(null))
            .when((col("doc_id") + i) % 7 === 0, lit("the"))
            .otherwise(element_at(col("rw"), i))),
        x => x.isNotNull)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), rw.as("rw"))
        .withColumn("cw", cwExpr)
        .withColumn("n", size(col("cw")))
        .withColumn("m", size(col("rw")))
        .withColumn("lcs", expr("graft_lcs_len(cw, rw)"))
        .selectExpr(rougePer: _*)
        .groupBy(col("source"))
        .agg(expr(rougeAgg.head), rougeAgg.tail.map(expr): _*)
    },

    // ------------------------------------------------------------------
    // WORDPIECE TRAINING (Schuster & Nakajima 2012, the BERT
    // tokenizer) — the third tokenizer family next to BPE's frequency
    // merges and unigram-LM's EM pruning: per round, merge the
    // adjacent pair maximizing the LIKELIHOOD score
    // freq(ab)/(freq(a)·freq(b)) — the corpus log-likelihood gain of
    // fusing the pair — instead of raw freq(ab), which is what makes
    // WordPiece prefer cohesive units over merely common ones. Engine
    // shape = the BPE trainer's (corpus collapses ONCE to word counts;
    // each round is a vocab-sized pair explode + a vocab-sized token
    // count + two keyed joins + a deterministic 1-row argmax broadcast
    // into a replace; per-round localCheckpoints) with one more
    // vocab-sized aggregate per round for the token denominators. The
    // score stays a RAW double (exact-integer inputs, two IEEE ops —
    // identical cross-engine) inside the argmax and µ-quantizes only
    // in the output; ties break on (a, b). The oracle replays all
    // rounds as generated CTEs from the same structure.
    QueryDef("q_text_wordpiece", wpTrainOracle) { (s, dir) =>
      wpTrain(s, dir).reduce(_ unionByName _)
    },

    // ------------------------------------------------------------------
    // CORPUS BLEU (Papineni et al., ACL 2002) — the machine-translation
    // eval metric as relational algebra: clipped 1–4-gram precisions
    // (per-document min(candidate count, reference count), summed over
    // the corpus BEFORE the ratio — corpus BLEU, not a mean of
    // sentence BLEUs) and the brevity penalty, per source. The
    // "system output" is a deterministic corruption of the reference
    // (every (doc_id+i)%11 position dropped, every %7 position
    // replaced) built from the SAME expression in both engines, so
    // the metric exercises substitution AND length effects. Engine
    // shape: clipped per-document counts are a PER-DOCUMENT SCALAR
    // of one row's two word arrays, so they compute as ONE codegen
    // kernel call per row ([[graft.functions.BleuCounts]] — per
    // order a hash multiset of reference grams + a decrementing
    // candidate probe over interned word ids) and the corpus rollup
    // is a plain map-combinable SUM of 10 longs per source: scan,
    // project, one |sources|-sized aggregate, ZERO data shuffles.
    // The first shape exploded every gram occurrence into 8
    // (doc, gram)-keyed groupBys (4 orders × 2 sides, 35.3 MB
    // shuffle write at sf0.1, plus a localCheckpoint for the 9
    // consumers) — the exact anti-shape the chrF/ROUGE-L kernels
    // outlawed; the oracle below is UNCHANGED (the relational
    // explode-join replay in DuckDB), so the hash match is the
    // cross-SHAPE proof. Output stays exact integers except the
    // four ln's, which floor to µnats at the boundary (the lmscore
    // discipline), so log-BLEU is integer arithmetic and
    // hash-checks; zero-match orders take the −20 nat floor
    // (sacrebleu's epsilon smoothing, made explicit).
    QueryDef("q_eval_bleu", bleuOracle) { (s, dir) =>
      val rw = split(col("text"), " ")
      val cw = filter(
        transform(sequence(lit(1), size(col("rw"))),
          i => when((col("doc_id") + i) % 11 === 0, lit(null))
            .when((col("doc_id") + i) % 7 === 0, lit("the"))
            .otherwise(element_at(col("rw"), i))),
        x => x.isNotNull)
      val counts = (1 to 4).flatMap { o =>
        Seq(
          sum(element_at(col("bc"), (o - 1) * 2 + 1))
            .cast("long").as(s"m$o"),
          sum(element_at(col("bc"), (o - 1) * 2 + 2))
            .cast("long").as(s"t$o"))
      }
      val aggs =
        Seq(sum(col("cl")).cast("long").as("clen"),
          sum(col("rl")).cast("long").as("rlen")) ++ counts
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), rw.as("rw"))
        .withColumn("cw", cw)
        .select(col("source"), size(col("cw")).as("cl"),
          size(col("rw")).as("rl"),
          expr("graft_bleu_counts(cw, rw)").as("bc"))
        .groupBy(col("source"))
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr(bleuOut: _*)
    },

    // ------------------------------------------------------------------
    // chrF (Popović, WMT 2015) — the third member of the MT-eval triple
    // beside q_eval_bleu (word n-gram precision) and q_eval_rougel
    // (subsequence recall): character n-gram F-score, orders 1..6 over
    // the whitespace-stripped strings, β = 2 weighting recall double.
    // The metric is EXACT INTEGER arithmetic end to end: with m =
    // matched, tc/tr = candidate/reference gram totals, the β=2
    // F-score 5PR/(4P+R) algebraically collapses to 5m/(4·tr + tc) — a
    // ratio of exact counts, so per-(doc, order) scores floor to
    // µ-units with zero float involvement (where BLEU needed the
    // ln-boundary discipline, chrF needs nothing). Orders where a doc
    // has no grams on either side drop out (sacrebleu's effective
    // order — the kernel's −1 sentinel maps to NULL so such docs leave
    // the mean); per-doc score = integer mean over effective orders,
    // per-source = integer mean over docs. Engine shape: chrF is a
    // PER-DOCUMENT SCALAR, so it computes as ONE codegen kernel call
    // per row ([[graft.functions.ChrfScore]] — per order a hash
    // multiset of candidate grams + a decrementing reference probe) —
    // scan, project, one small per-source aggregate, ZERO data
    // shuffles. The first cut exploded every gram occurrence into a
    // (doc, order, gram) shuffle: 17 s at sf0.1 and 11× on 10× data;
    // the kernel form is 30× cheaper and linear — per-document scalars
    // must never shuffle their internals. The candidate is the shared
    // q_eval_bleu corruption, so all three metrics grade the same
    // system output; the oracle replays the gram counting relationally
    // in DuckDB, making the hash match a cross-SHAPE proof (relational
    // staircase ≡ kernel).
    QueryDef("q_eval_chrf", chrfOracle) { (s, dir) =>
      val rw = split(col("text"), " ")
      val cw = filter(
        transform(sequence(lit(1), size(col("rw"))),
          i => when((col("doc_id") + i) % 11 === 0, lit(null))
            .when((col("doc_id") + i) % 7 === 0, lit("the"))
            .otherwise(element_at(col("rw"), i))),
        x => x.isNotNull)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), rw.as("rw"))
        .withColumn("cw", cw)
        .select(col("source"),
          expr("nullif(graft_chrf(concat_ws('', cw), " +
            "concat_ws('', rw)), -1)").as("chrf_u"))
        .groupBy(col("source"))
        .agg(count(col("chrf_u")).cast("long").as("n_docs"),
          expr("CAST(floor(CAST(sum(chrf_u) AS DOUBLE) " +
            "/ CAST(count(chrf_u) AS DOUBLE) + 0.5e0) AS BIGINT)")
            .as("mean_chrf_u"))
    },

    // ------------------------------------------------------------------
    // BPE APPLY — the serving half of tokenization (r9 VERDICT task 4):
    // encode the corpus with the merge list q_text_bpe_train produces,
    // assign each post-merge vocabulary symbol an id by (corpus
    // frequency desc, token) — the frequency-ranked id convention
    // reference tokenizers ship — and emit per-document token counts
    // plus order-free id fingerprints (count + sum + multiset-xor, the
    // q_text_hashtf discipline: they pin the exact id multiset without
    // materializing per-token rows in the output). Scale shape: the
    // expensive work (train + tokenize + rank) runs entirely on the
    // VOCAB-sized word table (Heaps-sublinear — the q_text_bpe
    // argument; ids via chunkedRank, never a one-task window); the
    // corpus pays ONE explode to word grain and ONE w-keyed equi-join
    // against the per-word fingerprint table (unhinted: the word table
    // is corpus-derived, so AQE must pick the strategy — the r9
    // broadcast-boundedness rule). Σ n_tokens over documents equals
    // the trainer's round-3 vocab_toks by construction — TextSpec
    // asserts that reconciliation, tying serving to training.
    QueryDef("q_text_bpe_apply", bpeApplyOracle) { (s, dir) =>
      val enc = bpeTrain(s, dir)._2
      val ts = split(col("enc").substr(lit(2), length(col("enc")) - 2),
        java.util.regex.Pattern.quote(bpeC + bpeO))
      val wordToks = enc.select(col("w"), col("c"), ts.as("ts"))
      val vocab = wordToks
        .select(explode(col("ts")).as("tokn"), col("c"))
        .groupBy(col("tokn")).agg(sum(col("c")).as("freq"))
      val vid = graft.operators.Analytics
        .chunkedRank(vocab.withColumn("__all", lit("all"))
          .withColumn("negfreq", -col("freq")), "__all", "negfreq",
          Seq("tokn"))
        .select(col("tokn"), (col("idx") + 1).cast("long").as("id"))
      val wfp = wordToks
        .select(col("w"), explode(col("ts")).as("tokn"))
        .join(vid, "tokn")
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_toks"), sum(col("id")).as("id_sum"),
          expr("bit_xor(id)").as("id_xor"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(wfp, "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("id_sum")).as("id_sum"),
          expr("bit_xor(id_xor)").as("id_xor"))
    },

    // ------------------------------------------------------------------
    // Cohen's kappa — chance-corrected agreement between the langid
    // heuristic's prediction (q_text_langid's exact rule) and the
    // declared label: the annotation-audit metric a labeling pipeline
    // reports next to raw accuracy. Algebra is kept in exact integers:
    // with n docs, d agreeing, row marginals r_k, column marginals c_k,
    //   kappa = (n·d − Σ r_k·c_k) / (n² − Σ r_k·c_k)
    // (multiply the usual (po−pe)/(1−pe) through by n²) — both
    // numerator and denominator are exact BIGINTs, so the single double
    // division is bitwise identical cross-engine with no rounding
    // armor. Scale shape: one corpus-sized map-combinable confusion agg
    // (|labels|² output), then arithmetic on that tiny table; the 1-row
    // joins broadcast. n² overflows int64 past ~3e9 docs — at that
    // count switch the final ratio to the double-valued po/pe form, the
    // marginal sums stay exact far beyond any corpus.
    QueryDef(
      "q_label_kappa",
      """WITH s AS (
        |  SELECT lang,
        |    CASE
        |      WHEN en_s >= de_s AND en_s >= fr_s AND en_s > 0 THEN 'en'
        |      WHEN de_s >= fr_s AND de_s > 0 THEN 'de'
        |      WHEN fr_s > 0 THEN 'fr'
        |      ELSE 'unknown'
        |    END AS predicted
        |  FROM (
        |    SELECT lang,
        |      len(list_filter(string_split(text, ' '), w -> list_contains(['the', 'a', 'and'], w))) AS en_s,
        |      len(list_filter(string_split(text, ' '), w -> list_contains(['der', 'und', 'das'], w))) AS de_s,
        |      len(list_filter(string_split(text, ' '), w -> list_contains(['le', 'et', 'la'], w))) AS fr_s
        |    FROM documents)),
        |cm AS (SELECT lang, predicted, count(*) AS n FROM s GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cm),
        |ag AS (SELECT CAST(coalesce(sum(CASE WHEN lang = predicted THEN n END), 0) AS BIGINT) AS d FROM cm),
        |rm AS (SELECT lang AS k, CAST(sum(n) AS BIGINT) AS r FROM cm GROUP BY 1),
        |cmm AS (SELECT predicted AS k, CAST(sum(n) AS BIGINT) AS c FROM cm GROUP BY 1),
        |pe AS (SELECT CAST(coalesce(sum(rm.r * cmm.c), 0) AS BIGINT) AS ch
        |       FROM rm JOIN cmm USING (k))
        |SELECT tot.n AS n_docs, ag.d AS n_agree, pe.ch AS chance_w,
        |  CAST(tot.n * ag.d - pe.ch AS DOUBLE)
        |    / CAST(tot.n * tot.n - pe.ch AS DOUBLE) AS kappa
        |FROM tot, ag, pe""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      def score(markers: Seq[String]): Column =
        size(filter(toks, w => array_contains(array(markers.map(lit): _*), w)))
      val scored = t(s, dir, "documents").select(
        col("lang"),
        score(Seq("the", "a", "and")).as("en_s"),
        score(Seq("der", "und", "das")).as("de_s"),
        score(Seq("le", "et", "la")).as("fr_s"))
      val cm = scored.select(
          col("lang"),
          when(col("en_s") >= col("de_s") && col("en_s") >= col("fr_s")
            && col("en_s") > 0, "en")
            .when(col("de_s") >= col("fr_s") && col("de_s") > 0, "de")
            .when(col("fr_s") > 0, "fr")
            .otherwise("unknown").as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
      val tot = cm.agg(sum(col("n")).as("n"))
      val ag = cm.agg(coalesce(
        sum(when(col("lang") === col("predicted"), col("n"))), lit(0L)).as("d"))
      val rm = cm.groupBy(col("lang").as("k")).agg(sum(col("n")).as("r"))
      val cmm = cm.groupBy(col("predicted").as("k")).agg(sum(col("n")).as("c"))
      val pe = rm.join(cmm, "k")
        .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("ch"))
      tot.crossJoin(broadcast(ag)).crossJoin(broadcast(pe))
        .select(col("n").as("n_docs"), col("d").as("n_agree"),
          col("ch").as("chance_w"),
          ((col("n") * col("d") - col("ch")).cast("double")
            / (col("n") * col("n") - col("ch")).cast("double")).as("kappa"))
    },

    // ------------------------------------------------------------------
    // Per-class precision / recall / F1 of the langid heuristic against
    // the declared labels — the metric sheet next to q_label_kappa's
    // chance-corrected agreement and q_eval_auc's ranking quality:
    // per label language L, tp / fp = colsum−tp / fn = rowsum−tp come
    // from ONE corpus-sized confusion aggregate plus two marginal
    // rollups of the |labels|²-bounded cell table (the kappa plan,
    // re-aimed). The 'unknown' prediction column participates in fn
    // (a miss is a miss) but is not itself a reported class. Ratios
    // guard their zero denominators explicitly — identical CASEs in
    // both engines — and land Num-rounded.
    QueryDef(
      "q_eval_f1",
      s"""WITH s AS (
        |  SELECT lang,
        |    CASE
        |      WHEN en_s >= de_s AND en_s >= fr_s AND en_s > 0 THEN 'en'
        |      WHEN de_s >= fr_s AND de_s > 0 THEN 'de'
        |      WHEN fr_s > 0 THEN 'fr'
        |      ELSE 'unknown'
        |    END AS predicted
        |  FROM (
        |    SELECT lang,
        |      len(list_filter(string_split(text, ' '), w -> list_contains(['the', 'a', 'and'], w))) AS en_s,
        |      len(list_filter(string_split(text, ' '), w -> list_contains(['der', 'und', 'das'], w))) AS de_s,
        |      len(list_filter(string_split(text, ' '), w -> list_contains(['le', 'et', 'la'], w))) AS fr_s
        |    FROM documents)),
        |cm AS (SELECT lang, predicted, count(*) AS n FROM s GROUP BY 1, 2),
        |rm AS (SELECT lang AS k, CAST(sum(n) AS BIGINT) AS r FROM cm GROUP BY 1),
        |cl AS (SELECT predicted AS k, CAST(sum(n) AS BIGINT) AS c FROM cm GROUP BY 1),
        |tp AS (SELECT lang AS k, CAST(sum(n) AS BIGINT) AS tp FROM cm
        |       WHERE lang = predicted GROUP BY 1),
        |f AS (
        |  SELECT rm.k AS lang, coalesce(tp.tp, 0) AS tp,
        |    coalesce(cl.c, 0) - coalesce(tp.tp, 0) AS fp,
        |    rm.r - coalesce(tp.tp, 0) AS fn
        |  FROM rm LEFT JOIN tp ON rm.k = tp.k
        |  LEFT JOIN cl ON rm.k = cl.k)
        |SELECT lang, tp, fp, fn,
        |  CASE WHEN tp + fp = 0 THEN 0e0
        |    ELSE ${Num.sql("tp * 1e0 / (tp + fp)", 6)} END AS prec_v,
        |  CASE WHEN tp + fn = 0 THEN 0e0
        |    ELSE ${Num.sql("tp * 1e0 / (tp + fn)", 6)} END AS rec_v,
        |  CASE WHEN 2 * tp + fp + fn = 0 THEN 0e0
        |    ELSE ${Num.sql("2e0 * tp / (2 * tp + fp + fn)", 6)} END AS f1_v
        |FROM f""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      def score(markers: Seq[String]): Column =
        size(filter(toks, w => array_contains(array(markers.map(lit): _*), w)))
      val scored = t(s, dir, "documents").select(
        col("lang"),
        score(Seq("the", "a", "and")).as("en_s"),
        score(Seq("der", "und", "das")).as("de_s"),
        score(Seq("le", "et", "la")).as("fr_s"))
      val cm = scored.select(
          col("lang"),
          when(col("en_s") >= col("de_s") && col("en_s") >= col("fr_s")
            && col("en_s") > 0, "en")
            .when(col("de_s") >= col("fr_s") && col("de_s") > 0, "de")
            .when(col("fr_s") > 0, "fr")
            .otherwise("unknown").as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
      val rm = cm.groupBy(col("lang").as("k")).agg(sum(col("n")).as("r"))
      val cl = cm.groupBy(col("predicted").as("k")).agg(sum(col("n")).as("c"))
      val tp = cm.filter(col("lang") === col("predicted"))
        .groupBy(col("lang").as("k")).agg(sum(col("n")).as("tp0"))
      val f = rm
        .join(broadcast(tp), Seq("k"), "left")
        .join(broadcast(cl.withColumnRenamed("c", "c0")), Seq("k"), "left")
        .select(col("k").as("lang"),
          coalesce(col("tp0"), lit(0L)).as("tp"),
          (coalesce(col("c0"), lit(0L)) - coalesce(col("tp0"), lit(0L)))
            .as("fp"),
          (col("r") - coalesce(col("tp0"), lit(0L))).as("fn"))
      f.select(col("lang"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0, lit(0e0))
          .otherwise(Num.r(col("tp") * lit(1e0) / (col("tp") + col("fp")), 6))
          .as("prec_v"),
        when(col("tp") + col("fn") === 0, lit(0e0))
          .otherwise(Num.r(col("tp") * lit(1e0) / (col("tp") + col("fn")), 6))
          .as("rec_v"),
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(0e0))
          .otherwise(Num.r(lit(2e0) * col("tp")
            / (lit(2) * col("tp") + col("fp") + col("fn")), 6))
          .as("f1_v"))
    },

    // ------------------------------------------------------------------
    // TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) —
    // PageRank over the word co-occurrence graph, the unsupervised
    // keyword scorer — recast in EXACT INTEGER µ-units: ranks live as
    // BIGINT millionths, each edge contributes (pr_u·w_uv) div wdeg_u
    // (a per-edge integer division), and the damping update is
    // 150000 + (85·Σ) div 100. Integer sums are order-free, so unlike
    // float PageRank no summation-order noise exists ANYWHERE — the
    // top-10 table hash-checks with zero rounding armor (the
    // integer-µnat lesson from q_text_lmscore applied to an iterative
    // rank). Scale shape: the corpus collapses to the vocab²-sparse
    // adjacency (bigram counts, one map-combinable agg); each round is
    // one edges⋈ranks keyed join + one BIGINT sum — the PageRank loop
    // over vocabulary-sized state; the final top-10 ranks on the
    // vocab-bounded relation via chunkedRank. Two rounds, lazily
    // unrolled (each round touches the previous iterate once).
    QueryDef("q_text_textrank", textrankOracle) { (s, dir) =>
      val ts = split(col("text"), " ")
      val adj = t(s, dir, "documents")
        .select(ts.as("ts"))
        .select(col("ts"),
          explode(sequence(lit(1), size(col("ts")) - 1)).as("i"))
        .select(element_at(col("ts"), col("i")).as("a"),
          element_at(col("ts"), col("i") + 1).as("b"))
        .filter(col("a") =!= col("b") && col("a") =!= "" && col("b") =!= "")
      // NOT cached (r15 negative result, 0.89× normalized with the
      // final-iterate cache included): runtime exchange reuse already
      // dedups the bigram agg across the rounds' references, so the
      // caches only added fill cost.
      val edges = adj.select(col("a").as("u"), col("b").as("v"))
        .union(adj.select(col("b").as("u"), col("a").as("v")))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      val deg = edges.groupBy(col("u")).agg(sum(col("w")).as("wdeg"))
      var pr = deg.select(col("u").as("word"), lit(1000000L).as("pr"))
      for (_ <- 1 to trRounds) {
        val contrib = edges
          .join(pr.withColumnRenamed("word", "u"), "u")
          .join(deg, "u")
          .select(col("v").as("word"),
            expr("(pr * w) div wdeg").as("c"))
          .groupBy(col("word")).agg(sum(col("c")).as("s"))
        pr = deg.select(col("u").as("word"))
          .join(contrib, Seq("word"), "left")
          .select(col("word"),
            (lit(150000L) + expr("85 * coalesce(s, 0L) div 100")).as("pr"))
      }
      graft.operators.Analytics
        .chunkedRank(pr.withColumn("__all", lit("all"))
          .withColumn("negpr", -col("pr")), "__all", "negpr", Seq("word"))
        .filter(col("idx") < 10)
        .select(col("word"), col("pr"))
    },

    // ------------------------------------------------------------------
    // Winnowing fingerprint SELECTION (Schleimer, Wilkerson, Aiken,
    // "Winnowing: local algorithms for document fingerprinting",
    // SIGMOD 2003 — the MOSS algorithm): slide a window of w=4
    // consecutive k=3-token shingle hashes and keep each window's
    // minimum. Where q_text_fingerprint's win_min keeps ONE global
    // minimum per document, winnowing keeps a position-distributed SET
    // with the paper's guarantee: any shared run of ≥ w+k-1 tokens
    // between two documents shares at least one selected fingerprint
    // (the index a substring-level dedup actually builds), at an
    // expected density of 2/(w+1) instead of all n shingles. Plan
    // shape: everything happens INSIDE one projection — token hashes,
    // shingle composition, per-window array minima, distinct — all
    // whole-stage-codegen'd array ops over each row, no shuffle until
    // the per-doc 1-row outputs aggregate nothing at all. Per-doc
    // output keeps the selected-set size and its order-free XOR so the
    // hash check pins the exact SET, not just its size. At 100 TB this
    // is a pure map pass whose output is ~2n/(w+1) longs per doc — the
    // posting list you then exchange by fingerprint for matching, a
    // keyed join like every near-dup path here (never all-pairs).
    QueryDef(
      "q_text_winnow",
      s"""WITH h AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ' '), t -> ${h32sql("t")})
        |      AS hs
        |  FROM documents WHERE len(string_split(text, ' ')) >= 6),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(hs) - 1),
        |      i -> ((hs[i] * 31 + hs[i+1]) * 31 + hs[i+2])
        |             % 999999999999989) AS sh
        |  FROM h),
        |sel AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(sh) - 2),
        |      j -> list_min(list_slice(sh, j, j + 3)))) AS fps
        |  FROM g)
        |SELECT doc_id, len(fps) AS n_fps,
        |  list_reduce(fps, (a, b) -> xor(a, b)) AS fp_xor,
        |  list_min(fps) AS fp_min
        |FROM sel""".stripMargin) { (s, dir) =>
      val W = 4 // winnow window (in shingles)
      val M = 999999999999989L
      val toks = split(col("text"), " ")
      val sh = transform(
        sequence(lit(1), size(col("hs")) - 2),
        i => ((element_at(col("hs"), i) * 31
          + element_at(col("hs"), i + 1)) * 31
          + element_at(col("hs"), i + 2)) % M)
      t(s, dir, "documents")
        .transform(graft.Tables.fan(_, "doc_id")) // parallelize the array fan-out
        .filter(size(toks) >= 6)
        .select(col("doc_id"), transform(toks, w => h32(w)).as("hs"))
        .select(col("doc_id"), sh.as("sh"))
        .select(col("doc_id"),
          array_distinct(transform(
            sequence(lit(1), size(col("sh")) - (W - 1)),
            j => array_min(slice(col("sh"), j, lit(W))))).as("fps"))
        .select(col("doc_id"), size(col("fps")).as("n_fps"),
          aggregate(col("fps"), lit(0L),
            (a, x) => a.bitwiseXOR(x)).as("fp_xor"),
          array_min(col("fps")).as("fp_min"))
    },

    // ------------------------------------------------------------------
    // Winsorization audit — two-sided outlier clipping at the exact
    // per-source [P10, P90] positions: where q_curate_percentile DROPS
    // the tail, winsorizing KEEPS every document but clamps the metric
    // — the robust-mean treatment feature pipelines apply before
    // normalizing. Thresholds are exact sorted-position selections
    // (floor(q·(n−1)), the q_graph_kcore rule — both engines pick the
    // identical element, no quantile interpolation), computed through
    // chunkedRank so no per-source single-task sort exists; they come
    // back onto the scan as a broadcast 20-row threshold table. The
    // clipped mean is the only float and rounds through Num.
    QueryDef(
      "q_winsorize",
      s"""WITH r AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars NULLS FIRST, doc_id) - 1 AS idx,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |th AS (
        |  SELECT source,
        |    min(CASE WHEN idx = CAST(floor(0.1 * (n - 1)) AS BIGINT)
        |        THEN n_chars END) AS lo,
        |    min(CASE WHEN idx = CAST(floor(0.9 * (n - 1)) AS BIGINT)
        |        THEN n_chars END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT d.source, count(*) AS n, min(t.lo) AS lo, min(t.hi) AS hi,
        |  count(CASE WHEN d.n_chars < t.lo THEN 1 END) AS n_clip_lo,
        |  count(CASE WHEN d.n_chars > t.hi THEN 1 END) AS n_clip_hi,
        |  ${Num.sql(
          "avg(CASE WHEN d.n_chars < t.lo THEN t.lo " +
            "WHEN d.n_chars > t.hi THEN t.hi ELSE d.n_chars END * 1e0)",
          6)} AS mean_wins
        |FROM documents d JOIN th t ON d.source = t.source
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val th = graft.operators.Analytics
        .chunkedRank(docs, "source", "n_chars", Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          min(when(col("idx") === floor(lit(0.1) * (col("n") - 1))
            .cast("long"), col("n_chars"))).as("lo"),
          min(when(col("idx") === floor(lit(0.9) * (col("n") - 1))
            .cast("long"), col("n_chars"))).as("hi"))
      val clipped = when(col("n_chars") < col("lo"), col("lo"))
        .when(col("n_chars") > col("hi"), col("hi"))
        .otherwise(col("n_chars"))
      docs.join(broadcast(th), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), min(col("lo")).as("lo"),
          min(col("hi")).as("hi"),
          count(when(col("n_chars") < col("lo"), 1)).as("n_clip_lo"),
          count(when(col("n_chars") > col("hi"), 1)).as("n_clip_hi"),
          Num.r(avg(clipped * lit(1e0)), 6).as("mean_wins"))
    },

    // ------------------------------------------------------------------
    // Tokenizer vocabulary coverage — the OOV-rate report: fix the
    // top-100 corpus vocabulary (count desc, token tie-break — the
    // deterministic rank), then measure what fraction of each source's
    // token stream falls OUTSIDE it. This is the tokenizer-health
    // number a pipeline checks before committing to a vocab (a source
    // whose OOV rate spikes will fragment into bytes at training
    // time). The global token-count relation is vocab-sized
    // (Heaps-sublinear in the corpus), its top-100 rank runs through
    // chunkedRank on negated counts (no single-task vocab sort), and
    // the 100-row vocabulary broadcast-joins back onto the token
    // stream — the corpus is scanned twice (count pass, probe pass),
    // both scan-local, nothing else shuffles.
    QueryDef(
      "q_vocab_oov",
      s"""WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tc AS (
        |  SELECT w, count(*) AS c FROM tok WHERE w <> '' GROUP BY 1),
        |vocab AS (
        |  SELECT w FROM (
        |    SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rk
        |    FROM tc)
        |  WHERE rk <= 100)
        |SELECT source, count(*) AS n_tokens,
        |  count(CASE WHEN v.w IS NULL THEN 1 END) AS n_oov,
        |  ${Num.sql(
          "count(CASE WHEN v.w IS NULL THEN 1 END) * 1e0 / count(*)",
          6)} AS oov_rate
        |FROM tok LEFT JOIN vocab v ON tok.w = v.w
        |WHERE tok.w <> ''
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val tc = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .withColumn("negc", -col("c"))
        .withColumn("__all", lit("all"))
      val vocab = graft.operators.Analytics
        .chunkedRank(tc, "__all", "negc", Seq("w"))
        .filter(col("idx") < 100)
        .select(col("w"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("w"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("in_vocab").isNull, 1)).as("n_oov"),
          Num.r(count(when(col("in_vocab").isNull, 1)) * lit(1e0)
            / count(lit(1)), 6).as("oov_rate"))
    },

    // ------------------------------------------------------------------
    // Vocabulary COVERAGE CURVE — the tokenizer-sizing datapoint one
    // level above q_vocab_oov's fixed top-100: what fraction of the
    // corpus token MASS does a top-k vocabulary cover, for k across
    // three decades? (Zipf's law makes this curve concave; where it
    // flattens is where growing the vocab stops paying — the number a
    // tokenizer design review actually reads.) Exactness: the vocab
    // table is ranked once through chunkedRank on negated counts (no
    // single-task sort), cumulative masses at each threshold come from
    // ONE conditional aggregate over the vocab-sized relation, and
    // coverage is emitted in exact integer µ-units (mass·1000000 div
    // total) — every output column is a BIGINT. The corpus pays one
    // counting scan; everything else is vocab-sized.
    QueryDef(
      "q_vocab_coverage",
      s"""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |tc AS (SELECT w, count(*) AS c FROM tok WHERE w <> '' GROUP BY 1),
        |rk AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, w) - 1 AS idx
        |  FROM tc),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tm,
        |               CAST(count(*) AS BIGINT) AS v FROM rk),
        |ks AS (SELECT unnest([10, 30, 100, 300]) AS k)
        |SELECT k,
        |  CAST(least(k, tot.v) AS BIGINT) AS vocab_size,
        |  CAST(sum(CASE WHEN idx < k THEN c ELSE 0 END) AS BIGINT) AS mass,
        |  CAST(sum(CASE WHEN idx < k THEN c ELSE 0 END) * 1000000
        |    // tot.tm AS BIGINT) AS cov_u
        |FROM ks, rk, tot
        |GROUP BY k, tot.v, tot.tm""".stripMargin) { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val tc = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .withColumn("negc", -col("c"))
        .withColumn("__all", lit("all"))
      val rk = graft.operators.Analytics
        .chunkedRank(tc, "__all", "negc", Seq("w"))
        .select(col("c"), col("idx"))
      val tot = rk.agg(sum(col("c")).as("tm"), count(lit(1)).as("v"))
      val ks = Seq(10, 30, 100, 300)
      rk.crossJoin(broadcast(tot))
        .select(col("c"), col("idx"), col("tm"), col("v"),
          explode(array(ks.map(lit): _*)).as("k"))
        .groupBy(col("k"), col("v"), col("tm"))
        .agg(sum(when(col("idx") < col("k"), col("c")).otherwise(0L))
          .as("mass0"))
        .select(col("k"),
          least(col("k").cast("long"), col("v")).as("vocab_size"),
          col("mass0").as("mass"),
          expr("mass0 * 1000000 div tm").as("cov_u"))
    },

    // ------------------------------------------------------------------
    // PMI collocations (Church & Hanks 1990) — the top word-bigram
    // associations: pmi(a,b) = ln( (c_ab/N_bg) / ((c_a/N_u)·(c_b/N_u)) ),
    // the phrase-mining primitive (tokenizer merge candidates, entity
    // pre-chunking) one level above q_text_bpe's character pairs.
    // Adjacent pairs explode in place from each document's token array
    // (tokens are space-free by the corpus format, so 'a b' is a safe
    // bigram key); both count tables are map-combinable and
    // vocab-bounded; the two unigram re-joins hit the bigram table — a
    // support-thresholded (≥5) relation that is corpus-frequency-
    // bounded at N_bg/5 rows — never the token stream. Totals ride as
    // broadcast 1-row aggregates. Ranking runs on the ROUNDED pmi (the
    // BM25 discipline: float ulps must not flip ranks) with the bigram
    // string tie-break, through chunkedRank so no global sort task.
    QueryDef(
      "q_text_pmi",
      s"""WITH d AS (
        |  SELECT string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS ab
        |  FROM d),
        |bgc AS (SELECT ab, count(*) AS c_ab FROM bg GROUP BY 1),
        |nb AS (SELECT sum(c_ab) AS n_bg FROM bgc),
        |uni AS (
        |  SELECT unnest(w) AS u FROM d),
        |uc AS (SELECT u, count(*) AS c_u FROM uni WHERE u <> '' GROUP BY 1),
        |nu AS (SELECT sum(c_u) AS n_u FROM uc),
        |j AS (
        |  SELECT ab, c_ab,
        |    ${Num.sql(
          "ln((c_ab * 1e0 / n_bg) / ((ca.c_u * 1e0 / n_u) * (cb.c_u * 1e0 / n_u)))",
          4)} AS pmi
        |  FROM bgc CROSS JOIN nb CROSS JOIN nu
        |  JOIN uc ca ON split_part(ab, ' ', 1) = ca.u
        |  JOIN uc cb ON split_part(ab, ' ', 2) = cb.u
        |  WHERE c_ab >= 5)
        |SELECT ab, c_ab, pmi,
        |  row_number() OVER (ORDER BY pmi DESC, ab) AS rk
        |FROM j ORDER BY pmi DESC, ab LIMIT 20""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select(split(col("text"), " ").as("w"))
      val bgc = d.select(explode(transform(
          sequence(lit(1), size(col("w")) - 1),
          i => concat(element_at(col("w"), i), lit(" "),
            element_at(col("w"), i + 1)))).as("ab"))
        .groupBy(col("ab")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val uc = d.select(explode(col("w")).as("u"))
        .filter(col("u") =!= "")
        .groupBy(col("u")).agg(count(lit(1)).as("c_u"))
      // totals BEFORE the support filter (PMI normalizes by the full
      // corpus mass, not the surviving bigrams')
      val nb = d.select((size(col("w")) - 1).as("k"))
        .agg(sum(col("k")).as("n_bg"))
      val nu = uc.agg(sum(col("c_u")).as("n_u"))
      val j = bgc
        .join(uc.select(col("u"), col("c_u").as("ca")),
          substring_index(col("ab"), " ", 1) === col("u")).drop("u")
        .join(uc.select(col("u"), col("c_u").as("cb")),
          substring_index(col("ab"), " ", -1) === col("u")).drop("u")
        .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
        .select(col("ab"), col("c_ab"),
          Num.r(log((col("c_ab") * lit(1e0) / col("n_bg")) /
            ((col("ca") * lit(1e0) / col("n_u"))
              * (col("cb") * lit(1e0) / col("n_u")))), 4).as("pmi"))
        .withColumn("negpmi", -col("pmi"))
      graft.operators.Analytics
        .chunkedRank(j.withColumn("__all", lit("all")),
          "__all", "negpmi", Seq("ab"))
        .filter(col("idx") < 20)
        .select(col("ab"), col("c_ab"), col("pmi"),
          (col("idx") + 1).as("rk"))
    },

    // ------------------------------------------------------------------
    // Bigram language model with interpolated ABSOLUTE DISCOUNTING
    // (the Kneser–Ney construction, Ney–Essen–Kneser 1994; Chen &
    // Goodman 1999) — one level above q_text_lmscore's unigram
    // surprisal, and the shape of the real thing: CCNet-style
    // pipelines gate training data on exactly this kind of n-gram LM
    // perplexity. The model is fit in-engine from the corpus itself:
    //   P(w2|w1) = max(c12 − D, 0)/c1 + D·n1+(w1)/c1 · Pcont(w2),
    // D = 0.75, with Pcont the continuation probability (in how many
    // DISTINCT contexts does w2 appear) — the Kneser–Ney insight that
    // "Francisco" is frequent but predictable. Every model quantity is
    // an exact integer count over the DISTINCT-bigram table (vocab-
    // bounded, Heaps-sublinear like the BPE trainer); P is a fixed
    // scalar op sequence over those integers, identical IEEE
    // cross-engine; and each bigram's surprisal lands as integer
    // MICRONATS at the ln() boundary (the q_text_lmscore discipline)
    // so per-doc folds are order-free exact sums. Scoring joins the
    // doc bigram stream to the model KEYED on the bigram — at 100 TB
    // the model table shuffles once, the corpus streams through.
    // Train = score corpus here, so every scored bigram has c12 ≥ 1
    // and no OOV back-off path is exercised (documented contract).
    QueryDef(
      "q_text_lm_bigram",
      s"""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)),
        |      i -> w[i] || ' ' || w[i+1])) AS ab
        |  FROM d),
        |c12 AS (SELECT ab, count(*) AS c FROM bg GROUP BY 1),
        |c1 AS (
        |  SELECT split_part(ab, ' ', 1) AS w1,
        |    CAST(sum(c) AS BIGINT) AS cw1, count(*) AS n1p
        |  FROM c12 GROUP BY 1),
        |cont AS (
        |  SELECT split_part(ab, ' ', 2) AS w2, count(*) AS nc
        |  FROM c12 GROUP BY 1),
        |nbt AS (SELECT count(*) AS nbig FROM c12),
        |p AS (
        |  SELECT ab,
        |    greatest(c - 0.75, 0) / cw1
        |      + ((0.75 * n1p) / cw1) * ((nc * 1e0) / nbig) AS prob
        |  FROM c12 CROSS JOIN nbt
        |  JOIN c1 ON split_part(ab, ' ', 1) = c1.w1
        |  JOIN cont ON split_part(ab, ' ', 2) = cont.w2),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(floor(-ln(prob) * 1000000 + 0.5) AS BIGINT) AS unat
        |  FROM bg JOIN p ON bg.ab = p.ab)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(unat) AS BIGINT) AS surprisal_unat,
        |  ${Num.sql("sum(unat) / (count(*) * 1e6)", 4)} AS mean_nats
        |FROM sc GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val bg = d.select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("w")) - 1),
          i => concat(element_at(col("w"), i), lit(" "),
            element_at(col("w"), i + 1)))).as("ab"))
      val c12 = bg.groupBy(col("ab")).agg(count(lit(1)).as("c"))
      val c1 = c12.groupBy(substring_index(col("ab"), " ", 1).as("w1"))
        .agg(sum(col("c")).as("cw1"), count(lit(1)).as("n1p"))
      val cont = c12.groupBy(substring_index(col("ab"), " ", -1).as("w2"))
        .agg(count(lit(1)).as("nc"))
      val nbt = c12.agg(count(lit(1)).as("nbig"))
      val prob = greatest(col("c") - 0.75, lit(0)) / col("cw1") +
        ((lit(0.75) * col("n1p")) / col("cw1")) *
          ((col("nc") * lit(1e0)) / col("nbig"))
      val p = c12.crossJoin(broadcast(nbt))
        .join(c1, substring_index(col("ab"), " ", 1) === col("w1"))
        .join(cont, substring_index(col("ab"), " ", -1) === col("w2"))
        .select(col("ab"), prob.as("prob"))
      bg.join(p, "ab")
        .select(col("doc_id"),
          floor(-log(col("prob")) * 1000000 + 0.5).cast("long").as("unat"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("unat")).as("surprisal_unat"),
          Num.r(sum(col("unat")) / (count(lit(1)) * lit(1e6)), 4)
            .as("mean_nats"))
    },

    // ------------------------------------------------------------------
    // Feature hashing (the "hashing trick", Weinberger et al. ICML
    // 2009): tokens route to a FIXED 256-dim feature space by hash —
    // the vectorizer that needs no vocabulary table at all, which is
    // why streaming/online pipelines reach for it first. Per document:
    // token mass, occupied buckets (nnz), and two order-free integer
    // checksums of the sparse vector (Σ(bucket+1)·count and Σcount²)
    // that pin the EXACT bucket→count map cross-engine — a hash-seed
    // or modulo mismatch flips both. Everything is one map-combinable
    // (doc, bucket) count followed by a per-doc fold; nothing but
    // (doc_id, 4 ints) ever shuffles, and D=256 bounds the per-doc
    // state no matter how the corpus grows — the property that lets
    // the same plan vectorize 100 TB straight into a trainer.
    QueryDef(
      "q_text_hashtf",
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tb AS (
        |  SELECT doc_id, ${h32sql("w")} % 256 AS b
        |  FROM tok WHERE w <> ''),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM tb GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS nnz,
        |  CAST(sum((b + 1) * c) AS BIGINT) AS chk_pos,
        |  CAST(sum(c * c) AS BIGINT) AS chk_sq
        |FROM bc GROUP BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .select(col("doc_id"), (h32(col("w")) % 256).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("nnz"),
          sum((col("b") + 1) * col("c")).as("chk_pos"),
          sum(col("c") * col("c")).as("chk_sq"))
    },

    // ------------------------------------------------------------------
    // CONTENT-DEFINED CHUNKING (the gear/Rabin family behind FastCDC
    // and every dedup store): cut boundaries where a rolling hash of
    // the last W=8 characters hits 0 mod 64, so chunk edges follow the
    // CONTENT — an insertion early in a document shifts every
    // fixed-size block but leaves all content-defined chunks after the
    // edit point identical, which is why storage dedup and incremental
    // corpus sync chunk this way. Engine shape: the window hash at
    // every position is an INDEPENDENT 8-term polynomial (no sequential
    // state), so boundary detection is a higher-order filter over a
    // position sequence inside whole-stage codegen — per-row work, no
    // custom code, no shuffle before the per-doc fold. Both engines
    // build chunks from the same cut positions and fold them with a
    // commutative XOR of the shared portable h60, so the fingerprints
    // are hash-exact; Σ chunk length = doc length rides along as a
    // partition invariant the compare enforces per row.
    QueryDef(
      "q_text_cdc_chunks",
      s"""WITH ${cdcChunkCtes("documents")}
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(length(ch)) AS BIGINT) AS total_len,
        |  CAST(bit_xor(${h60sql("ch")}) AS BIGINT) AS fp,
        |  CAST(min(length(ch)) AS BIGINT) AS min_len,
        |  CAST(max(length(ch)) AS BIGINT) AS max_len
        |FROM ch GROUP BY 1""".stripMargin) { (s, dir) =>
      val chunks = cdcChunkRelation(t(s, dir, "documents"))
      chunks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(length(col("ch"))).as("total_len"),
          bit_xor(h60(col("ch"))).as("fp"),
          min(length(col("ch"))).cast("long").as("min_len"),
          max(length(col("ch"))).cast("long").as("max_len"))
    },

    // ------------------------------------------------------------------
    // The DEDUP-STORE metric the chunker exists for: content-address
    // every chunk (h60) and compare bytes ingested vs bytes a
    // chunk-dedup store would actually keep, per source — the
    // storage-savings readout of a backup/corpus-sync system (and the
    // denominator for sizing one). Within-source scope: the store is
    // per-source here, so shared boilerplate across documents of one
    // source collapses to a single stored copy. Shapes: the chunk
    // relation (q_text_cdc_chunks' codegen projection) joins doc→
    // source on the fact key, then two map-combinable aggregates — one
    // over all chunk occurrences, one over the distinct chunk-hash
    // relation. Exact integers until the final savings fraction.
    QueryDef(
      "q_dedup_chunks",
      s"""WITH ${cdcChunkCtes("documents")},
        |hashed AS (
        |  SELECT d.source, length(ch.ch) AS len, ${h60sql("ch.ch")} AS hid
        |  FROM ch JOIN documents d ON ch.doc_id = d.doc_id),
        |per AS (
        |  SELECT source, count(*) AS n_chunks,
        |    CAST(sum(len) AS BIGINT) AS bytes_total
        |  FROM hashed GROUP BY 1),
        |dist AS (
        |  SELECT source, hid, min(len) AS len FROM hashed GROUP BY 1, 2),
        |st AS (
        |  SELECT source, count(*) AS n_distinct,
        |    CAST(sum(len) AS BIGINT) AS bytes_stored
        |  FROM dist GROUP BY 1)
        |SELECT source, n_chunks, n_distinct, bytes_total, bytes_stored,
        |  ${Num.sql(
             "1.0e0 - CAST(bytes_stored AS DOUBLE) / CAST(bytes_total AS DOUBLE)",
             6)} AS dedup_frac
        |FROM per JOIN st USING (source)""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val hashed = cdcChunkRelation(docs)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), length(col("ch")).as("len"),
          h60(col("ch")).as("hid"))
      val per = hashed.groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("len")).as("bytes_total"))
      val st = hashed.groupBy(col("source"), col("hid"))
        .agg(min(col("len")).as("len"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("len")).as("bytes_stored"))
      per.join(st, Seq("source"))
        .select(col("source"), col("n_chunks"), col("n_distinct"),
          col("bytes_total"), col("bytes_stored"),
          Num.r(lit(1.0) - col("bytes_stored").cast("double") /
            col("bytes_total").cast("double"), 6).as("dedup_frac"))
    },

    // ------------------------------------------------------------------
    // UNIGRAM-LM TOKENIZER TRAINING (SentencePiece-style, Kudo 2018) —
    // the missing member of the tokenizer family next to BPE
    // train/apply: seed a candidate vocabulary from substring counts
    // (all single chars, which guarantee segmentability, plus the
    // top-24 2–4-char substrings by corpus-weighted count), then run
    // EM. E-step: per WORD, the Viterbi best segmentation under the
    // current token log-probs ([[unigramVit]] — a bounded dp fold
    // entirely inside whole-stage codegen, vocabulary riding as one
    // broadcast 1-row map). M-step: one map-combinable count of token
    // usage over best segmentations, word-count weighted; unused
    // multi-char candidates drop out (the vocab-pruning step), single
    // chars keep +1 smoothing so every word stays segmentable. Scores
    // are the repo's µnat discipline — floor(ln(cnt/total)·10⁶) as
    // BIGINT, the one ln per vocab entry both engines share — so the
    // dp sums are exact integers and the (max s, min j) tie-break is
    // total. Scale shape: the corpus is scanned ONCE (word counts);
    // every EM round then runs on the DISTINCT-WORD relation — dp
    // cost is per vocabulary entry, not per corpus row, which is why
    // SentencePiece training survives 100 TB when the word counts do.
    // Output: the full (round, tok, cnt, lam) vocabulary trajectory,
    // seed through round 2, so a wrong candidate window, tie-break,
    // or smoothing mismatches on the spot. Oracle replays the rounds
    // as generated recursive CTEs (the q_text_bpe_train pattern).
    QueryDef("q_text_unigram", unigramOracle) { (s, dir) =>
      unigramTrain(s, dir)._1.reduce(_ unionAll _)
    },

    // ------------------------------------------------------------------
    // The SERVING half of unigram-LM tokenization (q_text_bpe_apply's
    // twin on this tokenizer family): segment the corpus with the
    // TRAINED vocabulary — one more Viterbi pass over the distinct-word
    // relation under the final µnat scores — rank the used tokens into
    // frequency ids (chunkedRank over the vocab-bounded table, never a
    // one-task window), fingerprint each word's id sequence, and roll
    // the order-free fingerprints up per document (count + sum +
    // multiset-xor, the q_text_hashtf discipline). The corpus pays one
    // explode + one w-keyed equi-join against the per-word fingerprint
    // table; everything else is vocabulary-sized. The oracle replays
    // training + the final segmentation + the ranking as one CTE chain.
    QueryDef("q_text_unigram_apply", unigramApplyOracle) { (s, dir) =>
      val (_, lamed, words) = unigramTrain(s, dir)
      val vm = lamed.agg(map_from_entries(
        collect_list(struct(col("tok"), col("lam")))).as("vm"))
      val seg = words.crossJoin(broadcast(vm))
        .select(col("w"), col("c"),
          unigramVit(col("w"), col("vm")).as("toks"))
        .localCheckpoint() // two consumers: vocab ranking + fingerprints
      val vocab = seg.select(explode(col("toks")).as("tokn"), col("c"))
        .groupBy(col("tokn")).agg(sum(col("c")).as("freq"))
      val vid = graft.operators.Analytics
        .chunkedRank(vocab.withColumn("__all", lit("all"))
          .withColumn("negfreq", -col("freq")), "__all", "negfreq",
          Seq("tokn"))
        .select(col("tokn"), (col("idx") + 1).cast("long").as("id"))
      val wfp = seg.select(col("w"), explode(col("toks")).as("tokn"))
        .join(vid, "tokn")
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_toks"), sum(col("id")).as("id_sum"),
          expr("bit_xor(id)").as("id_xor"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(wfp, "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("id_sum")).as("id_sum"),
          expr("bit_xor(id_xor)").as("id_xor"))
    }
  )

  /** The shared unigram-LM EM training loop (see q_text_unigram's
    * header for semantics and the scale argument). Returns the
    * per-round (round, tok, cnt, lam) trajectory frames, the FINAL
    * scored vocabulary, and the (w, c) distinct-word relation — all
    * localCheckpointed, so consumers compose without re-running EM. */
  private def unigramTrain(s: SparkSession, dir: String)
      : (Seq[DataFrame], DataFrame, DataFrame) = {
    val words = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint() // reused by every EM round
    val positions = words.select(col("w"), col("c"),
      explode(sequence(lit(1), length(col("w")))).as("i"))
    val chars = positions
      .select(col("w").substr(col("i"), lit(1)).as("tok"), col("c"))
      .groupBy(col("tok"))
      .agg((sum(col("c")) + 1).cast("long").as("cnt"))
      .localCheckpoint() // char inventory: reused as every round's floor
    val multi = positions
      .select(col("w"), col("c"), col("i"),
        explode(sequence(lit(2), lit(uniMaxTok))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("w")))
      .select(col("w").substr(col("i"), col("l")).as("tok"), col("c"))
      .groupBy(col("tok")).agg(sum(col("c")).cast("long").as("cnt"))
    // deterministic vocab cap: (cnt desc, tok) is a total order
    val top = multi.orderBy(col("cnt").desc, col("tok")).limit(uniTopK)
    def withLam(v: DataFrame): DataFrame = {
      val tot = v.agg(sum(col("cnt")).cast("long").as("total"))
      v.crossJoin(broadcast(tot)).select(col("tok"), col("cnt"),
        floor(log(col("cnt").cast("double") /
          col("total").cast("double")) * 1e6).cast("long").as("lam"))
    }
    var lamed = withLam(chars.unionAll(top)).localCheckpoint()
    val out = scala.collection.mutable.Buffer(
      lamed.select(lit(0).as("round"), col("tok"), col("cnt"),
        col("lam")))
    for (r <- 1 to uniRounds) {
      val vm = lamed.agg(map_from_entries(
        collect_list(struct(col("tok"), col("lam")))).as("vm"))
      val use = words.crossJoin(broadcast(vm))
        .select(col("c"),
          explode(unigramVit(col("w"), col("vm"))).as("tok"))
        .groupBy(col("tok")).agg(sum(col("c")).cast("long").as("u"))
      val newV = chars.select(col("tok")).join(use, Seq("tok"), "left")
        .select(col("tok"),
          (coalesce(col("u"), lit(0L)) + 1).cast("long").as("cnt"))
        .unionAll(use.filter(length(col("tok")) > 1)
          .select(col("tok"), col("u").as("cnt")))
      lamed = withLam(newV).localCheckpoint()
      out += lamed.select(lit(r).as("round"), col("tok"), col("cnt"),
        col("lam"))
    }
    (out.toSeq, lamed, words)
  }

  /** The (doc_id, ch) chunk relation: content-defined chunks of every
    * document (shared by q_text_cdc_chunks and q_dedup_chunks). The
    * char-code array materializes ONCE per row; the window hash then
    * reads 8 array cells per position instead of calling substr() on
    * the whole string 8 times (measured 7x on the sf0.1 corpus). */
  private def cdcChunkRelation(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", "text")
      .withColumn("cs", expr("transform(split(text, ''), c -> ascii(c))"))
      .withColumn("cuts", expr(
        "CASE WHEN length(text) >= 9 THEN " +
          s"filter(sequence(8, length(text) - 1), i -> ($cdcHashSpark) % 64 = 0) " +
          "ELSE CAST(array() AS ARRAY<INT>) END"))
      .withColumn("bs", expr("concat(array(0), cuts)"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(bs)), k -> " +
          "substr(text, element_at(bs, k) + 1, " +
          "(CASE WHEN k < size(bs) THEN element_at(bs, k + 1) " +
          "ELSE length(text) END) - element_at(bs, k)))")).as("ch"))

  /** The same chunk relation as DuckDB CTE text ending in a `ch`
    * relation of (doc_id, ch) — `from` names the source docs CTE. */
  private def cdcChunkCtes(from: String): String =
    s"""cc AS (
      |  SELECT doc_id, text,
      |    list_transform(string_split(text, ''), c -> ascii(c)) AS cs
      |  FROM $from),
      |c AS (
      |  SELECT doc_id, text,
      |    list_filter(range(8, length(text)),
      |      i -> ($cdcHashSql) % 64 = 0) AS cuts
      |  FROM cc),
      |b AS (
      |  SELECT doc_id, text, list_concat([0], cuts) AS bs FROM c),
      |ch AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(bs) + 1), k ->
      |      substr(text, CAST(bs[k] + 1 AS INTEGER),
      |        CAST((CASE WHEN k < len(bs) THEN bs[k + 1]
      |              ELSE length(text) END) - bs[k] AS INTEGER)))) AS ch
      |  FROM b)""".stripMargin

  /** The per-position gear window hash shared by both engines: an
    * 8-term polynomial over the last W=8 character codes at position
    * `i`, read from the per-row code array `cs` —
    * position-independent, so every position's hash is computable in
    * parallel (NOT a sequential rolling state). Spark spells array
    * access element_at, DuckDB spells it cs[i]; the integer math is
    * identical. */
  private def cdcHash(at: String => String): String =
    (0 until 8).map { j =>
      val p = math.pow(31.0, j.toDouble).toLong
      s"${at(s"i - $j")} * CAST($p AS BIGINT)"
    }.mkString(" + ")

  /** Spark spelling of the window hash (1-based element_at). */
  private def cdcHashSpark: String =
    cdcHash(i => s"element_at(cs, CAST($i AS INT))")

  /** DuckDB spelling (1-based bracket indexing). */
  private def cdcHashSql: String = cdcHash(i => s"cs[$i]")
}
