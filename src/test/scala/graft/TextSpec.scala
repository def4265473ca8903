package graft

import org.apache.spark.sql.functions._

/** Semantic pins for the text-analysis queries beyond the DuckDB hash
  * compare (the float/argmax invariants a hash alone doesn't explain). */
class TextSpec extends SparkSpec {

  test("graft_normalize: all five forms behave per UAX #15 (codegen and " +
    "interpreted paths agree), including the forms the oracle can't see") {
    import spark.implicits._
    // (input, NFC, NFD, NFKC, STRIP) — escapes only, so the file
    // encoding cannot decide composed vs decomposed. U+FB01 (fi
    // ligature) is a compatibility char: canonical forms keep it,
    // NFKC expands it; U+00F8 is atomic (no decomposition at all);
    // a + ring + acute stacks two marks and composes to U+01FB.
    val cases = Seq(
      ("e\u0301", "\u00e9", "e\u0301", "\u00e9", "e"),
      ("\u00e9", "\u00e9", "e\u0301", "\u00e9", "e"),
      ("\ufb01x", "\ufb01x", "\ufb01x", "fix", "\ufb01x"),
      ("\u00f8", "\u00f8", "\u00f8", "\u00f8", "\u00f8"),
      ("a\u030a\u0301", "\u01fb", "a\u030a\u0301", "\u01fb", "a"),
      ("plain", "plain", "plain", "plain", "plain"))
    val df = cases.map(_._1).toDF("s").selectExpr("s",
      "graft_normalize(s, 'NFC') AS nfc",
      "graft_normalize(s, 'NFD') AS nfd",
      "graft_normalize(s, 'NFKC') AS nfkc",
      "graft_normalize(s, 'STRIP') AS strip")
    val got = df.collect().map(r => r.getString(0) ->
      (r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toMap
    cases.foreach { case (in, nfc, nfd, nfkc, strip) =>
      val (gc, gd, gk, gs) = got(in)
      assert(gc == nfc, s"NFC of ${in.codePoints().toArray.mkString(",")}")
      assert(gd == nfd, s"NFD of $in")
      if (nfkc != null) assert(gk == nfkc, s"NFKC of $in")
      assert(gs == strip, s"STRIP of $in")
      // idempotence: normalize twice = normalize once
    }
    val idem = df.selectExpr(
      "graft_normalize(nfc, 'NFC') = nfc AS a",
      "graft_normalize(strip, 'STRIP') = strip AS b").collect()
    assert(idem.forall(r => r.getBoolean(0) && r.getBoolean(1)))
    // null flows through, bad form fails analysis
    assert(Seq[String](null).toDF("s")
      .selectExpr("graft_normalize(s, 'NFC')").collect().head.isNullAt(0))
    intercept[Exception] {
      Seq("x").toDF("s").selectExpr("graft_normalize(s, 'NFZ')").collect()
    }
  }

  test("q_text_cdc_chunks: boundaries are content-defined (prefix " +
    "insertion preserves all chunks after the edit) and the engine " +
    "fingerprint matches a sequential replay") {
    // sequential replay of the same 8-char window polynomial
    def cuts(t: String): Seq[Int] =
      (8 to t.length - 1).filter { i =>
        (0 until 8).map(j =>
          t.charAt(i - j - 1).toLong * math.pow(31.0, j.toDouble).toLong)
          .sum % 64 == 0
      }
    def chunksOf(t: String): Seq[String] = {
      val bs = 0 +: cuts(t)
      bs.zipWithIndex.map { case (b, k) =>
        t.substring(b, if (k < bs.length - 1) bs(k + 1) else t.length)
      }
    }
    // THE content-defined property: shifting everything by an insertion
    // changes only chunks up to the first post-edit boundary — the
    // window hash depends on content alone, never absolute position
    val docs = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text")).collect()
    assert(docs.length > 10)
    var checkedShift = 0
    docs.foreach { r =>
      val t = r.getString(1)
      val base = chunksOf(t)
      val shifted = chunksOf("INSERTED PREFIX " + t)
      if (base.length >= 3) {
        val tailChunks = base.drop(1)
        assert(shifted.takeRight(tailChunks.length) == tailChunks,
          s"doc ${r.getLong(0)}: post-edit chunks diverged")
        checkedShift += 1
      }
    }
    assert(checkedShift > 5, s"only $checkedShift shift checks ran")
    // engine output == replay (n_chunks + xor-of-h60 fingerprint)
    val got = SparkEntry.queries("q_text_cdc_chunks")(spark, sfDir)
      .filter(col("doc_id") % 25 === 0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sx: String): Long = java.lang.Long.parseLong(
      md.digest(sx.getBytes("UTF-8")).take(8)
        .map(b => f"$b%02x").mkString.take(15), 16)
    docs.foreach { r =>
      val cs = chunksOf(r.getString(1))
      val (n, fp) = got(r.getLong(0))
      assert(n == cs.length, s"doc ${r.getLong(0)}: $n vs ${cs.length}")
      assert(fp == cs.map(h60).reduce(_ ^ _),
        s"doc ${r.getLong(0)}: fingerprint diverged")
    }
  }

  test("q_text_nb: confusion matrix partitions the corpus and predicts " +
    "only trained languages") {
    val rows = SparkEntry.queries("q_text_nb")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val docs = Tables(spark, sfDir, "documents")
    val langs = docs.select(col("lang")).distinct()
      .collect().map(_.getString(0)).toSet
    // every document lands in exactly one confusion cell
    assert(rows.map(_._3).sum == docs.count())
    // the model can only predict languages it was trained on, and
    // actuals are the corpus's own labels
    rows.foreach { case (actual, pred, n) =>
      assert(langs(actual) && langs(pred), s"($actual, $pred)")
      assert(n > 0)
    }
    // cells are unique (grouped output)
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
  }

  test("q_text_winnow selects per the SIGMOD'03 guarantee: every window " +
    "of w shingles contributes its minimum, nothing else is selected") {
    val W = 4
    val M = 999999999999989L
    val out = SparkEntry.queries("q_text_winnow")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3)))
      .toMap
    // independent recompute in plain Scala on a sample of documents,
    // reusing the library's own portable h32 ONLY through SQL (so the
    // reference path is the oracle formula, not the query's code)
    val docs = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .selectExpr("doc_id", "text",
        "transform(split(text, ' '), " +
          "t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)) hs")
      .collect()
    var checked = 0
    docs.foreach { r =>
      val hs = r.getSeq[Long](2)
      if (hs.length >= 6) {
        val sh = (0 to hs.length - 3)
          .map(i => ((hs(i) * 31 + hs(i + 1)) * 31 + hs(i + 2)) % M)
        val expected =
          sh.sliding(W).map(_.min).toSeq.distinct
        val (n, x, mn) = out(r.getLong(0))
        assert(n == expected.length, s"doc ${r.getLong(0)}: $n fps, " +
          s"expected ${expected.length}")
        assert(x == expected.reduce(_ ^ _) && mn == expected.min,
          s"doc ${r.getLong(0)}: selected set diverges")
        // density sanity: winnowing must actually THIN dense shingle
        // streams (selected ≤ window count, and strictly fewer than all
        // shingles once there are enough windows to overlap)
        if (sh.length >= 3 * W) assert(expected.length < sh.length)
        checked += 1
      }
    }
    assert(checked > 10, s"only $checked docs checked — sample too thin")
  }

  test("q_text_bpe_train matches a sequential reference trainer") {
    // re-derive the three merge rounds imperatively from the same word
    // counts: pair counting includes overlaps, the applied merge is
    // greedy left-to-right (consumes both symbols) — the exact contract
    // the (t)(t) replace-encoding must honor
    val rows = SparkEntry.queries("q_text_bpe_train")(spark, sfDir)
      .orderBy("round").collect()
    assert(rows.length == 3)
    val wc = Tables(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    var words: Seq[(List[String], Long)] =
      wc.toSeq.map { case (w, c) => (w.split("").toList :+ "_") -> c }
    for (k <- 1 to 3) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((toks, c) <- words; p <- toks.sliding(2) if p.length == 2)
        pc((p.head, p(1))) = pc.getOrElse((p.head, p(1)), 0L) + c
      val ((ba, bb), bf) =
        pc.toSeq.minBy { case ((a, b), f) => (-f, a, b) }
      def merge(ts: List[String]): List[String] = ts match {
        case x :: y :: rest if x == ba && y == bb => (x + y) :: merge(rest)
        case x :: rest => x :: merge(rest)
        case Nil => Nil
      }
      words = words.map { case (ts, c) => merge(ts) -> c }
      val vt = words.map { case (ts, c) => ts.size * c }.sum
      val r = rows(k - 1)
      assert(r.getAs[String]("a") == ba && r.getAs[String]("b") == bb,
        s"round $k merge (${r.getAs[String]("a")},${r.getAs[String]("b")})" +
          s" != sequential ($ba,$bb)")
      assert(r.getAs[Long]("freq") == bf, s"round $k freq")
      assert(r.getAs[Long]("vocab_toks") == vt,
        s"round $k post-merge token count ${r.getAs[Long]("vocab_toks")}" +
          s" != sequential $vt — merge application diverged")
    }
  }

  test("q_text_wordpiece matches a sequential likelihood trainer and " +
    "scores the merges it picks, not just counts them") {
    val rows = SparkEntry.queries("q_text_wordpiece")(spark, sfDir)
      .orderBy("round").collect()
    assert(rows.length == 3)
    val wc = Tables(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    var words: Seq[(List[String], Long)] =
      wc.toSeq.map { case (w, c) => (w.split("").toList :+ "_") -> c }
    for (k <- 1 to 3) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      val tc = scala.collection.mutable.Map.empty[String, Long]
      for ((toks, c) <- words) {
        toks.foreach(t => tc(t) = tc.getOrElse(t, 0L) + c)
        for (p <- toks.sliding(2) if p.length == 2)
          pc((p.head, p(1))) = pc.getOrElse((p.head, p(1)), 0L) + c
      }
      // the WordPiece objective: likelihood gain, not raw frequency —
      // same double op order as both engines
      val ((ba, bb), bf) = pc.toSeq.minBy { case ((a, b), f) =>
        (-(f.toDouble / (tc(a).toDouble * tc(b).toDouble)), a, b)
      }
      val score = bf.toDouble / (tc(ba).toDouble * tc(bb).toDouble)
      def merge(ts: List[String]): List[String] = ts match {
        case x :: y :: rest if x == ba && y == bb => (x + y) :: merge(rest)
        case x :: rest => x :: merge(rest)
        case Nil => Nil
      }
      words = words.map { case (ts, c) => merge(ts) -> c }
      val vt = words.map { case (ts, c) => ts.size * c }.sum
      val r = rows(k - 1)
      assert(r.getAs[String]("a") == ba && r.getAs[String]("b") == bb,
        s"round $k merge (${r.getAs[String]("a")},${r.getAs[String]("b")})" +
          s" != sequential ($ba,$bb)")
      assert(r.getAs[Long]("freq") == bf, s"round $k freq")
      assert(r.getAs[Long]("score_u") ==
        math.floor(score * 1e12 + 0.5).toLong, s"round $k score")
      assert(r.getAs[Long]("vocab_toks") == vt, s"round $k token count")
    }
  }

  test("q_eval_bleu matches a driver-side replay of clipped corpus " +
    "precisions and log-BLEU is never positive") {
    val got = SparkEntry.queries("q_eval_bleu")(spark, sfDir).collect()
      .map(r => r.getString(r.fieldIndex("source")) -> r).toMap
    val docs = Tables(spark, sfDir, "documents")
      .selectExpr("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bySrc = docs.groupBy(_._2)
    bySrc.foreach { case (src, ds) =>
      val rows = ds.map { case (id, _, text) =>
        val rw = text.split(" ", -1)
        val cw = rw.indices.flatMap { i0 =>
          val i = i0 + 1
          if ((id + i) % 11 == 0) None
          else if ((id + i) % 7 == 0) Some("the")
          else Some(rw(i0))
        }
        (rw.toSeq, cw)
      }
      def grams(ws: Seq[String], n: Int): Map[String, Long] =
        ws.sliding(n).filter(_.size == n).map(_.mkString(" "))
          .toSeq.groupBy(identity).map { case (g, xs) =>
            g -> xs.length.toLong }
      val r = got(src)
      assert(r.getLong(r.fieldIndex("clen")) ==
        rows.map(_._2.size.toLong).sum)
      assert(r.getLong(r.fieldIndex("rlen")) ==
        rows.map(_._1.size.toLong).sum)
      val lps = (1 to 4).map { n =>
        var m = 0L; var t = 0L
        rows.foreach { case (rw, cw) =>
          val (cg, rg) = (grams(cw, n), grams(rw, n))
          cg.foreach { case (g, c) =>
            m += math.min(c, rg.getOrElse(g, 0L)); t += c }
        }
        assert(r.getLong(r.fieldIndex(s"m$n")) == m, s"$src m$n")
        assert(r.getLong(r.fieldIndex(s"t$n")) == t, s"$src t$n")
        if (m == 0) -20000000L
        else math.floor(math.log(m.toDouble / t.toDouble) * 1e6 +
          0.5).toLong
      }
      val clen = rows.map(_._2.size.toLong).sum.toDouble
      val rlen = rows.map(_._1.size.toLong).sum.toDouble
      val lbp = math.floor(
        math.min(0.0, 1.0 - rlen / clen) * 1e6 + 0.5).toLong
      val lb = math.floor(lps.sum.toDouble / 4.0 + 0.5).toLong + lbp
      assert(r.getLong(r.fieldIndex("logbleu_u")) == lb, s"$src logbleu")
      assert(lb <= 0L, "log-BLEU must be non-positive")
    }
  }

  test("q_eval_rougel: the wavefront dp equals the textbook row-major " +
    "LCS per document and per-source means replay exactly") {
    val got = SparkEntry.queries("q_eval_rougel")(spark, sfDir).collect()
      .map(r => r.getString(r.fieldIndex("source")) ->
        (r.getLong(r.fieldIndex("n_docs")),
          r.getLong(r.fieldIndex("mean_p_u")),
          r.getLong(r.fieldIndex("mean_r_u")),
          r.getLong(r.fieldIndex("mean_f_u"))))
      .toMap
    def lcsRowMajor(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) =
          if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length)
    }
    val per = Tables(spark, sfDir, "documents")
      .selectExpr("doc_id", "source", "text").collect()
      .map { r =>
        val (id, src, text) =
          (r.getLong(0), r.getString(1), r.getString(2))
        val rw = text.split(" ", -1).toSeq
        val cw = rw.indices.flatMap { i0 =>
          val i = i0 + 1
          if ((id + i) % 11 == 0) None
          else if ((id + i) % 7 == 0) Some("the")
          else Some(rw(i0))
        }
        val lcs = lcsRowMajor(cw, rw)
        assert(lcs <= math.min(cw.size, rw.size))
        def u(num: Long, den: Long): Long =
          if (den == 0) 0L
          else math.floor(num.toDouble / den.toDouble * 1e6 + 0.5).toLong
        (src, u(lcs, cw.size), u(lcs, rw.size),
          if (cw.size + rw.size == 0) 0L
          else math.floor(2.0 * lcs / (cw.size + rw.size).toDouble *
            1e6 + 0.5).toLong)
      }
    per.groupBy(_._1).foreach { case (src, xs) =>
      def mean(f: ((String, Long, Long, Long)) => Long): Long =
        math.floor(xs.map(f).sum.toDouble / xs.length.toDouble +
          0.5).toLong
      val (n, p, rr, f) = got(src)
      assert(n == xs.length.toLong, s"$src n_docs")
      assert(p == mean(_._2) && rr == mean(_._3) && f == mean(_._4),
        s"$src: engine ($p,$rr,$f) vs replay " +
          s"(${mean(_._2)},${mean(_._3)},${mean(_._4)})")
    }
  }

  test("q_text_bpe_apply reconciles with training: corpus token total " +
    "equals the trainer's final post-merge count") {
    // the serving half must tokenize the corpus EXACTLY as the last
    // training round left it — Σ per-doc n_tokens re-derives the
    // trainer's round-3 vocab_toks through a completely different plan
    // (per-word fingerprints + doc join vs the word-table length fold)
    val applied = SparkEntry.queries("q_text_bpe_apply")(spark, sfDir)
    val total = applied.agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    val trained = SparkEntry.queries("q_text_bpe_train")(spark, sfDir)
      .orderBy(col("round").desc).select(col("vocab_toks"))
      .collect()(0).getLong(0)
    assert(total == trained,
      s"applied token total $total != trained vocab_toks $trained")
    // id fingerprints are consistent: every id_sum is at least n_tokens
    // (ids are 1-based) and xor stays within the id range's bit span
    applied.collect().foreach { r =>
      assert(r.getAs[Long]("id_sum") >= r.getAs[Long]("n_tokens"),
        s"doc ${r.get(0)}: id_sum below n_tokens — ids not 1-based?")
    }
  }
}
