package graft

import org.apache.spark.sql.functions._

import graft.functions.MultiMatch

/** Pins for the Aho-Corasick [[MultiMatch]] expression beyond
  * q_text_multimatch's oracle hash: the textbook automaton example,
  * the bordered/substring regimes where all-ends counting DIFFERS
  * from replace-based greedy counting (the oracle's method), and a
  * naive-scan equivalence sweep over deterministic strings.
  */
class MultiMatchSpec extends SparkSpec {

  private def counts(text: String, pats: Seq[String]): Seq[Long] = {
    val arr = "array(" + pats.map(p => s"'$p'").mkString(", ") + ")"
    spark.sql(s"SELECT graft_multi_match('$text', $arr) AS c")
      .collect()(0).getSeq[Long](0)
  }

  test("the Aho-Corasick textbook example: {he, she, his, hers} over " +
    "'ushers' — substring-of-another patterns all fire at their ends") {
    assert(counts("ushers", Seq("he", "she", "his", "hers")) ==
      Seq(1L, 1L, 0L, 1L))
  }

  test("bordered pattern counts ALL match ends (aa in aaaa = 3), the " +
    "regime the oracle's replace-count cannot express — which is why " +
    "q_text_multimatch pins border-free phrases") {
    assert(counts("aaaa", Seq("aa")) == Seq(3L))
    // and the border-free twin agrees with the replace count
    assert(counts("abab", Seq("ab")) == Seq(2L))
  }

  test("byte-level matching is exact for ASCII patterns inside " +
    "multi-byte UTF-8 text") {
    assert(counts("héllo wörld héllo", Seq("llo", "w")) == Seq(2L, 1L))
  }

  test("naive per-pattern scan equivalence on deterministic strings") {
    def naive(text: String, p: String): Long =
      (0 to text.length - p.length)
        .count(i => text.regionMatches(i, p, 0, p.length)).toLong
    val pats = Seq("ab", "ba", "aab", "b")
    val texts = (1 to 40).map { k =>
      (0 until 30).map(i => if (((k * 31 + i * 7) % 5) < 2) 'a' else 'b')
        .mkString
    }
    texts.foreach { t =>
      assert(counts(t, pats) == pats.map(naive(t, _)),
        s"mismatch on $t")
    }
  }

  test("the expression survives whole-stage codegen over a real scan " +
    "and null texts yield null") {
    val df = Tables(spark, sfDir, "documents")
      .selectExpr("graft_multi_match(text, array('scan', 'row')) AS c",
        "graft_multi_match(CAST(NULL AS STRING)," +
          " array('scan', 'row')) AS nc")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.isNullAt(1)))
    assert(rows.forall(r => r.getSeq[Long](0).length == 2))
    // cross-check one aggregate against per-pattern SQL counting
    val viaAc = Tables(spark, sfDir, "documents")
      .selectExpr("graft_multi_match(text, array('scan')) AS c")
      .agg(sum(element_at(col("c"), 1))).collect()(0).getLong(0)
    val viaSql = Tables(spark, sfDir, "documents")
      .selectExpr(
        "(length(text) - length(replace(text, 'scan', ''))) DIV 4 AS n")
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(viaAc == viaSql)
  }
}
