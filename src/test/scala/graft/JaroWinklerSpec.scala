package graft

import graft.functions.JaroWinkler
import org.apache.spark.sql.functions._

/** Pins [[JaroWinkler]] to DuckDB's `jaro_winkler_similarity` semantics
  * bit-for-bit: every constant below was probed from DuckDB directly
  * (the oracle for q_link_jaro is the engine BUILTIN, so semantic drift
  * here is a silent oracle mismatch, not a test failure elsewhere). */
class JaroWinklerSpec extends SparkSpec {

  private def j(a: String, b: String): Double =
    JaroWinkler.jaro(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
  private def jw(a: String, b: String): Double =
    JaroWinkler.similarity(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  test("matches the DuckDB-probed constants exactly") {
    // (a, b, jaro, jaro_winkler) — probed via duckdb
    val pinned = Seq(
      ("martha", "marhta", 0.9444444444444445, 0.9611111111111111),
      ("dixon", "dicksonx", 0.7666666666666666, 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964, 0.8962962962962964),
      ("abc", "abc", 1.0, 1.0),
      ("crate", "trace", 0.7333333333333334, 0.7333333333333334),
      ("dwayne", "duane", 0.8222222222222223, 0.8400000000000001),
      ("aaaaaab", "aaaaaac", 0.9047619047619048, 0.9428571428571428),
      ("prefix", "prefixxxxlong", 0.8205128205128206, 0.8923076923076924))
    pinned.foreach { case (a, b, ej, ejw) =>
      assert(j(a, b) == ej, s"jaro($a, $b)")
      assert(jw(a, b) == ejw, s"jw($a, $b)")
      assert(j(b, a) == ej && jw(b, a) == ejw, s"symmetry($a, $b)")
    }
  }

  test("edge semantics: empties, no-match, byte-level multibyte, 3-cycle") {
    // DuckDB returns 0.0 for empty-vs-empty (NOT the rapidfuzz 1.0)
    assert(jw("", "") == 0.0 && j("", "") == 0.0)
    assert(jw("", "abc") == 0.0 && jw("a", "") == 0.0)
    // window floor(max/2)-1 = 0 on 2-char strings: transposed pair
    // cannot match
    assert(jw("ab", "ba") == 0.0)
    assert(jw("x", "y") == 0.0)
    // BYTES, not codepoints: é is 2 UTF-8 bytes, so lengths are 6 vs 5
    assert(j("héllo", "hello") == 0.8222222222222223)
    assert(jw("héllo", "hello") == 0.8400000000000001)
    // a matched 3-cycle gives t=3 → INTEGER half-count 1 (probed)
    assert(j("xyzaaaa", "yzxaaaa") == 0.9523809523809524)
    // no Winkler bonus at/below the 0.7 boost threshold despite a
    // 4-byte common prefix (probed: 0.5555... stays unchanged)
    assert(jw("abcdxxxxxxxx", "abcdyyyyyyyy") == j("abcdxxxxxxxx", "abcdyyyyyyyy"))
  }

  test("expression evaluates identically via SQL, codegen on") {
    import spark.implicits._
    val df = Seq(("martha", "marhta"), ("dwayne", "duane"), ("", ""))
      .toDF("a", "b")
      .select(expr("graft_jaro_winkler(a, b)").as("jw"))
    assert(df.collect().map(_.getDouble(0)).toSeq ==
      Seq(0.9611111111111111, 0.8400000000000001, 0.0))
    // null propagation: a null side yields null, not a crash or 0
    val n = Seq((Some("abc"), None: Option[String]))
      .toDF("a", "b")
      .select(expr("graft_jaro_winkler(a, b)").as("jw"))
    assert(n.collect().head.isNullAt(0))
  }
}
