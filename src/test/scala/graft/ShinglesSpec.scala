package graft

import org.apache.spark.sql.functions._

/** The custom Generator must produce exactly the shingle relation the
  * declarative derivation produces. */
class ShinglesSpec extends SparkSpec {

  test("matches the declarative shingle derivation on real documents") {
    val docs = Tables(spark, sfDir, "documents").limit(100)
    val viaGen = docs.select(col("doc_id"),
      expr("graft_shingles(text, 3)").as("shingle"))
    val toks = split(col("text"), " ")
    val viaDecl = docs
      .filter(size(toks) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2)))).as("shingle"))
    assert(viaGen.exceptAll(viaDecl).count() == 0
      && viaDecl.exceptAll(viaGen).count() == 0)
  }

  test("short and null inputs generate no rows") {
    import spark.implicits._
    val df = Seq(Some("one two"), Some("a b c"), None).toDF("text")
    val out = df.select(expr("graft_shingles(text, 3)")).collect()
    assert(out.length == 1 && out(0).getString(0) == "a b c")
  }

  test("df cap: a loose cap is the identity on the testdata") {
    val docs = Tables(spark, sfDir, "documents").limit(200)
    val plain = graft.operators.Dedup.shinglesOf(docs)
    val capped = graft.operators.Dedup.shinglesOf(docs, dfCap = 1000)
    assert(capped.exceptAll(plain).count() == 0
      && plain.exceptAll(capped).count() == 0)
  }

  test("df cap bounds the candidate join on a boilerplate-heavy corpus") {
    import spark.implicits._
    // every doc shares the same license header (one hot shingle with
    // df = n) plus a unique tail — the adversarial input where the
    // uncapped candidate self-join is quadratic
    val n = 60
    val docs = (0 until n)
      .map(i => (i.toLong, s"standard license header text unique$i tail$i end$i"))
      .toDF("doc_id", "text")
    def candidates(sh: org.apache.spark.sql.DataFrame): Long = {
      val a = sh.select(col("doc_id").as("id_a"), col("shingle"))
      val b = sh.select(col("doc_id").as("id_b"), col("shingle").as("sh_b"))
      a.join(b, col("shingle") === col("sh_b") && col("id_a") < col("id_b"))
        .count()
    }
    val uncapped = candidates(graft.operators.Dedup.shinglesOf(docs))
    val capped = candidates(graft.operators.Dedup.shinglesOf(docs, dfCap = 5))
    // the shared header shingles each contribute n·(n−1)/2 pairs uncapped
    assert(uncapped >= n.toLong * (n - 1) / 2, s"uncapped=$uncapped")
    // with the cap, only the (distinct) unique tails remain → no pairs
    assert(capped == 0, s"capped=$capped")
  }

  test("rejects non-string input and n < 1 at analysis time") {
    import spark.implicits._
    intercept[Exception] {
      Seq(1).toDF("x").select(expr("graft_shingles(x, 3)")).collect()
    }
    intercept[Exception] {
      Seq("a").toDF("x").select(expr("graft_shingles(x, 0)")).collect()
    }
  }
}
