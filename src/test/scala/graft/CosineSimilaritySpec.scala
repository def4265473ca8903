package graft

import org.apache.spark.sql.functions._

/** The codegen'd cosine expression must agree bitwise with the
  * declarative zip_with/aggregate composition (same fold order) and
  * with a plain Scala loop. */
class CosineSimilaritySpec extends SparkSpec {

  private def scalaCosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / math.sqrt(na * nb)
  }

  test("matches the declarative composition bitwise on real embeddings") {
    val e = Tables(spark, sfDir, "embeddings").limit(50)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ia") < col("ib"))
    val declarative = aggregate(
      zip_with(col("ea"), col("eb"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x) /
      sqrt(
        aggregate(transform(col("ea"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x) *
        aggregate(transform(col("eb"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x))
    val diff = pairs
      .select(expr("graft_cosine(ea, eb)").as("fast"), declarative.as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("matches a plain Scala loop on random vectors (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(25)((
      Array.fill(16)(rnd.nextFloat() * 10f - 5f),
      Array.fill(16)(rnd.nextFloat() * 10f - 5f)))
    val df = cases.toDF("a", "b")
    val got = df.select(expr("graft_cosine(a, b)")).collect().map(_.getDouble(0))
    val want = cases.map { case (a, b) => scalaCosine(a, b) }
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
  }

  test("double-array overload folds identically to the float path's math") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(25)((
      Array.fill(16)(rnd.nextDouble() * 10d - 5d),
      Array.fill(16)(rnd.nextDouble() * 10d - 5d)))
    val df = cases.toDF("a", "b")
    val got = df.select(expr("graft_cosine(a, b)")).collect().map(_.getDouble(0))
    // the same sequential fold the declarative composition performs
    val want = cases.map { case (a, b) =>
      val dot = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      val na = a.foldLeft(0.0)((s, x) => s + x * x)
      val nb = b.foldLeft(0.0)((s, x) => s + x * x)
      dot / math.sqrt(na * nb)
    }
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
  }

  test("mixed float/double arrays are rejected at analysis time") {
    import spark.implicits._
    // silent promotion would hide WHERE the fold order changes — refuse
    val df = Seq((Array(1f, 2f), Array(1d, 2d))).toDF("a", "b")
    intercept[Exception] {
      df.select(expr("graft_cosine(a, b)")).collect()
    }
  }

  test("null array yields null") {
    import spark.implicits._
    val df = Seq((Some(Array(1f, 2f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    assert(df.select(expr("graft_cosine(a, b)")).collect()(0).isNullAt(0))
  }

  test("dimension mismatch yields null, not a prefix cosine") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    assert(df.select(expr("graft_cosine(a, b)")).collect()(0).isNullAt(0))
  }

  test("rejects non-float-array inputs at analysis time") {
    import spark.implicits._
    val df = Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
    intercept[Exception] {
      df.select(expr("graft_cosine(a, b)")).collect()
    }
  }
}
