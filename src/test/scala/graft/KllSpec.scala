package graft

import org.apache.spark.sql.functions._

/** Pins for the derandomized KLL quantile sketch beyond q_agg_kll's
  * in-plan verdict: exactness below capacity, the weight-conservation
  * invariant, measured rank error under adversarial input orders, and
  * merge-order robustness (single-partition vs repartitioned
  * aggregation both hold the bound).
  */
class KllSpec extends SparkSpec {

  private def sketch(values: Seq[Long], k: Int, parts: Int)
      : (Seq[(Long, Long)], Long) = {
    import spark.implicits._
    val row = values.toDF("v").repartition(parts)
      .agg(expr(s"graft_kll(v, $k)").as("s"), count(lit(1)).as("n"))
      .collect()(0)
    val pairs = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    (pairs, row.getLong(1))
  }

  /** True rank error of the sketch's estimate at quantile q. */
  private def rankErr(
      pairs: Seq[(Long, Long)], sorted: Seq[Long], q: Double): Double = {
    val n = sorted.length.toLong
    val target = math.ceil(q * n).toLong
    var cum = 0L
    val est = pairs.sortBy(_._1).find { case (_, w) =>
      cum += w; cum >= target
    }.map(_._1).getOrElse(pairs.map(_._1).max)
    val trueRank = sorted.count(_ <= est).toLong
    math.abs(trueRank - q * n) / n.toDouble
  }

  test("below capacity the sketch IS the exact multiset (weight 1 each)") {
    val vs = Seq(5L, 3L, 9L, 1L, 7L)
    val (pairs, n) = sketch(vs, k = 64, parts = 1)
    assert(n == 5L)
    assert(pairs.map(_._1).sorted == vs.sorted)
    assert(pairs.forall(_._2 == 1L))
  }

  test("weight conservation: sketch weights always sum to n, across " +
    "compactions and merges") {
    for (parts <- Seq(1, 8)) {
      val vs = (1L to 50000L).map(i => (i * 2654435761L) % 1000003L)
      val (pairs, n) = sketch(vs, k = 128, parts = parts)
      assert(n == 50000L)
      assert(pairs.map(_._2).sum == n, s"weight leak at parts=$parts")
      // compact: far fewer stored items than inputs
      assert(pairs.length < 3000, s"sketch not compacting: ${pairs.length}")
    }
  }

  test("the bin/merge duo: per-group serialized partials fold to the " +
    "same weight and the same error bound as direct sketching") {
    import spark.implicits._
    val vs = (1L to 60000L).map(i => (i % 7, (i * 48271L) % 999983L))
    val df = vs.toDF("g", "v").repartition(8)
    // direct: one sketch over everything
    val direct = df.agg(expr("graft_kll(v, 256)").as("s"))
      .selectExpr("aggregate(s, CAST(0 AS BIGINT), (a,p) -> a + p.weight) AS n")
      .collect()(0).getLong(0)
    assert(direct == 60000L)
    // staged: 7 per-group binary partials, merged back into one sample
    val merged = df.groupBy(col("g"))
      .agg(expr("graft_kll_bin(v, 256)").as("sk"))
      .agg(expr("graft_kll_merge(sk)").as("s"))
      .select(explode(col("s")).as("p"))
      .select(col("p.value").as("v"), col("p.weight").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(merged.map(_._2).sum == 60000L, "merge leaked weight")
    // the merged sample's median must satisfy the same 1% rank bound
    val sorted = vs.map(_._2).sorted
    var cum = 0L
    val est = merged.sortBy(_._1).find { case (_, w) =>
      cum += w; 2 * cum >= 60000L
    }.get._1
    val err = math.abs(sorted.count(_ <= est) - 30000L) / 60000.0
    assert(err <= 0.01, s"merged-median rank error $err")
  }

  test("measured rank error stays inside half of q_agg_kll's 2% gate at " +
    "k=256, on sorted, reverse-sorted, and hash-shuffled orders, " +
    "single-partition and merged") {
    val base = (1L to 100000L)
    val orders = Map(
      "sorted" -> base,
      "reversed" -> base.reverse,
      "shuffled" -> base.sortBy(i => (i * 0x9e3779b97f4a7c15L) % 999983L))
    val sortedVals = base.map(identity)
    for ((name, vs) <- orders; parts <- Seq(1, 8);
        q <- Seq(0.25, 0.5, 0.9)) {
      val (pairs, n) = sketch(vs.toSeq, k = 256, parts = parts)
      assert(n == 100000L)
      val err = rankErr(pairs, sortedVals, q)
      assert(err <= 0.01,
        s"rank error $err at q=$q order=$name parts=$parts")
    }
  }
}
