package graft

import org.apache.spark.sql.functions._

/** Theta (KMV) sketch: exact mode, estimation accuracy, merge-order
  * invariance, and the set-intersection estimate HLL cannot provide. */
class ThetaSketchSpec extends SparkSpec {

  private def estOf(df: org.apache.spark.sql.DataFrame): Long = {
    df.agg(expr("graft_theta_est(graft_theta(id))")).collect()(0).getLong(0)
  }

  test("exact below k: estimate equals the true distinct count") {
    // k = 4096, so 3000 distinct values stay in exact mode
    val df = spark.range(3000).toDF("id")
    assert(estOf(df.union(df)) == 3000L)
  }

  test("estimation mode within 5% on 100k distinct (k = 4096)") {
    val n = 100000L
    val est = estOf(spark.range(n).toDF("id"))
    assert(math.abs(est - n).toDouble / n <= 0.05, s"est=$est")
  }

  test("sketch bytes are invariant under partitioning (merge order)") {
    val df = spark.range(50000).toDF("id")
    def bytes(parts: Int): Seq[Byte] =
      df.repartition(parts).agg(expr("graft_theta(id)"))
        .collect()(0).getAs[Array[Byte]](0).toSeq
    // k-smallest-of-union is order-free, so the SERIALIZED sketch (not
    // just the estimate) must be bit-identical however the map side split
    assert(bytes(1) == bytes(16))
  }

  test("intersection: exact when both sketches are exact-mode") {
    // [0, 2000) ∩ [1000, 3500) = [1000, 2000): 1000 common values
    val a = spark.range(0, 2000).toDF("id")
      .agg(expr("graft_theta(id)").as("a"))
    val b = spark.range(1000, 3500).toDF("id")
      .agg(expr("graft_theta(id)").as("b"))
    val est = a.crossJoin(b)
      .select(expr("graft_theta_intersect(a, b)")).collect()(0).getLong(0)
    assert(est == 1000L, s"est=$est")
  }

  test("intersection estimate within 15% when both sides saturate k") {
    // [0, 60k) ∩ [30k, 100k) = 30k common of 60k/70k distinct per side;
    // both sketches saturate k = 4096 → θ-restricted estimate. σ for the
    // intersection scales like 1/√(k·overlap-fraction) ≈ 2.5% here; 15%
    // is a 6σ deterministic-input bound.
    val a = spark.range(0, 60000).toDF("id")
      .agg(expr("graft_theta(id)").as("a"))
    val b = spark.range(30000, 100000).toDF("id")
      .agg(expr("graft_theta(id)").as("b"))
    val est = a.crossJoin(b)
      .select(expr("graft_theta_intersect(a, b)")).collect()(0).getLong(0)
    assert(math.abs(est - 30000L).toDouble / 30000.0 <= 0.15, s"est=$est")
  }

  test("disjoint sets intersect to zero") {
    val a = spark.range(0, 5000).toDF("id").agg(expr("graft_theta(id)").as("a"))
    val b = spark.range(5000, 10000).toDF("id").agg(expr("graft_theta(id)").as("b"))
    val est = a.crossJoin(b)
      .select(expr("graft_theta_intersect(a, b)")).collect()(0).getLong(0)
    assert(est == 0L)
  }

  test("sketches survive a parquet round-trip (the sketch-table path)") {
    val dir = tmpDir("graft_theta_table")
    Tables(spark, sfDir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(expr("graft_theta(o_custkey)").as("sk"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
    val back = spark.read.parquet(dir)
    val viaTable = back.filter(col("yr") === 1996)
      .select(expr("graft_theta_est(sk)")).collect()(0).getLong(0)
    val direct = Tables(spark, sfDir, "orders")
      .filter(year(col("o_orderdate")) === 1996)
      .agg(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    // exact mode at this sf: stored-sketch answer equals the true count
    assert(viaTable == direct, s"$viaTable != $direct")
  }
}
