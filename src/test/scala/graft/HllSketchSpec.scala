package graft

import org.apache.spark.sql.functions._

/** HLL sketch accuracy and merge semantics. */
class HllSketchSpec extends SparkSpec {

  test("within 5% of exact on 1k / 10k / 100k distinct longs") {
    for (n <- Seq(1000L, 10000L, 100000L)) {
      val est = spark.range(n).toDF("id")
        .agg(expr("graft_hll(id)")).collect()(0).getLong(0)
      assert(math.abs(est - n).toDouble / n <= 0.05, s"n=$n est=$est")
    }
  }

  test("estimate is invariant under partitioning (merge correctness)") {
    val df = spark.range(50000).toDF("id")
    val one = df.repartition(1).agg(expr("graft_hll(id)")).collect()(0).getLong(0)
    val many = df.repartition(16).agg(expr("graft_hll(id)")).collect()(0).getLong(0)
    assert(one == many, s"$one != $many")
  }

  test("duplicates don't inflate the estimate") {
    val df = spark.range(1000).toDF("id")
    val single = df.agg(expr("graft_hll(id)")).collect()(0).getLong(0)
    val dup = df.union(df).union(df)
      .agg(expr("graft_hll(id)")).collect()(0).getLong(0)
    assert(single == dup)
  }

  test("grouped sketch tracks exact per group") {
    val li = Tables(spark, sfDir, "lineitem")
    val rows = li.groupBy(col("l_returnflag")).agg(
      countDistinct(col("l_partkey")).as("exact"),
      expr("graft_hll(l_partkey)").as("est")).collect()
    rows.foreach { r =>
      val exact = r.getLong(1); val est = r.getLong(2)
      assert(math.abs(est - exact).toDouble / exact <= 0.05,
        s"${r.getString(0)}: exact=$exact est=$est")
    }
  }
}
