package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bounded top-k aggregate must agree exactly with the ranking-window
  * formulation, and be invariant to partitioning (merge correctness). */
class TopKSpec extends SparkSpec {

  test("agrees with the ranking window on real data") {
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val viaAgg = o.groupBy(col("o_custkey"))
      .agg(expr("graft_topk(o_totalprice, o_orderkey, 3)").as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col.id").as("o_orderkey"),
        (col("pos") + 1).as("rnk"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val viaWindow = o
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
    assert(viaAgg.exceptAll(viaWindow).count() == 0
      && viaWindow.exceptAll(viaAgg).count() == 0)
  }

  test("invariant under partitioning") {
    val o = Tables(spark, sfDir, "orders")
    def run(parts: Int) = o.repartition(parts)
      .agg(expr("graft_topk(o_totalprice, o_orderkey, 10)").as("top"))
      .select(explode(col("top"))).collect().map(_.toString).toSeq
    assert(run(1) == run(13))
  }

  test("rejects bad input types and k < 1 at analysis time") {
    import spark.implicits._
    val df = Seq((1.0, 5L)).toDF("s", "i")
    intercept[Exception] {
      df.agg(expr("graft_topk(s, i, 0)")).collect()
    }
    val intIds = Seq((1.0, 5)).toDF("s", "i")
    intercept[Exception] {
      intIds.agg(expr("graft_topk(s, i, 2)")).collect()
    }
  }

  test("tie-break prefers the smaller id") {
    import spark.implicits._
    val df = Seq((1.0, 5L), (1.0, 2L), (1.0, 9L)).toDF("s", "i")
    val top = df.agg(expr("graft_topk(s, i, 2)").as("t"))
      .select(explode(col("t"))).collect().map(_.getStruct(0).getLong(1))
    assert(top.sameElements(Array(2L, 5L)))
  }
}
