package graft

import org.apache.spark.sql.functions._

/** Bloom membership sketch: the no-false-negative contract, a sane
  * false-positive rate at the designed bits-per-key, merge/partitioning
  * invariance of the serialized bytes, and codegen survival of the
  * probe expression (it is designed to sit inside a scan's whole-stage
  * loop). */
class BloomSpec extends SparkSpec {

  private def bloomOf(df: org.apache.spark.sql.DataFrame,
      bits: Int = 65536, hashes: Int = 7) = {
    df.agg(expr(s"graft_bloom(id, $bits, $hashes)").as("bf"))
  }

  test("no false negatives: every inserted key probes true") {
    val keys = spark.range(4000).toDF("id")
    val misses = keys.crossJoin(broadcast(bloomOf(keys)))
      .filter(!expr("graft_bloom_contains(bf, id)")).count()
    assert(misses == 0, s"$misses false negatives — contract broken")
  }

  test("false-positive rate near theory at 16 bits/key") {
    // 4096 keys in 65536 bits, 7 hashes: fpp = (1-e^(-kn/m))^k ≈ 0.07%
    // ⇒ ~70 expected in 100k disjoint probes; 4× slack for hash luck.
    // This bound is the regression tripwire for the low-entropy h2 bug
    // (a second hash whose low bits depend only on h1's low bits probes
    // 6% here — two orders of magnitude over theory)
    val inserted = spark.range(4096).toDF("id")
    val probes = spark.range(1000000, 1100000).toDF("id")
    val fp = probes.crossJoin(broadcast(bloomOf(inserted)))
      .filter(expr("graft_bloom_contains(bf, id)")).count()
    assert(fp <= 280, s"$fp false positives in 100k probes (theory ~70)")
  }

  test("serialized filter is invariant under partitioning (merge order)") {
    val df = spark.range(50000).toDF("id")
    def bytes(parts: Int): Seq[Byte] =
      df.repartition(parts).agg(expr("graft_bloom(id, 262144, 7)"))
        .collect()(0).getAs[Array[Byte]](0).toSeq
    // bitwise OR is order-free ⇒ bit-identical bytes however map-side split
    assert(bytes(1) == bytes(16))
  }

  test("string probes share value identity with the build side") {
    val words = spark.range(2000).selectExpr("concat('tok_', id) AS w")
    val bf = words.agg(expr("graft_bloom(w, 65536, 7)").as("bf"))
    val missed = words.crossJoin(broadcast(bf))
      .filter(!expr("graft_bloom_contains(bf, w)")).count()
    assert(missed == 0)
  }

  test("the probe filter stays inside whole-stage codegen") {
    val bf = spark.range(100).toDF("id")
      .agg(expr("graft_bloom(id, 4096, 5)").as("bf"))
    val probed = spark.range(10000).toDF("id")
      .crossJoin(broadcast(bf))
      .filter(expr("graft_bloom_contains(bf, id)"))
    // execute THIS DataFrame first so AQE finalizes the plan we inspect
    // (the GraphSpec collect-then-read pattern)
    assert(probed.collect().length == 100)
    // a CodegenFallback expression would sever the codegen span around
    // the probe: the operator evaluating graft_bloom_contains must carry
    // the `*(n)` whole-stage-codegen marker in the finalized plan
    val plan = probed.queryExecution.executedPlan.toString
    val probeLine = plan.split("== Initial Plan ==").head.linesIterator
      .find(_.contains("graft_bloom_contains")).getOrElse("")
    assert(probeLine.replaceFirst("^[\\s:+-]*", "").startsWith("*("),
      s"probe runs outside codegen: $probeLine")
  }
}
