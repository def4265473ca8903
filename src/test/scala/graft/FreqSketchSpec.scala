package graft

import graft.functions.FreqSketch
import org.apache.spark.sql.functions._
import scala.util.Random

/** Space-saving heavy-hitter invariants: for every tracked item,
  * `count - err <= true <= count`, and any item with true frequency
  * above n/m must be present — under arbitrary partition splits and
  * merge orders, which is exactly what Spark's partial aggregation does
  * to the summary. */
class FreqSketchSpec extends SparkSpec {

  private def zipfStream(n: Int, seed: Int): Seq[String] = {
    val rnd = new Random(seed)
    // ~zipf: item k with weight 1/(k+1); a few heavy heads, long tail
    Seq.fill(n) {
      val u = rnd.nextDouble()
      val k = math.min((1.0 / (u + 0.02) - 1).toInt, 400)
      s"item$k"
    }
  }

  test("invariants hold under random partition splits and merge orders") {
    val rnd = new Random(3)
    for (trial <- 0 until 5) {
      val stream = zipfStream(20000 + trial * 7000, seed = 100 + trial)
      val truth = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val m = 16
      // split into random partitions, build one summary each, merge in
      // shuffled order — the distributed execution shape
      val parts = stream.grouped(1 + rnd.nextInt(4000)).toSeq
      val summaries = parts.map { p =>
        val s = new FreqSketch.Summary(m)
        p.foreach(s.insert)
        s
      }
      val merged = rnd.shuffle(summaries).reduce { (a, b) => a.mergeIn(b); a }
      val n = stream.size.toLong
      merged.entries.foreach { case (item, (c, e)) =>
        val t = truth.getOrElse(item, 0L)
        assert(t <= c, s"underestimate: $item true=$t est=$c")
        assert(c - e <= t, s"lower bound broken: $item true=$t est=$c err=$e")
      }
      truth.filter(_._2 > n / m).keys.foreach { heavy =>
        assert(merged.entries.contains(heavy),
          s"heavy item $heavy (true=${truth(heavy)}, n/m=${n / m}) missing")
      }
    }
  }

  test("Spark aggregate: heavy items reported with valid bounds") {
    import spark.implicits._
    val stream = zipfStream(30000, seed = 9)
    val df = stream.toDF("tok").repartition(8)
    val sketch = df.agg(expr("graft_freq(tok, 16)").as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.item"), col("e.count"), col("e.err"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val truth = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n = stream.size.toLong
    sketch.foreach { case (item, (c, e)) =>
      val t = truth.getOrElse(item, 0L)
      assert(t <= c && c - e <= t, s"$item true=$t est=$c err=$e")
    }
    truth.filter(_._2 > n / 16).keys.foreach { heavy =>
      assert(sketch.contains(heavy), s"heavy $heavy missing from sketch")
    }
    assert(sketch.size <= 16)
  }
}
