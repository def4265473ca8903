package graft

import org.apache.spark.sql.functions._
import scala.util.Random

/** Randomized (fixed-seed) properties for the custom primitives — the
  * cases hand-written examples miss: dense random inputs, ties, and
  * boundary bit patterns. */
class PropertySpec extends SparkSpec {

  test("largest-remainder apportionment: random weights always sum to the " +
    "budget with quotas within one slot") {
    import spark.implicits._
    val rnd = new Random(7)
    // adversarial weight sets: ties, zeros, one dominant source
    val cases = Seq(
      Seq.fill(20)(rnd.nextLong(1L << 40) + 1),
      Seq.fill(7)(1000L), // all tied — remainder rank falls to the name
      // weights stay under 2^40: N·w must fit a LONG (the query's
      // documented sf-bounded form; DECIMAL(38,0) is the 100 TB form)
      Seq(0L, 0L, 5L, 1L << 40),
      Seq(1L))
    for ((ws, ci) <- cases.zipWithIndex) {
      val n = 100000L
      val df = ws.zipWithIndex
        .map { case (w, i) => (f"s$i%03d", w) }.toDF("source", "chars")
      val tot = df.agg(org.apache.spark.sql.functions.sum(col("chars"))
        .as("w"))
      val q = df.crossJoin(org.apache.spark.sql.functions.broadcast(tot))
        .select(col("source"), col("chars"),
          org.apache.spark.sql.functions.expr(s"($n * chars) div w")
            .as("quota"),
          (org.apache.spark.sql.functions.lit(n) * col("chars") % col("w"))
            .as("rem"))
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      val got = q.select(col("source"), col("chars"), col("quota"),
          org.apache.spark.sql.functions.row_number()
            .over(all.orderBy(col("rem").desc, col("source"))).as("rk"),
          (org.apache.spark.sql.functions.lit(n) -
            org.apache.spark.sql.functions.sum(col("quota")).over(all))
            .as("leftover"))
        .select(col("source"), col("chars"),
          (col("quota") + org.apache.spark.sql.functions
            .when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("alloc"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val w = ws.sum
      assert(got.map(_._3).sum == n, s"case $ci: budget")
      got.foreach { case (src, chars, alloc) =>
        val exact = n.toDouble * chars / w
        assert(alloc >= math.floor(exact).toLong &&
          alloc <= math.floor(exact).toLong + 1,
          s"case $ci $src: $alloc vs exact $exact")
      }
    }
  }

  test("zValue interleave is invertible on random 21-bit points") {
    import spark.implicits._
    val rnd = new Random(42)
    val pts = Seq.fill(5000)((rnd.nextLong(1L << 21), rnd.nextLong(1L << 21)))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.sources.Layout.zValue(col("x"), col("y")).as("z"))
      .collect()
    def unX(z: Long) = (0 until 21).map(i => ((z >>> (2 * i)) & 1L) << i).sum
    def unY(z: Long) = (0 until 21).map(i => ((z >>> (2 * i + 1)) & 1L) << i).sum
    got.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(unX(z) == x && unY(z) == y, s"($x,$y) -> $z")
    }
  }

  test("zValue orders nearby points nearby (locality smoke)") {
    import spark.implicits._
    // the z-curve's defining property in miniature: sorting a grid by
    // zValue puts each quadrant's points in one contiguous run
    val grid = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val sorted = grid.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.sources.Layout.zValue(col("x"), col("y")).as("z"))
      .orderBy(col("z")).collect()
    val firstQuarter = sorted.take(256).map(r => (r.getLong(0), r.getLong(1)))
    assert(firstQuarter.forall { case (x, y) => x < 16 && y < 16 },
      "first z-quarter of a 32x32 grid must be exactly the (0..15,0..15) quadrant")
  }

  test("capByDf equals the literal df filter on random (doc, key) data") {
    import spark.implicits._
    import graft.operators.Dedup
    // random doc→key incidence with a few deliberately hot keys; keys
    // distinct per doc (capByDf's contract). Oracle: count dfs on the
    // driver and filter literally.
    val rnd = new Random(7)
    val rows = (0L until 400L).flatMap { doc =>
      val nKeys = 1 + rnd.nextInt(6)
      val keys = Seq.fill(nKeys)(
        if (rnd.nextInt(4) == 0) rnd.nextLong(3) // hot: keys 0..2
        else 100 + rnd.nextLong(500)).distinct
      keys.map(k => (doc, k))
    }
    val df = rows.toDF("doc_id", "sid")
    for (cap <- Seq(1, 5, 50, Int.MaxValue)) {
      val got = Dedup.capByDf(df, "sid", cap)
        .select(col("doc_id"), col("sid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dfCounts = rows.groupBy(_._2).view.mapValues(_.size)
      val expect = rows.filter { case (_, k) => dfCounts(k) <= cap }.toSet
      assert(got == expect, s"cap=$cap: ${got.size} vs ${expect.size}")
    }
  }

  test("connectedComponents equals union-find on random graphs") {
    import spark.implicits._
    // arbitrary topologies (many small components, a few giants, dense
    // overlap) — the failure modes the hand-written chain/triangle
    // graphs can't surface. Oracle: classic driver-side union-find.
    val rnd = new Random(11)
    for (trial <- 0 until 3) {
      val n = 60 + trial * 40 // node universe grows per trial
      val edges = Seq.fill(n)((rnd.nextLong(n), rnd.nextLong(n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val comps = nodes.groupBy(find) // min-root ⇒ component = min node id
      val expected = nodes.map(v =>
        v -> (find(v), comps(find(v)).size.toLong)).toMap
      val got = graft.operators.Dedup
        .connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == expected,
        s"trial $trial: diff=${(got.toSet diff expected.toSet).take(5)}")
    }
  }

  test("connectedComponents restores the session shuffle-partition conf") {
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    graft.operators.Dedup
      .connectedComponents(Seq((1L, 2L)).toDF("id_a", "id_b")).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("chunkedRank equals the native window rank, NULL groups and values included") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new Random(23)
    // random groups INCLUDING NULL, random values INCLUDING NULL, unique
    // tie-break id — the latent cases a non-null benchmark table never
    // exercises: NULL group keys must survive the null-safe joins and
    // NULL values must rank first, exactly like the native window
    val rows = (0L until 500L).map { id =>
      val g = rnd.nextInt(4) match {
        case 0 => null
        case k => s"g$k"
      }
      val v = if (rnd.nextInt(10) == 0) null
              else java.lang.Double.valueOf(rnd.nextInt(50).toDouble)
      (g, v, id)
    }
    val df = rows.toDF("g", "v", "id")
    val got = graft.operators.Analytics.chunkedRank(df, "g", "v", Seq("id"))
      .select(col("g"), col("v"), col("id"), col("idx"), col("n"))
    val w = Window.partitionBy(col("g"))
      .orderBy(col("v").asc_nulls_first, col("id").asc_nulls_first)
    val native = df
      .withColumn("idx", row_number().over(w).cast("long") - 1)
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("g"))))
    assert(got.exceptAll(native).count() == 0 &&
      native.exceptAll(got).count() == 0,
      got.exceptAll(native).collect().take(5).mkString("\n"))
  }

  test("chunkedRank survives 60-bit long spans at 32 shuffle partitions " +
    "(the ANSI-overflow regression)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the r7 bug: (value − min) · parts in LONG overflows once
    // span · parts ≥ 2^63 — only visible at bench parallelism (32),
    // never at the spec/verify default (4). Pin it at both extremes of
    // the 60-bit hash-key range plus random fill.
    val rnd = new Random(31)
    val keys = Seq(0L, (1L << 60) - 1, 1L, (1L << 60) - 2) ++
      Seq.fill(500)(rnd.nextLong(1L << 60))
    val df = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("key", "id")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val got = graft.operators.Analytics
        .chunkedRank(df.withColumn("g", lit("all")), "g", "key", Seq("id"))
        .select(col("key"), col("id"), col("idx"))
      val w = Window.partitionBy(col("g"))
        .orderBy(col("key"), col("id"))
      val native = df.withColumn("g", lit("all"))
        .withColumn("idx", row_number().over(w).cast("long") - 1)
        .select(col("key"), col("id"), col("idx"))
      assert(got.exceptAll(native).count() == 0 &&
        native.exceptAll(got).count() == 0)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("interval union matches a sequential merge on random intervals") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the q_interval_union island pattern over adversarial intervals:
    // duplicates, containment, exact-touch (s == prev end merges),
    // multiple users
    val rnd = new Random(11)
    val rows = (0L until 800L).map { id =>
      val u = rnd.nextInt(5).toLong
      val s = rnd.nextInt(1000).toLong
      val e = s + 1 + rnd.nextInt(50)
      (u, id, s, e)
    }
    val df = rows.toDF("user_id", "event_id", "s", "e")
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
    val prevMax = max(col("e"))
      .over(order.rowsBetween(Window.unboundedPreceding, -1))
    val got = df.withColumn("prev_max", prevMax)
      .withColumn("island",
        sum(when(col("prev_max").isNull || col("s") > col("prev_max"), 1)
          .otherwise(0))
          .over(order.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg((max(col("e")) - min(col("s"))).as("cov"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"), sum(col("cov")).as("covered"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    rows.groupBy(_._1).foreach { case (u, rs) =>
      var islands = List.empty[(Long, Long)]
      rs.map(t => (t._3, t._4)).sorted.foreach { case (s0, e0) =>
        islands match {
          case (a, b) :: tail if s0 <= b =>
            islands = (a, math.max(b, e0)) :: tail
          case _ => islands = (s0, e0) :: islands
        }
      }
      assert(got(u) == ((islands.length.toLong,
        islands.map(i => i._2 - i._1).sum)), s"user $u")
    }
  }

  test("binned interval join equals the nested-loop join on random timestamps") {
    import spark.implicits._
    // random event times INCLUDING exact bin-boundary and exact
    // range-boundary gaps — the off-by-one cases the real events table
    // may never hit. Property: bin(candidates) ∩ exact-filter ≡ plain
    // non-equi join, for bin width = range width.
    val rnd = new Random(7)
    val binUs = 600L // tiny bins so boundaries are dense
    val rows = Seq.fill(4000) {
      val user = rnd.nextLong(20)
      // cluster times so in-range pairs are common; multiples of 100
      // make exact-boundary gaps (0, 600) likely
      val t = rnd.nextLong(50) * 100L + rnd.nextLong(3)
      (user, t, if (rnd.nextBoolean()) "click" else "purchase")
    }
    val df = rows.toDF("user_id", "t_us", "kind").cache()
    val c = df.filter(col("kind") === "click")
      .select(col("user_id"), col("t_us").as("c_t"))
    val p = df.filter(col("kind") === "purchase")
      .select(col("user_id").as("p_user"), col("t_us").as("p_t"))
    val exact = c.join(p,
      col("user_id") === col("p_user") &&
        col("p_t") > col("c_t") && col("p_t") <= col("c_t") + binUs)
      .select(col("user_id"), col("c_t"), col("p_t"))
    val binned = c.withColumn("c_bin", expr(s"c_t div $binUs"))
      .join(
        p.withColumn("p_bin0", expr(s"p_t div $binUs"))
          .withColumn("p_bin",
            explode(array(col("p_bin0"), col("p_bin0") - 1))),
        col("user_id") === col("p_user") &&
          col("c_bin") === col("p_bin") &&
          col("p_t") > col("c_t") && col("p_t") <= col("c_t") + binUs)
      .select(col("user_id"), col("c_t"), col("p_t"))
    assert(exact.exceptAll(binned).count() == 0 &&
      binned.exceptAll(exact).count() == 0)
    df.unpersist()
  }

  test("WAV encode→decode roundtrip recovers exact stats on random signals") {
    import graft.operators.Multimodal
    val rnd = new Random(23)
    // adversarial shapes: empty-ish, mono/stereo/5.1, extreme samples
    val cases = (0 until 40).map { i =>
      val ch = Seq(1, 2, 6)(rnd.nextInt(3))
      val frames = rnd.nextInt(200) + 1
      val rate = Seq(8000, 16000, 44100, 48000)(rnd.nextInt(4))
      val samples = Array.fill[Short](frames * ch)(
        if (rnd.nextInt(10) == 0)
          Seq(Short.MinValue, Short.MaxValue, 0.toShort)(rnd.nextInt(3))
        else rnd.nextInt(65536).toShort)
      (i, rate, ch, frames, samples)
    }
    cases.foreach { case (i, rate, ch, frames, samples) =>
      val d = Multimodal.decodeWav(Multimodal.encodeWav(rate, ch, samples))
      assert(d.sample_rate == rate && d.channels == ch
        && d.n_frames == frames, s"case $i: $d")
      assert(d.dur_ms == frames.toLong * 1000 / rate, s"case $i dur")
      assert(d.sample_sum == samples.map(_.toLong).sum, s"case $i sum")
      val peak = if (samples.isEmpty) 0
        else samples.map(v => math.abs(v.toInt)).max
      assert(d.peak == peak, s"case $i peak ${d.peak} want $peak")
    }
  }

  test("PNG encode→decode roundtrip on random images and filter plans") {
    import graft.operators.Multimodal
    val rnd = new Random(31)
    (0 until 30).foreach { i =>
      val w = rnd.nextInt(24) + 1
      val h = rnd.nextInt(16) + 1
      val pix = Array.fill(w * h * 3)(rnd.nextInt(256))
      // random per-row filter choice: every decode must reconstruct the
      // same bytes regardless of the encoder's filter plan
      val filters = Array.fill(h)(rnd.nextInt(5))
      val png = Multimodal.encodePng(w, h, pix(_), filters(_))
      val (dw, dh, sum) = Multimodal.decodePng(png)
      assert(dw == w && dh == h, s"case $i dims")
      assert(sum == pix.map(_.toLong).sum, s"case $i checksum (filters " +
        s"${filters.mkString(",")})")
    }
  }

  test("Jaro-Winkler invariants on random byte strings") {
    import graft.functions.JaroWinkler
    val rnd = new Random(37)
    def randStr(): Array[Byte] =
      Array.fill(rnd.nextInt(16))((rnd.nextInt(26) + 'a').toByte)
    (0 until 300).foreach { i =>
      val a = randStr(); val b = randStr()
      val j = JaroWinkler.jaro(a, b)
      val w = JaroWinkler.similarity(a, b)
      assert(j >= 0.0 && j <= 1.0 && w >= 0.0 && w <= 1.0, s"case $i range")
      assert(w + 1e-15 >= j, s"case $i: winkler bonus must not reduce")
      // symmetry of jaro (winkler prefix is symmetric too)
      assert(JaroWinkler.jaro(b, a) == j, s"case $i symmetry")
      assert(JaroWinkler.similarity(b, a) == w, s"case $i symmetry w")
      if (a.nonEmpty) {
        assert(JaroWinkler.similarity(a, a) == 1.0, s"case $i identity")
      }
    }
  }

  test("PPM and BMP encode→decode roundtrip on random images, including " +
    "padding-sensitive widths") {
    import graft.operators.Multimodal
    val rnd = new Random(29)
    (0 until 30).foreach { i =>
      // widths 1..9 hit every BMP 4-byte row-padding residue
      val w = rnd.nextInt(9) + 1
      val h = rnd.nextInt(9) + 1
      val pix = Array.fill(w * h * 3)(rnd.nextInt(256))
      val expect = pix.map(_.toLong).sum
      val (pw, ph, _, ps) = Multimodal.decodePpm(
        Multimodal.encodePpm(w, h, k => pix(k)))
      assert((pw, ph, ps) == ((w, h, expect)), s"ppm case $i")
      // weighted checksum ground truth over the logical top-down stream
      val expectW = pix.zipWithIndex.map {
        case (v, k) => (k + 1).toLong * v
      }.sum
      val td = i % 2 == 0
      val (bw, bh, btd, bs, bws) = Multimodal.decodeBmp(
        Multimodal.encodeBmp(w, h, k => pix(k), topDown = td))
      assert((bw, bh, btd, bs, bws) == ((w, h, td, expect, expectW)),
        s"bmp case $i (topDown=$td)")
    }
  }

  test("graft_topk equals sort-take-k on random scores, ties included") {
    import spark.implicits._
    val rnd = new Random(7)
    // coarse scores force ties so the id tie-break is exercised
    val rows = Seq.fill(500)(
      (rnd.nextInt(3).toLong, rnd.nextInt(20).toDouble, rnd.nextLong(1000)))
    val df = rows.toDF("g", "score", "id").cache()
    val got = df.groupBy(col("g"))
      .agg(expr("graft_topk(score, id, 5)").as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("pos"), col("col.score"), col("col.id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val naive = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val top = rs.map(r => (r._2, r._3))
        .sortBy { case (s, i) => (-s, i) }.take(5)
      top.zipWithIndex.map { case ((s, i), pos) => (g, pos, s, i) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == naive, s"got=${got.toSeq}\nnaive=$naive")
  }

  test("header kernels round-trip random parameters (TIFF both orders, " +
    "FLAC bit boundaries, ZIP via the JDK writer)") {
    import graft.operators.Multimodal._
    val rnd = new Random(41)
    (1 to 60).foreach { _ =>
      // TIFF: random geometry/depth under both byte orders
      val (w, h) = (rnd.nextInt(70000) + 1, rnd.nextInt(70000) + 1)
      val bits = Seq(1, 8, 16, 24, 32)(rnd.nextInt(5))
      val be = rnd.nextBoolean()
      val strip = rnd.nextInt(200)
      val tf = decodeTiffMeta(encodeTiff(w, h, bits, be, strip))
      assert((tf.width, tf.height, tf.bits, tf.big_endian,
        tf.n_strip_bytes) == ((w, h, bits, be, strip)))
      // FLAC: random rates up to the 20-bit ceiling, 36-bit totals
      val rate = rnd.nextInt((1 << 20) - 1) + 1
      val ch = rnd.nextInt(8) + 1
      val bps = rnd.nextInt(32) + 1
      val total = math.abs(rnd.nextLong()) % (1L << 36)
      val fl = decodeFlacStreamInfo(
        encodeFlacShell(rate, ch, bps, total, rnd.nextInt(100)))
      assert((fl.sample_rate, fl.channels, fl.bits, fl.total_samples) ==
        ((rate, ch, bps, total)))
      // ZIP: random member counts through the independent JDK writer
      val id = math.abs(rnd.nextLong()) % 100000
      val n = rnd.nextInt(6) + 1
      val z = decodeZipDirectory(encodeZip(id, n))
      assert(z.n_entries == n && z.all_stored)
      assert(z.total_uncompressed ==
        (0 until n).map(k => (id % 17) + 3 + k).sum)
      // MP4: random brand/timescale/duration through the box walk
      val brand = Seq("mp41", "avc1", "dash", "hev1")(rnd.nextInt(4))
      val ts = rnd.nextInt(100000) + 1
      val dur = math.abs(rnd.nextLong()) % (1L << 32)
      val mp = decodeMp4Meta(encodeMp4Shell(brand, ts, dur,
        rnd.nextInt(80)))
      assert((mp.brand, mp.timescale, mp.duration_ms) ==
        ((brand, ts.toLong, dur * 1000L / ts)))
    }
  }
}
