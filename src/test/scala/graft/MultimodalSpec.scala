package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

/** Multimodal plumbing: the binary-column batch shape and the stubbed
  * per-partition decode kernel. */
class MultimodalSpec extends SparkSpec with TimeLimits {

  /** `body` on its own daemon thread, failed after 30 s: a decoder
    * that loops on corrupt input fails its test at the limit instead of
    * stalling the suite (the stuck thread cannot be stopped, only left,
    * so it gets a thread of its own rather than a shared pool's). */
  private def bounded[T](body: => T): T = {
    import scala.concurrent.{Await, Promise}
    import scala.concurrent.duration.Duration
    implicit val signaler: Signaler = ThreadSignaler
    val result = Promise[T]()
    val t = new Thread(() => result.complete(scala.util.Try(body)))
    t.setDaemon(true); t.start()
    failAfter(Span(30, Seconds))(Await.result(result.future, Duration.Inf))
  }

  /** `b` with the 32-bit size field at `at` set to 0xFFFFFFF8 (-8 as
    * an Int: a step of 8 + size would never move forward). */
  private def sizeMinus8(b: Array[Byte], at: Int): Array[Byte] = {
    val c = b.clone()
    c(at) = 0xf8.toByte; c(at + 1) = 0xff.toByte
    c(at + 2) = 0xff.toByte; c(at + 3) = 0xff.toByte
    c
  }

  test("real PPM decode recovers encoded dimensions and exact pixel sum") {
    import spark.implicits._
    // dimensions that exercise 1-wide, 1-tall, and non-square shapes
    val shapes = Seq((1L, 1, 1), (2L, 7, 3), (3L, 1, 5), (4L, 16, 9))
    val assets = shapes.toDS().map { case (id, w, h) =>
      (id, Multimodal.encodePpm(w, h, k => (id * 31 + k).toInt))
    }
    val out = Multimodal.decodeImage(assets).collect().sortBy(_.doc_id).toSeq
    shapes.foreach { case (id, w, h) =>
      val d = out.find(_.doc_id == id).get
      assert(d.fmt == "ppm" && d.width == w && d.height == h)
      val expect = (0 until w * h * 3).map(k => (id * 31 + k) & 0xff).sum
      assert(d.n_pix_bytes == w.toLong * h * 3 && d.pix_sum == expect,
        s"id=$id got ${d.pix_sum} want $expect")
    }
  }

  test("real BMP decode honors row padding and little-endian headers") {
    import spark.implicits._
    // w=3 → rowBytes 12 (3 pad bytes/row); w=4 → no padding: both must
    // produce the same pixel sum formula, or the decoder is counting pad
    val assets = Seq((10L, 3, 2), (11L, 4, 2)).toDS().map { case (id, w, h) =>
      (id, Multimodal.encodeBmp(w, h, k => k + 1))
    }
    val out = Multimodal.decodeImage(assets).collect().sortBy(_.doc_id).toSeq
    Seq((10L, 3, 2), (11L, 4, 2)).foreach { case (id, w, h) =>
      val d = out.find(_.doc_id == id).get
      val expect = (1 to w * h * 3).sum.toLong
      assert(d.fmt == "bmp" && d.width == w && d.height == h
        && d.pix_sum == expect, s"id=$id got $d want sum=$expect")
    }
  }

  test("mu-law codec: codeword idempotence, monotone reconstruction, " +
    "and the per-segment error bound") {
    import graft.operators.Multimodal.{mulawDecode, mulawEncode}
    // silence encodes to the canonical 0xFF
    assert(mulawEncode(0) == 0xff)
    // every codeword is a fixed point of decode->encode EXCEPT 0x7F:
    // negative zero collapses onto positive zero (the G.711 quirk)
    (0 until 256).filter(_ != 0x7f).foreach { b =>
      assert(mulawEncode(mulawDecode(b)) == b, f"codeword 0x$b%02x")
    }
    assert(mulawDecode(0x7f) == 0 && mulawEncode(mulawDecode(0x7f)) == 0xff)
    // reconstruction is monotone non-decreasing in the input and the
    // error stays inside the sample's exponent segment step
    var prev = Int.MinValue
    (-32768 to 32767 by 7).foreach { s =>
      val d = mulawDecode(mulawEncode(s))
      assert(d >= prev, s"non-monotone at $s")
      prev = d
      val a = math.min(math.abs(s), 32635) + 132
      var e = 7
      while (e > 0 && a < (1 << (e + 7))) e -= 1
      assert(math.abs(math.min(math.max(s, -32635), 32635) - d)
        <= (8 << e), s"error bound broken at $s")
    }
  }

  test("A-law codec: all 256 codewords are decode-encode fixed points, " +
    "reconstruction is monotone, error bounded by half a segment step") {
    import graft.operators.Multimodal.{alawDecode, alawEncode}
    // A-law's folded negatives (-s-1) give every codeword a distinct
    // midpoint — no negative-zero collapse, all 256 are fixed points
    (0 until 256).foreach { b =>
      assert(alawEncode(alawDecode(b)) == b, f"codeword 0x$b%02x")
    }
    var prev = Int.MinValue
    (-4096 to 4095).foreach { s =>
      val d = alawDecode(alawEncode(s))
      assert(d >= prev, s"non-monotone at $s")
      prev = d
      val m = if (s >= 0) s else -s - 1
      var seg = 0
      while (seg < 8 && m > ((1 << (seg + 5)) - 1)) seg += 1
      val halfStep = if (seg < 2) 1 else 1 << (seg - 1)
      assert(math.abs(s - d) <= halfStep, s"error bound broken at $s")
    }
  }

  test("IMA ADPCM: closed-loop tracking bounds per-sample error by " +
    "the step size, odd counts pack correctly, and one corrupted " +
    "nibble derails the whole tail — state sensitivity is the codec") {
    import graft.operators.Multimodal.{adpcmDecode, adpcmEncode, ImaStep}
    val rnd = new scala.util.Random(47)
    // smooth-ish signal: steps the adaptive index can track
    def signal(n: Int): Array[Int] = {
      var v = 0
      Array.fill(n) { v = math.max(-32768,
        math.min(32767, v + rnd.nextInt(2001) - 1000)); v }
    }
    for (n <- Seq(1, 2, 7, 64, 255)) { // odd AND even lengths
      val s = signal(n)
      val bytes = adpcmEncode(s)
      assert(bytes.length == (n + 1) / 2, s"packing at n=$n")
      val (dec, endIdx) = adpcmDecode(bytes, n)
      assert(dec.length == n && endIdx >= 0 && endIdx <= 88)
      // closed-loop contract: once the index has adapted, each
      // reconstruction is within ~2 steps of the CURRENT step size;
      // replay the index trajectory to know the step at each k
      var idx = 0
      var k = 0
      while (k < n) {
        val step = ImaStep(idx)
        val err = math.abs(s(k) - dec(k))
        // the quantizer resolves to step/4 granularity around the
        // predictor; a jump larger than ~2*step saturates — allow it
        // only when the input step exceeded what the quantizer covers
        val jump = math.abs(s(k) - (if (k == 0) 0 else dec(k - 1)))
        assert(err <= step * 2 + 8 || jump > 2 * step,
          s"n=$n k=$k err=$err step=$step jump=$jump")
        val b = bytes(k >> 1) & 0xff
        val nib = if ((k & 1) == 0) b & 0xf else (b >> 4) & 0xf
        idx = math.max(0, math.min(88,
          idx + graft.operators.Multimodal.ImaIndex(nib & 7)))
        k += 1
      }
    }
    // damage: flip one nibble early — the state machine never
    // resynchronizes by itself, so the tail diverges
    val s = signal(64)
    val bytes = adpcmEncode(s)
    val damaged = bytes.clone()
    damaged(2) = (damaged(2) ^ 0x04).toByte // corrupt sample 4's nibble
    val (clean, _) = adpcmDecode(bytes, 64)
    val (broken, _) = adpcmDecode(damaged, 64)
    assert(clean.take(4).toSeq == broken.take(4).toSeq,
      "samples before the corruption must be untouched")
    val diverged = (4 until 64).count(k => clean(k) != broken(k))
    assert(diverged > 30,
      s"only $diverged/60 tail samples diverged — state not propagating?")
  }

  test("Adam7 PNG: interlaced and straight encodings decode to " +
    "identical pixels, including dims where most passes are empty") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(31)
    // 1x1 keeps only pass 1; 8x8 populates all seven; odd dims hit
    // partial passes
    val dims = Seq((1, 1), (1, 2), (2, 1), (3, 3), (5, 7), (8, 8), (9, 4))
    dims.zipWithIndex.foreach { case ((w, h), i) =>
      val pix = Array.fill(w * h * 3)(rnd.nextInt(256))
      val straight = Multimodal.decodePngPixels(
        Multimodal.encodePng(w, h, pix(_)))
      val inter = Multimodal.decodePngPixels(
        Multimodal.encodePngAdam7(w, h, pix(_)))
      assert(!straight._3 && inter._3)
      assert(straight._4.toSeq == pix.map(_.toByte).toSeq, s"case $i base")
      assert(inter._4.toSeq == pix.map(_.toByte).toSeq,
        s"case $i ${w}x$h: de-interlace diverged")
    }
    // an unknown interlace method must be refused, not guessed
    val good = Multimodal.encodePngAdam7(4, 4, _ % 256)
    // IHDR data starts at offset 8 (sig) + 8 (len+tag); interlace byte
    // is its 13th data byte; patching it also breaks the CRC → reject
    val bad = good.clone()
    bad(8 + 8 + 12) = 2
    intercept[IllegalArgumentException] {
      Multimodal.decodePngPixels(bad)
    }
  }

  test("decoders reject malformed payloads instead of misreading them") {
    // truncated pixel array: header promises more bytes than present
    val good = Multimodal.encodePpm(4, 4, _ => 7)
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(good.dropRight(1))
    }
    // non-P6 magic
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm("P3\n1 1\n255\n".getBytes("US-ASCII"))
    }
    // BMP claiming a compressed encoding must be refused, not summed
    val bmp = Multimodal.encodeBmp(2, 2, _ => 1)
    bmp(30) = 1 // BI_RLE8
    intercept[IllegalArgumentException] { Multimodal.decodeBmp(bmp) }
  }

  test("frame sampling bounds rows per asset") {
    val frames = SparkEntry.queries("q_multimodal_frames")(spark, sfDir)
    val perAsset = frames.groupBy("doc_id").count()
    val mx = perAsset.agg(max("count")).collect()(0).getLong(0)
    assert(mx <= 4, s"frame explosion unbounded: $mx")
  }

  test("real WAV decode recovers format params and exact sample stats") {
    // stereo, with a negative-heavy signal: sign extension must hold
    val samples = Array[Short](0, -1, 32767, -32768, 100, -100)
    val wav = Multimodal.encodeWav(rate = 8000, channels = 2, samples)
    val d = Multimodal.decodeWav(wav)
    assert(d.fmt == "wav" && d.sample_rate == 8000 && d.channels == 2)
    assert(d.n_frames == 3 && d.dur_ms == 3 * 1000L / 8000)
    assert(d.sample_sum == samples.map(_.toLong).sum, d.toString)
    assert(d.peak == 32768, s"peak ${d.peak}")
  }

  test("WAV chunk walk skips unknown chunks and rejects malformed files") {
    // the encoder emits a LIST chunk before data; a decoder that does
    // not skip by declared size would misparse every fixture — also pin
    // an ODD-sized unknown chunk (RIFF pads to word boundaries)
    val base = Multimodal.encodeWav(16000, 1, Array[Short](5, -5, 9))
    val odd = "querX".getBytes("US-ASCII") // 5-byte payload → 1 pad byte
    val inject = new Array[Byte](base.length + 8 + odd.length + 1)
    System.arraycopy(base, 0, inject, 0, 12) // RIFF header
    // unknown chunk right after the RIFF header
    val tag = "junk".getBytes("US-ASCII")
    System.arraycopy(tag, 0, inject, 12, 4)
    inject(16) = odd.length.toByte // little-endian 5
    System.arraycopy(odd, 0, inject, 20, odd.length)
    // remaining original chunks after the padded odd chunk
    System.arraycopy(base, 12, inject, 12 + 8 + odd.length + 1,
      base.length - 12)
    // patch the RIFF size field
    val newSize = inject.length - 8
    inject(4) = (newSize & 0xff).toByte
    inject(5) = ((newSize >> 8) & 0xff).toByte
    inject(6) = ((newSize >> 16) & 0xff).toByte
    inject(7) = ((newSize >> 24) & 0xff).toByte
    val d = Multimodal.decodeWav(inject)
    assert(d.n_frames == 3 && d.sample_sum == 9 && d.peak == 9)
    // malformed: not RIFF
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav("RIFX....WAVE".getBytes("US-ASCII"))
    }
    // malformed: data chunk truncated vs its declared size
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(base.dropRight(2))
    }
    // non-PCM format code must be refused, not summed
    val bad = Multimodal.encodeWav(8000, 1, Array[Short](1))
    bad(20) = 3 // IEEE float
    intercept[IllegalArgumentException] { Multimodal.decodeWav(bad) }
    // a NEGATIVE declared chunk size must fail, not loop forever
    // (o += negative) — and a huge size must fail, not overflow the
    // int bound check and index past the array
    val neg = Multimodal.encodeWav(8000, 1, Array[Short](1, 2))
    neg(16) = 0xf8.toByte; neg(17) = 0xff.toByte
    neg(18) = 0xff.toByte; neg(19) = 0xff.toByte // fmt size = -8
    intercept[IllegalArgumentException] { Multimodal.decodeWav(neg) }
    val huge = Multimodal.encodeWav(8000, 1, Array[Short](1, 2))
    huge(16) = 0xff.toByte; huge(17) = 0xff.toByte
    huge(18) = 0xff.toByte; huge(19) = 0x7f.toByte // fmt size = MaxInt
    intercept[IllegalArgumentException] { Multimodal.decodeWav(huge) }
    // zero channels / zero rate from a malformed fmt chunk must be a
    // typed rejection, not an ArithmeticException at the division
    val zch = Multimodal.encodeWav(8000, 1, Array[Short](1))
    zch(22) = 0; zch(23) = 0 // channels = 0
    intercept[IllegalArgumentException] { Multimodal.decodeWav(zch) }
  }

  test("WAV decode accumulates across multiple data chunks consistently") {
    // two data chunks: n_frames must cover BOTH populations (matching
    // sum/peak), not last-chunk-wins
    val one = Multimodal.encodeWav(8000, 1, Array[Short](5, -3))
    val two = Multimodal.encodeWav(8000, 1, Array[Short](7))
    // append two's data chunk (last 8 + 2 bytes) to one, patching RIFF size
    val dataTwo = two.takeRight(8 + 2)
    val merged = new Array[Byte](one.length + dataTwo.length)
    System.arraycopy(one, 0, merged, 0, one.length)
    System.arraycopy(dataTwo, 0, merged, one.length, dataTwo.length)
    val sz = merged.length - 8
    merged(4) = (sz & 0xff).toByte; merged(5) = ((sz >> 8) & 0xff).toByte
    merged(6) = ((sz >> 16) & 0xff).toByte
    merged(7) = ((sz >> 24) & 0xff).toByte
    val d = Multimodal.decodeWav(merged)
    assert(d.n_frames == 3 && d.sample_sum == 9 && d.peak == 7, d.toString)
  }

  test("real PNG roundtrip survives every filter type and multi-IDAT") {
    // each shape pins one filter type on every row, plus the rotating mix;
    // 23x9 makes the zlib stream span several 64-byte IDAT chunks
    for (f <- 0 to 4; (w, h) <- Seq((1, 1), (4, 3), (23, 9))) {
      val png = Multimodal.encodePng(w, h, k => (k * 7 + 13) % 256, _ => f)
      val (dw, dh, sum) = Multimodal.decodePng(png)
      val expect = (0 until w * h * 3).map(k => (k * 7 + 13) % 256).sum.toLong
      assert(dw == w && dh == h && sum == expect,
        s"filter=$f ${w}x$h: got $sum want $expect")
    }
    val mixed = Multimodal.encodePng(5, 7, k => (k * 11) % 256, r => r % 5)
    assert(Multimodal.decodePng(mixed)._3 ==
      (0 until 5 * 7 * 3).map(k => (k * 11) % 256).sum.toLong)
  }

  test("PNG decode verifies CRCs and rejects malformed streams") {
    val png = Multimodal.encodePng(4, 4, k => k % 256, _ % 5)
    // flip one IDAT payload byte: the chunk CRC must catch it
    val corrupt = png.clone()
    val idatOff = { // first IDAT chunk: sig(8) + IHDR(12+13) bytes in
      var o = 8
      while (!"IDAT".equals(new String(corrupt, o + 4, 4, "US-ASCII"))) {
        o += 12 + (((corrupt(o) & 0xff) << 24) | ((corrupt(o + 1) & 0xff) << 16)
          | ((corrupt(o + 2) & 0xff) << 8) | (corrupt(o + 3) & 0xff))
      }
      o + 8
    }
    corrupt(idatOff) = (corrupt(idatOff) ^ 0x40).toByte
    intercept[IllegalArgumentException] { Multimodal.decodePng(corrupt) }
    // bad signature
    intercept[IllegalArgumentException] {
      Multimodal.decodePng("notapng!".getBytes("US-ASCII"))
    }
    // truncated mid-chunk
    intercept[IllegalArgumentException] {
      Multimodal.decodePng(png.dropRight(20))
    }
    // IDAT shorter than the scanline geometry requires: 2x2 pixel data
    // presented under a 4x4 header must fail the inflate-size check, not
    // sum garbage
    val small = Multimodal.encodePng(2, 2, k => k % 256, _ => 0)
    val resized = small.clone()
    // IHDR data starts at offset 16: patch width/height 2→4 and fix CRC
    resized(19) = 4; resized(23) = 4
    val crc = new java.util.zip.CRC32()
    crc.update(resized, 12, 4 + 13)
    val cv = crc.getValue.toInt
    resized(29) = (cv >>> 24).toByte; resized(30) = (cv >>> 16).toByte
    resized(31) = (cv >>> 8).toByte; resized(32) = cv.toByte
    intercept[IllegalArgumentException] { Multimodal.decodePng(resized) }
  }

  test("JPEG sniff reads SOF dims through skipped segments and stuffing") {
    // 16-bit dims, entropy filler containing 0xFF runs (stuffed by the
    // encoder), both baseline and progressive SOFs
    for ((w, h, prog) <- Seq((816, 316, false), (1, 1, true), (65535, 2, true))) {
      val entropy = Array.tabulate[Byte](64)(k =>
        if (k % 3 == 0) 0xff.toByte else (k * 7).toByte)
      val jpg = Multimodal.encodeJpegShell(w, h, prog, entropy)
      val (dw, dh, dp, nc) = Multimodal.decodeJpegDims(jpg)
      assert(dw == w && dh == h && dp == prog && nc == 3,
        s"${w}x$h prog=$prog got ${dw}x$dh prog=$dp")
    }
    // restart markers inside entropy data must not terminate the scan:
    // splice FF D0 into the entropy region and re-walk
    val base = Multimodal.encodeJpegShell(40, 30, progressive = false,
      Array.tabulate[Byte](20)(_.toByte))
    val eoi = base.length - 2
    val withRst = base.take(eoi) ++ Array(0xff.toByte, 0xd0.toByte) ++
      Array.tabulate[Byte](8)(k => (k + 1).toByte) ++ base.drop(eoi)
    assert(Multimodal.decodeJpegDims(withRst) == ((40, 30, false, 3)))
    // malformed inputs are typed rejections, not misreads
    intercept[IllegalArgumentException] {
      Multimodal.decodeJpegDims("noJPEG!!".getBytes("US-ASCII"))
    }
    // truncation INSIDE a declared segment
    intercept[IllegalArgumentException] {
      Multimodal.decodeJpegDims(base.take(12))
    }
    // EOI with no SOF: strip everything between COM and EOI
    val soi = Array(0xff.toByte, 0xd8.toByte)
    val noSof = soi ++ Array(0xff.toByte, 0xd9.toByte)
    intercept[IllegalArgumentException] { Multimodal.decodeJpegDims(noSof) }
    // DHT (0xC4) must NOT be parsed as a SOF: a shell whose only
    // C-range marker is DHT still fails with "no SOF", not bogus dims
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    out.write(0xff); out.write(0xc4); out.write(0); out.write(4)
    out.write(0); out.write(1)
    out.write(0xff); out.write(0xd9)
    intercept[IllegalArgumentException] {
      Multimodal.decodeJpegDims(out.toByteArray)
    }
  }

  test("container sniffing dispatches on magic bytes and stays cheap") {
    // GIF: little-endian LSD dims, both signature generations
    val gif = Multimodal.encodeGifShell(321, 45)
    assert(Multimodal.decodeGifDims(gif) == ((321, 45)))
    val gif87 = gif.clone(); gif87(4) = '7'
    assert(Multimodal.decodeGifDims(gif87) == ((321, 45)))
    intercept[IllegalArgumentException] {
      Multimodal.decodeGifDims("GIF99a....".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeGifDims(gif.take(8))
    }
    // PNG sniff: IHDR-only, CRC still enforced
    val png = Multimodal.encodePng(40, 30, _ % 256, _ => 0)
    assert(Multimodal.sniffPngDims(png) == ((40, 30)))
    val bad = png.clone(); bad(17) = (bad(17) ^ 1).toByte // corrupt width
    intercept[IllegalArgumentException] { Multimodal.sniffPngDims(bad) }
    // dispatch
    assert(Multimodal.sniffDims(png) == (("png", 40, 30)))
    assert(Multimodal.sniffDims(gif) == (("gif", 321, 45)))
    val jpg = Multimodal.encodeJpegShell(88, 66, progressive = false,
      Array[Byte](1, 2, 3))
    assert(Multimodal.sniffDims(jpg) == (("jpeg", 88, 66)))
    intercept[IllegalArgumentException] {
      Multimodal.sniffDims("????????".getBytes("US-ASCII"))
    }
  }

  test("GIF LZW round-trips adversarial random index streams (width " +
    "growth, KwKwK, long repeats)") {
    import graft.operators.Multimodal.{lzwCompress, lzwDecode}
    val rnd = new scala.util.Random(42)
    // random streams grow the dictionary fast (deep width bumps);
    // constant and cyclic streams exercise KwKwK and long matches
    val cases: Seq[Array[Int]] =
      Seq(Array(0), Array(3, 3, 3, 3, 3, 3, 3)) ++
        (1 to 30).map(n => Array.tabulate(n * 7)(k => k % 4)) ++
        (1 to 20).map(n => Array.fill(n * 97)(rnd.nextInt(4)))
    cases.foreach { in =>
      val out = lzwDecode(lzwCompress(in, 2), 2)
      assert(out.sameElements(in),
        s"round-trip diverged at n=${in.length}: " +
          s"got ${out.take(20).mkString(",")}")
    }
  }

  test("GIF container decode matches the generator and rejects damage") {
    import graft.operators.Multimodal.{encodeGif, decodeGif}
    for (id <- 0L to 40L) {
      val w = (id % 8).toInt + 2
      val h = (id % 5).toInt + 3
      val g = encodeGif(w, h, k => ((id * 7 + k) % 4).toInt)
      val (dw, dh, n, iSum, rgbSum) = decodeGif(g)
      val expIdx = (0 until w * h).map(k => (id * 7 + k) % 4)
      assert((dw, dh, n) == (w, h, w.toLong * h))
      assert(iSum == expIdx.sum)
      // palette j sums to 120j + 30 — ΣRGB must come through the GCT
      assert(rgbSum == 120 * expIdx.sum + 30L * w * h)
      // truncation anywhere in the data stream must throw, not return
      intercept[IllegalArgumentException] {
        decodeGif(g.dropRight(6))
      }
    }
  }

  test("binaryFile ingestion decodes exactly the corpus' fixture files") {
    val out = SparkEntry.queries("q_multimodal_ingest")(spark, sfDir)
      .collect()
    assert(out.length == 60, s"expected 60 assets, got ${out.length}")
    // stale-file cleanup: a second construction must not double-count
    val again = SparkEntry.queries("q_multimodal_ingest")(spark, sfDir)
      .collect()
    assert(again.length == 60)
  }

  test("FLAC STREAMINFO round-trips bit-packed params and rejects damage") {
    import graft.operators.Multimodal.{decodeFlacStreamInfo, encodeFlacShell}
    // bit-field boundaries: max 20-bit-ish rates, 1..8 channels, 4..32
    // bit depths, 36-bit-scale totals must all survive the pack/unpack
    val cases = Seq(
      (8000, 1, 8, 0L), (44100, 2, 16, 1234567L),
      (96000, 8, 32, (1L << 36) - 1), (655350, 3, 24, 42L))
    cases.foreach { case (r, c, bt, n) =>
      val f = decodeFlacStreamInfo(encodeFlacShell(r, c, bt, n, 20))
      assert((f.sample_rate, f.channels, f.bits, f.total_samples) ==
        ((r, c, bt, n)), s"round-trip diverged for ($r,$c,$bt,$n)")
      assert(f.n_meta_blocks == 3 && f.n_audio_bytes == 20)
      assert(f.dur_ms == n * 1000L / r)
    }
    val good = encodeFlacShell(44100, 2, 16, 1000L, 30)
    // magic damage
    val bad = good.clone(); bad(0) = 'X'.toByte
    intercept[IllegalArgumentException](decodeFlacStreamInfo(bad))
    // truncation inside the block walk
    intercept[IllegalArgumentException](
      decodeFlacStreamInfo(good.take(4 + 4 + 10)))
    // STREAMINFO not first: flip the first block's type to PADDING
    val swapped = good.clone(); swapped(4) = 0x01.toByte
    intercept[IllegalArgumentException](decodeFlacStreamInfo(swapped))
    // a block length running past the buffer must fail, not wrap
    val overrun = good.clone()
    overrun(5) = 0x7f.toByte // STREAMINFO len high byte -> huge
    intercept[IllegalArgumentException](decodeFlacStreamInfo(overrun))
  }

  test("TIFF IFD walk handles both byte orders and rejects damage") {
    import graft.operators.Multimodal.{decodeTiffMeta, encodeTiff}
    for (be <- Seq(false, true); bits <- Seq(8, 16)) {
      val t = decodeTiffMeta(encodeTiff(640, 480, bits, be, 33))
      assert((t.width, t.height, t.bits, t.big_endian,
        t.n_entries, t.n_strip_bytes) == ((640, 480, bits, be, 6, 33)),
        s"be=$be bits=$bits: $t")
    }
    val good = encodeTiff(10, 7, 8, bigEndian = false, 12)
    // bad magic
    val bad = good.clone(); bad(0) = 'X'.toByte
    intercept[IllegalArgumentException](decodeTiffMeta(bad))
    // wrong version word (the 42 check)
    val v = good.clone(); v(2) = 43.toByte
    intercept[IllegalArgumentException](decodeTiffMeta(v))
    // truncated IFD
    intercept[IllegalArgumentException](decodeTiffMeta(good.take(20)))
    // compressed images are out of scope for the header kernel:
    // entry 3 (Compression, tag 259) value -> 5 (LZW)
    val comp = good.clone()
    val entry3ValueOff = 8 + 2 + 3 * 12 + 8
    comp(entry3ValueOff) = 5.toByte
    intercept[IllegalArgumentException](decodeTiffMeta(comp))
    // a strip running past the file must fail, not index out
    val strip = good.clone()
    val entry6ValueOff = 8 + 2 + 5 * 12 + 8
    strip(entry6ValueOff) = 0x7f.toByte
    intercept[IllegalArgumentException](decodeTiffMeta(strip))
  }

  test("ZIP directory walk reads JDK-written archives and rejects damage") {
    import graft.operators.Multimodal.{decodeZipDirectory, encodeZip}
    // encoder is java.util.zip, decoder is the hand-written APPNOTE
    // walk — independent implementations must agree on the manifest
    for (id <- Seq(0L, 7L, 123L, 9999L)) {
      val n = (id % 4).toInt + 1
      val z = decodeZipDirectory(encodeZip(id, n))
      val expectedUnc = (0 until n).map(k => (id % 17) + 3 + k).sum
      assert((z.n_entries, z.total_uncompressed, z.name_chars,
        z.all_stored) == ((n, expectedUnc, 6L * n, true)), s"id=$id: $z")
    }
    val good = encodeZip(42L, 3)
    // an archive comment after the EOCD must not break the signature scan
    val commented = good ++ "trailing archive comment".getBytes("US-ASCII")
    // (comment length field now disagrees, but the EOCD itself is found
    // and the directory is intact — the walk must still succeed)
    assert(decodeZipDirectory(commented).n_entries == 3)
    // EOCD removed entirely
    intercept[IllegalArgumentException](
      decodeZipDirectory(good.take(good.length - 22)))
    // corrupt the central-directory signature: locate it via the EOCD
    def u32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xff) | (b(o + 1) & 0xff) << 8 | (b(o + 2) & 0xff) << 16 |
        (b(o + 3) & 0xff) << 24) & 0xffffffffL
    val eocd = good.length - 22
    assert(u32(good, eocd) == 0x06054b50L)
    val cdOff = u32(good, eocd + 16).toInt
    val badSig = good.clone(); badSig(cdOff) = 0x00.toByte
    intercept[IllegalArgumentException](decodeZipDirectory(badSig))
  }

  test("OGG page walk verifies the spec CRC, continuity, and BOS/EOS placement") {
    import graft.operators.Multimodal.{decodeOggMeta, encodeOgg}
    // id=7: 3 pages; segs per page k: (7+k)%3+1 → 2,3,1
    val good = encodeOgg(7L, 3)
    val m = decodeOggMeta(good)
    assert((m.serial, m.n_pages, m.n_segs) == ((7, 3, 6)))
    assert(m.last_granule == 3L * 100 + 7)
    // page body corruption must be caught by the page CRC — OGG's OWN
    // CRC-32 variant (0x04C11DB7 unreflected); the kernel recomputes
    // with the field zeroed per RFC 3533 §6
    val badBody = good.clone(); badBody(good.length - 1) =
      (badBody(good.length - 1) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](decodeOggMeta(badBody))
    assert(e1.getMessage.contains("CRC"), e1.getMessage)
    // lost capture pattern
    val badCap = good.clone(); badCap(0) = 'X'.toByte
    intercept[IllegalArgumentException](decodeOggMeta(badCap))
    // a stream whose last page lacks the EOS flag is incomplete
    val twoOfThree = java.util.Arrays.copyOfRange(good, 0, {
      // length of first two pages: re-walk via the encoder's sizes
      val segs = Seq(0, 1).map(k => (7 + k) % 3 + 1)
      val bodies = Seq(0, 1).map(k => (0 until (7 + k) % 3 + 1)
        .map(j => (7 + k + j) % 20 + 5).sum)
      segs.zip(bodies).map { case (sg, bd) => 27 + sg + bd }.sum
    })
    val e2 = intercept[IllegalArgumentException](decodeOggMeta(twoOfThree))
    assert(e2.getMessage.contains("EOS"), e2.getMessage)
    // sequence-number damage: page 1's seq field set to 5 — rejected
    // (the continuity check, or the page CRC the edit also breaks;
    // either rejection is the correct contract)
    val p0len = 27 + 2 + (0 until 2).map(j => (7 + j) % 20 + 5).sum
    val reseq = good.clone()
    reseq(p0len + 18) = 5
    intercept[IllegalArgumentException](decodeOggMeta(reseq))
    // version byte must be 0
    val badVer = good.clone(); badVer(4) = 1
    intercept[IllegalArgumentException](decodeOggMeta(badVer))
    // single-page boundary (ADVICE r8): BOS and EOS are independent
    // bits, so a one-page stream must carry BOS|EOS = 0x06 and decode —
    // an either/or flag chain in the encoder broke its own round-trip
    val one = encodeOgg(7L, 1)
    assert((one(5) & 0x06) == 0x06, f"header_type=0x${one(5)}%02x")
    val m1 = decodeOggMeta(one)
    assert((m1.serial, m1.n_pages) == ((7, 1)))
  }

  test("MP3 frame walk skips ID3, counts padded frames, and rejects damage") {
    import graft.operators.Multimodal.{decodeMp3Meta, encodeMp3}
    // id=5: srIdx=2 (32000 Hz), bIdx=6 (80 kbps), 4 frames, pads at odd
    // (5+k) parity → k ∈ {0, 2} → 2 padded frames
    val good = encodeMp3(5L, 6, 2, 4, 20)
    val m = decodeMp3Meta(good)
    assert((m.sample_rate, m.bitrate_kbps, m.n_frames, m.n_padded,
      m.id3_bytes) == ((32000, 80, 4, 2, 30)))
    assert(m.dur_ms == 4L * 1152 * 1000 / 32000)
    assert(m.audio_bytes == 4 * (144000 * 80 / 32000) + 2)
    // a tagless stream is legal: same frames, id3_bytes = 0
    val bare = decodeMp3Meta(good.drop(m.id3_bytes))
    assert(bare.n_frames == 4 && bare.id3_bytes == 0 &&
      bare.audio_bytes == m.audio_bytes)
    // lost sync at the first frame header
    val badSync = good.clone(); badSync(m.id3_bytes) = 0x00.toByte
    intercept[IllegalArgumentException](decodeMp3Meta(badSync))
    // forbidden bitrate index 15
    val badBr = good.clone()
    badBr(m.id3_bytes + 2) = (0xf0 | (badBr(m.id3_bytes + 2) & 0x0f)).toByte
    intercept[IllegalArgumentException](decodeMp3Meta(badBr))
    // reserved sample-rate index 3
    val badSr = good.clone()
    badSr(m.id3_bytes + 2) = ((badSr(m.id3_bytes + 2) & 0xf0) | 0x0c).toByte
    intercept[IllegalArgumentException](decodeMp3Meta(badSr))
    // truncated inside the last frame
    intercept[IllegalArgumentException](decodeMp3Meta(good.dropRight(3)))
    // trailing garbage after the last frame is not silently tolerated
    intercept[IllegalArgumentException](decodeMp3Meta(good :+ 0x00.toByte))
    // ID3 size field overrunning the file
    val badId3 = good.clone(); badId3(9) = 0x7f.toByte
    intercept[IllegalArgumentException](decodeMp3Meta(badId3))
    // a VBR stream (second frame at a different bitrate) is rejected by
    // the CBR-consistency check
    val f1 = encodeMp3(0L, 6, 2, 1, 0).drop(10) // id3Body=0 → 10-byte tag
    val f2 = encodeMp3(0L, 9, 2, 1, 0).drop(10)
    intercept[IllegalArgumentException](decodeMp3Meta(f1 ++ f2))
  }

  test("MP4 box walk recovers mvhd timing through skipped boxes and " +
    "rejects damage") {
    import graft.operators.Multimodal.{decodeMp4Meta, encodeMp4Shell}
    val m = decodeMp4Meta(encodeMp4Shell("mp42", 90000L, 450000L, 33))
    assert((m.brand, m.timescale, m.duration_ms, m.n_top_boxes,
      m.mdat_bytes) == (("mp42", 90000L, 5000L, 4, 33)))
    val good = encodeMp4Shell("avc1", 600L, 1200L, 10)
    // not BMFF: first box must be ftyp
    val bad = good.clone(); bad(4) = 'x'.toByte
    intercept[IllegalArgumentException](decodeMp4Meta(bad))
    // a zero box size would loop forever — must throw instead
    val zero = good.clone()
    zero(0) = 0; zero(1) = 0; zero(2) = 0; zero(3) = 0
    intercept[IllegalArgumentException](decodeMp4Meta(zero))
    // truncation inside the top-level walk
    intercept[IllegalArgumentException](decodeMp4Meta(good.dropRight(5)))
    // an ftyp of size 8–19 has no room for the compatible-brand read at
    // body offset 8 — the walk must reject it with the documented
    // throw, never read past the box for a brand (r7 ADVICE). A
    // 16-byte ftyp (major + minor version, empty brand list) is valid
    // ISO-BMFF structure, so only the explicit size guard catches it.
    val shortFtyp =
      Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("US-ASCII") ++
        Array[Byte](0, 0, 0, 0)
    val e = intercept[IllegalArgumentException](decodeMp4Meta(shortFtyp))
    assert(e.getMessage.contains("ftyp box too small"), e.getMessage)
  }

  test("baseline JPEG decode round-trips constant blocks exactly, " +
    "including partial MCUs, 3 components, and restart resync") {
    import graft.operators.Multimodal.{decodeJpegBaseline, jpegFixture}
    // id=12: grayscale (12%2=0), 2 blocks x 2 blocks... actually
    // bw=12%4+2=2? no: 12%4=0 -> bw=2, bh=12%3+2=2, w=16-12%5=14,
    // h=16-0=16, ri=2 (12%3=0): partial right blocks + restarts
    val d12 = decodeJpegBaseline(jpegFixture(12L))
    assert((d12.w, d12.h, d12.nComp, d12.ri) == ((14, 16, 1, 2)))
    for (by <- 0 until 2; bx <- 0 until 2) {
      val v = ((12L * 31 + by * 7 + bx * 3) % 256).toInt
      for (y <- by * 8 until math.min(by * 8 + 8, d12.h);
           x <- bx * 8 until math.min(bx * 8 + 8, d12.w))
        assert(d12.planes(0)(y * d12.w + x) == v, s"($x,$y)")
    }
    // id=7: 3 components 4:4:4 (7%2=1), bw=7%4+2=5, bh=7%3+2=3,
    // w=40-7%5=38, h=24-1=23, no restarts (7%3=1)
    val d7 = decodeJpegBaseline(jpegFixture(7L))
    assert((d7.w, d7.h, d7.nComp, d7.ri) == ((38, 23, 3, 0)))
    for (c <- 0 until 3; by <- 0 until 3; bx <- 0 until 5) {
      val v = ((7L * 31 + c * 17 + by * 7 + bx * 3) % 256).toInt
      for (y <- by * 8 until math.min(by * 8 + 8, d7.h);
           x <- bx * 8 until math.min(bx * 8 + 8, d7.w))
        assert(d7.planes(c)(y * d7.w + x) == v, s"c$c ($x,$y)")
    }
  }

  test("baseline JPEG AC path: runs, ZRL, EOB, and high-frequency " +
    "coefficients reconstruct through Huffman + dequant + IDCT") {
    import graft.operators.Multimodal.{decodeJpegBaseline,
      encodeJpegBaseline, jQLuma}
    // one 8x8 block with a deliberately adversarial zigzag layout:
    // DC, an AC at k=1, a >15-zero run forcing ZRL, negative values
    // (EXTEND sign path), and a nonzero at the LAST position (k=63,
    // no trailing EOB)
    val zz = new Array[Int](64)
    zz(0) = 13; zz(1) = 5; zz(2) = -7; zz(20) = 3; zz(40) = -2
    zz(63) = 1
    val bytesJ = encodeJpegBaseline(8, 8, 1, 0, Array(jQLuma),
      (_, _, _) => zz.clone())
    val d = decodeJpegBaseline(bytesJ)
    // independent reference: direct 2-D IDCT of the dequantized block
    // (the decoder inverse-zigzags internally; this path re-derives the
    // natural-order block from the same zigzag map, then applies the
    // A.3.3 formula with a separately-written double loop)
    val zigzag = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val f = new Array[Double](64)
    for (k <- 0 until 64) f(zigzag(k)) = zz(k).toDouble * jQLuma(k)
    def cc(u: Int) = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    for (y <- 0 until 8; x <- 0 until 8) {
      var s = 0.0
      for (v <- 0 until 8; u <- 0 until 8)
        s += cc(u) * cc(v) * f(v * 8 + u) *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
      val expect = math.max(0, math.min(255,
        math.round(s / 4.0 + 128.0).toInt))
      assert(d.planes(0)(y * 8 + x) == expect, s"($x,$y)")
    }
  }

  test("baseline JPEG decoder rejects damage loudly") {
    import graft.operators.Multimodal.{decodeJpegBaseline,
      encodeJpegShell, jpegFixture}
    val good = jpegFixture(12L) // has restarts (12%3=0)
    // truncated entropy data
    val cut = java.util.Arrays.copyOfRange(good, 0, good.length - 6)
    intercept[IllegalArgumentException](decodeJpegBaseline(cut))
    // progressive stream must be rejected by THIS decoder (the sniffer
    // q_multimodal_jpeg accepts it - different contract)
    val prog = encodeJpegShell(16, 16, progressive = true,
      Array[Byte](1, 2, 3))
    val e1 = intercept[IllegalArgumentException](decodeJpegBaseline(prog))
    assert(e1.getMessage.contains("progressive"), e1.getMessage)
    // wrong restart marker sequence: find the first RST0 (FF D0) in the
    // entropy data and renumber it - the resync check must throw
    var i = 2
    var found = -1
    while (found < 0 && i + 1 < good.length) {
      if ((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xd0)
        found = i
      i += 1
    }
    assert(found > 0, "fixture should contain an RST0")
    val reseq = good.clone(); reseq(found + 1) = 0xd5.toByte
    val e2 = intercept[IllegalArgumentException](decodeJpegBaseline(reseq))
    assert(e2.getMessage.contains("RST") ||
      e2.getMessage.contains("marker"), e2.getMessage)
  }

  test("4:2:0 baseline JPEG decode round-trips exactly: interleaved MCU " +
    "order, chroma crop, replication upsampling, MCU-counted restarts") {
    import graft.operators.Multimodal.{decodeJpegBaseline,
      encodeJpegBaseline, jQChroma, jQLuma, jpegFixture420}
    // id=6: mw=1? no: 6%3=0 -> mw=1, mh=6%2=0 -> 1, w=16-6=10, h=16-1=15,
    // ri=2 (6%3=0): single partial MCU both axes WITH restarts armed
    // (ri=2 > 1 MCU so no RST emitted - boundary case) 
    val d6 = decodeJpegBaseline(jpegFixture420(6L))
    assert((d6.w, d6.h, d6.nComp, d6.ri) == ((10, 15, 3, 2)))
    // id=7: mw=2, mh=2, w=32-0=32, h=32-2=30, ri=0: 4 MCUs, full luma
    // grid 4x4 blocks, chroma 2x2 blocks
    val d7 = decodeJpegBaseline(jpegFixture420(7L))
    assert((d7.w, d7.h, d7.nComp, d7.ri) == ((32, 30, 3, 0)))
    // id=9: 9%3=0 -> mw=1, mh=9%2=1 -> mh=2, w=16-2=14, h=32-4=28, ri=2:
    // 2 MCUs vertically -> ONE RST0 between them, DC preds reset
    val d9 = decodeJpegBaseline(jpegFixture420(9L))
    assert((d9.w, d9.h, d9.nComp, d9.ri) == ((14, 28, 3, 2)))
    for ((id, d) <- Seq((6L, d6), (7L, d7), (9L, d9));
         c <- 0 until 3; y <- 0 until d.h; x <- 0 until d.w) {
      val expect =
        if (c == 0) ((id * 31 + (y / 8) * 7 + (x / 8) * 3) % 256).toInt
        else ((id * 31 + c * 17 + (y / 16) * 7 + (x / 16) * 3) % 256).toInt
      assert(d.planes(c)(y * d.w + x) == expect, s"id=$id c=$c ($x,$y)")
    }
    // chroma sampling beyond 1x1 must be rejected loudly, not misread
    val zz = new Array[Int](64)
    val badChroma = encodeJpegBaseline(16, 16, 3, 0,
      Array(jQLuma, jQChroma), (_, _, _) => zz.clone(),
      sampling = Array(0x22, 0x21, 0x11))
    val e = intercept[IllegalArgumentException](
      decodeJpegBaseline(badChroma))
    assert(e.getMessage.contains("chroma sampling"), e.getMessage)
  }

  test("progressive JPEG decode equals baseline decode of the SAME " +
    "coefficient blocks — dense AC, sparse EOB runs, refinement " +
    "correction bits, ZRL, 4:2:0, restarts") {
    import graft.operators.Multimodal.{decodeJpegBaseline,
      decodeJpegProgressive, encodeJpegBaseline, encodeJpegProgressive,
      jQChroma, jQLuma}
    // both pipelines dequantize IDENTICAL coefficients, so their
    // decoded planes must match bit-for-bit — including irrational AC
    // reconstructions, which never cross an engine boundary here. The
    // seeded generator mixes: all-zero-AC blocks (long EOB runs across
    // blocks — EOBRUN > 1 and its bits(r) path), a >16-zero gap (ZRL
    // with and without folding), |v| ≥ 4 (history coefficients taking
    // refinement correction bits), |v| ∈ {1..3} (coefficients born in
    // the first or the refinement pass), negative values (sign paths),
    // and a hit at k=63 (no trailing EOB).
    val shapes = Seq(
      // (w, h, nComp, ri, sampling)
      (8, 8, 1, 0, null),
      (50, 27, 1, 0, null), // 7x4 block grid: EOB runs up to 28
      (24, 21, 3, 2, null), // 4:4:4 with restarts every 2 MCUs
      (35, 29, 3, 3, Array(0x22, 0x11, 0x11))) // 4:2:0 + restarts
    for (((w, h, nc, ri, samp), si) <- shapes.zipWithIndex) {
      val rnd = new scala.util.Random(0xBEEF + si)
      val cache = scala.collection.mutable.Map
        .empty[(Int, Int, Int), Array[Int]]
      def coefs(c: Int, bx: Int, by: Int): Array[Int] =
        cache.getOrElseUpdate((c, bx, by), {
          val zz = new Array[Int](64)
          zz(0) = rnd.nextInt(201) - 100
          val mode = rnd.nextInt(4)
          if (mode == 1) { // sparse: lone mid-band hit after a long gap
            zz(20 + rnd.nextInt(4)) = rnd.nextInt(9) - 4
            zz(63) = if (rnd.nextBoolean()) 1 else 0
          } else if (mode == 2) { // dense low band + refinement fodder
            for (k <- 1 to 10) zz(k) = rnd.nextInt(41) - 20
            zz(40) = rnd.nextInt(7) - 3
          } // mode 0, 3: all-zero AC — consecutive blocks build EOB runs
          zz
        }).clone()
      val q = if (nc == 1) Array(jQLuma) else Array(jQLuma, jQChroma)
      val base = decodeJpegBaseline(
        encodeJpegBaseline(w, h, nc, ri, q, coefs,
          sampling = samp.asInstanceOf[Array[Int]]))
      val prog = decodeJpegProgressive(
        encodeJpegProgressive(w, h, nc, ri, q, coefs,
          sampling = samp.asInstanceOf[Array[Int]]))
      assert((prog.w, prog.h, prog.nComp, prog.ri) ==
        ((base.w, base.h, base.nComp, base.ri)), s"shape $si meta")
      for (c <- 0 until nc)
        assert(java.util.Arrays.equals(prog.planes(c), base.planes(c)),
          s"shape $si component $c planes diverge")
    }
  }

  test("progressive and baseline JPEG decoders reject each other's " +
    "frames and name unsupported SOFn types") {
    import graft.operators.Multimodal.{decodeJpegBaseline,
      decodeJpegLossless, decodeJpegProgressive, jpegFixture,
      jpegFixtureLossless, jpegFixtureProg}
    val baseBytes = jpegFixture(5L)
    val progBytes = jpegFixtureProg(5L)
    // cross-feeding: each decoder names the other
    val e1 = intercept[IllegalArgumentException](
      decodeJpegBaseline(progBytes))
    assert(e1.getMessage.contains("decodeJpegProgressive"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      decodeJpegProgressive(baseBytes))
    assert(e2.getMessage.contains("decodeJpegBaseline"), e2.getMessage)
    // the REST of the SOFn family rejects BY NAME in both decoders
    // (r9 ADVICE): patch the fixture's SOF0 marker to SOF3 (lossless)
    def patchSof(bytes: Array[Byte], from: Int, to: Int): Array[Byte] = {
      val out = bytes.clone()
      var i = 2; var found = false
      while (!found && i + 1 < out.length) {
        if ((out(i) & 0xff) == 0xff && (out(i + 1) & 0xff) == from) {
          out(i + 1) = to.toByte; found = true
        }
        i += 1
      }
      assert(found, f"marker 0xff$from%02x not found"); out
    }
    val diffSeq = patchSof(baseBytes, 0xc0, 0xc5)
    val e3 = intercept[IllegalArgumentException](
      decodeJpegBaseline(diffSeq))
    assert(e3.getMessage.contains("SOF5"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      decodeJpegProgressive(diffSeq))
    assert(e4.getMessage.contains("SOF5"), e4.getMessage)
    // SOF3 routes BY NAME to the lossless decoder
    val toLossless = patchSof(baseBytes, 0xc0, 0xc3)
    val e4b = intercept[IllegalArgumentException](
      decodeJpegBaseline(toLossless))
    assert(e4b.getMessage.contains("decodeJpegLossless"), e4b.getMessage)
    val arith = patchSof(progBytes, 0xc2, 0xca)
    val e5 = intercept[IllegalArgumentException](
      decodeJpegProgressive(arith))
    assert(e5.getMessage.contains("SOF10"), e5.getMessage)
    // the full routing table: each decoder fed the other two decoders'
    // fixtures and both patched frame types names the owner or SOFn
    val losslessBytes = jpegFixtureLossless(5L)
    val decoders = Seq[(String, Array[Byte] => Any, Array[Byte])](
      ("decodeJpegBaseline", decodeJpegBaseline, baseBytes),
      ("decodeJpegProgressive", decodeJpegProgressive, progBytes),
      ("decodeJpegLossless", decodeJpegLossless, losslessBytes))
    for ((name, decode, _) <- decoders) {
      val foreign = decoders.collect {
        case (owner, _, bytes) if owner != name => (bytes, owner)
      }
      for ((bytes, expect) <- foreign :+ ((diffSeq, "SOF5")) :+
          ((arith, "SOF10"))) {
        val e = intercept[IllegalArgumentException](decode(bytes))
        assert(e.getMessage.contains(expect), s"$name: ${e.getMessage}")
      }
    }
    // truncated mid-scan entropy data
    val cut = java.util.Arrays.copyOfRange(progBytes, 0,
      progBytes.length - 8)
    intercept[IllegalArgumentException](decodeJpegProgressive(cut))
    // resequenced restart marker inside a progressive scan
    val withRst = jpegFixtureProg(6L) // 6%3=0 -> ri=2
    var i = 2; var found = -1
    while (found < 0 && i + 1 < withRst.length) {
      if ((withRst(i) & 0xff) == 0xff && (withRst(i + 1) & 0xff) == 0xd0)
        found = i
      i += 1
    }
    assert(found > 0, "progressive fixture with ri=2 should carry RST0")
    val reseq = withRst.clone(); reseq(found + 1) = 0xd4.toByte
    val e6 = intercept[IllegalArgumentException](
      decodeJpegProgressive(reseq))
    assert(e6.getMessage.contains("RST") || e6.getMessage.contains("marker"),
      e6.getMessage)
  }

  test("JPEG decoders reject every truncation with " +
    "IllegalArgumentException or decode it unchanged") {
    import graft.operators.Multimodal._
    // every cut 0..n-1 of each decoder's fixtures (restarts, 4:2:0,
    // multi-scan, lossless prediction) must surface as the typed
    // rejection, or (a cut inside the final EOI) decode to the full
    // stream's planes; any other exception type fails the test
    val cases = Seq[(Array[Byte], Array[Byte] => DecodedJpeg)](
      (jpegFixture(7L), decodeJpegBaseline),
      (jpegFixture(12L), decodeJpegBaseline),
      (jpegFixture420(9L), decodeJpegBaseline),
      (jpegFixtureProg(6L), decodeJpegProgressive),
      (jpegFixtureProg(5L), decodeJpegProgressive),
      (jpegFixtureLossless(3L), decodeJpegLossless))
    for (((bytes, decode), ci) <- cases.zipWithIndex) {
      val full = decode(bytes)
      for (n <- 0 until bytes.length) {
        try {
          val d = decode(java.util.Arrays.copyOfRange(bytes, 0, n))
          assert((d.w, d.h, d.nComp, d.ri) == ((full.w, full.h, full.nComp,
            full.ri)) && d.planes.indices.forall(c =>
            java.util.Arrays.equals(d.planes(c), full.planes(c))),
            s"case $ci cut at $n decoded to different planes")
        } catch { case _: IllegalArgumentException => }
      }
    }
  }

  test("lossless JPEG round-trips every Annex H predictor exactly, " +
    "honors the point transform, and rejects damage loudly") {
    import graft.operators.Multimodal.{decodeJpegLossless,
      encodeJpegLossless, jpegFixtureLossless}
    // per-predictor exact round-trip on a seeded random image — a
    // boundary-rule or EXTEND slip in any predictor path shows up as
    // a pixel mismatch at a specific (x, y)
    for (psel <- 1 to 7; nc <- Seq(1, 3)) {
      val rnd = new scala.util.Random(911 * psel + nc)
      val w = 13; val h = 9
      val img = Array.tabulate(nc, h * w)((_, _) => rnd.nextInt(256))
      val d = decodeJpegLossless(encodeJpegLossless(w, h, nc, psel,
        (c, x, y) => img(c)(y * w + x)))
      assert((d.w, d.h, d.nComp) == ((w, h, nc)))
      for (c <- 0 until nc)
        assert(java.util.Arrays.equals(d.planes(c), img(c)),
          s"predictor $psel nc=$nc planes diverge")
    }
    // point transform Pt=1: samples code at 7 bits, reconstruction
    // returns them upscaled — every decoded value is the input with
    // its low bit cleared
    val rnd = new scala.util.Random(77)
    val img = Array.tabulate(11 * 7)(_ => rnd.nextInt(256))
    val dp = decodeJpegLossless(encodeJpegLossless(11, 7, 1, 4,
      (_, x, y) => img(y * 11 + x), pt = 1))
    for (k <- img.indices)
      assert(dp.planes(0)(k) == (img(k) >> 1) << 1, s"pt=1 at $k")
    // damage: truncation mid-entropy
    val good = jpegFixtureLossless(3L)
    intercept[IllegalArgumentException](decodeJpegLossless(
      java.util.Arrays.copyOfRange(good, 0, good.length - 5)))
    // damage: a DRI segment in a lossless stream rejects loudly (the
    // lossless restart-reset rules are out of scope by contract)
    var sos = -1; var i = 2
    while (sos < 0 && i + 1 < good.length) {
      if ((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda) sos = i
      i += 1
    }
    assert(sos > 0)
    val withDri = new Array[Byte](good.length + 6)
    System.arraycopy(good, 0, withDri, 0, sos)
    Array(0xff, 0xdd, 0x00, 0x04, 0x00, 0x02).zipWithIndex
      .foreach { case (v, k) => withDri(sos + k) = v.toByte }
    System.arraycopy(good, sos, withDri, sos + 6, good.length - sos)
    val e = intercept[IllegalArgumentException](
      decodeJpegLossless(withDri))
    assert(e.getMessage.contains("restart"), e.getMessage)
    // cross-routing: a DCT frame fed to the lossless decoder names
    // the right decoder
    val e2 = intercept[IllegalArgumentException](
      decodeJpegLossless(graft.operators.Multimodal.jpegFixture(4L)))
    assert(e2.getMessage.contains("decodeJpegBaseline"), e2.getMessage)
  }

  test("MJPEG-in-AVI: container walk extracts every frame bit-exactly " +
    "with and without idx1, and per-frame JPEG decode matches the " +
    "frame encoder") {
    import graft.operators.Multimodal._
    // a 3-frame video with an ODD-sized frame in the middle (RIFF pads
    // chunks to even offsets; the pad byte must not leak into frames)
    val w = 20; val h = 13 // partial MCUs on both axes
    def frame(f: Int): Array[Byte] =
      encodeJpegBaseline(w, h, 1, 0, Array(jQLuma),
        (_, bx, by) => {
          val zz = new Array[Int](64)
          zz(0) = ((f * 13 + by * 7 + bx * 5) % 256) - 128
          zz
        })
    val frames = (0 until 3).map(frame)
    assert(frames.exists(_.length % 2 == 1),
      "fixture must cover the odd-size padding path")
    for (withIndex <- Seq(true, false)) {
      val avi = encodeAviMjpeg(w, h, 25, frames, withIndex)
      val d = decodeAviMjpeg(avi)
      assert((d.w, d.h, d.rate, d.nFrames, d.hasIndex) ==
        ((w, h, 25, 3, withIndex)))
      // frames come back byte-identical (no padding leak, no offset slip)
      d.frames.zip(frames).foreach { case (got, want) =>
        assert(java.util.Arrays.equals(got, want))
      }
      // and each decodes to the per-block-constant plane it encodes
      d.frames.zipWithIndex.foreach { case (fb, f) =>
        val j = decodeJpegBaseline(fb)
        assert((j.w, j.h, j.nComp) == ((w, h, 1)))
        for (y <- 0 until h; x <- 0 until w)
          assert(j.planes(0)(y * w + x) ==
            (f * 13 + (y / 8) * 7 + (x / 8) * 5) % 256)
      }
    }
  }

  test("MJPEG-in-AVI rejects container damage loudly") {
    import graft.operators.Multimodal._
    val good = aviFixture(7L)
    assert(decodeAviMjpeg(good).nFrames == 7L % 3 + 2)
    // truncated movi list: RIFF size check catches byte loss first
    val e1 = intercept[IllegalArgumentException](
      decodeAviMjpeg(good.dropRight(9)))
    assert(e1.getMessage.contains("truncated") ||
      e1.getMessage.contains("RIFF size"), e1.getMessage)
    // a truncated FRAME with the container sizes patched to agree:
    // cut one byte out of the last frame chunk and fix up RIFF/LIST/
    // chunk sizes — the movi walk or idx1 cross-check must object
    val e2 = intercept[IllegalArgumentException] {
      val avi = decodeAviMjpeg(good)
      // rebuild with one frame's declared size exceeding its bytes
      val frames = avi.frames.updated(0, avi.frames(0).dropRight(1))
      val rebuilt = encodeAviMjpeg(avi.w, avi.h, avi.rate,
        frames, withIndex = true)
      // the rebuilt container is consistent — now corrupt the first
      // frame's idx1 size field (+1) without touching the movi walk
      val idx = rebuilt.lastIndexOfSlice("idx1".getBytes("US-ASCII"))
      rebuilt(idx + 8 + 12) = (rebuilt(idx + 8 + 12) + 1).toByte
      decodeAviMjpeg(rebuilt)
    }
    assert(e2.getMessage.contains("idx1 size mismatch"), e2.getMessage)
    // wrong stream handler: MJPEG decode must not accept DIB/raw video
    val dib = good.clone()
    val strh = dib.indexOfSlice("vids".getBytes("US-ASCII"))
    "DIB ".getBytes("US-ASCII").zipWithIndex.foreach { case (b, k) =>
      dib(strh + 4 + k) = b }
    val e3 = intercept[IllegalArgumentException](decodeAviMjpeg(dib))
    assert(e3.getMessage.contains("MJPG"), e3.getMessage)
    // frame-count lie: patch avih dwTotalFrames
    val lie = good.clone()
    val avih = lie.indexOfSlice("avih".getBytes("US-ASCII"))
    lie(avih + 8 + 16) = (lie(avih + 8 + 16) + 1).toByte
    val e4 = intercept[IllegalArgumentException](decodeAviMjpeg(lie))
    assert(e4.getMessage.contains("declares"), e4.getMessage)
    // AVIF_HASINDEX set but idx1 stripped (sizes fixed up): rebuild
    // without index but leave the flag — decode must refuse
    val e5 = intercept[IllegalArgumentException] {
      val noIdx = encodeAviMjpeg(16, 8, 25,
        Seq(jpegFixture(2L)), withIndex = false)
      // set AVIF_HASINDEX in avih (flags at struct offset 12)
      val a2 = noIdx.indexOfSlice("avih".getBytes("US-ASCII"))
      noIdx(a2 + 8 + 12) = (noIdx(a2 + 8 + 12) | 0x10).toByte
      decodeAviMjpeg(noIdx)
    }
    assert(e5.getMessage.contains("HASINDEX"), e5.getMessage)
    // an inner size that overruns its parent: the strl LIST's size
    // field sits just before its form type
    val strl = good.indexOfSlice("strl".getBytes("US-ASCII")) - 4
    val e6 = intercept[IllegalArgumentException](
      bounded(decodeAviMjpeg(sizeMinus8(good, strl))))
    assert(e6.getMessage.contains("malformed"), e6.getMessage)
  }

  test("MS-RLE8 inter-frame decode: delta frames repaint only their " +
    "band and the reference frame carries everything else") {
    import graft.operators.Multimodal._
    val (w, h, nf) = (9, 6, 4)
    def keyPx(x: Int, y: Int): Int = (y * 7 + x * 3) % 256
    def bandPx(f: Int)(x: Int, y: Int): Int = (f * 29 + y * 7 + x * 3) % 256
    val frames = encodeRle8Key(w, h, keyPx) +:
      (1 until nf).map(f => encodeRle8Delta(w, f, bandPx(f)))
    val out = decodeAviRle8(encodeAviRle8(w, h, 15, frames))
    assert(out.length == nf)
    // sequential model: replay the band ownership rule per frame
    val model = Array.tabulate(h, w)((y, x) => keyPx(x, y))
    out.zipWithIndex.foreach { case (fr, f) =>
      if (f >= 1) for (y <- f to f + 1; x <- 0 until w)
        model(y)(x) = bandPx(f)(x, y)
      val flat = for (y <- 0 until h; x <- 0 until w) yield (x, y)
      val sum = flat.map { case (x, y) => model(y)(x).toLong }.sum
      val sq = flat.map { case (x, y) =>
        val v = model(y)(x).toLong; v * v }.sum
      val ws = flat.map { case (x, y) =>
        model(y)(x).toLong * (x + 2L * y + 1) }.sum
      assert((fr.frame, fr.w, fr.h, fr.n_px, fr.sum_px, fr.sum_sq,
        fr.wsum) == ((f, w, h, w.toLong * h, sum, sq, ws)))
    }
    // the carry is REAL: frame 3 still shows frame 1\u2019s band (rows 1..2
    // were last painted by frame 1\u2019s delta... no \u2014 frame 2 repainted
    // row 2; row 1 is frame 1\u2019s) \u2014 decoding frame 3 against a ZEROED
    // reference must NOT give the same stats
    val zeroRef = new Array[Byte](w * h)
    decodeRle8Frame(frames(nf - 1), w, h, zeroRef)
    val indep = zeroRef.map(_ & 0xff).map(_.toLong).sum
    assert(indep != out.last.sum_px,
      "delta frame decoded standalone must differ from the carried one")
  }

  test("MS-RLE8 rejects stream and index damage loudly") {
    import graft.operators.Multimodal._
    val (w, h) = (9, 6)
    val key = encodeRle8Key(w, h, (x, y) => (y * 7 + x * 3) % 256)
    val delta = encodeRle8Delta(w, 2, (x, y) => (x + y) % 256)
    // run overflowing its row
    val e1 = intercept[IllegalArgumentException] {
      decodeRle8Frame(Array[Byte](w.toByte, 5, (w + 1).toByte, 5, 0, 1),
        w, h, new Array[Byte](w * h))
    }
    assert(e1.getMessage.contains("overflows"), e1.getMessage)
    // trailing bytes after EOB
    val e2 = intercept[IllegalArgumentException] {
      decodeRle8Frame(key ++ Array[Byte](3, 3), w, h,
        new Array[Byte](w * h))
    }
    assert(e2.getMessage.contains("trailing"), e2.getMessage)
    // truncated absolute run
    val e3 = intercept[IllegalArgumentException] {
      decodeRle8Frame(Array[Byte](0, 5, 1, 2), w, h,
        new Array[Byte](w * h))
    }
    assert(e3.getMessage.contains("truncated absolute"), e3.getMessage)
    // delta escape past the frame
    val e4 = intercept[IllegalArgumentException] {
      decodeRle8Frame(Array[Byte](0, 2, 0, (h + 1).toByte, 0, 1), w, h,
        new Array[Byte](w * h))
    }
    assert(e4.getMessage.contains("out of bounds"), e4.getMessage)
    // idx1 flags a DELTA frame as a keyframe: seek-and-decode lie
    val avi = encodeAviRle8(w, h, 15, Seq(key, delta))
    val idx = avi.lastIndexOfSlice("idx1".getBytes("US-ASCII"))
    avi(idx + 8 + 16 + 4) = (avi(idx + 8 + 16 + 4) | 0x10).toByte
    val e5 = intercept[IllegalArgumentException](decodeAviRle8(avi))
    assert(e5.getMessage.contains("keyframe flag"), e5.getMessage)
    // a non-identity palette must be refused (stats read indices)
    val avi2 = encodeAviRle8(w, h, 15, Seq(key, delta))
    val strf = avi2.indexOfSlice("strf".getBytes("US-ASCII"))
    avi2(strf + 8 + 40 + 17 * 4) = 99 // palette entry 17, blue channel
    val e6 = intercept[IllegalArgumentException](decodeAviRle8(avi2))
    assert(e6.getMessage.contains("identity"), e6.getMessage)
    // inner sizes that overrun their parent: the strl LIST (size field
    // just before its form type) and the avih chunk (just after its id)
    val avi3 = encodeAviRle8(w, h, 15, Seq(key, delta))
    val strl = avi3.indexOfSlice("strl".getBytes("US-ASCII")) - 4
    val avih = avi3.indexOfSlice("avih".getBytes("US-ASCII")) + 4
    for (at <- Seq(strl, avih)) {
      val e7 = intercept[IllegalArgumentException](
        bounded(decodeAviRle8(sizeMinus8(avi3, at))))
      assert(e7.getMessage.contains("malformed"), e7.getMessage)
    }
  }

  test("RIFF and GIF decoders reject every truncation with " +
    "IllegalArgumentException or decode it unchanged") {
    import graft.operators.Multimodal._
    // every cut 0..n-1 must surface as the typed rejection or decode to
    // the full file's result; another exception type, another result or
    // a hang past the limit fails the test
    def sweep(bytes: Array[Byte], decode: Array[Byte] => Any): Unit =
      bounded {
        val full = decode(bytes)
        for (n <- 0 until bytes.length) {
          try {
            val d = decode(java.util.Arrays.copyOfRange(bytes, 0, n))
            assert(d == full, s"cut at $n decoded to $d, not $full")
          } catch { case _: IllegalArgumentException => }
        }
      }
    val wav = encodeWav(8000, 2, Array.tabulate[Short](50)(k =>
      (k * 1237 - 30000).toShort))
    sweep(wav, decodeWav)
    sweep(wav, wavSamples(_).toSeq)
    sweep(encodeGif(7, 5, _ % 4), decodeGif)
    sweep(aviFixture(1L), b => {
      val d = decodeAviMjpeg(b)
      (d.w, d.h, d.rate, d.hasIndex, d.frames.map(_.toSeq))
    })
    val (w, h) = (9, 6)
    sweep(encodeAviRle8(w, h, 15, Seq(
      encodeRle8Key(w, h, (x, y) => (y * 7 + x * 3) % 256),
      encodeRle8Delta(w, 2, (x, y) => (x + y) % 256))), decodeAviRle8)
  }
}
