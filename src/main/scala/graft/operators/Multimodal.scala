package graft.operators

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A decoded media asset row: the batch shape a real decoder returns.
  * `features` stands in for pixel/audio features. */
final case class DecodedAsset(
    doc_id: Long,
    mime: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    features: Array[Float])

/** A decoded image row: format, real header-parsed dimensions, and an
  * exact integer checksum over the pixel payload. */
final case class DecodedImage(
    doc_id: Long,
    fmt: String,
    width: Int,
    height: Int,
    n_pix_bytes: Long,
    pix_sum: Long)

/** A decoded BMP row: orientation-aware — `top_down` is parsed from the
  * height sign, `wsum` position-weights the LOGICAL pixel stream so a
  * decoder that walks rows in file order cannot pass. */
final case class BmpDecoded(
    doc_id: Long,
    fmt: String,
    width: Int,
    height: Int,
    top_down: Boolean,
    n_pix_bytes: Long,
    pix_sum: Long,
    wsum: Long)

/** A decoded interlaced-PNG row: the de-interlace scatter is position
  * sensitive, so `wsum` position-weights the logical pixel stream — a
  * decoder that reassembles passes in the wrong place passes the
  * commutative pix_sum but not wsum. */
final case class Adam7Decoded(
    doc_id: Long,
    fmt: String,
    width: Int,
    height: Int,
    interlaced: Boolean,
    n_pix_bytes: Long,
    pix_sum: Long,
    wsum: Long)

/** A decoded μ-law stream row: exact integer statistics over the
  * reconstructed samples plus the reconstruction-error mass against
  * the original signal (the codec is LOSSY by design — the error bound
  * is part of its contract). */
final case class MulawDecoded(
    doc_id: Long,
    fmt: String,
    n_samples: Long,
    sum_dec: Long,
    wsum_dec: Long,
    sum_abs_err: Long,
    max_abs_err: Long)

/** A decoded IMA-ADPCM stream row: the μ-law statistics plus the final
  * (predictor, step-index) state — the STATE TRAJECTORY is the codec,
  * so pinning where it ends pins every step before it. */
final case class AdpcmDecoded(
    doc_id: Long,
    fmt: String,
    n_samples: Long,
    sum_dec: Long,
    wsum_dec: Long,
    sum_abs_err: Long,
    max_abs_err: Long,
    end_pred: Long,
    end_idx: Long)

/** Header-sniffed media metadata: dimensions and layout read from the
  * container WITHOUT decoding the payload — the cheap first pass a media
  * pipeline runs on every asset before deciding what to decode. */
final case class SniffedMeta(
    doc_id: Long,
    fmt: String,
    width: Int,
    height: Int,
    progressive: Boolean,
    n_comp: Int)

/** A decoded audio row: real header-parsed format parameters plus exact
  * integer sample statistics. */
final case class DecodedAudio(
    doc_id: Long,
    fmt: String,
    sample_rate: Int,
    channels: Int,
    n_frames: Long,
    dur_ms: Long,
    sample_sum: Long,
    peak: Int)

/** A parsed MP4/ISO-BMFF row: brand and movie-header timing recovered
  * from the nested box walk. */
final case class DecodedMp4(
    doc_id: Long,
    fmt: String,
    brand: String,
    timescale: Long,
    duration_ms: Long,
    n_top_boxes: Int,
    mdat_bytes: Int)

/** A parsed ZIP central-directory row: structural counts recovered by a
  * hand-written EOCD/central-directory walk over a library-built zip. */
final case class DecodedZip(
    doc_id: Long,
    fmt: String,
    n_entries: Int,
    total_uncompressed: Long,
    name_chars: Long,
    all_stored: Boolean)

/** A parsed TIFF IFD row: dimensions and sample layout recovered from
  * the tag walk, plus the byte order the file declared. */
final case class DecodedTiff(
    doc_id: Long,
    fmt: String,
    width: Int,
    height: Int,
    bits: Int,
    big_endian: Boolean,
    n_entries: Int,
    n_strip_bytes: Int)

/** A parsed FLAC STREAMINFO row: format parameters recovered from the
  * bit-packed header plus the metadata-block walk's structural counts. */
final case class DecodedFlac(
    doc_id: Long,
    fmt: String,
    sample_rate: Int,
    channels: Int,
    bits: Int,
    total_samples: Long,
    dur_ms: Long,
    n_meta_blocks: Int,
    n_audio_bytes: Int)

/** A parsed MP3 (MPEG-1 Layer III) stream row: CBR parameters and
  * structural counts recovered by a frame-header walk — no entropy
  * decode, the routing pass a media pipeline runs on every audio asset. */
final case class DecodedMp3(
    doc_id: Long,
    fmt: String,
    sample_rate: Int,
    bitrate_kbps: Int,
    n_frames: Int,
    n_padded: Int,
    dur_ms: Long,
    id3_bytes: Int,
    audio_bytes: Int)

/** A parsed OGG container row: stream identity and structural counts
  * recovered from a CRC-verified page walk — no codec decode. */
final case class DecodedOgg(
    doc_id: Long,
    fmt: String,
    serial: Int,
    n_pages: Int,
    n_segs: Int,
    body_bytes: Int,
    last_granule: Long)

/** Multimodal column plumbing (SURVEY.md §2B north star): media as opaque
  * `binary` columns with typed metadata, plus decode / feature-extract /
  * frame-sample stages.
  *
  * The decode kernel is REAL: [[decodeImage]] parses PPM (P6, including
  * comment/whitespace header handling) and BMP (BITMAPINFOHEADER 24bpp,
  * including 4-byte row padding) straight from the bytes — header →
  * dimensions, pixel array → exact checksum — PNG, a genuinely
  * COMPRESSED format, through the full chunk/CRC-32/zlib-inflate/
  * filter-reconstruction pipeline ([[decodePng]], pure `java.util.zip`)
  * — and, since r9, BASELINE JPEG through a complete pure-JVM T.81
  * decoder ([[decodeJpegBaseline]]: Annex-K Huffman, byte-stuffed
  * entropy decode, restarts, dequant, IDCT), joined in r10 by
  * PROGRESSIVE JPEG ([[decodeJpegProgressive]]: SOF2 multi-scan
  * spectral selection + successive approximation, EOB-run and
  * correction-bit coding) and LOSSLESS JPEG
  * ([[decodeJpegLossless]]: SOF3 Annex H predictive coding — exact by
  * definition). Only formats whose decode genuinely needs a codec
  * library (arithmetic-coded JPEG profiles, video codecs) still route
  * to [[decodeStub]], a clearly-marked deterministic fake.
  * The batch shape is identical for both: per-partition iterators
  * (`mapPartitions`, the Scala analogue of a Pandas-UDF batch) so a real
  * codec binding amortizes its init across the batch.
  *
  * The payload here is synthesized from `documents` (utf8 bytes, or
  * [[encodePpm]]/[[encodeBmp]] fixtures) so the pipeline runs on the
  * standard testdata and stays oracle-checkable.
  */
object Multimodal {

  // ------------------------------------------------------- byte order
  // The readers and writers every container walk and encoder shares.
  // Readers are unchecked: each format bounds its reads against its own
  // declared sizes (the JPEG path reads through the checked [[jU8]],
  // the WAV and AVI paths through [[RiffChunk]]).
  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xff
  private def be16(b: Array[Byte], o: Int): Int = u8(b, o) << 8 | u8(b, o + 1)
  private def be24(b: Array[Byte], o: Int): Int = u8(b, o) << 16 | be16(b, o + 1)
  private def be32(b: Array[Byte], o: Int): Int = be16(b, o) << 16 | be16(b, o + 2)
  private def le16(b: Array[Byte], o: Int): Int = u8(b, o) | u8(b, o + 1) << 8
  private def le32(b: Array[Byte], o: Int): Int = le16(b, o) | le16(b, o + 2) << 16
  /** Unsigned 32-bit reads, for size fields past Int.MaxValue. */
  private def be32u(b: Array[Byte], o: Int): Long = be32(b, o) & 0xffffffffL
  private def le32u(b: Array[Byte], o: Int): Long = le32(b, o) & 0xffffffffL

  private def putBe16(out: java.io.OutputStream, v: Int): Unit = {
    out.write(v >> 8); out.write(v)
  }
  private def putBe24(out: java.io.OutputStream, v: Int): Unit = {
    out.write(v >> 16); putBe16(out, v)
  }
  private def putBe32(out: java.io.OutputStream, v: Int): Unit = {
    putBe16(out, v >> 16); putBe16(out, v)
  }
  private def putLe16(out: java.io.OutputStream, v: Int): Unit = {
    out.write(v); out.write(v >> 8)
  }
  private def putLe32(out: java.io.OutputStream, v: Int): Unit = {
    putLe16(out, v); putLe16(out, v >> 16)
  }
  /** Consecutive big- / little-endian 32-bit words. */
  private def beWords(vs: Int*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    vs.foreach(putBe32(out, _))
    out.toByteArray
  }
  private def leWords(vs: Int*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    vs.foreach(putLe32(out, _))
    out.toByteArray
  }
  /** RIFF chunk: fourcc, little-endian size, payload, even padding. */
  private def riffChunk(id: String, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(id.getBytes("US-ASCII")); putLe32(out, payload.length)
    out.write(payload)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }
  /** RIFF container (`tag` RIFF or LIST): tag, size, form type, body. */
  private def riffList(tag: String, kind: String, body: Array[Byte]): Array[Byte] =
    tag.getBytes("US-ASCII") ++ leWords(body.length + 4) ++
      kind.getBytes("US-ASCII") ++ body

  // ------------------------------------------------------------- RIFF
  // The one chunk walk under the WAV and AVI codecs. [[riffWalk]]
  // checks every declared size against the enclosing span (in Long, so
  // a corrupt size can neither overrun the array nor step backwards)
  // before a [[RiffChunk]] exists, and a chunk's field reads are
  // checked against its own size: damage anywhere is an
  // IllegalArgumentException naming the chunk.

  /** One walked chunk: fourcc `id`, body offset and declared size. */
  private final class RiffChunk(b: Array[Byte], val id: String,
      val body: Int, val size: Int) {
    private def at(off: Int, n: Int): Int = {
      require(off + n <= size,
        s"'$id' chunk too short ($size bytes) for a field at $off")
      body + off
    }
    def byte(off: Int): Int = b(at(off, 1)) & 0xff
    def u16(off: Int): Int = le16(b, at(off, 2))
    def u32(off: Int): Long = le32u(b, at(off, 4))
    def tag(off: Int): String = new String(b, at(off, 4), 4, "US-ASCII")
    def bytes: Array[Byte] =
      java.util.Arrays.copyOfRange(b, body, body + size)
    /** A LIST chunk's form type and its walked children. */
    def list: (String, Vector[RiffChunk]) = {
      val kind = tag(0)
      (kind, riffWalk(b, body + 4, body + size, s"LIST '$kind'"))
    }
  }

  /** The chunks of `b[from, to)` in order, each size checked against
    * the span (`in` names it), stepping to word-aligned offsets. */
  private def riffWalk(b: Array[Byte], from: Int, to: Int, in: String)
      : Vector[RiffChunk] = {
    val out = Vector.newBuilder[RiffChunk]
    var o = from
    while (o < to) {
      require(o + 8L <= to, s"truncated chunk header at $o in $in")
      val id = new String(b, o, 4, "US-ASCII"); val size = le32u(b, o + 4)
      require(o + 8L + size <= to,
        s"truncated or malformed '$id' chunk at $o in $in (size=$size)")
      out += new RiffChunk(b, id, o + 8, size.toInt)
      o += 8 + size.toInt + (size.toInt & 1)
    }
    out.result()
  }

  /** The top-level chunks of a RIFF file of form type `form`. */
  private def riffForm(b: Array[Byte], form: String): Vector[RiffChunk] = {
    require(b.length >= 12 && new String(b, 0, 4, "US-ASCII") == "RIFF",
      "not a RIFF file")
    val kind = new String(b, 8, 4, "US-ASCII")
    require(kind == form, s"RIFF form '$kind' is not $form")
    riffWalk(b, 12, b.length, s"RIFF '$form'")
  }

  /** Minimal real PPM (P6) encoder — fixture generator for the decode
    * path. Emits a comment line so the decoder's header handling is
    * exercised by every fixture, not just hand-built edge cases. */
  def encodePpm(w: Int, h: Int, pix: Int => Int): Array[Byte] = {
    val header = s"P6\n# graft fixture\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var k = 0
    while (k < w * h * 3) {
      out(header.length + k) = (pix(k) & 0xff).toByte
      k += 1
    }
    out
  }

  /** Minimal real BMP (BITMAPINFOHEADER, 24bpp) encoder with
    * spec-correct 4-byte row padding, bottom-up by default or top-down
    * via the spec's negative-height convention. `pix` is indexed by
    * LOGICAL (top-down, row-major) byte position, so a bottom-up file
    * stores logical row `h-1-r` at file row `r` — exactly the
    * reordering the decoder must undo. */
  def encodeBmp(w: Int, h: Int, pix: Int => Int,
      topDown: Boolean = false): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val dataOff = 54
    val size = dataOff + rowBytes * h
    val out = new java.io.ByteArrayOutputStream(size)
    out.write('B'); out.write('M')
    putLe32(out, size); putLe32(out, 0); putLe32(out, dataOff)
    putLe32(out, 40) // BITMAPINFOHEADER
    putLe32(out, w); putLe32(out, if (topDown) -h else h)
    putLe16(out, 1) // planes
    putLe16(out, 24) // bpp
    putLe32(out, 0) // BI_RGB (uncompressed)
    out.write(new Array[Byte](dataOff - 34)) // sizes, resolution, palette: 0
    val row = new Array[Byte](rowBytes) // zero tail = the row padding
    var r = 0
    while (r < h) {
      val lr = if (topDown) r else h - 1 - r
      var c = 0
      while (c < w * 3) {
        row(c) = (pix(lr * w * 3 + c) & 0xff).toByte
        c += 1
      }
      out.write(row)
      r += 1
    }
    out.toByteArray
  }

  /** Real PPM (P6) parse: header (whitespace + `#` comments per the
    * netpbm spec) → (width, height, maxval), then an exact sum over the
    * w·h·3 pixel bytes. Throws on non-P6 or truncated payloads. */
  def decodePpm(b: Array[Byte]): (Int, Int, Int, Long) = {
    require(b.length >= 2 && b(0) == 'P' && b(1) == '6', "not a P6 PPM")
    var i = 2
    def skipWs(): Unit = {
      var done = false
      while (!done) {
        while (i < b.length && (b(i) == ' ' || b(i) == '\n'
          || b(i) == '\r' || b(i) == '\t')) i += 1
        if (i < b.length && b(i) == '#') {
          while (i < b.length && b(i) != '\n') i += 1
        } else done = true
      }
    }
    def int(): Int = {
      skipWs()
      require(i < b.length && b(i) >= '0' && b(i) <= '9', "bad PPM header")
      var v = 0
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = v * 10 + (b(i) - '0'); i += 1
      }
      v
    }
    val w = int(); val h = int(); val maxv = int()
    i += 1 // exactly one whitespace byte separates maxval from pixels
    val end = i + w * h * 3
    require(end <= b.length, "truncated PPM pixel data")
    var s = 0L
    while (i < end) { s += (b(i) & 0xff); i += 1 }
    (w, h, maxv, s)
  }

  /** Real BMP parse: little-endian BITMAPINFOHEADER (SIGNED height —
    * negative means top-down per the spec), 24bpp BI_RGB, padded rows.
    * Returns (w, h, topDown, pix_sum, wsum) with BOTH checksums over
    * the LOGICAL top-down pixel stream: the plain sum is orientation-
    * blind, the position-weighted wsum is exactly what catches a
    * decoder that ignores the height sign or walks rows in file order. */
  def decodeBmp(b: Array[Byte]): (Int, Int, Boolean, Long, Long) = {
    require(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "not a BMP")
    val dataOff = le32(b, 10)
    val w = le32(b, 18); val rawH = le32(b, 22)
    val topDown = rawH < 0
    val h = math.abs(rawH)
    require(le16(b, 28) == 24 && le32(b, 30) == 0, "only 24bpp uncompressed BMP")
    val rowBytes = ((w * 3 + 3) / 4) * 4
    require(dataOff + rowBytes * h <= b.length, "truncated BMP pixel data")
    var s = 0L
    var ws = 0L
    var lr = 0
    while (lr < h) {
      val r = if (topDown) lr else h - 1 - lr // file row of logical row
      var c = 0
      while (c < w * 3) {
        val v = b(dataOff + r * rowBytes + c) & 0xff
        val k = lr * w * 3 + c
        s += v
        ws += (k + 1).toLong * v
        c += 1
      }
      lr += 1
    }
    (w, h, topDown, s, ws)
  }

  /** G.711 μ-law encode of one linear PCM sample (Sun/CCITT reference
    * semantics: clip 32635, bias 132, 3-bit exponent + 4-bit mantissa,
    * ones-complement output byte). */
  def mulawEncode(s: Int): Int = {
    val sign = if (s < 0) 0x80 else 0
    var a = math.min(math.abs(s), 32635) + 132
    var e = 7
    while (e > 0 && a < (1 << (e + 7))) e -= 1
    val m = (a >> (e + 3)) & 0xf
    (~(sign | (e << 4) | m)) & 0xff
  }

  /** G.711 μ-law decode (inverse of [[mulawEncode]], lower-edge
    * reconstruction per the Sun g711 reference: t = ((m<<3)+132)<<e,
    * magnitude t−132). */
  def mulawDecode(b: Int): Int = {
    val u = (~b) & 0xff
    val e = (u >> 4) & 7
    val m = u & 0xf
    val mag = (((m << 3) + 132) << e) - 132
    if ((u & 0x80) != 0) -mag else mag
  }

  /** G.711 A-law encode of one 13-bit linear sample (Sun/ITU reference
    * semantics in the 13-bit domain: segment ends 31..4095, negative
    * values fold as −s−1, alternate-bit inversion 0x55/0xD5). */
  def alawEncode(s: Int): Int = {
    val pos = s >= 0
    val mask = if (pos) 0xd5 else 0x55
    val m = if (pos) s else -s - 1
    var seg = 0
    while (seg < 8 && m > ((1 << (seg + 5)) - 1)) seg += 1
    if (seg >= 8) 0x7f ^ mask
    else {
      val nibble = if (seg < 2) (m >> 1) & 0xf else (m >> seg) & 0xf
      ((seg << 4) | nibble) ^ mask
    }
  }

  /** G.711 A-law decode in the same 13-bit domain as [[alawEncode]]
    * (the Sun reference's 16-bit-scale +8/+0x108 values divide by 8
    * exactly: segment-midpoint reconstruction 2n+1 / 2n+33 /
    * (2n+33)<<(seg−1)). */
  def alawDecode(b: Int): Int = {
    val a = b ^ 0x55
    val seg = (a & 0x70) >> 4
    val t = (a & 0xf) << 1
    val mag =
      if (seg == 0) t + 1
      else if (seg == 1) t + 33
      else (t + 33) << (seg - 1)
    if ((a & 0x80) != 0) mag else -mag
  }

  /** The IMA/DVI ADPCM step table (89 entries) and index adjustments —
    * the public reference tables (IMA ADPCM spec / DVI4, RFC 3551). */
  private[graft] val ImaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767)
  private[graft] val ImaIndex: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** IMA ADPCM encode: 16-bit samples → packed 4-bit nibbles (low
    * nibble first, the IMA convention; odd counts pad the last byte's
    * high nibble with 0). CLOSED-LOOP: the encoder tracks the same
    * reconstructed predictor the decoder will, so quantization error
    * never accumulates beyond one step. State starts (pred=0, idx=0). */
  def adpcmEncode(samples: Array[Int]): Array[Byte] = {
    val out = new Array[Byte]((samples.length + 1) / 2)
    var pred = 0; var idx = 0
    var k = 0
    while (k < samples.length) {
      val step = ImaStep(idx)
      val diff = samples(k) - pred
      val sign = if (diff < 0) 8 else 0
      var ad = math.abs(diff)
      var d = 0
      if (ad >= step) { d |= 4; ad -= step }
      if (ad >= step / 2) { d |= 2; ad -= step / 2 }
      if (ad >= step / 4) { d |= 1 }
      val nib = sign | d
      // the decoder's reconstruction, replayed to keep the loop closed
      val delta = step / 8 + (if ((d & 4) != 0) step else 0) +
        (if ((d & 2) != 0) step / 2 else 0) +
        (if ((d & 1) != 0) step / 4 else 0)
      pred = math.max(-32768,
        math.min(32767, if (sign != 0) pred - delta else pred + delta))
      idx = math.max(0, math.min(88, idx + ImaIndex(d)))
      if ((k & 1) == 0) out(k >> 1) = nib.toByte
      else out(k >> 1) = (out(k >> 1) | (nib << 4)).toByte
      k += 1
    }
    out
  }

  /** IMA ADPCM decode: packed nibbles → (`n` reconstructed samples,
    * final step index) — the final state pins the whole trajectory. */
  def adpcmDecode(bytes: Array[Byte], n: Int): (Array[Int], Int) = {
    val out = new Array[Int](n)
    var pred = 0; var idx = 0
    var k = 0
    while (k < n) {
      val b = bytes(k >> 1) & 0xff
      val nib = if ((k & 1) == 0) b & 0xf else (b >> 4) & 0xf
      val step = ImaStep(idx)
      val d = nib & 7
      val delta = step / 8 + (if ((d & 4) != 0) step else 0) +
        (if ((d & 2) != 0) step / 2 else 0) +
        (if ((d & 1) != 0) step / 4 else 0)
      pred = math.max(-32768,
        math.min(32767, if ((nib & 8) != 0) pred - delta else pred + delta))
      idx = math.max(0, math.min(88, idx + ImaIndex(d)))
      out(k) = pred
      k += 1
    }
    (out, idx)
  }

  /** DuckDB replay of q_multimodal_adpcm: the closed-loop recurrence
    * as a RECURSIVE CTE — one row per (doc, consumed-sample count)
    * carrying (pred, idx, running stats); layered subqueries derive
    * the quantizer bits, the reconstruction delta, and both clamps
    * per step from the same reference tables. */
  private def adpcmOracle: String = {
    val tab = ImaStep.mkString("[", ", ", "]")
    val itab = ImaIndex.mkString("[", ", ", "]")
    s"""WITH RECURSIVE
      |docs AS (SELECT doc_id, doc_id % 40 + 12 AS n FROM documents),
      |rec AS (
      |  SELECT doc_id, n, CAST(0 AS BIGINT) AS k,
      |    CAST(0 AS BIGINT) AS pred, CAST(0 AS BIGINT) AS idx,
      |    CAST(0 AS BIGINT) AS sdec, CAST(0 AS BIGINT) AS wdec,
      |    CAST(0 AS BIGINT) AS serr, CAST(0 AS BIGINT) AS merr
      |  FROM docs
      |  UNION ALL
      |  SELECT doc_id, n, k + 1 AS k,
      |    CAST(pnew AS BIGINT) AS pred, CAST(inew AS BIGINT) AS idx,
      |    sdec + pnew AS sdec, wdec + (k + 1) * pnew AS wdec,
      |    serr + abs(s - pnew) AS serr,
      |    greatest(merr, abs(s - pnew)) AS merr
      |  FROM (
      |    SELECT q5.*,
      |      greatest(-32768, least(32767,
      |        CASE WHEN sgn = 1 THEN pred - delta
      |             ELSE pred + delta END)) AS pnew,
      |      greatest(0, least(88, idx + ($itab)[d3 + 1])) AS inew
      |    FROM (
      |      SELECT q4.*,
      |        step // 8 + b4 * step + b2 * (step // 2)
      |          + b1 * (step // 4) AS delta,
      |        b4 * 4 + b2 * 2 + b1 AS d3
      |      FROM (
      |        SELECT q3.*,
      |          CASE WHEN r2 - b2 * (step // 2) >= step // 4
      |               THEN 1 ELSE 0 END AS b1
      |        FROM (
      |          SELECT q2.*,
      |            CASE WHEN r2 >= step // 2 THEN 1 ELSE 0 END AS b2
      |          FROM (
      |            SELECT q1.*, ad - b4 * step AS r2
      |            FROM (
      |              SELECT q0.*,
      |                CASE WHEN ad >= step THEN 1 ELSE 0 END AS b4
      |              FROM (
      |                SELECT rec.*,
      |                  ($tab)[CAST(idx AS INTEGER) + 1] AS step,
      |                  ((doc_id * 131 + k * 887) % 65536) - 32768 AS s,
      |                  CASE WHEN ((doc_id * 131 + k * 887) % 65536)
      |                         - 32768 - pred < 0
      |                       THEN 1 ELSE 0 END AS sgn,
      |                  abs(((doc_id * 131 + k * 887) % 65536)
      |                    - 32768 - pred) AS ad
      |                FROM rec WHERE rec.k < rec.n
      |              ) q0
      |            ) q1
      |          ) q2
      |        ) q3
      |      ) q4
      |    ) q5
      |  ) q6
      |)
      |SELECT doc_id, 'adpcm' AS fmt, CAST(n AS BIGINT) AS n_samples,
      |  sdec AS sum_dec, wdec AS wsum_dec, serr AS sum_abs_err,
      |  merr AS max_abs_err, pred AS end_pred, idx AS end_idx
      |FROM rec WHERE k = n""".stripMargin
  }

  private val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** CRC-32 of `b[from, from + len)`: the PNG chunk checksum. */
  private def pngCrc(b: Array[Byte], from: Int, len: Int): Int = {
    val crc = new java.util.zip.CRC32()
    crc.update(b, from, len)
    crc.getValue.toInt
  }

  /** The PNG chunk at `o`, checked: its length bound (in Long — the
    * length is attacker-controlled), then its CRC. Returns (tag, data
    * offset, length). */
  private def pngChunk(b: Array[Byte], o: Int): (String, Int, Int) = {
    require(o + 8 <= b.length, "truncated PNG chunk header")
    val len = be32(b, o)
    val tag = new String(b, o + 4, 4, "US-ASCII")
    require(len >= 0 && o + 12L + len <= b.length,
      s"truncated or malformed $tag chunk (len=$len)")
    require(pngCrc(b, o + 4, 4 + len) == be32(b, o + 8 + len),
      s"$tag CRC mismatch")
    (tag, o + 8, len)
  }

  /** PNG scanline predictor (RFC 2083 §6.6): nearest of left/up/upper-left
    * by the Paeth heuristic, ties broken left → up → upper-left. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Minimal REAL PNG encoder (RFC 2083): 8-bit truecolor (color type 2),
    * non-interlaced; scanlines filtered with `filterOf(row) ∈ 0..4`
    * (None/Sub/Up/Average/Paeth), zlib-compressed with
    * `java.util.zip.Deflater`, CRC-32 per chunk. IDAT is split into
    * ≤64-byte chunks so every fixture exercises the decoder's
    * multi-IDAT reassembly, exactly as real encoders stream it. */
  def encodePng(w: Int, h: Int, pix: Int => Int,
      filterOf: Int => Int = _ % 5): Array[Byte] = {
    val raw = Array.tabulate(h * w * 3)(k => (pix(k) & 0xff).toByte)
    pngContainer(w, h, interlace = false,
      filterScanlines(raw, w, h, filterOf))
  }

  /** ADAM7-INTERLACED PNG encoder (RFC 2083 §2.6): the image splits
    * into seven reduced passes on the 8×8 interlace grid, each pass
    * filtered as an INDEPENDENT image (its own scanlines, its own
    * previous-row context) and the filtered passes concatenate into
    * one zlib stream. Passes that are empty for small dimensions are
    * omitted entirely — the spec rule tiny fixtures exercise. `pix`
    * indexes the LOGICAL de-interlaced image, so
    * decode(encodeAdam7(pix)) == decode(encode(pix)) is the roundtrip
    * contract. */
  def encodePngAdam7(w: Int, h: Int, pix: Int => Int,
      filterOf: Int => Int = _ % 5): Array[Byte] = {
    val raw = Array.tabulate(h * w * 3)(k => (pix(k) & 0xff).toByte)
    val parts = Adam7.zipWithIndex.flatMap { case ((xs, ys, xst, yst), p) =>
      val wp = if (w > xs) (w - xs + xst - 1) / xst else 0
      val hp = if (h > ys) (h - ys + yst - 1) / yst else 0
      if (wp == 0 || hp == 0) None
      else {
        val passRaw = new Array[Byte](hp * wp * 3)
        var py = 0
        while (py < hp) {
          var px = 0
          while (px < wp) {
            val y = ys + py * yst; val x = xs + px * xst
            var ch = 0
            while (ch < 3) {
              passRaw((py * wp + px) * 3 + ch) = raw((y * w + x) * 3 + ch)
              ch += 1
            }
            px += 1
          }
          py += 1
        }
        // per-pass filter choice keyed off (pass, row) so every pass
        // exercises several filter types
        Some(filterScanlines(passRaw, wp, hp, r => filterOf(p * 31 + r)))
      }
    }
    val all = new Array[Byte](parts.map(_.length).sum)
    var o = 0
    parts.foreach { p =>
      System.arraycopy(p, 0, all, o, p.length); o += p.length
    }
    pngContainer(w, h, interlace = true, all)
  }

  /** Adam7 pass grid: (xstart, ystart, xstep, ystep) per pass. */
  private val Adam7: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Filter `raw` (w×h RGB) into PNG's per-scanline format: one type
    * byte + stride filtered bytes per row. */
  private def filterScanlines(raw: Array[Byte], w: Int, h: Int,
      filterOf: Int => Int): Array[Byte] = {
    val stride = w * 3
    val filtered = new Array[Byte](h * (1 + stride))
    var r = 0
    while (r < h) {
      val f = filterOf(r) % 5
      filtered(r * (1 + stride)) = f.toByte
      var c = 0
      while (c < stride) {
        val x = raw(r * stride + c) & 0xff
        val a = if (c >= 3) raw(r * stride + c - 3) & 0xff else 0
        val b = if (r > 0) raw((r - 1) * stride + c) & 0xff else 0
        val uc = if (r > 0 && c >= 3) raw((r - 1) * stride + c - 3) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, uc)
        }
        filtered(r * (1 + stride) + 1 + c) = ((x - pred) & 0xff).toByte
        c += 1
      }
      r += 1
    }
    filtered
  }

  /** Reconstruct one filtered sub-image (w×h) starting at `off` in the
    * inflated stream; returns the raw pixels. Inverse of
    * [[filterScanlines]]. */
  private def unfilterScanlines(filtered: Array[Byte], off: Int,
      w: Int, h: Int): Array[Byte] = {
    val stride = w * 3
    val raw = new Array[Byte](h * stride)
    var r = 0
    while (r < h) {
      val f = filtered(off + r * (1 + stride)) & 0xff
      require(f <= 4, s"unknown filter type $f")
      var c = 0
      while (c < stride) {
        val x = filtered(off + r * (1 + stride) + 1 + c) & 0xff
        val a = if (c >= 3) raw(r * stride + c - 3) & 0xff else 0
        val up = if (r > 0) raw((r - 1) * stride + c) & 0xff else 0
        val uc = if (r > 0 && c >= 3) raw((r - 1) * stride + c - 3) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) / 2
          case 4 => paeth(a, up, uc)
        }
        raw(r * stride + c) = ((x + pred) & 0xff).toByte
        c += 1
      }
      r += 1
    }
    raw
  }

  /** Wrap a filtered stream into the PNG container: zlib-deflate,
    * signature, IHDR (with the interlace byte), ≤64-byte IDAT chunks
    * (multi-IDAT reassembly exercised by every fixture), IEND —
    * CRC-32 on every chunk. */
  private def pngContainer(w: Int, h: Int, interlace: Boolean,
      filtered: Array[Byte]): Array[Byte] = {
    import java.util.zip.Deflater
    // zlib-wrap (Deflater's default framing is exactly PNG's stream format)
    val defl = new Deflater()
    defl.setInput(filtered); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](256)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val z = zbuf.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def chunk(tag: String, data: Array[Byte]): Unit = {
      val td = tag.getBytes("US-ASCII") ++ data
      putBe32(out, data.length); out.write(td)
      putBe32(out, pngCrc(td, 0, td.length))
    }
    out.write(PngSig)
    val ihdr = new java.io.ByteArrayOutputStream()
    putBe32(ihdr, w); putBe32(ihdr, h)
    ihdr.write(Array[Byte](8, 2, 0, 0, if (interlace) 1 else 0))
    chunk("IHDR", ihdr.toByteArray)
    var off = 0
    while (off < z.length) { // stream IDAT in small chunks
      val n = math.min(64, z.length - off)
      chunk("IDAT", java.util.Arrays.copyOfRange(z, off, off + n))
      off += n
    }
    if (z.isEmpty) chunk("IDAT", Array.emptyByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Real PNG decode (8-bit truecolor, non-interlaced): chunk walk with
    * CRC-32 verification, multi-IDAT reassembly, `Inflater` decompression,
    * and full filter reconstruction (None/Sub/Up/Average/Paeth) — then an
    * exact sum over the reconstructed pixel bytes. Throws on bad
    * signature, CRC mismatch, unsupported color layout, or truncated /
    * over-long compressed data. */
  def decodePng(b: Array[Byte]): (Int, Int, Long) = {
    val (w, h, _, raw) = decodePngPixels(b)
    var s = 0L
    var k = 0
    while (k < raw.length) { s += raw(k) & 0xff; k += 1 }
    (w, h, s)
  }

  /** Full PNG decode to pixels (8-bit truecolor, interlace 0 OR Adam7):
    * chunk walk with CRC-32 verification, multi-IDAT reassembly,
    * `Inflater` decompression, filter reconstruction per (sub-)image,
    * and — for interlace 1 — the seven-pass de-interlace scatter back
    * into the logical grid. Returns (w, h, interlaced, top-down RGB
    * bytes). Throws on bad signature, CRC mismatch, unsupported color
    * layout, or truncated / over-long compressed data. */
  def decodePngPixels(b: Array[Byte]): (Int, Int, Boolean, Array[Byte]) = {
    import java.util.zip.Inflater
    require(b.length >= 8 && PngSig.indices.forall(i => b(i) == PngSig(i)),
      "not a PNG")
    var o = 8
    var w = 0; var h = 0
    var interlaced = false
    val idat = new java.io.ByteArrayOutputStream()
    var sawIhdr = false; var sawEnd = false
    while (!sawEnd) {
      val (tag, d, len) = pngChunk(b, o)
      tag match {
        case "IHDR" =>
          require(len == 13, "malformed IHDR")
          w = be32(b, d); h = be32(b, d + 4)
          require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
          require(b(d + 8) == 8 && b(d + 9) == 2,
            "only 8-bit truecolor PNG")
          require(b(d + 12) == 0 || b(d + 12) == 1,
            s"unknown interlace method ${b(d + 12)}")
          interlaced = b(d + 12) == 1
          sawIhdr = true
        case "IDAT" =>
          require(sawIhdr, "IDAT before IHDR")
          idat.write(b, d, len)
        case "IEND" => sawEnd = true
        case _ => // ancillary chunks (tEXt, ...): skip, CRC still checked
      }
      o = d + len + 4
    }
    require(sawIhdr, "no IHDR chunk")
    // non-empty passes with their reduced dimensions (the whole image
    // is "pass 0" when non-interlaced)
    val passes: Seq[(Int, Int, Int, Int, Int, Int)] =
      if (!interlaced) Seq((0, 0, 1, 1, w, h))
      else Adam7.flatMap { case (xs, ys, xst, yst) =>
        val wp = if (w > xs) (w - xs + xst - 1) / xst else 0
        val hp = if (h > ys) (h - ys + yst - 1) / yst else 0
        if (wp == 0 || hp == 0) None else Some((xs, ys, xst, yst, wp, hp))
      }
    val expect = passes.map { case (_, _, _, _, wp, hp) =>
      hp * (1 + wp * 3)
    }.sum
    val filtered = new Array[Byte](expect)
    val inf = new Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    var step = 1 // inflate() may return in pieces; loop until it stalls
    while (!inf.finished() && step > 0 && got < expect) {
      step = inf.inflate(filtered, got, expect - got)
      got += step
    }
    if (got == expect && !inf.finished()) {
      // buffer exactly full: confirm stream end (an over-long stream
      // would yield more bytes here and must fail, not silently truncate)
      step = inf.inflate(new Array[Byte](1))
      require(step == 0 && inf.finished(), "IDAT inflates past expected size")
    }
    require(got == expect && inf.finished(),
      s"IDAT inflates to $got bytes, expected $expect")
    inf.end()
    val raw = new Array[Byte](h * w * 3)
    var off = 0
    passes.foreach { case (xs, ys, xst, yst, wp, hp) =>
      val sub = unfilterScanlines(filtered, off, wp, hp)
      off += hp * (1 + wp * 3)
      var py = 0
      while (py < hp) {
        var px = 0
        while (px < wp) {
          val y = ys + py * yst; val x = xs + px * xst
          var ch = 0
          while (ch < 3) {
            raw((y * w + x) * 3 + ch) = sub((py * wp + px) * 3 + ch)
            ch += 1
          }
          px += 1
        }
        py += 1
      }
    }
    (w, h, interlaced, raw)
  }

  // ------------------------------------------------------------- JPEG
  // Pure-JVM JPEG codec (ITU T.81): the header sniff [[decodeJpegDims]],
  // the sequential (SOF0/SOF1, [[decodeJpegBaseline]]), progressive
  // (SOF2, [[decodeJpegProgressive]]) and lossless (SOF3,
  // [[decodeJpegLossless]]) decoders, and a fixture encoder for each.
  // One bitstream core serves all of them: [[JpegWalk]] (marker walk,
  // DQT/DHT/DRI parse, SOFn routing), [[JBitR]] (stuffed entropy
  // reader, Huffman symbols, EXTEND, RSTn resync), [[jReconstruct]]
  // (the DCT back half) and [[JWriter]] (the encoders' segments and
  // entropy data). Scope: 8-bit precision, luma sampling 1-2 per axis
  // with 1×1 chroma (4:4:4, 4:2:2, 4:4:0, 4:2:0, grayscale); the
  // differential and arithmetic-coded frame types are rejected by name.
  //
  // Oracle-exactness trick: the q_multimodal_jpeg_decode fixture uses
  // PER-BLOCK-CONSTANT images with Q(0,0) = 8. A constant block c has
  // exactly one nonzero DCT coefficient, DC = 8·(c−128); quantized by
  // 8 it is c−128 EXACTLY, and the decoder's dequant+IDCT reproduces c
  // bit-for-bit (the only float ops multiply by cos(0) factors whose
  // product is algebraically 1/8 — error ~1e-15, killed by rounding).
  // So the lossy pipeline is LOSSLESS on the fixture and the DuckDB
  // oracle recomputes every decoded pixel arithmetically, while the
  // decoder still runs the full marker/Huffman/bitstream machinery.
  // The AC path (runs, ZRL, EOB mid-block), restart resync, and damage
  // modes are MultimodalSpec's job — AC reconstruction is irrational
  // (cos π/16) and must not cross the engine boundary.

  /** Bounds-checked JPEG reads: a truncation anywhere in a stream
    * surfaces as this require, never an index exception. */
  private def jU8(b: Array[Byte], o: Int): Int = {
    require(o >= 0 && o < b.length, s"truncated JPEG at $o")
    b(o) & 0xff
  }
  private def jBe16(b: Array[Byte], o: Int): Int =
    jU8(b, o) << 8 | jU8(b, o + 1)

  /** Zigzag index k → natural (row-major) position (T.81 Figure 5). */
  private val jZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Fixture quant tables (zigzag order). Q(0,0) = 8 is the exactness
    * contract above; the AC entries only matter to the spec's AC tests. */
  private[graft] val jQLuma: Array[Int] =
    Array.tabulate(64)(k => if (k == 0) 8 else 16)
  private[graft] val jQChroma: Array[Int] =
    Array.tabulate(64)(k => if (k == 0) 8 else 24)

  /** A canonical Huffman table (Annex C: within a code length codes
    * count up; stepping to the next length shifts left once), built
    * from its DHT form — code counts per length 1..16 and the symbols
    * in code order. Decoders read MINCODE / MAXCODE / VALPTR by code
    * length (F.2.2.3; MAXCODE = −1 where a length has no codes);
    * encoders read `code` / `len` by symbol (len 0: no such symbol). */
  private final class JHuff(val bits: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    val code = new Array[Int](256); val len = new Array[Int](256)
    locally {
      var c = 0; var k = 0
      for (l <- 1 to 16) {
        val n = bits(l - 1)
        if (n > 0) { valPtr(l) = k; minCode(l) = c; maxCode(l) = c + n - 1 }
        var i = 0
        while (i < n) {
          code(vals(k)) = c; len(vals(k)) = l
          c += 1; k += 1; i += 1
        }
        c <<= 1
      }
    }
  }

  /** T.81 Annex K Huffman tables, the fixture encoders' DHTs. */
  private val jDcLuma = new JHuff(
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    (0 to 11).toArray)
  private val jDcChroma = new JHuff(
    Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    (0 to 11).toArray)
  private val jAcLuma = new JHuff(
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d),
    Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
      0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
      0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
      0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
      0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
      0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
      0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
      0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
      0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
      0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
      0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
      0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
      0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
      0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
      0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))
  private val jAcChroma = new JHuff(
    Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    Array(
      0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
      0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
      0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
      0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
      0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
      0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
      0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
      0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
      0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
      0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
      0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
      0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
      0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
      0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
      0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))

  /** AC Huffman table for the PROGRESSIVE encoder: the Annex K tables
    * carry only EOB0 (0x00) + ZRL (0xf0) in the (r<<4)|0 family, but
    * progressive EOB-run coding needs EOBn symbols 0x10..0xE0 — real
    * encoders ship custom tables in the DHT, so this one does too:
    * every legal AC symbol ((r<<4)|s with s=0 any r, or 1≤s≤10 —
    * 176 symbols) at a flat 9 bits. Canonically valid (176 < 2⁹) and
    * the all-ones padding code point stays unused (codes 0..175 of
    * 511). The decoder is table-driven off the DHT segment, so it
    * needs no knowledge of this table. */
  private val jAcProg = new JHuff(
    Array(0, 0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0),
    (0 to 255).filter(sym => (sym & 15) <= 10).toArray)

  /** A DCT frame's components (sampling H<<4|V and quant table each)
    * and the block geometry every DCT path derives from them: the MCU
    * grid; each component's padded block grid (the interleaved scans'
    * data units, A.2.3), its A.1.1-cropped sample dims
    * (ceil(dim·sampling/max)), and its own ceil block grid (the data
    * units of a single-component scan, A.2.2). */
  private final class JFrame(val w: Int, val h: Int,
      val samp: Array[Int], val tq: Array[Int]) {
    val nComp = samp.length
    val sH = samp.map(_ >> 4); val sV = samp.map(_ & 0x0f)
    val hmax = sH.max; val vmax = sV.max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val padW = Array.tabulate(nComp)(c => mcusX * sH(c))
    val padH = Array.tabulate(nComp)(c => mcusY * sV(c))
    val cw = Array.tabulate(nComp)(c => (w * sH(c) + hmax - 1) / hmax)
    val ch = Array.tabulate(nComp)(c => (h * sV(c) + vmax - 1) / vmax)
    val bW = cw.map(n => (n + 7) / 8); val bH = ch.map(n => (n + 7) / 8)
    /** Quantized coefficients per component: padded grid × 64, zigzag. */
    def newCoefs(): Array[Array[Int]] =
      Array.tabulate(nComp)(c => new Array[Int](padW(c) * padH(c) * 64))
  }

  /** The DCT decoders' SOF0/1/2 header at `at` (its length field),
    * within their scope: 8-bit precision, luma sampling 1-2 per axis,
    * chroma 1×1. */
  private def jDctFrame(b: Array[Byte], at: Int, decoder: String): JFrame = {
    require(jU8(b, at + 2) == 8, "only 8-bit precision")
    val h = jBe16(b, at + 3); val w = jBe16(b, at + 5)
    val n = jU8(b, at + 7)
    require(w > 0 && h > 0, s"bad dims ${w}x$h")
    require(n > 0, "frame without components")
    val samp = Array.tabulate(n)(c => jU8(b, at + 9 + 3 * c))
    val h0 = samp(0) >> 4; val v0 = samp(0) & 0x0f
    require(h0 >= 1 && h0 <= 2 && v0 >= 1 && v0 <= 2,
      s"luma sampling ${h0}x$v0: $decoder decoder supports 1-2 in each axis")
    require(samp.drop(1).forall(_ == 0x11),
      "chroma sampling beyond 1x1: needs the codec-library route")
    new JFrame(w, h, samp, Array.tabulate(n)(c => jU8(b, at + 10 + 3 * c)))
  }

  /** The SOFn routing (Table B.1): the decoder that owns a frame type.
    * The rest of the family (differential, arithmetic-coded) rejects by
    * name rather than falling through the length-skip into a misleading
    * "SOS before SOF". */
  private def jSofRoute(sof: Int): String = sof match {
    case 0xc0 | 0xc1 => "sequential JPEG: use decodeJpegBaseline"
    case 0xc2 => "progressive JPEG: use decodeJpegProgressive"
    case 0xc3 => "lossless JPEG: use decodeJpegLossless"
    case _ =>
      f"unsupported JPEG frame type SOF${sof - 0xc0}%d " +
        f"(marker 0xff$sof%02x): extended-sequential/" +
        "arithmetic streams need the codec-library route"
  }

  /** The JPEG marker walk (T.81 B.1.1–B.2.4) every decoder shares: SOI
    * check, fill bytes, standalone markers, declared-length checks,
    * DQT / DHT / DRI parsed into the tables below, every other segment
    * skipped by its length, and the SOFn routing — a frame type
    * `accepts` refuses throws naming its decoder. Reads are
    * bounds-checked, so a truncation surfaces as
    * IllegalArgumentException. */
  private final class JpegWalk(b: Array[Byte], accepts: Int => Boolean) {
    require(b.length >= 4 && jU8(b, 0) == 0xff && jU8(b, 1) == 0xd8,
      "not a JPEG")
    val qt = new Array[Array[Int]](16)
    val dcT = new Array[JHuff](16); val acT = new Array[JHuff](16)
    var ri = 0
    /** Length field of the SOFn or SOS segment [[next]] last returned. */
    var seg = -1
    /** Where the walk resumes: past a SOFn segment, or at a scan's
      * entropy data until the caller moves it past the scan. */
    var at = 2

    /** Walks to the next accepted SOFn, SOS or EOI; returns its marker. */
    def next(): Int = {
      var m = -1
      while (m < 0) {
        // fill bytes: any number of FFs may pad before a marker
        while (at + 1 < b.length && jU8(b, at) == 0xff &&
          jU8(b, at + 1) == 0xff) at += 1
        require(at + 1 < b.length && jU8(b, at) == 0xff, "marker expected")
        val mk = jU8(b, at + 1)
        at += 2
        if (mk == 0xd9) m = mk
        else if (mk != 0x01 && (mk < 0xd0 || mk > 0xd7)) { // TEM, RSTn: no length
          val len = jBe16(b, at)
          require(len >= 2 && at + len <= b.length,
            f"truncated segment 0x$mk%02x (len=$len)")
          seg = at; at += len
          mk match {
            case 0xdb => dqt()
            case 0xc4 => dht()
            case 0xdd => ri = jBe16(b, seg + 2)
            case 0xda => m = mk
            // 0xc4 / 0xc8 / 0xcc are DHT / JPG / DAC, not frame types
            case sof if sof >= 0xc0 && sof <= 0xcf && sof != 0xc8 &&
                sof != 0xcc =>
              if (!accepts(sof)) throw new IllegalArgumentException(jSofRoute(sof))
              m = sof
            case _ => // APPn, COM, ...
          }
        }
      }
      m
    }

    /** DQT (B.2.4.1): one or more tables, 8- or 16-bit entries. */
    private def dqt(): Unit = {
      var o = seg + 2
      while (o < at) {
        val pq = jU8(b, o) >> 4; val id = jU8(b, o) & 0x0f
        require(pq <= 1, s"quant table precision $pq")
        qt(id) = Array.tabulate(64)(k =>
          if (pq == 0) jU8(b, o + 1 + k) else jBe16(b, o + 1 + 2 * k))
        o += 1 + 64 * (pq + 1)
      }
    }

    /** DHT (B.2.4.2): one or more tables, class 0 = DC, 1 = AC. */
    private def dht(): Unit = {
      var o = seg + 2
      while (o < at) {
        val cls = jU8(b, o) >> 4; val id = jU8(b, o) & 0x0f
        val bits = Array.tabulate(16)(k => jU8(b, o + 1 + k))
        val n = bits.sum
        val t = new JHuff(bits, Array.tabulate(n)(k => jU8(b, o + 17 + k)))
        if (cls == 0) dcT(id) = t else acT(id) = t
        o += 17 + n
      }
    }
  }

  /** The JPEG entropy-coded-data reader every decoder shares: MSB-first
    * bits over FF 00 byte stuffing (F.2.2.5; any other marker inside
    * the data is damage), canonical-Huffman symbols (F.2.2.3),
    * RECEIVE + EXTEND (F.2.2.1) and the byte-aligned RSTn resync. */
  private final class JBitR(b: Array[Byte], var pos: Int) {
    private var acc = 0; private var nb = 0; private var rst = 0

    def bit(): Int = {
      if (nb == 0) {
        require(pos < b.length, "truncated entropy data")
        val v = b(pos) & 0xff; pos += 1
        if (v == 0xff) {
          require(pos < b.length, "truncated after FF")
          val nxt = b(pos) & 0xff
          require(nxt == 0x00,
            f"marker 0xff$nxt%02x inside entropy-coded data")
          pos += 1
        }
        acc = v; nb = 8
      }
      nb -= 1; (acc >> nb) & 1
    }

    def bits(n: Int): Int = {
      var v = 0; var k = 0
      while (k < n) { v = (v << 1) | bit(); k += 1 }
      v
    }

    def decodeSym(t: JHuff): Int = {
      var code = bit(); var len = 1
      while (!(t.maxCode(len) >= 0 && code <= t.maxCode(len))) {
        require(len < 16, "invalid Huffman code")
        code = (code << 1) | bit(); len += 1
      }
      t.vals(t.valPtr(len) + code - t.minCode(len))
    }

    /** RECEIVE(t) then EXTEND: t magnitude bits → the signed value. */
    def extend(t: Int): Int = {
      val v = bits(t)
      if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v
    }

    /** Byte-aligns (B.2.1.2) and steps over all-ones pad bytes, which
      * are emitted STUFFED (FF 00), so `pos` lands on the next marker. */
    def align(): Unit = {
      nb = 0
      while (pos + 1 < b.length && (b(pos) & 0xff) == 0xff &&
        b(pos + 1) == 0) pos += 2
    }

    /** Restart resync: align, then RSTn must follow in sequence. */
    def restart(): Unit = {
      align()
      require(pos + 1 < b.length && (b(pos) & 0xff) == 0xff &&
        (b(pos + 1) & 0xff) == 0xd0 + rst, f"expected RST$rst%d at $pos")
      pos += 2
      rst = (rst + 1) % 8
    }
  }

  private val jCos = Array.tabulate(8, 8)((x, u) =>
    math.cos((2 * x + 1) * u * math.Pi / 16))
  private val jCu =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)

  /** The DCT decoders' back half: every block of the coefficient store
    * (see [[JFrame]]) is dequantized, inverse-zigzagged, float-IDCT'd
    * (A.3.3), level-shifted by +128 and clamped into its component's
    * cropped plane — the padding blocks of a partial MCU are decoded,
    * as the spec requires, then fall outside the crop — and subsampled
    * planes are upsampled to w×h by sample replication (the
    * nearest-neighbor reconstruction JFIF implies when no filter is
    * specified). */
  private def jReconstruct(f: JFrame, qt: Array[Array[Int]],
      coefs: Array[Array[Int]], ri: Int): DecodedJpeg = {
    val blk = new Array[Int](64)
    val sub = Array.tabulate(f.nComp) { c =>
      val q = if (f.tq(c) < qt.length) qt(f.tq(c)) else null
      require(q != null, s"missing quant table ${f.tq(c)}")
      val zz = coefs(c); val cw = f.cw(c); val ch = f.ch(c)
      val plane = new Array[Int](cw * ch)
      for (by <- 0 until f.padH(c); bx <- 0 until f.padW(c)) {
        val off = (by * f.padW(c) + bx) * 64
        java.util.Arrays.fill(blk, 0)
        var k = 0
        while (k < 64) {
          val v = zz(off + k)
          if (v != 0) blk(jZigzag(k)) = v * q(k)
          k += 1
        }
        val x0 = bx * 8; val y0 = by * 8
        var y = 0
        while (y < 8 && y0 + y < ch) {
          var x = 0
          while (x < 8 && x0 + x < cw) {
            var s = 0.0
            var u = 0
            while (u < 8) {
              var v = 0
              while (v < 8) {
                val fv = blk(v * 8 + u)
                if (fv != 0)
                  s += jCu(u) * jCu(v) * fv * jCos(x)(u) * jCos(y)(v)
                v += 1
              }
              u += 1
            }
            val p = math.round(s / 4.0 + 128.0).toInt
            plane((y0 + y) * cw + (x0 + x)) = math.max(0, math.min(255, p))
            x += 1
          }
          y += 1
        }
      }
      plane
    }
    val planes = Array.tabulate(f.nComp) { c =>
      if (f.cw(c) == f.w && f.ch(c) == f.h) sub(c)
      else {
        val out = new Array[Int](f.w * f.h)
        val sx = f.hmax / f.sH(c); val sy = f.vmax / f.sV(c)
        var y = 0
        while (y < f.h) {
          var x = 0
          while (x < f.w) {
            out(y * f.w + x) = sub(c)((y / sy) * f.cw(c) + (x / sx))
            x += 1
          }
          y += 1
        }
        out
      }
    }
    DecodedJpeg(f.w, f.h, f.nComp, ri, planes)
  }

  /** The JPEG writer every encoder shares: marker segments (B.1.1.4)
    * and the entropy-coded data between them — MSB-first bits with
    * FF → FF 00 stuffing (B.1.1.5), Huffman symbols, and
    * category-plus-magnitude values. */
  private final class JWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0; private var nb = 0; private var rst = 0

    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, payload: Array[Byte]): Unit = {
      marker(m); putBe16(out, payload.length + 2); out.write(payload)
    }
    /** SOI, then the JFIF APP0 segment (version 1.1, 1:1 aspect). */
    def start(): Unit = {
      marker(0xd8)
      seg(0xe0, "JFIF".getBytes("US-ASCII") ++
        Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    }
    /** One DQT per table, table id = position, 8-bit zigzag entries. */
    def dqt(qTabs: Array[Array[Int]]): Unit =
      qTabs.zipWithIndex.foreach { case (q, id) =>
        seg(0xdb, id.toByte +: q.map(_.toByte))
      }
    /** Frame header: 8-bit precision, components 1..n with sampling
      * `samp(c)` (H<<4|V) and quant table `tq(c)`. */
    def sof(m: Int, w: Int, h: Int, samp: Array[Int], tq: Array[Int]): Unit = {
      val p = new java.io.ByteArrayOutputStream()
      p.write(8); putBe16(p, h); putBe16(p, w); p.write(samp.length)
      for (c <- samp.indices) { p.write(c + 1); p.write(samp(c)); p.write(tq(c)) }
      seg(m, p.toByteArray)
    }
    def dht(cls: Int, id: Int, t: JHuff): Unit =
      seg(0xc4, ((cls << 4) | id).toByte +: (t.bits ++ t.vals).map(_.toByte))
    def dri(ri: Int): Unit =
      if (ri > 0) seg(0xdd, Array((ri >> 8).toByte, ri.toByte))
    /** Scan header: components `comps` (0-based) with table selectors
      * `sel(c)` (Td<<4|Ta), then Ss, Se and Ah<<4|Al. */
    def sos(comps: Seq[Int], sel: Int => Int, ss: Int, se: Int,
        ahAl: Int): Unit = {
      val p = new java.io.ByteArrayOutputStream()
      p.write(comps.length)
      comps.foreach { c => p.write(c + 1); p.write(sel(c)) }
      p.write(ss); p.write(se); p.write(ahAl)
      seg(0xda, p.toByteArray)
      rst = 0
    }

    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); nb += 1
        if (nb == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00)
          acc = 0; nb = 0
        }
        i -= 1
      }
    }
    /** 1-fill to the byte boundary (B.2.1.1 segment padding). */
    def pad(): Unit = while (nb != 0) put(1, 1)
    /** Pads, then RSTn in sequence (the count restarts at each SOS). */
    def restart(): Unit = { pad(); marker(0xd0 + rst); rst = (rst + 1) % 8 }
    def sym(t: JHuff, s: Int): Unit = {
      require(t.len(s) > 0, f"no Huffman code for symbol 0x$s%02x")
      put(t.code(s), t.len(s))
    }
    /** Category-plus-magnitude coding (F.1.2.1): the symbol
      * `run << 4 | size(v)`, then the size(v) low bits of v (of v − 1
      * when negative). DC differences and lossless residuals use run 0. */
    def value(t: JHuff, run: Int, v: Int): Unit = {
      val size = 32 - Integer.numberOfLeadingZeros(math.abs(v))
      sym(t, (run << 4) | size)
      if (size > 0) put(if (v < 0) v + (1 << size) - 1 else v, size)
    }
    /** Pads the entropy data, writes EOI and returns the stream. */
    def finish(): Array[Byte] = { pad(); marker(0xd9); out.toByteArray }
  }

  /** The DCT encoders' frame: `sampling` null = all 1×1; luma uses
    * quant table 0, chroma table 1 when there is one. */
  private def jEncFrame(w: Int, h: Int, nComp: Int, sampling: Array[Int],
      qTabs: Array[Array[Int]]): JFrame = {
    require(nComp == 1 || nComp == 3, s"nComp=$nComp")
    new JFrame(w, h,
      if (sampling == null) Array.fill(nComp)(0x11) else sampling,
      Array.tabulate(nComp)(c => if (c == 0) 0 else math.min(1, qTabs.length - 1)))
  }

  /** Structurally-valid JPEG shell encoder — fixture generator for the
    * header-sniff path. Emits the real marker sequence (SOI, APP0/JFIF,
    * a COM the sniffer must skip, DQT, SOF0 or SOF2, DHT, SOS +
    * byte-stuffed entropy data, EOI) with true dimensions in the SOF.
    * The entropy payload is deterministic filler (not a decodable
    * image — that needs a codec library); every marker/length field is
    * spec-correct, which is exactly what a dimension sniffer exercises. */
  def encodeJpegShell(w: Int, h: Int, progressive: Boolean,
      entropy: Array[Byte]): Array[Byte] = {
    val out = new JWriter
    out.start()
    out.seg(0xfe, "graft fixture".getBytes("US-ASCII")) // COM: must be skipped
    out.dqt(Array(Array.fill(64)(16)))
    out.sof(if (progressive) 0xc2 else 0xc0, w, h, Array.fill(3)(0x11),
      new Array[Int](3))
    out.seg(0xc4, Array.tabulate[Byte](17 + 1)(i => if (i == 0) 0 else 1)) // DHT
    out.sos(0 until 3, _ => 0, 0, 63, 0)
    // entropy-coded filler, 0xFF byte-stuffed per the spec (FF 00)
    entropy.foreach(v => out.put(v & 0xff, 8))
    out.finish()
  }

  /** Real JPEG header sniff (ITU T.81 §B): the shared marker walk —
    * segments skipped by their declared big-endian size, fill bytes and
    * standalone markers handled, SOS entropy data scanned with
    * byte-stuffing (FF 00) and restart markers (FF D0–D7) honored —
    * until any SOFn yields (width, height, progressive?, n_comp).
    * Throws on non-JPEG, truncated segments, or a missing SOF. */
  def decodeJpegDims(b: Array[Byte]): (Int, Int, Boolean, Int) = {
    val walk = new JpegWalk(b, _ => true)
    var m = walk.next()
    while (m == 0xda) {
      // entropy data: runs to the next marker that is not FF 00 or RSTn
      var i = walk.at
      while ({
        require(i + 1 < b.length, "truncated entropy data")
        val nx = b(i + 1) & 0xff
        (b(i) & 0xff) != 0xff || nx == 0x00 || (nx >= 0xd0 && nx <= 0xd7)
      }) i += 1
      walk.at = i
      m = walk.next()
    }
    require(m != 0xd9, "no SOF marker before EOI")
    val h = jBe16(b, walk.seg + 3); val w = jBe16(b, walk.seg + 5)
    val nc = jU8(b, walk.seg + 7)
    require(w > 0 && h > 0 && nc > 0, s"bad SOF ${w}x$h/$nc")
    (w, h, m == 0xc2, nc)
  }

  /** Baseline JFIF encoder over QUANTIZED-COEFFICIENT blocks: the
    * fixture generator hands `coefs(c, bx, by)` → 64 zigzag-order
    * quantized values (bx/by in the component's SUBSAMPLED block
    * grid), and this writes the real byte stream — SOI, APP0, one DQT
    * per table, SOF0, the four Annex K DHTs, optional DRI + RSTn
    * resync with DC-predictor reset, SOS, interleaved-MCU stuffed
    * entropy data, EOI. `sampling` packs H<<4|V per component (null =
    * all 1×1); components 0 use table/Huffman set 0 (luma),
    * components 1+ set 1 (chroma). */
  def encodeJpegBaseline(w: Int, h: Int, nComp: Int, restartInterval: Int,
      qTabs: Array[Array[Int]],
      coefs: (Int, Int, Int) => Array[Int],
      sampling: Array[Int] = null,
      sofMarker: Int = 0xc0): Array[Byte] = {
    val f = jEncFrame(w, h, nComp, sampling, qTabs)
    // SOF1 (extended sequential, Huffman) at 8 bits is byte-compatible
    // with baseline apart from the frame marker — the fixture rotates
    // it in so the decoder's SOF1 route is exercised cross-engine
    require(sofMarker == 0xc0 || sofMarker == 0xc1, f"SOF 0x$sofMarker%02x")
    val out = new JWriter
    out.start(); out.dqt(qTabs); out.sof(sofMarker, w, h, f.samp, f.tq)
    out.dht(0, 0, jDcLuma); out.dht(1, 0, jAcLuma)
    if (nComp > 1) { out.dht(0, 1, jDcChroma); out.dht(1, 1, jAcChroma) }
    out.dri(restartInterval)
    out.sos(0 until nComp, c => if (c == 0) 0x00 else 0x11, 0, 63, 0)
    val preds = new Array[Int](nComp)
    var mcu = 0
    for (my <- 0 until f.mcusY; mx <- 0 until f.mcusX) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        out.restart(); java.util.Arrays.fill(preds, 0)
      }
      // one block: DC difference, then AC (run, size) symbols with ZRL
      // for 16-zero runs and EOB closing any trailing zero tail
      for (c <- 0 until nComp; bv <- 0 until f.sV(c); bu <- 0 until f.sH(c)) {
        val zz = coefs(c, mx * f.sH(c) + bu, my * f.sV(c) + bv)
        val ac = if (c == 0) jAcLuma else jAcChroma
        out.value(if (c == 0) jDcLuma else jDcChroma, 0, zz(0) - preds(c))
        preds(c) = zz(0)
        var k = 1; var run = 0
        while (k < 64) {
          if (zz(k) == 0) run += 1
          else {
            while (run > 15) { out.sym(ac, 0xf0); run -= 16 }
            out.value(ac, run, zz(k))
            run = 0
          }
          k += 1
        }
        if (run > 0) out.sym(ac, 0x00) // EOB
      }
      mcu += 1
    }
    out.finish()
  }

  /** Decoded JPEG: true dims, restart interval as parsed from DRI
    * (0 = none), one w·h pixel plane (0..255) per component —
    * subsampled chroma planes are upsampled to full resolution by
    * sample replication (see [[jReconstruct]]). */
  case class DecodedJpeg(w: Int, h: Int, nComp: Int, ri: Int,
      planes: Array[Array[Int]])

  /** Sequential JPEG DECODER (SOF0 baseline and SOF1 extended
    * sequential at 8 bits; scope as in the codec header — progressive
    * and lossless streams are rejected by name). The shared marker
    * walk collects DQT/DHT/DRI and the frame; one interleaved scan is
    * entropy-decoded in MCU order (A.2.3: each MCU carries Hc×Vc data
    * units per component) with DC prediction, EXTEND sign recovery and
    * RSTn resync (DC predictors reset), into the coefficient store the
    * shared back half reconstructs. */
  def decodeJpegBaseline(bytes: Array[Byte]): DecodedJpeg = {
    // SOF1 differs from baseline only in the limits it lifts — 12-bit
    // precision (rejected, same as SOF0's 8-bit gate) and a 4-table
    // budget the walk's tables already hold — so the 8-bit profile
    // decodes on the exact SOF0 path
    val walk = new JpegWalk(bytes, m => m == 0xc0 || m == 0xc1)
    var f: JFrame = null
    var m = walk.next()
    while (m != 0xda) {
      require(m != 0xd9, "EOI before SOS")
      f = jDctFrame(bytes, walk.seg, "baseline")
      m = walk.next()
    }
    require(f != null, "SOS before SOF")
    val ns = jU8(bytes, walk.seg + 2)
    require(ns == f.nComp, "partial scans unsupported")
    val sel = Array.tabulate(ns)(c => jU8(bytes, walk.seg + 4 + 2 * c))
    val dcs = sel.map(s => walk.dcT(s >> 4))
    val acs = sel.map(s => walk.acT(s & 0x0f))
    require(!dcs.contains(null) && !acs.contains(null), "missing Huffman table")
    val coefs = f.newCoefs()
    val in = new JBitR(bytes, walk.at)
    val preds = new Array[Int](ns)
    var mcu = 0
    for (my <- 0 until f.mcusY; mx <- 0 until f.mcusX) {
      if (walk.ri > 0 && mcu > 0 && mcu % walk.ri == 0) {
        in.restart(); java.util.Arrays.fill(preds, 0)
      }
      for (c <- 0 until ns; bv <- 0 until f.sV(c); bu <- 0 until f.sH(c)) {
        val zz = coefs(c)
        val off = ((my * f.sV(c) + bv) * f.padW(c) + mx * f.sH(c) + bu) * 64
        preds(c) += in.extend(in.decodeSym(dcs(c)))
        zz(off) = preds(c)
        var k = 1
        while (k < 64) {
          val sym = in.decodeSym(acs(c))
          if (sym == 0x00) k = 64 // EOB
          else if (sym == 0xf0) k += 16 // ZRL
          else {
            k += sym >> 4
            require(k < 64, "AC run past block end")
            zz(off + k) = in.extend(sym & 0x0f)
            k += 1
          }
        }
      }
      mcu += 1
    }
    jReconstruct(f, walk.qt, coefs, walk.ri)
  }

  /** q_multimodal_jpeg_decode's fixture: a real baseline JPEG whose
    * image is PER-BLOCK CONSTANT — block (c, bx, by) holds value
    * (id·31 + c·17 + by·7 + bx·3) mod 256 — with Q(0,0) = 8, making
    * the decode exactly lossless (see the codec header note). Varies
    * dims (incl. non-multiple-of-8 → partial-MCU crop), component
    * count (grayscale / 4:4:4), and restart interval per doc_id. */
  def jpegFixture(id: Long): Array[Byte] = {
    val bw = (id % 4).toInt + 2; val bh = (id % 3).toInt + 2
    val w = 8 * bw - (id % 5).toInt; val h = 8 * bh - (id % 3).toInt
    val nComp = if (id % 2 == 0) 1 else 3
    val ri = if (id % 3 == 0) 2 else 0
    encodeJpegBaseline(w, h, nComp, ri,
      if (nComp == 1) Array(jQLuma) else Array(jQLuma, jQChroma),
      (c, bx, by) => {
        val v = ((id * 31 + c * 17 + by * 7 + bx * 3) % 256).toInt
        val zz = new Array[Int](64)
        zz(0) = v - 128 // quantized DC: 8·(v−128)/Q00 = v−128 exactly
        zz
      },
      // every 7th stream carries the SOF1 (extended sequential)
      // frame marker — same 8-bit payload, so the oracle's pixel
      // algebra is untouched while the decoder's SOF1 route runs
      // cross-engine
      sofMarker = if (id % 7 == 0) 0xc1 else 0xc0)
  }

  /** q_multimodal_jpeg420's fixture: a 4:2:0 baseline JPEG (luma 2×2,
    * chroma 1×1 — the layout virtually every camera/web JPEG uses).
    * Luma is per-8×8-block constant on its FULL-RES grid; each chroma
    * is per-MCU constant on its SUBSAMPLED grid, so replication
    * upsampling reproduces it exactly and the whole decode stays
    * lossless under the Q(0,0)=8 contract. Dims are non-multiples of
    * 16, exercising partial-MCU padding blocks on both axes. */
  def jpegFixture420(id: Long): Array[Byte] = {
    val mw = (id % 3).toInt + 1; val mh = (id % 2).toInt + 1
    val w = 16 * mw - (id % 7).toInt; val h = 16 * mh - (id % 5).toInt
    val ri = if (id % 3 == 0) 2 else 0
    encodeJpegBaseline(w, h, 3, ri, Array(jQLuma, jQChroma),
      (c, bx, by) => {
        val v =
          if (c == 0) ((id * 31 + by * 7 + bx * 3) % 256).toInt
          else ((id * 31 + c * 17 + by * 7 + bx * 3) % 256).toInt
        val zz = new Array[Int](64)
        zz(0) = v - 128
        zz
      },
      sampling = Array(0x22, 0x11, 0x11))
  }

  /** PROGRESSIVE JFIF encoder over the same quantized-coefficient
    * callback as [[encodeJpegBaseline]] — the fixture generator for
    * [[decodeJpegProgressive]] and MultimodalSpec's equivalence tests.
    * Writes SOF2 and the canonical successive-approximation scan
    * script (T.81 Annex G; the libjpeg default's shape):
    *   1. DC first, interleaved, Al=1
    *   2. per component: AC 1..5 first, Al=1 (spectral band split)
    *   3. per component: AC 6..63 first, Al=1
    *   4. DC refine, interleaved, Ah=1 Al=0
    *   5. per component: AC 1..63 refine, Ah=1 Al=0
    * AC scans are single-component over the component's OWN ceil
    * block grid (A.2.2 — excludes the interleaved scan's padding
    * blocks); AC-first uses EOB-run coding, AC-refine the buffered
    * correction-bit discipline (BE bits ride the pending EOB run, BR
    * bits follow their block's symbol — the bit order the decoder's
    * advance walk consumes). Restart intervals count MCUs in the
    * interleaved DC scans and data units in the per-component AC
    * scans, per A.2.4. */
  def encodeJpegProgressive(w: Int, h: Int, nComp: Int,
      restartInterval: Int, qTabs: Array[Array[Int]],
      coefs: (Int, Int, Int) => Array[Int],
      sampling: Array[Int] = null): Array[Byte] = {
    val f = jEncFrame(w, h, nComp, sampling, qTabs)
    // materialize every block once (padded MCU grid — scans re-read)
    val blks = Array.tabulate(nComp)(c =>
      Array.tabulate(f.padH(c) * f.padW(c))(i =>
        coefs(c, i % f.padW(c), i / f.padW(c))))
    val out = new JWriter
    out.start(); out.dqt(qTabs); out.sof(0xc2, w, h, f.samp, f.tq)
    // DC tables per Annex K (unchanged from baseline); ONE shared
    // progressive AC table (id 0) carrying the EOBn symbol family
    out.dht(0, 0, jDcLuma)
    if (nComp > 1) out.dht(0, 1, jDcChroma)
    out.dht(1, 0, jAcProg)
    out.dri(restartInterval)
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit =
      out.sos(comps, c => if (c == 0) 0x00 else 0x10, ss, se, (ah << 4) | al)
    def restartDue(unit: Int): Boolean =
      restartInterval > 0 && unit > 0 && unit % restartInterval == 0
    // ---- scan 1 + 4: DC, interleaved MCU order --------------------
    def dcScan(ah: Int, al: Int): Unit = {
      sos(0 until nComp, 0, 0, ah, al)
      val preds = new Array[Int](nComp)
      var mcu = 0
      for (my <- 0 until f.mcusY; mx <- 0 until f.mcusX) {
        if (restartDue(mcu)) { out.restart(); java.util.Arrays.fill(preds, 0) }
        for (c <- 0 until nComp; bv <- 0 until f.sV(c); bu <- 0 until f.sH(c)) {
          val zz0 =
            blks(c)((my * f.sV(c) + bv) * f.padW(c) + mx * f.sH(c) + bu)(0)
          if (ah == 0) {
            val v = zz0 >> al // arithmetic point transform (G.1.2.1)
            out.value(if (c == 0) jDcLuma else jDcChroma, 0, v - preds(c))
            preds(c) = v
          } else {
            out.put((zz0 >> al) & 1, 1) // one refinement bit per block
          }
        }
        mcu += 1
      }
      out.pad()
    }
    // ---- AC scans: single component, ceil block grid --------------
    // EOBn: the run's bit length as the symbol, then its low bits
    def eobRun(n: Int): Unit = {
      val nbits = 31 - Integer.numberOfLeadingZeros(n)
      out.sym(jAcProg, nbits << 4)
      if (nbits > 0) out.put(n & ((1 << nbits) - 1), nbits)
    }
    def acFirstScan(c: Int, ss: Int, se: Int, al: Int): Unit = {
      sos(Seq(c), ss, se, 0, al)
      var eobrun = 0
      def emitEobrun(): Unit = if (eobrun > 0) { eobRun(eobrun); eobrun = 0 }
      var unit = 0
      for (by <- 0 until f.bH(c); bx <- 0 until f.bW(c)) {
        if (restartDue(unit)) { emitEobrun(); out.restart() }
        val zz = blks(c)(by * f.padW(c) + bx)
        var r = 0
        var k = ss
        while (k <= se) {
          val tv = zz(k)
          val v = if (tv >= 0) tv >> al else -((-tv) >> al)
          if (v == 0) r += 1
          else {
            emitEobrun()
            while (r > 15) { out.sym(jAcProg, 0xf0); r -= 16 }
            out.value(jAcProg, r, v)
            r = 0
          }
          k += 1
        }
        if (r > 0) { eobrun += 1; if (eobrun == 0x7fff) emitEobrun() }
        unit += 1
      }
      emitEobrun()
      out.pad()
    }
    def acRefineScan(c: Int, ss: Int, se: Int, al: Int): Unit = {
      sos(Seq(c), ss, se, al + 1, al)
      var eobrun = 0
      val pendingBE = scala.collection.mutable.ArrayBuffer.empty[Int]
      def emitEobrun(): Unit = if (eobrun > 0) {
        eobRun(eobrun); eobrun = 0
        pendingBE.foreach(bb => out.put(bb, 1)); pendingBE.clear()
      }
      var unit = 0
      val absv = new Array[Int](64)
      for (by <- 0 until f.bH(c); bx <- 0 until f.bW(c)) {
        if (restartDue(unit)) { emitEobrun(); out.restart() }
        val zz = blks(c)(by * f.padW(c) + bx)
        var eobIdx = 0 // last newly-nonzero index (|v|>>Al == 1)
        var k = ss
        while (k <= se) {
          val a = math.abs(zz(k)) >> al
          absv(k) = a
          if (a == 1) eobIdx = k
          k += 1
        }
        var r = 0
        val br = scala.collection.mutable.ArrayBuffer.empty[Int]
        def flushBr(): Unit = { br.foreach(bb => out.put(bb, 1)); br.clear() }
        k = ss
        while (k <= se) {
          val a = absv(k)
          if (a == 0) r += 1
          else {
            // ZRLs only when they can't fold into the trailing EOB
            while (r > 15 && k <= eobIdx) {
              emitEobrun()
              out.sym(jAcProg, 0xf0); r -= 16
              flushBr()
            }
            if (a > 1) br += (a & 1) // history-nonzero: correction bit
            else {
              emitEobrun()
              // newly nonzero: magnitude 1 after the point transform,
              // so category 1 with the sign as its one bit
              out.value(jAcProg, r, if (zz(k) < 0) -1 else 1)
              flushBr()
              r = 0
            }
          }
          k += 1
        }
        if (r > 0 || br.nonEmpty) {
          eobrun += 1; pendingBE ++= br
          if (eobrun == 0x7fff) emitEobrun()
        }
        unit += 1
      }
      emitEobrun()
      out.pad()
    }
    dcScan(0, 1)
    for (c <- 0 until nComp) acFirstScan(c, 1, 5, 1)
    for (c <- 0 until nComp) acFirstScan(c, 6, 63, 1)
    dcScan(1, 0)
    for (c <- 0 until nComp) acRefineScan(c, 1, 63, 0)
    out.finish()
  }

  /** PROGRESSIVE JPEG decoder (SOF2) — spectral selection + successive
    * approximation over the shared walk, entropy reader and back half:
    * quantized coefficients accumulate in the per-component store
    * across every scan ([[jProgressiveScan]]), tables may be redefined
    * between scans, and reconstruction is [[decodeJpegBaseline]]'s —
    * MultimodalSpec pins plane-for-plane equality between a
    * progressive encode and a baseline encode of the SAME coefficient
    * blocks, including irrational AC values. Scope matches baseline;
    * other SOFn frame types are rejected by name. */
  def decodeJpegProgressive(bytes: Array[Byte]): DecodedJpeg = {
    val walk = new JpegWalk(bytes, _ == 0xc2)
    var f: JFrame = null
    var coefs: Array[Array[Int]] = null
    var m = walk.next()
    while (m != 0xd9) {
      if (m == 0xda) {
        require(f != null, "SOS before SOF")
        walk.at = jProgressiveScan(bytes, walk, f, coefs)
      } else {
        f = jDctFrame(bytes, walk.seg, "progressive")
        coefs = f.newCoefs()
      }
      m = walk.next()
    }
    require(f != null, "no SOF2 frame before EOI")
    jReconstruct(f, walk.qt, coefs, walk.ri)
  }

  /** One progressive scan into `coefs`: DC first / refine over the
    * interleaved MCU grid or one component's block grid; AC first with
    * EOB-run coding; AC refine with the correction-bit advance walk
    * (T.81 G.2 / libjpeg's decode_mcu_AC_refine shape). Restarts reset
    * the DC predictors AND the EOB run. Returns the offset of the
    * marker after the scan's entropy data. */
  private def jProgressiveScan(b: Array[Byte], walk: JpegWalk, f: JFrame,
      coefs: Array[Array[Int]]): Int = {
    val at = walk.seg
    val ns = jU8(b, at + 2)
    require(ns > 0, "scan without components")
    val comps = Array.tabulate(ns) { j =>
      val id = jU8(b, at + 3 + 2 * j)
      require(id >= 1 && id <= f.nComp, s"unknown component $id")
      id - 1
    }
    val sel = Array.tabulate(ns)(j => jU8(b, at + 4 + 2 * j))
    val ss = jU8(b, at + 3 + 2 * ns)
    val se = jU8(b, at + 4 + 2 * ns)
    val ah = jU8(b, at + 5 + 2 * ns) >> 4; val al = jU8(b, at + 5 + 2 * ns) & 0x0f
    require(if (ss == 0) se == 0 else ns == 1,
      "progressive scan: DC scans have Se=0, AC scans one component")
    require(se < 64 && ss <= se, s"bad spectral band $ss..$se")
    val in = new JBitR(b, walk.at)
    val ri = walk.ri
    val preds = new Array[Int](ns)
    var eobrun = 0
    def restartIfDue(unit: Int): Unit =
      if (ri > 0 && unit > 0 && unit % ri == 0) {
        in.restart(); java.util.Arrays.fill(preds, 0); eobrun = 0
      }
    if (ss == 0) {
      // DC scan — interleaved MCU order, or one component's grid
      val dcs = sel.map(s => walk.dcT(s >> 4))
      require(ah != 0 || !dcs.contains(null), "missing DC Huffman table")
      def dcBlock(j: Int, c: Int, off: Int): Unit =
        if (ah == 0) {
          preds(j) += in.extend(in.decodeSym(dcs(j)))
          coefs(c)(off) = preds(j) << al
        } else if (in.bit() == 1) coefs(c)(off) |= (1 << al)
      var mcu = 0
      if (ns > 1) {
        for (my <- 0 until f.mcusY; mx <- 0 until f.mcusX) {
          restartIfDue(mcu)
          for (j <- 0 until ns) {
            val c = comps(j)
            for (bv <- 0 until f.sV(c); bu <- 0 until f.sH(c))
              dcBlock(j, c,
                ((my * f.sV(c) + bv) * f.padW(c) + mx * f.sH(c) + bu) * 64)
          }
          mcu += 1
        }
      } else {
        val c = comps(0)
        for (by <- 0 until f.bH(c); bx <- 0 until f.bW(c)) {
          restartIfDue(mcu)
          dcBlock(0, c, (by * f.padW(c) + bx) * 64)
          mcu += 1
        }
      }
    } else {
      // AC scan — one component, ceil block grid (A.2.2)
      val c = comps(0)
      val act = walk.acT(sel(0) & 0x0f)
      require(act != null, "missing AC Huffman table")
      val zz = coefs(c)
      val p1 = 1 << al; val m1 = -(1 << al)
      var unit = 0
      for (by <- 0 until f.bH(c); bx <- 0 until f.bW(c)) {
        restartIfDue(unit)
        val off = (by * f.padW(c) + bx) * 64
        if (ah == 0) {
          // AC first pass (G.2.1 / decode_mcu_AC_first)
          if (eobrun > 0) eobrun -= 1
          else {
            var k = ss
            while (k <= se) {
              val sym = in.decodeSym(act)
              val r = sym >> 4; val sz = sym & 0x0f
              if (sz != 0) {
                k += r
                require(k <= se, "AC run past band end")
                zz(off + k) = in.extend(sz) << al
                k += 1
              } else if (r == 15) k += 16 // ZRL
              else {
                eobrun = (1 << r) + in.bits(r) - 1
                k = se + 1
              }
            }
          }
        } else {
          // AC refinement pass (G.2.2 / decode_mcu_AC_refine)
          var k = ss
          if (eobrun == 0) {
            var atEob = false
            while (k <= se && !atEob) {
              val sym = in.decodeSym(act)
              var r = sym >> 4; val sz = sym & 0x0f
              var newVal = 0
              if (sz == 0) {
                if (r != 15) {
                  eobrun = (1 << r) + in.bits(r)
                  atEob = true
                } // r == 15: ZRL — 16 zero-history skips below
              } else {
                require(sz == 1, s"refine symbol size $sz")
                newVal = if (in.bit() == 1) p1 else m1
              }
              if (!atEob) {
                // advance walk: correction bits for nonzero-history
                // coefficients passed, r zero-history skips, then
                // place the new value (if any)
                var placed = false
                while (k <= se && !placed) {
                  val cv = zz(off + k)
                  if (cv != 0) {
                    if (in.bit() == 1 && (cv & p1) == 0)
                      zz(off + k) = cv + (if (cv >= 0) p1 else m1)
                  } else {
                    if (r == 0) {
                      if (newVal != 0) zz(off + k) = newVal
                      placed = true
                    } else r -= 1
                  }
                  k += 1
                }
              }
            }
          }
          if (eobrun > 0) {
            // EOB-run tail: correction bits only, rest of band
            while (k <= se) {
              val cv = zz(off + k)
              if (cv != 0 && in.bit() == 1 && (cv & p1) == 0)
                zz(off + k) = cv + (if (cv >= 0) p1 else m1)
              k += 1
            }
            eobrun -= 1
          }
        }
        unit += 1
      }
    }
    in.align() // step over trailing stuffed pad bytes to the next marker
    in.pos
  }

  /** T.81 Annex H lossless prediction: neighbors a (left), b (above),
    * c (above-left); boundary rules H.1.1 — the very first sample
    * predicts 2^(P−Pt−1), the rest of the first line predicts from a,
    * each later line's first sample from b. Shared by the lossless
    * encoder and decoder so the two sides cannot diverge. */
  private def jPredict(a: Int, b: Int, c: Int, x: Int, y: Int,
      psel: Int, p: Int, pt: Int): Int =
    if (y == 0 && x == 0) 1 << (p - pt - 1)
    else if (y == 0) a
    else if (x == 0) b
    else psel match {
      case 1 => a
      case 2 => b
      case 3 => c
      case 4 => a + b - c
      case 5 => a + ((b - c) >> 1)
      case 6 => b + ((a - c) >> 1)
      case 7 => (a + b) >> 1
      case _ => throw new IllegalArgumentException(s"predictor $psel")
    }

  /** LOSSLESS JPEG encoder (SOF3, T.81 Annex H): no DCT, no
    * quantization — each sample's prediction residual (selected
    * predictor 1-7 in the scan header's Ss field, optional point
    * transform in Al) is Huffman-coded with the DC
    * category+magnitude-bits machinery. 8-bit precision, 1×1
    * sampling, interleaved raster MCU order (one sample per component
    * per MCU). The profile medical/astronomy archives actually used
    * before JPEG-LS. */
  def encodeJpegLossless(w: Int, h: Int, nComp: Int, predictor: Int,
      pix: (Int, Int, Int) => Int, pt: Int = 0): Array[Byte] = {
    require(nComp == 1 || nComp == 3, s"nComp=$nComp")
    require(predictor >= 1 && predictor <= 7, s"predictor=$predictor")
    require(pt >= 0 && pt < 8, s"point transform $pt")
    val out = new JWriter
    out.start()
    out.sof(0xc3, w, h, Array.fill(nComp)(0x11), new Array[Int](nComp)) // Tq unused (H.1)
    out.dht(0, 0, jDcLuma)
    if (nComp > 1) out.dht(0, 1, jDcChroma)
    out.sos(0 until nComp, c => if (c == 0) 0x00 else 0x10, predictor, 0, pt)
    val prev = Array.ofDim[Int](nComp, w)
    val cur = Array.ofDim[Int](nComp, w)
    for (y <- 0 until h) {
      for (x <- 0 until w; c <- 0 until nComp) {
        val s = (pix(c, x, y) & 0xff) >> pt
        val a = if (x > 0) cur(c)(x - 1) else 0
        val bb = if (y > 0) prev(c)(x) else 0
        val cc = if (x > 0 && y > 0) prev(c)(x - 1) else 0
        val px = jPredict(a, bb, cc, x, y, predictor, 8, pt)
        cur(c)(x) = s
        out.value(if (c == 0) jDcLuma else jDcChroma, 0, s - px)
      }
      for (c <- 0 until nComp) Array.copy(cur(c), 0, prev(c), 0, w)
    }
    out.finish()
  }

  /** LOSSLESS JPEG decoder (SOF3) — predictive reconstruction per
    * T.81 Annex H over the shared [[jPredict]] rules, residuals
    * through the shared entropy reader (the DC path's
    * canonical-Huffman/EXTEND machinery), mod-2¹⁶ reconstruction,
    * point-transform upscale on output. By definition EXACT: every
    * decoded sample equals the encoder's input bit-for-bit, so the
    * cross-engine oracle can pin ARBITRARY pixel content, not just the
    * DCT fixtures' per-block constants. Scope: 8-bit precision, 1×1
    * sampling, single interleaved scan, no restarts (a DRI in a
    * lossless stream rejects loudly — the spec's restart-reset rules
    * for lossless are a codec-library corner this sandbox has no
    * fixture source for). */
  def decodeJpegLossless(bytes: Array[Byte]): DecodedJpeg = {
    val walk = new JpegWalk(bytes, _ == 0xc3)
    var w = -1; var h = -1; var nComp = 0
    var m = walk.next()
    while (m != 0xda) {
      require(m != 0xd9, "EOI before SOS")
      val at = walk.seg
      val prec = jU8(bytes, at + 2)
      require(prec == 8, s"only 8-bit lossless (precision $prec)")
      h = jBe16(bytes, at + 3); w = jBe16(bytes, at + 5)
      nComp = jU8(bytes, at + 7)
      require(w > 0 && h > 0, s"bad dims ${w}x$h")
      for (c <- 0 until nComp)
        require(jU8(bytes, at + 9 + 3 * c) == 0x11,
          "lossless decoder supports 1x1 sampling only")
      m = walk.next()
    }
    require(nComp > 0, "SOS before SOF")
    require(walk.ri == 0,
      "restart intervals in lossless JPEG: codec-library route")
    val at = walk.seg
    val ns = jU8(bytes, at + 2)
    require(ns == nComp, "lossless decoder expects one full scan")
    val dcs = Array.tabulate(ns)(c => walk.dcT(jU8(bytes, at + 4 + 2 * c) >> 4))
    require(!dcs.contains(null), "missing Huffman table")
    val psel = jU8(bytes, at + 3 + 2 * ns)
    val pt = jU8(bytes, at + 5 + 2 * ns) & 0x0f
    require(psel >= 1 && psel <= 7, s"predictor $psel")
    val in = new JBitR(bytes, walk.at)
    val planes = Array.fill(nComp)(new Array[Int](w * h))
    val prev = Array.ofDim[Int](nComp, w)
    val cur = Array.ofDim[Int](nComp, w)
    val maxV = (1 << (8 - pt)) - 1
    for (y <- 0 until h) {
      for (x <- 0 until w; c <- 0 until nComp) {
        val t = in.decodeSym(dcs(c))
        // category 16 (16-bit profiles) carries no magnitude bits and
        // means +32768 (H.1.2.2); unreachable at 8-bit but spec-true
        val diff = if (t == 16) 32768 else in.extend(t)
        val a = if (x > 0) cur(c)(x - 1) else 0
        val bb = if (y > 0) prev(c)(x) else 0
        val cc = if (x > 0 && y > 0) prev(c)(x - 1) else 0
        val px = jPredict(a, bb, cc, x, y, psel, 8, pt)
        val v = (px + diff) & 0xffff // mod-2^16 reconstruction (H.1.2.1)
        require(v <= maxV, s"reconstructed sample $v out of range at " +
          s"($x,$y) c$c — corrupt stream or predictor mismatch")
        cur(c)(x) = v
        planes(c)(y * w + x) = v << pt
      }
      for (c <- 0 until nComp) Array.copy(cur(c), 0, prev(c), 0, w)
    }
    DecodedJpeg(w, h, nComp, 0, planes)
  }

  /** q_multimodal_jpeg_lossless's fixture: a real SOF3 stream whose
    * pixels are an ARBITRARY deterministic function of
    * (doc_id, c, x, y) — lossless decode owes back every bit, so no
    * constant-block contract is needed and every one of the seven
    * Annex H predictors (doc_id-selected) is exercised cross-engine:
    * a predictor slip anywhere breaks the exact pixel statistics. */
  def jpegFixtureLossless(id: Long): Array[Byte] = {
    val w = (id % 5).toInt * 6 + 9
    val h = (id % 4).toInt * 5 + 8
    val nComp = if (id % 2 == 0) 1 else 3
    val psel = (id % 7).toInt + 1
    encodeJpegLossless(w, h, nComp, psel,
      (c, x, y) => ((id * 13 + c * 29 + y * 7 + x * 3) % 256).toInt)
  }

  /** q_multimodal_jpeg_prog's fixture: a real PROGRESSIVE JPEG
    * (SOF2, the 5-stage scan script) whose image is per-block constant
    * with Q(0,0) = 8 — the decode-exactness contract extends because
    * DC survives the successive-approximation split exactly
    * ((v>>1)<<1 | low-bit reconstructs v for any sign) and the AC
    * scans carry pure EOB runs. Varies dims (partial-MCU crops),
    * grayscale / 4:4:4, and restart interval per doc_id — restarts
    * exercise the per-scan RSTn resync in BOTH the interleaved DC
    * walk and the per-component AC walks. */
  def jpegFixtureProg(id: Long): Array[Byte] = {
    val bw = (id % 3).toInt + 2; val bh = (id % 4).toInt + 2
    val w = 8 * bw - (id % 7).toInt; val h = 8 * bh - (id % 5).toInt
    val nComp = if (id % 2 == 0) 3 else 1
    val ri = if (id % 3 == 0) 2 else 0
    encodeJpegProgressive(w, h, nComp, ri,
      if (nComp == 1) Array(jQLuma) else Array(jQLuma, jQChroma),
      (c, bx, by) => {
        val v = ((id * 37 + c * 19 + by * 5 + bx * 11) % 256).toInt
        val zz = new Array[Int](64)
        zz(0) = v - 128 // quantized DC: 8·(v−128)/Q00 = v−128 exactly
        zz
      })
  }

  /** GIF-variant LZW compression of an index stream (the real thing:
    * variable-width codes starting at m+1 bits, clear prefix, EOI
    * suffix, dictionary growth to 4096 then freeze, LSB-first bit
    * packing). Width discipline — derived, and pinned by the
    * round-trip property in MultimodalSpec: the encoder adds its entry
    * ONE code ahead of the decoder (emit-then-add vs read-then-add),
    * so the encoder bumps when `next - 1` reaches 2^width while the
    * decoder bumps when `next` does; the off-by-one in the rules
    * cancels the one-entry lag and both sides read/emit every code at
    * the same width. */
  private[graft] def lzwCompress(indices: Array[Int], m: Int): Array[Byte] = {
    require(indices.nonEmpty && m >= 2, "empty stream or bad code size")
    val clear = 1 << m; val eoi = clear + 1
    var width = m + 1
    var next = eoi + 1
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nBits = 0
    def write(code: Int): Unit = {
      acc |= code.toLong << nBits; nBits += width
      while (nBits >= 8) { out.write((acc & 0xff).toInt); acc >>= 8; nBits -= 8 }
    }
    write(clear)
    var cur = indices(0)
    require(cur >= 0 && cur < clear, s"index $cur out of palette")
    var k = 1
    while (k < indices.length) {
      val x = indices(k)
      require(x >= 0 && x < clear, s"index $x out of palette")
      dict.get((cur, x)) match {
        case Some(c) => cur = c
        case None =>
          write(cur)
          if (next < 4096) {
            dict((cur, x)) = next
            next += 1
            if (next - 1 == (1 << width) && width < 12) width += 1
          }
          cur = x
      }
      k += 1
    }
    write(cur)
    // the decoder allocates one more entry after reading the final data
    // code (its adds lag the encoder's by one code, and the final code
    // has no encoder-side add to re-sync on) — mirror that allocation
    // virtually, or an EOI landing exactly on a width boundary is
    // written one bit narrower than the decoder reads it. A
    // single-data-code stream triggers no decoder add (the first code
    // is a bare root), so the mirror applies only when ≥2 codes exist.
    if (indices.length >= 2 && next < 4096) {
      next += 1
      if (next - 1 == (1 << width) && width < 12) width += 1
    }
    write(eoi)
    if (nBits > 0) out.write((acc & 0xff).toInt)
    out.toByteArray
  }

  /** Inverse of [[lzwCompress]]: decode a GIF LZW code stream back to
    * its palette-index stream. Handles the KwKwK case (a code equal to
    * the pending entry), mid-stream clear codes, and the 4096-entry
    * freeze; throws on truncated streams, out-of-range codes, or a
    * missing EOI. */
  private[graft] def lzwDecode(data: Array[Byte], m: Int): Array[Int] = {
    val clear = 1 << m; val eoi = clear + 1
    var width = m + 1
    val prefix = new Array[Int](4096); val suffix = new Array[Int](4096)
    var next = eoi + 1
    var prev = -1
    val out = Array.newBuilder[Int]
    var acc = 0L; var nBits = 0; var pos = 0
    def read(): Int = {
      while (nBits < width) {
        require(pos < data.length, "truncated LZW stream (no EOI)")
        acc |= (data(pos) & 0xffL) << nBits; nBits += 8; pos += 1
      }
      val c = (acc & ((1L << width) - 1)).toInt
      acc >>= width; nBits -= width
      c
    }
    // expand a code's string; returns its FIRST index (needed for the
    // entry the decoder is one step behind on)
    val stack = new Array[Int](4096)
    def expand(code: Int): Int = {
      var top = 0
      var c = code
      while (c >= clear + 2) {
        require(c < next, s"code $c references an unassigned entry")
        stack(top) = suffix(c); top += 1; c = prefix(c)
      }
      require(c < clear, s"dangling code chain at $c")
      stack(top) = c; top += 1
      val first = c
      while (top > 0) { top -= 1; out += stack(top) }
      first
    }
    var done = false
    while (!done) {
      val code = read()
      if (code == clear) {
        next = eoi + 1; width = m + 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev == -1) {
        require(code < clear, s"first code $code is not a root")
        out += code
        prev = code
      } else {
        val first =
          if (code < next) expand(code)
          else {
            require(code == next, s"code $code skips the pending entry")
            // KwKwK: str(prev) + first(str(prev))
            val f = firstOf(prev, prefix, clear)
            expand(prev)
            out += f
            f
          }
        if (next < 4096) {
          prefix(next) = prev; suffix(next) = first
          next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
      }
    }
    out.result()
  }

  private def firstOf(code: Int, prefix: Array[Int], clear: Int): Int = {
    var c = code
    while (c >= clear + 2) c = prefix(c)
    c
  }

  /** A real GIF89a: logical screen descriptor, 4-entry global color
    * table (palette j → (40j+5, 40j+10, 40j+15)), image descriptor,
    * and the pixel indices ACTUALLY LZW-compressed by [[lzwCompress]]
    * into ≤255-byte sub-blocks — unlike [[encodeGifShell]]'s
    * header-only shell, this round-trips through a full decode. */
  def encodeGif(w: Int, h: Int, idx: Int => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    putLe16(out, w); putLe16(out, h)
    out.write(0x81) // GCT present, 2 bits/pixel → 4 entries
    out.write(0); out.write(0)
    (0 until 4).foreach { j =>
      out.write(j * 40 + 5); out.write(j * 40 + 10); out.write(j * 40 + 15)
    }
    out.write(0x2c)
    putLe16(out, 0); putLe16(out, 0); putLe16(out, w); putLe16(out, h)
    out.write(0) // no LCT, not interlaced
    out.write(2) // LZW minimum code size
    val lzw = lzwCompress(Array.tabulate(w * h)(idx), 2)
    var o = 0
    while (o < lzw.length) {
      val n = math.min(255, lzw.length - o)
      out.write(n); out.write(lzw, o, n); o += n
    }
    out.write(0) // block terminator
    out.write(0x3b)
    out.toByteArray
  }

  /** Full GIF decode: header + logical screen descriptor + global color
    * table, extension blocks skipped by their sub-block lengths, image
    * descriptor, sub-blocks reassembled, [[lzwDecode]] run, and exact
    * integer statistics over the decoded indices — pixel count,
    * Σindex, and ΣRGB through the palette READ FROM THE FILE (not
    * assumed). Throws on non-GIF magic, interlaced/local-palette
    * images (not in this fixture family), size mismatches, or
    * truncation. */
  def decodeGif(bytes: Array[Byte]): (Int, Int, Long, Long, Long) = {
    // every read is bounds-checked: a cut anywhere is a typed rejection
    def u(o: Int): Int = {
      require(o < bytes.length, s"truncated GIF at byte $o")
      bytes(o) & 0xff
    }
    def u16(o: Int): Int = u(o) | u(o + 1) << 8
    require(bytes.length >= 13, "truncated GIF")
    val magic = new String(bytes, 0, 6, "US-ASCII")
    require(magic == "GIF89a" || magic == "GIF87a", s"not a GIF: $magic")
    val w = le16(bytes, 6); val h = le16(bytes, 8)
    val packed = u(10)
    var o = 13
    var palette: Array[Int] = Array.empty
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 7) + 1)
      palette = Array.tabulate(n)(j => u(o + 3 * j) + u(o + 3 * j + 1) +
        u(o + 3 * j + 2))
      o += 3 * n
    }
    // walk blocks to the first image descriptor
    while (u(o) == 0x21) { // extension: label + sub-blocks
      o += 2
      while (u(o) != 0) o += 1 + u(o)
      o += 1
    }
    require(u(o) == 0x2c, "no image descriptor")
    val iw = u16(o + 5); val ih = u16(o + 7)
    val ipacked = u(o + 9)
    require((ipacked & 0x80) == 0, "local color tables unsupported here")
    require((ipacked & 0x40) == 0, "interlaced GIFs unsupported here")
    require(iw == w && ih == h, "frame does not fill the screen")
    o += 10
    val m = u(o); o += 1
    val data = new java.io.ByteArrayOutputStream()
    while (u(o) != 0) {
      val n = u(o)
      require(o + 1 + n <= bytes.length, "truncated GIF sub-block")
      data.write(bytes, o + 1, n); o += 1 + n
    }
    val idx = lzwDecode(data.toByteArray, m)
    require(idx.length == w * h,
      s"decoded ${idx.length} pixels for a $w×$h frame")
    var iSum = 0L; var rgbSum = 0L
    idx.foreach { i =>
      require(i < palette.length, s"index $i outside the color table")
      iSum += i; rgbSum += palette(i)
    }
    (w, h, idx.length.toLong, iSum, rgbSum)
  }

  /** Minimal structurally-valid GIF shell (GIF89a): signature, logical
    * screen descriptor with true dimensions, a 2-entry global color
    * table, an image descriptor, a token LZW data block, trailer. Like
    * the JPEG shell: every header field is spec-correct (the sniffing
    * surface); the pixel stream is filler (full LZW needs a codec). */
  def encodeGifShell(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    putLe16(out, w); putLe16(out, h) // logical screen descriptor
    out.write(0x80) // GCT present, 1 bit/pixel → 2 entries
    out.write(0); out.write(0) // background color, aspect
    (0 until 2 * 3).foreach(_ => out.write(0)) // global color table
    out.write(0x2c) // image descriptor
    putLe16(out, 0); putLe16(out, 0); putLe16(out, w); putLe16(out, h)
    out.write(0)
    out.write(2) // LZW minimum code size
    out.write(1); out.write(0x44) // one token data sub-block
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Real GIF dimension parse: signature (87a or 89a accepted) and the
    * little-endian logical screen descriptor. */
  def decodeGifDims(b: Array[Byte]): (Int, Int) = {
    require(b.length >= 10, "truncated GIF")
    val sig = new String(b, 0, 6, "US-ASCII")
    require(sig == "GIF89a" || sig == "GIF87a", "not a GIF")
    val w = le16(b, 6); val h = le16(b, 8)
    require(w > 0 && h > 0, s"bad GIF dimensions ${w}x$h")
    (w, h)
  }

  /** PNG dimension SNIFF — IHDR only, CRC-verified, no inflate: the
    * cheap header pass ([[decodePng]] is the full decode). */
  def sniffPngDims(b: Array[Byte]): (Int, Int) = {
    require(b.length >= 8 && PngSig.indices.forall(i => b(i) == PngSig(i)),
      "not a PNG")
    val (tag, d, len) = pngChunk(b, 8)
    require(tag == "IHDR" && len == 13, "IHDR must lead")
    val w = be32(b, d); val h = be32(b, d + 4)
    require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
    (w, h)
  }

  /** Heterogeneous container sniff: dispatch on magic bytes to the
    * per-format header parsers — the shape of the first pass over a
    * mixed media corpus (every asset sniffed, almost none decoded). */
  def sniffDims(bytes: Array[Byte]): (String, Int, Int) =
    if (bytes.length >= 8 && bytes(0) == PngSig(0) && bytes(1) == 'P') {
      val (w, h) = sniffPngDims(bytes); ("png", w, h)
    } else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff
        && (bytes(1) & 0xff) == 0xd8) {
      val (w, h, _, _) = decodeJpegDims(bytes); ("jpeg", w, h)
    } else if (bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I') {
      val (w, h) = decodeGifDims(bytes); ("gif", w, h)
    } else {
      throw new IllegalArgumentException("unknown container")
    }

  /** REAL decode kernel dispatched on magic bytes, in the same
    * per-partition batch shape as [[decodeStub]]: PPM and BMP parse
    * straight off the bytes; PNG — a genuinely COMPRESSED format — goes
    * through the full chunk/CRC/inflate/filter pipeline ([[decodePng]],
    * pure `java.util.zip`, no external codec). Other compressed formats
    * (JPEG, ...) still throw — a production pipeline routes those to its
    * codec binding (here: [[decodeStub]]). */
  def decodeImage(assets: Dataset[(Long, Array[Byte])]): Dataset[DecodedImage] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { case (id, bytes) =>
        if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') {
          val (w, h, _, s) = decodePpm(bytes)
          DecodedImage(id, "ppm", w, h, w.toLong * h * 3, s)
        } else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') {
          val (w, h, _, s, _) = decodeBmp(bytes)
          DecodedImage(id, "bmp", w, h, w.toLong * h * 3, s)
        } else if (bytes.length >= 8 && bytes(0) == PngSig(0)
            && bytes(1) == 'P') {
          val (w, h, s) = decodePng(bytes)
          DecodedImage(id, "png", w, h, w.toLong * h * 3, s)
        } else {
          throw new IllegalArgumentException(
            s"asset $id: unsupported format (route to a codec binding)")
        }
      }
    }
  }

  /** Minimal real WAV (RIFF/PCM16) encoder — fixture generator for the
    * audio decode path. Interleaved signed 16-bit little-endian samples;
    * emits a LIST chunk before `data` so the decoder's unknown-chunk
    * skipping is exercised by every fixture. */
  def encodeWav(rate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val fmt = leWords(1 | channels << 16, rate, // PCM, channels, rate
      rate * channels * 2, channels * 2 | 16 << 16) // byte rate, align, bits
    val data = new java.io.ByteArrayOutputStream(samples.length * 2)
    samples.foreach(v => putLe16(data, v))
    riffList("RIFF", "WAVE", riffChunk("fmt ", fmt) ++
      riffChunk("LIST", "INFOgraft fixture ".getBytes("US-ASCII")) ++
      riffChunk("data", data.toByteArray))
  }

  /** The WAV (RIFF/PCM16) chunk walk [[decodeWav]] and [[wavSamples]]
    * share: `fmt ` → (rate, channels), unknown chunks (LIST, ...)
    * skipped by their declared size, and the interleaved int16 samples
    * of every `data` chunk in file order (a multi-data-chunk file keeps
    * n_frames consistent with the sum/peak population). Throws on
    * non-RIFF/WAVE, non-PCM16, a zero rate or channel count, a missing
    * data chunk, or truncated/malformed chunk sizes. */
  private def wavWalk(b: Array[Byte]): (Int, Int, Array[Int]) = {
    var rate = 0; var channels = 0
    var sawFmt = false; var sawData = false
    val out = Array.newBuilder[Int]
    riffForm(b, "WAVE").foreach { c =>
      c.id match {
        case "fmt " =>
          require(c.u16(0) == 1 && c.u16(14) == 16, "only PCM16 WAV")
          channels = c.u16(2)
          rate = c.u32(4).toInt
          require(channels > 0 && rate > 0,
            s"malformed fmt chunk (channels=$channels, rate=$rate)")
          sawFmt = true
        case "data" =>
          require(sawFmt, "data chunk before fmt")
          var k = 0
          while (k < c.size / 2) {
            out += (c.u16(2 * k) << 16) >> 16 // sign-extend int16
            k += 1
          }
          sawData = true
        case _ => // skip by declared size
      }
    }
    require(sawData, "no data chunk")
    (rate, channels, out.result())
  }

  /** The raw interleaved int16 samples of a WAV file ([[wavWalk]]),
    * instead of whole-file statistics — the extraction step under
    * frame-level feature kernels (q_multimodal_audio_frames). */
  def wavSamples(b: Array[Byte]): Array[Int] = wavWalk(b)._3

  /** Real WAV (RIFF/PCM16) parse: [[wavWalk]], then exact integer
    * statistics over the `data` samples. */
  def decodeWav(b: Array[Byte]): DecodedAudio = {
    val (rate, channels, samples) = wavWalk(b)
    var sum = 0L; var peak = 0
    samples.foreach { v => sum += v; peak = math.max(peak, math.abs(v)) }
    val nFrames = samples.length / channels
    DecodedAudio(0L, "wav", rate, channels, nFrames.toLong,
      nFrames.toLong * 1000L / rate, sum, peak)
  }

  /** Minimal ISO-BMFF (MP4) shell, built bottom-up from pure byte
    * arrays (box sizes fall out of the composition — no mutable
    * writer state, safe under executor concurrency): ftyp(brand), a
    * free box the walk must skip, moov[mvhd(v0: timescale, duration)
    * + a udta sibling], mdat payload. All sizes 32-bit big-endian. */
  def encodeMp4Shell(brand: String, timescale: Long, duration: Long,
      mdatLen: Int): Array[Byte] = {
    require(brand.length == 4, "brand is a 4CC")
    def cc(t: String): Array[Byte] = t.getBytes("US-ASCII")
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      beWords(8 + body.length) ++ cc(typ) ++ body
    val ftyp = box("ftyp", cc("isom") ++ beWords(0) ++ cc(brand))
    val free = box("free", new Array[Byte](12))
    // mvhd v0: version/flags, creation, modification, then timescale
    // and duration at their spec offsets (12 and 16 into the body)
    val mvhd = box("mvhd",
      beWords(0, 0, 0, timescale.toInt, duration.toInt))
    val udta = box("udta", Array.fill(4)(7.toByte))
    val moov = box("moov", mvhd ++ udta)
    val mdat = box("mdat",
      Array.tabulate(mdatLen)(k => ((k * 3 + 1) & 0xff).toByte))
    ftyp ++ free ++ moov ++ mdat
  }

  /** Real ISO-BMFF box walk: iterate top-level size/type boxes, recover
    * the major brand from ftyp, descend into moov to its mvhd child
    * (version 0: timescale at body offset 12, duration at 16), count
    * top-level boxes, and size the mdat payload. Duration converts to
    * exact integer ms (·1000 / timescale). Throws on a file not
    * starting with ftyp, a zero/negative box size, a truncated box, or
    * a moov without mvhd. */
  def decodeMp4Meta(b: Array[Byte]): DecodedMp4 = {
    def cc(o: Int): String = new String(b, o, 4, "US-ASCII")
    require(b.length >= 16 && cc(4) == "ftyp", "not an ISO-BMFF file")
    var o = 0
    var nTop = 0
    var brand = ""; var timescale = -1L; var duration = -1L
    var mdatBytes = -1
    while (o < b.length) {
      require(o + 8 <= b.length, "truncated box header")
      val size = be32u(b, o)
      val typ = cc(o + 4)
      require(size >= 8 && o + size <= b.length,
        s"bad $typ box size $size at $o")
      typ match {
        case "ftyp" =>
          // major brand (skipped: 'isom') + minor version, then the
          // compatible-brand list — the fixture stores ours first there.
          // The brand read is 4 bytes at body offset 8, so the box must
          // be ≥ 20 bytes; a smaller (still ≥8) ftyp would otherwise
          // read into the NEXT box's bytes (r7 ADVICE) — reject it like
          // every other malformed structure here.
          require(size >= 20, s"ftyp box too small for a brand list: $size")
          brand = cc(o + 16)
        case "moov" =>
          // child walk within [o+8, o+size)
          var c = o + 8
          while (c < o + size) {
            val cs = be32u(b, c)
            require(cs >= 8 && c + cs <= o + size,
              s"bad moov child size $cs at $c")
            if (cc(c + 4) == "mvhd") {
              timescale = be32u(b, c + 8 + 12)
              duration = be32u(b, c + 8 + 16)
            }
            c += cs.toInt
          }
          require(timescale > 0, "moov without a v0 mvhd")
        case "mdat" => mdatBytes = size.toInt - 8
        case _ => // free and friends: skip by declared size
      }
      nTop += 1
      o += size.toInt
    }
    require(mdatBytes >= 0, "no mdat box")
    DecodedMp4(0L, "mp4", brand, timescale,
      duration * 1000L / timescale, nTop, mdatBytes)
  }

  /** A real zip built by `java.util.zip.ZipOutputStream` (STORED
    * entries with pre-computed CRCs, so sizes are deterministic):
    * `n` members named "m<k>.txt" whose bodies are a fixed function of
    * (id, k). The ENCODER is the JDK library; the decoder below is the
    * hand-written parser — fixture and kernel come from independent
    * implementations. */
  def encodeZip(id: Long, n: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    (0 until n).foreach { k =>
      val body = Array.tabulate[Byte]((id % 17).toInt + 3 + k)(
        j => ((id + 31 * k + j) % 256).toByte)
      val e = new java.util.zip.ZipEntry(s"m$k.txt")
      e.setMethod(java.util.zip.ZipEntry.STORED)
      e.setSize(body.length)
      e.setCompressedSize(body.length)
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      e.setCrc(crc.getValue)
      zos.putNextEntry(e)
      zos.write(body)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** Hand-written ZIP read path (PKWARE APPNOTE layout): scan backwards
    * for the end-of-central-directory signature (0x06054b50, allowing
    * a trailing comment), then walk the central directory records
    * (0x02014b50) — entry count cross-checked against the EOCD field,
    * name lengths honored, extra/comment fields skipped by their
    * declared sizes. No java.util.zip on the read side. Throws on a
    * missing EOCD, a signature mismatch, or a truncated record. */
  def decodeZipDirectory(b: Array[Byte]): DecodedZip = {
    // EOCD is at least 22 bytes and within 64 KiB + 22 of the end
    var eocd = -1
    var o = b.length - 22
    val floor = math.max(0, b.length - 22 - 0xffff)
    while (eocd < 0 && o >= floor) {
      if (le32u(b, o) == 0x06054b50L) eocd = o else o -= 1
    }
    require(eocd >= 0, "no end-of-central-directory record")
    val nEntries = le16(b, eocd + 10)
    val cdSize = le32u(b, eocd + 12)
    val cdOff = le32u(b, eocd + 16)
    require(cdOff + cdSize <= eocd,
      s"central directory [$cdOff, +$cdSize) overlaps the EOCD at $eocd")
    var p = cdOff.toInt
    var seen = 0
    var totalUnc = 0L
    var nameChars = 0L
    var allStored = true
    while (seen < nEntries) {
      require(p + 46 <= b.length && le32u(b, p) == 0x02014b50L,
        s"bad central-directory record at $p")
      val method = le16(b, p + 10)
      val unc = le32u(b, p + 24)
      val nameLen = le16(b, p + 28)
      val extraLen = le16(b, p + 30)
      val commentLen = le16(b, p + 32)
      if (method != 0) allStored = false
      totalUnc += unc
      nameChars += nameLen
      p += 46 + nameLen + extraLen + commentLen
      seen += 1
    }
    require(p == cdOff + cdSize,
      s"central directory walked to $p, expected ${cdOff + cdSize}")
    DecodedZip(0L, "zip", nEntries, totalUnc, nameChars, allStored)
  }

  /** Minimal baseline TIFF in EITHER byte order: II/MM magic + 42, one
    * IFD at offset 8 with six entries (width, height, bits, compression,
    * strip offset/count), a zero next-IFD pointer, then the strip. */
  def encodeTiff(w: Int, h: Int, bits: Int, bigEndian: Boolean,
      stripLen: Int): Array[Byte] = {
    val nEntries = 6
    val ifdBytes = 2 + nEntries * 12 + 4
    val stripOff = 8 + ifdBytes
    val out = new java.io.ByteArrayOutputStream(stripOff + stripLen)
    // the file's byte order picks the shared writers once
    val u16: Int => Unit = if (bigEndian) putBe16(out, _) else putLe16(out, _)
    val u32: Int => Unit = if (bigEndian) putBe32(out, _) else putLe32(out, _)
    // SHORT values sit left-justified in the 4-byte value field, in the
    // file's own byte order (the TIFF 6.0 packing rule)
    def entryShort(tag: Int, v: Int): Unit = { u16(tag); u16(3); u32(1); u16(v); u16(0) }
    def entryLong(tag: Int, v: Int): Unit = { u16(tag); u16(4); u32(1); u32(v) }
    val magic = if (bigEndian) "MM" else "II"
    out.write(magic.getBytes("US-ASCII"))
    u16(42); u32(8) // IFD offset
    u16(nEntries)
    entryLong(256, w) // ImageWidth
    entryLong(257, h) // ImageLength
    entryShort(258, bits) // BitsPerSample
    entryShort(259, 1) // Compression = none
    entryLong(273, stripOff) // StripOffsets
    entryLong(279, stripLen) // StripByteCounts
    u32(0) // next IFD: none
    (0 until stripLen).foreach(k => out.write(k * 11 + 3))
    out.toByteArray
  }

  /** Real TIFF IFD walk handling BOTH byte orders: II/MM dispatch, the
    * 42 check, entry iteration with SHORT-vs-LONG value extraction per
    * the left-justified packing rule, and strip-bounds validation.
    * Throws on a bad magic, a wrong version word, a truncated IFD, or
    * an unsupported (compressed) image. */
  def decodeTiffMeta(b: Array[Byte]): DecodedTiff = {
    require(b.length >= 8, "truncated TIFF")
    val magic = new String(b, 0, 2, "US-ASCII")
    require(magic == "II" || magic == "MM", "not a TIFF file")
    val be = magic == "MM"
    val u16: Int => Int = if (be) be16(b, _) else le16(b, _)
    val u32: Int => Int = if (be) be32(b, _) else le32(b, _)
    require(u16(2) == 42, s"bad TIFF version word ${u16(2)}")
    val ifd = u32(4)
    require(ifd >= 8 && ifd + 2 <= b.length, "IFD offset out of bounds")
    val n = u16(ifd)
    require(ifd + 2 + n * 12 + 4 <= b.length, "truncated IFD")
    var width = -1; var height = -1; var bits = -1; var comp = -1
    var stripOff = -1; var stripLen = -1
    (0 until n).foreach { k =>
      val e = ifd + 2 + k * 12
      val tag = u16(e)
      val typ = u16(e + 2)
      // SHORT (3) = first two bytes of the value field in file order;
      // LONG (4) = all four
      val v = if (typ == 3) u16(e + 8) else u32(e + 8)
      tag match {
        case 256 => width = v
        case 257 => height = v
        case 258 => bits = v
        case 259 => comp = v
        case 273 => stripOff = v
        case 279 => stripLen = v
        case _ => // unknown tags are legal; skip
      }
    }
    require(width > 0 && height > 0 && bits > 0, "missing geometry tags")
    require(comp == 1, s"unsupported compression $comp")
    require(stripOff >= 0 && stripLen >= 0 &&
      stripOff.toLong + stripLen <= b.length, "strip out of bounds")
    DecodedTiff(0L, "tiff", width, height, bits, be, n, stripLen)
  }

  /** Structurally valid FLAC shell: "fLaC" magic, a bit-packed
    * STREAMINFO first (per spec), then a PADDING and a last-flagged
    * APPLICATION block the walk must skip by their 24-bit big-endian
    * lengths, then `audioLen` frame filler bytes. */
  def encodeFlacShell(rate: Int, channels: Int, bits: Int,
      totalSamples: Long, audioLen: Int): Array[Byte] = {
    val app = "grftFLAC".getBytes("US-ASCII")
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO (type 0, not last), length 34
    out.write(0x00); putBe24(out, 34)
    putBe16(out, 4096); putBe16(out, 4096) // min/max block size
    putBe24(out, 0); putBe24(out, 0) // min/max frame size (0 = unknown)
    // [rate:20][channels-1:3][bps-1:5][total:36] big-endian
    val packed = (rate.toLong << 44) | ((channels - 1).toLong << 41) |
      ((bits - 1).toLong << 36) | totalSamples
    putBe32(out, (packed >> 32).toInt); putBe32(out, packed.toInt)
    out.write(new Array[Byte](16)) // MD5 placeholder
    // PADDING (type 1, not last)
    out.write(0x01); putBe24(out, 4); out.write(new Array[Byte](4))
    // APPLICATION (type 2, LAST)
    out.write(0x80 | 0x02); putBe24(out, app.length); out.write(app)
    // frame filler
    (0 until audioLen).foreach(k => out.write(k * 7 + 1))
    out.toByteArray
  }

  /** Real FLAC STREAMINFO parse: magic check, metadata-block walk
    * (24-bit big-endian lengths, last-flag termination, STREAMINFO
    * required first per spec), bit-field unpack of the 64-bit
    * rate/channels/bps/total word. No frame decode — exactly the
    * header pass a media pipeline runs on every asset before spending
    * codec cycles. Throws on truncation or a non-first STREAMINFO. */
  def decodeFlacStreamInfo(b: Array[Byte]): DecodedFlac = {
    require(b.length >= 4 + 4 + 34, "truncated FLAC")
    require(new String(b, 0, 4, "US-ASCII") == "fLaC", "not a FLAC file")
    var o = 4
    var nBlocks = 0
    var last = false
    var rate = 0; var channels = 0; var bits = 0; var total = 0L
    while (!last) {
      require(o + 4 <= b.length, "truncated block header")
      val hdr = b(o) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = be24(b, o + 1)
      val body = o + 4
      require(body.toLong + len <= b.length,
        s"truncated or malformed block type=$typ (len=$len)")
      if (nBlocks == 0) {
        require(typ == 0 && len == 34, "STREAMINFO must be first")
        var packed = 0L
        (0 until 8).foreach(k => packed = packed << 8 | (b(body + 10 + k) & 0xff))
        rate = (packed >>> 44).toInt
        channels = ((packed >>> 41) & 0x7).toInt + 1
        bits = ((packed >>> 36) & 0x1f).toInt + 1
        total = packed & 0xfffffffffL
        require(rate > 0, "malformed STREAMINFO (rate=0)")
      }
      nBlocks += 1
      o = body + len
    }
    DecodedFlac(0L, "flac", rate, channels, bits, total,
      total * 1000L / rate, nBlocks, b.length - o)
  }

  /** MPEG-1 Layer III bitrate table (kbps), indices 1–14; 0 is "free"
    * and 15 is forbidden — both rejected by the walk. (ISO/IEC 11172-3
    * Table B.2, the public constant every MP3 parser carries.) */
  private[operators] val mp3Bitrates: Array[Int] = Array(
    -1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** MPEG-1 sample rates by the 2-bit header index; 3 is reserved. */
  private[operators] val mp3Rates: Array[Int] = Array(44100, 48000, 32000)

  /** Structurally valid CBR MP3: an ID3v2.3 tag (10-byte header +
    * `id3Body` bytes, size in the spec's 7-bit syncsafe encoding) the
    * walk must skip, then `nFrames` MPEG-1 Layer III frames sharing one
    * bitrate/samplerate with the PADDING BIT alternating by
    * (id + frame) parity — frame k's length is
    * 144000·kbps/rate + pad(k) (integer division, the spec formula),
    * header bytes per ISO 11172-3, body filled deterministically. */
  def encodeMp3(id: Long, bIdx: Int, srIdx: Int, nFrames: Int,
      id3Body: Int): Array[Byte] = {
    require(bIdx >= 1 && bIdx <= 14 && srIdx >= 0 && srIdx <= 2)
    val base = 144000 * mp3Bitrates(bIdx) / mp3Rates(srIdx)
    val bos = new java.io.ByteArrayOutputStream()
    // ID3v2.3 header: magic, version, flags, 28-bit syncsafe size
    bos.write('I'); bos.write('D'); bos.write('3')
    bos.write(3); bos.write(0); bos.write(0)
    bos.write((id3Body >> 21) & 0x7f); bos.write((id3Body >> 14) & 0x7f)
    bos.write((id3Body >> 7) & 0x7f); bos.write(id3Body & 0x7f)
    (0 until id3Body).foreach(k => bos.write((k * 31 + 7) & 0xff))
    for (k <- 0 until nFrames) {
      val pad = ((id + k) % 2).toInt
      bos.write(0xff) // sync
      bos.write(0xfb) // sync(3) + MPEG-1(11) + Layer III(01) + no-CRC(1)
      bos.write((bIdx << 4) | (srIdx << 2) | (pad << 1))
      bos.write(0x44) // channel mode etc — not parsed by the walk
      val len = base + pad
      (4 until len).foreach(j => bos.write((j * 7 + k + 1) & 0xff))
    }
    bos.toByteArray
  }

  /** Real MP3 frame walk: skip an optional ID3v2 tag by its syncsafe
    * size, then iterate frame headers — sync check, MPEG-1/Layer-III
    * version+layer bits, bitrate/samplerate table lookup with the
    * spec's forbidden indices rejected, frame length from the
    * 144000·kbps/rate + padding formula — requiring CBR consistency
    * across frames and an exact landing on EOF (trailing garbage is a
    * malformed file, not a frame). Duration is exact integer ms from
    * the 1152-samples-per-frame constant. No entropy decode. */
  def decodeMp3Meta(b: Array[Byte]): DecodedMp3 = {
    var o = 0
    var id3 = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      id3 = 10 + size
      require(id3 <= b.length, s"ID3 tag overruns the file ($id3)")
      o = id3
    }
    var n = 0; var nPad = 0
    var kbps = -1; var rate = -1
    while (o < b.length) {
      require(o + 4 <= b.length, "truncated frame header")
      require((b(o) & 0xff) == 0xff && (b(o + 1) & 0xe0) == 0xe0,
        s"lost frame sync at $o")
      require((b(o + 1) & 0x18) == 0x18, "not MPEG-1")
      require((b(o + 1) & 0x06) == 0x02, "not Layer III")
      val bIdx = (b(o + 2) & 0xf0) >> 4
      val srIdx = (b(o + 2) & 0x0c) >> 2
      require(bIdx >= 1 && bIdx <= 14, s"forbidden bitrate index $bIdx")
      require(srIdx <= 2, "reserved sample-rate index")
      val pad = (b(o + 2) & 0x02) >> 1
      val k = mp3Bitrates(bIdx); val r = mp3Rates(srIdx)
      if (n == 0) { kbps = k; rate = r }
      else require(k == kbps && r == rate, s"VBR stream at frame $n")
      val len = 144000 * k / r + pad
      require(o + len <= b.length, s"truncated frame $n (len=$len)")
      n += 1; nPad += pad
      o += len
    }
    require(n > 0, "no MPEG frames")
    DecodedMp3(0L, "mp3", rate, kbps, n, nPad,
      n.toLong * 1152L * 1000L / rate, id3,
      b.length - id3)
  }

  /** OGG's page CRC: CRC-32 with polynomial 0x04C11DB7, MSB-first
    * (unreflected), init 0, no final XOR — NOT the zlib/PNG variant
    * (RFC 3533 §6). Computed over the whole page with the CRC field
    * zeroed. Bitwise (table-free) — fixture-scale pages only. */
  private def oggCrc(b: Array[Byte], from: Int, len: Int): Int = {
    var crc = 0
    var i = from
    while (i < from + len) {
      crc ^= (b(i) & 0xff) << 24
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80000000) != 0) (crc << 1) ^ 0x04c11db7
              else crc << 1
        k += 1
      }
      i += 1
    }
    crc
  }

  /** Structurally valid OGG stream (RFC 3533): `nPages` pages sharing
    * one serial, sequence numbers 0.., BOS flag on the first page and
    * EOS on the last, deterministic lacing tables and body fill, REAL
    * page CRCs (poly 0x04C11DB7, field zeroed during computation).
    * Page k carries (id+k)%3+1 segments of (id+k+j)%20+5 bytes and
    * granule (k+1)·100 + id%50. */
  def encodeOgg(id: Long, nPages: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    for (k <- 0 until nPages) {
      val nSeg = ((id + k) % 3).toInt + 1
      val lacing = Array.tabulate(nSeg)(j => ((id + k + j) % 20).toInt + 5)
      val bodyLen = lacing.sum
      val out = new java.io.ByteArrayOutputStream(27 + nSeg + bodyLen)
      out.write("OggS".getBytes("US-ASCII"))
      out.write(0) // stream structure version
      // BOS and EOS are independent bits, not an either/or: a one-page
      // stream must carry BOS|EOS = 0x06 per RFC 3533 §6 (an else-if
      // chain here would emit BOS only and decodeOggMeta would reject
      // the encoder's own nPages=1 output with "no EOS page")
      out.write((if (k == 0) 0x02 else 0x00) |
        (if (k == nPages - 1) 0x04 else 0x00))
      val granule = (k + 1) * 100L + id % 50
      out.write(leWords(granule.toInt, (granule >> 32).toInt,
        (id & 0x7fffffffL).toInt, // serial
        k, // page sequence number
        0)) // CRC placeholder
      out.write(nSeg)
      lacing.foreach(out.write(_))
      (0 until bodyLen).foreach(j => out.write((j * 11 + k) & 0xff))
      val page = out.toByteArray
      val crc = oggCrc(page, 0, page.length)
      page(22) = crc.toByte; page(23) = (crc >> 8).toByte
      page(24) = (crc >> 16).toByte; page(25) = (crc >> 24).toByte
      bos.write(page)
    }
    bos.toByteArray
  }

  /** Real OGG page walk (RFC 3533): capture-pattern and version checks,
    * little-endian header fields, lacing-table body sizing, CRC
    * verification with the field zeroed (the spec's own algorithm and
    * polynomial — a zlib CRC here would reject every valid file),
    * sequence-number continuity, single-serial enforcement, BOS/EOS
    * placement. The routing/integrity pass before any Vorbis/Opus
    * codec work; throws on any structural damage. */
  def decodeOggMeta(b: Array[Byte]): DecodedOgg = {
    require(b.length >= 27, "truncated OGG")
    var o = 0
    var page = 0
    var serial = -1L
    var nSegs = 0; var bodyBytes = 0; var granule = -1L
    var sawEos = false
    while (o < b.length) {
      require(!sawEos, "pages after the EOS page")
      require(o + 27 <= b.length, s"truncated page header at $o")
      require(new String(b, o, 4, "US-ASCII") == "OggS",
        s"lost capture pattern at $o")
      require(b(o + 4) == 0, "unknown stream structure version")
      val htype = b(o + 5) & 0xff
      val s = le32u(b, o + 14)
      if (page == 0) serial = s
      else require(s == serial, "serial changed mid-stream")
      require(le32u(b, o + 18) == page, s"page sequence broken at $page")
      require(((htype & 0x02) != 0) == (page == 0), "misplaced BOS flag")
      if ((htype & 0x04) != 0) sawEos = true
      val nSeg = b(o + 26) & 0xff
      require(o + 27 + nSeg <= b.length, "truncated lacing table")
      var bl = 0
      var j = 0
      while (j < nSeg) { bl += b(o + 27 + j) & 0xff; j += 1 }
      val total = 27 + nSeg + bl
      require(o + total <= b.length, s"truncated page body at $page")
      // CRC: recompute with the field zeroed (RFC 3533 §6)
      val declared = le32u(b, o + 22)
      val tmp = java.util.Arrays.copyOfRange(b, o, o + total)
      tmp(22) = 0; tmp(23) = 0; tmp(24) = 0; tmp(25) = 0
      require((oggCrc(tmp, 0, total) & 0xffffffffL) == declared,
        s"CRC mismatch on page $page")
      granule = le32u(b, o + 6) | le32u(b, o + 10) << 32
      nSegs += nSeg; bodyBytes += bl; page += 1
      o += total
    }
    require(page > 0, "no pages")
    require(sawEos, "stream has no EOS page")
    DecodedOgg(0L, "ogg", serial.toInt, page, nSegs, bodyBytes, granule)
  }

  // --------------------------------------------------------------- AVI
  // One AVI 1.0 reader and writer for both video codecs (MJPEG and
  // MS-RLE8): the `RIFF AVI ` form holding `hdrl` (the main header
  // avih, then LIST strl with one `vids` stream's strh and its
  // BITMAPINFOHEADER strf), a `movi` list of `00dc` frame chunks, and
  // optionally the `idx1` index. Chunks pad to even offsets per RIFF;
  // idx1 offsets are relative to the start of the `movi` fourcc
  // (offset 0 = the fourcc itself, first chunk at 4 — the convention
  // AVI readers expect). The codecs differ only in their [[AviCodec]].

  /** A video codec's AVI shape: the strh handler fourcc, the strf bit
    * depth and biCompression, and which frames idx1 flags
    * AVIIF_KEYFRAME (a flagged frame promises decode-from-here). */
  private final case class AviCodec(handler: String, bpp: Int,
      compression: Int, keyframe: Int => Boolean)

  /** AVI writer: `palette` follows the strf BITMAPINFOHEADER (its
    * 4-byte entry count is biClrUsed). */
  private def aviWrite(codec: AviCodec, w: Int, h: Int, rate: Int,
      palette: Array[Byte], frames: Seq[Array[Byte]],
      withIndex: Boolean): Array[Byte] = {
    val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
    val avih = leWords(
      1000000 / rate, // dwMicroSecPerFrame
      0, 0, // dwMaxBytesPerSec, dwPaddingGranularity
      if (withIndex) 0x10 else 0, // dwFlags: AVIF_HASINDEX
      frames.length, 0, // dwTotalFrames, dwInitialFrames
      1, maxFrame, // dwStreams, dwSuggestedBufferSize
      w, h,
      0, 0, 0, 0) // dwReserved
    val strh = ("vids" + codec.handler).getBytes("US-ASCII") ++ leWords(
      0, 0, 0, // flags, priority + language, initial frames
      1, rate, // dwScale, dwRate: fps = rate/scale
      0, frames.length, // dwStart, dwLength (frames)
      maxFrame, -1, 0, // suggBuf, quality, sampleSize
      0, w | h << 16) // rcFrame
    val strf = leWords(40, w, h, 1 | codec.bpp << 16, // planes, bit depth
      codec.compression, w * h * codec.bpp / 8, 0, 0,
      palette.length / 4, 0) ++ palette
    val hdrl = riffList("LIST", "hdrl",
      riffChunk("avih", avih) ++ riffList("LIST", "strl",
        riffChunk("strh", strh) ++ riffChunk("strf", strf)))
    val moviBody = new java.io.ByteArrayOutputStream()
    val offsets = frames.map { f =>
      val at = 4 + moviBody.size() // 'movi' fourcc occupies offsets 0..3
      moviBody.write(riffChunk("00dc", f))
      at
    }
    val movi = riffList("LIST", "movi", moviBody.toByteArray)
    val idx1 = if (!withIndex) Array.emptyByteArray
      else riffChunk("idx1", frames.indices.toArray.flatMap { i =>
        "00dc".getBytes("US-ASCII") ++ leWords(
          if (codec.keyframe(i)) 0x10 else 0, offsets(i), frames(i).length)
      })
    riffList("RIFF", "AVI ", hdrl ++ movi ++ idx1)
  }

  /** AVI reader: every container check both video decoders share,
    * returning the header view and frames plus the strf chunk for the
    * codec's own checks. Strict on structure (a damaged container must
    * fail loudly, not yield silent garbage): the declared RIFF size
    * against the actual length, exactly one `vids` stream of the
    * codec's handler with dwScale 1, strf dims, bit depth and
    * compression agreeing with avih and the codec, `00dc` chunks only
    * inside `movi`, frame count == dwTotalFrames == strh dwLength,
    * AVIF_HASINDEX set exactly when idx1 is present, and an idx1 whose
    * per-frame ids, keyframe flags, offsets and sizes match the movi
    * walk. */
  private def aviRead(b: Array[Byte], codec: AviCodec)
      : (DecodedAvi, RiffChunk) = {
    val top = riffForm(b, "AVI ")
    require(le32u(b, 4) == b.length - 8,
      s"RIFF size ${le32u(b, 4)} != content ${b.length - 8} (truncated?)")
    var avih, strh, strf, idx1: RiffChunk = null
    var frames = Vector.empty[Array[Byte]]
    var offsets = Vector.empty[Long] // movi-relative, for the idx1 check
    // `in` is the enclosing form or LIST type, `at` its body offset
    def visit(in: String, at: Int)(c: RiffChunk): Unit = (in, c.id) match {
      case ("AVI ", "idx1") => idx1 = c
      case ("hdrl", "avih") => avih = c
      case ("strl", "strh") => strh = c
      case ("strl", "strf") => strf = c
      case ("movi", "00dc") =>
        offsets :+= (c.body - 8 - at).toLong
        frames :+= c.bytes
      case (_, "LIST") =>
        val (kind, children) = c.list
        require(Set(("AVI ", "hdrl"), ("AVI ", "movi"), ("hdrl", "strl"))
          .contains((in, kind)), s"unexpected LIST '$kind' in '$in'")
        children.foreach(visit(kind, c.body))
      case (_, id) =>
        throw new IllegalArgumentException(s"unexpected '$in' chunk '$id'")
    }
    top.foreach(visit("AVI ", 8))
    require(avih != null && strh != null && strf != null,
      "missing or incomplete hdrl")
    val hasIndex = (avih.u32(12) & 0x10L) != 0
    require(avih.u32(24) == 1, s"expected 1 stream, got ${avih.u32(24)}")
    val w = avih.u32(32).toInt; val h = avih.u32(36).toInt
    require(strh.tag(0) == "vids", s"stream type '${strh.tag(0)}' is not vids")
    require(strh.tag(4) == codec.handler,
      s"handler '${strh.tag(4)}' is not ${codec.handler}")
    require(strh.u32(20) == 1, "dwScale != 1")
    val rate = strh.u32(24).toInt
    require(w > 0 && h > 0 && rate > 0, "missing or incomplete hdrl")
    require(strf.u32(0) == 40, "strf is not a BITMAPINFOHEADER")
    require(strf.u32(4) == w && strf.u32(8) == h,
      s"strf dims (${strf.u32(4)}x${strf.u32(8)}) disagree with avih (${w}x$h)")
    require(strf.u32(12) == (1 | codec.bpp << 16),
      s"not ${codec.bpp}-bpp single-plane")
    require(strf.u32(16) == (codec.compression & 0xffffffffL),
      s"biCompression does not match handler ${codec.handler}")
    require(frames.length == avih.u32(16) && frames.length == strh.u32(32),
      s"found ${frames.length} frames, avih declares ${avih.u32(16)}, " +
        s"strh ${strh.u32(32)}")
    require(hasIndex == (idx1 != null),
      if (hasIndex) "AVIF_HASINDEX set but no idx1 present"
      else "idx1 present but AVIF_HASINDEX not set")
    if (idx1 != null) {
      require(idx1.size % 16 == 0, "idx1 size not a multiple of 16")
      require(idx1.size / 16 == frames.length,
        s"idx1 has ${idx1.size / 16} entries for ${frames.length} frames")
      frames.indices.foreach { i =>
        val e = 16 * i
        require(idx1.tag(e) == "00dc", s"idx1 entry $i ckid '${idx1.tag(e)}'")
        require(((idx1.u32(e + 4) & 0x10L) != 0) == codec.keyframe(i),
          s"idx1 keyframe flag wrong on frame $i")
        require(idx1.u32(e + 8) == offsets(i),
          s"idx1 offset ${idx1.u32(e + 8)} != movi walk ${offsets(i)}")
        require(idx1.u32(e + 12) == frames(i).length,
          s"idx1 size mismatch on frame $i")
      }
    }
    (DecodedAvi(w, h, rate, frames.length, hasIndex, frames), strf)
  }

  // --------------------------------------------------------------------
  // MS-RLE8 VIDEO — the INTER-frame codec the stub no longer covers:
  // BI_RLE8 delta frames position themselves with escape opcodes and
  // leave every unvisited pixel AS THE PREVIOUS FRAME LEFT IT, so the
  // decoder carries a reference frame buffer across the stream —
  // genuine motion-era inter-frame state, with a byte-oriented entropy
  // layer a zero-dependency decoder can own (unlike the
  // adaptive-arithmetic H.26x/VPx/AV1 family, which remains the stub's
  // only scope). Encoder exercises run opcodes, absolute mode with
  // word padding, EOL/EOB/delta escapes; keyframes paint every pixel,
  // delta frames jump straight to their dirty band.

  /** Decode one BI_RLE8 frame INTO `buf` (w*h, row-major in decode
    * order), mutating it from the previous frame's content — the
    * inter-frame contract. Strict: overruns, missing EOB and trailing
    * bytes all throw. */
  def decodeRle8Frame(
      d: Array[Byte], w: Int, h: Int, buf: Array[Byte]): Unit = {
    require(buf.length == w * h, "reference buffer size mismatch")
    var x = 0; var y = 0; var i = 0; var eob = false
    while (!eob) {
      require(i + 2 <= d.length, s"truncated RLE opcode at $i")
      val c = u8(d, i); val v = u8(d, i + 1); i += 2
      if (c > 0) {
        require(y < h && x + c <= w, s"run overflows row at ($x,$y)")
        var k = 0
        while (k < c) { buf(y * w + x + k) = v.toByte; k += 1 }
        x += c
      } else v match {
        case 0 => x = 0; y += 1
          require(y <= h, "EOL past the last row")
        case 1 => eob = true
        case 2 =>
          require(i + 2 <= d.length, "truncated delta escape")
          x += u8(d, i); y += u8(d, i + 1); i += 2
          require(x <= w && y <= h, s"delta escape out of bounds ($x,$y)")
        case k => // absolute mode, k >= 3 literal pixels, word-padded
          require(i + k + (k & 1) <= d.length,
            s"truncated absolute run at $i")
          require(y < h && x + k <= w,
            s"absolute run overflows row at ($x,$y)")
          var j = 0
          while (j < k) { buf(y * w + x + j) = d(i + j); j += 1 }
          i += k + (k & 1)
          x += k
      }
    }
    require(i == d.length, s"${d.length - i} trailing bytes after EOB")
  }

  /** One fixture row in RLE8: two 1-px runs, then absolute mode — both
    * encoded families on every row. Requires w >= 5. */
  private def rle8Row(px: Array[Byte], out: java.io.ByteArrayOutputStream)
      : Unit = {
    out.write(1); out.write(px(0))
    out.write(1); out.write(px(1))
    val k = px.length - 2
    out.write(0); out.write(k)
    out.write(px, 2, k)
    if ((k & 1) == 1) out.write(0) // absolute runs pad to words
  }

  /** Keyframe: paint every row, EOL between rows, EOB at the end. */
  def encodeRle8Key(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var y = 0
    while (y < h) {
      val row = Array.tabulate(w)(x => px(x, y).toByte)
      rle8Row(row, out)
      if (y < h - 1) { out.write(0); out.write(0) } // EOL
      y += 1
    }
    out.write(0); out.write(1) // EOB
    out.toByteArray
  }

  /** Delta frame: a delta escape jumps to the dirty band's first row,
    * repaints rows y0 and y0+1, EOB leaves the rest to the reference
    * frame. */
  def encodeRle8Delta(
      w: Int, y0: Int, px: (Int, Int) => Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0); out.write(2); out.write(0); out.write(y0) // delta
    rle8Row(Array.tabulate(w)(x => px(x, y0).toByte), out)
    out.write(0); out.write(0) // EOL -> (0, y0 + 1)
    rle8Row(Array.tabulate(w)(x => px(x, y0 + 1).toByte), out)
    out.write(0); out.write(1) // EOB
    out.toByteArray
  }

  /** MS-RLE8-in-AVI: the 8-bit palettized stream shape — handler MRLE,
    * biCompression=1 (BI_RLE8), a 256-entry identity gray palette after
    * the BITMAPINFOHEADER, and an idx1 whose AVIIF_KEYFRAME flag marks
    * ONLY frame 0 (delta frames are not seekable entry points — the
    * index semantic MJPEG never needed). */
  private val Rle8Avi = AviCodec("MRLE", 8, 1, _ == 0)
  /** The identity gray palette, (b, g, r, 0) per entry. */
  private val GrayPalette: Array[Byte] =
    Array.tabulate(1024)(k => if (k % 4 == 3) 0 else (k / 4).toByte)

  /** MS-RLE8-in-AVI writer ([[aviWrite]]). */
  def encodeAviRle8(w: Int, h: Int, rate: Int,
      frames: Seq[Array[Byte]], withIndex: Boolean = true): Array[Byte] =
    aviWrite(Rle8Avi, w, h, rate, GrayPalette, frames, withIndex)

  /** One decoded RLE8 frame’s exact-integer pixel statistics over
    * the RECONSTRUCTED frame (reference bands included — the proof the
    * inter-frame carry happened). */
  case class DecodedRleFrame(doc_id: Long, frame: Int, w: Int, h: Int,
      rate: Int, has_index: Boolean, n_px: Long, sum_px: Long,
      sum_sq: Long, wsum: Long)

  /** MS-RLE8-in-AVI decode: the container ([[aviRead]]) and the
    * identity palette, then sequential per-frame RLE decode CARRYING
    * the frame buffer — delta frames start from what the previous frame
    * left. */
  def decodeAviRle8(bytes: Array[Byte]): Vector[DecodedRleFrame] = {
    val (avi, strf) = aviRead(bytes, Rle8Avi)
    require(strf.u32(32) == 256, "palette size")
    (0 until 256).foreach { i => // stats read indices: pin the palette
      require((0 until 3).forall(ch => strf.byte(40 + 4 * i + ch) == i),
        s"palette entry $i is not identity gray")
    }
    val (w, h) = (avi.w, avi.h)
    val buf = new Array[Byte](w * h)
    avi.frames.zipWithIndex.map { case (f, fi) =>
      decodeRle8Frame(f, w, h, buf) // buf carries frame fi-1 into fi
      var sum = 0L; var sq = 0L; var ws = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = (buf(y * w + x) & 0xff).toLong
          sum += v; sq += v * v; ws += v * (x + 2L * y + 1L)
          x += 1
        }
        y += 1
      }
      DecodedRleFrame(0L, fi, w, h, avi.rate, avi.hasIndex,
        w.toLong * h, sum, sq, ws)
    }.toVector
  }

  /** STUB decode kernel — swap for a real codec binding in production.
    * Remaining scope after r12 (baseline + 4:2:0 + progressive +
    * LOSSLESS JPEG; MJPEG-in-AVI via [[decodeAviMjpeg]] + per-frame
    * T.81; and INTER-FRAME MS-RLE8 video via [[decodeAviRle8]] with a
    * real reference-frame carry, are all real): adaptive-arithmetic
    * ENTROPY LAYERS only — arithmetic-coded JPEG profiles and the
    * H.26x/VPx/AV1 family, whose range coders demand a
    * conformance-tested codec library a zero-dependency sandbox
    * cannot ship. Inter-frame STATE was never the hard part — RLE8
    * delta frames prove the carry above — the entropy layer is.
    * Deterministic: "features" are simple byte statistics, "dimensions"
    * derive from the length. Runs per-partition so a real decoder could
    * amortize codec init across the batch exactly like a Pandas UDF. */
  def decodeStub(assets: Dataset[(Long, Array[Byte])]): Dataset[DecodedAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition "codec init" would happen here
      it.map { case (id, bytes) =>
        val n = bytes.length
        var sum = 0L
        var i = 0
        while (i < n) { sum += (bytes(i) & 0xff); i += 1 }
        DecodedAsset(
          doc_id = id,
          mime = "application/octet-stream",
          n_bytes = n.toLong,
          width = (n % 640) + 1,
          height = (n % 480) + 1,
          features = Array((n.toFloat), (sum.toFloat / math.max(n, 1))))
      }
    }
  }

  /** MJPEG-in-AVI: one `vids/MJPG` stream whose frames are each an
    * independent baseline JPEG — MJPEG is exactly "every frame is a
    * keyframe JPEG". */
  private val MjpegAvi =
    AviCodec("MJPG", 24, le32("MJPG".getBytes("US-ASCII"), 0), _ => true)

  /** MJPEG-in-AVI writer ([[aviWrite]]), optionally with the idx1
    * keyframe index. */
  def encodeAviMjpeg(w: Int, h: Int, rate: Int,
      frames: Seq[Array[Byte]], withIndex: Boolean = true): Array[Byte] =
    aviWrite(MjpegAvi, w, h, rate, Array.emptyByteArray, frames, withIndex)

  /** Decoded MJPEG-in-AVI container: declared dims/rate/frame count
    * from the headers, whether an idx1 index was present (and
    * validated), and the raw per-frame JPEG byte streams in stream
    * order. */
  case class DecodedAvi(w: Int, h: Int, rate: Int, nFrames: Int,
      hasIndex: Boolean, frames: Vector[Array[Byte]])

  /** MJPEG-in-AVI container walk ([[aviRead]]) + frame extraction —
    * retires the video decodeStub route: MJPEG is intra-only (each
    * `00dc` chunk is a complete baseline JPEG), so the repo's own T.81
    * decoder finishes the job per frame; only INTER-frame codecs
    * (H.26x/VPx/AV1 motion compensation + arithmetic coding) remain
    * genuinely library-bound. */
  def decodeAviMjpeg(bytes: Array[Byte]): DecodedAvi =
    aviRead(bytes, MjpegAvi)._1

  /** q_multimodal_mjpeg's fixture: an AVI holding (id mod 3)+2 MJPEG
    * frames, every frame a per-block-constant baseline JPEG under the
    * Q(0,0)=8 lossless contract — block (c,bx,by) of frame f holds
    * (id·41 + f·13 + c·19 + by·7 + bx·5) mod 256, so the oracle
    * recomputes every decoded pixel of every frame arithmetically.
    * Dims are fixed per video (the AVI header declares one size) but
    * vary per doc including non-multiples of 8; grayscale / 4:4:4 and
    * restart intervals alternate; every 4th video omits idx1 so both
    * index paths decode cross-engine. */
  def aviFixture(id: Long): Array[Byte] = {
    val bw = (id % 4).toInt + 2; val bh = (id % 3).toInt + 2
    val w = 8 * bw - (id % 5).toInt; val h = 8 * bh - (id % 3).toInt
    val nComp = if (id % 2 == 0) 3 else 1
    val ri = if (id % 3 == 0) 2 else 0
    val nf = (id % 3).toInt + 2
    val frames = (0 until nf).map { f =>
      encodeJpegBaseline(w, h, nComp, ri,
        if (nComp == 1) Array(jQLuma) else Array(jQLuma, jQChroma),
        (c, bx, by) => {
          val v = ((id * 41 + f * 13 + c * 19 + by * 7 + bx * 5) % 256).toInt
          val zz = new Array[Int](64)
          zz(0) = v - 128
          zz
        })
    }
    encodeAviMjpeg(w, h, rate = 25, frames, withIndex = id % 4 != 3)
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Asset metadata over a binary payload column: sizes, checksums, fake
    // dimensions. The scan → binary-encode → hash → project pipeline is
    // exactly the shape of real media ETL (payload never shuffles).
    QueryDef(
      "q_multimodal_meta",
      s"""SELECT doc_id,
        |  'application/octet-stream' AS mime,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS checksum,
        |  (octet_length(encode(text)) % 640) + 1 AS width,
        |  (octet_length(encode(text)) % 480) + 1 AS height,
        |  ${Num.sql("octet_length(encode(text)) / 1024.0", 6)} AS kib
        |FROM documents""".stripMargin) { (s, dir) =>
      val payload = col("text").cast("binary")
      Tables(s, dir, "documents").select(
        col("doc_id"),
        lit("application/octet-stream").as("mime"),
        length(payload).cast("long").as("n_bytes"),
        md5(payload).as("checksum"),
        ((length(payload) % 640) + 1).as("width"),
        ((length(payload) % 480) + 1).as("height"),
        Num.r(length(payload).cast("double") / 1024.0, 6).as("kib"))
    },

    // ------------------------------------------------------------------
    // "Resize" stub: a bounded byte-range of the payload stands in for a
    // thumbnail (real codecs would decode-and-scale; the byte-slice keeps
    // the plumbing — bounded output size per asset, checksummed — real).
    // The corpus is ASCII so the char slice is the byte slice on both
    // engines.
    QueryDef(
      "q_multimodal_resize",
      """SELECT doc_id,
        |  least(octet_length(encode(text)), 64) AS thumb_bytes,
        |  md5(substr(text, 1, 64)) AS thumb_checksum
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        least(length(col("text").cast("binary")), lit(64)).as("thumb_bytes"),
        md5(substring(col("text"), 1, 64).cast("binary")).as("thumb_checksum"))
    },

    // ------------------------------------------------------------------
    // REAL decode end-to-end: each document becomes an actual P6 PPM
    // (header + comment + raw RGB, pixel k = (doc_id + k) % 256), and
    // [[decodeImage]] parses the BYTES — header walk for dimensions, a
    // fold over the pixel array for the checksum. The oracle recomputes
    // width/height/checksum arithmetically from doc_id, so a decoder that
    // misreads the header, miscounts the comment line, or starts the
    // pixel array one byte off hash-mismatches immediately. Encode and
    // decode both run per-partition on the executors; only the small
    // decoded rows leave them — the 100 TB shape for media ETL.
    QueryDef(
      "q_multimodal_decode",
      """SELECT doc_id, 'ppm' AS fmt,
        |  CAST((doc_id % 8) + 1 AS INTEGER) AS width,
        |  CAST((doc_id % 6) + 1 AS INTEGER) AS height,
        |  CAST(((doc_id % 8) + 1) * ((doc_id % 6) + 1) * 3 AS BIGINT)
        |    AS n_pix_bytes,
        |  CAST(list_sum(list_transform(
        |    range(0, ((doc_id % 8) + 1) * ((doc_id % 6) + 1) * 3),
        |    k -> (doc_id + k) % 256)) AS BIGINT) AS pix_sum
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 8).toInt + 1
          val h = (id % 6).toInt + 1
          (id, encodePpm(w, h, k => ((id + k) % 256).toInt))
        }
      decodeImage(assets).toDF()
    },

    // ------------------------------------------------------------------
    // REAL COMPRESSED decode end-to-end: each document becomes an actual
    // PNG (zlib-deflated IDAT split into 64-byte chunks, per-chunk
    // CRC-32, scanline filter type rotating (doc_id + row) % 5 so every
    // document exercises Sub/Up/Average/Paeth reconstruction, not just
    // the identity filter), and [[decodePng]] walks it all back: chunk
    // reassembly → CRC verify → inflate → unfilter → exact pixel sum.
    // The oracle recomputes width/height/checksum arithmetically from
    // doc_id — compression is invisible to it because decode(encode(x))
    // must reproduce x's bytes exactly, which is precisely the property
    // being hash-checked. A decoder with a wrong Paeth tie-break, a
    // dropped filter byte, or an off-by-one in multi-IDAT reassembly
    // mismatches immediately. Same 100 TB shape as the PPM kernel: the
    // payloads live and die on the executors; only decoded rows move.
    QueryDef(
      "q_multimodal_png",
      """SELECT doc_id, 'png' AS fmt,
        |  CAST((doc_id % 7) + 1 AS INTEGER) AS width,
        |  CAST((doc_id % 5) + 1 AS INTEGER) AS height,
        |  CAST(((doc_id % 7) + 1) * ((doc_id % 5) + 1) * 3 AS BIGINT)
        |    AS n_pix_bytes,
        |  CAST(list_sum(list_transform(
        |    range(0, ((doc_id % 7) + 1) * ((doc_id % 5) + 1) * 3),
        |    k -> (doc_id * 5 + k * 3) % 256)) AS BIGINT) AS pix_sum
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 7).toInt + 1
          val h = (id % 5).toInt + 1
          (id, encodePng(w, h, k => ((id * 5 + k * 3) % 256).toInt,
            r => ((id + r) % 5).toInt))
        }
      decodeImage(assets).toDF()
    },

    // ------------------------------------------------------------------
    // G.711 μ-LAW telephony audio — the first LOSSY audio codec in the
    // family, and lossy is the point: logarithmic companding trades
    // 16-bit linear PCM for 8-bit bytes with a relative error contract
    // (reconstruction error < one step of the sample's exponent
    // segment). The kernel pair ([[mulawEncode]]/[[mulawDecode]]) is
    // Sun-reference bit manipulation (clip+bias, exponent from the
    // leading-bit position, ones-complement bytes); the oracle replays
    // the SAME companding as pure CASE/div/mod arithmetic — so the
    // hash check proves the bit-twiddling kernel equals the algebraic
    // definition sample for sample, including the error mass each doc
    // owes. Executors do all byte work; per-doc exact-integer stats
    // (signed sum, position-weighted sum, total and max |error|) move.
    QueryDef(
      "q_multimodal_mulaw",
      """WITH ks AS (
        |  SELECT doc_id, unnest(range(doc_id % 50 + 10)) AS k
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id, k,
        |    ((doc_id * 131 + k * 997) % 16001) - 8000 AS s
        |  FROM ks),
        |s2 AS (SELECT doc_id, k, s,
        |    least(abs(s), 32635) + 132 AS a FROM s1),
        |s3 AS (SELECT doc_id, k, s, a,
        |    CASE WHEN a < 256 THEN 1 WHEN a < 512 THEN 2
        |         WHEN a < 1024 THEN 4 WHEN a < 2048 THEN 8
        |         WHEN a < 4096 THEN 16 WHEN a < 8192 THEN 32
        |         WHEN a < 16384 THEN 64 ELSE 128 END AS pw
        |  FROM s2),
        |s4 AS (SELECT doc_id, k, s,
        |    (((a // (pw * 8)) % 16) * 8 + 132) * pw - 132 AS mag
        |  FROM s3),
        |s5 AS (SELECT doc_id, k,
        |    CASE WHEN s < 0 THEN -mag ELSE mag END AS dec,
        |    abs(s - CASE WHEN s < 0 THEN -mag ELSE mag END) AS err
        |  FROM s4)
        |SELECT doc_id, 'mulaw' AS fmt,
        |  count(*) AS n_samples,
        |  CAST(sum(dec) AS BIGINT) AS sum_dec,
        |  CAST(sum((k + 1) * dec) AS BIGINT) AS wsum_dec,
        |  CAST(sum(err) AS BIGINT) AS sum_abs_err,
        |  CAST(max(err) AS BIGINT) AS max_abs_err
        |FROM s5 GROUP BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 50).toInt + 10
            val orig = Array.tabulate(n)(k =>
              ((id * 131 + k * 997) % 16001).toInt - 8000)
            // the byte stream is the ONLY thing that crosses the codec
            val bytes = orig.map(v => mulawEncode(v).toByte)
            var sum = 0L; var wsum = 0L; var errSum = 0L; var errMax = 0L
            var k = 0
            while (k < n) {
              val dec = mulawDecode(bytes(k) & 0xff)
              sum += dec
              wsum += (k + 1).toLong * dec
              val e = math.abs(orig(k).toLong - dec)
              errSum += e
              if (e > errMax) errMax = e
              k += 1
            }
            MulawDecoded(id, "mulaw", n.toLong, sum, wsum, errSum, errMax)
          }
        }.toDF()
    },

    // ------------------------------------------------------------------
    // G.711 A-LAW — the other half of the telephony companding pair
    // (European trunks to μ-law's North American): 13-bit linear in,
    // 8 segments with ends 31..4095, negative values folding as −s−1,
    // and the alternate-bit inversion (⊕0x55/0xD5) that is A-law's
    // wire signature. Same proof structure as q_multimodal_mulaw: the
    // bit-twiddling kernel on the executors vs the oracle's pure
    // CASE/div/mod replay of the companding — segment selection,
    // nibble quantization, midpoint reconstruction and the per-sample
    // error mass all hash-checked.
    QueryDef(
      "q_multimodal_alaw",
      """WITH ks AS (
        |  SELECT doc_id, unnest(range(doc_id % 40 + 10)) AS k
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id, k,
        |    ((doc_id * 59 + k * 601) % 8192) - 4096 AS s
        |  FROM ks),
        |s2 AS (SELECT doc_id, k, s,
        |    CASE WHEN s >= 0 THEN s ELSE -s - 1 END AS m FROM s1),
        |s3 AS (SELECT doc_id, k, s, m,
        |    CASE WHEN m < 32 THEN 0 WHEN m < 64 THEN 1
        |         WHEN m < 128 THEN 2 WHEN m < 256 THEN 3
        |         WHEN m < 512 THEN 4 WHEN m < 1024 THEN 5
        |         WHEN m < 2048 THEN 6 ELSE 7 END AS seg
        |  FROM s2),
        |s4 AS (SELECT doc_id, k, s, seg,
        |    (m // (CASE WHEN seg < 2 THEN 2
        |            WHEN seg = 2 THEN 4 WHEN seg = 3 THEN 8
        |            WHEN seg = 4 THEN 16 WHEN seg = 5 THEN 32
        |            WHEN seg = 6 THEN 64 ELSE 128 END)) % 16 AS nib
        |  FROM s3),
        |s5 AS (SELECT doc_id, k, s,
        |    CASE WHEN seg = 0 THEN 2 * nib + 1
        |         WHEN seg = 1 THEN 2 * nib + 33
        |         ELSE (2 * nib + 33) *
        |           (CASE WHEN seg = 2 THEN 2 WHEN seg = 3 THEN 4
        |                 WHEN seg = 4 THEN 8 WHEN seg = 5 THEN 16
        |                 WHEN seg = 6 THEN 32 ELSE 64 END) END AS mag
        |  FROM s4),
        |s6 AS (SELECT doc_id, k,
        |    CASE WHEN s >= 0 THEN mag ELSE -mag END AS dec,
        |    abs(s - CASE WHEN s >= 0 THEN mag ELSE -mag END) AS err
        |  FROM s5)
        |SELECT doc_id, 'alaw' AS fmt,
        |  count(*) AS n_samples,
        |  CAST(sum(dec) AS BIGINT) AS sum_dec,
        |  CAST(sum((k + 1) * dec) AS BIGINT) AS wsum_dec,
        |  CAST(sum(err) AS BIGINT) AS sum_abs_err,
        |  CAST(max(err) AS BIGINT) AS max_abs_err
        |FROM s6 GROUP BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 40).toInt + 10
            val orig = Array.tabulate(n)(k =>
              ((id * 59 + k * 601) % 8192).toInt - 4096)
            val bytes = orig.map(v => alawEncode(v).toByte)
            var sum = 0L; var wsum = 0L; var errSum = 0L; var errMax = 0L
            var k = 0
            while (k < n) {
              val dec = alawDecode(bytes(k) & 0xff)
              sum += dec
              wsum += (k + 1).toLong * dec
              val e = math.abs(orig(k).toLong - dec)
              errSum += e
              if (e > errMax) errMax = e
              k += 1
            }
            MulawDecoded(id, "alaw", n.toLong, sum, wsum, errSum, errMax)
          }
        }.toDF()
    },

    // ------------------------------------------------------------------
    // IMA/DVI ADPCM — the family's first PREDICTIVE codec: unlike the
    // memoryless G.711 pair, every 4-bit nibble encodes a step off the
    // previous reconstructed sample, and an adaptive step-size index
    // walks the 89-entry IMA table — the state trajectory IS the
    // codec, so a single mis-decoded nibble corrupts everything after
    // it. The kernel pair is closed-loop (the encoder tracks the
    // decoder's own reconstruction — the property that keeps error
    // from accumulating); samples pack two nibbles per byte (low
    // first, the IMA convention) and only the BYTE STREAM crosses the
    // codec boundary. The oracle cannot replay a stateful codec as
    // per-sample algebra the way μ-law could — it replays the exact
    // recurrence as a RECURSIVE CTE (the unigram-trainer pattern
    // applied to signal state): one row per (doc, step) carrying
    // (predictor, index, running stats), layered subqueries deriving
    // quantize → reconstruct → clamp per step, final row per doc
    // compared — so the hash match proves bytes → nibbles → trajectory
    // equals the algebraic recurrence INCLUDING both clamps and the
    // end state. Executors do all byte work; per-doc scalars move.
    QueryDef("q_multimodal_adpcm", adpcmOracle) { (s, dir) =>
      import s.implicits._
      Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 40).toInt + 12
            val orig = Array.tabulate(n)(k =>
              ((id * 131 + k * 887) % 65536).toInt - 32768)
            // the packed byte stream is the ONLY thing that crosses
            val bytes = adpcmEncode(orig)
            val (dec, endIdx) = adpcmDecode(bytes, n)
            var sum = 0L; var wsum = 0L; var errSum = 0L; var errMax = 0L
            var k = 0
            while (k < n) {
              sum += dec(k)
              wsum += (k + 1).toLong * dec(k)
              val e = math.abs(orig(k).toLong - dec(k))
              errSum += e
              if (e > errMax) errMax = e
              k += 1
            }
            AdpcmDecoded(id, "adpcm", n.toLong, sum, wsum, errSum,
              errMax, dec(n - 1).toLong, endIdx.toLong)
          }
        }.toDF()
    },

    // ------------------------------------------------------------------
    // ADAM7-INTERLACED PNG decode end-to-end — the progressive-render
    // layout (seven reduced passes on an 8×8 grid, each independently
    // filtered, empty passes omitted) that a non-interlace-aware
    // decoder misparses immediately, since the expected inflate size
    // itself differs. Every fixture is genuinely interlaced with
    // rotating per-pass filters; widths/heights 1..10×1..7 include
    // images where most passes are EMPTY (the small-dimension spec
    // rule). The oracle recomputes both checksums arithmetically from
    // doc_id over the LOGICAL image — the de-interlace scatter is
    // position-sensitive, so the weighted wsum catches a decoder that
    // reassembles passes at the wrong offsets even though the plain
    // sum cannot. Executors do all byte work; only (doc_id, 7 scalars)
    // rows move.
    QueryDef(
      "q_multimodal_png_adam7",
      """SELECT doc_id, 'png' AS fmt,
        |  CAST(doc_id % 10 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 7 + 1 AS INTEGER) AS height,
        |  TRUE AS interlaced,
        |  CAST((doc_id % 10 + 1) * (doc_id % 7 + 1) * 3 AS BIGINT)
        |    AS n_pix_bytes,
        |  CAST(list_sum(list_transform(
        |    range(0, (doc_id % 10 + 1) * (doc_id % 7 + 1) * 3),
        |    k -> (doc_id * 9 + k * 5) % 256)) AS BIGINT) AS pix_sum,
        |  CAST(list_sum(list_transform(
        |    range(0, (doc_id % 10 + 1) * (doc_id % 7 + 1) * 3),
        |    k -> (k + 1) * ((doc_id * 9 + k * 5) % 256))) AS BIGINT)
        |    AS wsum
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 10).toInt + 1
          val h = (id % 7).toInt + 1
          (id, encodePngAdam7(w, h, k => ((id * 9 + k * 5) % 256).toInt,
            r => ((id + r) % 5).toInt))
        }
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, inter, raw) = decodePngPixels(bytes)
          var sum = 0L; var ws = 0L; var k = 0
          while (k < raw.length) {
            val v = raw(k) & 0xff
            sum += v; ws += (k + 1).toLong * v; k += 1
          }
          Adam7Decoded(id, "png", w, h, inter, raw.length.toLong, sum, ws)
        }
      }.toDF()
    },

    // ------------------------------------------------------------------
    // REAL BMP decode end-to-end with the format's two traps armed in
    // every fixture: 4-byte row PADDING (widths 2..7 cycle through all
    // four pad lengths) and ORIENTATION (the spec's signed height —
    // alternating docs are bottom-up vs top-down, and the encoder
    // physically reverses row order for bottom-up files). The decoder
    // ([[decodeBmp]]) must parse the little-endian header, honor the
    // height sign, skip pad bytes, and reassemble the LOGICAL top-down
    // pixel stream; the oracle recomputes both checksums arithmetically
    // from doc_id over that logical stream, so a decoder that sums in
    // file order passes pix_sum but fails the position-weighted wsum —
    // orientation bugs cannot hide behind a commutative checksum. Same
    // 100 TB shape as every codec kernel: encode and decode run
    // per-partition on the executors, only (doc_id, 7 scalars) move.
    QueryDef(
      "q_multimodal_bmp",
      """SELECT doc_id, 'bmp' AS fmt,
        |  CAST(doc_id % 6 + 2 AS INTEGER) AS width,
        |  CAST(doc_id % 4 + 1 AS INTEGER) AS height,
        |  doc_id % 2 = 1 AS top_down,
        |  CAST((doc_id % 6 + 2) * (doc_id % 4 + 1) * 3 AS BIGINT)
        |    AS n_pix_bytes,
        |  CAST(list_sum(list_transform(
        |    range(0, (doc_id % 6 + 2) * (doc_id % 4 + 1) * 3),
        |    k -> (doc_id * 11 + k * 7) % 256)) AS BIGINT) AS pix_sum,
        |  CAST(list_sum(list_transform(
        |    range(0, (doc_id % 6 + 2) * (doc_id % 4 + 1) * 3),
        |    k -> (k + 1) * ((doc_id * 11 + k * 7) % 256))) AS BIGINT)
        |    AS wsum
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 6).toInt + 2
          val h = (id % 4).toInt + 1
          (id, encodeBmp(w, h, k => ((id * 11 + k * 7) % 256).toInt,
            topDown = id % 2 == 1))
        }
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, td, sum, ws) = decodeBmp(bytes)
          BmpDecoded(id, "bmp", w, h, td, w.toLong * h * 3, sum, ws)
        }
      }.toDF()
    },

    // ------------------------------------------------------------------
    // Header SNIFFING on a codec-library format: each document becomes a
    // structurally-valid JPEG shell (real marker stream — APP0, a COM
    // the walk must skip by declared size, DQT, SOF0/SOF2 alternating,
    // DHT, SOS with byte-stuffed entropy filler), and [[decodeJpegDims]]
    // walks T.81 markers to the SOF for dimensions/layout WITHOUT
    // decoding — the first-pass filter (resolution, progressive?) a
    // media pipeline applies to every asset before spending decode
    // cycles. The oracle recomputes the metadata arithmetically from
    // doc_id, so a sniffer that misreads a segment length, trips on
    // byte stuffing, or confuses DHT (0xC4) with a SOF mismatches
    // immediately. Entropy payloads here are deterministic filler —
    // header sniffing is the cheap first-pass every asset gets before
    // decode cycles are spent; actual pixel decode is
    // q_multimodal_jpeg_decode's job (baseline) and
    // q_multimodal_jpeg_prog's (progressive).
    QueryDef(
      "q_multimodal_jpeg",
      """SELECT doc_id, 'jpeg' AS fmt,
        |  CAST((doc_id % 9) * 100 + 16 AS INTEGER) AS width,
        |  CAST((doc_id % 4) * 100 + 16 AS INTEGER) AS height,
        |  doc_id % 2 = 1 AS progressive,
        |  CAST(3 AS INTEGER) AS n_comp
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 9).toInt * 100 + 16
          val h = (id % 4).toInt * 100 + 16
          val entropy = Array.tabulate[Byte]((id % 37).toInt + 5)(
            k => ((id * 13 + k * 17) % 256).toByte)
          (id, encodeJpegShell(w, h, progressive = id % 2 == 1, entropy))
        }
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, prog, nc) = decodeJpegDims(bytes)
          SniffedMeta(id, "jpeg", w, h, prog, nc)
        }
      }.toDF()
    },

    // ------------------------------------------------------------------
    // REAL JPEG pixel decode end-to-end — the baseline-sequential
    // Huffman decoder ([[decodeJpegBaseline]]) closing the last
    // image-family stub route: each document becomes an actual T.81
    // byte stream (Annex K Huffman tables, byte-stuffed entropy data,
    // RSTn restarts on every third doc, grayscale / 4:4:4 alternating,
    // SOF1 extended-sequential frame markers on every 7th doc (r10 —
    // byte-compatible with baseline at 8 bits, decoded on the SOF0
    // path), non-multiple-of-8 dims exercising the partial-MCU crop),
    // decoded
    // through the full marker/Huffman/dequant/IDCT pipeline to pixel
    // planes, reduced to exact integer statistics. The fixture is
    // per-block constant with Q(0,0)=8, which makes the lossy pipeline
    // provably LOSSLESS here (one nonzero DCT coefficient; see the
    // codec header note), so the oracle recomputes every decoded pixel
    // arithmetically from doc_id — a decoder with a wrong EXTEND sign,
    // a stuffing slip, a missed restart reset, or a transposed block
    // (caught by the position-weighted wsum) hash-mismatches. AC runs /
    // ZRL / damage modes are MultimodalSpec's territory (irrational
    // IDCT values must not cross the engine boundary). Same 100 TB
    // shape as every codec kernel: payloads never leave the executors,
    // only (doc_id, 10 ints) rows move.
    QueryDef(
      "q_multimodal_jpeg_decode",
      """WITH p AS (
        |  SELECT doc_id,
        |    doc_id % 4 + 2 AS bw, doc_id % 3 + 2 AS bh,
        |    8 * (doc_id % 4 + 2) - doc_id % 5 AS w,
        |    8 * (doc_id % 3 + 2) - doc_id % 3 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS nc,
        |    CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END AS ri
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, nc, ri,
        |    flatten(flatten(list_transform(range(nc), c ->
        |      list_transform(range(bh), by ->
        |        list_transform(range(bw), bx -> struct_pack(
        |          v := (doc_id * 31 + c * 17 + by * 7 + bx * 3) % 256,
        |          cnt := least(8, w - bx * 8) * least(8, h - by * 8),
        |          wt := bx + 2 * by + 3 * c + 1)))))) AS cs
        |  FROM p)
        |SELECT doc_id,
        |  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
        |  CAST(nc AS INTEGER) AS n_comp, CAST(ri AS INTEGER) AS ri,
        |  CAST(nc * w * h AS BIGINT) AS n_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.cnt)) AS BIGINT)
        |    AS sum_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.v * s.cnt))
        |    AS BIGINT) AS sumsq_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.wt * s.cnt))
        |    AS BIGINT) AS wsum_px,
        |  CAST(list_max(list_transform(cs, s -> s.v)) AS INTEGER)
        |    AS max_px,
        |  CAST(list_min(list_transform(cs, s -> s.v)) AS INTEGER)
        |    AS min_px
        |FROM cells""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).transform(graft.Tables.fan(_, "doc_id")).as[Long]
        .map(id => (id, jpegFixture(id)))
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val d = decodeJpegBaseline(bytes)
          var sum = 0L; var sumsq = 0L; var wsum = 0L
          var mx = 0; var mn = 255
          var c = 0
          while (c < d.nComp) {
            val pl = d.planes(c)
            var y = 0
            while (y < d.h) {
              var x = 0
              while (x < d.w) {
                val v = pl(y * d.w + x)
                sum += v; sumsq += v.toLong * v
                wsum += v.toLong * ((x / 8) + 2 * (y / 8) + 3 * c + 1)
                if (v > mx) mx = v
                if (v < mn) mn = v
                x += 1
              }
              y += 1
            }
            c += 1
          }
          (id, d.w, d.h, d.nComp, d.ri,
            d.nComp.toLong * d.w * d.h, sum, sumsq, wsum, mx, mn)
        }
      }.toDF("doc_id", "w", "h", "n_comp", "ri", "n_px",
        "sum_px", "sumsq_px", "wsum_px", "max_px", "min_px")
    },

    // ------------------------------------------------------------------
    // PROGRESSIVE JPEG pixel decode — SOF2 multi-scan streams through
    // [[decodeJpegProgressive]]: the 5-stage successive-approximation
    // scan script (interleaved DC first at Al=1, per-component
    // spectral-band AC first scans, DC refine, AC refine), quantized
    // coefficients accumulating across scans before ONE dequant+IDCT
    // back half shared in contract with the baseline decoder. The
    // per-block-constant exactness contract extends: DC survives the
    // approximation split exactly ((v>>1)<<1 | low-bit = v for any
    // sign) and the fixture's AC scans are pure EOB runs — so the
    // oracle recomputes every decoded pixel arithmetically from
    // doc_id on the same cell algebra as q_multimodal_jpeg_decode
    // (decorrelated constants). Restarts on every third doc resync
    // INSIDE each scan type. Real-AC progressive (EOBRUN splits,
    // correction-bit walks, ZRL folding) is MultimodalSpec's job via
    // plane-equality against a baseline encode of identical
    // coefficients — irrational IDCT values never cross the engine
    // boundary. decodeStub now covers video codecs only.
    QueryDef(
      "q_multimodal_jpeg_prog",
      """WITH p AS (
        |  SELECT doc_id,
        |    doc_id % 3 + 2 AS bw, doc_id % 4 + 2 AS bh,
        |    8 * (doc_id % 3 + 2) - doc_id % 7 AS w,
        |    8 * (doc_id % 4 + 2) - doc_id % 5 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS nc,
        |    CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END AS ri
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, nc, ri,
        |    flatten(flatten(list_transform(range(nc), c ->
        |      list_transform(range(bh), by ->
        |        list_transform(range(bw), bx -> struct_pack(
        |          v := (doc_id * 37 + c * 19 + by * 5 + bx * 11) % 256,
        |          cnt := least(8, w - bx * 8) * least(8, h - by * 8),
        |          wt := bx + 2 * by + 3 * c + 1)))))) AS cs
        |  FROM p)
        |SELECT doc_id,
        |  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
        |  CAST(nc AS INTEGER) AS n_comp, CAST(ri AS INTEGER) AS ri,
        |  CAST(nc * w * h AS BIGINT) AS n_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.cnt)) AS BIGINT)
        |    AS sum_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.v * s.cnt))
        |    AS BIGINT) AS sumsq_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.wt * s.cnt))
        |    AS BIGINT) AS wsum_px,
        |  CAST(list_max(list_transform(cs, s -> s.v)) AS INTEGER)
        |    AS max_px,
        |  CAST(list_min(list_transform(cs, s -> s.v)) AS INTEGER)
        |    AS min_px
        |FROM cells""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).transform(graft.Tables.fan(_, "doc_id")).as[Long]
        .map(id => (id, jpegFixtureProg(id)))
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val d = decodeJpegProgressive(bytes)
          var sum = 0L; var sumsq = 0L; var wsum = 0L
          var mx = 0; var mn = 255
          var c = 0
          while (c < d.nComp) {
            val pl = d.planes(c)
            var y = 0
            while (y < d.h) {
              var x = 0
              while (x < d.w) {
                val v = pl(y * d.w + x)
                sum += v; sumsq += v.toLong * v
                wsum += v.toLong * ((x / 8) + 2 * (y / 8) + 3 * c + 1)
                if (v > mx) mx = v
                if (v < mn) mn = v
                x += 1
              }
              y += 1
            }
            c += 1
          }
          (id, d.w, d.h, d.nComp, d.ri,
            d.nComp.toLong * d.w * d.h, sum, sumsq, wsum, mx, mn)
        }
      }.toDF("doc_id", "w", "h", "n_comp", "ri", "n_px",
        "sum_px", "sumsq_px", "wsum_px", "max_px", "min_px")
    },

    // ------------------------------------------------------------------
    // LOSSLESS JPEG decode (SOF3, T.81 Annex H) — the predictive
    // profile with no DCT and no quantization, through
    // [[decodeJpegLossless]]: per-sample prediction (all SEVEN Annex H
    // predictors exercised, doc_id-selected), residuals through the
    // canonical-Huffman/EXTEND machinery, mod-2^16 reconstruction.
    // Because the codec owes back EVERY bit, the fixture needs no
    // constant-block contract: pixels are an arbitrary deterministic
    // function of (doc_id, c, x, y) and the oracle recomputes the
    // exact integer statistics directly — the strongest cross-engine
    // pixel check in the family (a predictor slip, boundary-rule
    // error, or EXTEND sign bug anywhere shifts sums immediately).
    // Same 100 TB shape as every codec kernel: per-row executor
    // decode, zero shuffle, only (doc_id, 9 ints) rows move.
    QueryDef(
      "q_multimodal_jpeg_lossless",
      """WITH p AS (
        |  SELECT doc_id,
        |    (doc_id % 5) * 6 + 9 AS w,
        |    (doc_id % 4) * 5 + 8 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS nc
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, nc,
        |    flatten(flatten(list_transform(range(nc), c ->
        |      list_transform(range(h), y ->
        |        list_transform(range(w), x -> struct_pack(
        |          v := (doc_id * 13 + c * 29 + y * 7 + x * 3) % 256,
        |          wt := x + 2 * y + 3 * c + 1)))))) AS cs
        |  FROM p)
        |SELECT doc_id,
        |  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
        |  CAST(nc AS INTEGER) AS n_comp,
        |  CAST(nc * w * h AS BIGINT) AS n_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v)) AS BIGINT)
        |    AS sum_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.v)) AS BIGINT)
        |    AS sumsq_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.wt)) AS BIGINT)
        |    AS wsum_px,
        |  CAST(list_max(list_transform(cs, s -> s.v)) AS INTEGER)
        |    AS max_px,
        |  CAST(list_min(list_transform(cs, s -> s.v)) AS INTEGER)
        |    AS min_px
        |FROM px""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).transform(graft.Tables.fan(_, "doc_id")).as[Long]
        .map(id => (id, jpegFixtureLossless(id)))
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val d = decodeJpegLossless(bytes)
          var sum = 0L; var sumsq = 0L; var wsum = 0L
          var mx = 0; var mn = 255
          var c = 0
          while (c < d.nComp) {
            val pl = d.planes(c)
            var y = 0
            while (y < d.h) {
              var x = 0
              while (x < d.w) {
                val v = pl(y * d.w + x)
                sum += v; sumsq += v.toLong * v
                wsum += v.toLong * (x + 2 * y + 3 * c + 1)
                if (v > mx) mx = v
                if (v < mn) mn = v
                x += 1
              }
              y += 1
            }
            c += 1
          }
          (id, d.w, d.h, d.nComp, d.nComp.toLong * d.w * d.h,
            sum, sumsq, wsum, mx, mn)
        }
      }.toDF("doc_id", "w", "h", "n_comp", "n_px",
        "sum_px", "sumsq_px", "wsum_px", "max_px", "min_px")
    },

    // ------------------------------------------------------------------
    // 4:2:0 SUBSAMPLED baseline decode — the layout virtually every
    // camera/web JPEG actually uses (luma 2×2, chroma 1×1), exercising
    // the interleaved-MCU data-unit order (4 luma + 2 chroma blocks
    // per MCU), per-component A.1.1 crop dims, partial-MCU padding
    // blocks on both axes, restart intervals counted in MCUs (not
    // blocks), and replication upsampling. The exactness contract
    // extends cleanly: luma is per-block constant on the full-res
    // grid, chroma per-MCU constant on the subsampled grid, so
    // dequant+IDCT+upsample is lossless and the oracle recomputes each
    // full-res 8×8 cell's value arithmetically — luma from (bx, by),
    // chroma from (bx div 2, by div 2), since a full-res cell never
    // straddles a chroma block. A decoder with the wrong data-unit
    // order, a chroma crop off-by-one, or a block-counted restart
    // hash-mismatches.
    QueryDef(
      "q_multimodal_jpeg420",
      """WITH p AS (
        |  SELECT doc_id,
        |    16 * (doc_id % 3 + 1) - doc_id % 7 AS w,
        |    16 * (doc_id % 2 + 1) - doc_id % 5 AS h,
        |    CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END AS ri
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, ri,
        |    flatten(flatten(list_transform(range(3), c ->
        |      list_transform(range((h + 7) // 8), by ->
        |        list_transform(range((w + 7) // 8), bx -> struct_pack(
        |          v := CASE WHEN c = 0
        |            THEN (doc_id * 31 + by * 7 + bx * 3) % 256
        |            ELSE (doc_id * 31 + c * 17
        |              + (by // 2) * 7 + (bx // 2) * 3) % 256 END,
        |          cnt := least(8, w - bx * 8) * least(8, h - by * 8),
        |          wt := bx + 2 * by + 3 * c + 1)))))) AS cs
        |  FROM p)
        |SELECT doc_id,
        |  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
        |  CAST(3 AS INTEGER) AS n_comp, CAST(ri AS INTEGER) AS ri,
        |  CAST(3 * w * h AS BIGINT) AS n_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.cnt)) AS BIGINT)
        |    AS sum_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.v * s.cnt))
        |    AS BIGINT) AS sumsq_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.wt * s.cnt))
        |    AS BIGINT) AS wsum_px,
        |  CAST(list_max(list_transform(cs, s -> s.v)) AS INTEGER)
        |    AS max_px,
        |  CAST(list_min(list_transform(cs, s -> s.v)) AS INTEGER)
        |    AS min_px
        |FROM cells""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).transform(graft.Tables.fan(_, "doc_id")).as[Long]
        .map(id => (id, jpegFixture420(id)))
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val d = decodeJpegBaseline(bytes)
          var sum = 0L; var sumsq = 0L; var wsum = 0L
          var mx = 0; var mn = 255
          var c = 0
          while (c < d.nComp) {
            val pl = d.planes(c)
            var y = 0
            while (y < d.h) {
              var x = 0
              while (x < d.w) {
                val v = pl(y * d.w + x)
                sum += v; sumsq += v.toLong * v
                wsum += v.toLong * ((x / 8) + 2 * (y / 8) + 3 * c + 1)
                if (v > mx) mx = v
                if (v < mn) mn = v
                x += 1
              }
              y += 1
            }
            c += 1
          }
          (id, d.w, d.h, d.nComp, d.ri,
            d.nComp.toLong * d.w * d.h, sum, sumsq, wsum, mx, mn)
        }
      }.toDF("doc_id", "w", "h", "n_comp", "ri", "n_px",
        "sum_px", "sumsq_px", "wsum_px", "max_px", "min_px")
    },

    // ------------------------------------------------------------------
    // YCbCr → RGB color conversion on the decoded 4:2:0 planes — the
    // step that turns "JPEG decode" into pixels a vision model eats.
    // FIXED-POINT arithmetic end to end (the JFIF/BT.601 constants
    // scaled by 2¹⁶: 1.402→91881, 0.344136→22554, 0.714136→46802,
    // 1.772→116130), with the >>16 floor mirrored in the oracle as
    // floor(v/65536e0) — division by a power of two is EXACT in
    // doubles, and DuckDB's `//` truncates toward zero (≠ floor on
    // negatives), so the float-floor spelling is the cross-engine-safe
    // one. Cell-constant inputs make every RGB value cell-constant, so
    // the oracle recomputes the conversion arithmetically on the same
    // grid as q_multimodal_jpeg420. A converter with swapped Cb/Cr,
    // truncate-vs-floor rounding, or a missing clamp hash-mismatches.
    QueryDef(
      "q_multimodal_jpeg_rgb",
      """WITH p AS (
        |  SELECT doc_id,
        |    16 * (doc_id % 3 + 1) - doc_id % 7 AS w,
        |    16 * (doc_id % 2 + 1) - doc_id % 5 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h,
        |    flatten(list_transform(range((h + 7) // 8), by ->
        |      list_transform(range((w + 7) // 8), bx -> struct_pack(
        |        y := (doc_id * 31 + by * 7 + bx * 3) % 256,
        |        cb := (doc_id * 31 + 17
        |          + (by // 2) * 7 + (bx // 2) * 3) % 256,
        |        cr := (doc_id * 31 + 34
        |          + (by // 2) * 7 + (bx // 2) * 3) % 256,
        |        cnt := least(8, w - bx * 8) * least(8, h - by * 8),
        |        wt := bx + 2 * by + 1)))) AS cs
        |  FROM p),
        |rgb AS (
        |  SELECT doc_id, w, h,
        |    list_transform(cs, s -> struct_pack(
        |      r := greatest(0, least(255, s.y + CAST(floor(
        |        (91881 * (s.cr - 128) + 32768) / 65536e0) AS BIGINT))),
        |      g := greatest(0, least(255, s.y - CAST(floor(
        |        (22554 * (s.cb - 128) + 46802 * (s.cr - 128) + 32768)
        |          / 65536e0) AS BIGINT))),
        |      b := greatest(0, least(255, s.y + CAST(floor(
        |        (116130 * (s.cb - 128) + 32768) / 65536e0) AS BIGINT))),
        |      cnt := s.cnt, wt := s.wt)) AS cs
        |  FROM cells)
        |SELECT doc_id,
        |  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
        |  CAST(w * h AS BIGINT) AS n_px,
        |  CAST(list_sum(list_transform(cs, s -> s.r * s.cnt)) AS BIGINT)
        |    AS sum_r,
        |  CAST(list_sum(list_transform(cs, s -> s.g * s.cnt)) AS BIGINT)
        |    AS sum_g,
        |  CAST(list_sum(list_transform(cs, s -> s.b * s.cnt)) AS BIGINT)
        |    AS sum_b,
        |  CAST(list_sum(list_transform(cs, s ->
        |    (s.r + 2 * s.g + 3 * s.b) * s.wt * s.cnt)) AS BIGINT)
        |    AS wsum_rgb
        |FROM rgb""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).transform(graft.Tables.fan(_, "doc_id")).as[Long]
        .map(id => (id, jpegFixture420(id)))
      assets.mapPartitions { it =>
        def clamp(v: Long): Long = math.max(0L, math.min(255L, v))
        it.map { case (id, bytes) =>
          val d = decodeJpegBaseline(bytes)
          val (py, pcb, pcr) = (d.planes(0), d.planes(1), d.planes(2))
          var sr = 0L; var sg = 0L; var sb = 0L; var ws = 0L
          var y = 0
          while (y < d.h) {
            var x = 0
            while (x < d.w) {
              val i = y * d.w + x
              val yy = py(i).toLong
              val cb = pcb(i).toLong - 128
              val cr = pcr(i).toLong - 128
              val r = clamp(yy + ((91881 * cr + 32768) >> 16))
              val g = clamp(yy - ((22554 * cb + 46802 * cr + 32768) >> 16))
              val b = clamp(yy + ((116130 * cb + 32768) >> 16))
              val wt = (x / 8) + 2 * (y / 8) + 1
              sr += r; sg += g; sb += b
              ws += (r + 2 * g + 3 * b) * wt
              x += 1
            }
            y += 1
          }
          (id, d.w, d.h, d.w.toLong * d.h, sr, sg, sb, ws)
        }
      }.toDF("doc_id", "w", "h", "n_px", "sum_r", "sum_g", "sum_b",
        "wsum_rgb")
    },

    // ------------------------------------------------------------------
    // HETEROGENEOUS corpus sniff: the asset table mixes PNG, JPEG, and
    // GIF payloads (fmt rotates with doc_id), and [[sniffDims]]
    // dispatches each on its magic bytes to the matching header parser
    // — PNG via a CRC-checked IHDR-only path (no inflate: sniffing must
    // not pay decode), JPEG via the T.81 marker walk, GIF via the
    // little-endian logical screen descriptor. This mixed-dispatch pass
    // is THE first stage over a real media crawl: every asset touched
    // once, dimensions/format recovered, nothing decompressed. The
    // oracle recomputes format and dimensions arithmetically from
    // doc_id (the dims formula is format-independent by construction,
    // so one CASE covers all three).
    QueryDef(
      "q_multimodal_sniff",
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    ELSE 'gif' END AS fmt,
        |  CAST((doc_id % 11) * 40 + 7 AS INTEGER) AS width,
        |  CAST((doc_id % 6) * 30 + 9 AS INTEGER) AS height
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).transform(graft.Tables.fan(_, "doc_id")).as[Long]
        .map { id =>
          val w = (id % 11).toInt * 40 + 7
          val h = (id % 6).toInt * 30 + 9
          val bytes = (id % 3) match {
            case 0 => encodePng(w, h, k => (k % 251).toInt, r => (r % 5).toInt)
            case 1 => encodeJpegShell(w, h, progressive = id % 2 == 1,
              Array.tabulate[Byte]((id % 23).toInt + 4)(k => (k * 11).toByte))
            case _ => encodeGifShell(w, h)
          }
          (id, bytes)
        }
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (fmt, w, h) = sniffDims(bytes)
          (id, fmt, w, h)
        }
      }.toDF("doc_id", "fmt", "width", "height")
    },

    // ------------------------------------------------------------------
    // Frame sampling: one row per sampled frame at 0.5 fps over a fake
    // duration derived from the payload size — explode(sequence) bounds
    // output rows per asset, the pattern for video → frame tables.
    QueryDef(
      "q_multimodal_frames",
      """WITH a AS (
        |  SELECT doc_id, octet_length(encode(text)) // 100 AS duration_s
        |  FROM documents)
        |SELECT doc_id, unnest(range(0, (duration_s // 2) + 1)) AS frame_idx,
        |  unnest(range(0, (duration_s // 2) + 1)) * 2 AS frame_ts_s
        |FROM a""".stripMargin) { (s, dir) =>
      val nBytes = length(col("text").cast("binary"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          nBytes.cast("long").divide(100).cast("long").as("duration_s"))
        .select(col("doc_id"),
          explode(sequence(lit(0L),
            col("duration_s").divide(2).cast("long"))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          (col("frame_idx") * 2).as("frame_ts_s"))
    },

    // ------------------------------------------------------------------
    // REAL audio decode end-to-end: each document becomes an actual
    // RIFF/PCM16 WAV (fmt chunk, a LIST chunk the decoder must skip by
    // declared size, interleaved int16 data; frame/rate/channel counts
    // and every sample a fixed function of doc_id), and [[decodeWav]]
    // walks the chunks — format parameters from the fmt chunk, exact
    // integer sample sum and peak from the data chunk. The oracle
    // recomputes everything arithmetically from doc_id, so a decoder
    // that misreads the chunk layout, drops the LIST skip, or
    // sign-extends int16 wrongly hash-mismatches immediately. Same
    // per-partition batch shape as the image kernel: only the small
    // decoded rows ever leave the executors.
    QueryDef(
      "q_multimodal_audio",
      """SELECT doc_id, 'wav' AS fmt,
        |  CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
        |  CAST(1 + (doc_id % 2) AS INTEGER) AS channels,
        |  CAST((doc_id % 50) + 10 AS BIGINT) AS n_frames,
        |  CAST(((doc_id % 50) + 10) * 1000
        |    // (8000 + (doc_id % 3) * 4000) AS BIGINT) AS dur_ms,
        |  CAST(list_sum(list_transform(
        |    range(0, ((doc_id % 50) + 10) * (1 + doc_id % 2)),
        |    k -> (doc_id * 31 + k * 7) % 65536 - 32768)) AS BIGINT)
        |    AS sample_sum,
        |  CAST(list_max(list_transform(
        |    range(0, ((doc_id % 50) + 10) * (1 + doc_id % 2)),
        |    k -> abs((doc_id * 31 + k * 7) % 65536 - 32768))) AS INTEGER)
        |    AS peak
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val ch = 1 + (id % 2).toInt
          val rate = 8000 + (id % 3).toInt * 4000
          val n = (id % 50).toInt + 10
          val samples = Array.tabulate[Short](n * ch)(
            k => (((id * 31 + k * 7) % 65536) - 32768).toShort)
          (id, encodeWav(rate, ch, samples))
        }
      assets.mapPartitions { it =>
        it.map { case (id, bytes) => decodeWav(bytes).copy(doc_id = id) }
      }.toDF()
    },

    // ------------------------------------------------------------------
    // Frame-level audio features — the feature-extraction pass one level
    // below q_multimodal_audio's whole-file statistics: the interleaved
    // PCM16 stream frames into fixed 64-sample windows (last frame
    // ragged), and each frame reports exact INTEGER features — sample
    // count, energy (Σs², bounded by 64·2³⁰ < 2³⁶, no overflow), peak
    // |s|, and the zero-crossing count (strict sign boundary between
    // consecutive in-frame samples) — the classic cheap VAD/music-vs-
    // speech signals. Same fixture arithmetic as q_multimodal_audio, so
    // the oracle replays every frame from doc_id alone: a kernel that
    // frames off-by-one, drops the ragged tail, or counts crossings
    // across frame boundaries hash-mismatches. Scale shape: the decode
    // + framing is per-row executor work (flatMap — the batch kernel
    // pattern), output is frames·4 ints per asset, and nothing
    // shuffles; downstream models consume the frame table keyed however
    // they like.
    QueryDef(
      "q_multimodal_audio_frames",
      {
        val ni = "(((doc_id % 50) + 10) * (1 + doc_id % 2))"
        def smp(k: String) = s"((doc_id * 31 + ($k) * 7) % 65536 - 32768)"
        s"""WITH f AS (
          |  SELECT doc_id,
          |    unnest(range(0, ($ni + 63) // 64)) AS frame_idx
          |  FROM documents),
          |b AS (
          |  SELECT doc_id, frame_idx, frame_idx * 64 AS lo,
          |    least((frame_idx + 1) * 64, $ni) AS hi
          |  FROM f)
          |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
          |  CAST(hi - lo AS INTEGER) AS n_samp,
          |  CAST(list_sum(list_transform(range(lo, hi),
          |    k -> ${smp("k")} * ${smp("k")})) AS BIGINT) AS energy,
          |  CAST(list_max(list_transform(range(lo, hi),
          |    k -> abs(${smp("k")}))) AS INTEGER) AS peak,
          |  CAST(coalesce(list_sum(list_transform(range(lo, hi - 1),
          |    k -> CASE WHEN (${smp("k")} < 0) <> (${smp("k + 1")} < 0)
          |         THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zcr
          |FROM b""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val frameLen = 64
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val ch = 1 + (id % 2).toInt
          val rate = 8000 + (id % 3).toInt * 4000
          val n = (id % 50).toInt + 10
          val samples = Array.tabulate[Short](n * ch)(
            k => (((id * 31 + k * 7) % 65536) - 32768).toShort)
          (id, encodeWav(rate, ch, samples))
        }
      assets.mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val s = wavSamples(bytes)
          (0 until (s.length + frameLen - 1) / frameLen).map { f =>
            val lo = f * frameLen
            val hi = math.min(lo + frameLen, s.length)
            var energy = 0L; var peak = 0; var zcr = 0L
            var k = lo
            while (k < hi) {
              val v = s(k)
              energy += v.toLong * v
              if (math.abs(v) > peak) peak = math.abs(v)
              if (k < hi - 1 && ((v < 0) != (s(k + 1) < 0))) zcr += 1
              k += 1
            }
            (id, f, hi - lo, energy, peak, zcr)
          }
        }
      }.toDF("doc_id", "frame_idx", "n_samp", "energy", "peak", "zcr")
    },

    // ------------------------------------------------------------------
    // REAL GIF decode end-to-end — the third genuinely-compressed
    // format next to PNG (zlib inflate) and the codec sniff family:
    // each document becomes a real GIF89a whose pixel indices are
    // LZW-COMPRESSED by [[lzwCompress]] (variable-width codes, clear /
    // EOI, dictionary growth — the round-trip property in
    // MultimodalSpec pins the codec on adversarial random streams, and
    // the width-rule derivation lives on the encoder), and
    // [[decodeGif]] walks the container — screen descriptor, global
    // color table, extension skip, sub-block reassembly — then decodes
    // and reports exact integer statistics with ΣRGB resolved through
    // the palette READ FROM THE FILE. The oracle recomputes everything
    // arithmetically from doc_id: a codec that mis-widens a code
    // boundary, drops the KwKwK case, or mis-walks a sub-block
    // hash-mismatches. Same executor-local batch shape as every kernel
    // here: only (doc_id, 5 ints) ever leaves the executors.
    QueryDef(
      "q_multimodal_gif",
      """SELECT doc_id, 'gif' AS fmt,
        |  CAST((doc_id % 8) + 2 AS INTEGER) AS width,
        |  CAST((doc_id % 5) + 3 AS INTEGER) AS height,
        |  CAST(((doc_id % 8) + 2) * ((doc_id % 5) + 3) AS BIGINT) AS n_pix,
        |  CAST(list_sum(list_transform(
        |    range(0, ((doc_id % 8) + 2) * ((doc_id % 5) + 3)),
        |    k -> (doc_id * 7 + k) % 4)) AS BIGINT) AS idx_sum,
        |  CAST(120 * list_sum(list_transform(
        |    range(0, ((doc_id % 8) + 2) * ((doc_id % 5) + 3)),
        |    k -> (doc_id * 7 + k) % 4))
        |    + 30 * ((doc_id % 8) + 2) * ((doc_id % 5) + 3) AS BIGINT)
        |    AS rgb_sum
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 8).toInt + 2
          val h = (id % 5).toInt + 3
          (id, encodeGif(w, h, k => ((id * 7 + k) % 4).toInt))
        }
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, n, iSum, rgbSum) = decodeGif(bytes)
          (id, "gif", w, h, n, iSum, rgbSum)
        }
      }.toDF("doc_id", "fmt", "width", "height", "n_pix", "idx_sum",
        "rgb_sum")
    },

    // ------------------------------------------------------------------
    // Media INGESTION through Spark's binaryFile source — the path a
    // real 100 TB media corpus arrives by: a directory of opaque files
    // (object store in production) → (path, content) rows → the decode
    // kernel. Fixtures are real .ppm FILES written by the executors
    // (one per asset, the object-store analogue), then read back with
    // format("binaryFile") + pathGlobFilter; the asset id rides the
    // FILENAME, recovered with regexp_extract — media pipelines key on
    // paths, not embedded ids. Decoded rows hash-check against the
    // same doc_id arithmetic as q_multimodal_decode, so the whole
    // files→rows→decode chain is oracle-verified. FIXTURE CAVEAT: the
    // local-filesystem /tmp staging is the single-JVM test stand-in
    // for the shared object store — on a real cluster the write and
    // the binaryFile read MUST both point at shared storage (s3://…),
    // or executors write files the driver-side listing never sees;
    // only the staging path changes, the plan shape is identical.
    QueryDef(
      "q_multimodal_ingest",
      """SELECT doc_id, 'ppm' AS fmt,
        |  CAST((doc_id % 8) + 1 AS INTEGER) AS width,
        |  CAST((doc_id % 6) + 1 AS INTEGER) AS height,
        |  CAST(((doc_id % 8) + 1) * ((doc_id % 6) + 1) * 3 AS BIGINT)
        |    AS n_pix_bytes,
        |  CAST(list_sum(list_transform(
        |    range(0, ((doc_id % 8) + 1) * ((doc_id % 6) + 1) * 3),
        |    k -> (doc_id + k) % 256)) AS BIGINT) AS pix_sum
        |FROM documents WHERE doc_id < 60""".stripMargin) { (s, dir) =>
      import s.implicits._
      val mediaDir = s"/tmp/graft_media_${dir.hashCode.toHexString}"
      // control-plane cleanup: drop stale fixtures from prior testdata
      // generations so the directory exactly mirrors the current corpus
      val root = java.nio.file.Paths.get(mediaDir)
      if (java.nio.file.Files.exists(root)) {
        val old = java.nio.file.Files.list(root)
        try old.forEach(p => java.nio.file.Files.delete(p))
        finally old.close()
      }
      Tables(s, dir, "documents")
        .select(col("doc_id")).filter(col("doc_id") < 60).as[Long]
        .foreachPartition { (it: Iterator[Long]) =>
          // (re-derive the Path per partition: java.nio Paths are not
          // serializable, only the directory STRING ships in the closure)
          val out = java.nio.file.Paths.get(mediaDir)
          java.nio.file.Files.createDirectories(out)
          it.foreach { id =>
            val w = (id % 8).toInt + 1
            val h = (id % 6).toInt + 1
            java.nio.file.Files.write(
              out.resolve(s"asset_$id.ppm"),
              encodePpm(w, h, k => ((id + k) % 256).toInt))
          }
        }
      val bin = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.ppm").load(mediaDir)
      val assets = bin.select(
        regexp_extract(col("path"), "asset_(\\d+)\\.ppm$", 1)
          .cast("long").as("_1"),
        col("content").as("_2")).as[(Long, Array[Byte])]
      decodeImage(assets).toDF()
    },

    // ------------------------------------------------------------------
    // FLAC STREAMINFO parse — the lossless-audio sibling of the JPEG
    // header sniff: every document becomes a structurally valid FLAC
    // shell (magic, bit-packed STREAMINFO first per spec, then PADDING
    // and a last-flagged APPLICATION block the walk must skip by their
    // 24-bit big-endian lengths, then frame filler), and
    // [[decodeFlacStreamInfo]] recovers sample rate (20 bits), channels
    // (3), bit depth (5), and the 36-bit total-sample count from the
    // packed 64-bit word — plus the block-walk's structural counts.
    // Frame decode needs a codec; THIS header pass is what a media
    // pipeline runs on 100% of assets to route/filter them, and it is
    // fully real. The oracle recomputes every field arithmetically from
    // doc_id, so a mis-shifted bit field, a wrong block length, or a
    // broken last-flag walk mismatches immediately. Duration is exact
    // integer math: total·1000 / rate floored identically in both
    // engines.
    QueryDef(
      "q_multimodal_flac",
      """SELECT doc_id, 'flac' AS fmt,
        |  CAST(CASE CAST(doc_id % 5 AS INTEGER)
        |    WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
        |    WHEN 3 THEN 32000 ELSE 44100 END AS INTEGER) AS sample_rate,
        |  CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        |  CAST(CASE CAST(doc_id % 3 AS INTEGER)
        |    WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END AS INTEGER) AS bits,
        |  CAST((doc_id % 1000) * 100 + 1000 AS BIGINT) AS total_samples,
        |  CAST(((doc_id % 1000) * 100 + 1000) * 1000
        |    // (CASE CAST(doc_id % 5 AS INTEGER)
        |       WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
        |       WHEN 3 THEN 32000 ELSE 44100 END) AS BIGINT) AS dur_ms,
        |  CAST(3 AS INTEGER) AS n_meta_blocks,
        |  CAST(doc_id % 50 + 10 AS INTEGER) AS n_audio_bytes
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val rates = Array(8000, 16000, 22050, 32000, 44100)
      val depths = Array(8, 16, 24)
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          (id, encodeFlacShell(
            rates((id % 5).toInt), (id % 2).toInt + 1,
            depths((id % 3).toInt), (id % 1000) * 100 + 1000,
            (id % 50).toInt + 10))
        }
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeFlacStreamInfo(bytes).copy(doc_id = id)
        }
      }.toDF()
    },

    // ------------------------------------------------------------------
    // MP3 frame walk — the streaming-audio container completing the
    // audio class next to WAV (raw PCM) and FLAC (metadata blocks):
    // MPEG frames are SELF-DELIMITING (each header encodes its own
    // length via the 144000·kbps/rate+pad formula), so the structural
    // pass is a chained header walk through an ID3v2 tag skip — the
    // exact pass a pipeline runs to get duration/bitrate before any
    // codec spends cycles. The fixture varies bitrate (14 values),
    // sample rate (3), frame count, padding parity, and ID3 size per
    // doc_id; the oracle recomputes every output arithmetically,
    // including the padded-frame count's parity algebra and the
    // integer-division frame length — any off-by-one in the walk (tag
    // skip, padding, trailing-garbage tolerance) is a hash mismatch.
    // Per-asset scan-speed work; payloads never shuffle.
    {
      val rateSql = """(CASE CAST(doc_id % 3 AS INTEGER)
        | WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END)"""
        .stripMargin.replace("\n", "")
      val kbpsSql = ("(CASE CAST(doc_id % 14 AS INTEGER) " +
        mp3Bitrates.drop(1).zipWithIndex
          .map { case (k, i) => s"WHEN $i THEN $k" }.dropRight(1)
          .mkString(" ") + s" ELSE ${mp3Bitrates.last} END)")
      val nSql = "(doc_id % 9 + 3)"
      val npSql = s"($nSql // 2 + ($nSql % 2) * (doc_id % 2))"
      QueryDef(
        "q_multimodal_mp3",
        s"""SELECT doc_id, 'mp3' AS fmt,
          |  CAST($rateSql AS INTEGER) AS sample_rate,
          |  CAST($kbpsSql AS INTEGER) AS bitrate_kbps,
          |  CAST($nSql AS INTEGER) AS n_frames,
          |  CAST($npSql AS INTEGER) AS n_padded,
          |  CAST($nSql * 1152 * 1000 // $rateSql AS BIGINT) AS dur_ms,
          |  CAST(10 + doc_id % 100 + 10 AS INTEGER) AS id3_bytes,
          |  CAST($nSql * (144000 * $kbpsSql // $rateSql) + $npSql
          |    AS INTEGER) AS audio_bytes
          |FROM documents""".stripMargin) { (s, dir) =>
        import s.implicits._
        val assets = Tables(s, dir, "documents")
          .select(col("doc_id")).transform(graft.Tables.fan(_, "doc_id")).as[Long]
          .map { id =>
            (id, encodeMp3(id, (id % 14).toInt + 1, (id % 3).toInt,
              (id % 9).toInt + 3, (id % 100).toInt + 10))
          }
        assets.mapPartitions { it =>
          it.map { case (id, bytes) => decodeMp3Meta(bytes).copy(doc_id = id) }
        }.toDF()
      }
    },

    // ------------------------------------------------------------------
    // OGG page walk — the general-purpose streaming container (Vorbis/
    // Opus/Theora all ride it) completing the container class next to
    // ZIP (archive) and MP4 (ISO-BMFF): pages are CRC-PROTECTED with
    // OGG's OWN CRC-32 variant (poly 0x04C11DB7, unreflected, init 0 —
    // a zlib CRC rejects every valid file, the classic implementation
    // trap), sized by lacing tables, and ordered by explicit sequence
    // numbers with BOS/EOS placement rules. The kernel verifies all of
    // it — capture pattern, version, CRC with the field zeroed,
    // continuity, single-serial, EOS-terminated — per RFC 3533; the
    // fixture varies page count, segment counts, lacing values, and
    // granules per doc_id and the oracle recomputes every output with
    // nested range/list_transform arithmetic. Scan-speed per-asset
    // work; payloads never shuffle.
    {
      val npSql = "(doc_id % 4 + 2)"
      QueryDef(
        "q_multimodal_ogg",
        s"""SELECT doc_id, 'ogg' AS fmt,
          |  CAST(doc_id AS INTEGER) AS serial,
          |  CAST($npSql AS INTEGER) AS n_pages,
          |  CAST(list_sum(list_transform(range(0, $npSql),
          |    k -> (doc_id + k) % 3 + 1)) AS INTEGER) AS n_segs,
          |  CAST(list_sum(list_transform(range(0, $npSql),
          |    k -> list_sum(list_transform(range(0, (doc_id + k) % 3 + 1),
          |      j -> (doc_id + k + j) % 20 + 5)))) AS INTEGER) AS body_bytes,
          |  CAST($npSql * 100 + doc_id % 50 AS BIGINT) AS last_granule
          |FROM documents""".stripMargin) { (s, dir) =>
        import s.implicits._
        val assets = Tables(s, dir, "documents")
          .select(col("doc_id")).as[Long]
          .map(id => (id, encodeOgg(id, (id % 4).toInt + 2)))
        assets.mapPartitions { it =>
          it.map { case (id, bytes) => decodeOggMeta(bytes).copy(doc_id = id) }
        }.toDF()
      }
    },

    // ------------------------------------------------------------------
    // TIFF IFD walk — the one header format where BYTE ORDER itself is
    // data: files declare II (little) or MM (big) and every
    // multi-byte value, including the left-justified SHORT packing
    // inside the 4-byte IFD value field, follows that declaration. The
    // corpus alternates endianness by doc_id, so a parser that
    // hard-codes either order fails half the table instantly.
    // [[decodeTiffMeta]] dispatches on the magic, checks the 42 word,
    // walks the six-entry IFD (geometry, sample layout, compression,
    // strip bounds), and validates the strip against the file length.
    // Like the other header kernels this is scan-speed per-asset work;
    // the oracle recomputes everything arithmetically from doc_id.
    QueryDef(
      "q_multimodal_tiff",
      """SELECT doc_id, 'tiff' AS fmt,
        |  CAST(doc_id % 31 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 23 + 1 AS INTEGER) AS height,
        |  CAST(8 + (doc_id % 2) * 8 AS INTEGER) AS bits,
        |  doc_id % 2 = 1 AS big_endian,
        |  CAST(6 AS INTEGER) AS n_entries,
        |  CAST(doc_id % 40 + 5 AS INTEGER) AS n_strip_bytes
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          (id, encodeTiff((id % 31).toInt + 1, (id % 23).toInt + 1,
            8 + (id % 2).toInt * 8, bigEndian = id % 2 == 1,
            (id % 40).toInt + 5))
        }
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeTiffMeta(bytes).copy(doc_id = id)
        }
      }.toDF()
    },

    // ------------------------------------------------------------------
    // ZIP central-directory walk — the container format corpus archives
    // actually arrive in. Unlike the arithmetic shells, the FIXTURE
    // here is written by an independent implementation (the JDK's
    // ZipOutputStream, STORED entries) and the KERNEL is a hand-written
    // PKWARE APPNOTE parser: backwards EOCD signature scan, central
    // directory record walk with declared name/extra/comment skipping,
    // and an exact end-position cross-check against the EOCD's size
    // field — so encoder and decoder can't share a bug. The oracle
    // recomputes entry counts and byte totals arithmetically from
    // doc_id. This is the manifest pass an archive-ingest pipeline runs
    // before extracting anything: per-asset, scan-speed, no
    // decompression.
    QueryDef(
      "q_multimodal_zip",
      """SELECT doc_id, 'zip' AS fmt,
        |  CAST(doc_id % 4 + 1 AS INTEGER) AS n_entries,
        |  CAST((doc_id % 4 + 1) * (doc_id % 17 + 3)
        |    + ((doc_id % 4 + 1) * (doc_id % 4)) // 2 AS BIGINT)
        |    AS total_uncompressed,
        |  CAST(6 * (doc_id % 4 + 1) AS BIGINT) AS name_chars,
        |  true AS all_stored
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map(id => (id, encodeZip(id, (id % 4).toInt + 1)))
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeZipDirectory(bytes).copy(doc_id = id)
        }
      }.toDF()
    },

    // ------------------------------------------------------------------
    // MP4 / ISO-BMFF box walk — the VIDEO container, completing the
    // media-class coverage (image: PPM/BMP/PNG/GIF/TIFF/JPEG; audio:
    // WAV/FLAC; archive: ZIP; video: this). The kernel iterates
    // size/type boxes, recovers the brand from ftyp, descends into
    // moov for the mvhd timescale/duration pair at their spec offsets
    // (skipping udta siblings and a top-level free box), and converts
    // duration to exact integer milliseconds — the routing metadata a
    // video-ingest pipeline needs before any codec runs. Arithmetic
    // oracle per doc; the encoder composes boxes bottom-up from pure
    // byte arrays, so there is no shared writer state to race under
    // executor parallelism.
    QueryDef(
      "q_multimodal_mp4",
      """SELECT doc_id, 'mp4' AS fmt,
        |  CASE CAST(doc_id % 5 AS INTEGER)
        |    WHEN 0 THEN 'mp41' WHEN 1 THEN 'mp42' WHEN 2 THEN 'avc1'
        |    WHEN 3 THEN 'dash' ELSE 'iso5' END AS brand,
        |  CAST(CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN 600 WHEN 1 THEN 1000 WHEN 2 THEN 90000
        |    ELSE 44100 END AS BIGINT) AS timescale,
        |  CAST(((doc_id % 9000) * 100 + 600) * 1000
        |    // (CASE CAST(doc_id % 4 AS INTEGER)
        |       WHEN 0 THEN 600 WHEN 1 THEN 1000 WHEN 2 THEN 90000
        |       ELSE 44100 END) AS BIGINT) AS duration_ms,
        |  CAST(4 AS INTEGER) AS n_top_boxes,
        |  CAST(doc_id % 60 + 4 AS INTEGER) AS mdat_bytes
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      val brands = Array("mp41", "mp42", "avc1", "dash", "iso5")
      val scales = Array(600L, 1000L, 90000L, 44100L)
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          (id, encodeMp4Shell(brands((id % 5).toInt),
            scales((id % 4).toInt), (id % 9000) * 100 + 600,
            (id % 60).toInt + 4))
        }
      assets.mapPartitions { it =>
        it.map { case (id, bytes) =>
          decodeMp4Meta(bytes).copy(doc_id = id)
        }
      }.toDF()
    },

    // ------------------------------------------------------------------
    // MS-RLE8-in-AVI INTER-FRAME VIDEO DECODE — the first genuinely
    // inter-frame codec decoded for real (MJPEG above is intra-only):
    // frame 0 is a keyframe painting every pixel; every later frame is
    // a DELTA that jumps to its dirty two-row band with an RLE escape
    // and repaints only that band, so the decoder must carry the frame
    // buffer across frames — the reconstructed statistics of frame f
    // include bands painted by frames 1..f-1 and keyframe rows nothing
    // ever repainted, which is exactly what the oracle recomputes
    // arithmetically (the "owner" of row y at time f is the latest
    // band covering it). The idx1 keyframe flag marks frame 0 ONLY and
    // the decoder enforces it — a flagged delta frame would promise
    // seek-and-decode and deliver garbage. This narrows the stub to
    // codecs whose ENTROPY layer needs a conformance-tested library
    // (adaptive-arithmetic H.26x/VPx/AV1); plain inter-frame state is
    // now in scope and tested. Same 100 TB shape as every codec
    // kernel: payloads never shuffle, only (doc_id, frame, ints) rows.
    QueryDef(
      "q_multimodal_rle",
      """WITH p AS (
        |  SELECT doc_id, doc_id % 12 + 6 AS w, doc_id % 8 + 5 AS h,
        |    doc_id % 3 + 2 AS nf
        |  FROM documents),
        |pf AS (SELECT doc_id, w, h, unnest(range(nf)) AS f FROM p),
        |py AS (SELECT doc_id, w, h, f, unnest(range(h)) AS y FROM pf),
        |px AS (SELECT doc_id, w, h, f, y, unnest(range(w)) AS x FROM py),
        |v AS (
        |  SELECT doc_id, w, h, f, y, x,
        |    CASE WHEN (CASE WHEN y >= 1 AND y <= f THEN y
        |      WHEN y - 1 >= 1 AND y - 1 <= f THEN y - 1 ELSE 0 END) = 0
        |    THEN (doc_id * 31 + y * 7 + x * 3) % 256
        |    ELSE (doc_id * 17 +
        |      (CASE WHEN y >= 1 AND y <= f THEN y ELSE y - 1 END) * 29 +
        |      y * 7 + x * 3) % 256 END AS v
        |  FROM px)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame,
        |  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
        |  CAST(15 AS INTEGER) AS rate, true AS has_index,
        |  CAST(w * h AS BIGINT) AS n_px,
        |  CAST(sum(v) AS BIGINT) AS sum_px,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(sum(v * (x + 2 * y + 1)) AS BIGINT) AS wsum
        |FROM v GROUP BY doc_id, f, w, h""".stripMargin) { (s, dir) =>
      import s.implicits._
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = (id % 12 + 6).toInt
          val h = (id % 8 + 5).toInt
          val nf = (id % 3 + 2).toInt
          val key = encodeRle8Key(w, h,
            (x, y) => ((id * 31 + y * 7 + x * 3) % 256).toInt)
          val deltas = (1 until nf).map { f =>
            encodeRle8Delta(w, f,
              (x, y) => ((id * 17 + f * 29 + y * 7 + x * 3) % 256).toInt)
          }
          (id, encodeAviRle8(w, h, 15, key +: deltas))
        }
      assets.flatMap { case (id, bytes) =>
        decodeAviRle8(bytes).map(_.copy(doc_id = id))
      }.toDF()
    },

    // ------------------------------------------------------------------
    // MJPEG-in-AVI VIDEO FRAME DECODE — retires the video decodeStub
    // route (r11 VERDICT task 2): the RIFF container walk
    // ([[decodeAviMjpeg]]) validates headers/index and yields the
    // per-frame byte streams, and each frame — MJPEG is intra-only,
    // every frame an independent baseline JPEG — runs through the
    // repo's own T.81 decoder to pixel planes, reduced to the exact
    // integer statistics family of q_multimodal_jpeg_decode. One
    // output ROW PER FRAME (the video → frame-table explode a training
    // pipeline feeds to per-frame models), with header fields (rate,
    // index presence, restart interval) pinned alongside the pixel
    // checksums so a wrong container walk or index mismatch fails as
    // loudly as a wrong pixel. Fixture frames are per-block constant
    // under the Q(0,0)=8 lossless contract, so the oracle recomputes
    // every pixel of every frame arithmetically from (doc_id, frame).
    // Same 100 TB shape as every codec kernel: the AVI payload is
    // built and decoded inside one executor partition, never
    // shuffled; only (doc_id, frame, 12 ints) rows move. Remaining
    // genuinely-stubbed scope is INTER-frame codecs only
    // (motion-compensated H.26x/VPx/AV1 — see [[decodeStub]]).
    QueryDef(
      "q_multimodal_mjpeg",
      """WITH p AS (
        |  SELECT doc_id, doc_id % 3 + 2 AS nf,
        |    doc_id % 4 + 2 AS bw, doc_id % 3 + 2 AS bh,
        |    8 * (doc_id % 4 + 2) - doc_id % 5 AS w,
        |    8 * (doc_id % 3 + 2) - doc_id % 3 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS nc,
        |    CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END AS ri
        |  FROM documents),
        |pf AS (
        |  SELECT doc_id, unnest(range(nf)) AS f, bw, bh, w, h, nc, ri
        |  FROM p),
        |cells AS (
        |  SELECT doc_id, f, w, h, nc, ri,
        |    flatten(flatten(list_transform(range(nc), c ->
        |      list_transform(range(bh), by ->
        |        list_transform(range(bw), bx -> struct_pack(
        |          v := (doc_id * 41 + f * 13 + c * 19 + by * 7 + bx * 5)
        |            % 256,
        |          cnt := least(8, w - bx * 8) * least(8, h - by * 8),
        |          wt := bx + 2 * by + 3 * c + 1)))))) AS cs
        |  FROM pf)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame,
        |  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
        |  CAST(nc AS INTEGER) AS n_comp, CAST(ri AS INTEGER) AS ri,
        |  CAST(25 AS INTEGER) AS rate,
        |  doc_id % 4 <> 3 AS has_index,
        |  CAST(nc * w * h AS BIGINT) AS n_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.cnt)) AS BIGINT)
        |    AS sum_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.v * s.cnt))
        |    AS BIGINT) AS sumsq_px,
        |  CAST(list_sum(list_transform(cs, s -> s.v * s.wt * s.cnt))
        |    AS BIGINT) AS wsum_px,
        |  CAST(list_max(list_transform(cs, s -> s.v)) AS INTEGER)
        |    AS max_px,
        |  CAST(list_min(list_transform(cs, s -> s.v)) AS INTEGER)
        |    AS min_px
        |FROM cells""".stripMargin) { (s, dir) =>
      import s.implicits._
      // Heavy-kernel sites in this family (the 0.4-2 s deciles: the
      // five jpeg decoders, sniff, mp3, and this one) pin the fixture
      // fan-out to session width (Tables.fan): the typed map is opaque
      // to AQE, so the encode+decode kernel otherwise inherits the
      // documents scan's SINGLE split and runs as one task (measured
      // 2.2 s here, r15 profile). The sub-0.2 s queries stay unpinned
      // on purpose - an added exchange costs more than it spreads.
      val assets = Tables(s, dir, "documents")
        .select(col("doc_id")).transform(graft.Tables.fan(_, "doc_id")).as[Long]
        .map(id => (id, aviFixture(id)))
      assets.mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val avi = decodeAviMjpeg(bytes)
          avi.frames.zipWithIndex.map { case (fb, f) =>
            val d = decodeJpegBaseline(fb)
            require(d.w == avi.w && d.h == avi.h,
              s"frame $f dims ${d.w}x${d.h} != declared ${avi.w}x${avi.h}")
            var sum = 0L; var sumsq = 0L; var wsum = 0L
            var mx = 0; var mn = 255
            var c = 0
            while (c < d.nComp) {
              val pl = d.planes(c)
              var y = 0
              while (y < d.h) {
                var x = 0
                while (x < d.w) {
                  val v = pl(y * d.w + x)
                  sum += v; sumsq += v.toLong * v
                  wsum += v.toLong * ((x / 8) + 2 * (y / 8) + 3 * c + 1)
                  if (v > mx) mx = v
                  if (v < mn) mn = v
                  x += 1
                }
                y += 1
              }
              c += 1
            }
            (id, f, d.w, d.h, d.nComp, d.ri, avi.rate, avi.hasIndex,
              d.nComp.toLong * d.w * d.h, sum, sumsq, wsum, mx, mn)
          }
        }
      }.toDF("doc_id", "frame", "w", "h", "n_comp", "ri", "rate",
        "has_index", "n_px", "sum_px", "sumsq_px", "wsum_px",
        "max_px", "min_px")
    }
  )
}
