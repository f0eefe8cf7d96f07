package graft.ops

/**
 * FLAC decoder (RFC 9639) — the lossless format speech corpora
 * actually ship in (LibriSpeech, MLS, Common Voice exports), so a
 * training pipeline that only reads linear PCM skips most real
 * speech data. This is a self-contained spec implementation of the
 * format's core:
 *
 *  - metadata walk (STREAMINFO required; every other block skipped
 *    by its own framing),
 *  - frame headers: 14-bit sync, blocking strategy, the full block
 *    size / sample rate / sample size code tables, UTF-8-style coded
 *    frame/sample numbers, CRC-8 (poly 0x07) verification,
 *  - subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders
 *    1-32 (4-bit precision, signed shift, 64-bit accumulator),
 *    wasted-bits unary prefix,
 *  - residual: both Rice methods (4- and 5-bit parameters),
 *    partition orders 0-15, escape partitions (raw n-bit, n=0
 *    included), zigzag decode,
 *  - stereo decorrelation: left/side, right/side, mid/side (the
 *    `(mid << 1 | side & 1)` reconstruction),
 *  - frame CRC-16 (poly 0x8005) verification.
 *
 * Validation story (no libFLAC exists in this container, unlike the
 * libwebp ground truth the VP8 decoders were pinned against —
 * documented honestly): the fixture encoder
 * (FlacEncoder, in test scope) is an independent spec
 * implementation of the ENCODE direction, and STREAMINFO's MD5 field
 * closes the loop end-to-end — the encoder stamps the MD5 of the
 * SOURCE PCM before encoding, the decoder hashes its RECONSTRUCTED
 * PCM, and the two agree only when every subframe, residual and
 * decorrelation step is exact. [[decode]] surfaces that check as
 * `md5Ok`, and the q_m36 face exposes it as a column the oracle pins
 * TRUE.
 *
 * Tolerance discipline (same as every walker here): a malformed
 * header, failed CRC, or truncated frame ends the decode with the
 * frames already claimed; junk claims nothing. Decoding is
 * partition-local — used map-side by the audio feature family, blobs
 * never shuffle.
 */
object Flac {

  /** Decoded stream: interleaved samples (channel-major within each
   * tick), plus the STREAMINFO identity and whether the
   * reconstructed PCM's MD5 matches the header's (false when the
   * header MD5 is unset/all-zero or any frame failed to decode). */
  final case class Pcm(sampleRate: Int, channels: Int, bits: Int,
      totalSamples: Long, samples: Array[Int], md5Ok: Boolean)

  // ------------------------------------------------------------ bits

  private final class BitReader(b: Array[Byte], var pos: Int, val end: Int) {
    var bit = 0
    var failed = false
    def bytePos: Int = pos
    def aligned: Boolean = bit == 0
    def u(n: Int): Int = {
      var v = 0
      var left = n
      while (left > 0) {
        if (pos >= end) { failed = true; return 0 }
        val avail = 8 - bit
        val take = math.min(avail, left)
        val sh = avail - take
        v = (v << take) | (((b(pos) & 0xff) >>> sh) & ((1 << take) - 1))
        bit += take
        if (bit == 8) { bit = 0; pos += 1 }
        left -= take
      }
      v
    }
    def uLong(n: Int): Long = {
      var v = 0L
      var left = n
      while (left > 0) {
        val take = math.min(24, left)
        v = (v << take) | (u(take).toLong & 0xffffff)
        left -= take
      }
      v
    }
    /** signed two's-complement n-bit read */
    def s(n: Int): Int = {
      if (n == 0) return 0
      val v = if (n <= 31) u(n) else uLong(n).toInt
      if (n < 32 && (v & (1 << (n - 1))) != 0) v - (1 << n) else v
    }
    /** unary: zero bits before a one */
    def unary(): Int = {
      var q = 0
      while (!failed) {
        if (u(1) == 1) return q
        q += 1
        if (q > (end - pos + 1) * 8 + 8) { failed = true; return 0 }
      }
      0
    }
  }

  // ------------------------------------------------------------ CRCs

  private[graft] def crc8(b: Array[Byte], off: Int, len: Int): Int = {
    var crc = 0
    var i = off
    while (i < off + len) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  private[graft] def crc16(b: Array[Byte], off: Int, len: Int): Int = {
    var crc = 0
    var i = off
    while (i < off + len) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  // ------------------------------------------------------ STREAMINFO

  private[ops] final case class StreamInfo(sampleRate: Int, channels: Int,
      bits: Int, totalSamples: Long, md5: Array[Byte], audioOffset: Int)

  private[ops] def streamInfo(b: Array[Byte]): Option[StreamInfo] = {
    if (b == null || b.length < 42 || b(0) != 'f' || b(1) != 'L' ||
      b(2) != 'a' || b(3) != 'C') return None
    var p = 4
    var info: Option[StreamInfo] = None
    var last = false
    while (!last && p + 4 <= b.length) {
      val hdr = b(p) & 0xff
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7f
      val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      if (p + 4 + len > b.length) return None
      if (btype == 0 && len >= 34) {
        val o = p + 4
        val sr = ((b(o + 10) & 0xff) << 12) | ((b(o + 11) & 0xff) << 4) |
          ((b(o + 12) & 0xff) >>> 4)
        val ch = ((b(o + 12) >>> 1) & 0x7) + 1
        val bits = (((b(o + 12) & 1) << 4) | ((b(o + 13) & 0xff) >>> 4)) + 1
        val total = ((b(o + 13) & 0xfL) << 32) | ((b(o + 14) & 0xffL) << 24) |
          ((b(o + 15) & 0xffL) << 16) | ((b(o + 16) & 0xffL) << 8) | (b(o + 17) & 0xffL)
        val md5 = java.util.Arrays.copyOfRange(b, o + 18, o + 34)
        info = Some(StreamInfo(sr, ch, bits, total, md5, 0))
      }
      p += 4 + len
    }
    info.map(_.copy(audioOffset = p)).filter(i =>
      i.sampleRate > 0 && i.channels >= 1 && i.channels <= 8 &&
        i.bits >= 4 && i.bits <= 32)
  }

  // ---------------------------------------------------------- frames

  private val BlockSizes = Array(-1, 192, 576, 1152, 2304, 4608, -8, -16,
    256, 512, 1024, 2048, 4096, 8192, 16384, 32768)
  private val SampleRates = Array(0, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000, -8, -16, -160, -1)

  /** UTF-8-style coded number (up to 36 bits). Returns -1 on a
   * malformed coding. */
  private def codedNumber(r: BitReader): Long = {
    val first = r.u(8)
    if (r.failed) return -1
    var n = 0
    var v = 0L
    if ((first & 0x80) == 0) return first.toLong
    else if ((first & 0xe0) == 0xc0) { n = 1; v = first & 0x1f }
    else if ((first & 0xf0) == 0xe0) { n = 2; v = first & 0x0f }
    else if ((first & 0xf8) == 0xf0) { n = 3; v = first & 0x07 }
    else if ((first & 0xfc) == 0xf8) { n = 4; v = first & 0x03 }
    else if ((first & 0xfe) == 0xfc) { n = 5; v = first & 0x01 }
    else if (first == 0xfe) { n = 6; v = 0 }
    else return -1
    var i = 0
    while (i < n) {
      val c = r.u(8)
      if (r.failed || (c & 0xc0) != 0x80) return -1
      v = (v << 6) | (c & 0x3f)
      i += 1
    }
    v
  }

  /** Decode one subframe into `out` (blockSize samples). */
  private def subframe(r: BitReader, blockSize: Int, bps: Int,
      out: Array[Int]): Boolean = {
    if (r.u(1) != 0) return false // reserved bit
    val t = r.u(6)
    var wasted = 0
    if (r.u(1) == 1) { wasted = r.unary() + 1 }
    if (r.failed) return false
    val eb = bps - wasted
    if (eb <= 0 || eb > 32) return false
    val ok: Boolean =
      if (t == 0) { // CONSTANT
        val v = r.s(eb)
        java.util.Arrays.fill(out, 0, blockSize, v)
        !r.failed
      } else if (t == 1) { // VERBATIM
        var i = 0
        while (i < blockSize && !r.failed) { out(i) = r.s(eb); i += 1 }
        !r.failed
      } else if (t >= 8 && t <= 12) { // FIXED, order = t - 8
        val order = t - 8
        if (order > blockSize) return false
        var i = 0
        while (i < order && !r.failed) { out(i) = r.s(eb); i += 1 }
        if (!residual(r, blockSize, order, out)) return false
        var tt = order
        while (tt < blockSize) {
          val p = order match {
            case 0 => 0L
            case 1 => out(tt - 1).toLong
            case 2 => 2L * out(tt - 1) - out(tt - 2)
            case 3 => 3L * out(tt - 1) - 3L * out(tt - 2) + out(tt - 3)
            case _ => 4L * out(tt - 1) - 6L * out(tt - 2) +
              4L * out(tt - 3) - out(tt - 4)
          }
          out(tt) = (out(tt) + p).toInt
          tt += 1
        }
        true
      } else if (t >= 32) { // LPC, order = (t & 31) + 1
        val order = (t & 31) + 1
        if (order > blockSize) return false
        var i = 0
        while (i < order && !r.failed) { out(i) = r.s(eb); i += 1 }
        val precM1 = r.u(4)
        if (r.failed || precM1 == 15) return false
        val prec = precM1 + 1
        val shift = { val v = r.u(5); if ((v & 0x10) != 0) v - 32 else v }
        if (shift < 0) return false // negative shifts are forbidden in practice
        val coefs = new Array[Int](order)
        i = 0
        while (i < order && !r.failed) { coefs(i) = r.s(prec); i += 1 }
        if (!residual(r, blockSize, order, out)) return false
        var tt = order
        while (tt < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * out(tt - 1 - j); j += 1 }
          out(tt) = (out(tt) + (acc >> shift)).toInt
          tt += 1
        }
        true
      } else false // reserved types
    if (!ok || r.failed) return false
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) = out(i) << wasted; i += 1 }
    }
    true
  }

  /** Rice-coded residual into out[order, blockSize). */
  private def residual(r: BitReader, blockSize: Int, order: Int,
      out: Array[Int]): Boolean = {
    val method = r.u(2)
    if (r.failed || method > 1) return false
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val po = r.u(4)
    if (r.failed) return false
    val parts = 1 << po
    if (blockSize % parts != 0) return false
    val partLen = blockSize / parts
    if (partLen <= 0) return false
    var idx = order
    var p = 0
    while (p < parts) {
      val n = if (p == 0) partLen - order else partLen
      if (n < 0) return false
      val param = r.u(pBits)
      if (r.failed) return false
      if (param == escape) {
        val raw = r.u(5)
        if (r.failed) return false
        var i = 0
        while (i < n) { out(idx) = if (raw == 0) 0 else r.s(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < n) {
          val q = r.unary()
          val rem = if (param == 0) 0 else r.u(param)
          if (r.failed) return false
          val v = (q.toLong << param) | rem
          out(idx) = ((v >>> 1) ^ -(v & 1L)).toInt
          idx += 1
          i += 1
        }
      }
      p += 1
    }
    !r.failed
  }

  /** Decode every frame; returns interleaved samples and whether the
   * stream decoded to completion (all totalSamples present). */
  def decode(b: Array[Byte]): Option[Pcm] = streamInfo(b).flatMap { si =>
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var p = si.audioOffset
    var decoded = 0L
    var ok = true
    var any = false
    while (ok && p + 5 <= b.length && decoded < si.totalSamples) {
      frame(b, p, si) match {
        case Some((samples, end)) =>
          out ++= samples
          decoded += samples.length / si.channels
          p = end
          any = true
        case None => ok = false
      }
    }
    if (!any) None
    else {
      val samples = out.result()
      val md5Ok = ok && decoded == si.totalSamples &&
        si.md5.exists(_ != 0) && {
          val md = java.security.MessageDigest.getInstance("MD5")
          val bytesPer = (si.bits + 7) / 8
          val buf = new Array[Byte](samples.length * bytesPer)
          var i = 0
          while (i < samples.length) {
            var k = 0
            while (k < bytesPer) {
              buf(i * bytesPer + k) = ((samples(i) >> (8 * k)) & 0xff).toByte
              k += 1
            }
            i += 1
          }
          java.util.Arrays.equals(md.digest(buf), si.md5)
        }
      Some(Pcm(si.sampleRate, si.channels, si.bits, decoded, samples, md5Ok))
    }
  }

  /** Decode ONE frame at `start`: (interleaved samples, end offset). */
  private def frame(b: Array[Byte], start: Int,
      si: StreamInfo): Option[(Array[Int], Int)] = {
    if ((b(start) & 0xff) != 0xff || (b(start + 1) & 0xfc) != 0xf8) return None
    val r = new BitReader(b, start, b.length)
    r.u(14) // sync
    if (r.u(1) != 0) return None // reserved
    r.u(1) // blocking strategy (number semantics only)
    val bsCode = r.u(4)
    val srCode = r.u(4)
    val chAsgn = r.u(4)
    val ssCode = r.u(3)
    if (r.u(1) != 0) return None // reserved
    if (codedNumber(r) < 0) return None
    var blockSize = BlockSizes(bsCode)
    if (blockSize == -1) return None
    if (blockSize == -8) blockSize = r.u(8) + 1
    if (blockSize == -16) blockSize = r.u(16) + 1
    var rate = SampleRates(srCode)
    if (rate == -1) return None
    if (rate == 0) rate = si.sampleRate
    if (rate == -8) rate = r.u(8) * 1000
    if (rate == -16) rate = r.u(16)
    if (rate == -160) rate = r.u(16) * 10
    val bps = ssCode match {
      case 0 => si.bits
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => return None
    }
    val channels = if (chAsgn <= 7) chAsgn + 1 else 2
    if (r.failed || channels != si.channels || !r.aligned) return None
    val hdrLen = r.bytePos - start
    if (r.bytePos >= b.length) return None
    if (r.u(8) != crc8(b, start, hdrLen)) return None
    // subframes
    val chans = Array.ofDim[Int](channels, blockSize)
    var c = 0
    while (c < channels) {
      val extra = chAsgn match {
        case 8 => if (c == 1) 1 else 0  // left/side
        case 9 => if (c == 0) 1 else 0  // right/side
        case 10 => if (c == 1) 1 else 0 // mid/side
        case _ => 0
      }
      if (!subframe(r, blockSize, bps + extra, chans(c))) return None
      c += 1
    }
    // byte-align padding, then CRC-16 over the whole frame
    if (!r.aligned) { val pad = 8 - r.bit; if (r.u(pad) != 0) return None }
    if (r.failed || r.bytePos + 2 > b.length) return None
    val bodyLen = r.bytePos - start
    val crc = (b(r.bytePos) & 0xff) << 8 | (b(r.bytePos + 1) & 0xff)
    if (crc != crc16(b, start, bodyLen)) return None
    // undo stereo decorrelation
    chAsgn match {
      case 8 => // left/side: r = l - s
        var i = 0
        while (i < blockSize) { chans(1)(i) = chans(0)(i) - chans(1)(i); i += 1 }
      case 9 => // right/side (side first): l = s + r
        var i = 0
        while (i < blockSize) { chans(0)(i) = chans(0)(i) + chans(1)(i); i += 1 }
      case 10 => // mid/side
        var i = 0
        while (i < blockSize) {
          val s = chans(1)(i)
          val m = (chans(0)(i) << 1) | (s & 1)
          chans(0)(i) = (m + s) >> 1
          chans(1)(i) = (m - s) >> 1
          i += 1
        }
      case _ => ()
    }
    val inter = new Array[Int](blockSize * channels)
    var t = 0
    while (t < blockSize) {
      var cc = 0
      while (cc < channels) { inter(t * channels + cc) = chans(cc)(t); cc += 1 }
      t += 1
    }
    Some((inter, r.bytePos + 2))
  }

  /** Relational face (q_m36): per decodable FLAC blob the stream
   * identity, decoded sample count, two order-pinning PCM checksums
   * (plain sum and a position-weighted dot — equal multisets with
   * swapped channels or reordered frames hash apart), and the
   * end-to-end `md5_ok` verdict (STREAMINFO's source-PCM MD5 vs the
   * reconstruction's). Pure map-side: one decode per blob inside its
   * partition, only the fixed-shape identity row leaves. */
  def pcmTable(spark: org.apache.spark.sql.SparkSession,
      media: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[Multimodal.MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decode(r.media).map { p =>
            var sum = 0L
            var dot = 0L
            var i = 0
            while (i < p.samples.length) {
              sum += p.samples(i)
              dot += p.samples(i).toLong * ((i % 97) + 1)
              i += 1
            }
            (r.media_id, p.sampleRate, p.channels, p.bits,
              p.totalSamples, p.md5Ok, sum, dot)
          }
        }
      }
      .toDF("media_id", "sample_rate", "channels", "bits",
        "n_samples", "md5_ok", "pcm_sum", "pcm_dot")
  }

  /** Normalized mono envelope for the audio feature family — the
   * FLAC twin of the WAV/AIFF envelope path. */
  def envelope(b: Array[Byte]): Option[Array[Float]] =
    decode(b).filter(_.samples.nonEmpty).map { pcm =>
      // long shift: STREAMINFO admits bits up to 32, where an Int
      // shift would wrap to MIN_VALUE and sign-flip every sample
      val scale = (1L << (pcm.bits - 1)).toFloat
      val n = pcm.samples.length / pcm.channels
      val out = new Array[Float](n)
      var t = 0
      while (t < n) {
        var acc = 0f
        var c = 0
        while (c < pcm.channels) { acc += pcm.samples(t * pcm.channels + c); c += 1 }
        out(t) = acc / pcm.channels / scale
        t += 1
      }
      out
    }
}
