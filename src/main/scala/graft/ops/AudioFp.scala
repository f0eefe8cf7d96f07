package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Multimodal.MediaRow

/**
 * Perceptual AUDIO near-duplicate detection — the audio member of
 * the modality-dedup matrix (text SimHash/MinHash, image dHash,
 * audio THIS): a speech/audio corpus is full of re-encodes (WAV ↔
 * FLAC), level changes and light edits of the same recording, which
 * byte hashing can never catch.
 *
 * Fingerprint (Haitsma–Kalker-inspired, re-derived for ALIGNED
 * re-encode dedup in round 18, widened to 128 bits in round 19):
 * decode to signed mono PCM, Hann-window 1024-sample frames (hop
 * 512), real FFT, 17 log-spaced band energies; per signal EIGHTH,
 * sum the LOG band energies over the eighth's frames and keep one
 * bit per adjacent-band comparison — the segment's spectral-shape
 * sign profile. Log + signs make the bits exactly invariant to
 * level changes and lossless re-encodes, and the wide adjacent-band
 * margins survive LOSSY codec noise (the in-repo MP3 at ~18 dB
 * flips ≤5 of the 128; the original temporal-delta bit, designed
 * for clip RETRIEVAL, flipped 10-15 of 64 there — wrong tool for
 * the aligned-dedup job, and the swap is pinned by Mp3Spec).
 *
 * Signature: 16 bits × 8 time-eighths = 128 bits as eight 16-bit
 * bands, the SAME pigeonhole banding as the image dHash family: any
 * pair within Hamming distance 7 shares an untouched band, so ONE
 * banded bucket join serves BOTH gates — the near-exact ≤ 3
 * (lossless re-encodes, level changes) and the codec-grade ≤ 7
 * (lossy re-encodes). The round-18 64-bit signature had to re-band
 * the codec gate as 8×8-bit keys = 256 buckets, quadratic candidate
 * volume per bucket at billions of clips; 16-bit keys give 65,536
 * buckets per band — the same bucket-width math the image family
 * scales on. The pair join ships eight ints per blob; audio bytes
 * never shuffle.
 */
object AudioFp {

  private[ops] val FrameLen = 1024
  private[ops] val Bands = 17 // 16 delta bits per time segment
  val SigBands = 8
  val BitsPerBand = 16

  /** Signed, normalized, channel-averaged mono samples — WAV linear
   * and G.711-companded PCM via the header walk, AIFF and AU
   * big-endian PCM (round 18: the coverage face's honest-zero lines
   * for these were pure omissions — every decode is formulaic),
   * FLAC and MP3 via the real decoders. This is deliberately NOT
   * the |amplitude| envelope the feature face uses: the fingerprint
   * needs the waveform, and all decode paths must produce the
   * IDENTICAL representation for the same PCM (a WAV and its FLAC
   * re-encode fingerprint equal). */
  private[ops] def monoSamples(b: Array[Byte]): Option[Array[Float]] = {
    def mono(nFrames: Int, ch: Int)(sample: (Int, Int) => Float): Array[Float] = {
      val out = new Array[Float](nFrames)
      var t = 0
      while (t < nFrames) {
        var acc = 0f
        var c = 0
        while (c < ch) { acc += sample(t, c); c += 1 }
        out(t) = acc / ch
        t += 1
      }
      out
    }
    // linear (8/16/24/32-bit), IEEE-float and companded WAV — every
    // (format, bits) pair wavSamples admits, through the ONE shared
    // sample reader (round 19: 24-bit and float studio masters were
    // silent skips before)
    val wav = Multimodal.AvHeaders.wavSamples(b).map {
      case (fmt, ch, bits, off, len) =>
        val bytesPer = bits / 8
        val frameBytes = ch * bytesPer
        val n = math.min(len, b.length - off) / frameBytes
        mono(n, ch) { (t, c) =>
          val o = off + t * frameBytes + c * bytesPer
          Multimodal.AvHeaders.wavSampleAt(b, fmt, bits, o)
        }
    }
    val aiff = Multimodal.AvHeaders.aiffSamples(b).map {
      case (ch, bits, off, len, codec) =>
        val bytesPer = bits / 8
        val frameBytes = ch * bytesPer
        val n = math.min(len, b.length - off) / frameBytes
        mono(n, ch)((t, c) => Multimodal.AvHeaders.aiffSampleAt(
          b, codec, bits, off + t * frameBytes + c * bytesPer))
    }
    val au = Multimodal.AvHeaders.auSamples(b).map { case (enc, ch, off, len) =>
      val bytesPer = Multimodal.AvHeaders.auBytesPer(enc)
      val frameBytes = ch * bytesPer
      val n = math.min(len, b.length - off) / frameBytes
      mono(n, ch)((t, c) =>
        Multimodal.AvHeaders.auSampleAt(b, enc, off + t * frameBytes + c * bytesPer))
    }
    // IMA ADPCM WAV (fmt 17): the real adaptive-step decode shared
    // with the feature envelope — fmt-17 files fingerprint instead of
    // silently skipping (round 19; the q_m40 wav-adpcm line measures)
    val adpcm = Multimodal.MediaCodec.adpcmSamples(b).map { case (ch, ss) =>
      mono(ss.length / ch, ch)((t, c) => ss(t * ch + c) / 32768f)
    }
    wav.orElse(adpcm).orElse(aiff).orElse(au)
      .orElse(Flac.decode(b).filter(_.samples.nonEmpty).map { p =>
      // long shift: bits may reach 32 (see Flac.envelope)
      val scale = (1L << (p.bits - 1)).toFloat
      val n = p.samples.length / p.channels
      val out = new Array[Float](n)
      var t = 0
      while (t < n) {
        var acc = 0f
        var c = 0
        while (c < p.channels) { acc += p.samples(t * p.channels + c); c += 1 }
        out(t) = acc / p.channels / scale
        t += 1
      }
      out
    }).orElse(Mp3.decode(b).filter(_.samples.nonEmpty).map { p =>
      // MP3 (round 18): already normalized floats; channel-average
      val n = p.samples.length / p.channels
      val out = new Array[Float](n)
      var t = 0
      while (t < n) {
        var acc = 0f
        var c = 0
        while (c < p.channels) { acc += p.samples(t * p.channels + c); c += 1 }
        out(t) = acc / p.channels
        t += 1
      }
      out
    }).orElse(Vorbis.decode(b).filter(_.samples.nonEmpty).map { p =>
      // Ogg Vorbis (round 19): normalized floats; channel-average
      val n = p.samples.length / p.channels
      val out = new Array[Float](n)
      var t = 0
      while (t < n) {
        var acc = 0f
        var c = 0
        while (c < p.channels) { acc += p.samples(t * p.channels + c); c += 1 }
        out(t) = acc / p.channels
        t += 1
      }
      out
    }).orElse(Vorbis.decodeWebm(b).filter(_.samples.nonEmpty).map { p =>
      // Vorbis-in-WebM (round 20): CodecPrivate headers + block
      // packets through the same decoder — real-web WebM/MKV audio
      // stops being invisible to the fingerprint
      val n = p.samples.length / p.channels
      val out = new Array[Float](n)
      var t = 0
      while (t < n) {
        var acc = 0f
        var c = 0
        while (c < p.channels) { acc += p.samples(t * p.channels + c); c += 1 }
        out(t) = acc / p.channels
        t += 1
      }
      out
    }).orElse(
      // MP3-in-TS (round 19): reassemble the MPEG-audio PID's PES
      // payloads into the elementary stream and feed the same Layer
      // III decoder — HLS audio segments fingerprint like bare .mp3
      Multimodal.AvHeaders.tsMpegAudioEs(b)
        .flatMap(es => Mp3.decode(es)).filter(_.samples.nonEmpty).map { p =>
          val n = p.samples.length / p.channels
          val out = new Array[Float](n)
          var t = 0
          while (t < n) {
            var acc = 0f
            var c = 0
            while (c < p.channels) { acc += p.samples(t * p.channels + c); c += 1 }
            out(t) = acc / p.channels
            t += 1
          }
          out
        })
  }

  /** In-place iterative radix-2 FFT (re, im of length n = 2^k). */
  private[ops] def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    // bit-reversal permutation
    var j = 0
    var i = 1
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang)
      val wi = math.sin(ang)
      var s = 0
      while (s < n) {
        var cr = 1.0
        var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(s + k); val ui = im(s + k)
          val vr = re(s + k + len / 2) * cr - im(s + k + len / 2) * ci
          val vi = re(s + k + len / 2) * ci + im(s + k + len / 2) * cr
          re(s + k) = ur + vr; im(s + k) = ui + vi
          re(s + k + len / 2) = ur - vr; im(s + k + len / 2) = ui - vi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        s += len
      }
      len <<= 1
    }
  }

  /** Log-spaced band edges over FFT bins [4, 512). private[graft]:
   * Mp3DupFixture derives its tone placement from THESE edges so the
   * fixture can never drift off the fingerprint's bands. */
  private[graft] val BandEdges: Array[Int] = {
    val lo = math.log(4.0)
    val hi = math.log(FrameLen / 2.0)
    Array.tabulate(Bands + 1)(i =>
      math.round(math.exp(lo + (hi - lo) * i / Bands)).toInt)
  }

  /** Band energies of the 1024-sample frame at `off`. */
  private[ops] def bandEnergies(s: Array[Float], off: Int): Array[Double] = {
    val re = new Array[Double](FrameLen)
    val im = new Array[Double](FrameLen)
    var i = 0
    while (i < FrameLen) {
      val w = 0.5 - 0.5 * math.cos(2.0 * math.Pi * i / (FrameLen - 1))
      re(i) = s(off + i) * w
      i += 1
    }
    fft(re, im)
    val e = new Array[Double](Bands)
    var b = 0
    while (b < Bands) {
      var k = BandEdges(b)
      var acc = 0.0
      while (k < BandEdges(b + 1)) { acc += re(k) * re(k) + im(k) * im(k); k += 1 }
      e(b) = acc
      b += 1
    }
    e
  }

  /** 16 spectral-shape bits of one signal SEGMENT (an eighth): LOG
   * band energies summed over every whole frame the segment holds,
   * one bit per adjacent-band comparison of the sums. Log domain
   * matters: a codec's per-band gain bias is multiplicative, tiny
   * against the dB-scale contrasts between adjacent log-spaced
   * bands — in the linear domain weak bands' comparisons sat at
   * noise level. */
  private[ops] def quarterBits(s: Array[Float], from: Int, until: Int): Int = {
    val hop = FrameLen / 2
    val cur = new Array[Double](Bands)
    // the segment's first hop is skipped BY DEFINITION (part of the
    // committed signature: fixtures pin hashes computed this way)
    var off = from + hop
    while (off + FrameLen <= until) {
      val c = bandEnergies(s, off)
      var b = 0
      while (b < Bands) {
        cur(b) += math.log(c(b) + 1e-12)
        b += 1
      }
      off += hop
    }
    var bits = 0
    var b = 0
    while (b < Bands - 1) {
      if (cur(b) - cur(b + 1) > 0) bits |= 1 << b
      b += 1
    }
    bits
  }

  /** The 128-bit signature as eight 16-bit bands: segment bits over
   * the eight time-eighths of the signal. None when the audio
   * doesn't decode or is too short for one frame(+hop) per eighth
   * (8 × 1536 samples ≈ 0.4 s at 32 kHz — shorter clips have no
   * useful re-encode-dedup surface anyway). */
  private[graft] def signature(bytes: Array[Byte]): Option[Array[Int]] =
    monoSamples(bytes).filter(_.length >= SigBands * (FrameLen + FrameLen / 2))
      .map { s =>
        val q = s.length / SigBands
        Array.tabulate(SigBands) { k =>
          quarterBits(s, k * q, if (k == SigBands - 1) s.length else (k + 1) * q)
        }
      }

  /** Per-blob fingerprint table (q_m37 feeds on this): media_id,
   * b0..b7, fp_hex. Pure map-side — one decode + the segment FFTs
   * per blob inside its partition; only the 8-int signature leaves. */
  def fingerprintTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap(r => signature(r.media).map(b =>
          (r.media_id, b(0), b(1), b(2), b(3), b(4), b(5), b(6), b(7))))
      }
      .toDF("media_id", "b0", "b1", "b2", "b3", "b4", "b5", "b6", "b7")
      .withColumn("fp_hex", concat((7 to 0 by -1).map(i =>
        lower(lpad(hex(col(s"b$i")), 4, "0"))): _*))
  }

  /** Container sniff for the coverage face: magic bytes first, then
   * the frame walks for the tag-led bitstream formats (an ID3 tag
   * can front either MP3 or ADTS — the walk decides). */
  private[graft] def audioContainer(b: Array[Byte]): String = {
    if (b == null || b.length < 4) return "other"
    def tag(o: Int, s: String): Boolean = Multimodal.AvHeaders.magic(b, o, s)
    if (tag(0, "RIFF") && tag(8, "WAVE"))
      // fmt-17 gets its own coverage line: ADPCM decode is a separate
      // code path from linear/companded PCM and must be measured as one
      if (Multimodal.AvHeaders.wavAdpcm(b).isDefined) "wav-adpcm" else "wav"
    else if (tag(0, "FORM") && (tag(8, "AIFF") || tag(8, "AIFC"))) "aiff"
    else if (tag(0, "fLaC")) "flac"
    else if (tag(0, ".snd")) "au"
    else if (tag(0, "OggS")) "ogg"
    else if ((b(0) & 0xff) == 0x1a && (b(1) & 0xff) == 0x45 &&
      (b(2) & 0xff) == 0xdf && (b(3) & 0xff) == 0xa3) "webm"
    else if ((b(0) & 0xff) == 0x47 && b.length >= 189 &&
      (b(188) & 0xff) == 0x47) "mpeg-ts"
    else if (Multimodal.AvHeaders.mp3Frames(b).nonEmpty) "mp3"
    else if (Multimodal.AvHeaders.adtsFrames(b).nonEmpty) "aac-adts"
    else if (tag(0, "ID3")) "id3-tag-only"
    else "other"
  }

  /** Decode-COVERAGE table (q_m40) — the audio twin of the image
   * family's q_m34 honesty face: per (mime_type, container) the row
   * count and how many rows the FINGERPRINT decode path
   * ([[monoSamples]]: WAV/AIFF/AU PCM incl. G.711, IMA ADPCM and —
   * round 20 — AIFF-C sowt/fl32, FLAC, MPEG-1 and (round 20)
   * MPEG-2/2.5 LSF Layer III within the verified-table scope, Ogg
   * Vorbis, Vorbis-in-WebM and MP3-in-TS) actually turns into
   * samples. q_m37 silently skips what it can't decode (tolerance);
   * this face makes the skip a queryable number — the remaining
   * honest ZERO lines are aac-adts (bare and in-TS) and Opus-in-Ogg,
   * plus the partial zeros (compressed AIFC types like ima4, MP3
   * Huffman tables outside the verified set), exactly the gap list
   * a 100 TB crawl must report before anyone trusts an audio-dedup
   * pass. Scale shape: map-side sniff+decode, then one tiny
   * groupBy. */
  def decodeCoverage(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          (r.mime_type, audioContainer(r.media),
            if (monoSamples(r.media).isDefined) 1L else 0L)
        }
      }
      .toDF("mime_type", "container", "ok")
      .groupBy("mime_type", "container")
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("n_decoded"))
  }

  /** Lossy-codec near-dup pair join (q_m43): the codec-grade gate
   * over the SAME 8×16-bit banding as [[nearDupPairs]] — by
   * pigeonhole over 8 bands any pair within Hamming 7 shares an
   * untouched 16-bit band, so recall is guaranteed at the
   * codec-grade threshold (the in-repo MP3 and ADPCM re-encodes
   * flip ≤5 of the 128 bits; the near-exact ≤3 gate is for lossless
   * re-encodes). Scale note: 16-bit keys are 65,536 buckets per
   * band — the round-18 64-bit signature could only offer 8-bit
   * keys (256 buckets) at this gate, whose per-bucket candidate
   * volume grows quadratically at billions of clips; the widened
   * signature clears that. Rows shipped are only (id, 8 ints). */
  def nearDupPairsCodec(fps: DataFrame, maxHamming: Int = 7): DataFrame =
    nearDupPairs(fps, maxHamming)

  /** Banded near-dup pair join — identical math to the image dHash
   * family: bucket on any equal 16-bit band (guaranteed recall at
   * Hamming ≤ SigBands−1 = 7 by pigeonhole over the 8 bands), verify
   * the full 128-bit distance. Only (id, 8 ints) rows shuffle. */
  def nearDupPairs(fps: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SigBands,
      s"pigeonhole over $SigBands bands needs maxHamming < $SigBands")
    val sigCols = (0 until SigBands).map(i => col(s"b$i"))
    val bands = (0 until SigBands).map { b =>
      fps.select(col("media_id") +: sigCols :+
        lit(b).as("band") :+ col(s"b$b").as("key"): _*)
    }.reduce(_.unionByName(_))
    val l = bands.as("l")
    val r = bands.as("r")
    val pop = (0 until SigBands).map(i => bit_count(
      expr(s"l.b$i").bitwiseXOR(expr(s"r.b$i")))).reduce(_ + _)
    l.join(r,
      col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.media_id") < col("r.media_id"))
      .select(col("l.media_id").as("media_id_a"),
        col("r.media_id").as("media_id_b"),
        pop.cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
