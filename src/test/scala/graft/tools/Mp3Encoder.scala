package graft.tools

import graft.ops.{Mp3, Mp3Tables}

/**
 * MPEG-1 Layer III encoder (mono, long blocks) for fixture /
 * ground-truth use — the independent ENCODE direction
 * [[graft.ops.Mp3]] must invert, the same validation pattern as
 * [[FlacEncoder]] (no reference MP3 codec exists in this container).
 * Deliberately deterministic and simple, never adaptive:
 *
 *  - analysis = the exact matched filterbank of the decoder's
 *    adjoint synthesis (shared prototype), then per-subband forward
 *    MDCT (36-point, sine window, TDAC-exact against the decoder's
 *    IMDCT+overlap), encoder-side frequency inversion and the
 *    inverse alias butterflies;
 *  - quantization: one global_gain per granule + per-band
 *    scalefactors (scalefac_compress 15 → slen 4/3) normalizing each
 *    band into |value| ≤ 5 — coarse per sample but
 *    band-energy-faithful, which is exactly what the perceptual
 *    fingerprint needs;
 *  - entropy: big_values through the last |q| > 1 line with the
 *    smallest shipped table covering each REGION's max (granule
 *    parity alternating the equal-range tables 2/3, 5/6, 7/9), the
 *    |q| ≤ 1 tail as count1 quads (tables A/B by parity), implicit
 *    rzero; no reservoir (main_data_begin 0), stuffing zeros to the
 *    fixed 320 kbps frame.
 *
 * The encoder ADVANCES its input by [[Advance]] samples so that
 * after the decoder trims its own synthesis delay, decode(encode(x))
 * aligns with x sample-for-sample (the spec's encoder/decoder delay
 * handshake, unit-pinned in Mp3Spec).
 */
object Mp3Encoder {

  /** The roundtrip delay left AFTER the decoder trims its own
   * 480-sample synthesis share: the polyphase pair's other half is
   * consumed by that trim, leaving the MDCT granule lookback (576;
   * alignment unit-pinned in Mp3Spec). */
  val Advance = 576

  private final class Bw {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var n = 0
    def bits(v: Int, len: Int): Unit = {
      var k = len - 1
      while (k >= 0) {
        cur = (cur << 1) | ((v >> k) & 1)
        n += 1
        if (n == 8) { out.write(cur); cur = 0; n = 0 }
        k -= 1
      }
    }
    def padToByte(): Unit = if (n != 0) bits(0, 8 - n)
    def bitLength: Int = out.size * 8 + n
    def bytes: Array[Byte] = { padToByte(); out.toByteArray }
  }

  private val BitrateIdx = Map(32000 -> 14) // 320 kbps only
  private val SrIdx = Map(44100 -> 0, 48000 -> 1, 32000 -> 2)

  /** Encode mono 16-bit PCM (values in [-32768, 32767]) at one of
   * the MPEG-1 rates. `sclCap` caps the per-band scalefactor search
   * (default: the full slen range) — the table-breadth test encodes
   * with sclCap = 0 so quantized magnitudes track signal amplitudes
   * directly and every big-value table gets targeted. */
  def encode(pcm: Array[Int], sampleRate: Int, sclCap: Int = 15): Array[Byte] = {
    require(SrIdx.contains(sampleRate), s"unsupported rate $sampleRate")
    val frameBytes = 144000 * 320 / sampleRate
    // advanced + zero-padded input; frame count chosen so the
    // decoded length (frames·1152 − the decoder's 480 trim) just
    // covers the input — an input with N ≡ −480 (mod 1152) round-
    // trips to EXACTLY N samples
    val n0 = math.max(0, pcm.length - Advance)
    val nFrames = math.max(2, (n0 + 1056 + 1151) / 1152)
    val nSamples = nFrames * 1152
    val sub = analyzeSubbands(pcm, n0, nSamples)
    val out = new java.io.ByteArrayOutputStream()
    val bandW = Mp3Tables.sfbLong(sampleRate)
    val bandStart = {
      val s = new Array[Int](23)
      var acc = 0
      for (k <- bandW.indices) { s(k) = acc; acc += bandW(k) }
      s(22) = 576
      s
    }
    var granule = 0
    var frame = 0
    while (frame < nFrames) {
      val g0 = quantizeAndCode(granuleSpectrum(sub, granule), bandStart,
        oddGranule = false, sclCap)
      val g1 = quantizeAndCode(granuleSpectrum(sub, granule + 1), bandStart,
        oddGranule = true, sclCap)
      val bw = new Bw
      // header: FF FB, bitrate 320, sr idx, no padding, mono
      bw.bits(0xfff, 12); bw.bits(1, 1) // MPEG-1
      bw.bits(1, 2) // layer III
      bw.bits(1, 1) // no CRC
      bw.bits(BitrateIdx(32000), 4) // fixed 320 kbps index
      bw.bits(SrIdx(sampleRate), 2)
      bw.bits(0, 1) // padding
      bw.bits(0, 1) // private
      bw.bits(3, 2) // mode: mono
      bw.bits(0, 2) // mode ext
      bw.bits(0, 2) // copyright/original
      bw.bits(0, 2) // emphasis
      // side info (mono, 17 bytes)
      bw.bits(0, 9) // main_data_begin
      bw.bits(0, 5) // private
      bw.bits(0, 4) // scfsi
      for (plan <- Seq(g0, g1)) {
        bw.bits(plan.nbits, 12)
        bw.bits(plan.bigValues, 9)
        bw.bits(plan.gg, 8)
        bw.bits(15, 4) // scalefac_compress → slen 4/3
        bw.bits(0, 1) // window_switching: long
        bw.bits(plan.tables(0), 5)
        bw.bits(plan.tables(1), 5)
        bw.bits(plan.tables(2), 5)
        bw.bits(Region0Count, 4)
        bw.bits(Region1Count, 3)
        bw.bits(0, 1) // preflag
        bw.bits(1, 1) // scalefac_scale = 1 (mult 1.0: 6 dB steps —
        // the 3-bit high-band scalefactors need RANGE, not precision)
        bw.bits(plan.count1Table, 1)
      }
      // main data: both granules back-to-back, then stuffing
      appendBits(bw, g0.bytes, g0.nbits)
      appendBits(bw, g1.bytes, g1.nbits)
      val used = bw.bitLength
      val want = frameBytes * 8
      require(used <= want, s"frame overflow: $used > $want bits")
      var pad = want - used
      while (pad >= 8) { bw.bits(0, 8); pad -= 8 }
      if (pad > 0) bw.bits(0, pad)
      out.write(bw.bytes)
      granule += 2
      frame += 1
    }
    out.toByteArray
  }

  private val SrIdxLsf = Map(22050 -> 0, 24000 -> 1, 16000 -> 2)
  private val SrIdx25 = Map(11025 -> 0, 12000 -> 1, 8000 -> 2)

  /** MPEG-2/2.5 LSF mono encode (round 20): the single-granule
   * 576-sample frame at a low sampling rate, 160 kbps, long blocks.
   * scalefac_compress = 399 → slen (4,4,3,3) over the LSF partition
   * split (6,5,5,5) — whose per-band field widths coincide exactly
   * with the MPEG-1 slen-4/3 layout quantizeAndCode already writes
   * (bands 0-10 at 4 bits, 11-20 at 3), so the granule coder is
   * shared verbatim; preflag stays off (sfc < 500). Validates the
   * decoder's LSF header/side-info/scalefactor path end to end. */
  def encodeLsfMono(pcm: Array[Int], sampleRate: Int,
      sfcMode: Int = 0): Array[Byte] = {
    val version =
      if (SrIdxLsf.contains(sampleRate)) 2
      else if (SrIdx25.contains(sampleRate)) 0
      else sys.error(s"not an LSF rate: $sampleRate")
    val srIdx = if (version == 2) SrIdxLsf(sampleRate) else SrIdx25(sampleRate)
    // the three compress RANGES of the LSF scalefactor formula, each
    // with its own slen/partition split (decoder: readScalefactorsLsf);
    // the 9-bit field tops out at 511, so range 2 is [500, 512)
    val (sfc, nr, slen, preflag) = sfcMode match {
      case 1 => (499, Array(6, 5, 7, 3), Array(4, 4, 3, 0), false)
      case 2 => (511, Array(11, 10, 0, 0), Array(3, 2, 0, 0), true)
      case _ => (399, Array(6, 5, 5, 5), Array(4, 4, 3, 3), false)
    }
    val sclBits = {
      val out = new Array[Int](21)
      var k = 0
      for (ptn <- 0 until 4; _ <- 0 until nr(ptn)) { out(k) = slen(ptn); k += 1 }
      out
    }
    val frameBytes = 72000 * 160 / sampleRate
    val n0 = math.max(0, pcm.length - Advance)
    // one granule (576 samples) per frame
    val nFrames = math.max(2, (n0 + 1056 + 575) / 576)
    val nSamples = ((nFrames * 576 + 1151) / 1152) * 1152
    val sub = analyzeSubbands(pcm, n0, nSamples)
    val bandW = Mp3Tables.sfbLong(sampleRate)
    val bandStart = {
      val s = new Array[Int](23)
      var acc = 0
      for (k <- bandW.indices) { s(k) = acc; acc += bandW(k) }
      s(22) = 576
      s
    }
    val out = new java.io.ByteArrayOutputStream()
    var granule = 0
    var frame = 0
    while (frame < nFrames) {
      // the single-granule LSF budget (~4072 bits at 160 kbps) is
      // far tighter than MPEG-1 mono's — retry coarser on overflow
      val budget = frameBytes * 8 - 32 - 72
      var ggBias = 0
      var plan: GranulePlan = null
      var fits = false
      while (!fits) {
        plan = quantizeAndCode(granuleSpectrum(sub, granule), bandStart,
          oddGranule = granule % 2 == 1, 15, ggBias = ggBias,
          sclBits = sclBits, preflag = preflag)
        if (plan.nbits <= budget || ggBias >= 255) fits = true
        else ggBias += 4
      }
      writeLsfFrame(out, version, srIdx, frameBytes, mono = true, 0,
        Seq(plan), sfc)
      granule += 1
      frame += 1
    }
    out.toByteArray
  }

  /** LSF frame header + the per-granule side-info writer shared by
   * the round-20 LSF variants (long, short-block and stereo-MS). */
  private def writeLsfFrame(out: java.io.ByteArrayOutputStream, version: Int,
      srIdx: Int, frameBytes: Int, mono: Boolean, modeExt: Int,
      plans: Seq[GranulePlan], sfc: Int = 399): Unit = {
    val bw = new Bw
    bw.bits(0x7ff, 11)
    bw.bits(version, 2) // 2 = MPEG-2, 0 = MPEG-2.5
    bw.bits(1, 2) // layer III
    bw.bits(1, 1) // no CRC
    bw.bits(14, 4) // 160 kbps (LSF bitrate table)
    bw.bits(srIdx, 2)
    bw.bits(0, 1); bw.bits(0, 1) // padding, private
    bw.bits(if (mono) 3 else 1, 2) // mono / joint stereo
    bw.bits(modeExt, 2)
    bw.bits(0, 2); bw.bits(0, 2)
    bw.bits(0, 8) // main_data_begin
    bw.bits(0, if (mono) 1 else 2) // private bits
    for (plan <- plans) {
      bw.bits(plan.nbits, 12)
      bw.bits(plan.bigValues, 9)
      bw.bits(plan.gg, 8)
      bw.bits(sfc, 9) // scalefac_compress (399 = slen 4/4/3/3, no preflag)
      if (plan.short) {
        bw.bits(1, 1) // window switching
        bw.bits(2, 2) // block_type 2
        bw.bits(0, 1) // not mixed
        bw.bits(plan.tables(0), 5)
        bw.bits(plan.tables(1), 5)
        bw.bits(0, 3); bw.bits(0, 3); bw.bits(0, 3) // subblock_gain
      } else {
        bw.bits(0, 1) // long
        bw.bits(plan.tables(0), 5)
        bw.bits(plan.tables(1), 5)
        bw.bits(plan.tables(2), 5)
        bw.bits(Region0Count, 4)
        bw.bits(Region1Count, 3)
      }
      bw.bits(1, 1) // scalefac_scale
      bw.bits(plan.count1Table, 1)
    }
    plans.foreach(p => appendBits(bw, p.bytes, p.nbits))
    val used = bw.bitLength
    val want = frameBytes * 8
    require(used <= want, s"lsf frame overflow: $used > $want bits")
    var pad = want - used
    while (pad >= 8) { bw.bits(0, 8); pad -= 8 }
    if (pad > 0) bw.bits(0, pad)
    out.write(bw.bytes)
  }

  /** MPEG-2/2.5 LSF mono SHORT-block encode (round 20): every
   * single-granule frame is block_type 2 — the LSF scalefactor
   * partitions over the short geometry ((9,9,9,9) at slen 4/4/3/3
   * under scalefac_compress 399, whose field layout coincides with
   * the MPEG-1 short 4/3 split quantizeAndCodeShort writes). */
  def encodeLsfMonoShort(pcm: Array[Int], sampleRate: Int): Array[Byte] = {
    val version =
      if (SrIdxLsf.contains(sampleRate)) 2
      else if (SrIdx25.contains(sampleRate)) 0
      else sys.error(s"not an LSF rate: $sampleRate")
    val srIdx = if (version == 2) SrIdxLsf(sampleRate) else SrIdx25(sampleRate)
    val frameBytes = 72000 * 160 / sampleRate
    val n0 = math.max(0, pcm.length - Advance)
    val nFrames = math.max(2, (n0 + 1056 + 575) / 576)
    val nSamples = ((nFrames * 576 + 1151) / 1152) * 1152
    val sub = analyzeSubbands(pcm, n0, nSamples)
    val shortW = Mp3Tables.sfbShort(sampleRate)
    val out = new java.io.ByteArrayOutputStream()
    var granule = 0
    while (granule < nFrames) {
      val budget = frameBytes * 8 - 32 - 72
      var ggBias = 0
      var plan: GranulePlan = null
      var fits = false
      while (!fits) {
        plan = quantizeAndCodeShort(granuleSpectrumShort(sub, granule), shortW,
          oddGranule = granule % 2 == 1, ggBias = ggBias)
        if (plan.nbits <= budget || ggBias >= 255) fits = true
        else ggBias += 4
      }
      writeLsfFrame(out, version, srIdx, frameBytes, mono = true, 0, Seq(plan))
      granule += 1
    }
    out.toByteArray
  }

  /** MPEG-2/2.5 LSF joint-stereo MS encode (round 20): the 17-byte
   * 2-channel LSF side info and the MS inverse matrix through the
   * single-granule frame shape. */
  def encodeLsfStereoMs(left: Array[Int], right: Array[Int],
      sampleRate: Int): Array[Byte] = {
    require(left.length == right.length, "channel length mismatch")
    val version =
      if (SrIdxLsf.contains(sampleRate)) 2
      else if (SrIdx25.contains(sampleRate)) 0
      else sys.error(s"not an LSF rate: $sampleRate")
    val srIdx = if (version == 2) SrIdxLsf(sampleRate) else SrIdx25(sampleRate)
    val frameBytes = 72000 * 160 / sampleRate
    val n0 = math.max(0, left.length - Advance)
    val nFrames = math.max(2, (n0 + 1056 + 575) / 576)
    val nSamples = ((nFrames * 576 + 1151) / 1152) * 1152
    val subL = analyzeSubbands(left, n0, nSamples)
    val subR = analyzeSubbands(right, n0, nSamples)
    val bandW = Mp3Tables.sfbLong(sampleRate)
    val bandStart = {
      val s = new Array[Int](23)
      var acc = 0
      for (k <- bandW.indices) { s(k) = acc; acc += bandW(k) }
      s(22) = 576
      s
    }
    val inv = 1.0 / math.sqrt(2.0)
    val out = new java.io.ByteArrayOutputStream()
    var granule = 0
    while (granule < nFrames) {
      val l = granuleSpectrum(subL, granule)
      val r = granuleSpectrum(subR, granule)
      val m = Array.tabulate(576)(i => (l(i) + r(i)) * inv)
      val s = Array.tabulate(576)(i => (l(i) - r(i)) * inv)
      val budget = frameBytes * 8 - 32 - 136
      var ggBias = 0
      var plans: Seq[GranulePlan] = null
      var fits = false
      while (!fits) {
        plans = Seq(m, s).map(x => quantizeAndCode(x, bandStart,
          oddGranule = granule % 2 == 1, 15, ggBias = ggBias))
        if (plans.map(_.nbits).sum <= budget || ggBias >= 255) fits = true
        else ggBias += 4
      }
      writeLsfFrame(out, version, srIdx, frameBytes, mono = false, 2, plans)
      granule += 1
    }
    out.toByteArray
  }

  /** Stereo MS encode (round 18): joint stereo with mode_extension
   * MS — the decoder's 2-channel side info, MS inverse matrix and
   * per-channel synthesis states get exercised end-to-end (the mono
   * path can't reach them). M/S spectra are (L±R)/√2 of the
   * per-channel granule spectra; if the four granule-channel
   * payloads overflow the fixed 320 kbps frame, the whole frame
   * re-quantizes coarser (a deterministic gg bias retry). */
  def encodeStereoMs(left: Array[Int], right: Array[Int],
      sampleRate: Int): Array[Byte] =
    encodeStereo(left, right, sampleRate, intensity = false)

  /** Intensity-stereo encode (round 18): joint stereo with
   * mode_extension = intensity. Bands from the first 4-aligned
   * scalefactor-band start at/after band 11 carry L+R in channel 0
   * with channel 1 zeroed there and its SCALEFACTOR set to the
   * position index (ratio = tan(is_pos·π/12)); channel 1's count1
   * run is padded with zero quads to land its data end EXACTLY on
   * that boundary, which is how the decoder recovers the bound.
   * Below the bound channels carry plain L/R. */
  def encodeStereoIntensity(left: Array[Int], right: Array[Int],
      sampleRate: Int): Array[Byte] =
    encodeStereo(left, right, sampleRate, intensity = true)

  private def encodeStereo(left: Array[Int], right: Array[Int],
      sampleRate: Int, intensity: Boolean): Array[Byte] = {
    require(SrIdx.contains(sampleRate), s"unsupported rate $sampleRate")
    require(left.length == right.length, "channel length mismatch")
    val frameBytes = 144000 * 320 / sampleRate
    val n0 = math.max(0, left.length - Advance)
    val nFrames = math.max(2, (n0 + 1056 + 1151) / 1152)
    val nSamples = nFrames * 1152
    val bandW = Mp3Tables.sfbLong(sampleRate)
    val bandStart = {
      val s = new Array[Int](23)
      var acc = 0
      for (k <- bandW.indices) { s(k) = acc; acc += bandW(k) }
      s(22) = 576
      s
    }
    val subL = analyzeSubbands(left, n0, nSamples)
    val subR = analyzeSubbands(right, n0, nSamples)
    val inv = 1.0 / math.sqrt(2.0)
    // intensity bound: the first 4-aligned band start at/after band
    // 11 (4-aligned so the count1 quad run can land exactly on it)
    val boundSfb =
      if (intensity) (11 to 21).find(k => bandStart(k) % 4 == 0).getOrElse(22)
      else 22
    val bound = if (boundSfb < 22) bandStart(boundSfb) else 576
    val out = new java.io.ByteArrayOutputStream()
    var granule = 0
    var frame = 0
    while (frame < nFrames) {
      // per granule: MS → (M, S); intensity → (L | L+R above bound,
      //                                        R | 0 above bound)
      val forced = Array.fill(2)(Array.fill(21)(-1))
      val spectra = Array.tabulate(2) { g =>
        val l = granuleSpectrum(subL, granule + g)
        val r = granuleSpectrum(subR, granule + g)
        val c0 = new Array[Double](576)
        val c1 = new Array[Double](576)
        if (!intensity) {
          var i = 0
          while (i < 576) {
            c0(i) = (l(i) + r(i)) * inv
            c1(i) = (l(i) - r(i)) * inv
            i += 1
          }
        } else {
          var i = 0
          while (i < 576) {
            c0(i) = if (i < bound) l(i) else l(i) + r(i)
            c1(i) = if (i < bound) r(i) else 0.0
            i += 1
          }
          for (sfb <- boundSfb until 21) {
            var eL = 0.0
            var eR = 0.0
            var k = bandStart(sfb)
            while (k < bandStart(sfb + 1)) { eL += l(k) * l(k); eR += r(k) * r(k); k += 1 }
            val pos = math.round(math.atan2(math.sqrt(eL), math.sqrt(eR))
              * 12.0 / math.Pi).toInt
            forced(g)(sfb) = math.max(0, math.min(6, pos))
          }
        }
        Array(c0, c1)
      }
      val budget = frameBytes * 8 - 32 - 32 * 8 // header + stereo side info
      // overflow retry: RAISE global_gain directly (each +4 is one
      // 6 dB-coarser quantizer). Scaling the spectrum instead would
      // be a no-op — quantizeAndCode re-derives gg from the scaled
      // peak and cancels the scale exactly.
      var ggBias = 0
      var plans: Array[Array[GranulePlan]] = null
      var fits = false
      while (!fits) {
        plans = Array.tabulate(2, 2) { (g, ch) =>
          if (intensity && ch == 1)
            quantizeAndCode(spectra(g)(ch), bandStart, oddGranule = g == 1, 15,
              minCover = bound, forcedScl = forced(g), ggBias = ggBias)
          else quantizeAndCode(spectra(g)(ch), bandStart, oddGranule = g == 1,
            15, ggBias = ggBias)
        }
        val total = plans.flatten.map(_.nbits).sum
        if (total <= budget || ggBias >= 255) fits = true
        else ggBias += 4
      }
      val bw = new Bw
      bw.bits(0xfff, 12); bw.bits(1, 1)
      bw.bits(1, 2) // layer III
      bw.bits(1, 1) // no CRC
      bw.bits(BitrateIdx(32000), 4)
      bw.bits(SrIdx(sampleRate), 2)
      bw.bits(0, 1); bw.bits(0, 1) // padding, private
      bw.bits(1, 2) // mode: joint stereo
      bw.bits(if (intensity) 1 else 2, 2) // mode_extension
      bw.bits(0, 2); bw.bits(0, 2) // copyright/original, emphasis
      // side info (stereo, 32 bytes)
      bw.bits(0, 9) // main_data_begin
      bw.bits(0, 3) // private
      bw.bits(0, 8) // scfsi (2 channels × 4)
      for (g <- 0 until 2; ch <- 0 until 2) {
        val plan = plans(g)(ch)
        bw.bits(plan.nbits, 12)
        bw.bits(plan.bigValues, 9)
        bw.bits(plan.gg, 8)
        bw.bits(15, 4)
        bw.bits(0, 1)
        bw.bits(plan.tables(0), 5)
        bw.bits(plan.tables(1), 5)
        bw.bits(plan.tables(2), 5)
        bw.bits(Region0Count, 4)
        bw.bits(Region1Count, 3)
        bw.bits(0, 1) // preflag
        bw.bits(1, 1) // scalefac_scale
        bw.bits(plan.count1Table, 1)
      }
      for (g <- 0 until 2; ch <- 0 until 2)
        appendBits(bw, plans(g)(ch).bytes, plans(g)(ch).nbits)
      val used = bw.bitLength
      val want = frameBytes * 8
      require(used <= want, s"stereo frame overflow: $used > $want")
      var pad = want - used
      while (pad >= 8) { bw.bits(0, 8); pad -= 8 }
      if (pad > 0) bw.bits(0, pad)
      out.write(bw.bytes)
      granule += 2
      frame += 1
    }
    out.toByteArray
  }

  /** Advance, zero-pad and run the shared analysis filterbank:
   * 32-band subband stream for `nSamples` of input (both the mono
   * and stereo encodes feed on this — ONE copy of the contract). */
  private def analyzeSubbands(pcm: Array[Int], n0: Int,
      nSamples: Int): Array[Array[Double]] = {
    val x = new Array[Double](nSamples)
    var i = 0
    while (i < n0) { x(i) = pcm(Advance + i) / 32768.0; i += 1 }
    val nBlocks = nSamples / 32
    val sub = Array.ofDim[Double](32, nBlocks)
    val an = new Mp3.AnalysisState
    val bi = new Array[Double](32)
    val bo = new Array[Double](32)
    var t = 0
    while (t < nBlocks) {
      System.arraycopy(x, t * 32, bi, 0, 32)
      Mp3.analyzeBlockWith(Mp3.proto, an, bi, bo)
      var b = 0
      while (b < 32) { sub(b)(t) = bo(b); b += 1 }
      t += 1
    }
    sub
  }

  private def appendBits(bw: Bw, bytes: Array[Byte], nbits: Int): Unit = {
    var i = 0
    var left = nbits
    while (left > 0) {
      val take = math.min(8, left)
      bw.bits((bytes(i) & 0xff) >> (8 - take), take)
      left -= take
      i += 1
    }
  }

  private val mdctWin: Array[Double] =
    Array.tabulate(36)(i => math.sin(math.Pi / 36.0 * (i + 0.5)))
  private val mdctM: Array[Array[Double]] =
    Array.tabulate(18, 36)((k, j) =>
      math.cos(math.Pi / 72.0 * (2 * j + 1 + 18) * (2 * k + 1)) * 4.0 / 36.0)

  /** One granule's 576 spectral lines: per-subband MDCT over
   * [previous 18, current 18], frequency inversion first (the
   * decoder's inverse order), then the inverse alias butterflies. */
  private[graft] def granuleSpectrum(sub: Array[Array[Double]], g: Int): Array[Double] = {
    val xr = new Array[Double](576)
    val buf = new Array[Double](36)
    var sb = 0
    while (sb < 32) {
      var i = 0
      while (i < 36) {
        val t = (g - 1) * 18 + i
        var v = if (t < 0 || t >= sub(sb).length) 0.0 else sub(sb)(t)
        // encoder-side frequency inversion: odd subband, odd sample
        // index WITHIN its granule's 18
        if ((sb & 1) == 1 && (((t % 18) + 18) % 18 % 2) == 1) v = -v
        buf(i) = v * mdctWin(i)
        i += 1
      }
      var k = 0
      while (k < 18) {
        var acc = 0.0
        val row = mdctM(k)
        var j = 0
        while (j < 36) { acc += buf(j) * row(j); j += 1 }
        xr(18 * sb + k) = acc
        k += 1
      }
      sb += 1
    }
    aliasForward(xr)
    xr
  }

  /** Encoder-direction inverse of the decoder's alias-reduction
   * butterflies. `sbLimit` mirrors `Mp3.aliasReduce`'s: 31 for long
   * granules, 1 for MIXED blocks (only the sb0/sb1 boundary), 0 for
   * pure short. */
  private def aliasForward(xr: Array[Double], sbLimit: Int = 31): Unit = {
    var sb = 1
    while (sb <= sbLimit) {
      var i = 0
      while (i < 8) {
        val a = xr(18 * sb - 1 - i)
        val b = xr(18 * sb + i)
        xr(18 * sb - 1 - i) = a * Mp3Tables.aliasCs(i) + b * Mp3Tables.aliasCa(i)
        xr(18 * sb + i) = b * Mp3Tables.aliasCs(i) - a * Mp3Tables.aliasCa(i)
        i += 1
      }
      sb += 1
    }
  }

  /** Per-region table choice (round 18): the SMALLEST shipped table
   * covering the region's max magnitude, with the granule's parity
   * picking between the equivalent-range alternates — so every
   * verified table (1/2/3, 5/6, 7/9) and both count1 tables get
   * exercised end-to-end through the roundtrip, not just table 7. */
  private def tableFor(rmax: Int, oddGranule: Boolean): Int = rmax match {
    case 0 => 0
    case 1 => 1
    case 2 => if (oddGranule) 3 else 2
    case 3 => if (oddGranule) 6 else 5
    case _ => if (oddGranule) 9 else 7
  }

  /** Side-info region split: region0_count = 7, region1_count = 7 →
   * three non-empty regions at our band layout. */
  val Region0Count = 7
  val Region1Count = 7

  /** Granule coding plan: payload bytes, exact bit count
   * (part2_3_length), global gain, big_values, per-region tables,
   * count1 table select; `short` granules carry window-switched
   * side info (block_type 2). */
  private[graft] final case class GranulePlan(bytes: Array[Byte], nbits: Int,
    gg: Int, bigValues: Int, tables: Array[Int], count1Table: Int,
    short: Boolean = false, mixed: Boolean = false)

  /** Quantize one granule with per-band scalefactors into |q| ≤ 5
   * and Huffman-code it: big values up to the last |q| > 1 line with
   * per-region smallest-covering tables, then the small tail as
   * count1 QUADS (tables A/B by granule parity), implicit rzero. */
  private def quantizeAndCode(xr: Array[Double],
      bandStart: Array[Int], oddGranule: Boolean,
      sclCap: Int, minCover: Int = 0,
      forcedScl: Array[Int] = null, ggBias: Int = 0,
      sclBits: Array[Int] = null, preflag: Boolean = false): GranulePlan = {
    val scl = new Array[Int](21)
    def pre(sfb: Int): Int = if (preflag) Mp3Tables.pretab(sfb) else 0
    val amax = xr.map(math.abs).max
    // global gain: the loudest line quantizes to ≤ 5 at scl = 0
    // (ceil so rounding can never overflow the table range); with
    // preflag the MINIMUM amplification in a pretab band is 2^pre,
    // so the quantizer coarsens by the max pretab (3) to compensate
    var gg =
      if (amax <= 0) 0
      else math.ceil(210.0 + 4.0 * (math.log(amax /
        math.pow(5.49, 4.0 / 3.0)) / math.log(2.0))).toInt
    if (preflag) gg += 12
    gg += ggBias // frame-overflow retries: one 6 dB step per +4
    if (gg < 0) gg = 0
    if (gg > 255) gg = 255
    val gq = math.pow(2.0, 0.25 * (gg - 210))
    // per-band scalefactors: the LARGEST admissible amplification
    // (MPEG-1 layout: limit 15 for sfb < 11 via slen1=4, 7 for
    // 11-20 via slen2=3; an explicit sclBits overrides — the LSF
    // ≥400 compress ranges carry other field widths)
    for (sfb <- 0 until 21) {
      val from = bandStart(sfb)
      val to = bandStart(sfb + 1)
      var bm = 0.0
      var i = from
      while (i < to) { bm = math.max(bm, math.abs(xr(i))); i += 1 }
      val fieldMax =
        if (sclBits == null) (if (sfb < 11) 15 else 7)
        else (1 << sclBits(sfb)) - 1
      val limit = math.min(sclCap, fieldMax)
      var s = limit
      while (s > 0 && bm > 0 && math.round(math.pow(
        bm * math.pow(2.0, 1.0 * (s + pre(sfb))) / gq, 0.75)) > 5) s -= 1
      scl(sfb) = if (bm > 0) s else 0
      // intensity bands: the scalefactor IS the position index, not
      // a quantizer scale (the band's spectrum is zero there)
      if (forcedScl != null && forcedScl(sfb) >= 0) scl(sfb) = forcedScl(sfb)
    }
    // quantize
    val q = new Array[Int](576)
    var i = 0
    while (i < 576) {
      val sfb = bandOf(bandStart, i)
      val s = if (sfb < 21) scl(sfb) + pre(sfb) else 0
      val v = math.pow(math.abs(xr(i)) * math.pow(2.0, 1.0 * s) / gq, 0.75)
      var m = math.round(v).toInt
      if (m > 5) m = 5
      q(i) = if (xr(i) < 0) -m else m
      i += 1
    }
    // region split: big values cover through the last |q| > 1 line
    // (rounded up to a pair), the |q| ≤ 1 tail through the last
    // nonzero goes to count1 quads, the rest is implicit rzero
    var lastBig = -1
    var lastNz = -1
    i = 0
    while (i < 576) {
      if (math.abs(q(i)) > 1) lastBig = i
      if (q(i) != 0) lastNz = i
      i += 1
    }
    var bigEnd = if (lastBig < 0) 0 else ((lastBig / 2) + 1) * 2
    // with a count1 cover target the big region 4-aligns so the quad
    // run can land EXACTLY on the (4-aligned) cover boundary
    if (minCover > 0) bigEnd = math.min(((bigEnd + 3) / 4) * 4, minCover)
    val bigValues = bigEnd / 2
    val r1 = bandStart(Region0Count + 1)
    val r2 = bandStart(Region0Count + 1 + Region1Count + 1)
    def regionMax(from: Int, until: Int): Int = {
      var m = 0
      var k = from
      while (k < math.min(until, bigEnd)) { m = math.max(m, math.abs(q(k))); k += 1 }
      m
    }
    val tables = Array(
      tableFor(regionMax(0, r1), oddGranule),
      tableFor(regionMax(r1, r2), oddGranule),
      tableFor(regionMax(r2, 576), oddGranule))
    // payload: scalefactors (MPEG-1: 11×4 + 10×3; LSF ≥400 ranges
    // carry their own widths via sclBits), big-value pairs, quads
    val bw = new Bw
    for (sfb <- 0 until 21)
      bw.bits(scl(sfb), if (sclBits == null) (if (sfb < 11) 4 else 3)
      else sclBits(sfb))
    i = 0
    while (i < bigEnd) {
      val tsel = if (i < r1) tables(0) else if (i < r2) tables(1) else tables(2)
      if (tsel != 0) {
        val t = Mp3Tables.big(tsel)
        val xm = math.abs(q(i))
        val ym = math.abs(q(i + 1))
        val (len, code) = t.entries(xm * t.dim + ym)
        bw.bits(code, len)
        if (xm != 0) bw.bits(if (q(i) < 0) 1 else 0, 1)
        if (ym != 0) bw.bits(if (q(i + 1) < 0) 1 else 0, 1)
      }
      i += 2
    }
    val count1Table = if (oddGranule) 1 else 0
    val c1 = if (count1Table == 0) Mp3Tables.count1A else Mp3Tables.count1B
    i = bigEnd
    while ((i <= lastNz || i < minCover) && i + 4 <= 576) {
      val vals = Array(q(i), q(i + 1), q(i + 2), q(i + 3))
      val idx = vals.foldLeft(0)((a, v) => (a << 1) | math.abs(v))
      val (len, code) = c1(idx)
      bw.bits(code, len)
      vals.foreach(v => if (v != 0) bw.bits(if (v < 0) 1 else 0, 1))
      i += 4
    }
    val nbits = bw.bitLength // BEFORE bytes(): that pads to a byte
    GranulePlan(bw.bytes, nbits, gg, bigValues, tables, count1Table)
  }

  private def bandOf(bandStart: Array[Int], i: Int): Int = {
    var sfb = 0
    while (sfb < 21 && i >= bandStart(sfb + 1)) sfb += 1
    sfb
  }

  // ------------------------------------------- short blocks (round 20)
  private val shortWin: Array[Double] =
    Array.tabulate(12)(i => math.sin(math.Pi / 12.0 * (i + 0.5)))
  private val mdct12M: Array[Array[Double]] =
    Array.tabulate(6, 12)((k, j) =>
      math.cos(math.Pi / 24.0 * (2 * j + 1 + 6) * (2 * k + 1)) * 4.0 / 12.0)

  /** One SHORT-block granule's 576 lines in the decoder's REORDERED
   * layout (per subband: xr(18·sb + 3·k + w), window w, coefficient
   * k): three forward 12-point MDCTs over the [prev 18, cur 18]
   * frame's short windows at offsets 6/12/18, the same frequency
   * inversion as the long path, scale 4/12 for a unity roundtrip
   * with the decoder's sum-form imdct12. NO alias butterflies — the
   * decoder applies none for pure short blocks (sbLimit 0). */
  private[graft] def granuleSpectrumShort(sub: Array[Array[Double]],
      g: Int): Array[Double] = {
    val xr = new Array[Double](576)
    val buf = new Array[Double](36)
    var sb = 0
    while (sb < 32) {
      var i = 0
      while (i < 36) {
        val t = (g - 1) * 18 + i
        var v = if (t < 0 || t >= sub(sb).length) 0.0 else sub(sb)(t)
        if ((sb & 1) == 1 && (((t % 18) + 18) % 18 % 2) == 1) v = -v
        buf(i) = v
        i += 1
      }
      var w = 0
      while (w < 3) {
        var k = 0
        while (k < 6) {
          var acc = 0.0
          val row = mdct12M(k)
          var j = 0
          while (j < 12) { acc += buf(6 + 6 * w + j) * shortWin(j) * row(j); j += 1 }
          xr(18 * sb + 3 * k + w) = acc
          k += 1
        }
        w += 1
      }
      sb += 1
    }
    xr
  }

  /** Quantize and Huffman-code one SHORT granule. `xr` is in the
   * reordered layout [[granuleSpectrumShort]] produces; Huffman
   * coding runs in the STORAGE order the decoder reads (band-major,
   * window-minor — band starts coincide between the two layouts).
   * `forcedScl(w)(sfb)` carries intensity position indices for
   * channel 1's zeroed bands. */
  private def quantizeAndCodeShort(xr: Array[Double], shortW: Array[Int],
      oddGranule: Boolean, minCover: Int = 0,
      forcedScl: Array[Array[Int]] = null, ggBias: Int = 0): GranulePlan = {
    val base = new Array[Int](14)
    for (s <- 0 until 13) base(s + 1) = base(s) + 3 * shortW(s)
    val scl = Array.fill(3, 12)(0)
    val amax = xr.map(math.abs).max
    var gg =
      if (amax <= 0) 0
      else math.ceil(210.0 + 4.0 * (math.log(amax /
        math.pow(5.49, 4.0 / 3.0)) / math.log(2.0))).toInt
    gg += ggBias
    if (gg < 0) gg = 0
    if (gg > 255) gg = 255
    val gq = math.pow(2.0, 0.25 * (gg - 210))
    for (s <- 0 until 12; w <- 0 until 3) {
      var bm = 0.0
      var k = 0
      while (k < shortW(s)) {
        bm = math.max(bm, math.abs(xr(base(s) + 3 * k + w)))
        k += 1
      }
      val limit = if (s < 6) 15 else 7
      var v = limit
      while (v > 0 && bm > 0 && math.round(math.pow(
        bm * math.pow(2.0, 1.0 * v) / gq, 0.75)) > 5) v -= 1
      scl(w)(s) = if (bm > 0) v else 0
      if (forcedScl != null && forcedScl(w)(s) >= 0) scl(w)(s) = forcedScl(w)(s)
    }
    // quantize into STORAGE order (subblock_gain stays 0)
    val q = new Array[Int](576)
    for (s <- 0 until 13; w <- 0 until 3; k <- 0 until shortW(s)) {
      val sc = if (s < 12) scl(w)(s) else 0
      val x = xr(base(s) + 3 * k + w)
      val v = math.pow(math.abs(x) * math.pow(2.0, 1.0 * sc) / gq, 0.75)
      var m = math.round(v).toInt
      if (m > 5) m = 5
      q(base(s) + w * shortW(s) + k) = if (x < 0) -m else m
    }
    var lastBig = -1
    var lastNz = -1
    var i = 0
    while (i < 576) {
      if (math.abs(q(i)) > 1) lastBig = i
      if (q(i) != 0) lastNz = i
      i += 1
    }
    var bigEnd = if (lastBig < 0) 0 else ((lastBig / 2) + 1) * 2
    if (minCover > 0) bigEnd = math.min(((bigEnd + 3) / 4) * 4, minCover)
    val bigValues = bigEnd / 2
    // window-switched regions: [0, 36) then [36, bigEnd)
    val r1 = 36
    def regionMax(from: Int, until: Int): Int = {
      var m = 0
      var k = from
      while (k < math.min(until, bigEnd)) { m = math.max(m, math.abs(q(k))); k += 1 }
      m
    }
    val tables = Array(
      tableFor(regionMax(0, r1), oddGranule),
      tableFor(regionMax(r1, 576), oddGranule),
      0)
    // payload: short scalefactors (6 bands × 3 windows × slen1=4,
    // then 6 × 3 × slen2=3 under scalefac_compress 15), big-value
    // pairs, count1 quads
    val bw = new Bw
    for (s <- 0 until 6; w <- 0 until 3) bw.bits(scl(w)(s), 4)
    for (s <- 6 until 12; w <- 0 until 3) bw.bits(scl(w)(s), 3)
    i = 0
    while (i < bigEnd) {
      val tsel = if (i < r1) tables(0) else tables(1)
      if (tsel != 0) {
        val t = Mp3Tables.big(tsel)
        val xm = math.abs(q(i))
        val ym = math.abs(q(i + 1))
        val (len, code) = t.entries(xm * t.dim + ym)
        bw.bits(code, len)
        if (xm != 0) bw.bits(if (q(i) < 0) 1 else 0, 1)
        if (ym != 0) bw.bits(if (q(i + 1) < 0) 1 else 0, 1)
      }
      i += 2
    }
    val count1Table = if (oddGranule) 1 else 0
    val c1 = if (count1Table == 0) Mp3Tables.count1A else Mp3Tables.count1B
    i = bigEnd
    while ((i <= lastNz || i < minCover) && i + 4 <= 576) {
      val vals = Array(q(i), q(i + 1), q(i + 2), q(i + 3))
      val idx = vals.foldLeft(0)((a, v) => (a << 1) | math.abs(v))
      val (len, code) = c1(idx)
      bw.bits(code, len)
      vals.foreach(v => if (v != 0) bw.bits(if (v < 0) 1 else 0, 1))
      i += 4
    }
    val nbits = bw.bitLength
    GranulePlan(bw.bytes, nbits, gg, bigValues, tables, count1Table, short = true)
  }

  /** One MIXED-block granule's 576 lines (round 20): subbands 0-1
   * through the LONG 36-point MDCT (the decoder windows them with
   * block type 0 inside a mixed granule), subbands 2-31 through the
   * short transform into the reordered layout, then ONE forward
   * alias butterfly (the decoder's mixed sbLimit is 1). */
  private[graft] def granuleSpectrumMixed(sub: Array[Array[Double]],
      g: Int): Array[Double] = {
    val xr = new Array[Double](576)
    val buf = new Array[Double](36)
    var sb = 0
    while (sb < 32) {
      var i = 0
      while (i < 36) {
        val t = (g - 1) * 18 + i
        var v = if (t < 0 || t >= sub(sb).length) 0.0 else sub(sb)(t)
        if ((sb & 1) == 1 && (((t % 18) + 18) % 18 % 2) == 1) v = -v
        buf(i) = v
        i += 1
      }
      if (sb < 2) {
        var k = 0
        while (k < 18) {
          var acc = 0.0
          val row = mdctM(k)
          var j = 0
          while (j < 36) { acc += buf(j) * mdctWin(j) * row(j); j += 1 }
          xr(18 * sb + k) = acc
          k += 1
        }
      } else {
        var w = 0
        while (w < 3) {
          var k = 0
          while (k < 6) {
            var acc = 0.0
            val row = mdct12M(k)
            var j = 0
            while (j < 12) { acc += buf(6 + 6 * w + j) * shortWin(j) * row(j); j += 1 }
            xr(18 * sb + 3 * k + w) = acc
            k += 1
          }
          w += 1
        }
      }
      sb += 1
    }
    aliasForward(xr, 1)
    xr
  }

  /** Quantize and code one MIXED granule (MPEG-1 scalefactor layout:
   * long sfb 0-7 at 4 bits, short sfb 3-5 at 4 and 6-11 at 3 under
   * scalefac_compress 15). The long prefix (36 lines) quantizes per
   * long band; the short region per band/window, Huffman-coded in
   * storage order like [[quantizeAndCodeShort]]. */
  private def quantizeAndCodeMixed(xr: Array[Double], bandStartLong: Array[Int],
      shortW: Array[Int], oddGranule: Boolean, ggBias: Int = 0,
      minCover: Int = 0, forcedScl: Array[Array[Int]] = null): GranulePlan = {
    val sBase = new Array[Int](14) // short band starts (storage == reordered)
    sBase(3) = 36
    for (s <- 3 until 13) sBase(s + 1) = sBase(s) + 3 * shortW(s)
    val amax = xr.map(math.abs).max
    var gg =
      if (amax <= 0) 0
      else math.ceil(210.0 + 4.0 * (math.log(amax /
        math.pow(5.49, 4.0 / 3.0)) / math.log(2.0))).toInt
    gg += ggBias
    if (gg < 0) gg = 0
    if (gg > 255) gg = 255
    val gq = math.pow(2.0, 0.25 * (gg - 210))
    def fit(bm: Double, limit: Int): Int = {
      var v = limit
      while (v > 0 && bm > 0 && math.round(math.pow(
        bm * math.pow(2.0, 1.0 * v) / gq, 0.75)) > 5) v -= 1
      if (bm > 0) v else 0
    }
    // long prefix bands 0-7 (their widths cover exactly 36 lines at
    // the MPEG-1 rates)
    val sclL = new Array[Int](8)
    for (sfb <- 0 until 8) {
      var bm = 0.0
      var i = bandStartLong(sfb)
      while (i < math.min(bandStartLong(sfb + 1), 36)) {
        bm = math.max(bm, math.abs(xr(i))); i += 1
      }
      sclL(sfb) = fit(bm, 15)
    }
    val sclS = Array.fill(3, 12)(0)
    for (s <- 3 until 12; w <- 0 until 3) {
      var bm = 0.0
      var k = 0
      while (k < shortW(s)) {
        bm = math.max(bm, math.abs(xr(sBase(s) + 3 * k + w)))
        k += 1
      }
      sclS(w)(s) = fit(bm, if (s < 6) 15 else 7)
      // intensity bands: the scalefactor IS the position index
      if (forcedScl != null && forcedScl(w)(s) >= 0) sclS(w)(s) = forcedScl(w)(s)
    }
    // quantize into STORAGE order: lines 0-35 verbatim, short region
    // band-major window-minor
    val q = new Array[Int](576)
    def quant(x: Double, sc: Int): Int = {
      val v = math.pow(math.abs(x) * math.pow(2.0, 1.0 * sc) / gq, 0.75)
      val m = math.min(5, math.round(v).toInt)
      if (x < 0) -m else m
    }
    var i = 0
    var sfb = 0
    while (i < 36) {
      while (sfb < 7 && i >= bandStartLong(sfb + 1)) sfb += 1
      q(i) = quant(xr(i), sclL(sfb))
      i += 1
    }
    for (s <- 3 until 13; w <- 0 until 3; k <- 0 until shortW(s)) {
      val sc = if (s < 12) sclS(w)(s) else 0
      q(sBase(s) + w * shortW(s) + k) = quant(xr(sBase(s) + 3 * k + w), sc)
    }
    var lastBig = -1
    var lastNz = -1
    i = 0
    while (i < 576) {
      if (math.abs(q(i)) > 1) lastBig = i
      if (q(i) != 0) lastNz = i
      i += 1
    }
    var bigEnd = if (lastBig < 0) 0 else ((lastBig / 2) + 1) * 2
    if (minCover > 0) bigEnd = math.min(((bigEnd + 3) / 4) * 4, minCover)
    val r1 = 36
    def regionMax(from: Int, until: Int): Int = {
      var m = 0
      var k = from
      while (k < math.min(until, bigEnd)) { m = math.max(m, math.abs(q(k))); k += 1 }
      m
    }
    val tables = Array(
      tableFor(regionMax(0, r1), oddGranule),
      tableFor(regionMax(r1, 576), oddGranule),
      0)
    val bw = new Bw
    for (sfb2 <- 0 until 8) bw.bits(sclL(sfb2), 4)
    for (s <- 3 until 6; w <- 0 until 3) bw.bits(sclS(w)(s), 4)
    for (s <- 6 until 12; w <- 0 until 3) bw.bits(sclS(w)(s), 3)
    i = 0
    while (i < bigEnd) {
      val tsel = if (i < r1) tables(0) else tables(1)
      if (tsel != 0) {
        val t = Mp3Tables.big(tsel)
        val xm = math.abs(q(i))
        val ym = math.abs(q(i + 1))
        val (len, code) = t.entries(xm * t.dim + ym)
        bw.bits(code, len)
        if (xm != 0) bw.bits(if (q(i) < 0) 1 else 0, 1)
        if (ym != 0) bw.bits(if (q(i + 1) < 0) 1 else 0, 1)
      }
      i += 2
    }
    val count1Table = if (oddGranule) 1 else 0
    val c1 = if (count1Table == 0) Mp3Tables.count1A else Mp3Tables.count1B
    i = bigEnd
    while ((i <= lastNz || i < minCover) && i + 4 <= 576) {
      val vals = Array(q(i), q(i + 1), q(i + 2), q(i + 3))
      val idx = vals.foldLeft(0)((a, v) => (a << 1) | math.abs(v))
      val (len, code) = c1(idx)
      bw.bits(code, len)
      vals.foreach(v => if (v != 0) bw.bits(if (v < 0) 1 else 0, 1))
      i += 4
    }
    val nbits = bw.bitLength
    GranulePlan(bw.bytes, nbits, gg, bigEnd / 2, tables, count1Table,
      short = true, mixed = true)
  }

  /** MPEG-1 mono MIXED-block encode (round 20): every granule is
   * block_type 2 with mixed_block_flag set — subbands 0-1 long,
   * the rest short — exercising the decoder's mixed scalefactor
   * read, mixed requantize split, sbLimit-1 alias reduction and the
   * per-subband hybrid window dispatch through true bytes. */
  def encodeMonoMixed(pcm: Array[Int], sampleRate: Int): Array[Byte] = {
    require(SrIdx.contains(sampleRate), s"unsupported rate $sampleRate")
    val frameBytes = 144000 * 320 / sampleRate
    val n0 = math.max(0, pcm.length - Advance)
    val nFrames = math.max(2, (n0 + 1056 + 1151) / 1152)
    val nSamples = nFrames * 1152
    val sub = analyzeSubbands(pcm, n0, nSamples)
    val bandW = Mp3Tables.sfbLong(sampleRate)
    val bandStart = {
      val s = new Array[Int](23)
      var acc = 0
      for (k <- bandW.indices) { s(k) = acc; acc += bandW(k) }
      s(22) = 576
      s
    }
    require(bandStart(8) == 36, "mixed long prefix must be 8 bands / 36 lines")
    val shortW = Mp3Tables.sfbShort(sampleRate)
    val out = new java.io.ByteArrayOutputStream()
    var granule = 0
    var frame = 0
    while (frame < nFrames) {
      val plans = Seq(0, 1).map(g => quantizeAndCodeMixed(
        granuleSpectrumMixed(sub, granule + g), bandStart, shortW,
        oddGranule = g == 1))
      val bw = new Bw
      bw.bits(0xfff, 12); bw.bits(1, 1)
      bw.bits(1, 2); bw.bits(1, 1)
      bw.bits(BitrateIdx(32000), 4)
      bw.bits(SrIdx(sampleRate), 2)
      bw.bits(0, 1); bw.bits(0, 1)
      bw.bits(3, 2) // mono
      bw.bits(0, 2)
      bw.bits(0, 2); bw.bits(0, 2)
      bw.bits(0, 9) // main_data_begin
      bw.bits(0, 5) // private
      bw.bits(0, 4) // scfsi
      for (plan <- plans) {
        bw.bits(plan.nbits, 12)
        bw.bits(plan.bigValues, 9)
        bw.bits(plan.gg, 8)
        bw.bits(15, 4) // scalefac_compress → slen 4/3
        bw.bits(1, 1) // window switching
        bw.bits(2, 2) // block_type 2
        bw.bits(1, 1) // MIXED
        bw.bits(plan.tables(0), 5)
        bw.bits(plan.tables(1), 5)
        bw.bits(0, 3); bw.bits(0, 3); bw.bits(0, 3) // subblock_gain
        bw.bits(0, 1) // preflag
        bw.bits(1, 1) // scalefac_scale
        bw.bits(plan.count1Table, 1)
      }
      plans.foreach(p => appendBits(bw, p.bytes, p.nbits))
      val used = bw.bitLength
      val want = frameBytes * 8
      require(used <= want, s"mixed frame overflow: $used > $want")
      var pad = want - used
      while (pad >= 8) { bw.bits(0, 8); pad -= 8 }
      if (pad > 0) bw.bits(0, pad)
      out.write(bw.bytes)
      granule += 2
      frame += 1
    }
    out.toByteArray
  }

  /** Joint-stereo MIXED-block intensity encode (round 20): every
   * granule is block_type 2 with mixed_block_flag set and channel
   * 1's short bands at/above the bound zeroed with per-window
   * position indices — exercises jointStereoShort's MIXED branch
   * (longEnd-offset band walk from short band 3) through true
   * bytes. */
  def encodeStereoIntensityMixed(left: Array[Int], right: Array[Int],
      sampleRate: Int): Array[Byte] = {
    require(SrIdx.contains(sampleRate), s"unsupported rate $sampleRate")
    require(left.length == right.length, "channel length mismatch")
    val frameBytes = 144000 * 320 / sampleRate
    val n0 = math.max(0, left.length - Advance)
    val nFrames = math.max(2, (n0 + 1056 + 1151) / 1152)
    val nSamples = nFrames * 1152
    val shortW = Mp3Tables.sfbShort(sampleRate)
    val bandW = Mp3Tables.sfbLong(sampleRate)
    val bandStart = {
      val s = new Array[Int](23)
      var acc = 0
      for (k <- bandW.indices) { s(k) = acc; acc += bandW(k) }
      s(22) = 576
      s
    }
    require(bandStart(8) == 36, "mixed long prefix must be 8 bands / 36 lines")
    val sBase = new Array[Int](14)
    sBase(3) = 36
    for (s <- 3 until 13) sBase(s + 1) = sBase(s) + 3 * shortW(s)
    val subL = analyzeSubbands(left, n0, nSamples)
    val subR = analyzeSubbands(right, n0, nSamples)
    // intensity bound: first 4-aligned short band start at/after band 8
    val boundSfb = (8 to 12).find(s => sBase(s) % 4 == 0).getOrElse(13)
    val bound = sBase(boundSfb)
    val out = new java.io.ByteArrayOutputStream()
    var granule = 0
    var frame = 0
    while (frame < nFrames) {
      val forced = Array.fill(2)(Array.fill(3, 12)(-1))
      val spectra = Array.tabulate(2) { g =>
        val l = granuleSpectrumMixed(subL, granule + g)
        val r = granuleSpectrumMixed(subR, granule + g)
        val c0 = new Array[Double](576)
        val c1 = new Array[Double](576)
        var i = 0
        while (i < 576) {
          c0(i) = if (i < bound) l(i) else l(i) + r(i)
          c1(i) = if (i < bound) r(i) else 0.0
          i += 1
        }
        for (s <- boundSfb until 12; w <- 0 until 3) {
          var eL = 0.0
          var eR = 0.0
          var k = 0
          while (k < shortW(s)) {
            val idx = sBase(s) + 3 * k + w
            eL += l(idx) * l(idx); eR += r(idx) * r(idx)
            k += 1
          }
          val pos = math.round(math.atan2(math.sqrt(eL), math.sqrt(eR))
            * 12.0 / math.Pi).toInt
          forced(g)(w)(s) = math.max(0, math.min(6, pos))
        }
        Array(c0, c1)
      }
      val budget = frameBytes * 8 - 32 - 32 * 8
      var ggBias = 0
      var plans: Array[Array[GranulePlan]] = null
      var fits = false
      while (!fits) {
        plans = Array.tabulate(2, 2) { (g, ch) =>
          quantizeAndCodeMixed(spectra(g)(ch), bandStart, shortW,
            oddGranule = g == 1, ggBias = ggBias,
            minCover = if (ch == 1) bound else 0,
            forcedScl = if (ch == 1) forced(g) else null)
        }
        val total = plans.flatten.map(_.nbits).sum
        if (total <= budget || ggBias >= 255) fits = true
        else ggBias += 4
      }
      val bw = new Bw
      bw.bits(0xfff, 12); bw.bits(1, 1)
      bw.bits(1, 2); bw.bits(1, 1)
      bw.bits(BitrateIdx(32000), 4)
      bw.bits(SrIdx(sampleRate), 2)
      bw.bits(0, 1); bw.bits(0, 1)
      bw.bits(1, 2) // joint stereo
      bw.bits(1, 2) // mode_extension: intensity
      bw.bits(0, 2); bw.bits(0, 2)
      bw.bits(0, 9); bw.bits(0, 3); bw.bits(0, 8) // mdb, private, scfsi
      for (g <- 0 until 2; ch <- 0 until 2) {
        val plan = plans(g)(ch)
        bw.bits(plan.nbits, 12)
        bw.bits(plan.bigValues, 9)
        bw.bits(plan.gg, 8)
        bw.bits(15, 4)
        bw.bits(1, 1) // window switching
        bw.bits(2, 2) // block_type 2
        bw.bits(1, 1) // MIXED
        bw.bits(plan.tables(0), 5)
        bw.bits(plan.tables(1), 5)
        bw.bits(0, 3); bw.bits(0, 3); bw.bits(0, 3)
        bw.bits(0, 1) // preflag
        bw.bits(1, 1) // scalefac_scale
        bw.bits(plan.count1Table, 1)
      }
      for (g <- 0 until 2; ch <- 0 until 2)
        appendBits(bw, plans(g)(ch).bytes, plans(g)(ch).nbits)
      val used = bw.bitLength
      val want = frameBytes * 8
      require(used <= want, s"mixed-intensity frame overflow: $used > $want")
      var pad = want - used
      while (pad >= 8) { bw.bits(0, 8); pad -= 8 }
      if (pad > 0) bw.bits(0, pad)
      out.write(bw.bytes)
      granule += 2
      frame += 1
    }
    out.toByteArray
  }

  /** Joint-stereo SHORT-block intensity encode (round 20): every
   * granule is block_type 2, mode_extension = intensity; channel
   * 1's bands at/above the bound (the first 4-aligned short band
   * start at/after band 8) are zeroed with PER-WINDOW position
   * indices in their scalefactor slots, channel 0 carries L+R
   * there. Exercises the decoder's jointStereoShort path end to
   * end through true bytes. */
  def encodeStereoIntensityShort(left: Array[Int], right: Array[Int],
      sampleRate: Int): Array[Byte] = {
    require(SrIdx.contains(sampleRate), s"unsupported rate $sampleRate")
    require(left.length == right.length, "channel length mismatch")
    val frameBytes = 144000 * 320 / sampleRate
    val n0 = math.max(0, left.length - Advance)
    val nFrames = math.max(2, (n0 + 1056 + 1151) / 1152)
    val nSamples = nFrames * 1152
    val shortW = Mp3Tables.sfbShort(sampleRate)
    val base = new Array[Int](14)
    for (s <- 0 until 13) base(s + 1) = base(s) + 3 * shortW(s)
    val subL = analyzeSubbands(left, n0, nSamples)
    val subR = analyzeSubbands(right, n0, nSamples)
    // intensity bound: the first 4-aligned short band start at/after
    // band 8 (4-aligned so the count1 quad run lands exactly on it)
    val boundSfb = (8 to 12).find(s => base(s) % 4 == 0).getOrElse(13)
    val bound = base(boundSfb)
    val out = new java.io.ByteArrayOutputStream()
    var granule = 0
    var frame = 0
    while (frame < nFrames) {
      val forced = Array.fill(2)(Array.fill(3, 12)(-1))
      val spectra = Array.tabulate(2) { g =>
        val l = granuleSpectrumShort(subL, granule + g)
        val r = granuleSpectrumShort(subR, granule + g)
        val c0 = new Array[Double](576)
        val c1 = new Array[Double](576)
        var i = 0
        while (i < 576) {
          c0(i) = if (i < bound) l(i) else l(i) + r(i)
          c1(i) = if (i < bound) r(i) else 0.0
          i += 1
        }
        // per-window position indices for the intensity bands (band
        // 12 carries no scalefactor: the decoder reuses band 11's)
        for (s <- boundSfb until 12; w <- 0 until 3) {
          var eL = 0.0
          var eR = 0.0
          var k = 0
          while (k < shortW(s)) {
            val idx = base(s) + 3 * k + w
            eL += l(idx) * l(idx); eR += r(idx) * r(idx)
            k += 1
          }
          val pos = math.round(math.atan2(math.sqrt(eL), math.sqrt(eR))
            * 12.0 / math.Pi).toInt
          forced(g)(w)(s) = math.max(0, math.min(6, pos))
        }
        Array(c0, c1)
      }
      val budget = frameBytes * 8 - 32 - 32 * 8
      var ggBias = 0
      var plans: Array[Array[GranulePlan]] = null
      var fits = false
      while (!fits) {
        plans = Array.tabulate(2, 2) { (g, ch) =>
          if (ch == 1)
            quantizeAndCodeShort(spectra(g)(ch), shortW, oddGranule = g == 1,
              minCover = bound, forcedScl = forced(g), ggBias = ggBias)
          else quantizeAndCodeShort(spectra(g)(ch), shortW,
            oddGranule = g == 1, ggBias = ggBias)
        }
        val total = plans.flatten.map(_.nbits).sum
        if (total <= budget || ggBias >= 255) fits = true
        else ggBias += 4
      }
      val bw = new Bw
      bw.bits(0xfff, 12); bw.bits(1, 1)
      bw.bits(1, 2) // layer III
      bw.bits(1, 1) // no CRC
      bw.bits(BitrateIdx(32000), 4)
      bw.bits(SrIdx(sampleRate), 2)
      bw.bits(0, 1); bw.bits(0, 1) // padding, private
      bw.bits(1, 2) // mode: joint stereo
      bw.bits(1, 2) // mode_extension: intensity
      bw.bits(0, 2); bw.bits(0, 2)
      bw.bits(0, 9) // main_data_begin
      bw.bits(0, 3) // private
      bw.bits(0, 8) // scfsi
      for (g <- 0 until 2; ch <- 0 until 2) {
        val plan = plans(g)(ch)
        bw.bits(plan.nbits, 12)
        bw.bits(plan.bigValues, 9)
        bw.bits(plan.gg, 8)
        bw.bits(15, 4) // scalefac_compress (slen 4/3)
        bw.bits(1, 1) // window switching
        bw.bits(2, 2) // block_type 2 (short)
        bw.bits(0, 1) // not mixed
        bw.bits(plan.tables(0), 5)
        bw.bits(plan.tables(1), 5)
        bw.bits(0, 3); bw.bits(0, 3); bw.bits(0, 3) // subblock_gain
        bw.bits(0, 1) // preflag
        bw.bits(1, 1) // scalefac_scale
        bw.bits(plan.count1Table, 1)
      }
      for (g <- 0 until 2; ch <- 0 until 2)
        appendBits(bw, plans(g)(ch).bytes, plans(g)(ch).nbits)
      val used = bw.bitLength
      val want = frameBytes * 8
      require(used <= want, s"short-intensity frame overflow: $used > $want")
      var pad = want - used
      while (pad >= 8) { bw.bits(0, 8); pad -= 8 }
      if (pad > 0) bw.bits(0, pad)
      out.write(bw.bytes)
      granule += 2
      frame += 1
    }
    out.toByteArray
  }
}
