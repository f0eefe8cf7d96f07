package graft.ops

/**
 * MPEG-1 Audio Layer III decoder (ISO/IEC 11172-3) — PCM for the
 * dominant web audio format, feeding the perceptual fingerprint
 * ([[AudioFp.monoSamples]]) the way FLAC and WAV already do.
 *
 * Implemented from the public spec: frame sync + header, mono and
 * stereo side info, the bit reservoir (main_data_begin back-pointer
 * across frames), scalefactor decode incl. scfsi, big-values /
 * count1 / rzero Huffman regions, requantization (global_gain,
 * scalefac_scale, preflag, subblock_gain), MS stereo, short-block
 * reordering, alias reduction, 36/12-point IMDCT with all four
 * window types, overlap-add, frequency inversion and the 32-band
 * polyphase synthesis.
 *
 * HONEST SCOPE (three seams, all declared):
 *  - Huffman code tables are gated by verification
 *    ([[Mp3Tables]]): a frame selecting a table this transcription
 *    could not verify (8, 10-31 — notably the linbits escape
 *    families) claims NOTHING rather than decoding silently wrong.
 *    The in-repo encoder direction (tools.Mp3Encoder) exercises the
 *    verified set end-to-end.
 *  - The 512-tap synthesis window is a COMPUTED pseudo-QMF
 *    prototype (windowed sinc, Hann), not the normative Table B.3
 *    constants — those are pure tabulated data this environment
 *    cannot verify. The analysis direction uses the matched
 *    prototype, making the fixture roundtrip near-exact; against a
 *    conformant decoder real streams differ by a small filterbank
 *    ripple, well under the fingerprint's robustness margin.
 *  - Intensity stereo decodes for LONG blocks and (round 20) SHORT
 *    blocks — the per-window pan is the same position-ratio formula
 *    over the short band geometry, no new tables. A granule whose
 *    two channels carry DIFFERENT block shapes under intensity
 *    claims nothing (the band layouts don't align).
 *  - MPEG-2/2.5 LSF (round 20): the single-granule frame decodes —
 *    9-bit scalefac_compress with the FORMULA-derived slen/partition
 *    split, implied preflag, the six low-rate sfb tables under the
 *    transcription gate documented in Mp3Tables — within the same
 *    verified-Huffman-table scope as MPEG-1. LSF joint-INTENSITY
 *    frames claim nothing (their intensity_scale pan law is separate
 *    tabulated-ish machinery, out of scope). Frame CRCs are skipped,
 *    not verified — corruption surfaces as a claim-nothing granule
 *    through the structural checks instead.
 *
 * Tolerance discipline: None, never a throw — a corrupt stream
 * yields what decoded cleanly before the corruption, or nothing.
 */
object Mp3 {

  final case class Pcm(sampleRate: Int, channels: Int, samples: Array[Float])

  // ------------------------------------------------------ bit reader
  private final class Br(b: Array[Byte], var pos: Int, val end: Int) {
    var overrun = false
    def bits(n: Int): Int = {
      var v = 0
      var k = n
      while (k > 0) {
        if (pos >= end) { overrun = true; return v << k }
        v = (v << 1) | ((b(pos >> 3) >> (7 - (pos & 7))) & 1)
        pos += 1
        k -= 1
      }
      v
    }
    def bit(): Int = bits(1)
  }

  // ---------------------------------------------------------- header
  private val BitrateKbps =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val BitrateKbpsLsf =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val SampleRates = Array(44100, 48000, 32000)
  private val SampleRatesLsf = Array(22050, 24000, 16000)
  private val SampleRates25 = Array(11025, 12000, 8000)

  private[ops] final case class Hdr(size: Int, sampleRate: Int,
      mode: Int, modeExt: Int, crc: Boolean, lsf: Boolean = false) {
    def channels: Int = if (mode == 3) 1 else 2
  }

  /** MPEG-1 / MPEG-2 / MPEG-2.5 Layer III header at `off` (LSF =
   * low sampling frequency, the MPEG-2/2.5 single-granule frame);
   * None otherwise. */
  private[ops] def header(b: Array[Byte], off: Int): Option[Hdr] = {
    if (off + 4 > b.length) return None
    val h0 = b(off) & 0xff
    val h1 = b(off + 1) & 0xff
    val h2 = b(off + 2) & 0xff
    val h3 = b(off + 3) & 0xff
    if (h0 != 0xff || (h1 & 0xe0) != 0xe0) return None // 11-bit sync
    val version = (h1 >> 3) & 3 // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    val layer = (h1 >> 1) & 3 // 1 = Layer III
    if (version == 1 || layer != 1) return None
    val brIdx = h2 >> 4
    val srIdx = (h2 >> 2) & 3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
    val pad = (h2 >> 1) & 1
    val lsf = version != 3
    val sr = version match {
      case 3 => SampleRates(srIdx)
      case 2 => SampleRatesLsf(srIdx)
      case _ => SampleRates25(srIdx)
    }
    val kbps = if (lsf) BitrateKbpsLsf(brIdx) else BitrateKbps(brIdx)
    val size = (if (lsf) 72000 else 144000) * kbps / sr + pad
    Some(Hdr(size, sr, h3 >> 6, (h3 >> 4) & 3, (h1 & 1) == 0, lsf))
  }

  // ------------------------------------------------------- side info
  private[graft] final class Gr {
    var part23 = 0
    var bigValues = 0
    var globalGain = 0
    var scalefacCompress = 0
    var windowSwitching = false
    var blockType = 0
    var mixedBlock = false
    val tableSelect = new Array[Int](3)
    val subblockGain = new Array[Int](3)
    var region0 = 0
    var region1 = 0
    var preflag = false
    var scalefacScale = false
    var count1Table = 0
  }

  private def readSideInfo(br: Br, nch: Int): (Int, Array[Array[Int]], Array[Array[Gr]]) = {
    val mainDataBegin = br.bits(9)
    br.bits(if (nch == 1) 5 else 3) // private bits
    val scfsi = Array.fill(nch)(new Array[Int](4))
    for (ch <- 0 until nch; g <- 0 until 4) scfsi(ch)(g) = br.bit()
    val grs = Array.fill(2, nch)(new Gr)
    for (g <- 0 until 2; ch <- 0 until nch) {
      val gr = grs(g)(ch)
      gr.part23 = br.bits(12)
      gr.bigValues = br.bits(9)
      gr.globalGain = br.bits(8)
      gr.scalefacCompress = br.bits(4)
      gr.windowSwitching = br.bit() == 1
      if (gr.windowSwitching) {
        gr.blockType = br.bits(2)
        gr.mixedBlock = br.bit() == 1
        gr.tableSelect(0) = br.bits(5)
        gr.tableSelect(1) = br.bits(5)
        gr.tableSelect(2) = 0
        gr.subblockGain(0) = br.bits(3)
        gr.subblockGain(1) = br.bits(3)
        gr.subblockGain(2) = br.bits(3)
        // spec-implied region split for switched blocks
        gr.region0 = if (gr.blockType == 2 && !gr.mixedBlock) 8 else 7
        gr.region1 = 20 - gr.region0
      } else {
        gr.tableSelect(0) = br.bits(5)
        gr.tableSelect(1) = br.bits(5)
        gr.tableSelect(2) = br.bits(5)
        gr.region0 = br.bits(4)
        gr.region1 = br.bits(3)
        gr.blockType = 0
      }
      gr.preflag = br.bit() == 1
      gr.scalefacScale = br.bit() == 1
      gr.count1Table = br.bit()
    }
    (mainDataBegin, scfsi, grs)
  }

  /** MPEG-2/2.5 (LSF) side info: ONE granule, no scfsi, a 9-bit
   * scalefac_compress, and no preflag bit (preflag is implied by
   * scalefac_compress ≥ 500, set during scalefactor decode).
   * 9 bytes mono / 17 stereo. */
  private def readSideInfoLsf(br: Br, nch: Int): (Int, Array[Array[Gr]]) = {
    val mainDataBegin = br.bits(8)
    br.bits(if (nch == 1) 1 else 2) // private bits
    val grs = Array.fill(1, nch)(new Gr)
    for (ch <- 0 until nch) {
      val gr = grs(0)(ch)
      gr.part23 = br.bits(12)
      gr.bigValues = br.bits(9)
      gr.globalGain = br.bits(8)
      gr.scalefacCompress = br.bits(9)
      gr.windowSwitching = br.bit() == 1
      if (gr.windowSwitching) {
        gr.blockType = br.bits(2)
        gr.mixedBlock = br.bit() == 1
        gr.tableSelect(0) = br.bits(5)
        gr.tableSelect(1) = br.bits(5)
        gr.tableSelect(2) = 0
        gr.subblockGain(0) = br.bits(3)
        gr.subblockGain(1) = br.bits(3)
        gr.subblockGain(2) = br.bits(3)
        gr.region0 = if (gr.blockType == 2 && !gr.mixedBlock) 8 else 7
        gr.region1 = 20 - gr.region0
      } else {
        gr.tableSelect(0) = br.bits(5)
        gr.tableSelect(1) = br.bits(5)
        gr.tableSelect(2) = br.bits(5)
        gr.region0 = br.bits(4)
        gr.region1 = br.bits(3)
        gr.blockType = 0
      }
      gr.preflag = false // derived from scalefac_compress at decode
      gr.scalefacScale = br.bit() == 1
      gr.count1Table = br.bit()
    }
    (mainDataBegin, grs)
  }

  // ----------------------------------------------------- scalefactors
  private final class Scf {
    val long = new Array[Int](23)
    val short = Array.fill(3)(new Array[Int](13))
  }

  /** MPEG-2/2.5 scalefactor decode (ISO 13818-3 2.4.3.2, the
   * NON-intensity channel): slen and the four band-partition counts
   * derive from the 9-bit scalefac_compress by FORMULA — no new
   * tables; the partition counts depend on BOTH the block shape and
   * the compress RANGE (round-20 review fix — the ≥400 ranges use
   * their own splits, matching the reference decoders' nr_of_sfb
   * table), every split summing to the 21 / 36 / 33 scalefactor
   * totals pinned in Mp3Spec. preflag is implied by
   * scalefac_compress ≥ 500. LSF INTENSITY channels use a different
   * compress split and pan law and are out of scope — an LSF
   * joint-intensity frame claims nothing (decode loop). */
  private def readScalefactorsLsf(br: Br, gr: Gr): Scf = {
    val out = new Scf
    val sfc = gr.scalefacCompress
    val (slen, range) =
      if (sfc < 400)
        (Array((sfc >> 4) / 5, (sfc >> 4) % 5, (sfc & 15) >> 2, sfc & 3), 0)
      else if (sfc < 500) {
        val c = sfc - 400
        (Array((c >> 2) / 5, (c >> 2) % 5, c & 3, 0), 1)
      } else {
        val c = sfc - 500
        gr.preflag = true
        (Array(c / 3, c % 3, 0, 0), 2)
      }
    val short = gr.windowSwitching && gr.blockType == 2
    val nr =
      if (!short) range match {
        case 0 => Array(6, 5, 5, 5)
        case 1 => Array(6, 5, 7, 3)
        case _ => Array(11, 10, 0, 0)
      }
      else if (gr.mixedBlock) range match {
        case 0 => Array(6, 9, 9, 9)
        case 1 => Array(6, 9, 12, 6)
        case _ => Array(15, 18, 0, 0)
      }
      else range match {
        case 0 => Array(9, 9, 9, 9)
        case 1 => Array(9, 9, 12, 6)
        case _ => Array(18, 18, 0, 0)
      }
    var k = 0
    for (p <- 0 until 4; _ <- 0 until nr(p)) {
      val v = br.bits(slen(p))
      if (!short) out.long(k) = v
      else if (gr.mixedBlock) {
        if (k < 6) out.long(k) = v
        else out.short((k - 6) % 3)(3 + (k - 6) / 3) = v
      } else out.short(k % 3)(k / 3) = v
      k += 1
    }
    out
  }

  private def readScalefactors(br: Br, gr: Gr, scfsi: Array[Int],
      granule: Int, prev: Scf): Scf = {
    val out = new Scf
    val (s1, s2) = Mp3Tables.slen(gr.scalefacCompress)
    if (gr.windowSwitching && gr.blockType == 2) {
      if (gr.mixedBlock) {
        for (sfb <- 0 until 8) out.long(sfb) = br.bits(s1)
        for (sfb <- 3 until 6; w <- 0 until 3) out.short(w)(sfb) = br.bits(s1)
        for (sfb <- 6 until 12; w <- 0 until 3) out.short(w)(sfb) = br.bits(s2)
      } else {
        for (sfb <- 0 until 6; w <- 0 until 3) out.short(w)(sfb) = br.bits(s1)
        for (sfb <- 6 until 12; w <- 0 until 3) out.short(w)(sfb) = br.bits(s2)
      }
    } else {
      // four scfsi groups: 0-5, 6-10, 11-15, 16-20
      val groups = Array((0, 6, s1), (6, 11, s1), (11, 16, s2), (16, 21, s2))
      groups.zipWithIndex.foreach { case ((from, to, slen), gi) =>
        if (granule == 1 && scfsi(gi) == 1)
          for (sfb <- from until to) out.long(sfb) = prev.long(sfb)
        else
          for (sfb <- from until to) out.long(sfb) = br.bits(slen)
      }
    }
    out
  }

  // --------------------------------------------------------- huffman
  /** Decode the spectral values of one granule/channel into is[576].
   * Returns the channel's DATA END (the first all-rzero line — the
   * intensity-stereo bound for channel 1), or -1 when the frame
   * selects an unverified table (claim nothing) or the stream is
   * structurally broken. */
  private def readSpectrum(br: Br, gr: Gr, sampleRate: Int,
      is: Array[Int], granuleEnd: Int): Int = {
    java.util.Arrays.fill(is, 0)
    val bandStarts = {
      val widths = Mp3Tables.sfbLong(sampleRate)
      val s = new Array[Int](23)
      var acc = 0
      for (i <- widths.indices) { s(i) = acc; acc += widths(i) }
      s(22) = 576
      s
    }
    val bigEnd = math.min(gr.bigValues * 2, 576)
    val (r1, r2) =
      if (gr.windowSwitching) (math.min(36, bigEnd), bigEnd)
      else {
        val a = bandStarts(math.min(gr.region0 + 1, 22))
        val b = bandStarts(math.min(gr.region0 + 1 + gr.region1 + 1, 22))
        (math.min(a, bigEnd), math.min(b, bigEnd))
      }
    var i = 0
    while (i < bigEnd) {
      val tsel =
        if (i < r1) gr.tableSelect(0)
        else if (i < r2) gr.tableSelect(1)
        else gr.tableSelect(2)
      if (tsel == 0) {
        is(i) = 0; is(i + 1) = 0
        i += 2
      } else {
        val t = Mp3Tables.big.getOrElse(tsel, null)
        if (t == null) return -1 // unverified table: claim nothing
        // peek maxLen bits without consuming past what the code needs
        val save = br.pos
        val peek = br.bits(t.maxLen)
        val hit = t.lut(peek)
        if (hit < 0) return -1
        val len = hit & 0xff
        br.pos = save + len
        br.overrun = br.pos > br.end
        var x = (hit >> 12) & 0xf
        var y = (hit >> 8) & 0xf
        if (t.linbits > 0 && x == 15) x += br.bits(t.linbits)
        if (x != 0 && br.bit() == 1) x = -x
        if (t.linbits > 0 && y == 15) y += br.bits(t.linbits)
        if (y != 0 && br.bit() == 1) y = -y
        is(i) = x; is(i + 1) = y
        i += 2
      }
      if (br.overrun || br.pos > granuleEnd) return -1
    }
    // count1 region: quads until the granule's bits run out
    val lut = if (gr.count1Table == 0) Mp3Tables.count1ALut else Mp3Tables.count1BLut
    val w = if (gr.count1Table == 0) Mp3Tables.count1AMax else Mp3Tables.count1BMax
    var stop = false
    while (!stop && br.pos < granuleEnd && i <= 572) {
      val save = br.pos
      val peek = br.bits(w)
      val hit = lut(peek)
      if (hit < 0) return -1
      val len = hit & 0xff
      br.pos = save + len
      // the peek may have brushed the reservoir end even though the
      // actual code fits — recompute instead of keeping a stale flag
      br.overrun = br.pos > br.end
      val v = hit >> 8
      var k = 0
      var bad = false
      val vals = new Array[Int](4)
      while (k < 4) {
        var m = (v >> (3 - k)) & 1
        if (m != 0 && br.bit() == 1) m = -m
        vals(k) = m
        k += 1
      }
      if (br.pos > granuleEnd) {
        // the last quad straddled the boundary: discard it (spec
        // stuffing rule) and stop
        br.pos = granuleEnd
        bad = true
      }
      if (!bad) {
        var j = 0
        while (j < 4) { is(i + j) = vals(j); j += 1 }
        i += 4
      } else stop = true
    }
    if (br.overrun) -1 else i
  }

  // ---------------------------------------------------- requantization
  private def pow43(v: Int): Double = {
    val a = math.abs(v)
    val m = math.pow(a, 4.0 / 3.0)
    if (v < 0) -m else m
  }

  private def requantize(gr: Gr, scf: Scf, sampleRate: Int,
      is: Array[Int], xr: Array[Double]): Unit = {
    val mult = if (gr.scalefacScale) 1.0 else 0.5
    val shortBlock = gr.windowSwitching && gr.blockType == 2
    val longEnd = if (!shortBlock) 576 else if (gr.mixedBlock) 36 else 0
    val longW = Mp3Tables.sfbLong(sampleRate)
    var i = 0
    var sfb = 0
    var bandEnd = longW(0)
    while (i < longEnd) {
      while (i >= bandEnd && sfb < 21) { sfb += 1; bandEnd += longW(sfb) }
      val pre = if (gr.preflag && sfb < 21) Mp3Tables.pretab(sfb) else 0
      val sc = if (sfb < 21) scf.long(sfb) else 0
      val g = math.pow(2.0, 0.25 * (gr.globalGain - 210) - mult * (sc + pre))
      xr(i) = pow43(is(i)) * g
      i += 1
    }
    if (shortBlock) {
      // short region: samples are stored sfb-major, window-minor
      // BEFORE reorder; requantize in that storage order, reordering
      // into subband-sample order as we place them
      val shortW = Mp3Tables.sfbShort(sampleRate)
      val startSfb = if (gr.mixedBlock) 3 else 0
      var pos = longEnd
      var s = startSfb
      // destination indexing: within the short region, reordered
      // layout is per 18-sample subband: three windows interleaved
      // line-by-line inside each band
      while (s < 13 && pos < 576) {
        val width = shortW(s)
        val bandBase = {
          // start of this band's reordered block: sum of 3*width of
          // earlier short bands, after the mixed long prefix
          var acc = longEnd
          var t = startSfb
          while (t < s) { acc += 3 * shortW(t); t += 1 }
          acc
        }
        for (w <- 0 until 3; l <- 0 until width) {
          if (pos < 576) {
            val sc = if (s < 12) scf.short(w)(s) else 0
            val g = math.pow(2.0,
              0.25 * (gr.globalGain - 210 - 8 * gr.subblockGain(w)) - mult * sc)
            val dst = bandBase + l * 3 + w
            if (dst < 576) xr(dst) = pow43(is(pos)) * g
            pos += 1
          }
        }
        s += 1
      }
      while (pos < 576) { xr(pos) = 0.0; pos += 1 }
    }
  }

  // ------------------------------------------------- alias reduction
  private[graft] def aliasReduce(gr: Gr, xr: Array[Double]): Unit = {
    val sbLimit =
      if (gr.windowSwitching && gr.blockType == 2)
        (if (gr.mixedBlock) 1 else 0)
      else 31
    var sb = 1
    while (sb <= sbLimit) {
      var i = 0
      while (i < 8) {
        val a = xr(18 * sb - 1 - i)
        val b = xr(18 * sb + i)
        xr(18 * sb - 1 - i) = a * Mp3Tables.aliasCs(i) - b * Mp3Tables.aliasCa(i)
        xr(18 * sb + i) = b * Mp3Tables.aliasCs(i) + a * Mp3Tables.aliasCa(i)
        i += 1
      }
      sb += 1
    }
  }

  // ------------------------------------------------------------ IMDCT
  /** Window of the given block type over 36 points (types 0, 1, 3). */
  private def longWindow(blockType: Int): Array[Double] =
    Array.tabulate(36) { i =>
      blockType match {
        case 1 =>
          if (i < 18) math.sin(math.Pi / 36.0 * (i + 0.5))
          else if (i < 24) 1.0
          else if (i < 30) math.sin(math.Pi / 12.0 * (i - 18 + 0.5))
          else 0.0
        case 3 =>
          if (i < 6) 0.0
          else if (i < 12) math.sin(math.Pi / 12.0 * (i - 6 + 0.5))
          else if (i < 18) 1.0
          else math.sin(math.Pi / 36.0 * (i + 0.5))
        case _ => math.sin(math.Pi / 36.0 * (i + 0.5))
      }
    }
  private val win0 = longWindow(0)
  private val win1 = longWindow(1)
  private val win3 = longWindow(3)
  private val winShort = Array.tabulate(12)(i => math.sin(math.Pi / 12.0 * (i + 0.5)))

  private val imdct36M: Array[Array[Double]] =
    Array.tabulate(36, 18)((i, k) =>
      math.cos(math.Pi / 72.0 * (2 * i + 1 + 18) * (2 * k + 1)))
  private val imdct12M: Array[Array[Double]] =
    Array.tabulate(12, 6)((i, k) =>
      math.cos(math.Pi / 24.0 * (2 * i + 1 + 6) * (2 * k + 1)))

  /** 36-point IMDCT of 18 spectral values. */
  private[graft] def imdct36(x: Array[Double], off: Int, out: Array[Double]): Unit = {
    var i = 0
    while (i < 36) {
      var acc = 0.0
      val row = imdct36M(i)
      var k = 0
      while (k < 18) { acc += x(off + k) * row(k); k += 1 }
      out(i) = acc
      i += 1
    }
  }

  private def imdct12(x: Array[Double], off: Int, stride: Int, out: Array[Double]): Unit = {
    var i = 0
    while (i < 12) {
      var acc = 0.0
      val row = imdct12M(i)
      var k = 0
      while (k < 6) { acc += x(off + k * stride) * row(k); k += 1 }
      out(i) = acc
      i += 1
    }
  }

  /** One channel-granule hybrid synthesis: xr[576] → 576 time
   * samples (18 per subband), with per-subband overlap state. */
  private[graft] def hybrid(gr: Gr, xr: Array[Double], overlap: Array[Double],
      out: Array[Double]): Unit = {
    val raw = new Array[Double](36)
    val tmp = new Array[Double](12)
    var sb = 0
    while (sb < 32) {
      val bt =
        if (gr.windowSwitching && gr.blockType == 2 &&
          !(gr.mixedBlock && sb < 2)) 2
        else if (gr.windowSwitching && !(gr.mixedBlock && sb < 2)) gr.blockType
        else 0
      if (bt == 2) {
        java.util.Arrays.fill(raw, 0.0)
        var w = 0
        while (w < 3) {
          imdct12(xr, 18 * sb + w, 3, tmp)
          var i = 0
          while (i < 12) {
            raw(6 + 6 * w + i) += tmp(i) * winShort(i)
            i += 1
          }
          w += 1
        }
      } else {
        imdct36(xr, 18 * sb, raw)
        val w = bt match { case 1 => win1; case 3 => win3; case _ => win0 }
        var i = 0
        while (i < 36) { raw(i) *= w(i); i += 1 }
      }
      var j = 0
      while (j < 18) {
        out(18 * sb + j) = raw(j) + overlap(18 * sb + j)
        overlap(18 * sb + j) = raw(18 + j)
        j += 1
      }
      // frequency inversion for odd subbands: odd samples negate
      if ((sb & 1) == 1) {
        var t = 1
        while (t < 18) { out(18 * sb + t) = -out(18 * sb + t); t += 2 }
      }
      sb += 1
    }
  }

  // --------------------------------------------- polyphase filterbank
  /** COMPUTED 512-tap pseudo-QMF prototype (see the object doc's
   * honest-scope note): a square-root raised cosine with T = 64 and
   * rolloff β = 1 — SRRC satisfies the Nyquist power-complementarity
   * Σ_k |P(ω − 2πk/64)|² = const EXACTLY at the π/32 channel
   * spacing, and β = 1 decays ∝ 1/t³ so the 512-tap truncation
   * error is tiny (measured roundtrip ~55 dB SNR; the flowchart
   * structure with this window and the textbook PQMF phase replaces
   * the normative-but-untranscribable Table B.3 window). The
   * (−1)^(i/64) factor folds the modulation's per-64-block phase
   * flip into the window — the same alternation the normative C/D
   * tables carry relative to their prototype. */
  private[graft] lazy val proto: Array[Double] =
    Array.tabulate(512) { i =>
      val beta = 1.0
      val t = (i - 255.5) / 64.0
      val den = math.Pi * t * (1.0 - (4.0 * beta * t) * (4.0 * beta * t))
      val num = math.sin(math.Pi * t * (1.0 - beta)) +
        4.0 * beta * t * math.cos(math.Pi * t * (1.0 + beta))
      val v =
        if (math.abs(den) < 1e-9)
          (beta / math.sqrt(2.0)) * ((1 + 2 / math.Pi) * math.sin(math.Pi / (4 * beta)) +
            (1 - 2 / math.Pi) * math.cos(math.Pi / (4 * beta)))
        else num / den
      val sign = if (((i >> 6) & 1) == 1) -1.0 else 1.0
      v * sign
    }

  /** Steady-state DC gain of analysis∘synthesis with [[proto]] —
   * numeric, deterministic, computed once. */
  private[graft] lazy val protoGain: Double = {
    val st = new SynthState
    val an = new AnalysisState
    var last = 0.0
    val block = Array.fill(32)(1.0)
    val outBlock = new Array[Double](32)
    val sub = new Array[Double](32)
    var it = 0
    while (it < 64) {
      analyzeBlockWith(proto, an, block, sub)
      synthBlockWith(proto, st, sub, outBlock)
      last = outBlock(16)
      it += 1
    }
    last
  }

  /** Synthesis delay-accumulator (the adjoint fifo). */
  private[graft] final class SynthState { val acc = new Array[Double](512) }
  private[graft] final class AnalysisState { val x = new Array[Double](512) }

  /** Pseudo-QMF modulation base: cos((2b+1)π/64 (j − 255.5) +
   * (−1)^b π/4) — the textbook phase whose quadrature term makes
   * adjacent-band alias cancel; the (−1)^m per-64-block sign lives
   * in [[proto]]. */
  private lazy val pqmfMod: Array[Array[Double]] =
    Array.tabulate(32, 64) { (b, j) =>
      math.cos((2 * b + 1) * math.Pi / 64.0 * (j - 255.5) +
        (if ((b & 1) == 1) -1.0 else 1.0) * math.Pi / 4.0)
    }

  /** Adjoint-of-analysis synthesis: one 32-subband block in, the 32
   * time samples completing their 16 accumulations out (480-sample
   * structural delay, trimmed at the decode surface). */
  private[graft] def synthBlockWith(c: Array[Double], st: SynthState,
      s: Array[Double], out: Array[Double]): Unit = {
    val acc = st.acc
    System.arraycopy(acc, 0, acc, 32, 480)
    java.util.Arrays.fill(acc, 0, 32, 0.0)
    val y = new Array[Double](64)
    var k = 0
    while (k < 64) {
      var a = 0.0
      var b = 0
      while (b < 32) {
        a += s(b) * pqmfMod(b)(k)
        b += 1
      }
      y(k) = a
      k += 1
    }
    var i = 0
    while (i < 512) { acc(i) += y(i & 63) * c(i); i += 1 }
    var j = 0
    while (j < 32) { out(j) = acc(511 - j); j += 1 }
  }

  private[graft] def analyzeBlockWith(c: Array[Double], st: AnalysisState,
      in: Array[Double], out: Array[Double]): Unit = {
    val x = st.x
    System.arraycopy(x, 0, x, 32, 512 - 32)
    var i = 0
    while (i < 32) { x(i) = in(31 - i); i += 1 }
    val z = new Array[Double](512)
    i = 0
    while (i < 512) { z(i) = x(i) * c(i); i += 1 }
    val y = new Array[Double](64)
    i = 0
    while (i < 64) {
      var acc = 0.0
      var n = 0
      while (n < 8) { acc += z(i + 64 * n); n += 1 }
      y(i) = acc
      i += 1
    }
    var b = 0
    while (b < 32) {
      var acc = 0.0
      var k = 0
      while (k < 64) {
        acc += y(k) * pqmfMod(b)(k)
        k += 1
      }
      out(b) = acc
      b += 1
    }
  }

  /** Decoder-facing synthesis of 18 × 32 subband samples. */
  private[graft] def synthGranule(st: SynthState, ss: Array[Double],
      out: Array[Float], outOff: Int, ch: Int, nch: Int): Unit = {
    val s = new Array[Double](32)
    val ob = new Array[Double](32)
    var t = 0
    while (t < 18) {
      var sb = 0
      while (sb < 32) { s(sb) = ss(18 * sb + t); sb += 1 }
      synthBlockWith(proto, st, s, ob)
      var j = 0
      while (j < 32) {
        val o = (outOff + t * 32 + j) * nch + ch
        if (o < out.length) out(o) = (ob(j) / protoGain).toFloat
        j += 1
      }
      t += 1
    }
  }

  // ----------------------------------------------------------- decode
  private val ReservoirCap = 65536

  /** Output bound: decoded PCM allocates ~3.2 bytes per input byte,
   * so an unbounded hostile stream could swallow a task's heap.
   * 16384 frames ≈ 10 min @ 32 kHz mono (~75 MB of floats) —
   * decode stops there and returns what decoded (the same
   * resource-cap discipline as the zstd FrameCapBytes). */
  private val MaxFrames = 16384

  def decode(b: Array[Byte]): Option[Pcm] =
    try decodeImpl(b) catch { case _: RuntimeException => None }

  private def decodeImpl(b: Array[Byte]): Option[Pcm] = {
    if (b == null || b.length < 8) return None
    var pos = 0
    // ID3v2 skip (syncsafe size)
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val sz = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      pos = 10 + sz + (if ((b(5) & 0x10) != 0) 10 else 0)
      if (pos >= b.length) return None
    }
    val first = header(b, pos).getOrElse(return None)
    // second consecutive frame required (same rule as the frame walk:
    // a lone 0xFF-led pattern is not an mp3)
    if (header(b, pos + first.size).isEmpty) return None
    val sampleRate = first.sampleRate
    val nch = first.channels
    val reservoir = new Array[Byte](ReservoirCap)
    var resLen = 0
    val overlap = Array.fill(nch)(new Array[Double](576))
    val synth = Array.fill(nch)(new SynthState)
    val pcmBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val prevScf = Array.fill(nch)(new Scf)
    var frames = 0
    var done = false
    while (!done && frames < MaxFrames) {
      header(b, pos) match {
        case Some(h) if h.sampleRate == sampleRate && h.channels == nch &&
          pos + h.size <= b.length =>
          val sideStart = pos + 4 + (if (h.crc) 2 else 0)
          val sideBytes =
            if (h.lsf) (if (nch == 1) 9 else 17)
            else (if (nch == 1) 17 else 32)
          if (sideStart + sideBytes > b.length) done = true
          else {
            val sbr = new Br(b, sideStart * 8, (sideStart + sideBytes) * 8)
            val (mdb, scfsi, grs) =
              if (h.lsf) {
                val (m, g) = readSideInfoLsf(sbr, nch)
                (m, Array.fill(nch)(new Array[Int](4)), g)
              } else readSideInfo(sbr, nch)
            val nGr = grs.length // 1 for LSF, 2 for MPEG-1
            val mainStart = sideStart + sideBytes
            val mainLen = pos + h.size - mainStart
            // locate this frame's granule bits in the reservoir
            val anchor = resLen - mdb
            if (mainLen >= 0 && resLen + mainLen <= ReservoirCap) {
              System.arraycopy(b, mainStart, reservoir, resLen, mainLen)
              resLen += mainLen
            } else done = true
            if (!done && anchor >= 0) {
              val frame = new Array[Float](576 * nGr * nch)
              var usable = true
              val br = new Br(reservoir, anchor * 8, resLen * 8)
              val xr = Array.fill(nGr, nch)(new Array[Double](576))
              for (g <- 0 until nGr) {
                val scfs = new Array[Scf](nch)
                val ends = new Array[Int](nch)
                for (ch <- 0 until nch) {
                  val gr = grs(g)(ch)
                  val granuleEnd = br.pos + gr.part23
                  if (usable && granuleEnd <= resLen * 8) {
                    val scf =
                      if (h.lsf) readScalefactorsLsf(br, gr)
                      else readScalefactors(br, gr, scfsi(ch), g, prevScf(ch))
                    if (g == 0) prevScf(ch) = scf
                    scfs(ch) = scf
                    val is = new Array[Int](576)
                    val dataEnd = readSpectrum(br, gr, sampleRate, is, granuleEnd)
                    if (dataEnd >= 0) {
                      ends(ch) = dataEnd
                      br.pos = granuleEnd // skip stuffing
                      requantize(gr, scf, sampleRate, is, xr(g)(ch))
                    } else usable = false
                  } else usable = false
                }
                if (usable && nch == 2 && h.mode == 1) {
                  val intensityOn = (h.modeExt & 1) != 0
                  // LSF intensity uses a DIFFERENT compress split and
                  // pan law (intensity_scale powers, not the tan
                  // position ratio) — out of the declared scope, so
                  // an LSF joint-intensity frame claims nothing
                  if (h.lsf && intensityOn) return None
                  val short1 = grs(g)(1).windowSwitching && grs(g)(1).blockType == 2
                  if (intensityOn && short1) {
                    // intensity over SHORT blocks (round 20): the
                    // per-window pan — the channels must share the
                    // block shape or the reordered band layouts
                    // don't align (a shape-mismatched intensity
                    // granule claims nothing — the honest narrow
                    // seam)
                    val g0 = grs(g)(0)
                    val g1 = grs(g)(1)
                    if (g0.blockType != g1.blockType ||
                      g0.windowSwitching != g1.windowSwitching ||
                      g0.mixedBlock != g1.mixedBlock) return None
                    jointStereoShort(sampleRate, h.modeExt, scfs(1), g1,
                      xr(g)(0), xr(g)(1), ends(1))
                  } else if (intensityOn && grs(g).exists(gr =>
                    gr.windowSwitching && gr.blockType == 2)) {
                    // ch0 short with ch1 long under intensity: the
                    // same shape-mismatch seam
                    return None
                  } else {
                    jointStereo(sampleRate, h.modeExt, scfs(1), xr(g)(0), xr(g)(1),
                      if (intensityOn) ends(1) else 576)
                  }
                }
              }
              // commit the filterbank state (overlap-add history +
              // synthesis fifo) only once the WHOLE frame parsed: a
              // frame whose granule 1 fails must not leave granule
              // 0's audio in the cross-frame state, or the next good
              // frame overlaps against discarded audio
              if (usable) {
                for (g <- 0 until nGr; ch <- 0 until nch) {
                  aliasReduce(grs(g)(ch), xr(g)(ch))
                  val ts = new Array[Double](576)
                  hybrid(grs(g)(ch), xr(g)(ch), overlap(ch), ts)
                  synthGranule(synth(ch), ts, frame, g * 576, ch, nch)
                }
                pcmBuf += frame; frames += 1
              }
            }
            // bound the reservoir: keep the last 2048 bytes at most
            if (resLen > 4096) {
              val keep = 2048
              System.arraycopy(reservoir, resLen - keep, reservoir, 0, keep)
              resLen = keep
            }
            pos += h.size
            if (pos + 4 > b.length) done = true
          }
        case _ => done = true
      }
    }
    if (frames < 2) return None
    val total = pcmBuf.map(_.length).sum
    // trim the synthesis filterbank's own structural delay (480
    // samples — the adjoint fifo's depth minus one block)
    val trim = math.min(SynthesisDelay * nch, total)
    val out = new Array[Float](total - trim)
    var o = -trim
    pcmBuf.foreach { f =>
      var i = 0
      while (i < f.length) {
        if (o >= 0) out(o) = f(i)
        o += 1
        i += 1
      }
    }
    Some(Pcm(sampleRate, nch, out))
  }

  /** Structural delay of [[synthBlockWith]] in samples per channel. */
  private[graft] val SynthesisDelay = 480

  /** Joint-stereo processing (ISO 11172-3 2.4.3.4.9), long blocks:
   * below `bound` (channel 1's data end when intensity is on, else
   * 576) MS applies when mode_ext bit 1 is set; scalefactor bands
   * whose START lies at/above the bound are INTENSITY coded — the
   * transmitted ch0 spectrum is L+R and channel 1's scalefactor for
   * the band is the position index: ratio = tan(is_pos·π/12),
   * L = is·ratio/(1+ratio), R = is/(1+ratio); is_pos 6 is hard-left,
   * is_pos 7 means intensity off for the band (MS applies there when
   * enabled). Band 21 (which carries no scalefactor) reuses band
   * 20's position, the common convention. */
  private def jointStereo(sampleRate: Int, modeExt: Int, scf1: Scf,
      l: Array[Double], r: Array[Double], bound: Int): Unit = {
    val msOn = (modeExt & 2) != 0
    val inv = 1.0 / math.sqrt(2.0)
    val widths = Mp3Tables.sfbLong(sampleRate)
    var start = 0
    var sfb = 0
    while (sfb < 22) {
      val end = start + widths(sfb)
      if (start >= bound) {
        val isPos = scf1.long(math.min(sfb, 20))
        var i = start
        while (i < end) {
          val m = l(i)
          if (isPos >= 7) {
            // 7 = intensity off for the band; 8-15 are ILLEGAL but
            // reachable through 4-bit scalefactors on a hostile
            // stream — position 9 would make 1+tan(3π/4) ≈ 0 and the
            // division explode into ±Inf, so anything ≥ 7 takes the
            // intensity-off branch
            if (msOn) { val s = r(i); l(i) = (m + s) * inv; r(i) = (m - s) * inv }
          } else if (isPos == 6) {
            l(i) = m; r(i) = 0.0
          } else {
            val ratio = math.tan(isPos * math.Pi / 12.0)
            l(i) = m * (ratio / (1.0 + ratio))
            r(i) = m * (1.0 / (1.0 + ratio))
          }
          i += 1
        }
      } else if (msOn) {
        var i = start
        while (i < math.min(end, bound)) {
          val m = l(i); val s = r(i)
          l(i) = (m + s) * inv
          r(i) = (m - s) * inv
          i += 1
        }
      }
      start = end
      sfb += 1
    }
  }

  /** Joint-stereo processing for SHORT-block granules (round 20 —
   * was a claims-nothing guard): the per-WINDOW intensity pan. The
   * rule is the long path's with the short band geometry: a short
   * scalefactor band whose (reordered == storage) start lies at or
   * above channel 1's data end is intensity-coded, each of its
   * three windows independently with is_position =
   * scf1.short(w)(sfb) (band 12, which carries no scalefactor,
   * reuses band 11's — the band-21→20 convention); bands below the
   * bound take MS when enabled. In the reordered layout band sfb's
   * window-w samples sit at base + 3·line + w, where base =
   * longEnd + 3·Σ earlier widths — identical to the band's STORAGE
   * start, so the data-end bound names the same boundary in both
   * domains. A mixed block's long prefix (bands 0-7 over the first
   * 36 lines) follows the long rule with the long scalefactors. */
  private def jointStereoShort(sampleRate: Int, modeExt: Int, scf1: Scf,
      gr: Gr, l: Array[Double], r: Array[Double], bound: Int): Unit = {
    val msOn = (modeExt & 2) != 0
    val inv = 1.0 / math.sqrt(2.0)
    def pan(idx: Int, isPos: Int): Unit = {
      val m = l(idx)
      if (isPos >= 7) {
        // 7 = intensity off for the band; ≥ 8 illegal-but-reachable
        // (same hostile-stream guard as the long path)
        if (msOn) { val s = r(idx); l(idx) = (m + s) * inv; r(idx) = (m - s) * inv }
      } else if (isPos == 6) {
        l(idx) = m; r(idx) = 0.0
      } else {
        val ratio = math.tan(isPos * math.Pi / 12.0)
        l(idx) = m * (ratio / (1.0 + ratio))
        r(idx) = m * (1.0 / (1.0 + ratio))
      }
    }
    val longEnd = if (gr.mixedBlock) 36 else 0
    if (gr.mixedBlock) {
      // long prefix, bands 0-7: the long-band rule
      val longW = Mp3Tables.sfbLong(sampleRate)
      var start = 0
      var sfb = 0
      while (sfb < 8 && start < longEnd) {
        val end = math.min(start + longW(sfb), longEnd)
        if (start >= bound) {
          var i = start
          while (i < end) { pan(i, scf1.long(sfb)); i += 1 }
        } else if (msOn) {
          var i = start
          while (i < math.min(end, bound)) {
            val m = l(i); val s = r(i)
            l(i) = (m + s) * inv
            r(i) = (m - s) * inv
            i += 1
          }
        }
        start = end
        sfb += 1
      }
    }
    val shortW = Mp3Tables.sfbShort(sampleRate)
    var base = longEnd
    var s = if (gr.mixedBlock) 3 else 0
    while (s < 13 && base < 576) {
      val width = shortW(s)
      val bandEnd = math.min(base + 3 * width, 576)
      if (base >= bound) {
        var w = 0
        while (w < 3) {
          val isPos = scf1.short(w)(math.min(s, 11))
          var k = 0
          while (k < width) {
            val idx = base + 3 * k + w
            if (idx < 576) pan(idx, isPos)
            k += 1
          }
          w += 1
        }
      } else if (msOn) {
        var i = base
        while (i < math.min(bandEnd, bound)) {
          val m = l(i); val t = r(i)
          l(i) = (m + t) * inv
          r(i) = (m - t) * inv
          i += 1
        }
      }
      base = bandEnd
      s += 1
    }
  }
}
