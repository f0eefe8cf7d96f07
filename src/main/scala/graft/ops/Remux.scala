package graft.ops

/**
 * Re-CONTAINER muxers — library-grade (ops-level) builders that move
 * a codec payload between container framings with zero re-encode,
 * the transformation a 100 TB crawl's dedup pass must both DETECT
 * (the q_m38/q_m40 faces) and be able to REPRODUCE for measured
 * coverage classes. Round 20: moved out of the fixture tools —
 * SparkEntry's q_m40 previously called the TsFixture generator at
 * query time, a library-surface-depends-on-fixture-tool layering the
 * round-19 verdict flagged; the muxers now live here and the fixture
 * tools delegate.
 *
 *  - MPEG-TS audio mux ([[mpegAudioEsToTs]]): ISO/IEC 13818-1
 *    PAT → PMT (MPEG-1 audio stream_type 0x03) → PES packetization
 *    of a Layer III elementary stream, PES boundaries deliberately
 *    NOT aligned to MP3 frames (ES recovery is pure concatenation).
 *  - WebM Vorbis mux ([[webmFromVorbisPackets]] /
 *    [[webmVorbisFromOgg]]): Matroska EBML with the three Vorbis
 *    headers in CodecPrivate's standard Xiph lacing, audio packets
 *    as Cluster blocks — alternating Xiph-laced SimpleBlocks and
 *    unlaced BlockGroup/Block framings so both decoder paths are
 *    exercised by anything muxed here.
 */
object Remux {

  // ------------------------------------------------------- MPEG-TS
  val PmtPid = 256
  val AudioPid = 258

  private[graft] def psiPacket(pid: Int, section: Array[Byte]): Array[Byte] = {
    val p = Array.fill[Byte](188)(0xff.toByte)
    p(0) = 0x47
    p(1) = (0x40 | (pid >> 8)).toByte // PUSI set
    p(2) = (pid & 0xff).toByte
    p(3) = 0x10 // payload only, cc 0
    p(4) = 0 // pointer_field
    System.arraycopy(section, 0, p, 5, section.length)
    p
  }

  /** PAT: one program (number 1) mapped to [[PmtPid]]. CRC bytes are
   * present but dummy — demuxers on trusted storage (including the
   * repo's own walk) do not verify CRC32. */
  private[graft] def pat(): Array[Byte] =
    Array[Byte](0x00, 0xb0.toByte, 13, // table_id, syntax+len
      0, 1, 0xc1.toByte, 0, 0, // tsid, version/current, sec, last
      0, 1, // program_number 1
      (0xe0 | (PmtPid >> 8)).toByte, (PmtPid & 0xff).toByte,
      0, 0, 0, 0) // dummy CRC

  /** PMT naming a single MPEG-1 audio (stream_type 0x03) elementary
   * stream on [[AudioPid]] — the MP3-in-TS shape. */
  private def pmtAudioMp3(): Array[Byte] =
    Array[Byte](0x02, 0xb0.toByte, 18,
      0, 1, 0xc1.toByte, 0, 0,
      (0xe0 | (AudioPid >> 8)).toByte, (AudioPid & 0xff).toByte, // PCR PID
      0xf0.toByte, 0, // program_info_length 0
      0x03, (0xe0 | (AudioPid >> 8)).toByte, (AudioPid & 0xff).toByte,
      0xf0.toByte, 0, // mpeg-1 audio entry
      0, 0, 0, 0) // dummy CRC

  /** Mux an MPEG audio ELEMENTARY STREAM (e.g. a Layer III frame
   * stream) into a TS segment: PAT + MP3-audio PMT, then the ES
   * split into ~900-byte PES packets whose boundaries deliberately
   * do NOT align to MP3 frames — ES recovery is pure concatenation.
   * The decoder side is
   * [[Multimodal.AvHeaders.tsMpegAudioEs]]. */
  def mpegAudioEsToTs(es: Array[Byte]): Array[Byte] = {
    val pkts = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var cc = 0
    var sent = 0
    while (sent < es.length) {
      val chunk = math.min(900, es.length - sent)
      var first = true
      var done = 0
      while (first || done < chunk) {
        val p = new Array[Byte](188)
        p(0) = 0x47
        p(1) = (((if (first) 0x40 else 0) | (AudioPid >> 8)) & 0xff).toByte
        p(2) = (AudioPid & 0xff).toByte
        if (first) {
          // AF(1+1+S) + 9-byte headerless-optional PES (hdl 0)
          val take = math.min(chunk - done, 173)
          val stuffing = 173 - take
          p(3) = (0x30 | (cc & 0xf)).toByte
          p(4) = (1 + stuffing).toByte
          p(5) = 0
          var k = 0
          while (k < stuffing) { p(6 + k) = 0xff.toByte; k += 1 }
          val po = 6 + stuffing
          p(po) = 0; p(po + 1) = 0; p(po + 2) = 1; p(po + 3) = 0xc0.toByte
          val pesLen = 3 + chunk // optional header + payload
          p(po + 4) = ((pesLen >> 8) & 0xff).toByte
          p(po + 5) = (pesLen & 0xff).toByte
          p(po + 6) = 0x80.toByte // '10'
          p(po + 7) = 0 // no PTS
          p(po + 8) = 0 // header_data_length 0
          System.arraycopy(es, sent + done, p, po + 9, take)
          done += take
        } else {
          val take = math.min(chunk - done, 184)
          if (take == 184) {
            p(3) = (0x10 | (cc & 0xf)).toByte
            System.arraycopy(es, sent + done, p, 4, take)
          } else {
            val n = 183 - take
            p(3) = (0x30 | (cc & 0xf)).toByte
            p(4) = n.toByte
            if (n >= 1) p(5) = 0
            var k = 0
            while (k < n - 1) { p(6 + k) = 0xff.toByte; k += 1 }
            System.arraycopy(es, sent + done, p, 5 + n, take)
          }
          done += take
        }
        cc = (cc + 1) & 0xf
        first = false
        pkts += p
      }
      sent += chunk
    }
    (psiPacket(0, pat()) +: psiPacket(PmtPid, pmtAudioMp3()) +: pkts.toSeq)
      .flatten.toArray
  }

  // --------------------------------------------------------- WebM
  /** EBML element: raw id bytes + minimal-length size vint + payload
   * (general vint size form — cluster payloads can exceed the
   * 2-byte form's 16383-byte reach). */
  private def ebml(id: Long, payload: Array[Byte]): Array[Byte] = {
    val idBytes = {
      var n = 1
      while ((id >>> (8 * n)) != 0) n += 1
      Array.tabulate[Byte](n)(i => (id >>> (8 * (n - 1 - i))).toByte)
    }
    val len = payload.length.toLong
    var sLen = 1
    while (len >= (1L << (7 * sLen)) - 1) sLen += 1 // all-ones = unknown, avoid
    val sizeBytes = Array.tabulate[Byte](sLen) { i =>
      val v = len >>> (8 * (sLen - 1 - i))
      (if (i == 0) (v | (0x100 >> sLen)).toByte else v.toByte)
    }
    idBytes ++ sizeBytes ++ payload
  }

  private def beUintBytes(v: Long): Array[Byte] = {
    var n = 1
    while ((v >>> (8 * n)) != 0) n += 1
    Array.tabulate[Byte](n)(i => (v >>> (8 * (n - 1 - i))).toByte)
  }

  private def beFloat8(v: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(v)
    Array.tabulate[Byte](8)(i => (bits >>> (8 * (7 - i))).toByte)
  }

  /** Xiph lacing sizes for all-but-the-last frame: 255-runs. */
  private def xiphSizes(frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    frames.dropRight(1).foreach { f =>
      var rem = f.length
      while (rem >= 255) { out += 255.toByte; rem -= 255 }
      out += rem.toByte
    }
    out.toArray
  }

  /** Mux raw Vorbis packets (the three headers + audio packets) into
   * a WebM file: Info carries TimestampScale 1 ms and a float64
   * Duration in ms (so the decode side's sample clamp is exact),
   * Tracks one audio TrackEntry (TrackType 2, CodecID A_VORBIS,
   * CodecPrivate = Xiph-laced headers, SamplingFrequency), then one
   * Cluster per ≤3 audio packets — even clusters as a Xiph-laced
   * SimpleBlock, odd clusters as unlaced BlockGroup/Block elements,
   * so both decoder framings and the lacing expansion are exercised
   * by every muxed file. */
  def webmFromVorbisPackets(headers: Seq[Array[Byte]],
      audio: Seq[Array[Byte]], rate: Double, durMs: Double): Array[Byte] = {
    require(headers.size == 3, "vorbis needs id + comment + setup")
    val head = ebml(0x1a45dfa3L, ebml(0x4282L, "webm".getBytes("US-ASCII")))
    val info = ebml(0x1549a966L,
      ebml(0x2ad7b1L, beUintBytes(1000000L)) ++
        ebml(0x4489L, beFloat8(durMs)))
    val codecPriv = Array[Byte](2) ++ xiphSizes(headers) ++ headers.flatten
    val trackEntry = ebml(0xaeL,
      ebml(0xd7L, beUintBytes(1L)) ++ // TrackNumber
        ebml(0x83L, beUintBytes(2L)) ++ // TrackType audio
        ebml(0x86L, "A_VORBIS".getBytes("US-ASCII")) ++
        ebml(0x63a2L, codecPriv) ++
        ebml(0xe1L, ebml(0xb5L, beFloat8(rate)) ++
          ebml(0x9fL, beUintBytes(1L))))
    val tracks = ebml(0x1654ae6bL, trackEntry)
    val clusters = audio.grouped(3).zipWithIndex.flatMap { case (grp, ci) =>
      val ts = ebml(0xe7L, beUintBytes(ci * 20L))
      val blocks =
        if (ci % 2 == 0) {
          // one Xiph-laced SimpleBlock carrying the whole group
          val sb = Array[Byte](0x81.toByte, 0, 0, 0x82.toByte) ++ // track 1, rel 0, keyframe + Xiph lacing (flag bits 01)
            Array((grp.size - 1).toByte) ++ xiphSizes(grp) ++ grp.flatten
          ebml(0xa3L, sb)
        } else grp.flatMap { p =>
          // unlaced Block inside a BlockGroup per packet
          val blk = Array[Byte](0x81.toByte, 0, 0, 0x00) ++ p
          ebml(0xa0L, ebml(0xa1L, blk))
        }.toArray
      ebml(0x1f43b675L, ts ++ blocks)
    }.toArray // flatMap over byte arrays already flattens
    head ++ ebml(0x18538067L, info ++ tracks ++ clusters)
  }

  /** Re-container an Ogg Vorbis stream as WebM with ZERO decode: the
   * Ogg lacing is unwrapped to packets, the three headers become
   * CodecPrivate, the audio packets become blocks, and the Ogg
   * granule becomes the float64 Duration (so decode lengths agree
   * exactly). Bytes that do not demux as Ogg Vorbis are wrapped as
   * a structurally-valid WebM whose CodecPrivate is the junk itself
   * — it parses as a webm container but honestly decodes nothing
   * (the q_m40 negative class). */
  def webmVorbisFromOgg(b: Array[Byte]): Array[Byte] = {
    val demux =
      if (b == null || b.length < 58) (Seq.empty[Array[Byte]], -1L)
      else Vorbis.oggPackets(b)
    val (packets, granule) = demux
    if (packets.size >= 3 && packets.head.length >= 16 &&
      (packets.head(0) & 0xff) == 1 &&
      Multimodal.AvHeaders.magic(packets.head, 1, "vorbis")) {
      // sample rate at id-header bytes 12..15 (LE)
      val rate = (0 until 4).map(k =>
        (packets.head(12 + k) & 0xffL) << (8 * k)).sum.toDouble
      val durMs = if (granule > 0 && rate > 0) granule * 1000.0 / rate else 0.0
      webmFromVorbisPackets(packets.take(3), packets.drop(3), rate, durMs)
    } else {
      val junk = if (b == null) Array[Byte](0) else b
      val third = math.max(1, junk.length / 3)
      val fake = Seq(junk.take(third), junk.slice(third, 2 * third),
        junk.drop(2 * third)).map(p => if (p.isEmpty) Array[Byte](0) else p)
      webmFromVorbisPackets(fake, Nil, 0.0, 0.0)
    }
  }
}
