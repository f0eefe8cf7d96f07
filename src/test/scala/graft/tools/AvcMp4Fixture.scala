package graft.tools

/**
 * Deterministic ISO-BMFF fixture whose video track declares `avc1`
 * (H.264) and carries a REAL `stss` sync-sample box: the pixels of an
 * H.26x stream can't be decoded without a codec library, but keyframe
 * LOCATION is pure sample-table arithmetic — which is exactly what a
 * 100 TB video pipeline shards on. This fixture exercises the repo's
 * `stss` walk ([[graft.ops.Multimodal.AvHeaders.mp4SyncSamples]])
 * against true bytes. Box builders are shared with
 * [[MjpegMp4Fixture]] (one source of truth for the ISO-BMFF plumbing).
 *
 * Layout per media_id (the oracle's offset arithmetic relies on this):
 *  - id % 8 == 3 → `ftyp` only: parses as mp4, NO keyframe rows.
 *  - id % 8 == 7 → junk bytes: nothing parses.
 *  - otherwise   → ftyp(16) + mdat(8 + nf·S) + moov(mvhd + trak(tkhd
 *                  + mdia(mdhd + hdlr + minf(vmhd + dinf +
 *                  stbl(stsd['avc1'+avcC]/stts/stss/stsc/stsz/
 *                  stco))))), mdat FIRST: sample i (0-based) begins at
 *                  24 + i·S with UNIFORM S = 48 + 2·(id % 13),
 *                  re-derivable as (mdat_size − 8) / nf with mdat_size
 *                  = BE32 at byte 16. Every sample is a well-formed
 *                  AVCC payload: BE32 NAL length (S − 4) then the NAL,
 *                  whose header byte sits at sample offset 4 —
 *                  0x65 (nal_unit_type 5, IDR) on sync samples,
 *                  0x41 (type 1, non-IDR slice) otherwise, then
 *                  deterministic filler. `stss` declares samples
 *                  1, 1+k, 1+2k, … (1-based) with k = 1 + id % 3 —
 *                  so the oracle re-derives the full keyframe set from
 *                  the id contract + mdat anchor alone and the two
 *                  derivations must meet on identical coordinates.
 *
 * nFrames/width/height/usPerFrame share [[AviFixture]]'s formulas.
 *
 * Usage: Test/runMain graft.tools.AvcMp4Fixture [outFile] [rows]
 * (default fixtures/mp4avc.parquet, 500 rows)
 */
object AvcMp4Fixture {
  import MjpegMp4Fixture.{be16, be32, box, fullBox, ftyp, mvhd, tkhdBox,
    mdhd, hdlr, vmhd, dinf, stts, stsc, stsz, stco}

  def nFrames(id: Long): Int = AviFixture.nFrames(id)
  /** stss sync interval: keyframes at 1-based samples 1, 1+k, 1+2k… */
  def syncInterval(id: Long): Int = 1 + (id % 3).toInt
  /** Uniform sample size (AVCC length prefix + NAL + filler). */
  def sampleSize(id: Long): Int = 48 + 2 * (id % 13).toInt
  /** Per-sample duration in mdhd (90 kHz) ticks for the FRAGMENTED
   * layout: the same clock the self-contained stts declares, so both
   * layouts share one time-axis contract (tfdt = i·fragDelta, trex
   * default_sample_duration = fragDelta). */
  def fragDelta(id: Long): Long =
    MjpegMp4Fixture.usPerFrame(id).toLong * 90000L / 1000000L

  /** 'avc1' VisualSampleEntry + minimal avcC decoder config (version,
   * profile Baseline/3.0, lengthSizeMinusOne=3, zero SPS/PPS — enough
   * to be structurally honest; the walk keys only on the fourcc). */
  private def stsdAvc(id: Long): Array[Byte] = {
    val avcC = box("avcC", Array[Byte](1, 0x42, 0, 0x1e, -1 /*0xff*/ ,
      -32 /*0xe0: 0 SPS*/ , 0 /*0 PPS*/))
    val entry = box("avc1",
      new Array[Byte](6) ++ be16(1) ++ // reserved, data_reference_index
        be16(0) ++ be16(0) ++ new Array[Byte](12) ++
        be16(AviFixture.width(id)) ++ be16(AviFixture.height(id)) ++
        be32(0x00480000L) ++ be32(0x00480000L) ++ // 72 dpi
        be32(0) ++ be16(1) ++ // reserved, frame_count
        new Array[Byte](32) ++ // compressorname
        be16(24) ++ be16(0xffff) ++ // depth, pre_defined = -1
        avcC)
    fullBox("stsd", 0, be32(1) ++ entry)
  }

  private def stss(id: Long): Array[Byte] = {
    val syncs = syncSamples(id)
    fullBox("stss", 0, be32(syncs.length) ++ syncs.flatMap(s => be32(s)))
  }

  /** The 1-based sync sample numbers stss declares. */
  def syncSamples(id: Long): Array[Long] =
    (1 to nFrames(id) by syncInterval(id)).map(_.toLong).toArray

  /** One AVCC sample: BE32 NAL length, NAL header (IDR on sync
   * samples), deterministic filler to the uniform size. */
  private def sample(id: Long, f: Int, s: Int, sync: Boolean): Array[Byte] = {
    val nal = new Array[Byte](s - 4)
    nal(0) = if (sync) 0x65 else 0x41
    var j = 1
    while (j < nal.length) { nal(j) = ((id * 31 + f * 7 + j) & 0x7f).toByte; j += 1 }
    be32(s - 4L) ++ nal
  }

  /** The ordered AVCC sample payloads [[mp4]](id) carries in its
   * mdat — shared with the re-mux fixture's AVI twin so both
   * containers hold byte-identical codec payloads. */
  def samplePayloads(id: Long): Seq[Array[Byte]] = {
    val nf = nFrames(id)
    val s = sampleSize(id)
    val syncs = syncSamples(id).map(_.toInt).toSet
    (0 until nf).map(f => sample(id, f, s, syncs(f + 1)))
  }

  /** The SAME NAL units as [[samplePayloads]] but in Annex-B framing
   * (4-byte start codes instead of BE32 length prefixes) — what a
   * real `ffmpeg -c copy` writes into an MPEG-TS segment. The
   * round-20 cross-framing re-mux class pairs these against the
   * AVCC MP4 through the NAL-normalized payload digest. */
  def samplePayloadsAnnexB(id: Long): Seq[Array[Byte]] =
    samplePayloads(id).map(s =>
      Array[Byte](0, 0, 0, 1) ++ java.util.Arrays.copyOfRange(s, 4, s.length))

  def mp4(id: Long): Array[Byte] = {
    val nf = nFrames(id)
    val s = sampleSize(id)
    val mdat = box("mdat", samplePayloads(id).flatten.toArray)
    val (w, h, upf) = (MjpegMp4Fixture.width(id), MjpegMp4Fixture.height(id),
      MjpegMp4Fixture.usPerFrame(id))
    val stbl = box("stbl", stsdAvc(id) ++ stts(nf, upf) ++ stss(id) ++ stsc() ++
      stsz(s, nf) ++ stco())
    val minf = box("minf", vmhd() ++ dinf() ++ stbl)
    val mdia = box("mdia", mdhd(nf, upf) ++ hdlr() ++ minf)
    val trak = box("trak", tkhdBox(w, h, nf, upf) ++ mdia)
    val moov = box("moov", mvhd(nf, upf) ++ trak)
    ftyp() ++ mdat ++ moov
  }

  /** (declared mime, actual bytes) — mime lies on the broken rows. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("video/mp4", MjpegMp4Fixture.truncated())
    else if (id % 8 == 7) ("application/octet-stream", MjpegMp4Fixture.junk(id))
    else ("video/mp4", mp4(id))

  // ---- fragmented (CMAF/DASH-style) variant -----------------------
  // Same frame family and keyframe contract as mp4(), but the samples
  // live in per-frame moof+mdat fragments: moov carries EMPTY sample
  // tables + mvex/trex defaults (the init-segment layout), each
  // fragment's trun carries data-offset + per-sample size + per-sample
  // flags, and tfhd sets default-base-is-moof. Fragment i holds sample
  // i alone, so (with constant moof size and uniform S) the oracle
  // re-derives every coordinate from box-size anchors alone:
  //   moov_sz = BE32@16, moof_1 = 16 + moov_sz, moof_sz = BE32@moof_1,
  //   mdat_sz = BE32@(moof_1+moof_sz), S = mdat_sz − 8,
  //   frag = moof_sz + mdat_sz,
  //   sample i at moof_1 + i·frag + moof_sz + 8, keyframes i % k == 0.

  /** moov for the fragmented layout: empty stbl + mvex/trex. */
  private def fragMoov(id: Long): Array[Byte] = {
    val stblEmpty = box("stbl", stsdAvc(id) ++
      fullBox("stts", 0, be32(0)) ++ fullBox("stsc", 0, be32(0)) ++
      fullBox("stsz", 0, be32(0) ++ be32(0)) ++ fullBox("stco", 0, be32(0)))
    val (w, h, nf, upf) = (MjpegMp4Fixture.width(id), MjpegMp4Fixture.height(id),
      nFrames(id), MjpegMp4Fixture.usPerFrame(id))
    val minf = box("minf", vmhd() ++ dinf() ++ stblEmpty)
    val mdia = box("mdia", mdhd(nf, upf) ++ hdlr() ++ minf)
    val trak = box("trak", tkhdBox(w, h, nf, upf) ++ mdia)
    // trex: track 1, desc idx 1, default duration = the shared
    // per-sample clock, no default size, default flags NON-sync
    // (fragments mark their own keyframes)
    val trex = fullBox("trex", 0, be32(1) ++ be32(1) ++ be32(fragDelta(id)) ++
      be32(0) ++ be32(0x01010000L))
    box("moov", mvhd(nf, upf) ++ trak ++ box("mvex", trex))
  }

  /** One moof+mdat fragment holding sample `i` alone. */
  private def fragment(id: Long, i: Int, s: Int, sync: Boolean): Array[Byte] = {
    val mfhd = fullBox("mfhd", 0, be32(i + 1L)) // sequence number
    val tfhd = box("tfhd", Array[Byte](0, 2, 0, 0) ++ be32(1)) // default-base-is-moof, track 1
    val tfdt = fullBox("tfdt", 0, be32(i.toLong * fragDelta(id)))
    // trun flags 0x000601: data-offset + sample-size + sample-flags
    val trunLen = 8 + 4 + 4 + 4 + 4 + 4
    val moofLen = 8 + mfhd.length + (8 + tfhd.length + tfdt.length + trunLen)
    val sampleFlags = if (sync) 0x02000000L else 0x01010000L
    val trun = box("trun", Array[Byte](0, 0, 6, 1) ++ be32(1) ++
      be32(moofLen + 8L) ++ be32(s.toLong) ++ be32(sampleFlags))
    val moof = box("moof", mfhd ++ box("traf", tfhd ++ tfdt ++ trun))
    assert(moof.length == moofLen, s"moof size drift: ${moof.length} != $moofLen")
    moof ++ box("mdat", sample(id, i, s, sync))
  }

  def fragMp4(id: Long): Array[Byte] = {
    val nf = nFrames(id)
    val s = sampleSize(id)
    val k = syncInterval(id)
    ftyp() ++ fragMoov(id) ++
      (0 until nf).flatMap(i => fragment(id, i, s, i % k == 0)).toArray
  }

  /** A fragment whose tfhd sets BOTH base-data-offset-present (0x01)
   * and default-base-is-moof (0x20000). ISO/IEC 14496-12 gives the
   * EXPLICIT base_data_offset precedence; here it points straight at
   * the fragment's sample (trun data_offset 0), so a walker that lets
   * default-base-is-moof override it mislocates every sample. */
  private def fragmentBoth(id: Long, i: Int, s: Int, sync: Boolean,
      fragStart: Long): Array[Byte] = {
    val mfhd = fullBox("mfhd", 0, be32(i + 1L))
    val tfdt = fullBox("tfdt", 0, be32(i.toLong * fragDelta(id)))
    val trunLen = 8 + 4 + 4 + 4 + 4 + 4
    val tfhdLen = 8 + 4 + 4 + 8 // box hdr + ver/flags + track + base(64)
    val moofLen = 8 + mfhd.length + (8 + tfhdLen + tfdt.length + trunLen)
    val sampleOff = fragStart + moofLen + 8
    val tfhd = box("tfhd", Array[Byte](0, 2, 0, 1) ++ be32(1) ++
      be32(sampleOff >> 32) ++ be32(sampleOff & 0xffffffffL))
    val sampleFlags = if (sync) 0x02000000L else 0x01010000L
    val trun = box("trun", Array[Byte](0, 0, 6, 1) ++ be32(1) ++
      be32(0L) ++ be32(s.toLong) ++ be32(sampleFlags))
    val moof = box("moof", mfhd ++ box("traf", tfhd ++ tfdt ++ trun))
    assert(moof.length == moofLen, s"moof size drift: ${moof.length} != $moofLen")
    moof ++ box("mdat", sample(id, i, s, sync))
  }

  /** [[fragMp4]] with every tfhd carrying BOTH offset-base flags —
   * keyframe coordinates must come out IDENTICAL to [[fragMp4]]'s. */
  def fragMp4BothFlags(id: Long): Array[Byte] = {
    val nf = nFrames(id)
    val s = sampleSize(id)
    val k = syncInterval(id)
    val head = ftyp() ++ fragMoov(id)
    var pos = head.length.toLong
    val frags = (0 until nf).map { i =>
      val f = fragmentBoth(id, i, s, i % k == 0, pos)
      pos += f.length
      f
    }
    head ++ frags.flatten
  }

  /** Fragmented-fixture row: same broken-row contract as [[row]]. */
  def fragRow(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("video/mp4", MjpegMp4Fixture.truncated())
    else if (id % 8 == 7) ("application/octet-stream", MjpegMp4Fixture.junk(id))
    else ("video/mp4", fragMp4(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/mp4avc.parquet")
    val fragOut = args.lift(2).getOrElse("fixtures/mp4frag.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("mp4avc-fixture")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    def write(mk: Long => (String, Array[Byte]), dest0: String): Unit = {
      val df = (0L until rows.toLong).map { id =>
        val (mime, bytes) = mk(id)
        (id, mime, bytes)
      }.toDF("media_id", "mime_type", "media")
      FixtureIo.writeSingleParquet(df, dest0, rows.toLong)
    }
    write(row, out)
    write(fragRow, fragOut)
    spark.stop()
  }
}
