package graft.tools

/**
 * Deterministic ISO-BMFF fixture whose video track is REAL MJPEG:
 * `mdat` carries one complete JPEG per sample and the `moov` sample
 * tables (`stsd` 'jpeg' entry, uniform `stsz`, single-chunk `stco`/
 * `stsc`) describe exactly where each frame lives — so the repo's
 * sample-table walk is exercised against true bytes, the MP4
 * companion to [[AviFixture]]'s RIFF `movi` walk. Written as ONE
 * parquet file so Spark and the DuckDB oracle read identical blobs.
 *
 * Layout per media_id (the oracle's offset arithmetic relies on this):
 *  - id % 8 == 3 → `ftyp` only (cut before any sample): parses as
 *                  mp4, NO frame rows.
 *  - id % 8 == 7 → junk bytes: nothing parses.
 *  - otherwise   → ftyp(16) + mdat(8 + nf·S) + moov(mvhd + trak(tkhd
 *                  + mdia(mdhd + hdlr + minf(vmhd + dinf +
 *                  stbl(stsd/stts/stsc/stsz/stco))))), mdat FIRST so
 *                  frame data sits at fixed offsets: sample i's JPEG
 *                  begins at 24 + i·S. S (the uniform padded sample
 *                  size — decoders ignore bytes after the JPEG EOI)
 *                  is published as stsz.sample_size AND derivable as
 *                  (mdat_size − 8) / nf with mdat_size = BE32 at
 *                  byte 16; stco's single chunk offset is 24.
 *
 * Field derivations shared verbatim with [[AviFixture]] (same frame
 * family: nFrames = 2 + id % 5, width/height/usPerFrame formulas, the
 * moving-bar JPEG generator) — one source of truth for both
 * containers' ground truth.
 *
 * Usage: Test/runMain graft.tools.MjpegMp4Fixture [outFile] [rows]
 * (default fixtures/mp4mjpeg.parquet, 500 rows)
 */
object MjpegMp4Fixture {

  def nFrames(id: Long): Int = AviFixture.nFrames(id)
  def width(id: Long): Int = AviFixture.width(id)
  def height(id: Long): Int = AviFixture.height(id)
  def usPerFrame(id: Long): Int = AviFixture.usPerFrame(id)

  private[tools] def be16(v: Int): Array[Byte] = Array[Byte]((v >>> 8).toByte, v.toByte)
  private[tools] def be32(v: Long): Array[Byte] =
    Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private[tools] def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private[tools] def box(tpe: String, payload: Array[Byte]): Array[Byte] =
    be32(payload.length + 8L) ++ fourcc(tpe) ++ payload
  private[tools] def fullBox(tpe: String, version: Int, payload: Array[Byte]): Array[Byte] =
    box(tpe, Array[Byte](version.toByte, 0, 0, 0) ++ payload)

  def ftyp(): Array[Byte] =
    box("ftyp", fourcc("isom") ++ be32(512))

  private[tools] def matrix(): Array[Byte] =
    be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L)

  private[tools] def mvhd(nf: Int, upf: Int): Array[Byte] = {
    val durMs = upf.toLong * nf / 1000L
    fullBox("mvhd", 0, be32(0) ++ be32(0) ++ be32(1000) ++ be32(durMs) ++
      be32(0x00010000L) ++ be16(0x0100) ++ new Array[Byte](2 + 8) ++
      matrix() ++ new Array[Byte](24) ++ be32(2))
  }

  private[tools] def tkhdBox(w: Int, h: Int, nf: Int, upf: Int): Array[Byte] = {
    val durMs = upf.toLong * nf / 1000L
    box("tkhd", Array[Byte](0, 0, 0, 7) ++ // version 0, flags enabled|in-movie|in-preview
      be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(durMs) ++
      new Array[Byte](8) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
      matrix() ++
      be32(w.toLong << 16) ++ be32(h.toLong << 16))
  }

  private[tools] def mdhd(nf: Int, upf: Int): Array[Byte] =
    fullBox("mdhd", 0, be32(0) ++ be32(0) ++ be32(90000) ++
      be32(nf.toLong * upf * 90000L / 1000000L) ++
      be16(0x55c4) ++ be16(0)) // language 'und', pre_defined

  private[tools] def hdlr(): Array[Byte] =
    fullBox("hdlr", 0, be32(0) ++ fourcc("vide") ++
      new Array[Byte](12) ++ "v".getBytes("US-ASCII") :+ 0.toByte)

  private[tools] def vmhd(): Array[Byte] =
    box("vmhd", Array[Byte](0, 0, 0, 1) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0))

  private[tools] def dinf(): Array[Byte] = {
    val url = box("url ", Array[Byte](0, 0, 0, 1)) // self-contained
    box("dinf", fullBox("dref", 0, be32(1) ++ url))
  }

  /** 'jpeg' VideoSampleEntry (86 bytes): the codec identity the
   * sample-table walk keys on. */
  private[tools] def stsd(w: Int, h: Int): Array[Byte] = {
    val entry = box("jpeg",
      new Array[Byte](6) ++ be16(1) ++ // reserved, data_reference_index
        be16(0) ++ be16(0) ++ new Array[Byte](12) ++ // pre_defined, reserved, pre_defined[3]
        be16(w) ++ be16(h) ++
        be32(0x00480000L) ++ be32(0x00480000L) ++ // 72 dpi
        be32(0) ++ be16(1) ++ // reserved, frame_count
        new Array[Byte](32) ++ // compressorname
        be16(24) ++ be16(0xffff)) // depth, pre_defined = -1
    fullBox("stsd", 0, be32(1) ++ entry)
  }

  private[tools] def stts(nf: Int, upf: Int): Array[Byte] =
    fullBox("stts", 0, be32(1) ++ be32(nf) ++
      be32(upf.toLong * 90000L / 1000000L)) // delta in mdhd ticks

  private[tools] def stsc(): Array[Byte] =
    fullBox("stsc", 0, be32(1) ++ be32(1) ++ be32(Int.MaxValue) ++ be32(1))

  private[tools] def stsz(s: Int, nf: Int): Array[Byte] =
    fullBox("stsz", 0, be32(s) ++ be32(nf)) // uniform sample_size, count

  private[tools] def stco(): Array[Byte] =
    fullBox("stco", 0, be32(1) ++ be32(24)) // one chunk at byte 24 (mdat payload)

  /** Full MJPEG MP4; returns the uniform padded sample size S for
   * tests that re-derive the oracle's offsets. */
  def mp4WithSize(id: Long): (Array[Byte], Int) =
    mp4FromJpegs((0 until nFrames(id)).map(f => AviFixture.jpegFrame(id, f)),
      width(id), height(id), usPerFrame(id))

  /** Assemble an MJPEG MP4 from ARBITRARY complete-JPEG samples —
   * the generalized form [[mp4WithSize]] wraps; also feeds the
   * video-dedup fixture's re-mux twins. */
  def mp4FromJpegs(jpegs: Seq[Array[Byte]], w: Int, h: Int,
      upf: Int): (Array[Byte], Int) =
    mp4FromSamples(jpegs, w, h, upf, stsd(w, h))

  /** Generic VisualSampleEntry under any fourcc (no codec config —
   * the sample-table walks key on the fourcc alone): lets tests mux
   * e.g. 'vp09' samples for cross-container payload-digest checks. */
  def stsdFourcc(fourcc4: String, w: Int, h: Int): Array[Byte] = {
    val entry = box(fourcc4,
      new Array[Byte](6) ++ be16(1) ++
        be16(0) ++ be16(0) ++ new Array[Byte](12) ++
        be16(w) ++ be16(h) ++
        be32(0x00480000L) ++ be32(0x00480000L) ++
        be32(0) ++ be16(1) ++
        new Array[Byte](32) ++
        be16(24) ++ be16(0xffff))
    fullBox("stsd", 0, be32(1) ++ entry)
  }

  /** The shared muxer body: arbitrary samples under a caller-chosen
   * stsd. */
  def mp4FromSamples(samples: Seq[Array[Byte]], w: Int, h: Int,
      upf: Int, stsdBox: Array[Byte]): (Array[Byte], Int) = {
    val jpegs = samples
    val nf = jpegs.size
    val s = (jpegs.map(_.length).max + 1) & ~1
    val mdat = box("mdat", jpegs.flatMap(j => j ++ new Array[Byte](s - j.length)).toArray)
    val stbl = box("stbl", stsdBox ++ stts(nf, upf) ++ stsc() ++ stsz(s, nf) ++ stco())
    val minf = box("minf", vmhd() ++ dinf() ++ stbl)
    val mdia = box("mdia", mdhd(nf, upf) ++ hdlr() ++ minf)
    val trak = box("trak", tkhdBox(w, h, nf, upf) ++ mdia)
    val moov = box("moov", mvhd(nf, upf) ++ trak)
    (ftyp() ++ mdat ++ moov, s)
  }

  def mp4(id: Long): Array[Byte] = mp4WithSize(id)._1

  def truncated(): Array[Byte] = ftyp()

  def junk(id: Long): Array[Byte] = {
    val r = new scala.util.Random(id + 37)
    val b = new Array[Byte](48)
    r.nextBytes(b)
    b(4) = 0 // never an ftyp at offset 4
    b
  }

  /** (declared mime, actual bytes) — mime lies on the broken rows. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("video/mp4", truncated())
    else if (id % 8 == 7) ("application/octet-stream", junk(id))
    else ("video/mp4", mp4(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/mp4mjpeg.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("mp4mjpeg-fixture")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val df = (0L until rows.toLong).map { id =>
      val (mime, bytes) = row(id)
      (id, mime, bytes)
    }.toDF("media_id", "mime_type", "media")
    FixtureIo.writeSingleParquet(df, out, rows.toLong)
    spark.stop()
  }
}
