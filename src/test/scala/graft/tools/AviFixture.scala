package graft.tools

/**
 * Deterministic RIFF/AVI fixture with REAL MJPEG video frames: each
 * `00dc` chunk in the `movi` LIST is a complete JPEG image (encoded
 * with the JDK's ImageIO writer), so the container walk AND the
 * per-frame decode are both exercised against true bytes. Written as
 * ONE parquet file so Spark and the DuckDB oracle read identical
 * blobs — the audio/video companion to [[Mp4Fixture]].
 *
 * Layout per media_id (the oracle's offset arithmetic relies on this):
 *  - id % 8 == 3 → header-only AVI (RIFF + hdrl, no movi — a capture
 *                  cut before any frame was written): format parses
 *                  as avi with dimensions, zero total frames, no
 *                  duration, NO frame rows.
 *  - id % 8 == 7 → junk bytes, no RIFF signature: nothing parses.
 *  - otherwise   → RIFF('AVI ',
 *                    LIST('hdrl', avih(56) + LIST('strl',
 *                      strh(56,'vids'/'MJPG') + strf(40))) +
 *                    LIST('movi', nf × ('00dc' + LE32(S) + jpeg padded
 *                      to S)))
 *                  with fixed header geometry: hdrl LIST is always
 *                  200 bytes, so movi starts at byte 212 and frame
 *                  chunk i's data begins at 224 + i*(8+S) + 8.
 *                  S (the uniform padded chunk size — every decoder
 *                  ignores bytes after the JPEG EOI marker) is
 *                  published in avih.dwSuggestedBufferSize (byte 60),
 *                  total frames at byte 48, width/height at 64/68,
 *                  microseconds-per-frame at byte 32 — all LE32.
 *
 * Field derivations:
 *   nFrames    = 2 + id % 5            (2..6 real JPEG frames)
 *   width      = 32 + 8 * (id % 4)
 *   height     = 24 + 8 * (id % 3)
 *   usPerFrame = 33333 + 1000 * (id % 7)
 *
 * Usage: Test/runMain graft.tools.AviFixture [outFile] [rows]
 * (default fixtures/avi.parquet, 500 rows)
 */
object AviFixture {

  def nFrames(id: Long): Int = 2 + (id % 5).toInt
  def width(id: Long): Int = 32 + 8 * (id % 4).toInt
  def height(id: Long): Int = 24 + 8 * (id % 3).toInt
  def usPerFrame(id: Long): Int = 33333 + 1000 * (id % 7).toInt

  private def le16(v: Int): Array[Byte] = Array[Byte](v.toByte, (v >>> 8).toByte)
  private def le32(v: Long): Array[Byte] =
    Array[Byte](v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def chunk(id4: String, payload: Array[Byte]): Array[Byte] = {
    val pad = if (payload.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray
    fourcc(id4) ++ le32(payload.length) ++ payload ++ pad
  }
  private def list(tpe4: String, payload: Array[Byte]): Array[Byte] =
    chunk("LIST", fourcc(tpe4) ++ payload)

  /** One MJPEG frame: a solid fill varying with (id, frame) plus a
   * moving vertical bar, so consecutive frames have distinct
   * luminance grids even after lossy JPEG encode. */
  def jpegFrame(id: Long, f: Int): Array[Byte] = {
    val w = width(id); val h = height(id); val nf = nFrames(id)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bg = new java.awt.Color(
      ((id * 53 + f * 91) % 256).toInt,
      ((id * 29 + f * 57) % 256).toInt,
      ((id * 17 + f * 23) % 256).toInt)
    val bar = new java.awt.Color(255 - bg.getRed, 255 - bg.getGreen, 255 - bg.getBlue)
    val g = img.createGraphics()
    try {
      g.setColor(bg); g.fillRect(0, 0, w, h)
      g.setColor(bar); g.fillRect(f * w / nf, 0, math.max(w / nf, 2), h)
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    bos.toByteArray
  }

  private def avih(w: Int, h: Int, upf: Int, nf: Int, suggestedBuf: Int): Array[Byte] =
    chunk("avih", le32(upf) ++ le32(0) ++ le32(0) ++ le32(0) ++ // usPerFrame, maxBytesPerSec, padding, flags
      le32(nf) ++ le32(0) ++ le32(1) ++ le32(suggestedBuf) ++ // totalFrames, initialFrames, streams, suggBuf
      le32(w) ++ le32(h) ++ new Array[Byte](16)) // width, height, dwReserved[4]

  private def strl(w: Int, h: Int, upf: Int, nf: Int, suggestedBuf: Int,
      codec: String = "MJPG"): Array[Byte] = {
    val strh = chunk("strh", fourcc("vids") ++ fourcc(codec) ++
      le32(0) ++ le16(0) ++ le16(0) ++ le32(0) ++ // flags, priority, language, initialFrames
      le32(1) ++ le32(1000000L / upf) ++ // scale, rate (fps = rate/scale)
      le32(0) ++ le32(nf) ++ le32(suggestedBuf) ++ // start, length, suggBuf
      le32(0xffffffffL) ++ le32(0) ++ // quality, sampleSize
      le16(0) ++ le16(0) ++ le16(w) ++ le16(h)) // rcFrame
    val strf = chunk("strf", le32(40) ++ le32(w) ++ le32(h) ++
      le16(1) ++ le16(24) ++ fourcc(codec) ++ // planes, bitCount, compression
      le32(w.toLong * h * 3) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)) // ppm, colors
    list("strl", strh ++ strf)
  }

  /** Full AVI; the uniform padded frame-chunk size S is returned for
   * tests that want to re-derive the oracle's offsets. */
  def aviWithSize(id: Long): (Array[Byte], Int) =
    aviFromJpegs((0 until nFrames(id)).map(f => jpegFrame(id, f)),
      width(id), height(id), usPerFrame(id))

  /** Assemble an MJPEG AVI from ARBITRARY complete-JPEG frames —
   * the generalized form [[aviWithSize]] wraps; also feeds the
   * video-dedup fixture's re-mux twins. */
  def aviFromJpegs(jpegs: Seq[Array[Byte]], w: Int, h: Int,
      upf: Int): (Array[Byte], Int) =
    aviFromChunks(jpegs, w, h, upf, "MJPG")

  /** Assemble an AVI from ARBITRARY video-chunk payloads under any
   * stream fourcc — the re-mux fixture's non-MJPEG twin path (e.g.
   * 'H264' chunks that carry the SAME sample bytes as an MP4's
   * mdat, which the payload-digest dedup path must match). */
  def aviFromChunks(payloads: Seq[Array[Byte]], w: Int, h: Int,
      upf: Int, codec: String): (Array[Byte], Int) = {
    val nf = payloads.size
    val s = (payloads.map(_.length).max + 1) & ~1 // round up to even
    val hdrl = list("hdrl",
      avih(w, h, upf, nf, s) ++ strl(w, h, upf, nf, s, codec))
    require(hdrl.length == 200, s"hdrl geometry drifted: ${hdrl.length}")
    val movi = list("movi", payloads.flatMap { j =>
      chunk("00dc", j ++ new Array[Byte](s - j.length))
    }.toArray)
    (fourcc("RIFF") ++ le32(4 + hdrl.length + movi.length) ++ fourcc("AVI ") ++
      hdrl ++ movi, s)
  }

  def avi(id: Long): Array[Byte] = aviWithSize(id)._1

  /** Header-only AVI: hdrl with zero total frames, no movi LIST. */
  def headerOnly(id: Long): Array[Byte] = {
    val hdrl = list("hdrl", avih(width(id), height(id), usPerFrame(id), 0, 0) ++
      strl(width(id), height(id), usPerFrame(id), 0, 0))
    fourcc("RIFF") ++ le32(4 + hdrl.length) ++ fourcc("AVI ") ++ hdrl
  }

  def junk(id: Long): Array[Byte] = {
    val r = new scala.util.Random(id + 23)
    val b = new Array[Byte](48)
    r.nextBytes(b)
    b(0) = 0 // never a RIFF signature
    b
  }

  /** (declared mime, actual bytes) — mime lies on the broken rows,
   * like [[AvFixture.row]]. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("video/x-msvideo", headerOnly(id))
    else if (id % 8 == 7) ("application/octet-stream", junk(id))
    else ("video/x-msvideo", avi(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/avi.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("avi-fixture")
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
