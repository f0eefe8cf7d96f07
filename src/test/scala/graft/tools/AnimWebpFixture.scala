package graft.tools

/**
 * Deterministic ANIMATED-WebP fixture for the q_m35 frame-table face
 * — real RIFF/WEBP VP8X+ANIM+ANMF containers whose frame payloads
 * are REAL bitstreams from the in-repo encoders ([[Vp8Encoder]]
 * lossy keyframes and [[ImageDupFixture.webp]]'s VP8L streams), so
 * the frame chunks a consumer range-reads out of the table rewrap
 * into standalone decodable WebPs.
 *
 * Layout per media_id:
 *  - id % 7 == 6 → ASCII junk: no rows.
 *  - id % 5 == 4 → STILL VP8X (no animation flag, single VP8 chunk):
 *                  no rows — the walker keys on the ANIM layout.
 *  - id % 5 == 3 → animated but TRUNCATED 10 bytes into the LAST
 *                  ANMF chunk: only the complete frames row.
 *  - else        → clean animation with 1 + id%4 frames, codecs
 *                  alternating vp8 (20×12) / vp8l (18×16), duration
 *                  40+10k ms, x/y walking the canvas, flags cycling.
 *
 * Usage: Test/runMain graft.tools.AnimWebpFixture [outFile] [rows]
 */
object AnimWebpFixture {

  private def le24(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte)
  private def le32(v: Int): Array[Byte] =
    le24(v) ++ Array(((v >> 24) & 0xff).toByte)

  private def chunk(fourcc: String, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(fourcc.getBytes("US-ASCII"))
    out.write(le32(payload.length))
    out.write(payload)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  private def riffWrap(chunks: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(le32(4 + chunks.length))
    out.write("WEBP".getBytes("US-ASCII"))
    out.write(chunks)
    out.toByteArray
  }

  /** The image chunk (fourcc+size+payload) of an encoder output —
   * its RIFF file minus the 12-byte RIFF/WEBP header. */
  private def imageChunk(riffFile: Array[Byte]): Array[Byte] =
    riffFile.drop(12)

  val CanvasW = 64
  val CanvasH = 48

  private def vp8x(animated: Boolean): Array[Byte] = {
    val p = new Array[Byte](10)
    p(0) = (if (animated) 0x02 else 0x00).toByte
    System.arraycopy(le24(CanvasW - 1), 0, p, 4, 3)
    System.arraycopy(le24(CanvasH - 1), 0, p, 7, 3)
    chunk("VP8X", p)
  }

  private def anim(loopCount: Int): Array[Byte] = {
    val p = new Array[Byte](6)
    // background color 0, then 16-bit LE loop count
    p(4) = (loopCount & 0xff).toByte
    p(5) = ((loopCount >> 8) & 0xff).toByte
    chunk("ANIM", p)
  }

  /** Frame payload bitstream: alternate real lossy VP8 (20×12,
   * DC-exact cells varying with id and k) and real VP8L (18×16, the
   * imagedup twin encoder). Returns (chunkBytes, w, h, codec). */
  def framePayload(id: Long, k: Int): (Array[Byte], Int, Int, String) =
    if (k % 2 == 0) {
      val bytes = Vp8Encoder.encode(20, 12,
        (x, y) => (ImageDupFixture.cell(id + k, x / 4, y / 4) + k) % 256)
      (imageChunk(bytes), 20, 12, "vp8")
    } else {
      (imageChunk(ImageDupFixture.webp(id + k)),
        ImageDupFixture.W, ImageDupFixture.H, "vp8l")
    }

  private def anmf(id: Long, k: Int): Array[Byte] = {
    val (img, w, h, _) = framePayload(id, k)
    val hdr = new java.io.ByteArrayOutputStream()
    hdr.write(le24((k * 3) % 10)) // frame x / 2
    hdr.write(le24(k % 7))        // frame y / 2
    hdr.write(le24(w - 1))
    hdr.write(le24(h - 1))
    hdr.write(le24(40 + 10 * k))  // duration ms
    hdr.write(k & 0x03)           // bit0 dispose, bit1 no-blend
    chunk("ANMF", hdr.toByteArray ++ img)
  }

  def animated(id: Long): Array[Byte] = {
    val frames = 1 + (id % 4).toInt
    val body = new java.io.ByteArrayOutputStream()
    body.write(vp8x(animated = true))
    body.write(anim((id % 3).toInt))
    for (k <- 0 until frames) body.write(anmf(id, k))
    riffWrap(body.toByteArray)
  }

  def still(id: Long): Array[Byte] =
    riffWrap(vp8x(animated = false) ++
      imageChunk(Vp8Encoder.encode(20, 12, (x, y) => ImageDupFixture.cell(id, x / 4, y / 4))))

  def row(id: Long): (String, Array[Byte]) = {
    if (id % 7 == 6)
      ("image/webp", s"junk not a riff $id".getBytes("US-ASCII"))
    else if (id % 5 == 4) ("image/webp", still(id))
    else if (id % 5 == 3) {
      val full = animated(id)
      // cut 10 bytes into the last ANMF chunk: the walker (and the
      // oracle's recursion) must drop exactly that frame
      ("image/webp", full.take(full.length - 10))
    } else ("image/webp", animated(id))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/animwebp.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(60)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("animwebp-fixture")
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
