package graft.tools

/**
 * Deterministic animated-GIF fixture for the q_m39 frame-table walk:
 * REAL frame data (each frame's color table + LZW stream comes out of
 * an ImageIO single-frame GIF encode, so ImageIO itself decodes every
 * assembled animation) reassembled by hand into a GIF89a animation
 * whose metadata — canvas, NETSCAPE loop count, per-frame geometry /
 * delay / disposal — is a pure id function the DuckDB oracle
 * re-derives arithmetically.
 *
 * Layout per media_id:
 *  - id % 8 == 7 → ASCII junk: no rows;
 *  - id % 8 == 3 → built whole then cut 9 bytes into the LAST
 *                  frame's data chain: the walker keeps the complete
 *                  frames (sub-block overrun ends the walk);
 *  - else        → canvas 40×30, NETSCAPE loop id%5, 2 + id%4 frames
 *                  of 16×12 at x=(id+f)%8, y=(id+2f)%6, delay
 *                  5+(id+f)%20 cs, disposal f%4, every frame with a
 *                  LOCAL color table (the encoder's), no GCT.
 *
 * The build ASSERTS the walker reproduces the contract on the actual
 * bytes AND that ImageIO decodes every frame of every whole
 * animation (the data is real, not structural filler).
 *
 * Usage: Test/runMain graft.tools.GifAnimFixture [outFile] [rows]
 * (default fixtures/gifanim.parquet, 120 rows)
 */
object GifAnimFixture {

  val CanvasW = 40
  val CanvasH = 30
  val FrameW = 16
  val FrameH = 12

  def nFrames(id: Long): Int = 2 + (id % 4).toInt
  def loopCount(id: Long): Int = (id % 5).toInt
  def frameX(id: Long, f: Int): Int = ((id + f) % 8).toInt
  def frameY(id: Long, f: Int): Int = ((id + 2 * f) % 6).toInt
  def delayCs(id: Long, f: Int): Int = 5 + ((id + f) % 20).toInt
  def disposal(f: Int): Int = f % 4

  /** Deterministic frame pixels: 4×4 cells of avalanche-scrambled
   * gray (the image fixtures' pattern). INDEXED with an exact
   * 256-gray palette so the GIF encode is LOSSLESS — ImageIO's GIF
   * writer quantizes+dithers direct-color input, which would break
   * the q_m42 raw-pixel ground truth by a few grid cells. */
  private def frameImage(id: Long, f: Int): java.awt.image.BufferedImage = {
    val grays = Array.tabulate[Byte](256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val img = new java.awt.image.BufferedImage(FrameW, FrameH,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until FrameH; x <- 0 until FrameW) {
      var h = (id * 131 + f) * 1000003L + (y / 4) * 101L + (x / 4) * 13L
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h ^= h >>> 31
      val v = ((h & 0x7fffffffL) % 251).toInt
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  /** Extract (colorTable, interlaced, lzwMinCode ++ data sub-blocks
   * incl. the 0 terminator) from an ImageIO single-frame GIF encode.
   * The interlace flag MUST travel with the data: this JDK's GIF
   * writer emits interlaced rasters by default, so the reassembled
   * animation's descriptors carry the bit and the q_m42 pixel walk
   * exercises the interlace reorder for real. */
  private def encodedFrame(id: Long, f: Int): (Array[Byte], Boolean, Array[Byte]) = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(frameImage(id, f), "gif", bos)
    val b = bos.toByteArray
    def u8(p: Int) = b(p) & 0xff
    val packed = u8(10)
    require((packed & 0x80) != 0, s"id=$id f=$f: encoder wrote no GCT")
    val gctLen = 3 << ((packed & 7) + 1)
    val gct = java.util.Arrays.copyOfRange(b, 13, 13 + gctLen)
    var p = 13 + gctLen
    while (p < b.length && u8(p) != 0x2C) {
      require(u8(p) == 0x21, s"id=$id f=$f: unexpected block ${u8(p)}")
      p += 2
      while (u8(p) != 0) p += 1 + u8(p)
      p += 1
    }
    require(u8(p) == 0x2C, s"id=$id f=$f: no image descriptor")
    val ipacked = u8(p + 9)
    require((ipacked & 0x80) == 0, s"id=$id f=$f: encoder wrote an LCT")
    var q = p + 10 + 1 // descriptor + LZW min-code byte
    while (q < b.length && u8(q) != 0) q += 1 + u8(q)
    (gct, (ipacked & 0x40) != 0,
      java.util.Arrays.copyOfRange(b, p + 10, q + 1))
  }

  /** Whether this JDK's GIF writer interlaces (pinned at build so
   * the oracle's `interlaced` column has one truthful constant). */
  lazy val encoderInterlaces: Boolean = encodedFrame(0L, 0)._2

  def gif(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def le16(v: Int): Unit = { u8(v); u8(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(CanvasW); le16(CanvasH)
    u8(0x00); u8(0); u8(0) // no GCT
    // NETSCAPE loop extension
    out.write(Array[Byte](0x21, 0xFF.toByte, 11))
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    u8(3); u8(1); le16(loopCount(id)); u8(0)
    (0 until nFrames(id)).foreach { f =>
      val (gct, interlaced, data) = encodedFrame(id, f)
      val sizeBits = (31 - Integer.numberOfLeadingZeros(gct.length / 3)) - 1
      // GCE
      out.write(Array[Byte](0x21, 0xF9.toByte, 4))
      u8(disposal(f) << 2); le16(delayCs(id, f)); u8(0); u8(0)
      // image descriptor with a LOCAL color table; the interlace bit
      // mirrors how the encoder actually laid the rows out
      u8(0x2C)
      le16(frameX(id, f)); le16(frameY(id, f)); le16(FrameW); le16(FrameH)
      u8(0x80 | (if (interlaced) 0x40 else 0) | sizeBits)
      out.write(gct)
      out.write(data)
    }
    u8(0x3B)
    out.toByteArray
  }

  /** INDEPENDENT composited-frame ground truth (round 18): the raw
   * pre-encode frame images composited per the disposal rules
   * (black initial canvas; 2 = clear the rect, 3 = restore the
   * pre-frame canvas), each render moment dHashed — what the
   * engine's LZW decode + compositing must reproduce from the GIF
   * BYTES (the GIF encode is lossless here: every frame has ≤ 256
   * distinct grays, so the palette round-trip preserves pixels
   * exactly). */
  def expectedHashes(id: Long): Seq[(Int, String)] = {
    val canvas = new Array[Int](CanvasW * CanvasH)
    var saved: Array[Int] = null
    (0 until nFrames(id)).map { f =>
      if (disposal(f) == 3) saved = canvas.clone()
      val img = frameImage(id, f)
      for (y <- 0 until FrameH; x <- 0 until FrameW) {
        val cx = frameX(id, f) + x
        val cy = frameY(id, f) + y
        if (cx < CanvasW && cy < CanvasH)
          canvas(cy * CanvasW + cx) = img.getRGB(x, y) & 0xFFFFFF
      }
      val shot = new java.awt.image.BufferedImage(CanvasW, CanvasH,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      shot.setRGB(0, 0, CanvasW, CanvasH, canvas, 0, CanvasW)
      val hex = graft.ops.ImageHash.bandsHex(
        graft.ops.ImageHash.dhashOfImage(shot))
      disposal(f) match {
        case 2 =>
          for (y <- 0 until FrameH; x <- 0 until FrameW) {
            val cx = frameX(id, f) + x
            val cy = frameY(id, f) + y
            if (cx < CanvasW && cy < CanvasH) canvas(cy * CanvasW + cx) = 0
          }
        case 3 => if (saved != null) System.arraycopy(saved, 0, canvas, 0, canvas.length)
        case _ => ()
      }
      (f, hex)
    }
  }

  /** The q_m42 ground-truth rows for one id: every frame of a whole
   * animation, the kept frames of the truncated class, none for
   * junk. */
  def expectedHashRows(id: Long): Seq[(Long, Int, String)] =
    if (id % 8 == 7) Nil
    else {
      val keep = if (id % 8 == 3) nFrames(id) - 1 else nFrames(id)
      expectedHashes(id).take(keep).map { case (f, hx) => (id, f, hx) }
    }

  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 7) ("image/gif", s"junk, no gif here $id".getBytes("US-ASCII"))
    else if (id % 8 == 3) {
      val whole = gif(id)
      ("image/gif", java.util.Arrays.copyOf(whole, whole.length - 9))
    } else ("image/gif", gif(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/gifanim.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(120)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("gifanim-fixture")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val data = (0L until rows.toLong).map { id =>
      val (mime, bytes) = row(id)
      // build-time assertion: the walker reproduces the contract
      val got = graft.ops.Multimodal.gifAnim(bytes)
      if (id % 8 == 7) require(got.isEmpty, s"id=$id junk parsed")
      else {
        val (cw, ch, loop, frames) = got.get
        require(cw == CanvasW && ch == CanvasH && loop == loopCount(id),
          s"id=$id file fields")
        val expectN = if (id % 8 == 3) nFrames(id) - 1 else nFrames(id)
        require(frames.size == expectN, s"id=$id frames ${frames.size} != $expectN")
        frames.foreach { fr =>
          require(fr.x == frameX(id, fr.idx) && fr.y == frameY(id, fr.idx) &&
            fr.w == FrameW && fr.h == FrameH &&
            fr.delayCs == delayCs(id, fr.idx) &&
            fr.disposal == disposal(fr.idx) && fr.hasLct &&
            fr.interlaced == encoderInterlaces,
            s"id=$id frame ${fr.idx} fields: $fr")
        }
        if (id % 8 != 3) {
          // the data is REAL: ImageIO decodes every animation frame
          val decoded = graft.ops.Multimodal.MediaCodec.decodeGifFrames(bytes)
          require(decoded.size == nFrames(id),
            s"id=$id ImageIO decoded ${decoded.size} frames")
        }
        // round 18: the engine's LZW decode + compositing must land
        // on the independently-composited raw-pixel ground truth
        val gotHashes = graft.ops.Multimodal.gifFrameHashes(bytes)
        val wantHashes = expectedHashRows(id).map { case (_, f, hx) => (f, hx) }
        require(gotHashes == wantHashes,
          s"id=$id frame hashes: got $gotHashes want $wantHashes")
      }
      (id, mime, bytes)
    }
    FixtureIo.writeSingleParquet(
      data.toDF("media_id", "mime_type", "media"), out, rows.toLong)
    val hashOut = args.lift(2).getOrElse("fixtures/gifhash.parquet")
    val hashRows = (0L until rows.toLong).flatMap(expectedHashRows)
    FixtureIo.writeSingleParquet(
      hashRows.toDF("media_id", "frame_idx", "dhash_hex"),
      hashOut, hashRows.size.toLong)
    spark.stop()
  }
}
