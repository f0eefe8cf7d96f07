package graft.tools

import java.util.zip.CRC32

/**
 * Deterministic binary media fixture: real PNG and JPEG byte
 * structures (correct signatures, chunk CRCs, segment lengths) plus
 * deliberately unparseable rows, written as ONE parquet file so both
 * Spark and the DuckDB oracle read the identical blobs.
 *
 * Layout per media_id (the oracle's offset arithmetic relies on this):
 *  - id % 4 == 0 → PNG: signature + IHDR(width,height,8,RGB) + IEND
 *  - id % 4 == 1 → JPEG: SOI + APP0(JFIF) + SOF0 at byte 21 (1-based);
 *                  every id % 8 == 5 uses SOF2 (progressive) instead
 *  - id % 4 == 2 → JPEG with a COM segment of 10+(id%7) bytes between
 *                  APP0 and the SOF0 (exercises the segment walk)
 *  - id % 8 == 3 → truncated PNG (signature + 4 bytes, no IHDR)
 *  - id % 8 == 7 → junk bytes (no image signature at all)
 * width = 16 + (id*7) % 1000, height = 16 + (id*13) % 800.
 *
 * Usage: Test/runMain graft.tools.MediaFixture [outFile] [rows]
 * (default fixtures/media.parquet, 500 rows)
 */
object MediaFixture {

  def width(id: Long): Int = 16 + (id * 7 % 1000).toInt
  def height(id: Long): Int = 16 + (id * 13 % 800).toInt

  private def crc(parts: Array[Byte]*): Array[Byte] = {
    val c = new CRC32
    parts.foreach(c.update)
    be32(c.getValue.toInt)
  }
  private def be32(v: Int): Array[Byte] =
    Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be16(v: Int): Array[Byte] = Array[Byte]((v >>> 8).toByte, v.toByte)

  def png(w: Int, h: Int): Array[Byte] = {
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
    val ihdrType = "IHDR".getBytes("US-ASCII")
    // width, height, bit depth 8, color type 2 (truecolor), deflate,
    // adaptive filtering, no interlace
    val ihdrData = be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)
    val iendType = "IEND".getBytes("US-ASCII")
    sig ++ be32(13) ++ ihdrType ++ ihdrData ++ crc(ihdrType, ihdrData) ++
      be32(0) ++ iendType ++ crc(iendType)
  }

  def jpeg(w: Int, h: Int, comLen: Int = 0, progressive: Boolean = false): Array[Byte] = {
    val soi = Array[Byte](0xff.toByte, 0xd8.toByte)
    val app0 = Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++
      "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0) ++
      be16(1) ++ be16(1) ++ Array[Byte](0, 0)
    val com =
      if (comLen <= 0) Array.emptyByteArray
      else Array[Byte](0xff.toByte, 0xfe.toByte) ++ be16(comLen + 2) ++
        Array.fill[Byte](comLen)('c')
    val sofMarker: Byte = if (progressive) 0xc2.toByte else 0xc0.toByte
    // precision 8, dims, 3 components (id, 4:4:4 sampling, quant table)
    val sof = Array[Byte](0xff.toByte, sofMarker) ++ be16(17) ++ Array[Byte](8) ++
      be16(h) ++ be16(w) ++ Array[Byte](3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1)
    val eoi = Array[Byte](0xff.toByte, 0xd9.toByte)
    soi ++ app0 ++ com ++ sof ++ eoi
  }

  /**
   * A fully-decodable image (real pixel data, not just headers),
   * encoded by the JDK's own ImageIO writers — `format` is one of
   * png/jpg/gif/bmp. The pixel pattern is deterministic: left half
   * solid black, right half solid white — chosen so a mean-luminance
   * grid over it has exactly-known cell values even under JPEG's lossy
   * round-trip (solid regions survive quantisation).
   */
  def realImage(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, out),
      s"no ImageIO writer for format $format")
    out.toByteArray
  }

  def truncatedPng(): Array[Byte] =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n', 0, 0, 0, 13)

  def junk(id: Long): Array[Byte] = {
    val r = new scala.util.Random(id)
    val b = new Array[Byte](64)
    r.nextBytes(b)
    b(0) = 0 // never a PNG/JPEG signature
    b
  }

  /** (mime_type declared by the producer, actual bytes). The declared
   * mime intentionally disagrees with reality on the broken rows — a
   * parser must trust bytes, not labels. */
  def row(id: Long): (String, Array[Byte]) = {
    if (id % 8 == 3) ("image/png", truncatedPng())
    else if (id % 8 == 7) ("application/octet-stream", junk(id))
    else id % 4 match {
      case 0 => ("image/png", png(width(id), height(id)))
      case 1 => ("image/jpeg", jpeg(width(id), height(id), progressive = id % 8 == 5))
      case _ => ("image/jpeg", jpeg(width(id), height(id), comLen = 10 + (id % 7).toInt))
    }
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/media.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("media-fixture")
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
