package graft.tools

/**
 * Deterministic EXIF-bearing JPEG fixture: SOI + one APP1 segment
 * carrying a real little-endian TIFF IFD0 (Make / Orientation /
 * DateTime entries, ASCII values through TIFF-relative offsets,
 * SHORT inline — the TIFF 6.0 layout) + EOI. Exercises
 * [[graft.ops.Multimodal.ImageHeaders.exifMeta]] against true bytes;
 * the DuckDB oracle re-walks the same IFD with hex arithmetic
 * (entry scan by tag, offsets dereferenced — it does NOT assume the
 * entry order).
 *
 * Per media_id:
 *  - id % 8 == 3 → SOI + EOI only: JPEG, NO EXIF (NULL columns).
 *  - id % 8 == 7 → junk: nothing parses.
 *  - otherwise   → orientation = 1 + id%8 (1..8; never the broken
 *                  classes), make = "cam" + id%10 (4 chars),
 *                  datetime = "2024:01:DD HH:MM:00" with
 *                  DD = 1 + id%27, HH = id%24, MM = id%60.
 *
 * Usage: Test/runMain graft.tools.ExifFixture [outFile] [rows]
 * (default fixtures/exif.parquet, 500 rows)
 */
object ExifFixture {

  def orientation(id: Long): Int = 1 + (id % 8).toInt
  def make(id: Long): String = "cam" + (id % 10)
  def dateTime(id: Long): String =
    f"2024:01:${1 + id % 27}%02d ${id % 24}%02d:${id % 60}%02d:00"

  private def le16(v: Int): Array[Byte] = Array[Byte](v.toByte, (v >> 8).toByte)
  private def le32(v: Long): Array[Byte] =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def be16(v: Int): Array[Byte] = Array[Byte]((v >> 8).toByte, v.toByte)

  def jpeg(id: Long): Array[Byte] = {
    val mk = (make(id) + "\u0000").getBytes("US-ASCII") // 5 bytes
    val dt = (dateTime(id) + "\u0000").getBytes("US-ASCII") // 20 bytes
    // IFD0: count + 3 entries + next-IFD pointer = 2 + 36 + 4 = 42;
    // value area directly after → Make at TIFF offset 50, DateTime at
    // 50 + mk.length
    val entries =
      le16(0x010f) ++ le16(2) ++ le32(mk.length) ++ le32(50L) ++
        le16(0x0112) ++ le16(3) ++ le32(1L) ++ le16(orientation(id)) ++ le16(0) ++
        le16(0x0132) ++ le16(2) ++ le32(dt.length) ++ le32(50L + mk.length)
    val tiff = "II".getBytes("US-ASCII") ++ le16(42) ++ le32(8L) ++ // header
      le16(3) ++ entries ++ le32(0L) ++ // IFD0
      mk ++ dt
    val app1Payload = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ tiff
    Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe1.toByte) ++
      be16(app1Payload.length + 2) ++ app1Payload ++
      Array[Byte](0xff.toByte, 0xd9.toByte)
  }

  def noExif(): Array[Byte] =
    Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte)

  /** (declared mime, actual bytes) — mime lies on the broken rows. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("image/jpeg", noExif())
    else if (id % 8 == 7) ("application/octet-stream", AvFixture.junk(id))
    else ("image/jpeg", jpeg(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/exif.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("exif-fixture")
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
