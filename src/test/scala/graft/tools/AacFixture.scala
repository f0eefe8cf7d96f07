package graft.tools

/**
 * Deterministic AAC/ADTS fixture: an ID3v2 tag followed by
 * back-to-back ADTS frames with REAL headers — 12-bit syncword,
 * MPEG-4 LC profile, sampling-frequency index, channel configuration,
 * and the EXPLICIT 13-bit frame length the format carries in every
 * header. Exercises
 * [[graft.ops.Multimodal.AvHeaders.adtsFrames]] against true bytes;
 * the DuckDB oracle re-derives every coordinate from the tag's
 * syncsafe size and the first header's own length bits.
 *
 * Per media_id:
 *  - id % 8 == 3 → ID3v2 tag only: no frames, NO rows.
 *  - id % 8 == 7 → junk: nothing parses.
 *  - otherwise   → tag size field = 20 + id%50, nf = 2 + id%5
 *                  frames of UNIFORM total length L = 47 + id%30
 *                  (header 7 + payload), sampling index 3 + id%3
 *                  (48000/44100/32000), channels 1 + id%2.
 *
 * Usage: Test/runMain graft.tools.AacFixture [outFile] [rows]
 * (default fixtures/aac.parquet, 500 rows)
 */
object AacFixture {

  def nFrames(id: Long): Int = 2 + (id % 5).toInt
  def frameLen(id: Long): Int = 47 + (id % 30).toInt
  def sfIdx(id: Long): Int = 3 + (id % 3).toInt // 48000 / 44100 / 32000
  def channels(id: Long): Int = 1 + (id % 2).toInt
  def tagPayload(id: Long): Int = 20 + (id % 50).toInt

  private def id3(id: Long): Array[Byte] = {
    val sz = tagPayload(id)
    "ID3".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0, 0, 0, sz.toByte) ++
      Array.tabulate[Byte](sz)(j => ((id + j) & 0x3f).toByte)
  }

  private def frame(id: Long, f: Int): Array[Byte] = {
    val l = frameLen(id)
    val cc = channels(id)
    val hdr = Array[Byte](
      0xff.toByte,
      0xf1.toByte, // MPEG-4, layer 00, no CRC
      ((1 << 6) | (sfIdx(id) << 2) | (cc >> 2)).toByte, // LC profile
      (((cc & 3) << 6) | ((l >> 11) & 3)).toByte,
      ((l >> 3) & 0xff).toByte,
      (((l & 7) << 5) | 0x1f).toByte, // + buffer fullness high bits
      0xfc.toByte) // fullness low + 0 extra raw blocks
    hdr ++ Array.tabulate[Byte](l - 7)(j => ((id * 11 + f * 3 + j) & 0x7f).toByte)
  }

  def aac(id: Long): Array[Byte] =
    id3(id) ++ (0 until nFrames(id)).flatMap(f => frame(id, f)).toArray

  /** (declared mime, actual bytes) — mime lies on the broken rows. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("audio/aac", id3(id))
    else if (id % 8 == 7) ("application/octet-stream", AvFixture.junk(id))
    else ("audio/aac", aac(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/aac.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("aac-fixture")
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
