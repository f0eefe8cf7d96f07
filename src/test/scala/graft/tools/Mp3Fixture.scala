package graft.tools

/**
 * Deterministic MP3 (MPEG-1 Layer III) fixture: an ID3v2 tag of
 * varying syncsafe size followed by back-to-back audio frames with
 * REAL headers — sync word, version/layer bits, bitrate and
 * samplerate indexes chosen so the public frame-length formula
 * (144000·kbps/rate, 48 kHz → no padding) gives exact uniform frames.
 * Exercises [[graft.ops.Multimodal.AvHeaders.mp3Frames]] against true
 * bytes; the DuckDB oracle re-derives every frame coordinate from the
 * tag's syncsafe size field and the FIRST header's bitrate/samplerate
 * fields via the same published table.
 *
 * Per media_id:
 *  - id % 8 == 3 → ID3v2 tag only: no frames, NO rows.
 *  - id % 8 == 7 → junk: nothing parses.
 *  - otherwise   → tag size field = 20 + id%50 (tag total 30..79
 *                  bytes), nf = 2 + id%5 frames, bitrate index
 *                  9 + id%3 (128/160/192 kbps), samplerate 48000
 *                  (index 1) → frame size S = 3·kbps exactly
 *                  (384/480/576), no padding; mono when id is even.
 *
 * Usage: Test/runMain graft.tools.Mp3Fixture [outFile] [rows]
 * (default fixtures/mp3.parquet, 500 rows)
 */
object Mp3Fixture {

  def nFrames(id: Long): Int = 2 + (id % 5).toInt
  def kbps(id: Long): Int = Seq(128, 160, 192)((id % 3).toInt)
  def frameSize(id: Long): Int = 3 * kbps(id) // 144000 * kbps / 48000
  def tagPayload(id: Long): Int = 20 + (id % 50).toInt
  def mono(id: Long): Boolean = id % 2 == 0

  private def id3(id: Long): Array[Byte] = {
    val sz = tagPayload(id) // < 128: fits the last syncsafe byte
    "ID3".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0, 0, 0, sz.toByte) ++
      Array.tabulate[Byte](sz)(j => ((id + j) & 0x3f).toByte)
  }

  private def frame(id: Long, f: Int): Array[Byte] = {
    val s = frameSize(id)
    val brIdx = 9 + (id % 3).toInt
    val b2 = ((brIdx << 4) | (1 << 2) | 0).toByte // samplerate idx 1, no pad
    val b3 = ((if (mono(id)) 3 else 0) << 6).toByte
    val body = Array.tabulate[Byte](s - 4)(j => ((id * 13 + f * 7 + j) & 0x7f).toByte)
    Array[Byte](0xff.toByte, 0xfb.toByte, b2, b3) ++ body
  }

  def mp3(id: Long): Array[Byte] =
    id3(id) ++ (0 until nFrames(id)).flatMap(f => frame(id, f)).toArray

  /** (declared mime, actual bytes) — mime lies on the broken rows. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("audio/mpeg", id3(id))
    else if (id % 8 == 7) ("application/octet-stream", AvFixture.junk(id))
    else ("audio/mpeg", mp3(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/mp3.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("mp3-fixture")
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
