package graft.tools

/**
 * Deterministic ISO-BMFF (MP4) fixture: real box structures —
 * `ftyp` + a variable-length `free` box (exercises the box walk, like
 * AvFixture's LIST chunk) + `moov(mvhd + trak(tkhd))` — plus broken
 * rows, written as ONE parquet file so Spark and the DuckDB oracle
 * read identical blobs. The video-container companion to
 * [[AvFixture]].
 *
 * Layout per media_id (the oracle's offset arithmetic relies on this):
 *  - id % 8 == 3 → `ftyp` box only (a moov-at-end file cut
 *                  mid-transfer): format parses as mp4, all fields
 *                  NULL.
 *  - id % 8 == 7 → junk bytes, no box signature: nothing parses.
 *  - otherwise   → ftyp(16) + free(8 + 3*(id%5)) + moov, so the moov
 *                  offset d0 = 24 + 3*(id%5). mvhd is VERSION 1
 *                  (64-bit times/duration) when id % 4 == 1, else
 *                  version 0 — both versions exercised end to end.
 *                  timescale = 1000*(1 + id%3),
 *                  duration  = (id*977) % 1000000 (in timescale units),
 *                  width     = 160 + (id*7) % 1760,
 *                  height    = 120 + (id*13) % 960 (16.16 fixed-point
 *                  in tkhd, integer part reported).
 *
 * Usage: Test/runMain graft.tools.Mp4Fixture [outFile] [rows]
 * (default fixtures/mp4.parquet, 500 rows)
 */
object Mp4Fixture {

  def timescale(id: Long): Int = 1000 * (1 + (id % 3).toInt)
  def duration(id: Long): Long = id * 977 % 1000000
  def width(id: Long): Int = 160 + (id * 7 % 1760).toInt
  def height(id: Long): Int = 120 + (id * 13 % 960).toInt
  def mvhdV1(id: Long): Boolean = id % 4 == 1
  def freePad(id: Long): Int = 3 * (id % 5).toInt

  private def be16(v: Int): Array[Byte] = Array[Byte]((v >>> 8).toByte, v.toByte)
  private def be32(v: Long): Array[Byte] =
    Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xffffffffL)
  private def box(tpe: String, payload: Array[Byte]): Array[Byte] =
    be32(payload.length + 8L) ++ tpe.getBytes("US-ASCII") ++ payload

  def ftyp(): Array[Byte] =
    box("ftyp", "isom".getBytes("US-ASCII") ++ be32(512))

  private def mvhd(id: Long): Array[Byte] = {
    val ts = timescale(id); val dur = duration(id)
    val tail = be32(0x00010000L) ++ be16(0x0100) ++ new Array[Byte](2 + 8) ++ // rate, volume, reserved
      matrix() ++ new Array[Byte](24) ++ be32(2) // pre_defined, next_track_ID
    if (mvhdV1(id))
      box("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
        be32(ts) ++ be64(dur) ++ tail)
    else
      box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
        be32(ts) ++ be32(dur) ++ tail)
  }

  private def matrix(): Array[Byte] =
    be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L)

  private def tkhd(id: Long): Array[Byte] =
    box("tkhd", Array[Byte](0, 0, 0, 7) ++ // version 0, flags: enabled|in-movie|in-preview
      be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(duration(id)) ++ // times, track_ID, reserved, duration
      new Array[Byte](8) ++ be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++ // reserved, layer, alt, volume, reserved
      matrix() ++
      be32(width(id).toLong << 16) ++ be32(height(id).toLong << 16))

  def mp4(id: Long): Array[Byte] = {
    val free = box("free", new Array[Byte](freePad(id)))
    val moov = box("moov", mvhd(id) ++ box("trak", tkhd(id)))
    ftyp() ++ free ++ moov
  }

  def truncated(): Array[Byte] = ftyp()

  def junk(id: Long): Array[Byte] = {
    val r = new scala.util.Random(id + 11)
    val b = new Array[Byte](48)
    r.nextBytes(b)
    b(4) = 0 // never an ftyp at offset 4
    b
  }

  /** (declared mime, actual bytes) — mime lies on the broken rows,
   * like [[AvFixture.row]]. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("video/mp4", truncated())
    else if (id % 8 == 7) ("application/octet-stream", junk(id))
    else ("video/mp4", mp4(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/mp4.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("mp4-fixture")
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
