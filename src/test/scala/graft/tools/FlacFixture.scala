package graft.tools

/**
 * Deterministic FLAC fixture: `fLaC` magic, a real STREAMINFO
 * metadata block (packed sample-rate/channels/bits/total-samples
 * fields), a VORBIS_COMMENT block of varying length (so the metadata
 * walk, not a fixed offset, finds the audio start), then audio frames
 * with real 14-bit sync-coded headers and VARIABLE sizes (so the
 * walker's sync scan, not a uniform stride, finds each boundary).
 * Frame fill bytes are 7-bit (never 0xFF), making the sync scan exact
 * — the honest simplification a codec-free locator needs, documented
 * in [[graft.ops.Multimodal.AvHeaders.flacFrames]].
 *
 * Layout per media_id (the oracle re-derives all of this):
 *  - id % 8 == 3 → magic + STREAMINFO only (last-block): no frames.
 *  - id % 8 == 7 → junk bytes: nothing parses.
 *  - otherwise → audio starts at 58 + id%20 (4 magic + 38 STREAMINFO
 *    + 4 + vcLen comment with vcLen = 12 + id%20); nf = 2 + id%5
 *    frames, frame i has size s0 + 8·i with s0 = 40 + 2·(id%10), so
 *    frame i starts at aoff + i·s0 + 8·i·(i−1)/2. STREAMINFO:
 *    sample_rate ∈ {44100, 48000, 32000} by id%3, channels 1 + id%2,
 *    16 bits, total_samples = nf·4096.
 *
 * Usage: Test/runMain graft.tools.FlacFixture [outFile] [rows]
 * (default fixtures/flac.parquet, 500 rows)
 */
object FlacFixture {

  def nFrames(id: Long): Int = 2 + (id % 5).toInt
  def frameSize0(id: Long): Int = 40 + 2 * (id % 10).toInt
  def vcLen(id: Long): Int = 12 + (id % 20).toInt
  def audioOffset(id: Long): Int = 58 + (id % 20).toInt
  def sampleRate(id: Long): Int = Seq(44100, 48000, 32000)((id % 3).toInt)
  def channels(id: Long): Int = 1 + (id % 2).toInt
  def totalSamples(id: Long): Long = nFrames(id).toLong * 4096L

  private def be24(v: Int): Array[Byte] =
    Array(((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** 34-byte STREAMINFO payload: block sizes, frame sizes, then the
   * packed 64 bits (rate 20 | channels-1 3 | bps-1 5 | total 36). */
  private def streamInfo(id: Long): Array[Byte] = {
    val packed = (sampleRate(id).toLong << 44) |
      ((channels(id) - 1).toLong << 41) | (15L << 36) | totalSamples(id)
    Array[Byte](0x10, 0, 0x10, 0) ++ // min/max blocksize 4096
      be24(frameSize0(id)) ++ be24(frameSize0(id) + 8 * (nFrames(id) - 1)) ++
      (0 until 8).map(j => ((packed >>> (56 - 8 * j)) & 0xff).toByte).toArray ++
      Array.tabulate[Byte](16)(j => ((id + j) & 0x7f).toByte) // md5 (dummy)
  }

  private def metaBlock(last: Boolean, btype: Int, payload: Array[Byte]): Array[Byte] =
    Array((((if (last) 0x80 else 0) | btype) & 0xff).toByte) ++
      be24(payload.length) ++ payload

  /** One frame: 14-bit sync (FF F8), blocksize-4096/rate-from-
   * STREAMINFO nibbles, channel/bps byte, UTF-8 frame number, 7-bit
   * fill to the contract size. */
  private def frame(id: Long, i: Int): Array[Byte] = {
    val s = frameSize0(id) + 8 * i
    val b3 = (((channels(id) - 1) << 4) | (4 << 1)).toByte // bps 16 code 100
    val head = Array[Byte](0xff.toByte, 0xf8.toByte, 0xc0.toByte, b3, i.toByte)
    head ++ Array.tabulate[Byte](s - head.length)(j => ((id * 13 + i * 7 + j) & 0x7f).toByte)
  }

  def flac(id: Long): Array[Byte] =
    "fLaC".getBytes("US-ASCII") ++
      metaBlock(last = false, 0, streamInfo(id)) ++
      metaBlock(last = true, 4,
        Array.tabulate[Byte](vcLen(id))(j => ((id * 3 + j) & 0x7f).toByte)) ++
      (0 until nFrames(id)).flatMap(i => frame(id, i)).toArray

  /** Magic + STREAMINFO only (a valid frameless file). */
  def headerOnly(id: Long): Array[Byte] =
    "fLaC".getBytes("US-ASCII") ++ metaBlock(last = true, 0, streamInfo(id))

  /** (declared mime, actual bytes) — mime lies on the broken rows. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("audio/flac", headerOnly(id))
    else if (id % 8 == 7) ("application/octet-stream", AvFixture.junk(id))
    else ("audio/flac", flac(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/flac.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("flac-fixture")
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
