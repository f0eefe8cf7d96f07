package graft.tools

/**
 * Deterministic Ogg fixture: real two-page Opus and Vorbis streams
 * (via [[AvFixture.oggOpus]]/[[AvFixture.oggVorbis]] — BOS page with
 * the codec's identification packet, EOS page whose granule position
 * encodes the duration) plus broken rows, one parquet file read
 * identically by Spark and the DuckDB oracle.
 *
 * Layout per media_id (the oracle's offset arithmetic relies on the
 * builders' fixed one-segment pages: OpusHead packet at byte 28 →
 * channels@37, pre-skip LE16@38, rate LE32@40, EOS granule LE64@53;
 * Vorbis id packet at 28 → channels@39, rate LE32@40, EOS granule
 * LE64@64):
 *  - id % 4 == 0      → Opus: rate 48000, preSkip = 312 + id%100,
 *                       durMs = (id*37) % 600000
 *  - id % 4 == 1 or 2 → Vorbis: rate = 1000*(8 + id%41),
 *                       durMs = (id*53) % 600000
 *  - id % 8 == 3      → truncated Opus (first 30 bytes: the capture
 *                       pattern alone still identifies "ogg")
 *  - id % 8 == 7      → junk bytes
 * channels = 1 + id%2 throughout.
 *
 * Usage: Test/runMain graft.tools.OggFixture [outFile] [rows]
 * (default fixtures/ogg.parquet, 500 rows)
 */
object OggFixture {

  def channels(id: Long): Int = 1 + (id % 2).toInt
  def preSkip(id: Long): Int = 312 + (id % 100).toInt
  def opusDurMs(id: Long): Long = id * 37 % 600000
  def vorbisRate(id: Long): Int = 1000 * (8 + (id % 41).toInt)
  def vorbisDurMs(id: Long): Long = id * 53 % 600000

  /** (declared mime, actual bytes) — mime lies on the broken rows. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3)
      ("audio/ogg", AvFixture.oggOpus(channels(id), 48000, opusDurMs(id)).take(30))
    else if (id % 8 == 7) ("application/octet-stream", AvFixture.junk(id))
    else if (id % 4 == 0)
      ("audio/ogg", AvFixture.oggOpus(channels(id), 48000, opusDurMs(id), preSkip(id)))
    else
      ("audio/ogg", AvFixture.oggVorbis(channels(id), vorbisRate(id), vorbisDurMs(id)))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/ogg.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("ogg-fixture")
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
