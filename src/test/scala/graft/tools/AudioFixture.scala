package graft.tools

/**
 * Deterministic audio-container fixture covering the DIRECT sample
 * decoders beyond plain PCM WAV: JDK-written AIFF (big-endian PCM,
 * 80-bit extended sample rate) and AU (BE header words), plus
 * hand-companded G.711 mu-law and A-law WAV, plus broken rows — one
 * parquet file read identically by Spark and the DuckDB oracle.
 *
 * Layout per media_id (the oracle's offset arithmetic relies on this;
 * the JDK writers emit COMM/SSND and the AU header at fixed offsets,
 * verified in MultimodalSpec):
 *  - id % 8 == 0      → AIFF (PCM16 BE; COMM at byte 12, rate as
 *                       80-bit extended at bytes 28-38)
 *  - id % 8 == 1 or 5 → AU (PCM16 BE, encoding word 3, data at 24)
 *  - id % 8 == 2      → G.711 mu-law WAV (format tag 7)
 *  - id % 8 == 6      → IMA ADPCM WAV (format tag 17) — round 19:
 *                       the class exists so q_m40 MEASURES the
 *                       fmt-17 decode path instead of leaving it an
 *                       unmeasured silent skip
 *  - id % 8 == 4      → G.711 A-law WAV (format tag 6)
 *  - id % 8 == 3      → truncated AIFF (cut inside the COMM header)
 *  - id % 8 == 7      → junk bytes (no container signature)
 * channels = 1 + id%2, rate = 8000*(1 + id%5),
 * frames = 100 + (id%7)*50.
 *
 * Usage: Test/runMain graft.tools.AudioFixture [outFile] [rows]
 * (default fixtures/audio.parquet, 500 rows)
 */
object AudioFixture {

  def channels(id: Long): Int = 1 + (id % 2).toInt
  def rate(id: Long): Int = 8000 * (1 + (id % 5).toInt)
  def frames(id: Long): Int = 100 + (id % 7).toInt * 50

  /** (declared mime, actual bytes) — mime lies on the broken rows. */
  def row(id: Long): (String, Array[Byte]) = id % 8 match {
    case 3 => ("audio/aiff", AvFixture.aiffStep(channels(id), rate(id), frames(id)).take(20))
    case 7 => ("application/octet-stream", AvFixture.junk(id))
    case 0 => ("audio/aiff", AvFixture.aiffStep(channels(id), rate(id), frames(id)))
    case 1 | 5 => ("audio/basic", AvFixture.auStep(channels(id), rate(id), frames(id)))
    case 4 => ("audio/wav", AvFixture.alawWavStep(channels(id), rate(id), frames(id)))
    case 6 => ("audio/wav", AvFixture.adpcmWavStep(channels(id), rate(id), frames(id)))
    case _ => ("audio/wav", AvFixture.ulawWavStep(channels(id), rate(id), frames(id)))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/audio.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("audio-fixture")
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
