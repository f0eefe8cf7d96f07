package graft.tools

import FlacEncoder._

/**
 * Deterministic REAL-FLAC fixture for the q_m36 PCM-decode face —
 * unlike `fixtures/flac.parquet` (sync-scan frame LOCATORS over
 * fill-byte stubs), every blob here is a fully decodable RFC 9639
 * stream produced by [[FlacEncoder]], whose source PCM is a pure
 * function of (media_id, interleaved index) so the DuckDB oracle
 * re-derives sample sums arithmetically while the engine runs the
 * actual decoder ([[graft.ops.Flac]]); STREAMINFO's MD5 closes the
 * loop (md5_ok pinned TRUE).
 *
 * Classes by media_id % 6 (n = 600 + id%5 * 37 samples, block 256,
 * 16 kHz, 16-bit):
 *  - 0 → mono CONSTANT signal, CONSTANT subframes;
 *  - 1 → mono noise, VERBATIM subframes;
 *  - 2 → mono quadratic signal, FIXED(2) (even id) or 3-tap LPC
 *        (odd id), rice method id%2, partition order 1;
 *  - 3 → stereo, MID/SIDE decorrelation, FIXED(3);
 *  - 4 → stereo, LEFT/SIDE, FIXED(1) with ESCAPE partitions;
 *  - 5 → ASCII junk: no row.
 *
 * Usage: Test/runMain graft.tools.FlacPcmFixture [outFile] [rows]
 * (default fixtures/flacpcm.parquet, 60 rows)
 */
object FlacPcmFixture {

  def nSamples(id: Long): Int = 600 + (id % 5).toInt * 37

  /** Interleaved sample i of shard id — the SQL-portable contract
   * (all moduli over non-negative operands). */
  def sample(id: Long, i: Int): Int = (id % 6) match {
    case 0 => ((id * 37) % 8192).toInt - 4096
    case 1 => (((id + 7) * 31 + i * 13 + ((i.toLong * i) % 1009) * 7) % 8192).toInt - 4096
    case 2 => (((i.toLong * i) + id * 11) % 4001).toInt - 2000
    case 3 =>
      if (i % 2 == 0) (((i / 2) * 29 + id * 13) % 6000).toInt - 3000
      else (((i / 2) * 23 + id * 17) % 6000).toInt - 3000
    case _ =>
      if (i % 2 == 0) (((i / 2) * 41 + id * 7) % 5000).toInt - 2500
      else (((i / 2) * 43 + id * 5) % 5000).toInt - 2500
  }

  def channels(id: Long): Int = if (id % 6 >= 3 && id % 6 <= 4) 2 else 1

  def plan(id: Long): FramePlan = (id % 6) match {
    case 0 => FramePlan(Constant, 0, 0, 0)
    case 1 => FramePlan(Verbatim, 0, 0, 0)
    case 2 =>
      val kind = if (id % 2 == 0) Fixed(2)
      else Lpc(Array(3 << 8, -(3 << 7), 1 << 6), precision = 12, shift = 8)
      FramePlan(kind, 0, (id % 2).toInt, 1)
    case 3 => FramePlan(Fixed(3), 10, 0, 0)
    case _ => FramePlan(Fixed(1), 8, 0, 1, escape = true)
  }

  def row(id: Long): (String, Array[Byte]) =
    if (id % 6 == 5)
      ("audio/flac", s"junk, not a flac stream $id"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    else {
      val ch = channels(id)
      val pcm = Array.tabulate(nSamples(id) * ch)(i => sample(id, i))
      ("audio/flac", FlacEncoder.encode(pcm, ch, 16000, 256, Seq(plan(id))))
    }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/flacpcm.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(60)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("flacpcm-fixture")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val data = (0L until rows.toLong).map { id =>
      val (mime, bytes) = row(id)
      // build-time assertion: the decoder round-trips the contract
      if (id % 6 != 5) {
        val p = graft.ops.Flac.decode(bytes).getOrElse(
          sys.error(s"id=$id does not decode"))
        require(p.md5Ok, s"id=$id md5 mismatch")
        require(p.samples.toSeq ==
          (0 until nSamples(id) * channels(id)).map(sample(id, _)),
          s"id=$id pcm mismatch")
      } else require(graft.ops.Flac.decode(bytes).isEmpty, s"id=$id junk decoded")
      (id, mime, bytes)
    }
    FixtureIo.writeSingleParquet(
      data.toDF("media_id", "mime_type", "media"), out, rows.toLong)
    spark.stop()
  }
}
