package graft.tools

/**
 * Deterministic MPEG-2 LSF re-encode fixture — the low-sampling-rate
 * twin of [[Mp3DupFixture]]: per group g = id/2 the EVEN id ships the
 * band-placed signal family as a 22.05 kHz WAV, the ODD id as an
 * MPEG-2 LSF Layer III encode ([[Mp3Encoder.encodeLsfMono]]) of the
 * SAME PCM — the single-granule 576-sample frame shape low-bitrate
 * real-web MP3s carry. Group g%8==7 is junk on both ids. The signal
 * family places its tones at fixed FFT BINS (rate-independent), so
 * the fingerprint's band structure is populated identically at this
 * rate.
 *
 * The build ASSERTS the pair contract on the actual bytes: every
 * surviving (2g, 2g+1) pair within the codec-grade Hamming ≤ 7 gate,
 * no cross-group pair, junk fingerprints nothing.
 *
 * Usage: Test/runMain graft.tools.Mp3LsfFixture [outFile] [rows]
 * (default fixtures/mp3lsf.parquet, 40 rows)
 */
object Mp3LsfFixture {

  val SampleRate = 22050

  /** 22.05 kHz PCM16 WAV of the group's signal. */
  def wav(pcm: Array[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    val dataLen = pcm.length * 2
    ascii("RIFF"); le32(36 + dataLen); ascii("WAVE")
    ascii("fmt "); le32(16); le16(1); le16(1); le32(SampleRate)
    le32(SampleRate * 2); le16(2); le16(16)
    ascii("data"); le32(dataLen)
    pcm.foreach(v => le16(v & 0xffff))
    out.toByteArray
  }

  def row(id: Long): (String, Array[Byte]) = {
    val g = id / 2
    if (g % 8 == 7)
      (if (id % 2 == 0) "audio/wav" else "audio/mpeg",
        s"junk, not audio $id".getBytes("US-ASCII"))
    else if (id % 2 == 0) ("audio/wav", wav(Mp3DupFixture.basePcm(g + 100)))
    else ("audio/mpeg",
      Mp3Encoder.encodeLsfMono(Mp3DupFixture.basePcm(g + 100), SampleRate))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/mp3lsf.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(40)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("mp3lsf-fixture")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val data = (0L until rows.toLong).map { id =>
      val (mime, bytes) = row(id)
      (id, mime, bytes)
    }
    val sigs = data.map { case (id, _, bytes) =>
      id -> graft.ops.AudioFp.signature(bytes)
    }.toMap
    val nb = graft.ops.AudioFp.SigBands
    val groups = (0L until rows.toLong / 2).filter(_ % 8 != 7)
    groups.foreach { g =>
      val a = sigs(2 * g).getOrElse(sys.error(s"group $g wav has no signature"))
      val b = sigs(2 * g + 1).getOrElse(sys.error(s"group $g lsf mp3 has no signature"))
      val ham = (0 until nb).map(i => Integer.bitCount(a(i) ^ b(i))).sum
      require(ham <= 7, s"group $g twin hamming $ham > 7")
    }
    for (ga <- groups; gb <- groups if ga < gb; ia <- Seq(2 * ga, 2 * ga + 1);
         ib <- Seq(2 * gb, 2 * gb + 1)) {
      val a = sigs(ia).get
      val b = sigs(ib).get
      val ham = (0 until nb).map(i => Integer.bitCount(a(i) ^ b(i))).sum
      require(ham > 7, s"cross-group $ga/$gb hamming $ham <= 7")
    }
    (0L until rows.toLong / 2).filter(_ % 8 == 7).foreach(g =>
      require(sigs(2 * g).isEmpty && sigs(2 * g + 1).isEmpty,
        s"junk group $g fingerprinted"))
    FixtureIo.writeSingleParquet(
      data.toDF("media_id", "mime_type", "media"), out, rows.toLong)
    spark.stop()
  }
}
