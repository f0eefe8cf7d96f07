package graft.tools

/**
 * Deterministic Ogg Vorbis RE-ENCODE fixture for the q_m44 pair
 * face — the Vorbis cell of the lossy-codec audio dedup family,
 * built exactly like [[Mp3DupFixture]] (and sharing its level-coded
 * multi-tone signal family so tone placement stays derived from the
 * fingerprint's own band edges): per group g = id/2 the EVEN id
 * ships the signal as 16-bit WAV, the ODD id as a
 * [[VorbisEncoder]] encode of the SAME PCM. Group g%8==7 is junk on
 * both ids.
 *
 * The build ASSERTS the pair contract on the actual bytes: every
 * surviving (2g, 2g+1) pair is recovered by the codec-grade face
 * (Hamming ≤ 7 over the 8×16-bit banded join) and NO cross-group
 * pair appears.
 *
 * Usage: Test/runMain graft.tools.VorbisDupFixture [outFile] [rows]
 * (default fixtures/vorbisdup.parquet, 60 rows)
 */
object VorbisDupFixture {

  val SampleRate = Mp3DupFixture.SampleRate
  val NSamples = Mp3DupFixture.NSamples

  def row(id: Long): (String, Array[Byte]) = {
    val g = id / 2
    if (g % 8 == 7)
      (if (id % 2 == 0) "audio/wav" else "audio/ogg",
        s"junk, not audio $id".getBytes("US-ASCII"))
    else if (id % 2 == 0) ("audio/wav", Mp3DupFixture.wav(Mp3DupFixture.basePcm(g)))
    else if (g % 3 == 1)
      // every third group re-encodes through the block-SWITCHED
      // encoder (256/2048 — the real-web stream shape), so the
      // committed pair face exercises the asymmetric lapped windows
      ("audio/ogg", VorbisEncoder.encodeSwitched(Mp3DupFixture.basePcm(g), SampleRate))
    else ("audio/ogg", VorbisEncoder.encode(Mp3DupFixture.basePcm(g), SampleRate))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/vorbisdup.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(60)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("vorbisdup-fixture")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val data = (0L until rows.toLong).map { id =>
      val (mime, bytes) = row(id)
      (id, mime, bytes)
    }
    // build-time pair-contract assertions on the actual bytes
    val sigs = data.map { case (id, _, bytes) =>
      id -> graft.ops.AudioFp.signature(bytes)
    }.toMap
    val nb = graft.ops.AudioFp.SigBands
    val groups = (0L until rows.toLong / 2).filter(_ % 8 != 7)
    groups.foreach { g =>
      val a = sigs(2 * g).getOrElse(sys.error(s"group $g wav has no signature"))
      val b = sigs(2 * g + 1).getOrElse(sys.error(s"group $g vorbis has no signature"))
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
    // the relational face recovers exactly the twin pairs
    val pairs = graft.ops.AudioFp.nearDupPairsCodec(
      graft.ops.AudioFp.fingerprintTable(spark,
        data.toDF("media_id", "mime_type", "media")))
      .select("media_id_a", "media_id_b")
      .as[(Long, Long)].collect().toSet
    val want = groups.map(g => (2 * g, 2 * g + 1)).toSet
    require(pairs == want, s"pair face: got $pairs want $want")
    FixtureIo.writeSingleParquet(
      data.toDF("media_id", "mime_type", "media"), out, rows.toLong)
    spark.stop()
  }
}
