package graft.tools

/**
 * Deterministic audio NEAR-DUPLICATE fixture for the q_m37 pair
 * face: per group g = id/2, a three-sinusoid 16 kHz mono signal with
 * group-specific frequencies; the EVEN id ships it as 16-bit WAV,
 * the ODD id as a FLAC re-encode of the level-changed (×0.9) and
 * lightly-perturbed signal — the re-encode + loudness + small-edit
 * class perceptual audio dedup exists for. Group g%8==7 is junk on
 * both ids (decode-tolerance rows, no pair).
 *
 * The build ASSERTS the oracle's pair contract on the actual bytes:
 * every surviving (2g, 2g+1) pair is recovered at Hamming ≤ 3 and NO
 * cross-group pair appears — a change in the fingerprint math or the
 * codecs fails the build loudly, never skews the committed fixture.
 *
 * Usage: Test/runMain graft.tools.AudioDupFixture [outFile] [rows]
 * (default fixtures/audiodup.parquet, 60 rows)
 */
object AudioDupFixture {

  val SampleRate = 16000
  // 1.54 s: each of the 128-bit fingerprint's 8 time-eighths holds
  // 3072 samples = 4 whole frames after the definitional first-hop
  // skip (the r18 6144-sample signals fall under the widened
  // signature's 12288-sample minimum)
  val NSamples = 24576

  private def freqs(g: Long): Seq[Double] =
    Seq(150.0 + 37.0 * (g % 19), 900.0 + 83.0 * (g % 13),
      2600.0 + 131.0 * (g % 11))

  /** Deterministic broadband component (splitmix64 of (g, t)) — real
   * audio is broadband; without it most fingerprint bands are silent
   * and their delta signs sit at sidelobe-noise level, unstable to
   * ANY perturbation. */
  private def prn(g: Long, t: Int): Double = {
    var h = g * 0x9E3779B97F4A7C15L + t * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^= h >>> 31
    (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /** The group's base signal, float in [-1, 1) — deliberately
   * NON-stationary (amplitude modulation + a frequency sweep: the
   * fingerprint's temporal-delta bits are signs of frame-to-frame
   * energy CHANGE, which a stationary tone pins at noise level) and
   * BROADBAND (the prn floor). */
  def signal(g: Long, t: Int): Double = {
    val Seq(f1, f2, f3) = freqs(g)
    val m1 = 1.0 + 0.8 * math.sin(2 * math.Pi * (9.0 + (g % 7)) * t / SampleRate)
    val m2 = 1.0 + 0.8 * math.sin(2 * math.Pi * (14.0 + (g % 5)) * t / SampleRate + 1.1)
    val sweep = f3 + 900.0 * t / NSamples // rising chirp
    0.23 * m1 * math.sin(2 * math.Pi * f1 * t / SampleRate) +
      0.18 * m2 * math.sin(2 * math.Pi * f2 * t / SampleRate + 0.7) +
      0.14 * math.sin(2 * math.Pi * sweep * t / SampleRate + 1.9) +
      0.10 * prn(g, t)
  }

  def basePcm(g: Long): Array[Int] =
    Array.tabulate(NSamples)(t => (signal(g, t) * 32000).toInt)

  /** The near-dup twin: level change (exactly invariant for the
   * energy-delta signs pre-quantization) + a faint extra component —
   * flips only borderline bits. */
  def twinPcm(g: Long): Array[Int] =
    Array.tabulate(NSamples) { t =>
      ((signal(g, t) * 0.9 +
        0.002 * math.sin(2 * math.Pi * (430.0 + 7 * (g % 5)) * t / SampleRate))
        * 32000).toInt
    }

  /** Canonical 44-byte-header 16-bit mono WAV. */
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
      (if (id % 2 == 0) "audio/wav" else "audio/flac",
        s"junk, not audio $id".getBytes("US-ASCII"))
    else if (id % 2 == 0) ("audio/wav", wav(basePcm(g)))
    else ("audio/flac", FlacEncoder.encode(twinPcm(g), 1, SampleRate, 1024,
      Seq(FlacEncoder.FramePlan(FlacEncoder.Fixed(2), 0, 0, 1))))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/audiodup.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(60)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("audiodup-fixture")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val data = (0L until rows.toLong).map { id =>
      val (mime, bytes) = row(id)
      (id, mime, bytes)
    }
    // build-time assertion of the oracle's exact pair contract
    val sigs = data.flatMap { case (id, _, bytes) =>
      graft.ops.AudioFp.signature(bytes).map(id -> _)
    }.toMap
    val groups = (0L until rows.toLong / 2).filter(_ % 8 != 7)
    val nb = graft.ops.AudioFp.SigBands
    groups.foreach { g =>
      require(sigs.contains(2 * g) && sigs.contains(2 * g + 1),
        s"group $g member missing a fingerprint")
      val d = (0 until nb).map(k =>
        Integer.bitCount(sigs(2 * g)(k) ^ sigs(2 * g + 1)(k))).sum
      require(d <= 3, s"group $g twin at hamming $d")
    }
    for (a <- sigs.keys; b <- sigs.keys
         if a < b && a / 2 != b / 2) {
      val d = (0 until nb).map(k =>
        Integer.bitCount(sigs(a)(k) ^ sigs(b)(k))).sum
      require(d > 3, s"cross-group pair ($a,$b) at hamming $d")
    }
    FixtureIo.writeSingleParquet(
      data.toDF("media_id", "mime_type", "media"), out, rows.toLong)
    spark.stop()
  }
}
