package graft.tools

/**
 * Deterministic MP3 RE-ENCODE fixture for the q_m43 pair face: per
 * group g = id/2, a three-sinusoid + broadband 32 kHz mono signal
 * ([[AudioDupFixture]]'s family, longer: N ≡ −480 mod 1152 so the
 * MP3 roundtrip returns exactly N samples); the EVEN id ships it as
 * 16-bit WAV, the ODD id as an [[Mp3Encoder]] encode of the SAME
 * PCM — the lossy-codec duplicate class a web audio corpus is full
 * of. Group g%8==7 is junk on both ids.
 *
 * The build ASSERTS the pair contract on the actual bytes: every
 * surviving (2g, 2g+1) pair is recovered by the codec-grade face
 * (Hamming ≤ 7 over the 8×16-bit banded join) and NO cross-group
 * pair appears — changes to the fingerprint, the encoder or the
 * decoder fail the build loudly, never skew the committed fixture.
 *
 * Usage: Test/runMain graft.tools.Mp3DupFixture [outFile] [rows]
 * (default fixtures/mp3dup.parquet, 60 rows)
 */
object Mp3DupFixture {

  val SampleRate = 32000
  // 24·1152 − 480: decode returns exactly this, AND each of the
  // 128-bit fingerprint's 8 time-eighths (3396 samples) holds 4
  // whole frames after the definitional first-hop skip (the r18
  // 12192-sample signals fall under the widened 12288 minimum)
  val NSamples = 27168

  private def prn(g: Long, t: Int): Double = {
    var h = g * 0x9E3779B97F4A7C15L + t * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^= h >>> 31
    (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /** The fingerprint's 17 band CENTER frequencies, derived from the
   * fingerprint's OWN edge table so the tone placement can never
   * drift off the bands it is designed to dominate. */
  private val bandCenterHz: Array[Double] = {
    val edges = graft.ops.AudioFp.BandEdges
    Array.tabulate(17)(b =>
      math.sqrt(edges(b).toDouble * edges(b + 1)) * SampleRate / 1024.0)
  }

  /** Per-group 16-bit comparison PROFILE (bit b = "band b louder
   * than band b+1"): a deterministic greedy codebook with pairwise
   * Hamming distance ≥ 3 and same-direction runs ≤ 3 (so four
   * amplitude levels can realize the profile). Distance ≥ 3 per
   * profile bit → signature distance ≥ 24 across groups (the
   * signals are stationary, so each profile bit repeats in all
   * eight time-eighths), comfortably past the codec-grade ≤ 7
   * gate; the build asserts it on actual bytes. */
  lazy val profiles: Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var h = 0x632BE59BD9B4E019L
    def next(): Int = {
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      h ^= h >>> 31
      h += 0x9E3779B97F4A7C15L
      (h & 0xFFFF).toInt
    }
    def runsOk(p: Int): Boolean = {
      var run = 1
      var b = 1
      var ok = true
      while (b < 16) {
        if (((p >> b) & 1) == ((p >> (b - 1)) & 1)) { run += 1; if (run > 3) ok = false }
        else run = 1
        b += 1
      }
      ok
    }
    while (out.size < 64) {
      val c = next()
      if (runsOk(c) && out.forall(o => Integer.bitCount(o ^ c) >= 3)) out += c
    }
    out.toArray
  }

  /** Realize a comparison profile as 17 band levels in {0..3}: a
   * set bit b needs lv(b) > lv(b+1), a clear bit the reverse.
   * Backward-feasibility DP, then a forward walk taking the
   * smallest-step feasible move (runs ≤ 3 make the DP always
   * succeed within four levels). */
  def levels(g: Long): Array[Int] = {
    val p = profiles((g % profiles.length).toInt)
    val feasible = Array.ofDim[Boolean](17, 4)
    for (l <- 0 until 4) feasible(16)(l) = true
    for (b <- 15 to 0 by -1; l <- 0 until 4) {
      val down = ((p >> b) & 1) == 1
      feasible(b)(l) = (0 until 4).exists(n =>
        (if (down) n < l else n > l) && feasible(b + 1)(n))
    }
    val out = new Array[Int](17)
    out(0) = (0 until 4).find(feasible(0)(_))
      .getOrElse(sys.error(s"profile $p unrealizable"))
    for (b <- 0 until 16) {
      val down = ((p >> b) & 1) == 1
      val cands = (0 until 4).filter(n =>
        (if (down) n < out(b) else n > out(b)) && feasible(b + 1)(n))
      out(b + 1) = if (down) cands.max else cands.min // smallest step
    }
    out
  }

  private val amp = Array(0.02, 0.05, 0.12, 0.30)

  /** Stationary level-coded multi-tone + a small broadband floor —
   * designed so the quarter spectral-shape fingerprint is decisive
   * at every bit (≥ ~7 dB margins) and distinct across groups. */
  def signal(g: Long, t: Int): Double = {
    val lv = levels(g)
    var acc = 0.01 * prn(g, t)
    var b = 0
    while (b < 17) {
      acc += amp(lv(b)) *
        math.sin(2 * math.Pi * bandCenterHz(b) * t / SampleRate + 0.37 * b + (g % 7))
      b += 1
    }
    acc * 0.55
  }

  def basePcm(g: Long): Array[Int] =
    Array.tabulate(NSamples)(t => (signal(g, t) * 32000).toInt)

  /** Canonical 44-byte-header 16-bit mono WAV at 32 kHz. */
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
    else if (id % 2 == 0) ("audio/wav", wav(basePcm(g)))
    else ("audio/mpeg", Mp3Encoder.encode(basePcm(g), SampleRate))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/mp3dup.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(60)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("mp3dup-fixture")
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
    val groups = (0L until rows.toLong / 2).filter(_ % 8 != 7)
    val nb = graft.ops.AudioFp.SigBands
    groups.foreach { g =>
      val a = sigs(2 * g).getOrElse(sys.error(s"group $g wav has no signature"))
      val b = sigs(2 * g + 1).getOrElse(sys.error(s"group $g mp3 has no signature"))
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
