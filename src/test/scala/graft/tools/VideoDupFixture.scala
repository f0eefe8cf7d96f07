package graft.tools

/**
 * Deterministic video RE-MUX fixture for the q_m38 pair face: per
 * group g = id/2, a short MJPEG stream whose frames are
 * avalanche-scrambled cell-grid JPEGs (distinct across groups and
 * frames by construction); the EVEN id ships it as an MP4
 * ([[MjpegMp4Fixture.mp4FromJpegs]]), the ODD id as an AVI of the
 * SAME JPEG bytes ([[AviFixture.aviFromJpegs]]) — the re-containered
 * duplicate a video corpus is full of. Group g%8==7 is junk on both
 * ids.
 *
 * Group g%8==6 (round 18) is the PAYLOAD-path class: an AVC (H.264)
 * stream whose pixels nothing in this container can decode — the
 * even id ships [[AvcMp4Fixture.mp4]](g) (avc1 sample entry, AVCC
 * samples), the odd id an 'H264' AVI carrying the byte-identical
 * sample payloads ([[AvcMp4Fixture.samplePayloads]] →
 * [[AviFixture.aviFromChunks]]). These twins must be caught by the
 * zero-decode payload-digest fallback, and their signature rows must
 * say sig_kind='payload'.
 *
 * Group g%8==5 (round 20) is the CROSS-FRAMING class: the same NAL
 * units as AVCC length prefixes in an MP4 (even id) vs Annex-B
 * start codes in an MPEG-TS segment (odd id,
 * [[AvcMp4Fixture.samplePayloadsAnnexB]] →
 * [[TsFixture.tsFromSamples]]) — the shape a real `ffmpeg -c copy`
 * TS↔MP4 re-container produces; these twins pair ONLY through the
 * NAL-framing normalization in the payload digest.
 *
 * The build ASSERTS the pair contract on the actual bytes: both
 * members produce the identical signature (per-frame dHash sequence
 * for the MJPEG classes, raw-span digest for the AVC class — which
 * must ALSO pixel-decode zero frames), and no two groups share one —
 * so the committed fixture can never drift from the q_m38 oracle's
 * id arithmetic.
 *
 * Usage: Test/runMain graft.tools.VideoDupFixture [outFile] [rows]
 * (default fixtures/videodup.parquet, 60 rows)
 */
object VideoDupFixture {

  val W = 36
  val H = 32

  def nFrames(g: Long): Int = 2 + (g % 4).toInt

  /** 4×4-constant cell value — the same splitmix avalanche the image
   * fixture uses, seeded by (group, frame). */
  def cell(g: Long, f: Int, gx: Int, gy: Int): Int = {
    var h = (g * 97 + f) * 1000003L + gy * 101L + gx * 13L
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^= h >>> 31
    ((h & 0x7fffffffL) % 251).toInt
  }

  def jpegFrame(g: Long, f: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(W, H,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until H; x <- 0 until W) {
      val v = cell(g, f, x / 4, y / 4)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    bos.toByteArray
  }

  def frames(g: Long): Seq[Array[Byte]] =
    (0 until nFrames(g)).map(f => jpegFrame(g, f))

  def row(id: Long): (String, Array[Byte]) = {
    val g = id / 2
    if (g % 8 == 7)
      (if (id % 2 == 0) "video/mp4" else "video/x-msvideo",
        s"junk, not a video $id".getBytes("US-ASCII"))
    else if (g % 8 == 6) {
      // AVC class: identical codec payload bytes behind avc1-MP4 and
      // 'H264'-AVI framing — visible only to the payload-digest path
      if (id % 2 == 0) ("video/mp4", AvcMp4Fixture.mp4(g))
      else ("video/x-msvideo", AviFixture.aviFromChunks(
        AvcMp4Fixture.samplePayloads(g), W, H, 33333, "H264")._1)
    } else if (g % 8 == 5) {
      // CROSS-FRAMING class (round 20): the SAME NAL units as AVCC
      // length prefixes in an MP4 vs Annex-B start codes in a TS —
      // what a real `ffmpeg -c copy` re-container produces; the
      // twins pair ONLY through NAL-framing normalization
      if (id % 2 == 0) ("video/mp4", AvcMp4Fixture.mp4(g))
      else ("video/mp2t",
        TsFixture.tsFromSamples(AvcMp4Fixture.samplePayloadsAnnexB(g)))
    } else if (id % 2 == 0)
      ("video/mp4", MjpegMp4Fixture.mp4FromJpegs(frames(g), W, H, 33333)._1)
    else
      ("video/x-msvideo", AviFixture.aviFromJpegs(frames(g), W, H, 33333)._1)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/videodup.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(60)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("videodup-fixture")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val data = (0L until rows.toLong).map { id =>
      val (mime, bytes) = row(id)
      (id, mime, bytes)
    }
    val seqs = data.map { case (id, _, bytes) =>
      id -> graft.ops.VideoDup.frameDhashSeq(bytes)
    }.toMap
    val digests = data.map { case (id, _, bytes) =>
      id -> graft.ops.VideoDup.payloadDigest(bytes)
    }.toMap
    val phashGroups = (0L until rows.toLong / 2)
      .filter(g => g % 8 != 7 && g % 8 != 6 && g % 8 != 5)
    phashGroups.foreach { g =>
      require(seqs(2 * g).nonEmpty, s"group $g mp4 decoded no frames")
      require(seqs(2 * g) == seqs(2 * g + 1),
        s"group $g containers hash apart")
    }
    for (a <- phashGroups; b <- phashGroups if a < b)
      require(seqs(2 * a) != seqs(2 * b), s"groups $a/$b collide")
    phashGroups.foreach(g => require(seqs(2 * g).size == nFrames(g),
      s"group $g frame count"))
    // AVC class: pixel path must see NOTHING, payload digests must
    // pair within the group and collide nowhere across groups
    val avcGroups = (0L until rows.toLong / 2).filter(_ % 8 == 6)
    avcGroups.foreach { g =>
      require(seqs(2 * g).isEmpty && seqs(2 * g + 1).isEmpty,
        s"avc group $g pixel-decoded — payload path untested")
      require(digests(2 * g).nonEmpty, s"avc group $g mp4 has no spans")
      require(digests(2 * g) == digests(2 * g + 1),
        s"avc group $g containers digest apart")
      require(digests(2 * g).get._1 == AvcMp4Fixture.nFrames(g),
        s"avc group $g span count")
    }
    // cross-framing class (round 20): AVCC-in-MP4 vs Annex-B-in-TS
    // of the SAME NAL units — pairs only through normalization
    val xframeGroups = (0L until rows.toLong / 2).filter(_ % 8 == 5)
    xframeGroups.foreach { g =>
      require(seqs(2 * g).isEmpty && seqs(2 * g + 1).isEmpty,
        s"xframe group $g pixel-decoded — payload path untested")
      require(digests(2 * g).nonEmpty, s"xframe group $g mp4 has no spans")
      require(digests(2 * g) == digests(2 * g + 1),
        s"xframe group $g framings digest apart — normalization broke")
      require(digests(2 * g).get._1 == AvcMp4Fixture.nFrames(g),
        s"xframe group $g span count")
    }
    val payloadGroups = avcGroups ++ xframeGroups
    for (a <- payloadGroups; b <- payloadGroups if a < b)
      require(digests(2 * a) != digests(2 * b), s"payload groups $a/$b collide")
    (0L until rows.toLong / 2).filter(_ % 8 == 7).foreach(g =>
      require(seqs(2 * g).isEmpty && seqs(2 * g + 1).isEmpty &&
        digests(2 * g).isEmpty && digests(2 * g + 1).isEmpty,
        s"junk group $g decoded"))
    FixtureIo.writeSingleParquet(
      data.toDF("media_id", "mime_type", "media"), out, rows.toLong)
    spark.stop()
  }
}
