package graft.tools

/**
 * Deterministic WebM fixture WITH media data: EBML header + Segment(
 * Info + Tracks(video) + nf Clusters), each cluster carrying a
 * Timestamp element and ONE SimpleBlock (track 1, relative time 0,
 * keyframe flag per the id contract) — so the repo's SimpleBlock walk
 * ([[graft.ops.Multimodal.AvHeaders.webmBlocks]]) is exercised
 * against true EBML bytes. EBML builders shared with [[AvFixture]].
 *
 * Layout per media_id (the oracle's offset arithmetic relies on the
 * fixed-width contract):
 *  - id % 8 == 3 → init segment only (EBML header + Segment header +
 *                  Info + Tracks, segment size still claiming the
 *                  clusters): parses as webm, NO block rows.
 *  - id % 8 == 7 → junk: nothing parses.
 *  - otherwise   → with width = 320 + 8·(id%5) and height =
 *                  256 + 8·(id%3) (both ALWAYS 2-byte uints) the init
 *                  segment is byte-constant: EBML header 12 + Segment
 *                  id+2-byte size 6 + Info 19 + Tracks 17 → the first
 *                  cluster starts at byte 54. Every cluster is
 *                  [id 4][size 1][Timestamp 3][SimpleBlock 2 + 4 + S]
 *                  = S + 14 bytes with UNIFORM S = 40 + 2·(id%13)
 *                  frame bytes — cluster i at 54 + i·(S+14), its
 *                  frame data at +14, S re-derivable from the
 *                  SimpleBlock size byte (value S+4, 1-byte form).
 *                  nf = 2 + id%5 clusters; cluster i's timestamp is
 *                  i·40 ticks; keyframe (block header bit 0x80) iff
 *                  i % k == 0 with k = 1 + id%3.
 *
 * Usage: Test/runMain graft.tools.WebmFixture [outFile] [rows]
 * (default fixtures/webm.parquet, 500 rows)
 */
object WebmFixture {
  import AvFixture.{ebml, beFloat4, beUintBytes}

  def nFrames(id: Long): Int = 2 + (id % 5).toInt
  def syncInterval(id: Long): Int = 1 + (id % 3).toInt
  def frameSize(id: Long): Int = 40 + 2 * (id % 13).toInt
  def width(id: Long): Int = 320 + 8 * (id % 5).toInt
  def height(id: Long): Int = 256 + 8 * (id % 3).toInt

  private def initSegments(id: Long): (Array[Byte], Array[Byte]) = {
    val header = ebml(0x1a45dfa3L, ebml(0x4282L, "webm".getBytes("US-ASCII")))
    val info = ebml(0x1549a966L,
      ebml(0x2ad7b1L, beUintBytes(1000000L)) ++
        ebml(0x4489L, beFloat4((nFrames(id) * 40).toFloat)))
    val video = ebml(0xe0L,
      ebml(0xb0L, beUintBytes(width(id))) ++ ebml(0xbaL, beUintBytes(height(id))))
    val tracks = ebml(0x1654ae6bL, ebml(0xaeL, video))
    (header, info ++ tracks)
  }

  private def cluster(id: Long, i: Int, sync: Boolean): Array[Byte] = {
    val s = frameSize(id)
    val frame = Array.tabulate[Byte](s)(j => ((id * 17 + i * 5 + j) & 0x7f).toByte)
    val sbPayload = Array[Byte](0x81.toByte, 0, 0, // track 1 vint, relTs 0
      (if (sync) 0x80 else 0x00).toByte) ++ frame
    ebml(0x1f43b675L, ebml(0xe7L, beUintBytes(i * 40L)) ++ ebml(0xa3L, sbPayload))
  }

  def webm(id: Long): Array[Byte] = {
    val (header, init) = initSegments(id)
    val k = syncInterval(id)
    val clusters = (0 until nFrames(id)).flatMap(i => cluster(id, i, i % k == 0)).toArray
    header ++ ebml(0x18538067L, init ++ clusters)
  }

  /** Init-only variant: the Segment size still claims the clusters —
   * the walker must clamp to the buffer and emit nothing. */
  def truncated(id: Long): Array[Byte] = {
    val full = webm(id)
    full.take(54)
  }

  /** (declared mime, actual bytes) — mime lies on the broken rows. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("video/webm", truncated(id))
    else if (id % 8 == 7) ("application/octet-stream", AvFixture.junk(id))
    else ("video/webm", webm(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/webm.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("webm-fixture")
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
