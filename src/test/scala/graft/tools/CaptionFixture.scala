package graft.tools

/**
 * Deterministic WebVTT/SRT caption fixture, sharing [[AvcMp4Fixture]]'s
 * media_id domain so cue windows can be aligned against that fixture's
 * keyframe time axis (the q_m19 clip-caption pairing). Exercises
 * [[graft.ops.Captions.parseCues]] against true payload text.
 *
 * Layout per media_id (the oracle re-parses the same text in SQL):
 *  - id % 8 == 3 → WEBVTT header + NOTE block only: NO cues.
 *  - id % 8 == 7 → junk prose with no timing lines: NO cues.
 *  - id even     → WebVTT: "WEBVTT" header block, a NOTE block the
 *                  parser must skip (it contains a bare `-->` with no
 *                  timestamps — a non-cue arrow block), then cues —
 *                  odd cues carry an identifier line AND a junk arrow
 *                  line before the timing line (the parser must skip
 *                  past both to the first FULL `ts --> ts` line);
 *                  id % 4 == 0 uses the short mm:ss.mmm time form (no
 *                  hour field).
 *  - id odd      → SRT: numbered cues with comma-decimal times.
 *  - cue windows: nCues = 2 + id%4, start_ms(i) = i·(30 + 10·(id%4)),
 *    end_ms = start_ms + 45 + 5·(id%3) — sized to overlap the first
 *    ~200 ms where AvcMp4Fixture's keyframes live. Odd cues have
 *    two-line text (the parser keeps the newline).
 *  - text is TAGGED like real captions (VTT <i>/<c.class>/timestamp
 *    spans, SRT {\an8}/<b>) and i%3==2 VTT timing lines carry cue
 *    settings — q_m18 keeps payloads verbatim; the q_m29 normaliser
 *    strips them (cleanCueText is the expected clean form).
 *  - blocks are joined by exactly ONE blank line, no trailing newline
 *    (so a split on "\n\n" is exact on both engines).
 *
 * Usage: Test/runMain graft.tools.CaptionFixture [outFile] [rows]
 * (default fixtures/captions.parquet, 500 rows)
 */
object CaptionFixture {

  def nCues(id: Long): Int = 2 + (id % 4).toInt
  def startMs(id: Long, i: Int): Long = i.toLong * (30 + 10 * (id % 4))
  def endMs(id: Long, i: Int): Long = startMs(id, i) + 45 + 5 * (id % 3)

  /** Cue text, TAGGED the way real sidecar captions arrive — WebVTT
   * italic/class/timestamp spans for even (VTT) ids, an ASS-style
   * `{\an8}` position override plus `<b>` for odd (SRT) ids — so the
   * normaliser (Captions.cleanCueText) has real dirt to strip. The
   * timing-line parse is unaffected: none of the tags contain a
   * `-->`, and cue SETTINGS live on the timing line (see [[vtt]]). */
  def cueText(id: Long, i: Int): String = {
    // tags-only cue: normalises to EMPTY — the curation filter's case
    if (i == 3 && id % 4 == 2) return "<i> <00:01.000> </i>"
    val l1 = s"cue $id $i alpha${(id + i) % 10}"
    val l1t =
      if (i % 3 == 0) {
        if (id % 2 == 0) s"<i>$l1</i>" else s"{\\an8}<b>$l1</b>"
      } else if (i % 3 == 2 && id % 2 == 0)
        s"<c.yellow>$l1</c> <00:01.000>tail"
      else l1
    if (i % 2 == 1) l1t + "\n" + s"beta${(id * 7 + i) % 10} gamma" else l1t
  }

  /** The clean form of [[cueText]] — what the normaliser must produce
   * (tags/overrides stripped, whitespace collapsed to single spaces,
   * the multiline join folded). Kept next to the tagged builder so
   * the spec's expectation can't drift from the fixture. */
  def cleanCueText(id: Long, i: Int): String = {
    if (i == 3 && id % 4 == 2) return ""
    val l1 = s"cue $id $i alpha${(id + i) % 10}"
    val l1c = if (i % 3 == 2 && id % 2 == 0) s"$l1 tail" else l1
    if (i % 2 == 1) l1c + " " + s"beta${(id * 7 + i) % 10} gamma" else l1c
  }

  private def fmt(ms: Long, sep: Char, shortForm: Boolean): String = {
    val h = ms / 3600000
    val m = (ms % 3600000) / 60000
    val s = (ms % 60000) / 1000
    val f = ms % 1000
    if (shortForm) f"$m%02d:$s%02d$sep$f%03d"
    else f"$h%02d:$m%02d:$s%02d$sep$f%03d"
  }

  def vtt(id: Long): String = {
    val blocks = Seq("WEBVTT",
      s"NOTE deterministic fixture $id\nsee --> notes") ++
      (0 until nCues(id)).map { i =>
        val timing = fmt(startMs(id, i), '.', id % 4 == 0) + " --> " +
          fmt(endMs(id, i), '.', id % 4 == 0) +
          // WebVTT cue settings after the timestamps: the parser must
          // take the window and drop the settings (they're timing-line
          // payload, not cue text)
          (if (i % 3 == 2) " align:start position:10%" else "")
        val ident =
          if (i % 2 == 1) s"ident-$id-$i\nnote --> arrow junk $id\n" else ""
        ident + timing + "\n" + cueText(id, i)
      }
    blocks.mkString("\n\n")
  }

  def srt(id: Long): String =
    (0 until nCues(id)).map { i =>
      s"${i + 1}\n" + fmt(startMs(id, i), ',', shortForm = false) + " --> " +
        fmt(endMs(id, i), ',', shortForm = false) + "\n" + cueText(id, i)
    }.mkString("\n\n")

  /** (kind, payload) — broken rows carry no timing lines at all. */
  def row(id: Long): (String, String) =
    if (id % 8 == 3) ("vtt", s"WEBVTT\n\nNOTE empty sidecar $id")
    else if (id % 8 == 7) ("txt", s"junk prose $id with no cues here")
    else if (id % 2 == 0) ("vtt", vtt(id))
    else ("srt", srt(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/captions.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("caption-fixture")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val df = (0L until rows.toLong).map { id =>
      val (kind, content) = row(id)
      (id, kind, content)
    }.toDF("media_id", "kind", "content")
    FixtureIo.writeSingleParquet(df, out, rows.toLong)
    spark.stop()
  }
}
