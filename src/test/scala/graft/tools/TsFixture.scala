package graft.tools

/**
 * Deterministic MPEG-TS (ISO/IEC 13818-1) fixture: a 188-byte packet
 * grid with a real PAT → PMT → elementary-stream structure, the
 * segment layout legacy HLS corpora ship as `.ts` files. Exercises
 * the repo's TS PES-start walker
 * ([[graft.ops.Multimodal.AvHeaders.tsPesStarts]]) against true
 * bytes: the walker must parse PAT (PID 0) to find the PMT PID, the
 * PMT to find the VIDEO elementary PID **by stream_type** (an audio
 * stream is listed FIRST in the PMT and carries decoy packets with
 * the random-access flag always set — selecting by entry order or by
 * "any PES" leaks those rows and fails the oracle), then emit one row
 * per payload-unit-start packet of the video PID with the adaptation
 * field's random_access_indicator.
 *
 * Layout per media_id (the oracle's offset arithmetic relies on this):
 *  - id % 8 == 3 → truncated bytes: nothing parses, NO rows.
 *  - id % 8 == 7 → junk bytes: nothing parses.
 *  - otherwise → packet 0 = PAT (program 1 → PMT PID 256), packet 1 =
 *    PMT (prog_info_length 0, entries: audio 0x0F PID 258 first, then
 *    video 0x1B PID 257 — so the video PID's 13 bits sit at FIXED
 *    byte offsets 211–212, where the oracle re-reads them), then
 *    `nPes` groups of `pktsPerPes + 1` packets: one video PES-start
 *    packet (PUSI=1, AF+payload, AF carries random_access_indicator
 *    set on every raiInterval-th PES, payload = PES start code
 *    00 00 01 E0 …), `pktsPerPes − 1` video continuation packets
 *    (PUSI=0, payload only), and one audio decoy packet (PUSI=1,
 *    RAI always set). Video PES i therefore starts at packet
 *    2 + i·(pktsPerPes+1), byte offset 188× that — re-derivable from
 *    the id contract + the byte-level PID/PUSI/AF fields alone.
 *
 * Usage: Test/runMain graft.tools.TsFixture [outFile] [rows]
 * (default fixtures/ts.parquet, 500 rows)
 */
object TsFixture {
  val PmtPid = graft.ops.Remux.PmtPid
  val VideoPid = 257
  val AudioPid = graft.ops.Remux.AudioPid

  def nPes(id: Long): Int = 3 + (id % 5).toInt
  /** Packets per video PES (1 start + n−1 continuations). */
  def pktsPerPes(id: Long): Int = 1 + (id % 3).toInt
  /** random_access_indicator set on PES 0, k, 2k, … */
  def raiInterval(id: Long): Int = 1 + (id % 4).toInt
  /** PES i's presentation time: 40 ms per PES on the 90 kHz PTS
   * clock (3600 ticks) — inside the caption fixture's cue windows so
   * the cue↔TS alignment has real overlaps. */
  def ptsMs(id: Long, i: Int): Long = i.toLong * 40L

  // PSI packet and PAT builders are library surface (ops.Remux);
  // this fixture delegates so the two can never diverge
  private def psiPacket(pid: Int, section: Array[Byte]): Array[Byte] =
    graft.ops.Remux.psiPacket(pid, section)
  private def pat(): Array[Byte] = graft.ops.Remux.pat()

  /** PMT for program 1: PCR on the video PID, zero program_info,
   * audio (0x0F AAC) listed FIRST, video (0x1B H.264) second. */
  private def pmt(): Array[Byte] =
    Array[Byte](0x02, 0xb0.toByte, 23,
      0, 1, 0xc1.toByte, 0, 0, // program_number, version, sec, last
      (0xe0 | (VideoPid >> 8)).toByte, (VideoPid & 0xff).toByte, // PCR PID
      0xf0.toByte, 0, // program_info_length 0
      0x0f, (0xe0 | (AudioPid >> 8)).toByte, (AudioPid & 0xff).toByte,
      0xf0.toByte, 0, // audio entry, es_info_length 0
      0x1b, (0xe0 | (VideoPid >> 8)).toByte, (VideoPid & 0xff).toByte,
      0xf0.toByte, 0, // video entry
      0, 0, 0, 0) // dummy CRC

  /** First packet of a video PES: AF (1 byte: flags) + PES header
   * carrying a REAL 33-bit/90 kHz PTS ([[ptsMs]]'s clock) in the
   * standard marker-bit encoding. */
  private def pesStart(id: Long, i: Int, cc: Int, rai: Boolean): Array[Byte] = {
    val p = new Array[Byte](188)
    p(0) = 0x47
    p(1) = (0x40 | (VideoPid >> 8)).toByte
    p(2) = (VideoPid & 0xff).toByte
    p(3) = (0x30 | (cc & 0xf)).toByte // AF + payload
    p(4) = 1 // adaptation_field_length
    p(5) = if (rai) 0x40 else 0x00
    p(6) = 0; p(7) = 0; p(8) = 1; p(9) = 0xe0.toByte // PES start, stream E0
    p(10) = 0; p(11) = 0 // PES_packet_length 0 (unbounded video)
    p(12) = 0x80.toByte // '10' marker bits
    p(13) = 0x80.toByte // PTS_DTS_flags = '10': PTS only
    p(14) = 5 // PES_header_data_length
    val pts = ptsMs(id, i) * 90L // ms → 90 kHz ticks
    p(15) = (0x21 | (((pts >> 30) & 7) << 1)).toByte // '0010' PTS[32:30] '1'
    p(16) = ((pts >> 22) & 0xff).toByte
    p(17) = ((((pts >> 15) & 0x7f) << 1) | 1).toByte
    p(18) = ((pts >> 7) & 0xff).toByte
    p(19) = (((pts & 0x7f) << 1) | 1).toByte
    var j = 20
    while (j < 188) { p(j) = ((id * 31 + i * 7 + j) & 0x7f).toByte; j += 1 }
    p
  }

  /** Continuation (PUSI=0) or audio decoy (PUSI=1, RAI set) packet. */
  private def filler(id: Long, pid: Int, pusi: Boolean, cc: Int,
      withRai: Boolean): Array[Byte] = {
    val p = new Array[Byte](188)
    p(0) = 0x47
    p(1) = (((if (pusi) 0x40 else 0) | (pid >> 8)) & 0xff).toByte
    p(2) = (pid & 0xff).toByte
    val start = if (withRai) {
      p(3) = (0x30 | (cc & 0xf)).toByte
      p(4) = 1; p(5) = 0x40
      if (pusi) { p(6) = 0; p(7) = 0; p(8) = 1; p(9) = 0xc0.toByte } // audio PES
      10
    } else { p(3) = (0x10 | (cc & 0xf)).toByte; 4 }
    var j = start
    while (j < 188) { p(j) = ((id * 17 + pid + j) & 0x7f).toByte; j += 1 }
    p
  }

  def ts(id: Long): Array[Byte] = {
    val groups = (0 until nPes(id)).flatMap { i =>
      val rai = i % raiInterval(id) == 0
      val start = pesStart(id, i, i, rai)
      val conts = (1 until pktsPerPes(id)).map(c => filler(id, VideoPid, pusi = false, i + c, withRai = false))
      val audio = filler(id, AudioPid, pusi = true, i, withRai = true)
      (start +: conts) :+ audio
    }
    (psiPacket(0, pat()) +: psiPacket(PmtPid, pmt()) +: groups).flatten.toArray
  }

  /** Mux an MPEG audio ELEMENTARY STREAM (e.g. Mp3Encoder output)
   * into a TS segment — the muxer itself is library surface
   * ([[graft.ops.Remux.mpegAudioEsToTs]], round 20: moved out of
   * this fixture tool so SparkEntry no longer depends on tools at
   * query time); this fixture-side name is kept for the specs. */
  def tsFromAudioEs(es: Array[Byte]): Array[Byte] =
    graft.ops.Remux.mpegAudioEsToTs(es)

  /** Mux arbitrary sample payloads into a TS segment, one PES per
   * sample (the common video shape: one access unit per PES) — the
   * re-mux twin builder for the payload-digest tests: the same
   * payload bytes via [[MjpegMp4Fixture.mp4FromSamples]] must digest
   * equal. PES_packet_length is written EXACTLY (samples here are
   * small), so the reassembler's bounded-length path is exercised;
   * the last TS packet of each PES aligns to the 188-byte grid with
   * adaptation-field stuffing, the standard method. */
  def tsFromSamples(samples: Seq[Array[Byte]]): Array[Byte] = {
    val pkts = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var cc = 0
    samples.zipWithIndex.foreach { case (s, i) =>
      var sent = 0
      var first = true
      while (first || sent < s.length) {
        val p = new Array[Byte](188)
        p(0) = 0x47
        p(1) = (((if (first) 0x40 else 0) | (VideoPid >> 8)) & 0xff).toByte
        p(2) = (VideoPid & 0xff).toByte
        if (first) {
          // header(4) + AF(1 len + 1 flags + S stuffing) + PES(14):
          // payload capacity 168 − S; stuff so the sample's tail (or
          // all of a small sample) ends exactly at the packet edge
          val take = math.min(s.length - sent, 168)
          val stuffing = 168 - take
          p(3) = (0x30 | (cc & 0xf)).toByte
          p(4) = (1 + stuffing).toByte
          p(5) = (if (i == 0) 0x40 else 0x00).toByte // RAI on sample 0
          var k = 0
          while (k < stuffing) { p(6 + k) = 0xff.toByte; k += 1 }
          val po = 6 + stuffing
          p(po) = 0; p(po + 1) = 0; p(po + 2) = 1; p(po + 3) = 0xe0.toByte
          val pesLen = 3 + 5 + s.length // opt header + PTS + payload
          p(po + 4) = ((pesLen >> 8) & 0xff).toByte
          p(po + 5) = (pesLen & 0xff).toByte
          p(po + 6) = 0x80.toByte // '10'
          p(po + 7) = 0x80.toByte // PTS only
          p(po + 8) = 5
          val pts = i.toLong * 3600L
          p(po + 9) = (0x21 | (((pts >> 30) & 7) << 1)).toByte
          p(po + 10) = ((pts >> 22) & 0xff).toByte
          p(po + 11) = ((((pts >> 15) & 0x7f) << 1) | 1).toByte
          p(po + 12) = ((pts >> 7) & 0xff).toByte
          p(po + 13) = (((pts & 0x7f) << 1) | 1).toByte
          System.arraycopy(s, sent, p, po + 14, take)
          sent += take
        } else {
          val take = math.min(s.length - sent, 184)
          if (take == 184) { // full payload, no AF
            p(3) = (0x10 | (cc & 0xf)).toByte
            System.arraycopy(s, sent, p, 4, take)
          } else {
            // AF absorbs the slack: afLen N = 183 − take (N = 0 is
            // the legal single-stuffing-byte form: length byte only)
            val n = 183 - take
            p(3) = (0x30 | (cc & 0xf)).toByte
            p(4) = n.toByte
            if (n >= 1) p(5) = 0 // flags, no indicators
            var k = 0
            while (k < n - 1) { p(6 + k) = 0xff.toByte; k += 1 }
            System.arraycopy(s, sent, p, 5 + n, take)
          }
          sent += take
        }
        cc = (cc + 1) & 0xf
        first = false
        pkts += p
      }
    }
    (psiPacket(0, pat()) +: psiPacket(PmtPid, pmt()) +: pkts.toSeq)
      .flatten.toArray
  }

  /** (declared mime, actual bytes) — mime lies on the broken rows. */
  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("video/mp2t", MjpegMp4Fixture.truncated())
    else if (id % 8 == 7) ("application/octet-stream", MjpegMp4Fixture.junk(id))
    else ("video/mp2t", ts(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/ts.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("ts-fixture")
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
