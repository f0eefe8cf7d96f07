package graft.tools

/**
 * Deterministic `.warc.gz` fixture for the q_w5 member walker — the
 * Common Crawl shipping format: ONE gzip member (RFC 1952) per WARC
 * record, members back-to-back. Record contents reuse WarcFixture's
 * id contract verbatim, so the DuckDB oracle re-derives each member's
 * record identity (content_length, warc_type, target_uri) from the
 * same arithmetic, while member offsets/sizes are re-derived from the
 * BYTES by scanning for the fixed 10-byte header prefix the fixture
 * pins (MTIME=0, XFL=0, OS=0xFF — 9 fixed bytes plus a contract FLG,
 * so a false positive inside DEFLATE payload is ~2^-72 and the
 * fixture is deterministic).
 *
 * Header variation exercises the walker's FLG framing: member k
 * carries no optional field (k%3==0), an FNAME (k%3==1), or a 4-byte
 * FEXTRA (k%3==2).
 *
 * Layout per media_id:
 *  - id % 8 == 3 → all members present but the LAST one's trailing 12
 *                  bytes are cut (DEFLATE tail + trailer): the walker
 *                  emits every member except the last.
 *  - id % 8 == 7 → ASCII junk, no gzip magic: no rows.
 *  - else        → 1 + WarcFixture.nBody(id) members: warcinfo, then
 *                  responses (a request at position 2 for even ids).
 *
 * Usage: Test/runMain graft.tools.WarcGzFixture [outFile] [rows]
 * (default fixtures/warcgz.parquet, 500 rows)
 */
object WarcGzFixture {

  /** The fixture's `revisit` member (closing id%4==2 shards): a
   * recrawl of the shard's first page whose payload matched an
   * earlier capture — Common Crawl ships it as a payload-less
   * revisit record carrying the original's WARC-Payload-Digest
   * (the q_w27 resolution case). */
  def revisit(id: Long): String =
    WarcFixture.record(id,
      Seq("WARC-Type" -> "revisit",
        "WARC-Target-URI" -> WarcFixture.uri(id, 0),
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Payload-Digest" -> WarcFixture.digest(id, 0),
        "WARC-Date" -> WarcFixture.wdate(id, WarcFixture.nBody(id))),
      "")

  /** The record strings of one shard, in member order — WarcFixture's
   * contract verbatim, plus the revisit member on id%4==2 shards. */
  def records(id: Long): Seq[String] =
    (WarcFixture.warcinfo(id) +: (0 until WarcFixture.nBody(id)).map { i =>
      if (id % 2 == 0 && i == 1) WarcFixture.request(id, i)
      else WarcFixture.response(id, i)
    }) ++ (if (id % 4 == 2) Seq(revisit(id)) else Nil)

  /** One gzip member: fixed 10-byte header (MTIME 0, XFL 0, OS 0xFF)
   * + contract FLG field + raw DEFLATE + CRC32/ISIZE trailer. */
  def member(k: Int, record: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val flg = k % 3 match {
      case 0 => 0x00
      case 1 => 0x08 // FNAME
      case _ => 0x04 // FEXTRA
    }
    out.write(Array[Byte](0x1f.toByte, 0x8b.toByte, 8, flg.toByte,
      0, 0, 0, 0, 0, 0xff.toByte))
    if (flg == 0x08) {
      out.write(s"m$k.warc".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(0)
    }
    if (flg == 0x04) out.write(Array[Byte](2, 0, 0x41, 0x42)) // xlen=2, 'AB'
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(record); d.finish()
    val buf = new Array[Byte](64 * 1024)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    val crc = new java.util.zip.CRC32()
    crc.update(record)
    def le32(v: Long): Array[Byte] = Array[Byte]((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    out.write(le32(crc.getValue))
    out.write(le32(record.length.toLong))
    out.toByteArray
  }

  def warcGz(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records(id).zipWithIndex.foreach { case (r, k) =>
      out.write(member(k, r.getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
    }
    out.toByteArray
  }

  /** Full shard with the last member's final 12 bytes cut. */
  def truncated(id: Long): Array[Byte] = {
    val full = warcGz(id)
    java.util.Arrays.copyOf(full, full.length - 12)
  }

  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("application/warc", truncated(id))
    else if (id % 8 == 7)
      ("text/plain", s"plain junk $id without any gzip member"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    else ("application/warc", warcGz(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/warcgz.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("warcgz-fixture")
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
