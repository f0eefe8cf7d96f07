package graft.tools

/**
 * Deterministic WARC fixture for the sitemap-PROTOCOL breadth the
 * plain [[WarcFixture]] cannot carry: its oracle `decode()`s whole
 * blobs as UTF-8, so gzip bodies live HERE, in a separate table whose
 * DuckDB oracle reconstructs rows from this id contract instead (the
 * WARCGZREC pattern — DuckDB cannot inflate).
 *
 * Per ordinary shard (id % 5 != 4), host smap{h}.example.org with
 * h = id % 3 — every record body a pure function of the HOST, so the
 * cross-shard distinct has real work and keep-latest is a no-op on
 * content:
 *  - robots.txt           — declares `Sitemap: …/maps/index-{h}.xml`
 *                           (an ARBITRARY path: discovery must come
 *                           from the declaration, not the well-known
 *                           path rule)
 *  - /maps/index-{h}.xml  — a `<sitemapindex>` file-of-files naming
 *                           the two children below (one level of
 *                           recursion)
 *  - /maps/pages-{h}.xml  — plain `<urlset>`, entries k = 0..2 with
 *                           lastmod
 *  - /maps/extra-{h}.xml.gz — the SAME urlset shape but gzipped
 *                           (Content-Type application/gzip; binary
 *                           RFC 1952 bytes), entries k = 0..1, k = 0
 *                           with lastmod, k = 1 without
 *  - /maps/rogue-{h}.xml  — a sitemap-LOOKING urlset nobody declared:
 *                           its entries must NEVER surface (trust
 *                           only declared/well-known/child docs)
 *  - /p/a{h}_0            — an ordinary 200 text/plain fetch of the
 *                           FIRST pages-sitemap entry, so the q_w30
 *                           anti-join has a declared-but-fetched case
 * id % 5 == 4 → ASCII junk (no WARC magic): walker tolerance rows.
 *
 * Usage: Test/runMain graft.tools.SitemapFixture [outFile] [rows]
 * (default fixtures/warcsm.parquet, 60 rows)
 */
object SitemapFixture {

  def h(id: Long): Long = id % 3
  def host(id: Long): String = s"smap${h(id)}.example.org"

  def pagesLoc(hh: Long, k: Int): String =
    s"https://smap$hh.example.org/p/a${hh}_$k"
  def pagesLastmod(hh: Long, k: Int): String = s"2025-0${hh + 1}-1$k"
  def gzLoc(hh: Long, k: Int): String =
    s"https://smap$hh.example.org/p/gz${hh}_$k"
  def gzLastmod(hh: Long): String = s"2025-09-0${hh + 1}"
  def rogueLoc(hh: Long, k: Int): String =
    s"https://smap$hh.example.org/p/rogue${hh}_$k"

  def robotsBody(hh: Long): String =
    s"User-agent: *\nDisallow: /private/\n" +
      s"Sitemap: https://smap$hh.example.org/maps/index-$hh.xml\n"

  def indexBody(hh: Long): String =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<sitemapindex>\n" +
      s"<sitemap><loc>https://smap$hh.example.org/maps/pages-$hh.xml</loc></sitemap>\n" +
      s"<sitemap><loc>https://smap$hh.example.org/maps/extra-$hh.xml.gz</loc></sitemap>\n" +
      "</sitemapindex>\n"

  def pagesBody(hh: Long): String =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset>\n" +
      (0 until 3).map { k =>
        s"<url><loc>${pagesLoc(hh, k)}</loc>" +
          s"<lastmod>${pagesLastmod(hh, k)}</lastmod></url>"
      }.mkString("\n") + "\n</urlset>\n"

  def gzPlainBody(hh: Long): String =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset>\n" +
      s"<url><loc>${gzLoc(hh, 0)}</loc><lastmod>${gzLastmod(hh)}</lastmod></url>\n" +
      s"<url><loc>${gzLoc(hh, 1)}</loc></url>\n</urlset>\n"

  /** The gz child's BINARY body: one RFC 1952 member (deterministic —
   * no mtime, fixed OS byte) wrapping [[gzPlainBody]]. */
  def gzBody(hh: Long): Array[Byte] =
    gzipBytes(gzPlainBody(hh)
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** Multilingual text bodies for the charset-aware WET face
   * (q_w33): the SAME logical text shipped as UTF-8 bytes and as
   * Latin-1 bytes under their declared charsets — byte-assembled
   * here because [[WarcFixture]]'s string pipeline is ASCII-only by
   * construction. */
  def utf8Body(hh: Long): String = s"héllo wörld 中文テキスト №$hh"
  def latin1Body(hh: Long): String = s"café naïve garçon $hh"

  def rogueBody(hh: Long): String =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset>\n" +
      (0 until 2).map { k =>
        s"<url><loc>${rogueLoc(hh, k)}</loc></url>"
      }.mkString("\n") + "\n</urlset>\n"

  def wdate(id: Long, slot: Int): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(
        1704067200L + (id * 41 + slot * 53) % 100000))

  private def record(id: Long, slot: Int, uri: String, ct: String,
      payload: Array[Byte], extraHttp: String = ""): Array[Byte] = {
    val head = "HTTP/1.1 200 OK\r\n" + s"Content-Type: $ct\r\n" +
      extraHttp + "\r\n"
    val content = head.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ payload
    val hdr = ("WARC/1.0" +:
      Seq(s"WARC-Type: response",
        s"WARC-Target-URI: $uri",
        "Content-Type: application/http;msgtype=response",
        s"WARC-Date: ${wdate(id, slot)}",
        s"Content-Length: ${content.length}")).mkString("\r\n") + "\r\n\r\n"
    hdr.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ content ++
      "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  private def ascii(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  def shard(id: Long): Array[Byte] = {
    val hh = h(id)
    val hst = host(id)
    record(id, 0, s"https://$hst/robots.txt", "text/plain",
      ascii(robotsBody(hh))) ++
      record(id, 1, s"https://$hst/maps/index-$hh.xml", "text/xml",
        ascii(indexBody(hh))) ++
      record(id, 2, s"https://$hst/maps/pages-$hh.xml", "text/xml",
        ascii(pagesBody(hh))) ++
      record(id, 3, s"https://$hst/maps/extra-$hh.xml.gz", "application/gzip",
        gzBody(hh)) ++
      record(id, 4, s"https://$hst/maps/rogue-$hh.xml", "text/xml",
        ascii(rogueBody(hh))) ++
      record(id, 5, pagesLoc(hh, 0), "text/plain",
        ascii(s"fetched page body $hh")) ++
      record(id, 6, s"https://$hst/txt/utf8", "text/plain; charset=utf-8",
        utf8Body(hh).getBytes(java.nio.charset.StandardCharsets.UTF_8)) ++
      record(id, 7, s"https://$hst/txt/latin1",
        "text/plain; charset=iso-8859-1",
        latin1Body(hh).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)) ++
      // transfer-compressed text (Content-Encoding: gzip) — the body
      // bytes are a gzip member wrapping the SAME utf-8 text: the WET
      // face must inflate before charset-decoding (q_w34)
      record(id, 8, s"https://$hst/txt/gzipped",
        "text/plain; charset=utf-8",
        gzipBytes(utf8Body(hh).getBytes(
          java.nio.charset.StandardCharsets.UTF_8)),
        extraHttp = "Content-Encoding: gzip\r\n") ++
      // a coding with NO decoder here: the WET face must claim
      // nothing, never emit binary soup as text
      record(id, 9, s"https://$hst/txt/brotli",
        "text/plain; charset=utf-8",
        Array[Byte](0x1b, 0x0a, 0x42, 0x52),
        extraHttp = "Content-Encoding: br\r\n") ++
      // chunked transfer coding (RFC 9112): the same utf-8 text split
      // across two chunks with an extension on the first size line —
      // without dechunking, size lines pollute the WET text (q_w35)
      record(id, 10, s"https://$hst/txt/chunked",
        "text/plain; charset=utf-8",
        chunkedBytes(utf8Body(hh).getBytes(
          java.nio.charset.StandardCharsets.UTF_8)),
        extraHttp = "Transfer-Encoding: chunked\r\n") ++
      // the full wire layering: chunked OVER gzip — dechunk first,
      // then inflate, then charset
      record(id, 11, s"https://$hst/txt/chunkgz",
        "text/plain; charset=utf-8",
        chunkedBytes(gzipBytes(utf8Body(hh).getBytes(
          java.nio.charset.StandardCharsets.UTF_8))),
        extraHttp = "Transfer-Encoding: chunked\r\n" +
          "Content-Encoding: gzip\r\n") ++
      // malformed chunk framing (size line lies long): claims nothing
      record(id, 12, s"https://$hst/txt/badchunk",
        "text/plain; charset=utf-8",
        s"FFFF\r\ntoo short $hh\r\n0\r\n\r\n".getBytes(
          java.nio.charset.StandardCharsets.US_ASCII),
        extraHttp = "Transfer-Encoding: chunked\r\n") ++
      // charset SNIFFING rows (q_w36): an html page whose charset
      // lives only in its <meta> tag (Latin-1 bytes, no HTTP param),
      // a UTF-8 BOM text file, and a UTF-16LE BOM text file — the
      // WHATWG precedence: BOM > HTTP charset > meta > UTF-8 default
      record(id, 13, s"https://$hst/txt/metalatin", "text/html",
        metaLatinBody(hh).getBytes(
          java.nio.charset.StandardCharsets.ISO_8859_1)) ++
      record(id, 14, s"https://$hst/txt/bom8", "text/plain",
        Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
          utf8Body(hh).getBytes(java.nio.charset.StandardCharsets.UTF_8)) ++
      record(id, 15, s"https://$hst/txt/bom16", "text/plain",
        Array[Byte](0xff.toByte, 0xfe.toByte) ++
          utf8Body(hh).getBytes(java.nio.charset.StandardCharsets.UTF_16LE)) ++
      // zstd content coding (RFC 8878 registered token, shipped by
      // Chrome/Firefox since 2024): the same utf-8 text in one zstd
      // frame — the WET face decodes through the structural frame
      // walk, same contract as gzip (q_w34)
      record(id, 16, s"https://$hst/txt/zstdenc",
        "text/plain; charset=utf-8",
        com.github.luben.zstd.Zstd.compress(utf8Body(hh).getBytes(
          java.nio.charset.StandardCharsets.UTF_8), 3),
        extraHttp = "Content-Encoding: zstd\r\n")
  }

  /** The meta-declared Latin-1 html body (q_w36): charset only in
   * the `<meta>` tag, body bytes single-byte Latin-1. */
  def metaLatinBody(hh: Long): String =
    "<html><head><meta charset=\"iso-8859-1\"></head>" +
      s"<body>café mañana $hh</body></html>"

  /** RFC 9112 chunked coding: two chunks (the first with a
   * `;ext=1` extension on its size line), the zero terminator, a
   * trailer field the parser must ignore. */
  def chunkedBytes(raw: Array[Byte]): Array[Byte] = {
    val cut = math.max(raw.length / 2, 1)
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit =
      bos.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0,
        s.length)
    ascii(f"$cut%x;ext=1\r\n")
    bos.write(raw, 0, cut); ascii("\r\n")
    ascii(f"${raw.length - cut}%x\r\n")
    bos.write(raw, cut, raw.length - cut); ascii("\r\n")
    ascii("0\r\nX-Trailer: ignored\r\n\r\n")
    bos.toByteArray
  }

  /** One deterministic RFC 1952 gzip member (no mtime, fixed OS). */
  def gzipBytes(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0))
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    val dos = new java.util.zip.DeflaterOutputStream(bos, d)
    dos.write(raw); dos.finish(); d.end()
    val crc = new java.util.zip.CRC32()
    crc.update(raw)
    def le32(v: Long): Unit = (0 until 4).foreach(i =>
      bos.write(((v >>> (8 * i)) & 0xff).toInt))
    le32(crc.getValue)
    le32(raw.length.toLong)
    bos.toByteArray
  }

  def row(id: Long): (String, Array[Byte]) =
    if (id % 5 == 4)
      ("application/warc",
        ascii(s"plain junk $id with no warc framing at all\n"))
    else ("application/warc", shard(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/warcsm.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(60)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("warcsm-fixture")
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
