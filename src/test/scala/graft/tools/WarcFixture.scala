package graft.tools

/**
 * Deterministic WARC (ISO 28500) fixture for the q_w1 record walker —
 * real `WARC/1.0` records with named headers, exact Content-Length
 * payloads and CRLF-CRLF framing, assembled byte-for-byte so the
 * DuckDB oracle can re-walk the file independently (recursive
 * header-scan + Content-Length hops; it never reads this code's
 * intermediate values, only the bytes).
 *
 * Layout per media_id:
 *  - id % 8 == 3 → a valid warcinfo record, then a response whose
 *                  declared Content-Length overruns the file
 *                  (truncated fetch): walker emits ONLY record 0.
 *  - id % 8 == 7 → ASCII junk, no WARC magic: no rows.
 *  - else        → warcinfo, then 2 + id%3 records: response records
 *                  with deterministic target URIs and HTTP payloads;
 *                  even ids carry a `request` record at position 2.
 *                  Odd ids emit `content-length` in LOWERCASE
 *                  (ISO 28500 §4: header names are case-insensitive —
 *                  both walker and oracle must honour that). Two
 *                  extra response records close each shard for the
 *                  q_w6 HTTP split: a VARIANT response whose status /
 *                  Content-Type cycle by id (404 html, 301 redirect
 *                  with NO Content-Type, 503 json, 200 html+charset),
 *                  a BROKEN response whose payload is not a
 *                  splittable HTTP message (no CRLFCRLF terminator
 *                  for even ids; non-HTTP bytes for odd) — valid WARC
 *                  records q_w1 must emit but q_w6 must not — a
 *                  SPAM-URL response (innocuous 200 text/plain body,
 *                  rejectable on the URI alone) cycling the q_w14
 *                  URL-filter rule classes, and an UNNORMALIZED
 *                  ALIAS of the shard's first clean page (case/www/
 *                  port/fragment/tracking-param noise) for the q_w16
 *                  canonicalizer, and the host's robots.txt (a pure
 *                  function of the host) for the q_w20 politeness
 *                  filter.
 *
 * All payloads are 7-bit ASCII so the oracle's blob→VARCHAR decode is
 * total. Usage: Test/runMain graft.tools.WarcFixture [outFile] [rows]
 * (default fixtures/warc.parquet, 500 rows)
 */
object WarcFixture {

  def nBody(id: Long): Int = 2 + (id % 3).toInt

  /** Target URIs spread over five hosts (id % 5) and forty paths per
   * host, so host-level aggregation (q_w10) has real grouping and the
   * same URI is fetched from MULTIPLE shards (the q_w11 keep-latest
   * dedup case). */
  def uri(id: Long, i: Int): String =
    s"https://data${id % 5}.example.org/page${(id * 3 + i) % 40}"

  /** WARC-Date seconds-offset and ISO string for record slot i —
   * deterministic, colliding URIs get distinct dates so keep-latest
   * has a real winner. */
  def dateSec(id: Long, i: Int): Long = (id * 37 + i * 61) % 100000
  def wdate(id: Long, i: Int): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(1704067200L + dateSec(id, i)))

  def httpBody(id: Long, i: Int): String =
    s"doc $id $i " + Seq.fill(((id + i) % 4).toInt + 1)("lorem").mkString(" ")

  def responseContent(id: Long, i: Int): String =
    "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + httpBody(id, i)

  private def clName(id: Long): String =
    if (id % 2 == 1) "content-length" else "Content-Length"

  /** One framed record: version line, headers, Content-Length, blank
   * line, payload, two trailing CRLFs. */
  def record(id: Long, headers: Seq[(String, String)], content: String): String =
    ("WARC/1.0" +: headers.map { case (k, v) => s"$k: $v" })
      .mkString("\r\n") +
      s"\r\n${clName(id)}: ${content.length}\r\n\r\n" + content + "\r\n\r\n"

  def warcinfo(id: Long): String =
    record(id,
      Seq("WARC-Type" -> "warcinfo",
        "WARC-Record-ID" -> f"<urn:uuid:${id}%08d-0000-0000-0000-000000000000>",
        "Content-Type" -> "application/warc-fields",
        "WARC-Date" -> wdate(id, 99)),
      s"software: graft-fixture $id\r\n")

  /** Deterministic payload-digest token — the fixture's stand-in for
   * `sha1:BASE32(payload)`: equal payloads (same id, i) carry equal
   * digests, which is all the digest-keyed joins (q_w27 revisit
   * resolution) observe. */
  def digest(id: Long, i: Int): String = s"sha1:DOC${id}P$i"

  def response(id: Long, i: Int): String =
    record(id,
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> uri(id, i),
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Payload-Digest" -> digest(id, i),
        "WARC-Date" -> wdate(id, i)),
      responseContent(id, i))

  def request(id: Long, i: Int): String =
    record(id,
      Seq("WARC-Type" -> "request",
        "WARC-Target-URI" -> uri(id, i),
        "Content-Type" -> "application/http;msgtype=request",
        "WARC-Date" -> wdate(id, i)),
      s"GET /$id/doc$i HTTP/1.1\r\nHost: data.example.org\r\n")

  /** Variant HTTP head, cycling status / Content-Type — the q_w6
   * cases an HTTP splitter must get right beyond 200 text/plain. The
   * cycle keys on (id/2) % 4, NOT id % 4: ordinary shards satisfy
   * id%8 ∉ {3,7}, and id%4==3 implies id%8 ∈ {3,7}, so an id%4 cycle
   * could never place its fourth class on a live shard. */
  def variantClass(id: Long): Int = ((id / 2) % 4).toInt
  def variantStatus(id: Long): Int = Seq(404, 301, 503, 200)(variantClass(id))
  def variantCt(id: Long): Option[String] = variantClass(id) match {
    case 0 => Some("text/html")
    case 1 => None // redirect with Location but no Content-Type
    case 2 => Some("application/json")
    case _ => Some("text/html; charset=utf-8")
  }

  def variantResponse(id: Long): String = {
    val st = variantStatus(id)
    val reason = Map(404 -> "Not Found", 301 -> "Moved Permanently",
      503 -> "Service Unavailable", 200 -> "OK")(st)
    val head = s"HTTP/1.0 $st $reason\r\n" +
      variantCt(id).map(ct => s"Content-Type: $ct\r\n").getOrElse("") +
      (if (variantClass(id) == 1) "Location: https://data.example.org/moved\r\n" else "")
    // html Content-Types carry a REAL html body (style/script
    // subtrees, entities) for the q_w7 visible-text extraction;
    // non-text types carry non-text bodies the WET face must skip
    val body = variantClass(id) match {
      case 0 | 3 =>
        // seven anchors for the q_w23 link walk: an absolute
        // cross-host link, a root-relative link (resolves against
        // this page's authority), a PATH-relative link (resolves
        // against the page's directory), a non-http scheme it must
        // skip, and the three real-HTML quoting variants — a
        // SINGLE-quoted value, an UNQUOTED value and a spaced
        // `href = "…"` — that a double-quote-only extractor loses
        s"<html><head><title>t $id</title><style>p{color:red}</style></head>" +
          s"<body><h1>Doc $id</h1><p>variant body $id &amp; more " +
          s"&lt;tagged&gt; &#39;q&#39;</p>" +
          s"""<a href="https://data${(id + 1) % 5}.example.org/page${id % 40}">next</a> """ +
          s"""<a href="/page${(id + 2) % 40}">rel</a> """ +
          s"""<a href="sub/page${(id + 3) % 40}.html">deep</a> """ +
          """<a href="mailto:ops@example.org">mail</a> """ +
          s"""<a href='/pageS${(id + 4) % 40}'>sq</a> """ +
          s"<a href=sub/u${(id + 5) % 40}.html>uq</a> " +
          s"""<a href = "/pageQ${(id + 6) % 40}">sp</a>""" +
          s"<script>var x = $id;</script></body></html>"
      case 2 => s"""{"doc": $id, "kind": "json body"}"""
      case _ => s"variant body $id moved"
    }
    record(id,
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> uri(id, 90),
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Date" -> wdate(id, 90)),
      head + "\r\n" + body)
  }

  /** The robots.txt BODY of host data{h}.example.org — a pure
   * function of the HOST (every shard that serves it serves the same
   * bytes, so keep-latest dedup is a no-op on content). Disallows
   * the /page{h} prefix (matching page{h} and page{h}0..{h}9) but
   * re-allows the single page {h}{h} with a LONGER rule — the
   * longest-match precedence every robots evaluator must implement —
   * plus the RFC 9309 §2.2.3 WILDCARD forms real robots files lean
   * on: a star-4-dollar Disallow under the root (any path ending in
   * 4) re-allowed for exactly /page14 by the longer-octet
   * `Allow: /page*14` + end anchor. A trailing non-star group must
   * be ignored by the parser. */
  def robotsBody(h: Long): String =
    s"User-agent: *\nCrawl-delay: ${1 + h}\nDisallow: /page$h\n" +
      s"Allow: /page$h$h\nDisallow: /secret/\n" +
      "Disallow: /*4$\nAllow: /page*14$\n" +
      s"Sitemap: https://data$h.example.org/sitemap.xml\n\n" +
      s"User-agent: badbot\nDisallow: /\nCrawl-delay: 99\n"

  def robotsResponse(id: Long): String = {
    val body = robotsBody(id % 5)
    record(id,
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> s"https://data${id % 5}.example.org/robots.txt",
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Date" -> wdate(id, 94)),
      "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + body)
  }

  /** Spam-URL class for the q_w14 URL-filter rules, cycling on
   * (id/2) % 5 for the same live-shard-coverage reason as
   * [[variantClass]] (id%8 ∈ {3,7} shards never reach records). */
  def spamClass(id: Long): Int = ((id / 2) % 5).toInt

  /** A URL every curation pipeline must REJECT, one per rule class:
   * 0 = static-asset extension, 1 = session/utm query spam,
   * 2 = IP-literal host, 3 = crawler-trap path depth,
   * 4 = blocklisted host. The HTTP payload is an innocuous 200
   * text/plain — URL rules must fire on the URI alone (content
   * filters see nothing wrong, which is the point of the rule
   * stage). */
  def spamUri(id: Long): String = spamClass(id) match {
    case 0 => s"https://cdn${id % 3}.example.org/static/img$id.png"
    case 1 => s"https://track${id % 3}.example.org/page${id % 40}" +
      s"?utm_source=feed&sessionid=$id&ref=r$id"
    case 2 => s"http://10.${id % 200}.3.7/page${id % 40}"
    case 3 => s"https://data${id % 5}.example.org/a/b/c/d/e/f/g/p${id % 40}"
    case _ => s"https://bet-casino${id % 3}.example.net/win${id % 40}"
  }

  /** An UNNORMALIZED alias of this shard's first clean page — what a
   * real crawl frontier holds before canonicalization: uppercase
   * scheme/host, `www.` prefix, explicit default port, a fragment,
   * and query params. Even ids carry ONLY tracking params (so the
   * q_w16 canonical form merges with the plain fetch of the same
   * page); odd ids keep two real params in shuffled order (so the
   * param-sort path is oracle-exercised). */
  def aliasUri(id: Long): String = {
    val base = s"HTTPS://WWW.data${id % 5}.EXAMPLE.org:443/page${(id * 3) % 40}"
    if (id % 2 == 0) s"$base?utm_source=alias&utm_medium=feed#frag$id"
    else s"$base?b=${id % 9}&a=1#frag$id"
  }

  def aliasResponse(id: Long): String =
    record(id,
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> aliasUri(id),
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Date" -> wdate(id, 93)),
      "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" +
        s"alias fetch body $id")

  def spamResponse(id: Long): String =
    record(id,
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> spamUri(id),
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Date" -> wdate(id, 92)),
      "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" +
        s"spam page body $id looks perfectly clean")

  /** The host's sitemap.xml BODY — the document its robots.txt
   * `Sitemap:` line points at (a pure function of the host, like
   * robotsBody): three `<url><loc>…</loc><lastmod>…</lastmod></url>`
   * entries over the host's own page space. */
  def sitemapBody(h: Long): String =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset>\n" +
      (0 until 3).map { k =>
        s"<url><loc>https://data$h.example.org/page${(h * 7 + k * 11) % 40}</loc>" +
          s"<lastmod>2024-0${1 + (h % 9)}-0${1 + k}</lastmod></url>"
      }.mkString("\n") + "\n</urlset>\n"

  def sitemapResponse(id: Long): String = {
    val body = sitemapBody(id % 5)
    record(id,
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> s"https://data${id % 5}.example.org/sitemap.xml",
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Date" -> wdate(id, 93)),
      "HTTP/1.1 200 OK\r\nContent-Type: text/xml\r\n\r\n" + body)
  }

  /** A WARC-valid response whose payload is NOT a splittable HTTP
   * message: q_w1 emits the record, q_w6 emits nothing for it. */
  def brokenResponse(id: Long): String =
    record(id,
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> uri(id, 91),
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Date" -> wdate(id, 91)),
      if (id % 2 == 0) "HTTP/1.1 200 OK\r\nX-Cut: head never terminates"
      else s"%PDF-1.4 not-http bytes $id")

  /** robots META directive content, cycling the real grammar shapes
   * (comma list, single token, the `none` shorthand). */
  def metaRobotsContent(id: Long): String = (id % 3) match {
    case 0 => "noindex, noarchive"
    case 1 => "nofollow"
    case _ => "none"
  }

  /** A 200 html page whose `<meta name=robots>` carries directives —
   * attribute ORDER flips by parity (real HTML uses both), the
   * odd-id form unquoting the name. The q_w37 no-train signal. */
  def metaRobotsResponse(id: Long): String = {
    val c = metaRobotsContent(id)
    val tag =
      if (id % 2 == 0) s"""<meta name="robots" content="$c">"""
      else s"""<meta content="$c" name=robots>"""
    record(id,
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> s"https://data${id % 5}.example.org/meta${id % 40}",
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Date" -> wdate(id, 88)),
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        s"<html><head>$tag<title>m $id</title></head>" +
        s"<body>robots meta page $id</body></html>")
  }

  /** A 200 text page whose X-Robots-Tag HTTP header carries the
   * directive — the channel non-html responses use. */
  def headerRobotsResponse(id: Long): String =
    record(id,
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> s"https://data${id % 5}.example.org/hdr${id % 40}",
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Date" -> wdate(id, 87)),
      "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
        (if (id % 2 == 0) "X-Robots-Tag: noindex\r\n"
         else "X-Robots-Tag: all\r\n") +
        s"\r\nheader robots page $id")

  /** The full record list of one ordinary shard, in file order. */
  def records(id: Long): Seq[String] = {
    val body = (0 until nBody(id)).map { i =>
      if (id % 2 == 0 && i == 1) request(id, i) else response(id, i)
    }
    (warcinfo(id) +: body) ++
      Seq(variantResponse(id), sitemapResponse(id), brokenResponse(id),
        spamResponse(id), aliasResponse(id), robotsResponse(id),
        metaRobotsResponse(id), headerRobotsResponse(id))
  }

  def warc(id: Long): String = records(id).mkString("")

  /** A warcinfo record followed by a response whose Content-Length
   * claims 64 bytes more than the file holds. */
  def truncated(id: Long): String = {
    val full = response(id, 0)
    val cut = full.substring(0, full.length - 68)
    warcinfo(id) + cut
  }

  def row(id: Long): (String, Array[Byte]) = {
    val s =
      if (id % 8 == 3) truncated(id)
      else if (id % 8 == 7) s"plain junk $id with no warc framing at all\n"
      else warc(id)
    ("application/warc", s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/warc.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("warc-fixture")
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
