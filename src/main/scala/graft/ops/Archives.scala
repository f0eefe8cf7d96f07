package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Multimodal.MediaRow

/**
 * Corpus-archive walkers — the shard/container formats a 100 TB
 * TRAINING-DATA pipeline actually reads, completing the media walkers
 * (q_m1–q_m28) on the text/multimodal-corpus side:
 *
 *  - WARC (ISO 28500): the Common Crawl record format — the single
 *    largest public pretraining source ships as `.warc` /
 *    `.warc.wet` files of length-prefixed records.
 *  - POSIX ustar tar: the WebDataset shard format — multimodal
 *    training corpora ship as tar files of `key.ext` members, read
 *    sequentially by loaders that need a member index to shard.
 *  - ZIP: image/document corpora ship zipped; the central directory
 *    IS the member index, readable without touching the blobs.
 *
 * Same discipline as the media walkers: pure partition-local byte
 * walks (blobs never shuffle; only fixed-shape index rows come out),
 * tolerance over exceptions (a truncated/corrupt file yields the
 * records that parse, never a throw), and nothing is claimed that
 * the bytes don't prove (a record whose declared length overruns the
 * file is NOT emitted).
 *
 * `.warc.gz` per-record gzip members (how Common Crawl actually
 * ships) ARE walked ([[warcGzMembers]]): member boundaries require
 * DEFLATE decompression, which the JDK's Inflater provides without
 * any external codec — each member is streamed through a fixed-size
 * partition-local scratch window (only the first [[HeadBytes]] are
 * buffered for the record header; the rest is counted and discarded
 * to find the member boundary and verify ISIZE), so memory stays
 * bounded no matter how large a record inflates, and only the index
 * rows leave. Plain [[warcRecords]] remains for pre-inflated `.warc`.
 */
object Archives {

  // ---------------------------------------------------------------- WARC

  /** Parse ONE record header starting at `pos` — records are
   * `WARC/1.0\r\n` + named header lines + `\r\n\r\n` + Content-Length
   * payload bytes + `\r\n\r\n`; header names are case-insensitive
   * (ISO 28500 §4). Returns (content_offset, content_length,
   * warc_type, target_uri, warc_date, payload_digest) with the
   * content offset
   * ABSOLUTE in `b`, or None when the version line is absent, the
   * header never terminates inside `b`, or Content-Length doesn't
   * parse. Shared by [[warcRecords]] (full files) and
   * [[warcGzMembers]] (head-bounded scratch buffers). */
  private def warcHeader(
      b: Array[Byte], pos: Int): Option[(Long, Long, Option[String], Option[String], Option[String], Option[String])] = {
    def lit(p: Int, s: String): Boolean =
      p + s.length <= b.length && s.indices.forall(i => (b(p + i) & 0xff) == s.charAt(i))
    if (!(lit(pos, "WARC/1.0\r\n") || lit(pos, "WARC/1.1\r\n"))) return None
    var h = pos
    var hdrEnd = -1
    while (hdrEnd < 0 && h + 4 <= b.length) {
      if (b(h) == '\r' && b(h + 1) == '\n' && b(h + 2) == '\r' && b(h + 3) == '\n')
        hdrEnd = h
      else h += 1
    }
    if (hdrEnd < 0) return None
    val hdr = new String(b, pos, hdrEnd - pos,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    var clen = -1L
    var wtype: Option[String] = None
    var uri: Option[String] = None
    var date: Option[String] = None
    var digest: Option[String] = None
    hdr.split("\r\n").drop(1).foreach { line =>
      val ci = line.indexOf(':')
      if (ci > 0) {
        val v = line.substring(ci + 1).trim
        line.substring(0, ci).trim.toLowerCase match {
          case "content-length" =>
            clen = try v.toLong catch { case _: NumberFormatException => -1L }
          case "warc-type"           => wtype = Some(v)
          case "warc-target-uri"     => uri = Some(v)
          case "warc-date"           => date = Some(v)
          case "warc-payload-digest" => digest = Some(v)
          case _                     => ()
        }
      }
    }
    if (clen < 0) None
    else Some((hdrEnd + 4L, clen, wtype, uri, date, digest))
  }

  private[ops] def warcRecords(
      b: Array[Byte]): Seq[(Long, Long, Long, Option[String], Option[String], Option[String], Option[String])] = {
    if (b == null) return Nil
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Option[String], Option[String], Option[String], Option[String])]
    var pos = 0
    var ok = true
    while (ok) {
      warcHeader(b, pos) match {
        case Some((contentOff, clen, wtype, uri, date, digest)) if contentOff + clen <= b.length =>
          out += ((pos.toLong, contentOff, clen, wtype, uri, date, digest))
          pos = (contentOff + clen + 4).toInt // skip the two trailing CRLFs
        case _ => ok = false
      }
    }
    out.toSeq
  }

  /** Relational face of [[warcRecords]]: one row per record with its
   * byte coordinates and identity headers — the WARC shard list (a
   * ranged read of [content_offset, content_offset+content_length)
   * fetches exactly one document). Pure map-side, blobs never leave
   * their partition. */
  def warcRecordTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          warcRecords(r.media).zipWithIndex.map {
            case ((off, cOff, cLen, wtype, uri, date, digest), i) =>
              (r.media_id, i, off, cOff, cLen, wtype, uri, date, digest)
          }
        }
      }
      .toDF("media_id", "record_idx", "offset", "content_offset",
        "content_length", "warc_type", "target_uri", "warc_date",
        "payload_digest")
  }

  /** HTTP status line: `HTTP/<ver> <3-digit status>[ <reason>]` — the
   * oracle applies the same pattern; keep the two in lock-step. */
  private val HttpStatusRe = """^HTTP/\S+ (\d{3})(?: .*)?$""".r

  /** HTTP split of one WARC response record's payload: the payload is
   * an HTTP message (status line + headers + CRLFCRLF + body), and
   * the BODY span is what a text-extraction pipeline actually wants.
   * Returns (http_status, body_offset_in_payload, content_type,
   * content_encoding, transfer_encoding, x_robots_tag) for a payload
   * whose head parses — a status line matching [[HttpStatusRe]] and a
   * CRLFCRLF terminator inside the payload — or None (a response
   * whose head never terminates in its declared span, or whose
   * payload isn't HTTP at all, proves no body coordinates; the
   * tolerance discipline throughout). */
  private def httpHead(b: Array[Byte], off: Int, len: Int)
      : Option[(Int, Long, Option[String], Option[String], Option[String],
          Option[String])] = {
    var h = off
    val end = off + len
    var hdrEnd = -1
    while (hdrEnd < 0 && h + 4 <= end) {
      if (b(h) == '\r' && b(h + 1) == '\n' && b(h + 2) == '\r' && b(h + 3) == '\n')
        hdrEnd = h
      else h += 1
    }
    if (hdrEnd < 0) return None
    val head = new String(b, off, hdrEnd - off,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val lines = head.split("\r\n")
    lines.headOption.flatMap {
      case HttpStatusRe(st) =>
        var ctype: Option[String] = None
        var cenc: Option[String] = None
        var tenc: Option[String] = None
        var xrt: Option[String] = None
        lines.drop(1).foreach { line =>
          val ci = line.indexOf(':')
          if (ci > 0) {
            val name = line.substring(0, ci).trim.toLowerCase
            if (name == "content-type" && ctype.isEmpty)
              ctype = Some(line.substring(ci + 1).trim)
            else if (name == "content-encoding" && cenc.isEmpty)
              cenc = Some(line.substring(ci + 1).trim.toLowerCase)
            else if (name == "transfer-encoding" && tenc.isEmpty)
              tenc = Some(line.substring(ci + 1).trim.toLowerCase)
            else if (name == "x-robots-tag" && xrt.isEmpty)
              xrt = Some(line.substring(ci + 1).trim)
          }
        }
        Some((st.toInt, (hdrEnd - off + 4).toLong, ctype, cenc, tenc, xrt))
      case _ => None
    }
  }

  /** Undo HTTP/1.1 chunked transfer coding (RFC 9112 §7.1): hex
   * chunk-size lines (extensions after `;` ignored), CRLF-framed
   * data, the zero-size terminator (trailer fields ignored).
   * Malformed framing at ANY point — bad size line, missing CRLF, a
   * chunk overrunning the span, a cap overrun — claims nothing:
   * partially-dechunked text is unprovable. */
  private def dechunkCapped(
      b: Array[Byte], off: Int, len: Int, cap: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    val end = off + len
    var p = off
    while (true) {
      var size = 0L
      var digits = 0
      var q = p
      var ok = true
      while (ok && q < end) {
        val c = b(q) & 0xff
        val v =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else -1
        if (v < 0) ok = false
        else { size = size * 16 + v; digits += 1; q += 1 }
        if (digits > 8 || size > cap) return None
      }
      if (digits == 0) return None
      // chunk extensions: everything up to CRLF
      while (q < end && b(q) != '\r') q += 1
      if (q + 1 >= end || b(q + 1) != '\n') return None
      q += 2
      if (size == 0) return Some(out.toByteArray) // trailers ignored
      if (q + size > end) return None
      out.write(b, q, size.toInt)
      if (out.size > cap) return None
      p = q + size.toInt
      if (p + 2 > end || b(p) != '\r' || b(p + 1) != '\n') return None
      p += 2
    }
    None // unreachable
  }

  /** Decode a textual HTTP body honoring the wire layering real
   * servers ship: TRANSFER coding first (`chunked` → [[dechunkCapped]];
   * `identity`/absent pass; anything else claims nothing), then
   * CONTENT coding (`gzip`/`x-gzip` through the trailer-verified
   * RFC 1952 path, `deflate` through zlib, `zstd` through the
   * structural frame walk in [[ZstdTransport]], `identity`/absent
   * pass; br — no decoder here — claims nothing), then the declared
   * charset. A corrupt layer at any depth CLAIMS NOTHING rather than
   * emitting binary soup or chunk-framing noise as text. */
  private def httpBodyText(b: Array[Byte], off: Int, len: Int,
      ct: Option[String], cenc: Option[String],
      tenc: Option[String]): Option[String] = {
    val dechunked: Option[(Array[Byte], Int, Int)] = tenc match {
      case None | Some("identity") => Some((b, off, len))
      case Some("chunked") =>
        dechunkCapped(b, off, len, GzBodyCap).map(d => (d, 0, d.length))
      case _ => None
    }
    val entity: Option[(Array[Byte], Int, Int)] = dechunked.flatMap {
      case (d, o, l) =>
        cenc match {
          case None | Some("identity") => Some((d, o, l))
          case Some("gzip") | Some("x-gzip") =>
            gunzipCapped(d, o, l, GzBodyCap).map(r => (r, 0, r.length))
          case Some("deflate") =>
            inflateBytesCapped(
              java.util.Arrays.copyOfRange(d, o, o + l), GzBodyCap)
              .map(r => (r, 0, r.length))
          case Some("zstd") =>
            ZstdTransport.contentDecodeCapped(d, o, l, GzBodyCap)
              .map(r => (r, 0, r.length))
          case _ => None
        }
    }
    entity.map { case (d, o, l) =>
      val (cs, bom) = sniffBodyCharset(d, o, l, ct)
      new String(d, o + bom, l - bom, cs)
    }
  }

  /** Charset of a textual HTTP body, from its Content-Type
   * `charset=` parameter: UTF-8 — the modern web's dominant encoding
   * and the WHATWG presumption for undeclared bodies; bytes that
   * don't decode become U+FFFD, never a throw — or the legacy
   * single-byte pair ISO-8859-1 / US-ASCII, which decode exactly.
   * An unknown DECLARED charset falls back to UTF-8-with-replacement
   * (a charset-sniffing pass could widen this; the contract is
   * documented, not silent). A byte-for-byte uniform ISO-8859-1
   * decode would preserve arbitrary bytes but MOJIBAKES every
   * multilingual UTF-8 page — the majority of a real crawl — which
   * poisons language-ID and text quality downstream. */
  private def charsetByName(name: String): java.nio.charset.Charset =
    name match {
      case "iso-8859-1" | "latin-1" | "latin1" | "us-ascii" | "ascii" =>
        java.nio.charset.StandardCharsets.ISO_8859_1
      case "utf-16" | "utf-16le" => java.nio.charset.StandardCharsets.UTF_16LE
      case "utf-16be"            => java.nio.charset.StandardCharsets.UTF_16BE
      case _                     => java.nio.charset.StandardCharsets.UTF_8
    }

  private val CharsetParamRe =
    "(?i)charset\\s*=\\s*[\"']?([A-Za-z0-9_.:-]+)".r

  /** Charset of the DECODED entity bytes, in the precedence browsers
   * implement (WHATWG encoding sniffing, trimmed to what a crawl
   * pipeline needs): a BYTE-ORDER MARK wins over everything (UTF-8 /
   * UTF-16LE / UTF-16BE, stripped from the text), then the HTTP
   * `charset=` parameter, then — for html without a declared
   * charset — a `<meta charset=…>` / `http-equiv` sniff over the
   * first 1024 bytes (ASCII-compatible prefix), then the UTF-8
   * default. Returns (charset, bom_length). */
  private def sniffBodyCharset(b: Array[Byte], off: Int, len: Int,
      ct: Option[String]): (java.nio.charset.Charset, Int) = {
    if (len >= 3 && (b(off) & 0xff) == 0xef && (b(off + 1) & 0xff) == 0xbb &&
        (b(off + 2) & 0xff) == 0xbf)
      return (java.nio.charset.StandardCharsets.UTF_8, 3)
    if (len >= 2 && (b(off) & 0xff) == 0xff && (b(off + 1) & 0xff) == 0xfe)
      return (java.nio.charset.StandardCharsets.UTF_16LE, 2)
    if (len >= 2 && (b(off) & 0xff) == 0xfe && (b(off + 1) & 0xff) == 0xff)
      return (java.nio.charset.StandardCharsets.UTF_16BE, 2)
    val declared = ct.flatMap(CharsetParamRe.findFirstMatchIn(_))
      .map(_.group(1).toLowerCase)
    declared match {
      case Some(name) => (charsetByName(name), 0)
      case None if ct.exists(_.toLowerCase.startsWith("text/html")) =>
        val head = new String(b, off, math.min(len, 1024),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val meta = "(?i)<meta\\s[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9_.:-]+)".r
          .findFirstMatchIn(head).map(_.group(1).toLowerCase)
        (meta.map(charsetByName)
          .getOrElse(java.nio.charset.StandardCharsets.UTF_8), 0)
      case None => (java.nio.charset.StandardCharsets.UTF_8, 0)
    }
  }

  /** HTTP split table over WARC response records — the entry point
   * for actual Common Crawl text extraction: one row per response
   * record whose HTTP head parses, with (media_id, record_idx,
   * http_status, body_offset, body_length, content_type). record_idx
   * matches [[warcRecordTable]]'s, and body_offset is ABSOLUTE in the
   * file, so a ranged read of [body_offset, body_offset+body_length)
   * fetches exactly the document body — composable with the q_w1/q_w5
   * coordinates. Pure map-side like every walker here. */
  def warcHttpTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          warcRecords(r.media).zipWithIndex.flatMap {
            case ((_, cOff, cLen, wtype, _, _, _), i)
                if wtype.exists(_.equalsIgnoreCase("response")) =>
              httpHead(r.media, cOff.toInt, cLen.toInt).map {
                case (status, bodyRel, ctype, _, _, _) =>
                  (r.media_id, i, status, cOff + bodyRel, cLen - bodyRel, ctype)
              }
            case _ => None
          }
        }
      }
      .toDF("media_id", "record_idx", "http_status", "body_offset",
        "body_length", "content_type")
  }

  /** Body-TEXT table over WARC response records — the WET-extraction
   * face a Common Crawl TEXT pipeline runs: for each splittable
   * response with HTTP status 200 and a textual Content-Type
   * (`text/plain`, `text/html`, ...), the decoded body string
   * (media_id, record_idx, content_type, body_text). Downstream,
   * TextAnalysis.htmlVisibleText turns HTML bodies into visible text
   * and langid/quality score the result (q_w7/q_w8) — all pure
   * projection on top of this one map-side pass. Non-200s, non-text
   * types and unsplittable payloads emit nothing; only TEXT rows
   * leave the partition (the blob never shuffles), which is exactly
   * the WET transform: at corpus scale the text is an order of
   * magnitude smaller than the archive. */
  def warcBodyTextTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          warcRecords(r.media).zipWithIndex.flatMap {
            case ((_, cOff, cLen, wtype, _, _, _), i)
                if wtype.exists(_.equalsIgnoreCase("response")) =>
              httpHead(r.media, cOff.toInt, cLen.toInt).collect {
                case (200, bodyRel, Some(ct), cenc, tenc, _)
                    if ct.toLowerCase.startsWith("text/") =>
                  httpBodyText(r.media, (cOff + bodyRel).toInt,
                    (cLen - bodyRel).toInt, Some(ct), cenc, tenc)
                    .map(body => (r.media_id, i, ct, body))
              }.flatten
            case _ => None
          }
        }
      }
      .toDF("media_id", "record_idx", "content_type", "body_text")
  }

  // ------------------------------------------------------------- .warc.gz

  /** Head-buffer size: the inflated prefix kept for the WARC record
   * header parse (real WARC headers are a few hundred bytes; 64 KiB
   * is far past any spec-plausible header). Everything past it is
   * inflated, COUNTED toward the member length / ISIZE check, and
   * discarded — so an arbitrarily large record walks in bounded
   * memory instead of aborting the shard's remaining index rows. */
  private val HeadBytes = 1 << 16

  /** One `.warc.gz` member — how Common Crawl actually ships: ONE
   * gzip member per WARC record, so the record boundary IS the gzip
   * member boundary and a ranged read of
   * [member_offset, member_offset + member_comp_bytes) fetches one
   * record decompressable in isolation. Returns (member_offset,
   * member_comp_bytes, member_uncomp_bytes, content_length,
   * warc_type, target_uri).
   *
   * Each step parses the RFC 1952 header (magic 1f 8b, CM=8, then
   * FLG: FEXTRA/FNAME/FCOMMENT skipped by their own framing, FHCRC
   * by 2), inflates the member with the JDK's raw-DEFLATE Inflater to
   * find where its compressed bytes end — streaming through a
   * fixed-size scratch window: the first [[HeadBytes]] are buffered,
   * the rest only counted — checks the 8-byte trailer is present and
   * its ISIZE matches the inflated length (mod 2^32, per RFC 1952),
   * and reads the WARC header out of the buffered head with the SAME
   * record parser as [[warcRecords]] (the declared Content-Length is
   * validated against the full inflated length, so identity never
   * claims more than the member holds). Tolerance as everywhere: a
   * member that stops parsing — bad header, corrupt DEFLATE, cut
   * trailer, ISIZE mismatch, no parsable record header inside the
   * head window — ends the walk unemitted. */
  /** Low-level member walk shared by the index face
   * ([[warcGzMembers]]) and the WET face ([[warcGzBodyTexts]]): per
   * well-formed member (RFC 1952 framing + DEFLATE boundary + ISIZE
   * check), calls `emit(offset, end, totalInflated, head, headLen)`
   * where `head` holds the first `headCap` inflated bytes; `emit`
   * returns whether to continue. The walk stops at the first
   * malformed member or when `emit` vetoes. */
  private def warcGzRawWalk(b: Array[Byte], headCap: Int)(
      emit: (Long, Int, Long, Array[Byte], Int) => Boolean): Unit = {
    if (b == null) return
    // ONE scratch window per walk, reused across members — a fresh
    // 1 MiB head per member turned the WET walk into allocation churn
    // (measured 3× slower at 50k shards × 4 members)
    val chunk = new Array[Byte](64 * 1024)
    val head = new Array[Byte](headCap)
    var pos = 0
    var ok = true
    while (ok && pos + 10 <= b.length &&
        (b(pos) & 0xff) == 0x1f && (b(pos + 1) & 0xff) == 0x8b && b(pos + 2) == 8) {
      val flg = b(pos + 3) & 0xff
      var p = pos + 10 // past MTIME(4) + XFL + OS
      if ((flg & 0x04) != 0 && p + 2 <= b.length) { // FEXTRA
        p = p + 2 + ((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8))
      }
      if ((flg & 0x08) != 0) { // FNAME: NUL-terminated
        while (p < b.length && b(p) != 0) p += 1
        p += 1
      }
      if ((flg & 0x10) != 0) { // FCOMMENT: NUL-terminated
        while (p < b.length && b(p) != 0) p += 1
        p += 1
      }
      if ((flg & 0x02) != 0) p += 2 // FHCRC
      if (p >= b.length) ok = false
      else {
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(b, p, b.length - p)
          var headLen = 0
          var total = 0L
          var done = false
          var bad = false
          while (!done && !bad) {
            val n =
              try inf.inflate(chunk)
              catch { case _: java.util.zip.DataFormatException => bad = true; 0 }
            if (n > 0) {
              val keep = math.min(n, headCap - headLen)
              if (keep > 0) {
                System.arraycopy(chunk, 0, head, headLen, keep)
                headLen += keep
              }
              total += n // bytes past the head window are counted, not kept
            } else if (inf.finished()) done = true
            else bad = true // needs input past EOF, or dictionary: truncated
          }
          val end = p + inf.getBytesRead.toInt + 8 // DEFLATE bytes + CRC32 + ISIZE
          if (bad || end > b.length) ok = false
          else {
            val isize = (b(end - 4) & 0xffL) | ((b(end - 3) & 0xffL) << 8) |
              ((b(end - 2) & 0xffL) << 16) | ((b(end - 1) & 0xffL) << 24)
            if (isize != (total & 0xffffffffL)) ok = false
            else {
              ok = emit(pos.toLong, end, total, head, headLen)
              pos = end
            }
          }
        } finally inf.end()
      }
    }
  }

  private[ops] def warcGzMembers(b: Array[Byte])
      : Seq[(Long, Long, Long, Long, Option[String], Option[String], Option[String], Option[String])] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Option[String], Option[String], Option[String], Option[String])]
    warcGzRawWalk(b, HeadBytes) { (off, end, total, head, headLen) =>
      warcHeader(java.util.Arrays.copyOf(head, headLen), 0) match {
        case Some((contentOff, clen, wtype, uri, wdate, digest))
            if contentOff + clen <= total =>
          out += ((off, end - off, total, clen, wtype, uri, wdate, digest))
          true
        case _ => false
      }
    }
    out.toSeq
  }

  /** Per-member inflated-text cap for the `.warc.gz` WET face: body
   * text is kept up to this much of each member's inflated prefix
   * (1 MiB — the cap real WET pipelines put on a document anyway);
   * longer bodies emit their prefix with `truncated = true`, never
   * silently. Memory stays bounded per member regardless of record
   * size. */
  private val TextCapBytes = 1 << 20

  /** WET extraction straight off `.warc.gz` members — Common Crawl
   * ships compressed, so the text pipeline must not need a separate
   * inflate step: per member whose record is a splittable 200-status
   * textual-Content-Type response, (member_idx, content_type, body_text,
   * truncated). The walk is [[warcGzRawWalk]] with a [[TextCapBytes]]
   * head window; non-response members and non-text responses are
   * skipped (the walk continues — they are well-formed members), and
   * a body extending past the window emits its kept prefix flagged
   * `truncated = true`. */
  private[ops] def warcGzBodyTexts(
      b: Array[Byte]): Seq[(Int, String, String, Boolean)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Boolean)]
    var idx = 0
    warcGzRawWalk(b, TextCapBytes) { (_, _, total, head, headLen) =>
      // trim to the member's actual inflated prefix: the walk's scratch
      // window is reused across members, so bytes past headLen are
      // stale — parsing them could fabricate a terminator
      val hb = java.util.Arrays.copyOf(head, headLen)
      val res = warcHeader(hb, 0) match {
        case Some((contentOff, clen, wtype, _, _, _)) if contentOff + clen <= total =>
          if (wtype.exists(_.equalsIgnoreCase("response")) && contentOff <= hb.length) {
            val avail = math.min(clen, (hb.length - contentOff).toLong).toInt
            httpHead(hb, contentOff.toInt, avail).foreach {
              case (200, bodyRel, Some(ct), cenc, tenc, _)
                  if ct.toLowerCase.startsWith("text/") =>
                val from = (contentOff + bodyRel).toInt
                val kept = math.min(contentOff + clen, hb.length.toLong).toInt
                val truncated = contentOff + clen > hb.length
                if ((cenc.isEmpty || cenc.contains("identity")) &&
                    (tenc.isEmpty || tenc.contains("identity"))) {
                  // a cap that lands mid-multibyte leaves one U+FFFD
                  // at the truncation point — the `truncated` flag
                  // already marks the row
                  val (cs, bom) = sniffBodyCharset(hb, from,
                    math.max(kept - from, 0), Some(ct))
                  val body = new String(hb, from + bom,
                    math.max(kept - from - bom, 0), cs)
                  out += ((idx, ct, body, truncated))
                } else if (!truncated) {
                  // a transfer-compressed body only decodes WHOLE: a
                  // text cap mid-gzip leaves nothing provable
                  httpBodyText(hb, from, math.max(kept - from, 0),
                    Some(ct), cenc, tenc)
                    .foreach(body => out += ((idx, ct, body, false)))
                }
              case _ => ()
            }
            true
          } else true
        case _ => false
      }
      idx += 1
      res
    }
    out.toSeq
  }

  /** Relational face of [[warcGzBodyTexts]] — the compressed-corpus
   * WET table: (media_id, member_idx, content_type, body_text,
   * truncated), member_idx aligned with [[warcGzMemberTable]]'s so
   * text rows join back to their fetch coordinates. Pure map-side;
   * inflation is partition-local scratch bounded by [[TextCapBytes]]
   * per member, and only text rows leave. */
  def warcGzBodyTextTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          warcGzBodyTexts(r.media).map { case (i, ct, body, trunc) =>
            (r.media_id, i, ct, body, trunc)
          }
        }
      }
      .toDF("media_id", "member_idx", "content_type", "body_text", "truncated")
  }

  /** Relational face of [[warcGzMembers]]: one row per gzip member —
   * the REAL Common Crawl shard list (the fetch coordinates are the
   * compressed member span; the record identity comes from the
   * inflated header). Pure map-side like every walker here: the
   * shard bytes never leave their partition, inflation is a
   * partition-local scratch buffer, and only fixed-shape index rows
   * come out. */
  def warcGzMemberTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          warcGzMembers(r.media).zipWithIndex.map {
            case ((off, clen, ulen, contentLen, wtype, uri, wdate, dg), i) =>
              (r.media_id, i, off, clen, ulen, contentLen, wtype, uri, wdate,
                dg)
          }
        }
      }
      .toDF("media_id", "member_idx", "member_offset", "member_comp_bytes",
        "member_uncomp_bytes", "content_length", "warc_type", "target_uri",
        "warc_date", "payload_digest")
  }

  /** ONE-PASS page table — record identity, HTTP split AND body text
   * from a SINGLE walk of the archive bytes. The link-graph family
   * (q_w23–q_w26) previously composed [[warcRecordTable]] with
   * [[warcBodyTextTable]]: two independent full scans of the shard
   * blobs plus a record-keyed join — at 100 TB that doubles scan IO
   * for one query. This face emits, per WARC record, the full q_w1
   * identity row plus `http_status`/`content_type` (NULL when the
   * payload isn't a splittable HTTP response) and `body_text` (the
   * decoded body, non-NULL only for 200-status textual responses —
   * the WET rule), so host statistics, URL curation and link
   * extraction all derive from one partition-local pass. Persist the
   * result (or write it — real pipelines materialize this
   * intermediate) when more than one stage consumes it. */
  def warcPageTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          warcRecords(r.media).zipWithIndex.map {
            case ((off, cOff, cLen, wtype, uri, date, digest), i) =>
              val http =
                if (wtype.exists(_.equalsIgnoreCase("response")))
                  httpHead(r.media, cOff.toInt, cLen.toInt)
                else None
              val body = http.collect {
                case (200, bodyRel, Some(ct), cenc, tenc, _)
                    if ct.toLowerCase.startsWith("text/") =>
                  httpBodyText(r.media, (cOff + bodyRel).toInt,
                    (cLen - bodyRel).toInt, Some(ct), cenc, tenc)
              }.flatten
              // gzip-wrapped MARKUP bodies (the sitemap.xml.gz shape):
              // 200-status payloads sniffing RFC 1952 magic inflate
              // capped, gated on the inflated prefix opening with '<'
              // so arbitrary .tar.gz downloads are abandoned after one
              // chunk — text/* bodies never take this path
              val gzBody = http.collect {
                case (200, bodyRel, ct, _, _, _)
                    if !ct.exists(_.toLowerCase.startsWith("text/")) =>
                  gunzipMarkupCapped(r.media, (cOff + bodyRel).toInt,
                    (cLen - bodyRel).toInt, GzBodyCap)
              }.flatten
              (r.media_id, i, off, cOff, cLen, wtype, uri, date, digest,
                http.map(_._1), http.flatMap(_._3), body, gzBody,
                http.flatMap(_._6))
          }
        }
      }
      .toDF("media_id", "record_idx", "offset", "content_offset",
        "content_length", "warc_type", "target_uri", "warc_date",
        "payload_digest", "http_status", "content_type", "body_text",
        "body_gz_text", "x_robots_tag")
  }

  /** Managed one-pass page-table scope for MULTI-CONSUMER
   * compositions (the crawl frontier, sitemap discovery, candidate
   * generation): persist the walk, build the composite, materialize
   * its (small) result eagerly, release the cache. Spark plans trees,
   * so without the persist every branch of a diamond re-walks the
   * shard blobs — at 100 TB that multiplies scan IO by the branch
   * count; and without the unpersist each run leaks a
   * MEMORY_AND_DISK InMemoryRelation of decoded bodies into the
   * session (the 200k probe measured the unmanaged q_w30 composition
   * at ~11× one walk). `f`'s result goes through [[Materialize]]
   * before the cache is released, so on a cluster (a context with a
   * checkpoint directory) it is a reliable checkpoint. */
  def withPageTable(spark: SparkSession, media: DataFrame,
      project: Seq[String] = Nil)(
      f: DataFrame => DataFrame): DataFrame = {
    val walk = warcPageTable(spark, media)
    // persist only what the composition reads: the cache WRITE is the
    // scope's main cost, and decoded bodies dominate the row size
    val pages = (if (project.isEmpty) walk
                 else walk.select(project.map(col): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Materialize(f(pages))
    finally pages.unpersist()
  }

  /** Inflated-body cap for gzip-wrapped markup payloads — the
   * sitemaps protocol caps one sitemap at 50 MB uncompressed; this
   * keeps a hostile tiny-gz-bomb member from ballooning a task. */
  private val GzBodyCap = 8 << 20

  /** [[gunzipCapped]] gated on the inflated prefix opening with '<'
   * (markup — the sitemap.xml.gz / compressed-XML shape): non-markup
   * gzip payloads (tarballs, downloads) cost one 8 KiB chunk of
   * inflation, never the full body. Decodes UTF-8: the sitemaps
   * protocol REQUIRES UTF-8 files, so a non-ASCII `<loc>` survives
   * intact (undecodable bytes become U+FFFD, never a throw). */
  private[ops] def gunzipMarkupCapped(
      b: Array[Byte], off: Int, len: Int, cap: Int): Option[String] =
    gunzipCapped(b, off, len, cap, markupGate = true)
      .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))

  /** Inflate ONE RFC 1952 gzip member, capped. Tolerant: corrupt
   * headers, truncation, DataFormatException, a cap overrun, a
   * failed trailer CRC32/ISIZE check all claim nothing. With
   * `markupGate`, a member whose inflated prefix doesn't open with
   * '<' is abandoned after the first chunk. */
  private[ops] def gunzipCapped(b: Array[Byte], off: Int, len: Int,
      cap: Int, markupGate: Boolean = false): Option[Array[Byte]] = {
    val end = off + len
    if (len < 18 || (b(off) & 0xff) != 0x1f || (b(off + 1) & 0xff) != 0x8b ||
        b(off + 2) != 8) return None
    val flg = b(off + 3) & 0xff
    var p = off + 10 // past MTIME(4) + XFL + OS
    if ((flg & 0x04) != 0 && p + 2 <= end)
      p = p + 2 + ((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8))
    if ((flg & 0x08) != 0) { while (p < end && b(p) != 0) p += 1; p += 1 }
    if ((flg & 0x10) != 0) { while (p < end && b(p) != 0) p += 1; p += 1 }
    if ((flg & 0x02) != 0) p += 2
    if (p >= end) return None
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, p, end - p)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var first = true
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => return None }
        if (n == 0) {
          if (!inf.finished()) return None // truncated / needs dictionary
        } else {
          if (first && markupGate) {
            var q = 0
            while (q < n && (buf(q) == ' ' || buf(q) == '\t' ||
                buf(q) == '\r' || buf(q) == '\n')) q += 1
            if (q >= n || buf(q) != '<') return None
          }
          first = false
          out.write(buf, 0, n)
          if (out.size > cap) return None
        }
      }
      if (first && markupGate) return None // empty member
      // trailer check (RFC 1952): CRC32 + ISIZE must be present and
      // match — a truncated or bit-rotted member claims nothing even
      // when the deflate stream happens to terminate cleanly
      val tEnd = p + inf.getBytesRead.toInt + 8
      if (tEnd > end) return None
      val raw = out.toByteArray
      val isize = (b(tEnd - 4) & 0xffL) | ((b(tEnd - 3) & 0xffL) << 8) |
        ((b(tEnd - 2) & 0xffL) << 16) | ((b(tEnd - 1) & 0xffL) << 24)
      if (isize != (raw.length.toLong & 0xffffffffL)) return None
      val crc = new java.util.zip.CRC32()
      crc.update(raw)
      val want = (b(tEnd - 8) & 0xffL) | ((b(tEnd - 7) & 0xffL) << 8) |
        ((b(tEnd - 6) & 0xffL) << 16) | ((b(tEnd - 5) & 0xffL) << 24)
      if (crc.getValue != want) return None
      Some(raw)
    } catch { case _: Exception => None }
    finally inf.end()
  }

  /** Host-level corpus statistics over a WARC record table (q_w1's
   * shape) — the table web-corpus curation actually keys on: spam
   * domains, per-host sampling caps and crawl-politeness budgets are
   * all host-level decisions. Per host (lowercased authority of the
   * record's WARC-Target-URI): record count, distinct-URI count, total
   * declared content bytes, and the last dot-segment as a TLD column.
   * Records without a URI (warcinfo etc.) drop out.
   *
   * Scale shape: aggregation over fixed-shape index rows only — the
   * blobs were left behind by the record walk; the distinct-URI count
   * adds the standard two-phase distinct aggregation, still keyed
   * shuffles of small rows. */
  def urlHostStats(records: DataFrame): DataFrame =
    records
      .filter(col("target_uri").isNotNull)
      .withColumn("host", lower(regexp_extract(col("target_uri"),
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)))
      .filter(col("host") =!= "")
      .groupBy("host")
      .agg(
        count(lit(1)).as("n_records"),
        countDistinct(col("target_uri")).as("n_uris"),
        sum(col("content_length")).as("total_content_bytes"))
      .select(col("host"),
        regexp_extract(col("host"), "\\.([^.]+)$", 1).as("tld"),
        col("n_records"), col("n_uris"), col("total_content_bytes"))

  /** URL keep-latest dedup over a WARC record table — the standard
   * web-corpus rule: a crawl fetches the same URL from many shards
   * over time; keep the MOST RECENT response per target URI
   * (WARC-Date descending; ISO 8601 strings order lexicographically,
   * so no cross-engine timestamp parsing is needed), tie-broken
   * deterministically by (media_id, record_idx). One row per distinct
   * URI with the kept record's coordinates and the fetch count.
   *
   * Scale shape: one URI-keyed AGGREGATION over fixed-shape index
   * rows — max_by over a lexicographic ordering struct plus a count,
   * never a self-join and never a window: aggregates combine
   * MAP-SIDE, so a URI fetched millions of times (hot pages across
   * many snapshots) shrinks to one row per partition before the
   * shuffle instead of sorting through a single window task — the
   * same skew-immunity argument as [[revisitResolve]], measured
   * there at the 200k-shard probe. The ordering struct
   * (warc_date, -media_id, -record_idx) is unique per row, so the
   * winner is deterministic. */
  def urlDedup(records: DataFrame): DataFrame =
    records
      .filter(lower(col("warc_type")) === "response" &&
        col("target_uri").isNotNull)
      .groupBy("target_uri")
      .agg(
        max_by(
          struct(col("media_id"), col("record_idx"), col("warc_date")),
          struct(col("warc_date"), (-col("media_id")).as("nm"),
            (-col("record_idx")).as("nr"))).as("kept"),
        count(lit(1)).as("n_fetches"))
      .select(col("target_uri"), col("kept.media_id"),
        col("kept.record_idx"), col("kept.warc_date"), col("n_fetches"))

  /** Resolve WARC `revisit` records to their ORIGINAL captures —
   * Common Crawl dedup semantics: when a recrawl's payload digest
   * matches an earlier capture, the archive ships a tiny `revisit`
   * record carrying the original's WARC-Payload-Digest instead of
   * the bytes, so a keep-latest pipeline must digest-join revisits
   * back to the response members that hold the content. Input is
   * the [[warcGzMemberTable]] shape; per revisit member with a
   * digest, the original = the EARLIEST response member carrying the
   * same digest (WARC-Date, then media/member order — deterministic
   * when a digest repeats). Emits the revisit identity plus the
   * original's ranged-read coordinates — exactly what a CDX consumer
   * needs to fetch the deduplicated content.
   *
   * Scale shape: one digest-keyed join of fixed-shape index rows
   * (the shards never move); revisits are a small fraction of a
   * crawl and the original side ships only digest + coordinates.
   * The per-digest winner is a MIN over a lexicographic struct, not
   * a window: min aggregates combine MAP-SIDE, so the popular
   * digests every real crawl has (empty pages, error bodies —
   * millions of identical captures) shrink to one row per partition
   * before the shuffle instead of funnelling through one window
   * task (the 200k-shard probe measured the window form 7×
   * superlinear under exactly that skew). */
  def revisitResolve(members: DataFrame): DataFrame = {
    val revisits = members
      .filter(lower(col("warc_type")) === "revisit" &&
        col("payload_digest").isNotNull)
      .select(col("payload_digest"), col("media_id"), col("member_idx"),
        col("target_uri"), col("warc_date"))
    val originals = members
      .filter(lower(col("warc_type")) === "response" &&
        col("payload_digest").isNotNull)
      .groupBy("payload_digest")
      // min_by over (date, media, member) picks the EARLIEST capture
      // deterministically. The ordering coalesces a NULL WARC-Date to
      // a sentinel ABOVE every ISO 8601 string: Spark struct ordering
      // sorts NULL fields first while SQL ORDER BY defaults to NULLS
      // LAST, so without the sentinel a dateless response member
      // would win here and lose in any SQL consumer of the same rule
      // — dateless members stay eligible (a digest whose only capture
      // lacks a date still resolves) but never beat a dated one
      .agg(min_by(struct(
        col("warc_date").as("orig_date"),
        col("media_id").as("orig_media_id"),
        col("member_idx").as("orig_member_idx"),
        col("target_uri").as("orig_uri"),
        col("member_offset").as("orig_member_offset"),
        col("member_comp_bytes").as("orig_member_comp_bytes")),
        struct(coalesce(col("warc_date"), lit("￿")).as("d"),
          col("media_id"), col("member_idx"))).as("o"))
      .select(col("payload_digest"),
        col("o.orig_media_id"), col("o.orig_member_idx"),
        col("o.orig_uri"), col("o.orig_date"),
        col("o.orig_member_offset"), col("o.orig_member_comp_bytes"))
    revisits.join(originals, Seq("payload_digest"))
  }

  /** Per-host page cap over the URL-deduped crawl — the curation step
   * after keep-latest dedup: at most `n` pages per host, picked in
   * stable URI-hash order (membership is a pure function of the URI,
   * so the kept set never changes under re-partitioning or re-runs,
   * and `pick <= m` nests a smaller sample for every m < n). The
   * dominance control that stops one crawler-trap domain from
   * swamping the corpus — the crawl-side twin of
   * [[Sampling.perSourceCap]].
   *
   * Scale shape: host extraction is map-side; one host-keyed window
   * shuffle over fixed-shape index rows (the deduped URL table, many
   * orders smaller than the shards it indexes). A pathological
   * mega-host is bounded by the window's per-key sort spilling, and
   * the emitted set per host is at most `n` rows. */
  def hostCap(deduped: DataFrame, n: Int = 100): DataFrame = {
    val w = Window.partitionBy("host").orderBy(
      pmod(Dedup.mdhash(col("target_uri")), lit(1000000L)), col("target_uri"))
    deduped
      .withColumn("host", lower(regexp_extract(col("target_uri"),
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)))
      .filter(col("host") =!= "")
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= n)
      .select(col("host"), col("target_uri"), col("media_id"),
        col("record_idx"), col("pick"))
  }

  /** Hosts every curation run blocks — stand-in for the multi-million
   * row adult/spam domain lists (UT1-style) real pipelines broadcast.
   * Kept tiny here; the JOIN SHAPE is what scale cares about. */
  def defaultBlockedHosts: Seq[String] =
    (0 until 3).map(i => s"bet-casino$i.example.net")

  /** URL rule filter — the curation stage that rejects pages on the
   * URI ALONE, before any byte of content is fetched or parsed
   * (RefinedWeb/CCNet run it first for exactly that reason: at crawl
   * scale the rule stage saves the fetch). Input: any frame with a
   * `target_uri` column (the q_w1 record table, or the q_w11 deduped
   * URL table). Output: every input row plus `host` and a
   * `blocked_reason` AUDIT column — NULL for kept rows, else the
   * FIRST matching rule in fixed precedence order:
   *
   *   1. `blocked_host`     — host on the blocklist (exact match);
   *   2. `ip_host`          — IP-literal authority (no domain
   *                           reputation, classic proxy/trap sign);
   *   3. `banned_extension` — static-asset/binary path suffix
   *                           (.png/.css/.js/...): not a document;
   *   4. `query_spam`       — session-id / utm tracking params: the
   *                           same page under infinite URL aliases;
   *   5. `path_depth`       — >6 path segments: crawler-trap
   *                           calendars/faceted listings;
   *   6. `url_length`       — URI longer than 2048 chars.
   *
   * Rows with no parsable `scheme://authority` prefix get
   * `blocked_reason = 'unparsable'`. All regexes are RE2-safe (no
   * backrefs/lookaround) so the DuckDB oracle replays them verbatim.
   *
   * Scale shape: rules 2–6 are pure codegen'd map-side projection
   * (zero shuffle). The blocklist arrives as a DataFrame and joins
   * BROADCAST left — at real scale that list is millions of hosts
   * but still MiBs, so it ships to every executor once and the
   * record table never shuffles for it. Keep/reject splits
   * downstream are `blocked_reason IS NULL` filters that Catalyst
   * pushes into this projection. */
  def urlFilter(urls: DataFrame, blockedHosts: DataFrame): DataFrame = {
    val host = lower(regexp_extract(col("target_uri"),
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    // path = after authority, before ? or #; query = after ? before #
    val path = regexp_extract(col("target_uri"),
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val query = regexp_extract(col("target_uri"), "\\?([^#]*)", 1)
    urls
      .withColumn("host", host)
      .join(broadcast(blockedHosts.select(col("blocked_host"))),
        col("host") === col("blocked_host"), "left")
      .withColumn("blocked_reason",
        when(col("target_uri").isNull || col("host").isNull ||
          col("host") === "", "unparsable")
          .when(col("blocked_host").isNotNull, "blocked_host")
          .when(col("host").rlike("^\\d{1,3}(\\.\\d{1,3}){3}(:\\d+)?$"),
            "ip_host")
          .when(path.rlike(
            "(?i)\\.(png|jpe?g|gif|webp|ico|svg|css|js|woff2?|ttf|mp4|webm|mp3|zip|gz|tar|exe|dmg|iso)$"),
            "banned_extension")
          .when(query.rlike(
            "(?i)(^|&)(sessionid|phpsessid|jsessionid|sid|utm_[a-z]+)="),
            "query_spam")
          .when(length(regexp_replace(path, "[^/]", "")) > lit(6),
            "path_depth")
          .when(length(col("target_uri")) > lit(2048), "url_length"))
      .drop("blocked_host")
  }

  /** URL canonicalization + SURT key — the normalization every crawl
   * dedup really keys on (raw URI equality misses the same page
   * under `HTTPS://WWW.…:443/…?utm_…#frag` noise). Adds two columns:
   *
   *  - `canonical_uri`: scheme and host lowercased, leading `www.`
   *    dropped, the scheme's default port (`:80`/`:443`) dropped,
   *    empty path → `/`, the fragment dropped, and the query
   *    rewritten as the lexicographically SORTED non-tracking params
   *    (utm_*, fbclid, gclid, msclkid, ref dropped; no params left → no
   *    `?`). Sorting makes param order irrelevant, exactly the
   *    equivalence a frontier wants.
   *  - `surt_key`: the Sort-friendly URI Reordering Transform of the
   *    canonical form (`org,example,data0)/page3?a=1`) — reversed
   *    host labels comma-joined, `)` separator, then path+query. The
   *    key Common Crawl's own index sorts on: byte-sorting it
   *    clusters a domain's pages together, so a range scan = a
   *    domain scan.
   *
   * Unparsable URIs (no `scheme://authority`) get NULL for both.
   *
   * Scale shape: pure codegen'd map-side projection — regex/array
   * expressions only, zero shuffle, zero UDF; at 100 TB this runs
   * inside the record-walk stage. */
  def urlCanonical(urls: DataFrame): DataFrame = {
    val scheme = lower(regexp_extract(col("target_uri"),
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth0 = lower(regexp_extract(col("target_uri"),
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val auth1 = regexp_replace(auth0, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(auth1, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth1, ":443$", ""))
      .otherwise(auth1)
    val rawPath = regexp_extract(col("target_uri"),
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    // higher-order array functions (filter with a lambda) only parse
    // through expr(), so the param pipeline is one SQL fragment
    val keptParams =
      s"""array_sort(filter(split(regexp_extract(target_uri, '\\\\?([^#]*)', 1), '&'),
         | p -> p != '' AND NOT p rlike '$TrackingParamRe'))""".stripMargin
    urls
      .withColumn("c_host", host)
      .withColumn("c_q", expr(keptParams))
      .withColumn("c_tail", concat(path,
        when(size(col("c_q")) > 0,
          concat(lit("?"), array_join(col("c_q"), "&"))).otherwise(lit(""))))
      .withColumn("canonical_uri",
        when(col("c_host") === "", lit(null).cast("string"))
          .otherwise(concat(scheme, lit("://"), col("c_host"), col("c_tail"))))
      .withColumn("surt_key",
        when(col("c_host") === "", lit(null).cast("string"))
          .otherwise(concat(
            array_join(reverse(split(col("c_host"), "\\.")), ","),
            lit(")"), col("c_tail"))))
      .drop("c_host", "c_q", "c_tail")
  }

  /** Tracking params every canonicalizer strips — anchored, RE2-safe
   * so the oracle replays it verbatim. */
  val TrackingParamRe = "(?i)^(utm_[a-z]+|fbclid|gclid|msclkid|ref)="

  /** One crawl snapshot reduced to (target_uri, digest): keep-latest
   * dedup within the snapshot, then the MD5 of the kept record's
   * extracted body text — the page-identity table an incremental
   * crawl pipeline diffs. `texts` is the (media_id, record_idx,
   * body_text) face ([[warcBodyTextTable]]); pages without
   * extractable text drop out (no digest, nothing to diff). Note the
   * deliberate interaction: dedup runs over ALL response fetches, so
   * a page whose LATEST fetch is non-extractable (a 404 re-fetch, a
   * truncated body) drops out even if an older fetch had text — the
   * page's current state is "not a document", which is what an
   * incremental pipeline should see. */
  def pageDigests(records: DataFrame, texts: DataFrame): DataFrame =
    urlDedup(records)
      .join(texts.select(col("media_id"), col("record_idx"),
        col("body_text")), Seq("media_id", "record_idx"))
      .select(col("target_uri"), md5(col("body_text")).as("digest"))

  /** Cross-snapshot crawl DELTA — the operation that makes a 100 TB
   * monthly recrawl tractable: diff the new snapshot's page-identity
   * table against the previous one and process only what moved.
   * Emits every URI present in either snapshot with its digests and
   * a status from the NEW snapshot's perspective: `added` (new
   * only), `removed` (old only), `changed` (both, digest differs),
   * `unchanged` (both, digest equal — skip downstream!).
   *
   * Scale shape: one URI-keyed full-outer join of two digest tables
   * (index rows: a URI + 32-hex chars each) — the shards themselves
   * are never re-read for the unchanged set, which at recrawl scale
   * is most of the corpus. */
  def crawlDelta(oldPages: DataFrame, newPages: DataFrame): DataFrame =
    oldPages.select(col("target_uri"), col("digest").as("old_digest"))
      .join(
        newPages.select(col("target_uri"), col("digest").as("new_digest")),
        Seq("target_uri"), "full_outer")
      .withColumn("status",
        when(col("old_digest").isNull, "added")
          .when(col("new_digest").isNull, "removed")
          .when(col("old_digest") === col("new_digest"), "unchanged")
          .otherwise("changed"))

  /** Single-pass per-record page digests — the STREAMING-friendly
   * face of [[pageDigests]]: one map-side walk emits
   * (target_uri, digest) per 200/text response record, no dedup (a
   * live ingest sees each fetch once; keep-latest stays a batch /
   * compaction decision). The digest is the MD5 hex of the body text
   * as [[warcBodyTextTable]] would carry it (ISO-8859-1 decode,
   * hashed over its UTF-8 re-encoding) — byte-identical to Spark's
   * `md5(body_text)` in the batch face for ALL byte values, so the
   * streaming and batch deltas never disagree on a page identity. */
  def pageDigestTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { r =>
          warcRecords(r.media).flatMap {
            case (_, cOff, cLen, wtype, Some(uri), _, _)
                if wtype.exists(_.equalsIgnoreCase("response")) =>
              httpHead(r.media, cOff.toInt, cLen.toInt).collect {
                case (200, bodyRel, Some(ct), cenc, tenc, _)
                    if ct.toLowerCase.startsWith("text/") =>
                  // the digest hashes the SAME decoded text the WET
                  // face emits (charset + Content-Encoding aware),
                  // re-encoded UTF-8 — batch and streaming delta
                  // faces stay digest-compatible
                  httpBodyText(r.media, (cOff + bodyRel).toInt,
                    (cLen - bodyRel).toInt, Some(ct), cenc, tenc).map { text =>
                    md.reset()
                    md.update(text.getBytes(
                      java.nio.charset.StandardCharsets.UTF_8))
                    (uri, md.digest().map("%02x".format(_)).mkString)
                  }
              }.flatten
            case _ => None
          }
        }
      }
      .toDF("target_uri", "digest")
  }

  /** Incremental crawl delta against a STATIC previous snapshot —
   * the streaming face of [[crawlDelta]]: as new fetches arrive,
   * each page's digest left-joins the previous snapshot's digest
   * table and gets `added`/`changed`/`unchanged` immediately
   * (`removed` inherently needs a full pass over the old snapshot —
   * that stays the batch face's job). Stateless per row, so it runs
   * unchanged on a file-source stream in append mode; the old
   * snapshot broadcast-joins when it fits, host-bucketing co-locates
   * it when it doesn't. */
  def incrementalDelta(newPages: DataFrame, oldPages: DataFrame): DataFrame =
    newPages.select(col("target_uri"), col("digest").as("new_digest"))
      .join(oldPages.select(col("target_uri"), col("digest").as("old_digest")),
        Seq("target_uri"), "left")
      .withColumn("status",
        when(col("old_digest").isNull, "added")
          .when(col("old_digest") === col("new_digest"), "unchanged")
          .otherwise("changed"))

  /** Parse robots.txt rule lines — the crawl-politeness face: which
   * prefixes a host's operator allows/disallows. Input rows are
   * (host, body); output one row per `Allow:`/`Disallow:` line whose
   * governing `User-agent` group (the most recent UA line above it)
   * is `*` — a trailing specific-bot group is correctly ignored.
   * Duplicate rules collapse (every shard that fetched the host's
   * robots.txt serves the same content).
   *
   * Scale shape: line explode + one host-keyed window to attribute
   * lines to UA groups + a distinct — all over (host, short-string)
   * rows; robots files are KiBs, the rule table is tiny relative to
   * the page table it gates. */
  def robotsRules(robots: DataFrame): DataFrame =
    robotsRuleLines(robots).distinct()

  /** STATELESS per-file robots rule parse — one (host, rule_type,
   * prefix) row per `*`-group Allow/Disallow line, duplicates across
   * shards kept ([[robotsRules]] adds the distinct). The UA-group
   * attribution is a LEFT FOLD over the file's own lines
   * (`aggregate` higher-order function carrying the last-seen
   * User-agent), not a window: zero exchanges, so the parse runs
   * unchanged on a file-source STREAM in append mode — the
   * batch-equivalence face ShardListStreamSpec pins. */
  def robotsRuleLines(robots: DataFrame): DataFrame = {
    def parsed(line: Column) = (
      regexp_extract(line, "(?i)^[ \\t]*user-agent[ \\t]*:[ \\t]*(\\S+)", 1),
      lower(regexp_extract(line, "(?i)^[ \\t]*(disallow|allow)[ \\t]*:", 1)),
      trim(regexp_extract(line,
        "(?i)^[ \\t]*(disallow|allow)[ \\t]*:(.*)$", 2)))
    val init = struct(
      lit(null).cast("string").as("agent"),
      array().cast("array<struct<rule_type:string,prefix:string>>")
        .as("rules"))
    val folded = aggregate(
      split(col("body"), "\n"),
      init,
      (acc, line) => {
        val (ua, rt, pfx) = parsed(line)
        struct(
          when(ua =!= "", ua).otherwise(acc.getField("agent")).as("agent"),
          when(acc.getField("agent") === "*" && rt =!= "" && pfx =!= "",
            array_append(acc.getField("rules"),
              struct(rt.as("rule_type"), pfx.as("prefix"))))
            .otherwise(acc.getField("rules")).as("rules"))
      },
      acc => acc.getField("rules"))
    robots
      .select(col("host"), explode(folded).as("r"))
      .select(col("host"), col("r.rule_type").as("rule_type"),
        col("r.prefix").as("prefix"))
  }

  /** Per-host robots DIRECTIVES beyond allow/disallow — the
   * politeness knobs a crawl scheduler actually throttles on:
   *
   *  - `crawl_delay_s`: the `Crawl-delay` of the `*` user-agent
   *    group (the de-facto standard line; other groups' delays are
   *    correctly ignored). Several fetches of the same robots.txt
   *    collapse via MIN — the conservative (slowest) reading when a
   *    host ever served different values.
   *  - `sitemaps`: every `Sitemap:` URL in the file, group-agnostic
   *    per the sitemaps protocol, deduped + sorted, comma-joined.
   *
   * Input rows are (host, body) like [[robotsRules]]. Scale shape:
   * line explode + the same host-keyed UA-attribution window + one
   * host aggregation — tiny rows throughout. */
  def robotsDirectives(robots: DataFrame): DataFrame = {
    val ua = regexp_extract(col("line"),
      "(?i)^[ \\t]*user-agent[ \\t]*:[ \\t]*(\\S+)", 1)
    val cd = regexp_extract(col("line"),
      "(?i)^[ \\t]*crawl-delay[ \\t]*:[ \\t]*([0-9]+)", 1)
    val sm = trim(regexp_extract(col("line"),
      "(?i)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)", 1))
    val w = Window.partitionBy("host").orderBy("line_no")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    robots
      .select(col("host"),
        posexplode(split(col("body"), "\n")).as(Seq("line_no", "line")))
      .withColumn("agent",
        last(when(ua =!= "", ua), ignoreNulls = true).over(w))
      .groupBy("host")
      .agg(
        min(when(col("agent") === "*" && cd =!= "", cd.cast("long")))
          .as("crawl_delay_s"),
        array_join(array_sort(collect_set(when(sm =!= "", sm))), ",")
          .as("sitemaps"))
  }

  /** `<meta name=robots …>` content extraction regexes, shared
   * VERBATIM with the q_w37 oracle (RE2 both sides): real HTML puts
   * the attributes in either order, so both forms are probed and
   * their captures concatenate. */
  private[graft] val MetaRobotsNameFirst: String =
    "(?is)<meta\\s[^>]*?name\\s*=\\s*[\"']?robots[\"']?[^>]*?" +
      "content\\s*=\\s*[\"']([^\"']*)[\"']"
  private[graft] val MetaRobotsContentFirst: String =
    "(?is)<meta\\s[^>]*?content\\s*=\\s*[\"']([^\"']*)[\"'][^>]*?" +
      "name\\s*=\\s*[\"']?robots[\"']?"

  /** Per-page robots META directives (q_w37) — the no-train signal
   * responsible corpus builders honor: `noindex` pages drop from a
   * training corpus, `nofollow` pages contribute no out-links. Per
   * 200-status response with a URI, one row with `noindex` and
   * `nofollow` booleans token-matched (RFC 9309-adjacent de-facto
   * grammar: comma-separated directives; `none` implies both)
   * against the UNION of the html `<meta name=robots>` content —
   * both attribute orders — and the `X-Robots-Tag` response header
   * (which non-html responses carry too). Input is the
   * [[warcPageTable]] shape.
   *
   * Scale shape: pure map-side regex projection over the page walk —
   * zero exchanges. */
  def robotsMetaTable(pages: DataFrame): DataFrame = {
    val directives = lower(concat_ws(",",
      coalesce(regexp_extract(col("body_text"),
        MetaRobotsNameFirst, 1), lit("")),
      coalesce(regexp_extract(col("body_text"),
        MetaRobotsContentFirst, 1), lit("")),
      coalesce(col("x_robots_tag"), lit(""))))
    def tok(t: String) =
      directives.rlike(s"(^|[ ,])($t|none)([ ,]|$$)")
    pages
      .filter(lower(col("warc_type")) === "response" &&
        col("target_uri").isNotNull && col("http_status") === 200)
      .select(col("media_id"), col("record_idx"), col("target_uri"),
        tok("noindex").as("noindex"), tok("nofollow").as("nofollow"))
  }

  /** WAT-style metadata table — the third Common Crawl artifact
   * beside the archive (WARC) and the text (WET): per response
   * record a compact metadata row a consumer can query WITHOUT
   * touching payloads — fetch identity (URI, date, digest), the HTTP
   * envelope (status, Content-Type, declared length; NULL when the
   * payload isn't a splittable HTTP message), and two cheap content
   * signals for the 200/textual pages the WET rule carries: the html
   * `<title>` and the anchor count. Input is the one-pass
   * [[warcPageTable]] shape.
   *
   * Scale shape: pure projection over the page walk — zero
   * additional exchanges; at corpus scale the WAT table is the
   * index-sized derivative everything else prioritises with. */
  def watMetadata(pages: DataFrame): DataFrame = {
    val title = trim(regexp_extract(col("body_text"),
      "(?is)<title[^>]*>([^<]*)</title>", 1))
    val isHtml = col("body_text").isNotNull &&
      lower(col("content_type")).startsWith("text/html")
    pages
      .filter(lower(col("warc_type")) === "response" &&
        col("target_uri").isNotNull)
      .select(col("media_id"), col("record_idx"), col("target_uri"),
        col("warc_date"), col("payload_digest"), col("http_status"),
        col("content_type"), col("content_length"),
        when(isHtml && title =!= "", title).as("title"),
        when(isHtml, size(regexp_extract_all(col("body_text"),
          lit(HrefRegex), lit(1))).cast("long"))
          .as("n_anchors"))
  }

  /** Sitemap-DOCUMENT candidate rows: pages whose body (plain text or
   * the inflated `.xml.gz` shape) opens as `<urlset>`/`<sitemapindex>`
   * after an optional XML prolog. Pure map-side filter — the result
   * is KiBs-to-MBs per host, tiny next to the page table. */
  private def sitemapDocs(pages: DataFrame): DataFrame =
    pages
      .filter(col("target_uri").isNotNull)
      .select(col("target_uri"),
        coalesce(col("body_text"), col("body_gz_text")).as("sm_body"))
      .filter(col("sm_body").isNotNull && col("sm_body")
        .rlike("(?s)^\\s*(<\\?xml[^>]*>\\s*)?<(urlset|sitemapindex)[\\s>]"))

  /** Every `Sitemap:` URL declared by a robots.txt fetch — the
   * sitemaps protocol's discovery channel (the URLs are arbitrary,
   * NOT the well-known path). Map-side line explode, same regex as
   * [[robotsDirectives]]. */
  private def robotsSitemapUris(pages: DataFrame): DataFrame =
    pages
      .filter(col("target_uri").endsWith("/robots.txt") &&
        col("body_text").isNotNull)
      .select(explode(split(col("body_text"), "\n")).as("line"))
      .select(trim(regexp_extract(col("line"),
        "(?i)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)", 1)).as("target_uri"))
      .filter(col("target_uri") =!= "")

  /** The ACCEPTED sitemap-document URI set — protocol-faithful
   * discovery: a document counts as a sitemap when (a) a robots.txt
   * `Sitemap:` line declares it (arbitrary URL), (b) it sits at the
   * well-known `/sitemap.xml` path, or (c) a level-(a|b)
   * `<sitemapindex>` lists it in a `<sitemap><loc>` block (ONE level
   * of recursion — what the protocol's files-of-files shape needs;
   * deeper nesting is out of contract). Sitemap-LOOKING documents at
   * undeclared URIs are NOT trusted.
   *
   * Scale shape: the declared set and the sniffed document set are
   * both host-scale (tiny next to the page table); the level-0 semi
   * join and the child-URI distinct exchange bare URI strings. */
  def sitemapAcceptedUris(pages: DataFrame): DataFrame = {
    val docs = sitemapDocs(pages)
    val level0 = robotsSitemapUris(pages)
      .unionByName(docs.filter(col("target_uri").endsWith("/sitemap.xml"))
        .select("target_uri"))
      .distinct()
    val children = docs
      .join(level0, Seq("target_uri"), "left_semi")
      .select(explode(regexp_extract_all(col("sm_body"),
        lit("(?s)<sitemap>(.*?)</sitemap>"), lit(1))).as("blk"))
      .select(trim(regexp_extract(col("blk"),
        "<loc>([^<]*)</loc>", 1)).as("target_uri"))
      .filter(col("target_uri") =!= "")
    level0.unionByName(children).distinct()
  }

  /** Parse sitemap URL entries — the other half of the
   * politeness/coverage loop: robots' `Sitemap:` lines ([[robotsDirectives]])
   * and the well-known path name these documents (gzipped `.xml.gz`
   * bodies inflate in the page walk; `<sitemapindex>` files recurse
   * one level via [[sitemapAcceptedUris]]), and their `<loc>` entries
   * are the operator-DECLARED page list a frontier merges with
   * link-derived candidates (sitemaps surface pages the link graph
   * never reaches). Input rows carry `target_uri` + `body_text` +
   * `body_gz_text` (the page-table shape); per `<url>` block one row
   * (host, loc, lastmod — NULL when the block has none), deduped
   * across the shards that fetched the same sitemap.
   *
   * Scale shape: map-side sniff + regex explode, the acceptance semi
   * join over host-scale URI sets, and one distinct over
   * (host, loc, lastmod) index rows. */
  def sitemapUrls(pages: DataFrame): DataFrame =
    sitemapUrlLines(pages, sitemapAcceptedUris(pages)).distinct()

  /** Per-fetch sitemap parse against a GIVEN accepted-URI set —
   * [[sitemapUrls]] without the cross-shard distinct and with the
   * discovery precomputed, so it runs unchanged on a file-source
   * stream in append mode (a stream-static semi join; the
   * batch-equivalence face ShardListStreamSpec pins, same split as
   * robotsRuleLines / robotsRules). */
  def sitemapUrlLines(pages: DataFrame, acceptedUris: DataFrame): DataFrame = {
    val lastmod = regexp_extract(col("block"),
      "<lastmod>([^<]*)</lastmod>", 1)
    sitemapDocs(pages)
      .join(acceptedUris, Seq("target_uri"), "left_semi")
      .select(lower(regexp_extract(col("target_uri"),
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)).as("host"),
        explode(regexp_extract_all(col("sm_body"),
          lit("(?s)<url>(.*?)</url>"), lit(1))).as("block"))
      .select(col("host"),
        regexp_extract(col("block"), "<loc>([^<]*)</loc>", 1).as("loc"),
        when(lastmod =!= "", lastmod).as("lastmod"))
      .filter(col("loc") =!= "")
  }

  /** CRAWL CANDIDATES (q_w30) — "what to fetch next": the union of
   * the operator-DECLARED pages (sitemap `<loc>` entries) and the
   * link-DISCOVERED pages (out-links of the crawled HTML), minus
   * everything the crawl already fetched — per candidate URI its
   * host, how each source proposed it (`in_sitemap` / `n_inlinks`)
   * and the sitemap's `lastmod` when declared. Input is the one-pass
   * [[warcPageTable]] shape; robots/blocklist gating stays the
   * frontier's job (q_w26) — this is the seed set it prioritises.
   *
   * Scale shape: two map-side extractions (sitemap explode, href
   * explode), one URI-keyed aggregation of the union, one LEFT ANTI
   * join against the fetched-URI index — every exchange ships URI
   * strings + two small columns, never pages. */
  def crawlCandidates(pages: DataFrame): DataFrame =
    crawlCandidatesFrom(
      sitemapUrls(pages),
      linkTable(pages.filter(col("body_text").isNotNull &&
        lower(col("content_type")).startsWith("text/html"))),
      pages.filter(lower(col("warc_type")) === "response" &&
        col("target_uri").isNotNull).select("target_uri"))

  /** [[crawlCandidates]] over PRECOMPUTED derivatives — the shape a
   * streaming deployment uses: the stateless extracts (sitemap url
   * lines, link rows, fetched URIs) accumulate per micro-batch into
   * tiny index stores, and the frontier recomputes over them on a
   * schedule (ShardListStreamSpec pins batch-equivalence). Duplicate
   * sitemap/fetched rows are harmless by construction (max/anti-join
   * semantics); link rows arrive exactly once per page. */
  def crawlCandidatesFrom(sitemapUrls: DataFrame, links: DataFrame,
      fetchedUris: DataFrame): DataFrame = {
    val sm = sitemapUrls
      .select(col("loc").as("target_uri"), col("lastmod"),
        lit(1L).as("sm"), lit(0L).as("lk"))
    val lk = links
      .select(col("link").as("target_uri"),
        lit(null).cast("string").as("lastmod"),
        lit(0L).as("sm"), lit(1L).as("lk"))
    val fetched = fetchedUris.select("target_uri").distinct()
    sm.unionByName(lk)
      .groupBy("target_uri")
      .agg(max(col("sm")).cast("boolean").as("in_sitemap"),
        sum(col("lk")).as("n_inlinks"),
        max(col("lastmod")).as("lastmod"))
      .join(fetched, Seq("target_uri"), "left_anti")
      .withColumn("host", lower(regexp_extract(col("target_uri"),
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)))
  }

  /** Longest-match robots verdict per page — the precedence every
   * evaluator implements (RFC 9309 §2.2.2): among the host's rules
   * MATCHING the page path — plain prefixes plus the §2.2.3 wildcard
   * forms (`*` any-run, trailing `$` end anchor) — the one with the
   * most octets wins; an `allow` wins a length tie. Pages on hosts
   * with no matching rule are allowed. Input pages need `target_uri`
   * (unique — run after keep-latest dedup) and join the rule table
   * host-keyed; emits the pages with `robots_allowed`,
   * `matched_rule`, `matched_prefix`.
   *
   * Scale shape: one host-keyed join (page index rows × tiny rule
   * rows — a few rules per host, so the fan-out is bounded) and one
   * per-page window to pick the winning rule. The precedence is
   * RELATIONAL (rank over rules), not an evaluator loop. */
  def robotsFilter(pages: DataFrame, rules: DataFrame): DataFrame = {
    val rawPath = regexp_extract(col("target_uri"),
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val w = Window.partitionBy("host", "target_uri")
      .orderBy(col("hit").desc, length(col("prefix")).desc,
        col("rule_type").asc, col("prefix").asc)
    // RFC 9309 §2.2.3 wildcard patterns: `*` matches any character
    // run and a TRAILING `$` anchors the end of the path (a `$`
    // anywhere else is literal). A rule carrying either compiles to
    // an anchored regex (metacharacters escaped, `*` → `.*`) —
    // computed on the tiny RULES side before the join; wildcardless
    // rules keep the codegen'd startsWith fast path. Precedence stays
    // the raw rule's OCTET LENGTH (wildcards count), per the RFC.
    // Backtracking defense: star RUNS collapse (semantically
    // identical) and a rule still carrying more than 8 wildcard
    // segments NEVER matches — a documented implementation limit the
    // oracle mirrors: this engine evaluates the compiled pattern with
    // a backtracking matcher, and an adversarial robots.txt shipping
    // `/*a*a*a…$`-shaped rules must not be able to pin a task CPU
    val endAnchor = col("prefix").endsWith("$")
    val core0 = when(endAnchor,
      col("prefix").substr(lit(1), length(col("prefix")) - 1))
      .otherwise(col("prefix"))
    val core = regexp_replace(core0, "\\*+", "*")
    val nStars = length(core) -
      length(regexp_replace(core, "\\*", ""))
    val escaped = regexp_replace(core,
      "([\\\\^$.|?+\\[\\]{}()])", "\\\\$1")
    val hasWild = col("prefix").contains("*") || endAnchor
    val rulesRx = rules
      .withColumn("has_wild", hasWild)
      .withColumn("rule_rx",
        when(hasWild && nStars <= 8,
          concat(lit("^"), regexp_replace(escaped, "\\*", ".*"),
            when(endAnchor, lit("$")).otherwise(lit("")))))
    pages
      .withColumn("host", lower(regexp_extract(col("target_uri"),
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)))
      .withColumn("path", when(rawPath === "", lit("/")).otherwise(rawPath))
      .join(rulesRx, Seq("host"), "left")
      .withColumn("hit",
        col("prefix").isNotNull &&
          when(col("has_wild"),
            col("rule_rx").isNotNull &&
              regexp_like(col("path"), col("rule_rx")))
          .otherwise(col("path").startsWith(col("prefix"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .withColumn("robots_allowed",
        !(col("hit") && col("rule_type") === "disallow"))
      .withColumn("matched_rule", when(col("hit"), col("rule_type")))
      .withColumn("matched_prefix", when(col("hit"), col("prefix")))
      .drop("prefix", "rule_type", "hit", "rnk", "path", "rule_rx",
        "has_wild")
  }

  /** Extract out-links from HTML page bodies — the raw material of
   * every link-based curation signal (spam farms are link-isolated,
   * high-quality pages are widely referenced; host-level degree is
   * the cheapest useful proxy). Input rows carry `target_uri` (the
   * page) and `body_text` (its HTML); per `<a href=…>` anchor —
   * double-quoted, single-quoted or unquoted attribute value, with
   * optional whitespace around `=` ([[HrefRegex]]) — one output row
   * with the resolved `link`:
   *
   *  - absolute `scheme://…` hrefs pass through;
   *  - root-relative `/path` hrefs resolve against the page's
   *    scheme + authority;
   *  - PATH-relative `segment…` hrefs (no scheme, no leading `/`,
   *    `#`, `?` or `.`) resolve against the page's directory — the
   *    RFC 3986 merge without dot-segment handling (`./`/`../`
   *    hrefs are skipped, documented: page-level fidelity without a
   *    normalizer in the hot loop);
   *  - everything else (mailto:, fragment-only, protocol-relative
   *    `//…`, dot-leading) is skipped.
   *
   * Scale shape: regexp extraction + explode, pure map-side — link
   * rows are small and the body column is dropped on the way out. */
  /** Anchor-href extraction regex, shared VERBATIM with the DuckDB
   * oracles (RE2 both sides): matches double-quoted, single-quoted
   * and unquoted attribute values, optional whitespace around `=` —
   * real HTML uses all three. Group 1 keeps the quotes (a single
   * capture group survives `regexp_extract_all` in both engines);
   * [[hrefStrip]] removes them. */
  private[graft] val HrefRegex: String =
    "(?i)<a\\s[^>]*?href\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s\"'>][^\\s>]*)"

  /** Strip the quotes [[HrefRegex]] group 1 carries; bare values
   * (which can never start with a quote) pass through. */
  private def hrefStrip(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(c.startsWith("\"") || c.startsWith("'"),
      c.substr(lit(2), length(c) - 2)).otherwise(c)

  def linkTable(pages: DataFrame): DataFrame = {
    val scheme = regexp_extract(col("target_uri"),
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    val host = regexp_extract(col("target_uri"),
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    val dir0 = regexp_replace(regexp_extract(col("target_uri"),
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1), "[^/]*$", "")
    val dir = when(dir0 === "", lit("/")).otherwise(dir0)
    pages
      .withColumn("rawq", explode(regexp_extract_all(
        col("body_text"), lit(HrefRegex), lit(1))))
      .withColumn("raw", hrefStrip(col("rawq")))
      .withColumn("link",
        when(col("raw").rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), col("raw"))
          .when(col("raw").startsWith("/") && !col("raw").startsWith("//"),
            concat(scheme, lit("://"), host, col("raw")))
          .when(!col("raw").rlike("^[A-Za-z][A-Za-z0-9+.-]*:") &&
            !col("raw").startsWith("/") && !col("raw").startsWith("#") &&
            !col("raw").startsWith("?") && !col("raw").startsWith(".") &&
            col("raw") =!= "",
            concat(scheme, lit("://"), host, dir, col("raw"))))
      .filter(col("link").isNotNull)
      .drop("rawq", "raw", "body_text")
  }

  /** Host-level link graph: (src_host, dst_host, n_links) from a
   * link table — the aggregation link-spam detection and crawl
   * prioritisation key on. One host-pair-keyed aggregation of tiny
   * rows (map-side partial combine does most of the work: pages link
   * within a site far more than across). */
  def hostLinkGraph(links: DataFrame): DataFrame = {
    def h(c: org.apache.spark.sql.Column) =
      lower(regexp_extract(c, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    links
      .select(h(col("target_uri")).as("src_host"), h(col("link")).as("dst_host"))
      .filter(col("src_host") =!= "" && col("dst_host") =!= "")
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"))
  }

  /** Host-level PageRank in FIXED-POINT integer arithmetic — the
   * centrality signal crawl prioritisation actually uses (Common
   * Crawl publishes host rankings computed exactly this way, at
   * host granularity because page-level graphs don't fit anyone's
   * budget). Ranks are BIGINTs scaled by 1e12 and every step uses
   * integer division at defined points, so the result is
   * bit-reproducible across engines, partitionings and runs —
   * floating-point PageRank sums in shuffle order and never
   * reproduces exactly, which is why the fixed-point form is the
   * production choice wherever ranks feed deterministic pipelines.
   *
   *   R₀(h)    = 1e12
   *   share(h) = R(h) div Σ n_links(h→*)          (integer div)
   *   Rᵢ₊₁(d)  = 0.15·1e12 + (85 · Σ share(s)·n_links(s→d)) div 100
   *
   * `iterations` fixed steps (default 10 — host graphs are
   * small-diameter; dangling mass is dropped, documented). Input is
   * the [[hostLinkGraph]] shape (src_host, dst_host, n_links).
   *
   * Scale shape: per iteration one join of the edge list with the
   * (host, rank) table plus one dst-keyed aggregation — the standard
   * relational PageRank; at web scale the host table is ~1e8 tiny
   * rows and the edge list dominates, so co-partitioning both on
   * host (bucketing, [[Layout.writeBucketed]]) makes every iteration
   * exchange-free except the aggregation.
   *
   * Fault tolerance: the node/edge materialization and the
   * every-3rd-iteration rank break are [[Materialize]] breaks — on a
   * cluster (a context with a checkpoint directory) reliable
   * checkpoints, so an executor loss mid-iteration recovers from the
   * store and the edge list is written once and re-read per
   * iteration, never pinned in executor block storage. Each rank
   * break is released once the next one supersedes it. Materializing
   * the edges (rather than persisting lazily) also truncates the
   * LOGICAL plan: each iteration otherwise re-optimizes the full
   * upstream extraction subtree, a driver-side cost that grows with
   * the pipeline feeding the graph. */
  def hostRank(graph: DataFrame, iterations: Int = 10): DataFrame = {
    val scale = 1000000000000L
    // node/edge counts ride the two one-time breaks as observe
    // metrics (no extra jobs) and feed the small-round gate below
    val (nodes, nodeStats) = Materialize.observed(
      graph.select(col("src_host").as("host"))
        .union(graph.select(col("dst_host").as("host")))
        .distinct(),
      count(lit(1)).as("rows"))
    // outdeg is a STATIC per-source property — fold it into the edge
    // materialization ONCE instead of re-aggregating + re-joining it
    // inside every iteration (guide §1.2/§2.4: don't recompute
    // invariants inside the loop; 10 iterations previously carried 10
    // outdeg aggregations and 10 extra joins through planning and, on
    // the reliable-checkpoint path, through execution)
    val outdeg = graph.groupBy("src_host")
      .agg(sum(col("n_links")).as("outdeg"))
    val (edges, edgeStats) = Materialize.observed(
      graph.join(outdeg, Seq("src_host")), count(lit(1)).as("rows"))
    // small-state mode (r22, LoopExec): with the graph measured tiny,
    // each in-loop break executes AQE-off on one reduce partition —
    // one job per break instead of per-exchange query-stage jobs
    // (q_w25 measured 28 jobs for 0.39 s of task time). Big graphs
    // keep the full AQE path.
    val spark = graph.sparkSession
    val small = LoopExec.isSmall(spark,
      Some(nodeStats.getAs[Long]("rows")), Some(edgeStats.getAs[Long]("rows")))
    var ranks = nodes.withColumn("rank", lit(scale))
    var lastBreak: Option[DataFrame] = None
    for (i <- 0 until iterations) {
      // per-iteration shape (r21, guide §2.4): ONE edge join + ONE
      // aggregation. The old `nodes ⟕ contrib` join (which only
      // existed to keep zero-in-link hosts in the table) is folded
      // into the aggregation itself by unioning a zero-contribution
      // row per node: sum(c) over the union ≡ coalesce(contrib, 0)
      // — identical integer arithmetic, one fewer join/exchange in
      // each of the 10 iterations
      // (measured and REJECTED here, r22: a broadcast hint on the
      // rank side under the small gate — the per-iteration broadcast
      // BUILD is its own job, so 10 iterations added ~5 job launches
      // back (19 → 24) and summed task time rose; unlike the CC
      // loop, each iteration's rank side is an unmaterialised 3-round
      // chain, so hinting re-shapes the whole inter-break pipeline
      // rather than one persisted table. The AQE-off small mode alone
      // keeps the win: jobs 28 → 19 at q_w25.)
      ranks = edges
        .join(ranks.withColumnRenamed("host", "src_host"), Seq("src_host"))
        .select(col("dst_host").as("host"),
          (expr("rank div outdeg") * col("n_links")).as("c"))
        .unionByName(nodes.withColumn("c", lit(0L)))
        .groupBy("host").agg(
          (lit(scale * 15 / 100) +
            expr("85 * sum(c) div 100")).as("rank"))
      LoopProbe.tap(s"iter$i", ranks)
      // break lineage every THIRD round, not every round: a 3-round
      // join/agg chain plans trivially, and each eager checkpoint is
      // a full materialization — per-round checkpointing dominated
      // the query's cost at small scale and wastes memory at large
      if (i % 3 == 2 && i != iterations - 1) {
        ranks = LoopExec.round(spark, small) { Materialize(ranks) }
        lastBreak.foreach(Materialize.release) // superseded by `ranks`
        lastBreak = Some(ranks)
      }
    }
    ranks
  }

  // ----------------------------------------------------------------- PDF

  /** One cross-reference entry as the walker reports it — the RAW
   * (type, field-2, field-3) triple of the xref format plus the
   * body-verified evidence:
   *
   *  - `kind = "free"`   (classic `f` / stream type 0): `f2` = next
   *    free object number, `gen` = generation;
   *  - `kind = "direct"` (classic `n` / stream type 1): `f2` = byte
   *    offset of the object, `gen` = generation;
   *  - `kind = "objstm"` (stream type 2): `f2` = the object STREAM's
   *    object number, `gen` = the member index inside it (type-2
   *    entries carry no generation — the raw field IS the index).
   *
   * `objType`/`objLen` are what the bytes prove: for direct entries
   * the first `/Type /Name` token and the byte length through
   * `endobj`; for objstm entries the member body's `/Type` and its
   * byte length inside the DECODED stream. `body` is the verified
   * object text (direct: the `num gen obj…endobj` span; objstm: the
   * member slice) — partition-local plumbing for [[pdfPageTexts]],
   * never a column. */
  private[ops] final case class PdfEnt(
      section: Int, num: Int, gen: Int, f2: Long, inUse: Boolean,
      kind: String, objType: Option[String], objLen: Option[Long],
      body: Option[String])

  /** Walk the cross-reference chain of a PDF — the entry point for
   * the web's second-biggest document format: the xref IS the object
   * index (like ZIP's central directory), so a shard of PDFs becomes
   * a queryable object catalog without parsing a single content
   * stream. BOTH reference forms are read:
   *
   *  - the CLASSIC table (PDF 1.0–1.4): `xref` keyword, `start
   *    count` subsections, 20-byte entries, `trailer` dict;
   *  - the cross-reference STREAM (PDF 1.5+, the majority of
   *    real-web PDFs): a `/Type /XRef` stream object at the
   *    `startxref` offset — `/W` field widths, `/Index` subsections
   *    (default `[0 /Size]`), big-endian packed rows, decoded
   *    through `/Filter` (`/FlateDecode` with the optional PNG
   *    `/DecodeParms /Predictor`, `/ASCIIHexDecode`, or none).
   *    Type-2 rows point INTO `/Type /ObjStm` object streams, whose
   *    members are resolved through the stream's `/N`+`/First`
   *    header so compressed objects get real types and lengths.
   *
   * `section` 0 is the table `startxref` names, 1 its `/Prev`, … —
   * incremental updates append sections, and WHICH entry wins per
   * object is a relational decision ([[pdfObjectTable]]'s window),
   * not the walker's. Tolerance as everywhere: no `%PDF-` magic, an
   * unreadable `startxref`, or a malformed section stops the walk
   * with the sections already parsed (a malformed section
   * contributes nothing); the `/Prev` chain is capped and
   * cycle-guarded; stream row counts and inflate output are capped;
   * a body/member that doesn't verify leaves type/length None — the
   * xref CLAIM is still reported, but nothing the bytes don't
   * prove. */
  /** Zero-copy ISO-8859-1 VIEW of a byte array as a CharSequence —
   * the byte-level form of the PDF walkers' whole-file scans: the
   * chain walk, keyword searches and regex probes run on the bytes
   * directly, so a task never holds the UTF-16 DOUBLING of a whole
   * shard that `new String(blob)` would cost (a 500 MB PDF outlier
   * stays 500 MB resident, not 1.5 GB); only small spans — dicts,
   * object bodies, decoded stream payloads — materialize as
   * Strings. */
  private final class ByteStr(b: Array[Byte], off: Int, endEx: Int)
      extends CharSequence {
    def this(b: Array[Byte]) = this(b, 0, b.length)
    def length: Int = endEx - off
    def charAt(i: Int): Char = (b(off + i) & 0xff).toChar
    def apply(i: Int): Char = charAt(i)
    def subSequence(a: Int, z: Int): CharSequence =
      new ByteStr(b, off + a, off + z)
    override def toString: String = substring(0, length)
    def substring(a: Int, z: Int): String =
      new String(b, off + a, z - a,
        java.nio.charset.StandardCharsets.ISO_8859_1)
    def startsWith(lit: String, at: Int): Boolean =
      if (at < 0 || at.toLong + lit.length > length) false
      else {
        var i = 0
        while (i < lit.length && charAt(at + i) == lit.charAt(i)) i += 1
        i == lit.length
      }
    def startsWith(lit: String): Boolean = startsWith(lit, 0)
    def indexOf(lit: String, from: Int): Int = {
      var i = math.max(from, 0)
      val last = length - lit.length
      while (i <= last) {
        if (startsWith(lit, i)) return i
        i += 1
      }
      -1
    }
    def indexOf(lit: String): Int = indexOf(lit, 0)
    def lastIndexOf(lit: String): Int = {
      var i = length - lit.length
      while (i >= 0) {
        if (startsWith(lit, i)) return i
        i -= 1
      }
      -1
    }
  }

  private[ops] def pdfXref(b: Array[Byte]): Seq[PdfEnt] = {
    if (b == null || b.length < 16) return Nil
    val s = new ByteStr(b)
    if (!s.startsWith("%PDF-")) return Nil
    val sx = s.lastIndexOf("startxref")
    if (sx < 0) return Nil
    val numRe = "^\\s*([0-9]+)".r
    def intAfter(pos: Int): Option[Long] =
      numRe.findFirstMatchIn(s.substring(pos, math.min(s.length, pos + 32)))
        .map(_.group(1).toLong)
    // ---- phase A: collect RAW claims (num, gen/f3, f2, inUse, kind)
    //      per section along the startxref → /Prev chain
    val raw = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Int, Long, Boolean, String)]
    var xoff = intAfter(sx + 9).getOrElse(-1L)
    val visited = scala.collection.mutable.Set.empty[Long]
    var section = 0
    while (xoff >= 0 && xoff + 5 <= s.length && section < 16 &&
        visited.add(xoff)) {
      var next = -1L
      if (s.startsWith("xref", xoff.toInt)) {
        // classic table: `start count` header lines until `trailer`
        var p = xoff.toInt + 4
        while (p < s.length && (s(p) == '\r' || s(p) == '\n')) p += 1
        val sec = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Int, Long, Boolean, String)]
        var ok = true
        var done = false
        while (ok && !done && p < s.length) {
          if (s.startsWith("trailer", p)) done = true
          else {
            val hdr = "^([0-9]+) ([0-9]+)(\\r\\n|\\r|\\n)".r
              .findFirstMatchIn(s.substring(p, math.min(s.length, p + 32)))
            hdr match {
              case Some(m) =>
                val start = m.group(1).toInt
                val count = m.group(2).toInt
                p += m.matched.length
                var k = 0
                while (ok && k < count) {
                  if (p + 20 > s.length) ok = false
                  else {
                    val e = s.substring(p, p + 20)
                    val em = "^([0-9]{10}) ([0-9]{5}) ([nf])".r
                      .findFirstMatchIn(e)
                    em match {
                      case Some(x) =>
                        val inUse = x.group(3) == "n"
                        sec += ((section, start + k, x.group(2).toInt,
                          x.group(1).toLong, inUse,
                          if (inUse) "direct" else "free"))
                      case None => ok = false
                    }
                    p += 20
                    k += 1
                  }
                }
              case None => ok = false
            }
          }
        }
        if (ok && done) {
          // the trailer dict: /Prev chains to the previous section
          val dict = s.substring(p,
            math.min(s.length, s.indexOf("startxref", p) match {
              case -1 => s.length
              case i  => i
            }))
          raw ++= sec
          next = "/Prev\\s+([0-9]+)".r.findFirstMatchIn(dict)
            .map(_.group(1).toLong).getOrElse(-1L)
        }
      } else parseXrefStreamSection(s, xoff.toInt) match {
        case Some((entries, prev)) =>
          raw ++= entries.map { case (num, f3, f2, inUse, kind) =>
            (section, num, f3, f2, inUse, kind)
          }
          next = prev
        case None => () // neither table nor XRef stream: chain ends
      }
      xoff = next
      section += 1
    }
    if (raw.isEmpty) return Nil
    // ---- phase B: body verification machinery. Type-2 (objstm)
    //      claims resolve through the keep-latest DIRECT location of
    //      their object stream — the same rule q_w19 applies.
    val typeRe = "/Type /([A-Za-z]+)".r
    def verifyDirect(num: Int, gen: Int, off: Long)
        : (Option[String], Option[Long], Option[String]) =
      if (off >= 0 && off < s.length &&
          s.startsWith(s"$num $gen obj", off.toInt)) {
        val e2 = s.indexOf("endobj", off.toInt)
        if (e2 < 0) (None, None, None)
        else {
          val span = s.substring(off.toInt, e2 + 6)
          (typeRe.findFirstMatchIn(span).map(_.group(1)),
            Some(e2 + 6L - off), Some(span))
        }
      } else (None, None, None)
    val latestDirect = raw.filter(_._6 == "direct").groupBy(_._2)
      .map { case (n, es) => n -> es.minBy(_._1) }
    // decoded object streams, cached per stream object number:
    // (member (num, rel-offset) pairs, decoded payload, /First)
    val stmCache = scala.collection.mutable.Map
      .empty[Int, Option[(Vector[(Int, Int)], String, Int)]]
    def objstmMembers(stmNum: Int)
        : Option[(Vector[(Int, Int)], String, Int)] =
      stmCache.getOrElseUpdate(stmNum,
        latestDirect.get(stmNum).flatMap { e =>
          val (t, _, bodyOpt) = verifyDirect(e._2, e._3, e._4)
          bodyOpt.filter(_ => t.contains("ObjStm")).flatMap { body =>
            val ds = body.indexOf("stream\n")
            if (ds < 0) None
            else {
              val dict = body.substring(0, ds)
              for {
                n <- "/N\\s+([0-9]{1,6})".r.findFirstMatchIn(dict)
                  .map(_.group(1).toInt)
                first <- "/First\\s+([0-9]{1,9})".r.findFirstMatchIn(dict)
                  .map(_.group(1).toInt)
                data <- streamData(body, ds)
                if first >= 0 && first <= data.length
                pairs <- {
                  val toks = data.substring(0, first).trim
                    .split("\\s+").filter(_.nonEmpty)
                  if (toks.length < 2 * n) None
                  else try Some((0 until n).map(i =>
                    (toks(2 * i).toInt, toks(2 * i + 1).toInt)).toVector)
                  catch { case _: NumberFormatException => None }
                }
              } yield (pairs, data, first)
            }
          }
        })
    def verifyMember(num: Int, stmNum: Int, idx: Int)
        : (Option[String], Option[Long], Option[String]) =
      objstmMembers(stmNum) match {
        case Some((pairs, data, first))
            if idx >= 0 && idx < pairs.size && pairs(idx)._1 == num =>
          val start = first + pairs(idx)._2
          val end =
            if (idx + 1 < pairs.size) first + pairs(idx + 1)._2
            else data.length
          if (start >= first && start <= end && end <= data.length) {
            val body = data.substring(start, end)
            (typeRe.findFirstMatchIn(body).map(_.group(1)),
              Some((end - start).toLong), Some(body))
          } else (None, None, None)
        case _ => (None, None, None)
      }
    // ---- phase C: verify every claim against the bytes
    raw.toSeq.map { case (sec, num, gen, f2, inUse, kind) =>
      val (t, l, body) = kind match {
        case "direct" => verifyDirect(num, gen, f2)
        case "objstm" => verifyMember(num, f2.toInt, gen)
        case _        => (None, None, None)
      }
      PdfEnt(sec, num, gen, f2, inUse, kind, t, l, body)
    }
  }

  /** Parse one cross-reference STREAM section (`/Type /XRef`) at
   * absolute offset `off` of the decoded file `s`. Returns the raw
   * entries (num, f3, f2, in_use, kind) and the `/Prev` offset
   * (-1 = none), or None when the bytes aren't a well-formed XRef
   * stream — the caller treats that as end-of-chain, the classic
   * walker's exact malformed-section rule. */
  private def parseXrefStreamSection(s: ByteStr, off: Int)
      : Option[(Seq[(Int, Int, Long, Boolean, String)], Long)] = {
    if (off < 0 || off + 16 > s.length) return None
    if ("^[0-9]+ [0-9]+ obj".r.findFirstIn(
        s.substring(off, math.min(s.length, off + 32))).isEmpty) return None
    val dictStart = s.indexOf("<<", off)
    if (dictStart < 0 || dictStart > off + 32) return None
    val dictEnd = balancedDictEnd(s, dictStart)
    if (dictEnd < 0) return None
    val dict = s.substring(dictStart, dictEnd)
    if ("/Type\\s*/XRef".r.findFirstIn(dict).isEmpty) return None
    var p = dictEnd
    while (p < s.length && (s(p) == ' ' || s(p) == '\t' ||
        s(p) == '\r' || s(p) == '\n')) p += 1
    if (!s.startsWith("stream", p)) return None
    p += 6
    if (p < s.length && s(p) == '\r') p += 1
    if (p >= s.length || s(p) != '\n') return None
    p += 1
    def dictInt(re: String): Option[Int] =
      re.r.findFirstMatchIn(dict).map(_.group(1).toInt)
    val size = dictInt("/Size\\s+([0-9]{1,9})").getOrElse(return None)
    val wm = "/W\\s*\\[\\s*([0-9]{1,2})\\s+([0-9]{1,2})\\s+([0-9]{1,2})".r
      .findFirstMatchIn(dict).getOrElse(return None)
    val (w1, w2, w3) = (wm.group(1).toInt, wm.group(2).toInt, wm.group(3).toInt)
    if (w1 > 4 || w2 > 8 || w3 > 4 || w1 + w2 + w3 == 0) return None
    val index: Seq[(Int, Int)] =
      "/Index\\s*\\[([0-9 \\t\\r\\n]*)\\]".r.findFirstMatchIn(dict)
        .map(_.group(1)) match {
        case Some(lst) =>
          val toks = lst.trim.split("\\s+").filter(_.nonEmpty)
          if (toks.length == 0 || toks.length % 2 != 0) return None
          try toks.grouped(2).map(a => (a(0).toInt, a(1).toInt)).toSeq
          catch { case _: NumberFormatException => return None }
        case None => Seq((0, size))
      }
    val total = index.map(_._2.toLong).sum
    if (index.exists(i => i._1 < 0 || i._2 < 0) || total > (1L << 20))
      return None
    val prev = "/Prev\\s+([0-9]{1,18})".r.findFirstMatchIn(dict)
      .map(_.group(1).toLong).getOrElse(-1L)
    val dataEnd = dictInt("/Length\\s+([0-9]{1,9})")
      .filter(l => p.toLong + l <= s.length).map(p + _)
      .getOrElse {
        val de = s.indexOf("\nendstream", p)
        if (de < 0) return None
        de
      }
    val data = decodeFiltered(s.substring(p, dataEnd), dict)
      .getOrElse(return None)
    val rw = w1 + w2 + w3
    if (data.length.toLong < total * rw) return None
    val out = Seq.newBuilder[(Int, Int, Long, Boolean, String)]
    var pos = 0
    index.foreach { case (start, count) =>
      var j = 0
      while (j < count) {
        def fld(o: Int, wd: Int, dflt: Long): Long =
          if (wd == 0) dflt
          else {
            var v = 0L
            var i = 0
            while (i < wd) {
              v = (v << 8) | (data.charAt(pos + o + i) & 0xffL)
              i += 1
            }
            v
          }
        val f1 = fld(0, w1, 1L) // absent type field defaults to 1
        val f2 = fld(w1, w2, 0L)
        val f3 = fld(w1 + w2, w3, 0L).toInt
        f1 match {
          case 0 => out += ((start + j, f3, f2, false, "free"))
          case 1 => out += ((start + j, f3, f2, true, "direct"))
          case 2 => out += ((start + j, f3, f2, true, "objstm"))
          case _ => () // unknown row type: the spec says skip it
        }
        pos += rw
        j += 1
      }
    }
    Some((out.result(), prev))
  }

  /** Find the balanced `<< … >>` end for the dict opening at `start`
   * (nested dicts counted); returns the index AFTER the closing
   * `>>`, or -1 when unterminated / runaway. */
  private def balancedDictEnd(s: ByteStr, start: Int): Int = {
    var depth = 0
    var i = start
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == '<' && s(i + 1) == '<') {
        depth += 1; i += 2
      } else if (i + 1 < s.length && s(i) == '>' && s(i + 1) == '>') {
        depth -= 1; i += 2
        if (depth == 0) return i
      } else i += 1
      if (i - start > (1 << 16)) return -1
    }
    -1
  }

  /** Slice + decode a stream object's data given its full body text
   * and the index of its `stream\n` keyword: the span is `/Length`
   * when parsable and in-bounds, else up to `\nendstream`; decoded
   * through the dict's filter ([[decodeFiltered]]). */
  private def streamData(body: String, ds: Int): Option[String] = {
    val dict = body.substring(0, ds)
    val dataStart = ds + 7
    val dataEnd = "/Length\\s+([0-9]{1,9})".r.findFirstMatchIn(dict)
      .map(_.group(1).toInt)
      .filter(l => dataStart.toLong + l <= body.length)
      .map(dataStart + _)
      .getOrElse {
        val de = body.indexOf("\nendstream", dataStart)
        if (de < 0) return None
        de
      }
    decodeFiltered(body.substring(dataStart, dataEnd), dict)
  }

  /** Decode a stream's raw bytes (as an ISO-8859-1 string) through
   * its dict's filter: `/ASCIIHexDecode`, `/FlateDecode` (with the
   * optional PNG `/Predictor` of `/DecodeParms` — how real-web xref
   * streams ship), or none. Single filter only — filter ARRAYS
   * (cascades) and the TIFF predictor (2) are out of scope and
   * claim nothing. Inflate output capped at 1 MiB. */
  private def decodeFiltered(raw: String, dict: String): Option[String] =
    if (dict.contains("/ASCIIHexDecode")) asciiHexDecode(raw)
    else if (dict.contains("/FlateDecode"))
      inflateBytesCapped(raw.getBytes(
          java.nio.charset.StandardCharsets.ISO_8859_1), 1 << 20)
        .flatMap(d => unpredict(d, dict))
        .map(new String(_, java.nio.charset.StandardCharsets.ISO_8859_1))
    else Some(raw)

  /** PDF ASCIIHexDecode: hex pairs, whitespace ignored, `>` ends the
   * data, an odd trailing digit implies a zero low nibble; any other
   * character is corrupt (None). */
  private def asciiHexDecode(h: String): Option[String] = {
    val sb = new java.lang.StringBuilder(h.length / 2)
    var hi = -1
    var i = 0
    while (i < h.length) {
      val c = h.charAt(i)
      if (c == '>') i = h.length
      else {
        if (!Character.isWhitespace(c)) {
          val v = Character.digit(c, 16)
          if (v < 0) return None
          if (hi < 0) hi = v
          else { sb.append(((hi << 4) | v).toChar); hi = -1 }
        }
        i += 1
      }
    }
    if (hi >= 0) sb.append((hi << 4).toChar)
    Some(sb.toString)
  }

  /** Undo the PNG row predictor of `/DecodeParms << /Predictor P
   * /Columns C [/Colors n /BitsPerComponent b] >>` — predictor ≥ 10
   * means every row is `filter-type byte + filtered bytes` exactly
   * as in PNG (types 0–4: None/Sub/Up/Average/Paeth). Predictor 1
   * (or no DecodeParms) passes through; the TIFF predictor (2) and
   * malformed row grids claim nothing. */
  private def unpredict(d: Array[Byte], dict: String): Option[Array[Byte]] = {
    val parms = "/DecodeParms\\s*<<([^>]*)>>".r.findFirstMatchIn(dict)
      .map(_.group(1))
    def parm(name: String, dflt: Int): Int = parms
      .flatMap(p => (name + "\\s+([0-9]{1,9})").r.findFirstMatchIn(p))
      .map(_.group(1).toInt).getOrElse(dflt)
    val pred = parm("/Predictor", 1)
    if (pred == 1) return Some(d)
    if (pred < 10) return None // TIFF predictor: out of scope
    val cols = parm("/Columns", 1)
    val colors = parm("/Colors", 1)
    val bpc = parm("/BitsPerComponent", 8)
    if (cols <= 0 || colors <= 0 || bpc <= 0) return None
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (cols.toLong * colors * bpc + 7) / 8
    if (rowLen <= 0 || rowLen > (1 << 20) ||
        d.length % (rowLen + 1) != 0) return None
    val rl = rowLen.toInt
    val nRows = d.length / (rl + 1)
    val out = new Array[Byte](nRows * rl)
    var r = 0
    while (r < nRows) {
      val ft = d(r * (rl + 1)) & 0xff
      val src = r * (rl + 1) + 1
      val dst = r * rl
      var i = 0
      while (i < rl) {
        val x = d(src + i) & 0xff
        val a = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
        val u = if (r > 0) out(dst - rl + i) & 0xff else 0
        val c = if (r > 0 && i >= bpp) out(dst - rl + i - bpp) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + u
          case 3 => x + ((a + u) >> 1)
          case 4 =>
            val pp = a + u - c
            val pa = math.abs(pp - a)
            val pb = math.abs(pp - u)
            val pc = math.abs(pp - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) u else c)
          case _ => return None
        }
        out(dst + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }
    Some(out)
  }

  /** Raw xref-entry table (q_w18): every entry of every section in
   * the chain — classic tables AND xref streams — with the walker's
   * body-verified type/length and the raw (offset, gen) fields
   * (`entry_kind = 'objstm'` rows carry the object-stream number in
   * `offset` and the member index in `gen`, the raw type-2 fields).
   * Pure map-side byte walk — the blob never shuffles, only
   * fixed-shape index rows leave the partition. */
  def pdfXrefTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap(r => pdfXref(r.media).map { e =>
          (r.media_id, e.section, e.num, e.gen, e.f2, e.inUse, e.kind,
            e.objType.orNull, e.objLen)
        })
      }
      .toDF("media_id", "section_idx", "obj_num", "gen", "offset",
        "in_use", "entry_kind", "obj_type", "obj_length")
  }

  /** Resolved object table (q_w19): per object number the LATEST
   * section's entry wins (incremental updates override — PDF's own
   * keep-latest rule), in-use and body-verified objects only —
   * including objects living inside object streams (PDF 1.5+). The
   * override is a window over index rows, NOT walker logic — at
   * corpus scale the resolution shuffles (media_id, obj_num)-keyed
   * 40-byte rows, never the documents. */
  def pdfObjectTable(spark: SparkSession, media: DataFrame): DataFrame =
    pdfXrefTable(spark, media)
      // keep-latest = min_by(section_idx), an AGGREGATION rather than
      // a window: partial combine shrinks each partition to one row
      // per object before the shuffle and nothing gets sorted —
      // (media_id, obj_num, section_idx) is unique, so the winner is
      // deterministic. The in-use/verified filter applies AFTER the
      // resolution, so an 'f' tombstone in the latest section still
      // deletes older generations.
      .groupBy("media_id", "obj_num")
      .agg(min_by(struct(col("gen"), col("offset"), col("in_use"),
        col("entry_kind"), col("obj_type"), col("obj_length")),
        col("section_idx")).as("e"))
      .filter(col("e.in_use") && col("e.obj_length").isNotNull)
      .select(col("media_id"), col("obj_num"), col("e.gen"),
        col("e.offset"), col("e.entry_kind"), col("e.obj_type"),
        col("e.obj_length"))

  /** Extract the shown text of each PDF page — the WET analogue for
   * the PDF family: resolve the xref chain in the partition-local
   * pass ([[pdfXref]] + keep-latest per object), take each in-use
   * `/Type /Page` object (direct OR object-stream member), follow
   * its FIRST `/Contents N G R` reference to the resolved
   * content-stream object (necessarily direct — streams cannot live
   * inside object streams), slice the bytes between `stream\n` and
   * `\nendstream`, decode them through the dict's filter
   * ([[decodeFiltered]]: Flate capped at 1 MiB, ASCIIHex, or none),
   * and concatenate the show-operator strings in stream order via
   * [[pdfShowText]]: `(…) Tj`, the move-and-show `'`/`"` operators,
   * hex-string forms `<…>`, and kerned `[ … ] TJ` arrays (the
   * dominant form of real-PDF text — most generators kern every
   * line). Scope: literal strings without nested/escaped
   * parentheses; a page without a resolvable, extractable content
   * stream emits nothing (claim nothing the bytes don't prove).
   * Returns (page_obj, content_obj, text) in page-object order. */
  private[ops] def pdfPageTexts(b: Array[Byte]): Seq[(Int, Int, String)] = {
    val entries = pdfXref(b)
    if (entries.isEmpty) return Nil
    // keep-latest resolution: smallest section_idx per object number
    val resolved = entries.groupBy(_.num).map { case (_, es) =>
      es.minBy(_.section)
    }.filter(e => e.inUse && e.objLen.isDefined && e.body.isDefined)
      .map(e => e.num -> e).toMap
    val contentsRe = "/Contents ([0-9]{1,9}) ([0-9]{1,9}) R".r
    // /Resources (inline dict or indirect ref) → /Font << /Fx n g R >>
    // → per font /ToUnicode m g R → CMap stream → PdfFontMap
    def streamOf(objNum: Int): Option[String] =
      resolved.get(objNum).filter(_.kind == "direct").flatMap { ce =>
        val cb = ce.body.get
        val ds = cb.indexOf("stream\n")
        val de = cb.indexOf("\nendstream")
        if (ds < 0 || de < ds) None
        else decodeFiltered(cb.substring(ds + 7, de), cb.substring(0, ds))
      }
    // object-number captures bounded to 9 digits so .toInt can never
    // overflow on a hostile PDF (a longer run simply doesn't match)
    val fontEntryRe = "/([A-Za-z0-9]+)[ \\t\\r\\n]+(\\d{1,9})[ \\t\\r\\n]+\\d+[ \\t\\r\\n]+R".r
    val toUniRe = "/ToUnicode[ \\t\\r\\n]+(\\d{1,9})[ \\t\\r\\n]+\\d+[ \\t\\r\\n]+R".r
    val fontDictRe = "(?s)/Font[ \\t\\r\\n]*<<(.*?)>>".r
    val resIndRe = "/Resources[ \\t\\r\\n]+(\\d{1,9})[ \\t\\r\\n]+\\d+[ \\t\\r\\n]+R".r
    // /Encoding fallback (ISO 32000 §9.6.6): a simple font without
    // /ToUnicode still names its byte→glyph mapping — either a
    // predefined Annex D encoding (`/Encoding /WinAnsiEncoding`) or
    // an indirect encoding dict (/BaseEncoding, default Standard,
    // overridden by a /Differences array of code-then-glyph-names).
    // Unknown glyph names and undefined codes claim nothing.
    val encNameRe = "/Encoding[ \\t\\r\\n]*/([A-Za-z]+)".r
    val encRefRe = "/Encoding[ \\t\\r\\n]+(\\d{1,9})[ \\t\\r\\n]+\\d+[ \\t\\r\\n]+R".r
    val baseEncRe = "/BaseEncoding[ \\t\\r\\n]*/([A-Za-z]+)".r
    val diffRe = "(?s)/Differences[ \\t\\r\\n]*\\[(.*?)\\]".r
    val diffTokRe = "(\\d{1,3})|/([A-Za-z0-9.]+)".r
    def encodingOf(fbody: String): Option[PdfFontMap] = {
      val fromDict = encRefRe.findFirstMatchIn(fbody)
        .flatMap(m => resolved.get(m.group(1).toInt).flatMap(_.body))
        .map { eb =>
          val base = baseEncRe.findFirstMatchIn(eb)
            .flatMap(m => PdfEncodings.byName(m.group(1)))
            .getOrElse(PdfEncodings.standard)
          val map = scala.collection.mutable.Map.empty[Int, String] ++ base
          diffRe.findFirstMatchIn(eb).foreach { dm =>
            var code = -1
            diffTokRe.findAllMatchIn(dm.group(1)).foreach { t =>
              if (t.group(1) != null) code = t.group(1).toInt
              else if (code >= 0 && code <= 255) {
                PdfEncodings.glyphToUnicode(t.group(2)) match {
                  case Some(u) => map(code) = u
                  case None => map.remove(code) // unknown name: nothing
                }
                code += 1
              }
            }
          }
          map.toMap
        }
      fromDict
        .orElse(encNameRe.findFirstMatchIn(fbody)
          .flatMap(m => PdfEncodings.byName(m.group(1))))
        .filter(_.nonEmpty)
        .map(PdfFontMap(1, _))
    }
    def fontsOf(pageBody: String): Map[String, PdfFontMap] = {
      val resBody: Option[String] =
        resIndRe.findFirstMatchIn(pageBody) match {
          case Some(m) => resolved.get(m.group(1).toInt).flatMap(_.body)
          case None if pageBody.contains("/Resources") => Some(pageBody)
          case None => None
        }
      resBody.flatMap(rb => fontDictRe.findFirstMatchIn(rb)).map { fd =>
        fontEntryRe.findAllMatchIn(fd.group(1)).flatMap { fm =>
          resolved.get(fm.group(2).toInt).flatMap(_.body).flatMap { fbody =>
            toUniRe.findFirstMatchIn(fbody)
              .flatMap(tm => streamOf(tm.group(1).toInt))
              .flatMap(pdfCmap)
              .orElse(encodingOf(fbody)) // ToUnicode wins when present
          }.map(fm.group(1) -> _)
        }.toMap
      }.getOrElse(Map.empty)
    }
    resolved.toSeq.sortBy(_._1).flatMap { case (num, e) =>
      if (!e.objType.contains("Page")) None
      else contentsRe.findFirstMatchIn(e.body.get).flatMap { m =>
        resolved.get(m.group(1).toInt)
          .filter(_.kind == "direct").flatMap { ce =>
            val cbody = ce.body.get
            val ds = cbody.indexOf("stream\n")
            val de = cbody.indexOf("\nendstream")
            if (ds < 0 || de < ds) None
            else decodeFiltered(cbody.substring(ds + 7, de),
                cbody.substring(0, ds)).map { d =>
              (num, ce.num, pdfShowText(d, fontsOf(e.body.get)))
            }
          }
      }
    }
  }

  /** Decode a PDF hex string's content (the `<…>` form): whitespace
   * strips, an odd trailing digit pads with 0 (ISO 32000 §7.3.4.3),
   * byte pairs decode ISO-8859-1. The caller's regex guarantees hex
   * digits only. */
  private def pdfHexString(h: String): String = {
    val d = h.filter(c => !c.isWhitespace)
    val e = if (d.length % 2 == 1) d + "0" else d
    val out = new Array[Byte](e.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(e.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    new String(out, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** One font's /ToUnicode mapping: character-code width in bytes
   * (from the codespacerange hi endpoint) and code → Unicode string
   * (UTF-16BE destinations, possibly multi-char). */
  private[ops] final case class PdfFontMap(codeBytes: Int, map: Map[Int, String])

  /** Parse a /ToUnicode CMap stream (ISO 32000 §9.10.3 / Adobe CMap
   * grammar, the subset embedded fonts actually carry):
   * `begincodespacerange` fixes the code width (2 hex digits = 1-byte
   * simple font, 4 = 2-byte CID font), `beginbfchar` pairs and
   * `beginbfrange` triples — both the incremented-destination form
   * `<lo> <hi> <dst>` and the explicit-array form
   * `<lo> <hi> [<d0> <d1> …]` — populate the map; destinations are
   * UTF-16BE and may be multi-code-unit (ligatures). Anything
   * malformed contributes nothing (tolerance): code captures are
   * bounded to 6 hex digits so `hx` can never overflow Int, and the
   * whole parse is fenced — a hostile CMap claims nothing, never
   * throws out of the task. */
  private[ops] def pdfCmap(text: String): Option[PdfFontMap] =
    try pdfCmapUnsafe(text) catch { case _: RuntimeException => None }

  private def pdfCmapUnsafe(text: String): Option[PdfFontMap] = {
    def hx(s: String): Int = java.lang.Integer.parseInt(s, 16)
    def utf16(hex: String): String = {
      val e = if (hex.length % 2 == 1) hex + "0" else hex
      val bytes = new Array[Byte](e.length / 2)
      var i = 0
      while (i < bytes.length) {
        bytes(i) = hx(e.substring(2 * i, 2 * i + 2)).toByte
        i += 1
      }
      new String(bytes, java.nio.charset.StandardCharsets.UTF_16BE)
    }
    val csr = ("begincodespacerange\\s*<([0-9A-Fa-f]+)>\\s*" +
      "<([0-9A-Fa-f]+)>").r
    val width = csr.findFirstMatchIn(text)
      .map(m => math.max(1, m.group(2).length / 2)).getOrElse(1)
    if (width > 2) return None // 3/4-byte code spaces out of scope
    val map = scala.collection.mutable.Map.empty[Int, String]
    val pair = "<([0-9A-Fa-f]{1,6})>\\s*<([0-9A-Fa-f]+)>".r
    "(?s)beginbfchar(.*?)endbfchar".r.findAllMatchIn(text).foreach { m =>
      pair.findAllMatchIn(m.group(1)).foreach { p =>
        map(hx(p.group(1))) = utf16(p.group(2))
      }
    }
    // destination captures in the RANGE forms are bounded to 32 hex
    // digits (8 UTF-16 code units — beyond any real ligature): the
    // increment form copies its base once per range entry, so an
    // unbounded base × a 65k-entry range would be a quadratic
    // allocation a hostile CMap controls. bfchar destinations stay
    // unbounded (linear in the already-capped stream size).
    val triple = ("<([0-9A-Fa-f]{1,6})>\\s*<([0-9A-Fa-f]{1,6})>\\s*" +
      "(?:<([0-9A-Fa-f]{1,32})>|\\[([^\\]]*)\\])").r
    val hexTok = "<([0-9A-Fa-f]{1,32})>".r
    "(?s)beginbfrange(.*?)endbfrange".r.findAllMatchIn(text).foreach { m =>
      triple.findAllMatchIn(m.group(1)).foreach { t =>
        val lo = hx(t.group(1))
        val hi = hx(t.group(2))
        if (hi >= lo && hi - lo <= 0xFFFF) {
          if (t.group(3) != null) {
            val base = utf16(t.group(3))
            if (base.nonEmpty) (lo to hi).foreach { c =>
              // the incremented form bumps the LAST UTF-16 code unit
              map(c) = base.init + (base.last + (c - lo)).toChar
            }
          } else {
            val dsts = hexTok.findAllMatchIn(t.group(4)).map(_.group(1)).toSeq
            (lo to hi).zip(dsts).foreach { case (c, d) => map(c) = utf16(d) }
          }
        }
      }
    }
    if (map.isEmpty) None else Some(PdfFontMap(width, map.toMap))
  }

  /** Map one shown string's RAW bytes through the current font's
   * ToUnicode table: bytes group into codeBytes-wide codes, mapped
   * codes emit their Unicode, unmapped codes claim nothing (the
   * bytes prove no text). Fonts without a table pass the bytes
   * through as ISO-8859-1 — the historical no-font behavior. */
  private def pdfMapShown(raw: String, font: Option[PdfFontMap]): String =
    font match {
      case None => raw
      case Some(f) =>
        val bytes = raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        val sb = new StringBuilder
        var i = 0
        while (i + f.codeBytes <= bytes.length) {
          var code = 0
          var k = 0
          while (k < f.codeBytes) { code = (code << 8) | (bytes(i + k) & 0xff); k += 1 }
          f.map.get(code).foreach(sb ++= _)
          i += f.codeBytes
        }
        sb.toString
    }

  /** All text-SHOW operators of one decoded content stream, in stream
   * order, one string per operator, joined with a single space:
   * `(…) Tj`, the move-and-show `'` and `"` forms, hex-string
   * variants `<…> Tj|'|"`, and kerned `[ … ] TJ` arrays whose
   * literal/hex pieces concatenate (kerning numbers drop). `Tf`
   * operators are tracked in stream order: shows under a font with a
   * /ToUnicode CMap decode through it ([[pdfMapShown]]); fonts
   * without one — and text before any `Tf` — keep the historical
   * byte-literal behavior. Literal strings with escaped or nested
   * parentheses are out of contract (the `[^()]*` rule the oracle
   * replays verbatim). */
  private[ops] def pdfShowText(d: String,
      fonts: Map[String, PdfFontMap] = Map.empty): String = {
    val tokenRe = ("/([A-Za-z0-9.+-]+)[ \\t\\r\\n]+[-0-9.]+[ \\t\\r\\n]+Tf" +
      "|\\(([^()]*)\\)[ \\t\\r\\n]*(?:Tj|'|\")" +
      "|<([0-9A-Fa-f \\t\\r\\n]*)>[ \\t\\r\\n]*(?:Tj|'|\")" +
      "|\\[([^\\[\\]]*)\\][ \\t\\r\\n]*TJ").r
    val pieceRe = "\\(([^()]*)\\)|<([0-9A-Fa-f \\t\\r\\n]*)>".r
    var font: Option[PdfFontMap] = None
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    tokenRe.findAllMatchIn(d).foreach { m =>
      if (m.group(1) != null) font = fonts.get(m.group(1))
      else if (m.group(2) != null) out += pdfMapShown(m.group(2), font)
      else if (m.group(3) != null) out += pdfMapShown(pdfHexString(m.group(3)), font)
      else out += pieceRe.findAllMatchIn(m.group(4)).map { p =>
        pdfMapShown(
          if (p.group(1) != null) p.group(1) else pdfHexString(p.group(2)), font)
      }.mkString
    }
    out.mkString(" ")
  }

  /** Inflate a raw zlib stream, None past `cap` bytes or on corrupt
   * input — tolerance, never a throw (and never a spin: a
   * preset-dictionary stream bails). */
  private def inflateBytesCapped(z: Array[Byte], cap: Int)
      : Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(z)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!inf.finished() && total <= cap) {
        val n = inf.inflate(buf)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return None
        out.write(buf, 0, n)
        total += n
      }
      if (total > cap) None else Some(out.toByteArray)
    } catch { case _: Exception => None }
    finally inf.end()
  }

  /** Page-text table (q_w21): pdfPageTexts per document — pure
   * map-side, the PDFs never shuffle, only (ids, text) rows leave. */
  def pdfPageTextTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap(r => pdfPageTexts(r.media).map {
          case (p, c, t) => (r.media_id, p, c, t)
        })
      }
      .toDF("media_id", "page_obj", "content_obj", "text")
  }

  // ----------------------------------------------------------------- tar

  /** Parse the NUL/space-padded octal of a ustar numeric field;
   * -1 when no octal digits are present. */
  private[ops] def tarOctal(b: Array[Byte], off: Int, len: Int): Long = {
    var v = -1L
    var i = off
    val end = off + len
    while (i < end) {
      val c = b(i) & 0xff
      if (c >= '0' && c <= '7') { v = (if (v < 0) 0L else v) * 8 + (c - '0'); i += 1 }
      else if ((c == ' ' || c == 0) && v < 0) i += 1 // leading padding
      else i = end // terminator (or junk): stop
    }
    v
  }

  private[ops] def tarString(b: Array[Byte], off: Int, len: Int): String = {
    var e = off
    while (e < off + len && b(e) != 0) e += 1
    new String(b, off, e - off, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** PAX extended-header payload parse: a sequence of
   * `%d %s=%s\n` records where the leading decimal is the TOTAL
   * record length including itself, the space, and the trailing
   * newline (POSIX pax(1) Extended Header format). Returns the last
   * `path` value, the next member's name override; parsing stops at
   * the first malformed record (keeping any path already parsed) —
   * the walkers' tolerance discipline. */
  private[ops] def paxPath(b: Array[Byte], off: Int, len: Int): Option[String] = {
    var p = off
    val end = math.min(off.toLong + len, b.length.toLong).toInt
    var path: Option[String] = None
    var ok = true
    while (ok && p < end) {
      var q = p
      var n = 0L
      while (q < end && b(q) >= '0' && b(q) <= '9') { n = n * 10 + (b(q) - '0'); q += 1 }
      if (q == p || q >= end || b(q) != ' ' ||
          n < q - p + 2 || p + n > end || b(p + n.toInt - 1) != '\n') ok = false
      else {
        val rec = new String(b, q + 1, p + n.toInt - 1 - (q + 1),
          java.nio.charset.StandardCharsets.UTF_8) // pax payloads are UTF-8 by spec
        val eq = rec.indexOf('=')
        if (eq > 0 && rec.substring(0, eq) == "path" && eq + 1 < rec.length)
          path = Some(rec.substring(eq + 1))
        p += n.toInt
      }
    }
    path
  }

  /** One tar member: (name, header_offset, data_offset, size,
   * typeflag). POSIX ustar 512-byte headers: NUL-terminated name at
   * 0, 12-byte octal size at 124, typeflag at 156, magic "ustar" at
   * 257, path prefix at 345; payload rounded up to the 512 grid. The
   * walk ends at the first all-zero block (the archive end marker),
   * a non-ustar header, an unparsable size, or a member whose
   * payload overruns the file (truncated shard — not emitted).
   *
   * Long-name overrides — real WebDataset shards routinely carry
   * >100-char sample keys, which ustar alone cannot store:
   *  - a GNU long-name entry (typeflag 'L') holds the NEXT member's
   *    full name as its payload (NUL-terminated);
   *  - a PAX extended header (typeflag 'x') holds `len key=value\n`
   *    records whose `path` key overrides the NEXT member's name.
   * Both entries are emitted as members themselves (they occupy real
   * byte spans a seeking loader must know about, under their own
   * stored names), and the override applies to the next member whose
   * typeflag is neither 'L' nor 'x' — so q_w4 sample grouping sees
   * the full key, never the 100-byte truncation.
   *
   * Override layering contract (what GNU tar itself does): an L/x
   * entry that carries a usable name REPLACES any earlier pending
   * override; an L with an empty payload or an x whose records have
   * no (or an empty) `path` key contributes NOTHING and leaves the
   * earlier pending name in force — so `L(name) → x(mtime only) →
   * member` renames the member from the L, exactly like GNU tar
   * applying both headers to the next file. GNU tar and every
   * WebDataset writer emit exactly one NAMED override per member, so
   * on real archives (and the fixtures) this is indistinguishable
   * from the lag(1) single-immediate form the oracle replays; the
   * layered shapes are pinned by the consecutive-override unit
   * tests. */
  private[ops] def tarMembers(
      b: Array[Byte]): Seq[(String, Long, Long, Long, String)] = {
    if (b == null) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long, String)]
    var pos = 0
    var ok = true
    var pending: Option[String] = None // name override from a preceding L/x entry
    while (ok && pos + 512 <= b.length) {
      var allZero = true
      var i = pos
      while (allZero && i < pos + 512) { if (b(i) != 0) allZero = false; i += 1 }
      if (allZero) ok = false // end-of-archive marker
      else {
        val magic = tarString(b, pos + 257, 5)
        val size = tarOctal(b, pos + 124, 12)
        if (magic != "ustar" || size < 0) ok = false
        else {
          val prefix = tarString(b, pos + 345, 155)
          val name0 = tarString(b, pos, 100)
          val rawName = if (prefix.nonEmpty) prefix + "/" + name0 else name0
          val tf = b(pos + 156) & 0xff
          val typeflag = if (tf == 0) "0" else tf.toChar.toString
          val dataOff = pos + 512L
          if (dataOff + size > b.length) ok = false // truncated: not claimed
          else {
            val name = typeflag match {
              case "L" | "x" => rawName // override entries keep their stored name
              case _ =>
                val n = pending.getOrElse(rawName); pending = None; n
            }
            if (typeflag == "L")
              pending = Some(tarString(b, dataOff.toInt, size.toInt))
                .filter(_.nonEmpty).orElse(pending)
            else if (typeflag == "x")
              pending = paxPath(b, dataOff.toInt, size.toInt)
                .filter(_.nonEmpty).orElse(pending)
            out += ((name, pos.toLong, dataOff, size, typeflag))
            pos = (dataOff + ((size + 511) / 512) * 512).toInt
          }
        }
      }
    }
    out.toSeq
  }

  /** Relational face of [[tarMembers]]: one row per member with its
   * byte coordinates — the WebDataset shard index (a loader seeks to
   * data_offset and reads n_bytes without scanning the shard). Pure
   * map-side, same discipline as [[warcRecordTable]]. */
  def tarMemberTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          tarMembers(r.media).zipWithIndex.map {
            case ((name, hOff, dOff, size, tf), i) =>
              (r.media_id, i, name, hOff, dOff, size, tf)
          }
        }
      }
      .toDF("media_id", "member_idx", "name", "header_offset",
        "data_offset", "n_bytes", "typeflag")
  }

  /**
   * WebDataset SAMPLE table over a [[tarMemberTable]]: the
   * WebDataset convention groups a shard's regular members by the
   * basename before the FIRST dot — `sample0001.jpg` +
   * `sample0001.txt` + `sample0001.json` form ONE training sample
   * whose components are the extensions. One row per (shard, sample)
   * with component count/bytes and the sorted extension list — the
   * unit a multimodal loader iterates, derived without reading any
   * payload.
   *
   * Scale shape: one groupBy shuffle over fixed-shape index rows
   * (never the blobs); at corpus scale the member table is orders of
   * magnitude smaller than the shards it indexes.
   *
   * Streaming face: the same body over a streaming member table is a
   * streaming aggregation — run it in COMPLETE output mode (each
   * trigger re-emits the up-to-date sample index). No watermark is
   * needed because shards arrive whole, so a sample's members never
   * straddle micro-batches (batch-equivalence is pinned in
   * ShardListStreamSpec).
   */
  def webdatasetSamples(members: DataFrame): DataFrame =
    members
      .filter(col("typeflag") === "0" && col("name").contains("."))
      .withColumn("sample_key", substring_index(col("name"), ".", 1))
      .withColumn("ext",
        expr("substring(name, length(substring_index(name, '.', 1)) + 2)"))
      .groupBy(col("media_id"), col("sample_key"))
      .agg(
        count(lit(1)).as("n_components"),
        sum(col("n_bytes")).as("total_bytes"),
        array_join(array_sort(collect_list(col("ext"))), ",").as("exts"))

  /** WebDataset image–text PAIR table — the canonical multimodal
   * training-data job over tar shards: one row per (shard, sample)
   * with the sample's image header fields (format/width/height parsed
   * from the `.jpg` member's REAL bytes by
   * [[Multimodal.ImageHeaders]]'s segment walk) and its `.txt`
   * caption, derived in the SAME partition-local pass that walks the
   * shard. All of a sample's members live inside one shard by the
   * WebDataset contract, so the sample grouping happens inside the
   * map partition and the operator is ZERO-shuffle: at corpus scale
   * every shard contributes only fixed-shape rows and no payload
   * byte beyond the caption string leaves the partition. A sample
   * with several images/captions keeps the first by member order
   * (deterministic); missing or unparsable components are NULLs,
   * never errors. */
  def webdatasetPairTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val regular = tarMembers(r.media).zipWithIndex.collect {
            case ((name, _, dOff, size, "0"), i) if name.contains(".") =>
              val dot = name.indexOf('.')
              (name.substring(0, dot), name.substring(dot + 1), dOff, size, i)
          }
          regular.groupBy(_._1).toSeq.map { case (key, comps) =>
            val jpg = comps.filter(_._2 == "jpg").sortBy(_._5).headOption
            val txt = comps.filter(_._2 == "txt").sortBy(_._5).headOption
            val meta = jpg.flatMap { case (_, _, off, size, _) =>
              Multimodal.ImageHeaders.imageMeta(
                java.util.Arrays.copyOfRange(r.media, off.toInt, (off + size).toInt))
            }
            (r.media_id, key, comps.size.toLong,
              meta.map(_.format).orNull,
              meta.map(_.width), meta.map(_.height),
              jpg.map(_._4),
              txt.map { case (_, _, off, size, _) =>
                new String(r.media, off.toInt, size.toInt,
                  java.nio.charset.StandardCharsets.US_ASCII)
              }.orNull)
          }
        }
      }
      .toDF("media_id", "sample_key", "n_components", "img_format",
        "width", "height", "img_bytes", "caption")
  }

  // ----------------------------------------------------------------- ZIP

  private def le16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
  private def le64(b: Array[Byte], p: Int): Long =
    le32(b, p) | (le32(b, p + 4) << 32)

  /** One ZIP entry: (name, method, comp_size, uncomp_size,
   * local_header_offset, data_offset). The central directory is
   * located via the End-Of-Central-Directory record (signature
   * 06054b50, scanned backward over the trailing comment per APPNOTE
   * §4.3.16) and walked entry by entry; data_offset re-reads each
   * LOCAL header (its extra-field length legitimately differs from
   * the central one) — None when the local header is missing or
   * out of bounds. Entries stop at the first bad signature or
   * bound overrun (truncated archive — not claimed).
   *
   * ZIP64 (APPNOTE §4.4.1.4): image corpora >4 GiB / >65k entries are
   * the norm at scale, so the walker resolves the ZIP64 form fully.
   * The discriminator is the PRESENCE of the ZIP64 EOCD locator
   * (signature 07064b50, the 20 bytes immediately before the EOCD) —
   * not the 0xFFFF/0xFFFFFFFF sentinels alone, because a legitimate
   * non-ZIP64 archive with exactly 65535 entries is valid per
   * APPNOTE. When the locator is present, entry count and central
   * directory offset come from the ZIP64 EOCD record (signature
   * 06064b50) as 64-bit values; per entry, a 0xFFFFFFFF
   * comp/uncomp/offset slot is resolved from the entry's ZIP64 extra
   * field (header id 0x0001), whose 8-byte values appear in fixed
   * order for exactly the slots that carry the sentinel. */
  private[ops] def zipEntries(
      b: Array[Byte]): Seq[(String, Int, Long, Long, Long, Option[Long])] = {
    if (b == null || b.length < 22) return Nil
    var e = b.length - 22
    val lowest = math.max(0, b.length - 22 - 0xffff)
    while (e >= lowest && !((b(e) & 0xff) == 0x50 && (b(e + 1) & 0xff) == 0x4b &&
        (b(e + 2) & 0xff) == 0x05 && (b(e + 3) & 0xff) == 0x06)) e -= 1
    if (e < lowest) return Nil
    var count: Long = le16(b, e + 10)
    var cdOff: Long = le32(b, e + 16)
    val loc = e - 20 // ZIP64 EOCD locator sits immediately before the EOCD
    if (loc >= 0 && le32(b, loc) == 0x07064b50L) {
      val z = le64(b, loc + 8)
      if (z >= 0 && z + 56 <= b.length && le32(b, z.toInt) == 0x06064b50L) {
        count = le64(b, z.toInt + 32) // total entries on this disk's CD
        cdOff = le64(b, z.toInt + 48)
      }
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Long, Long, Long, Option[Long])]
    var p = cdOff
    var k = 0L
    var ok = p >= 0 && p <= b.length
    while (ok && k < count && p + 46 <= b.length) {
      if (!((b(p.toInt) & 0xff) == 0x50 && (b(p.toInt + 1) & 0xff) == 0x4b &&
          (b(p.toInt + 2) & 0xff) == 0x01 && (b(p.toInt + 3) & 0xff) == 0x02)) ok = false
      else {
        val q = p.toInt
        val method = le16(b, q + 10)
        var csize = le32(b, q + 20)
        var usize = le32(b, q + 24)
        val nlen = le16(b, q + 28)
        val xlen = le16(b, q + 30)
        val clen = le16(b, q + 32)
        var lho = le32(b, q + 42)
        if (q + 46 + nlen > b.length) ok = false
        else {
          if (csize == 0xffffffffL || usize == 0xffffffffL || lho == 0xffffffffL) {
            // hop the extra subfields to the ZIP64 field (id 0x0001);
            // its 8-byte values appear in APPNOTE order (uncomp, comp,
            // offset) for exactly the sentinel-bearing slots
            var xp = q + 46 + nlen
            val xend = math.min(xp.toLong + xlen, b.length.toLong).toInt
            var found = false
            while (!found && xp + 4 <= xend) {
              val id = le16(b, xp)
              val sz = le16(b, xp + 2)
              if (id == 1 && xp + 4 + sz <= xend) {
                var d = xp + 4
                val dend = xp + 4 + sz
                if (usize == 0xffffffffL && d + 8 <= dend) { usize = le64(b, d); d += 8 }
                if (csize == 0xffffffffL && d + 8 <= dend) { csize = le64(b, d); d += 8 }
                if (lho == 0xffffffffL && d + 8 <= dend) { lho = le64(b, d); d += 8 }
                found = true
              } else xp += 4 + sz
            }
          }
          val name = new String(b, q + 46, nlen,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          val dataOff =
            if (lho >= 0 && lho + 30 <= b.length &&
                (b(lho.toInt) & 0xff) == 0x50 && (b(lho.toInt + 1) & 0xff) == 0x4b &&
                (b(lho.toInt + 2) & 0xff) == 0x03 && (b(lho.toInt + 3) & 0xff) == 0x04)
              Some(lho + 30 + le16(b, lho.toInt + 26) + le16(b, lho.toInt + 28))
            else None
          out += ((name, method, csize, usize, lho, dataOff))
          p += 46 + nlen + xlen + clen
          k += 1
        }
      }
    }
    out.toSeq
  }

  /** Relational face of [[zipEntries]]: one row per central-directory
   * entry — the ZIP member index, read without touching any payload
   * (method 0 = STORED members are directly byte-addressable at
   * data_offset). Pure map-side, same discipline throughout. */
  def zipEntryTable(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("mime_type"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          zipEntries(r.media).zipWithIndex.map {
            case ((name, method, cs, us, lho, dOff), i) =>
              (r.media_id, i, name, method, cs, us, lho, dOff)
          }
        }
      }
      .toDF("media_id", "entry_idx", "name", "method", "comp_bytes",
        "uncomp_bytes", "local_header_offset", "data_offset")
  }
}
