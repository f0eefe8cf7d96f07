package graft.tools

import java.nio.charset.StandardCharsets.US_ASCII

/**
 * Deterministic zstd-transport fixture for the q_w38/q_w39/q_w40
 * walkers — three shard kinds, `media_id % 3` apart, every content
 * byte a pure function of ids so the DuckDB oracle re-derives record
 * identity arithmetically while frame COORDINATES are re-derived from
 * the raw bytes (a recursive RFC 8878 frame/block-header walk over
 * the hex — DuckDB cannot decompress zstd, but the frame structure is
 * plain arithmetic).
 *
 * Kind `id % 3 == 0` — `.jsonl` document shard (j = id/3):
 *  - j%8==7 → ASCII junk, no rows;
 *  - else codec j%4: 0 = one zstd frame, 1 = MULTI-frame zstd split
 *    every 100 raw bytes (lines straddle frame boundaries — the
 *    continuous-stream path), 2 = gzip, 3 = plain NDJSON;
 *  - 3 + j%5 lines, each {"id","lang","text"} of id arithmetic;
 *    even j ends with a trailing newline, odd j does not (the
 *    unterminated-tail line is still claimed).
 *
 * Kind `id % 3 == 1` — `.warc.zst` shard (w = id/3), IIPC layout:
 *  - w%8==7 → junk; w%8==3 → built whole then the last 11 bytes cut
 *    (the walker and the oracle both keep only complete frames);
 *  - w%4: 0 = plain frames, 1 = leading skippable dictionary frame
 *    (magic 0x184D2A5D) holding a RAW dictionary, 2 = the same
 *    dictionary but zstd-COMPRESSED inside the skippable frame,
 *    3 = no dictionary, content-checksum flag on every data frame;
 *  - records: warcinfo, then 2 + w%3 responses; frame 0 (after any
 *    dictionary) holds the warcinfo alone, later frames hold up to
 *    TWO records each (the IIPC record-group shape).
 *
 * Kind `id % 3 == 2` — `.tar.zst` WebDataset shard (t = id/3):
 *  - t%8==7 → junk;
 *  - 2 + t%3 samples of `sampleNNNN.jpg` + `sampleNNNN.txt`; even t
 *    closes with a GNU 'L' long-name override pair (stored name
 *    `././@LongLink`, >100-char real name);
 *  - even t: ONE zstd frame; odd t: multi-frame split every 1024 raw
 *    bytes (members straddle frames).
 *
 * The build ASSERTS the oracle's structural assumptions on every
 * shard: each data frame is SINGLE-block (one-shot compression of
 * sub-128 KiB groups guarantees it, and the oracle's frame-length
 * arithmetic unrolls exactly one block), and the engine walkers
 * round-trip the contract (rows match the arithmetic) — a zstd-jni
 * behaviour change would fail the build loudly, never skew the
 * committed fixture.
 *
 * Usage: Test/runMain graft.tools.ZstFixture [outFile] [rows]
 * (default fixtures/zst.parquet, 500 rows)
 */
object ZstFixture {

  import com.github.luben.zstd.{Zstd, ZstdCompressCtx}

  private def z(src: Array[Byte]): Array[Byte] = Zstd.compress(src, 3)

  private def zDict(src: Array[Byte], dict: Array[Byte]): Array[Byte] = {
    val dst = new Array[Byte](Zstd.compressBound(src.length.toLong).toInt)
    val n = Zstd.compressUsingDict(dst, 0, src, 0, src.length, dict, 3)
    java.util.Arrays.copyOf(dst, n.toInt)
  }

  private def zChecksum(src: Array[Byte]): Array[Byte] = {
    val ctx = new ZstdCompressCtx()
    try { ctx.setChecksum(true); ctx.setLevel(3); ctx.compress(src) }
    finally ctx.close()
  }

  // ------------------------------------------------------------ jsonl

  def jsonlNLines(j: Long): Int = 3 + (j % 5).toInt

  def jsonlLang(k: Int): String = Seq("en", "de", "fr")(k % 3)

  def jsonlText(id: Long, k: Int): String =
    s"sample text $id $k " +
      Seq.fill(((id + k) % 4).toInt + 1)("lorem").mkString(" ")

  def jsonlLine(id: Long, k: Int): String =
    s"""{"id":"doc-$id-$k","lang":"${jsonlLang(k)}","text":"${jsonlText(id, k)}"}"""

  def jsonlPayload(id: Long): Array[Byte] = {
    val j = id / 3
    val lines = (0 until jsonlNLines(j)).map(k => jsonlLine(id, k))
    val tail = if (j % 2 == 0) "\n" else ""
    (lines.mkString("\n") + tail).getBytes(US_ASCII)
  }

  /** Split `raw` into zstd frames of `chunk` raw bytes each. */
  private def zMulti(raw: Array[Byte], chunk: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    while (p < raw.length) {
      val n = math.min(chunk, raw.length - p)
      out.write(z(java.util.Arrays.copyOfRange(raw, p, p + n)))
      p += n
    }
    out.toByteArray
  }

  private def gz(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(raw); g.close()
    bos.toByteArray
  }

  def jsonlShard(id: Long): (String, Array[Byte]) = {
    val j = id / 3
    if (j % 8 == 7)
      ("text/plain", s"no shard here $id".getBytes(US_ASCII))
    else {
      val raw = jsonlPayload(id)
      (j % 4) match {
        case 0 => ("application/zstd", z(raw))
        case 1 => ("application/zstd", zMulti(raw, 100))
        case 2 => ("application/gzip", gz(raw))
        case _ => ("application/x-ndjson", raw)
      }
    }
  }

  // --------------------------------------------------------- warc.zst

  def wzNResp(w: Long): Int = 2 + (w % 3).toInt

  def wzUri(id: Long, i: Int): String =
    s"https://zdata${id % 4}.example.org/doc${(id * 7 + i) % 30}"

  def wzDate(id: Long, i: Int): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(
        1740787200L + (id * 53 + i * 17) % 90000)) // 2025-03-01T00:00:00Z

  def wzDigest(id: Long, i: Int): String = s"sha1:ZD${id}R$i"

  def wzBody(id: Long, i: Int): String =
    s"zdoc $id $i " + Seq.fill(((id + i) % 3).toInt + 1)("ipsum").mkString(" ")

  private def wzRecord(headers: Seq[(String, String)], content: String): String =
    ("WARC/1.0" +: headers.map { case (k, v) => s"$k: $v" }).mkString("\r\n") +
      s"\r\nContent-Length: ${content.length}\r\n\r\n" + content + "\r\n\r\n"

  def wzWarcinfo(id: Long): String =
    wzRecord(
      Seq("WARC-Type" -> "warcinfo",
        "WARC-Record-ID" -> f"<urn:uuid:$id%08d-0000-0000-0000-00000000zstd>",
        "Content-Type" -> "application/warc-fields",
        "WARC-Date" -> wzDate(id, 99)),
      s"software: graft-zst-fixture $id\r\n")

  def wzResponse(id: Long, i: Int): String =
    wzRecord(
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> wzUri(id, i),
        "Content-Type" -> "application/http;msgtype=response",
        "WARC-Payload-Digest" -> wzDigest(id, i),
        "WARC-Date" -> wzDate(id, i)),
      "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + wzBody(id, i))

  /** Record groups, frame-shaped: warcinfo alone, then pairs. */
  def wzGroups(id: Long): Seq[Seq[String]] = {
    val w = id / 3
    val resp = (0 until wzNResp(w)).map(i => wzResponse(id, i))
    Seq(wzWarcinfo(id)) +: resp.grouped(2).toSeq
  }

  /** The shared dictionary — raw-content (no dictionary magic), the
   * header prefix every record repeats. */
  val wzDict: Array[Byte] =
    "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://zdata"
      .getBytes(US_ASCII)

  private def skippableDictFrame(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x5D, 0x2A, 0x4D, 0x18)) // 0x184D2A5D LE
    val n = payload.length
    out.write(Array[Byte]((n & 0xff).toByte, ((n >> 8) & 0xff).toByte,
      ((n >> 16) & 0xff).toByte, ((n >> 24) & 0xff).toByte))
    out.write(payload)
    out.toByteArray
  }

  def warcZstShard(id: Long): (String, Array[Byte]) = {
    val w = id / 3
    if (w % 8 == 7)
      ("text/plain", s"not a zstd shard $id".getBytes(US_ASCII))
    else {
      val cls = (w % 4).toInt
      val out = new java.io.ByteArrayOutputStream()
      if (cls == 1) out.write(skippableDictFrame(wzDict))
      if (cls == 2) out.write(skippableDictFrame(z(wzDict)))
      wzGroups(id).foreach { group =>
        val raw = group.mkString.getBytes(US_ASCII)
        out.write(cls match {
          case 1 | 2 => zDict(raw, wzDict)
          case 3 => zChecksum(raw)
          case _ => z(raw)
        })
      }
      val full = out.toByteArray
      if (w % 8 == 3) ("application/zstd", java.util.Arrays.copyOf(full, full.length - 11))
      else ("application/zstd", full)
    }
  }

  // ---------------------------------------------------------- tar.zst

  def tzNSamples(t: Long): Int = 2 + (t % 3).toInt

  def tzJpgSize(id: Long, s: Int): Int = 80 + ((id + s) % 64).toInt

  def tzCaption(id: Long, s: Int): String = s"caption $id $s"

  def tzLongName(id: Long): String =
    s"deep/nested/dir/with/a/really/long/sample/key/part-$id-" +
      "x" * 60 + ".json"

  def tzLongPayload(id: Long): String = s"deep $id"

  private def tarHeader(name: String, size: Long, typeflag: Char): Array[Byte] = {
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes(US_ASCII)
      System.arraycopy(b, 0, h, off, b.length)
    }
    val nameB = name.getBytes(US_ASCII)
    System.arraycopy(nameB, 0, h, 0, math.min(nameB.length, 100))
    put(100, "0000644 ")
    put(108, "0000000 ")
    put(116, "0000000 ")
    put(124, f"$size%011o ")
    put(136, "00000000000 ")
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces
    h(156) = typeflag.toByte
    put(257, "ustar 00")
    var sum = 0L
    var i = 0
    while (i < 512) { sum += h(i) & 0xff; i += 1 }
    val ck = f"$sum%06o  ".getBytes(US_ASCII)
    System.arraycopy(ck, 0, h, 148, 8)
    h
  }

  private def tarMember(out: java.io.ByteArrayOutputStream,
      name: String, payload: Array[Byte], typeflag: Char): Unit = {
    out.write(tarHeader(name, payload.length.toLong, typeflag))
    out.write(payload)
    val pad = (512 - payload.length % 512) % 512
    out.write(new Array[Byte](pad))
  }

  def tarPayload(id: Long): Array[Byte] = {
    val t = id / 3
    val out = new java.io.ByteArrayOutputStream()
    (0 until tzNSamples(t)).foreach { s =>
      val jpg = new Array[Byte](tzJpgSize(id, s))
      java.util.Arrays.fill(jpg, 'J'.toByte)
      tarMember(out, f"sample$s%04d.jpg", jpg, '0')
      tarMember(out, f"sample$s%04d.txt", tzCaption(id, s).getBytes(US_ASCII), '0')
    }
    if (t % 2 == 0) {
      val long = tzLongName(id)
      tarMember(out, "././@LongLink", long.getBytes(US_ASCII) :+ 0.toByte, 'L')
      tarMember(out, long.substring(0, 100), tzLongPayload(id).getBytes(US_ASCII), '0')
    }
    out.write(new Array[Byte](1024)) // end-of-archive marker
    out.toByteArray
  }

  def tarZstShard(id: Long): (String, Array[Byte]) = {
    val t = id / 3
    if (t % 8 == 7)
      ("text/plain", s"not a tar shard $id".getBytes(US_ASCII))
    else {
      val raw = tarPayload(id)
      if (t % 2 == 0) ("application/zstd", z(raw))
      else ("application/zstd", zMulti(raw, 1024))
    }
  }

  def row(id: Long): (String, Array[Byte]) = (id % 3) match {
    case 0 => jsonlShard(id)
    case 1 => warcZstShard(id)
    case _ => tarZstShard(id)
  }

  // ------------------------------------------------------ build asserts

  /** Fail the build if any structural assumption the DuckDB oracle
   * encodes does not hold on the actual bytes. */
  private def verify(id: Long, bytes: Array[Byte]): Unit = {
    import graft.ops.ZstdTransport
    val frames = ZstdTransport.zstdFrames(bytes)
    // single-block data frames (the oracle unrolls exactly one block)
    frames.filter(_.skipNibble < 0).foreach { f =>
      val fhd = bytes(f.offset.toInt + 4) & 0xff
      // the oracle's frame-length arithmetic assumes: single-segment
      // (no window byte), no dictionary-ID field, FCS flag 0 (1 byte)
      // or 1 (2 bytes) — what one-shot compression of <64 KiB groups
      // emits
      require((fhd & 0x20) != 0 && (fhd & 3) == 0 && (fhd >>> 6) <= 1,
        f"id=$id frame at ${f.offset}: FHD $fhd%02X outside the oracle contract")
      val p = f.offset.toInt + 5 + (if ((fhd >>> 6) == 0) 1 else 2)
      val bh = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) | ((bytes(p + 2) & 0xff) << 16)
      require((bh & 1) == 1, s"id=$id frame at ${f.offset}: first block not last")
      require(((bh >>> 1) & 3) != 3, s"id=$id frame at ${f.offset}: reserved block type")
    }
    (id % 3) match {
      case 0 =>
        val j = id / 3
        val got = ZstdTransport.jsonlLines(bytes)
        if (j % 8 == 7) require(got.isEmpty, s"id=$id junk jsonl emitted rows")
        else {
          val want = (0 until jsonlNLines(j)).map(k => jsonlLine(id, k))
          require(got.map(_._3) == want, s"id=$id jsonl lines mismatch: $got")
        }
      case 1 =>
        val w = id / 3
        val got = ZstdTransport.warcZstRecords(bytes)
        if (w % 8 == 7) require(got.isEmpty, s"id=$id junk warc.zst emitted rows")
        else {
          val groups = wzGroups(id)
          val whole = groups.map(_.size).sum
          val expect = if (w % 8 == 3) whole - groups.last.size else whole
          require(got.size == expect, s"id=$id warc.zst records ${got.size} != $expect")
          require(got.forall(_._5 == (w % 4 == 1 || w % 4 == 2)),
            s"id=$id has_dict mismatch")
        }
      case _ =>
        val t = id / 3
        val got = ZstdTransport.tarZstMembers(bytes)
        if (t % 8 == 7) require(got.isEmpty, s"id=$id junk tar.zst emitted rows")
        else {
          val expect = 2 * tzNSamples(t) + (if (t % 2 == 0) 2 else 0)
          require(got.size == expect, s"id=$id tar.zst members ${got.size} != $expect")
          if (t % 2 == 0)
            require(got.last._1 == tzLongName(id), s"id=$id long name not applied: ${got.last._1}")
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/zst.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("zst-fixture")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val data = (0L until rows.toLong).map { id =>
      val (mime, bytes) = row(id)
      verify(id, bytes)
      (id, mime, bytes)
    }
    val df = data.toDF("media_id", "mime_type", "media")
    FixtureIo.writeSingleParquet(df, out, rows.toLong)
    spark.stop()
  }
}
