package graft.tools

/**
 * Deterministic ZIP fixture for the q_w3 central-directory walker —
 * real STORED (method 0) archives with local headers, central
 * directory entries and an End-Of-Central-Directory record, built
 * byte-for-byte per APPNOTE 6.3 layout with real CRC-32s. The DuckDB
 * oracle re-walks the central directory independently via LE hex
 * arithmetic from the EOCD; it never reads this code's intermediate
 * values.
 *
 * Layout per media_id:
 *  - id % 8 == 3 → EOCD claims one more entry than the central
 *                  directory holds (the extra entry's bytes are cut):
 *                  walker emits only the entries whose signatures
 *                  parse.
 *  - id % 8 == 5 → the SAME members in ZIP64 form: the classic EOCD
 *                  carries the 0xFFFF/0xFFFFFFFF sentinels, the real
 *                  count/offset live in a ZIP64 EOCD record found via
 *                  the locator (APPNOTE §4.3.14/15), and central
 *                  entries carry sentinel size/offset slots resolved
 *                  from their ZIP64 extra field (id 0x0001) — all
 *                  three values for even entries, offset-only for odd
 *                  ones (the APPNOTE order rule: values appear for
 *                  exactly the sentinel-bearing slots). Entries at
 *                  e % 3 == 0 put a dummy extra subfield BEFORE the
 *                  ZIP64 one, proving the walker hops subfields
 *                  rather than assuming position. Entry VALUES are
 *                  identical to the non-ZIP64 form — only the
 *                  encoding differs.
 *  - id % 8 == 7 → ASCII junk, no EOCD signature: no rows.
 *  - else        → 2 + id%3 STORED members `f<id>_<e>.txt` with
 *                  deterministic ASCII payloads. Even entries carry a
 *                  4-byte extra field in the LOCAL header ONLY — so
 *                  data_offset ≠ local_header_offset + 30 + name_len,
 *                  proving the walker re-reads the local header
 *                  rather than trusting the central entry. A 6-byte
 *                  archive comment shifts the EOCD off the
 *                  file-minus-22 position, proving the backward scan.
 *
 * Usage: Test/runMain graft.tools.ZipFixture [outFile] [rows]
 * (default fixtures/zip.parquet, 500 rows)
 */
object ZipFixture {

  def nEntries(id: Long): Int = 2 + (id % 3).toInt

  def name(id: Long, e: Int): String = s"f${id}_$e.txt"

  def payload(id: Long, e: Int): Array[Byte] = {
    val len = 24 + 5 * ((id + e) % 6).toInt
    val seed = s"zip $id $e "
    val sb = new StringBuilder(seed)
    var j = 0
    while (sb.length < len) { sb.append(('a' + (id * 3 + e + j) % 26).toChar); j += 1 }
    sb.toString.substring(0, len)
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  def localExtra(e: Int): Array[Byte] =
    if (e % 2 == 0) Array[Byte](0x77, 0x77, 2, 0) else Array.emptyByteArray

  private def crc32(b: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b)
    c.getValue
  }

  private def le16(v: Int): Array[Byte] =
    Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Long): Array[Byte] =
    Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def le64(v: Long): Array[Byte] = le32(v & 0xffffffffL) ++ le32(v >>> 32)

  /** The local-header section shared by both forms: returns
   * (entry, name_bytes, data, local_header_offset) per member. */
  private def writeLocals(out: java.io.ByteArrayOutputStream,
      id: Long): Seq[(Int, Array[Byte], Array[Byte], Int)] =
    (0 until nEntries(id)).map { e =>
      val nm = name(id, e).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val data = payload(id, e)
      val extra = localExtra(e)
      val lho = out.size()
      out.write(Array[Byte](0x50, 0x4b, 3, 4))
      out.write(le16(20)); out.write(le16(0)); out.write(le16(0)) // vers/flags/method
      out.write(le16(0)); out.write(le16(0))                     // time/date (fixed)
      out.write(le32(crc32(data)))
      out.write(le32(data.length.toLong)); out.write(le32(data.length.toLong))
      out.write(le16(nm.length)); out.write(le16(extra.length))
      out.write(nm); out.write(extra); out.write(data)
      (e, nm, data, lho)
    }

  def zip(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = nEntries(id)
    val locals = writeLocals(out, id)
    val cdOff = out.size()
    locals.foreach { case (e, nm, data, lho) =>
      out.write(Array[Byte](0x50, 0x4b, 1, 2))
      out.write(le16(20)); out.write(le16(20)); out.write(le16(0)); out.write(le16(0))
      out.write(le16(0)); out.write(le16(0)) // time/date
      out.write(le32(crc32(data)))
      out.write(le32(data.length.toLong)); out.write(le32(data.length.toLong))
      out.write(le16(nm.length)); out.write(le16(0)); out.write(le16(0)) // no cd extra/comment
      out.write(le16(0)); out.write(le16(0)); out.write(le32(0))         // disk/attrs
      out.write(le32(lho.toLong))
      out.write(nm)
      val _ = e
    }
    val cdLen = out.size() - cdOff
    val comment = s"g$id".take(6).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.write(Array[Byte](0x50, 0x4b, 5, 6))
    out.write(le16(0)); out.write(le16(0))
    out.write(le16(n)); out.write(le16(n))
    out.write(le32(cdLen.toLong)); out.write(le32(cdOff.toLong))
    out.write(le16(comment.length)); out.write(comment)
    out.toByteArray
  }

  /** ZIP64 extra-field subfields of one central entry (the central
   * extra area, dummy subfield included) — shared with the spec's
   * expectation builder. Even entries sentinel all three slots
   * (uncomp, comp, offset in APPNOTE order); odd entries sentinel the
   * offset only. */
  def zip64Extra(e: Int, dataLen: Int, lho: Long): Array[Byte] = {
    val vals =
      (if (e % 2 == 0) le64(dataLen.toLong) ++ le64(dataLen.toLong)
       else Array.emptyByteArray) ++ le64(lho)
    val z64 = le16(1) ++ le16(vals.length) ++ vals
    val dummy = // id 0x7775, 2 payload bytes: the walker must hop it
      if (e % 3 == 0) Array[Byte](0x75, 0x77, 2, 0, 1, 2) else Array.emptyByteArray
    dummy ++ z64
  }

  /** The same archive in ZIP64 form: sentinel EOCD fields, a ZIP64
   * EOCD record + locator, sentinel central size/offset slots
   * resolved via each entry's ZIP64 extra field. Entry VALUES equal
   * [[zip]]'s — only the encoding differs. */
  def zip64(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = nEntries(id)
    val locals = writeLocals(out, id)
    val cdOff = out.size()
    locals.foreach { case (e, nm, data, lho) =>
      val extra = zip64Extra(e, data.length, lho.toLong)
      val sentinelSizes = e % 2 == 0
      out.write(Array[Byte](0x50, 0x4b, 1, 2))
      out.write(le16(45)); out.write(le16(45)); out.write(le16(0)); out.write(le16(0))
      out.write(le16(0)); out.write(le16(0)) // time/date
      out.write(le32(crc32(data)))
      val sz = if (sentinelSizes) 0xffffffffL else data.length.toLong
      out.write(le32(sz)); out.write(le32(sz))
      out.write(le16(nm.length)); out.write(le16(extra.length)); out.write(le16(0))
      out.write(le16(0)); out.write(le16(0)); out.write(le32(0)) // disk/attrs
      out.write(le32(0xffffffffL)) // offset always via the ZIP64 extra
      out.write(nm); out.write(extra)
    }
    val cdLen = out.size() - cdOff
    val z64Off = out.size()
    // ZIP64 EOCD record (APPNOTE §4.3.14)
    out.write(Array[Byte](0x50, 0x4b, 6, 6))
    out.write(le64(44L)) // size of the remainder of this record
    out.write(le16(45)); out.write(le16(45))
    out.write(le32(0)); out.write(le32(0)) // disk numbers
    out.write(le64(n.toLong)); out.write(le64(n.toLong))
    out.write(le64(cdLen.toLong)); out.write(le64(cdOff.toLong))
    // ZIP64 EOCD locator (§4.3.15)
    out.write(Array[Byte](0x50, 0x4b, 6, 7))
    out.write(le32(0))
    out.write(le64(z64Off.toLong))
    out.write(le32(1))
    // classic EOCD: every resolvable field carries its sentinel
    val comment = s"g$id".take(6).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.write(Array[Byte](0x50, 0x4b, 5, 6))
    out.write(le16(0)); out.write(le16(0))
    out.write(le16(0xffff)); out.write(le16(0xffff))
    out.write(le32(0xffffffffL)); out.write(le32(0xffffffffL))
    out.write(le16(comment.length)); out.write(comment)
    out.toByteArray
  }

  /** EOCD count = real entries + 1: the walker must stop at the bad
   * signature where the phantom entry would be, emitting only the
   * real ones. */
  def overCounted(id: Long): Array[Byte] = {
    val full = zip(id)
    // patch the two entry-count fields (+8, +10 from the EOCD sig)
    val commentLen = s"g$id".take(6).length
    val e = full.length - 22 - commentLen
    val n = nEntries(id) + 1
    val out = full.clone()
    out(e + 8) = (n & 0xff).toByte; out(e + 9) = ((n >> 8) & 0xff).toByte
    out(e + 10) = (n & 0xff).toByte; out(e + 11) = ((n >> 8) & 0xff).toByte
    out
  }

  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("application/zip", overCounted(id))
    else if (id % 8 == 5) ("application/zip", zip64(id))
    else if (id % 8 == 7)
      ("text/plain",
        s"plain junk $id no zip end record".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    else ("application/zip", zip(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/zip.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("zip-fixture")
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
