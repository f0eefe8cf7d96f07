package graft.tools

/**
 * Deterministic POSIX-ustar tar fixture in WebDataset shard layout
 * for the q_w2/q_w4 walkers — real 512-byte headers (NUL-terminated
 * names, octal size/mtime/mode fields, COMPUTED checksums, "ustar"
 * magic) over ASCII member payloads, ending with the standard two
 * zero blocks. The DuckDB oracle re-walks the 512 grid independently
 * (octal decode + size hops); it never reads this code's intermediate
 * values.
 *
 * Layout per media_id:
 *  - id % 8 == 3 → a valid first member, then a header whose octal
 *                  size overruns the file (truncated shard): walker
 *                  emits only the members before it.
 *  - id % 8 == 7 → ASCII junk, no ustar magic: no rows.
 *  - id % 8 == 5 → a LONG-KEY WebDataset shard: the same sample
 *                  structure but every sample key exceeds ustar's
 *                  100-byte name field, so each member is preceded by
 *                  a name-override entry — GNU long-name ('L',
 *                  `././@LongLink`, NUL-terminated payload) for
 *                  even member positions, a PAX extended header
 *                  ('x', `len path=<name>\n` record) for odd ones —
 *                  and the member header itself stores the 100-byte
 *                  truncation. Real WebDataset shards hit this
 *                  routinely; the walker must apply the override so
 *                  sample grouping sees the full key.
 *  - else        → a WebDataset shard: 2 + id%3 samples, each with
 *                  members `s<id>_<k>.jpg` (a REAL minimal JPEG —
 *                  SOI/JFIF APP0/SOF0-at-20 with deterministic dims /
 *                  COM filler/EOI — so the q_w12 pair table has
 *                  genuine image headers to parse) + `s<id>_<k>.txt`
 *                  (ASCII caption), plus
 *                  `s<id>_<k>.meta.json` for even k (multi-dot
 *                  extension: WebDataset keys split at the FIRST
 *                  dot). Every member is a regular file (typeflag
 *                  '0').
 *
 * Usage: Test/runMain graft.tools.TarFixture [outFile] [rows]
 * (default fixtures/tar.parquet, 500 rows)
 */
object TarFixture {

  def nSamples(id: Long): Int = 2 + (id % 3).toInt

  /** Sample key: short for ordinary shards; >100 chars for the
   * long-key shards (id % 8 == 5) so the full name can only travel
   * via an L/x override entry. */
  def sampleKey(id: Long, k: Int): String =
    if (id % 8 == 5)
      s"s${id}_${k}_" + ("longkey" * 20).substring(0, 100 + ((id + k) % 7).toInt)
    else s"s${id}_$k"

  def jpgLen(id: Long, k: Int): Int = 100 + 7 * ((id + k) % 5).toInt
  def txtLen(id: Long, k: Int): Int = 20 + 3 * ((id * 5 + k) % 4).toInt
  def jsonLen(id: Long, k: Int): Int = 30 + 2 * ((id + 3 * k) % 6).toInt

  def payload(tag: String, id: Long, k: Int, len: Int): Array[Byte] = {
    val seed = s"$tag $id $k "
    val sb = new StringBuilder(seed)
    var j = 0
    while (sb.length < len) { sb.append(('a' + (id + k + j) % 26).toChar); j += 1 }
    sb.toString.substring(0, len)
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** Deterministic per-sample image dimensions for the REAL JPEG
   * member payloads (the q_w12 pair table parses these back out). */
  def jpegWidth(id: Long, k: Int): Int = 8 * (1 + ((id + k) % 6).toInt)
  def jpegHeight(id: Long, k: Int): Int = 8 * (1 + ((2 * id + k) % 5).toInt)

  /** A minimal REAL JPEG of exactly `len` bytes (len >= 41): SOI, a
   * standard 18-byte JFIF APP0, an SOF0 frame header at byte 20
   * carrying height/width as big-endian 16-bit ints, one COM segment
   * whose length absorbs the remaining budget, EOI. Any
   * segment-walking parser (ours, or the oracle's fixed-offset
   * arithmetic — the layout pins SOF0 at 20) reads the dims back. */
  def jpegPayload(id: Long, k: Int, len: Int): Array[Byte] = {
    require(len >= 41, s"jpeg member needs >= 41 bytes, got $len")
    val b = new Array[Byte](len)
    def put(off: Int, vs: Int*): Unit =
      vs.zipWithIndex.foreach { case (v, i) => b(off + i) = v.toByte }
    val w = jpegWidth(id, k)
    val h = jpegHeight(id, k)
    put(0, 0xff, 0xd8) // SOI
    put(2, 0xff, 0xe0, 0, 16, 'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    // SOF0 at 20: len=11 (precision + h + w + 1 component spec)
    put(20, 0xff, 0xc0, 0, 11, 8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 1, 0x11, 0)
    val comLen = len - 33 - 2 - 2 // COM payload after its 2 len bytes, before EOI
    put(33, 0xff, 0xfe, (comLen + 2) >> 8, (comLen + 2) & 0xff)
    var i = 0
    while (i < comLen) { b(37 + i) = ('a' + (id + k + i) % 26).toByte; i += 1 }
    put(len - 2, 0xff, 0xd9) // EOI
    b
  }

  /** Members of one shard in tar order: (name, bytes) — the LOGICAL
   * view with full names; [[tar]] adds the L/x override entries the
   * physical layout needs when a name exceeds 100 bytes. */
  def members(id: Long): Seq[(String, Array[Byte])] =
    (0 until nSamples(id)).flatMap { k =>
      val base = sampleKey(id, k)
      Seq(
        s"$base.jpg" -> jpegPayload(id, k, jpgLen(id, k)),
        s"$base.txt" -> payload("txt", id, k, txtLen(id, k))) ++
        (if (k % 2 == 0)
          Seq(s"$base.meta.json" -> payload("json", id, k, jsonLen(id, k)))
        else Nil)
    }

  /** One PAX Extended Header record: `%d %s\n` where the leading
   * decimal is the TOTAL record length including itself — the
   * standard self-referential fixpoint. */
  def paxRecord(name: String): String = {
    val base = s" path=$name\n"
    var len = base.length + 1
    while (len.toString.length + base.length != len)
      len = len.toString.length + base.length
    s"$len$base"
  }

  private def putOctal(h: Array[Byte], off: Int, width: Int, v: Long): Unit = {
    // width-1 octal digits + NUL terminator (the common GNU/ustar form)
    var x = v
    var i = off + width - 2
    h(off + width - 1) = 0
    while (i >= off) { h(i) = ('0' + (x % 8)).toByte; x /= 8; i -= 1 }
  }

  private def putStr(h: Array[Byte], off: Int, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    System.arraycopy(b, 0, h, off, b.length)
  }

  /** One real ustar header: checksum computed over the header with
   * the chksum field as spaces (pax/ustar rule), stored as six octal
   * digits + NUL + space. Fixed mtime keeps the fixture
   * deterministic. */
  def header(name: String, size: Long, typeflag: Byte = '0'): Array[Byte] = {
    val h = new Array[Byte](512)
    putStr(h, 0, name)
    putOctal(h, 100, 8, 420 /* 0644 */)
    putOctal(h, 108, 8, 0)
    putOctal(h, 116, 8, 0)
    putOctal(h, 124, 12, size)
    putOctal(h, 136, 12, 1700000000L)
    h(156) = typeflag
    putStr(h, 257, "ustar")
    h(262) = 0
    putStr(h, 263, "00")
    putStr(h, 265, "graft")
    putStr(h, 297, "graft")
    // checksum: field treated as 8 spaces
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    var i = 0
    while (i < 512) { sum += h(i) & 0xff; i += 1 }
    putOctal(h, 148, 7, sum)
    h(155) = ' '
    h
  }

  private def pad512(n: Int): Int = ((n + 511) / 512) * 512 - n

  /** Physical entries of one shard in tar order, override entries
   * included: (stored_name, payload, typeflag). Names over 100 bytes
   * travel as a preceding GNU 'L' entry (even member positions) or
   * PAX 'x' path record (odd positions); the member header itself
   * stores the 100-byte truncation. */
  def physical(id: Long): Seq[(String, Array[Byte], Byte)] =
    members(id).zipWithIndex.flatMap { case ((name, data), mi) =>
      if (name.length <= 100) Seq((name, data, '0'.toByte))
      else if (mi % 2 == 0) {
        val p = (name + "\u0000") // GNU long-name payload: full name, NUL-terminated
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        Seq(("././@LongLink", p, 'L'.toByte),
          (name.substring(0, 100), data, '0'.toByte))
      } else {
        val p = paxRecord(name)
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        Seq((s"PaxHeaders/m$mi", p, 'x'.toByte),
          (name.substring(0, 100), data, '0'.toByte))
      }
    }

  def tar(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    physical(id).foreach { case (name, data, tf) =>
      out.write(header(name, data.length.toLong, tf))
      out.write(data)
      out.write(new Array[Byte](pad512(data.length)))
    }
    out.write(new Array[Byte](1024)) // end-of-archive marker
    out.toByteArray
  }

  /** First member valid, second header's size overruns the file. */
  def truncated(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val data = payload("jpg", id, 0, jpgLen(id, 0))
    out.write(header(s"s${id}_0.jpg", data.length.toLong))
    out.write(data)
    out.write(new Array[Byte](pad512(data.length)))
    out.write(header("overrun.bin", 1 << 20)) // 1 MiB claimed, absent
    out.write(new Array[Byte](64))
    out.toByteArray
  }

  def row(id: Long): (String, Array[Byte]) =
    if (id % 8 == 3) ("application/x-tar", truncated(id))
    else if (id % 8 == 7)
      ("text/plain",
        s"plain junk $id no tar here".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    else ("application/x-tar", tar(id))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/tar.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("tar-fixture")
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
