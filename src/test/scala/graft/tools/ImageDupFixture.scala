package graft.tools

/**
 * Deterministic near-duplicate IMAGE fixture for the q_m31/q_m32
 * perceptual-hash family — real 18×16 truecolor PNGs whose IDAT uses
 * zlib's STORED (uncompressed) deflate mode, so the DuckDB oracle can
 * read every pixel byte straight out of the blob hex at a pinned
 * offset while ImageIO performs a genuine PNG decode of the same
 * bytes.
 *
 * Pixel contract (what both the decoder and the oracle see):
 *  - gray truecolor (R = G = B), so Rec.601 luminance is
 *    order-isomorphic to the raw byte value;
 *  - constant 2×2 cells aligned to the 9×8 dHash grid, so the float
 *    cell means compare exactly like the integer cell values
 *    (equal-valued cells compare equal, distinct ones keep their
 *    integer order — no epsilon at the comparison boundary);
 *  - cell value = (g·37 + gy·19 + gx·23) % 251 with g = id/2: the
 *    EVEN id is the base image, the ODD id perturbs exactly ONE cell
 *    (+37 mod 251) — flipping at most the 2 dHash bits that compare
 *    against that cell, a guaranteed near-duplicate pair.
 *
 * Layout per media_id:
 *  - id % 8 == 3  → PNG signature + a cut mid-IHDR: decode fails,
 *                   no hash row.
 *  - id % 32 == 7 → REAL lossy WebP (VP8 keyframe, [[vp8]]): decodes
 *                   to the same cell grid at 2× scale, same dHash.
 *  - id % 32 == 23→ VP8 chunk with junk payload: decode fails.
 *  - id % 16 == 15→ ASCII junk: no row.
 *  - id % 8 == 5  → WebP-lossless (VP8L) twin: same pixels as png(id).
 *  - id % 32 == 17→ EXIF-oriented twin ([[exifPng]]): the same grid
 *                   STORED rotated with a PNG eXIf orientation tag
 *                   (3/6/8 by id/32) — rotate-before-hash recovers
 *                   the pair with id-1.
 *  - else         → the 948-byte stored-zlib PNG described above.
 *
 * The byte offsets the oracle reads live in [[graft.ImageDupLayout]];
 * ImageDupLayoutSpec pins them against these blobs.
 *
 * Usage: Test/runMain graft.tools.ImageDupFixture [outFile] [rows]
 * (default fixtures/imagedup.parquet, 500 rows)
 */
object ImageDupFixture {

  val W = 18
  val H = 16
  val GridW = 9
  val GridH = 8

  /** The 2×2-constant cell value — multiplicatively scrambled so
   * different base images hash FAR apart (a linear gradient would
   * make most dHash bits constant across every image and the pair
   * face degenerate); the oracle never replicates this arithmetic,
   * it reads the pixel bytes. */
  def cell(id: Long, gx: Int, gy: Int): Int = {
    val g = id / 2
    // splitmix64 finalizer: full avalanche, so adjacent cells compare
    // effectively at random (a weaker scramble leaves the adjacent
    // difference nearly constant and every image hashes alike)
    var h = g * 1000003L + gy * 101L + gx * 13L
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^= h >>> 31
    val base = ((h & 0x7fffffffL) % 251).toInt
    val (pgx, pgy) = ((g % 9).toInt, (g % 8).toInt)
    if (id % 2 == 1 && gx == pgx && gy == pgy) ((base + 37) % 251)
    else base
  }

  private def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val len = data.length
    out.write(Array[Byte]((len >>> 24).toByte, (len >>> 16).toByte,
      (len >>> 8).toByte, len.toByte))
    val tb = ctype.getBytes("US-ASCII")
    out.write(tb); out.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(data)
    val c = crc.getValue
    out.write(Array[Byte]((c >>> 24).toByte, (c >>> 16).toByte,
      (c >>> 8).toByte, c.toByte))
    out.toByteArray
  }

  /** Raw scanlines: per row a 0 filter byte + W×3 RGB bytes. */
  def scanlines(id: Long): Array[Byte] = {
    val out = new Array[Byte]((1 + W * 3) * H)
    var y = 0
    while (y < H) {
      val base = y * (1 + W * 3)
      out(base) = 0 // filter: None
      var x = 0
      while (x < W) {
        val v = cell(id, x / 2, y / 2).toByte
        out(base + 1 + 3 * x) = v
        out(base + 2 + 3 * x) = v
        out(base + 3 + 3 * x) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** zlib wrapper with ONE stored deflate block: 78 01, block header
   * (BFINAL=1, BTYPE=00), LEN/NLEN little-endian, raw bytes, then the
   * Adler-32 of the raw bytes. */
  def storedZlib(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x78); out.write(0x01)
    out.write(0x01) // BFINAL=1, BTYPE=stored
    out.write(raw.length & 0xff); out.write((raw.length >>> 8) & 0xff)
    out.write(~raw.length & 0xff); out.write((~raw.length >>> 8) & 0xff)
    out.write(raw)
    val ad = new java.util.zip.Adler32()
    ad.update(raw)
    val a = ad.getValue
    out.write(Array[Byte]((a >>> 24).toByte, (a >>> 16).toByte,
      (a >>> 8).toByte, a.toByte))
    out.toByteArray
  }

  def png(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    val ihdr = new Array[Byte](13)
    ihdr(0) = (W >>> 24).toByte; ihdr(1) = (W >>> 16).toByte
    ihdr(2) = (W >>> 8).toByte; ihdr(3) = W.toByte
    ihdr(4) = (H >>> 24).toByte; ihdr(5) = (H >>> 16).toByte
    ihdr(6) = (H >>> 8).toByte; ihdr(7) = H.toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = 2 // color type: truecolor RGB
    // compression 0, filter 0, interlace 0 already zeroed
    out.write(chunk("IHDR", ihdr))
    out.write(chunk("IDAT", storedZlib(scanlines(id))))
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  // --------------- WebP-LOSSLESS (VP8L) twin encoding ---------------
  // Real RFC 9649 bitstreams with FIXED canonical prefix codes so the
  // oracle reads pixels straight off the hex digits: 25 bits/pixel
  // (9-bit green literal + two 8-bit codes + 0-bit alpha) after a
  // constant header of ImageDupLayout.Vp8lHeaderBits bits. Green
  // literals 0..255 get 9-bit codes (canonical value = 256 + v), the
  // 16 length symbols 256..271 get 5-bit codes (never emitted — kept
  // only to complete the Kraft sum), red/blue are uniform 8-bit
  // (code = value), alpha is a single-symbol simple code (0 bits),
  // distance a 1-bit-form single symbol.

  /** LSB-first bit writer (the VP8L stream convention). */
  final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nb = 0
    var bitCount = 0
    /** the n LOW bits of v, LSB-first (spec ReadBits order). */
    def bits(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((v >>> i) & 1) << nb
        nb += 1
        bitCount += 1
        if (nb == 8) { out.write(cur); cur = 0; nb = 0 }
        i += 1
      }
    }
    /** a canonical prefix code, MSB-first (tree-descent order). */
    def code(c: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) { bits((c >>> i) & 1, 1); i -= 1 }
    }
    def toBytes: Array[Byte] = {
      if (nb > 0) { out.write(cur); cur = 0; nb = 0 }
      out.toByteArray
    }
  }

  /** Emit `total` repeats of the previous code length via repeat
   * code 16 (3–6 copies each, 2 extra bits). */
  private def rep16(bw: BitWriter, code16: Int, len16: Int, total: Int): Unit = {
    var left = total
    while (left > 0) {
      val r = if (left >= 9) 6 else if (left > 6) left - 3 else left
      bw.code(code16, len16)
      bw.bits(r - 3, 2)
      left -= r
    }
  }

  /** A 256-symbol code with every length 8 (code = symbol value):
   * code-length code = {8→0, 16→1} (two 1-bit symbols), then one
   * literal 8 and repeats. */
  private def writeUniform8(bw: BitWriter): Unit = {
    bw.bits(0, 1)     // not simple
    bw.bits(12 - 4, 4) // num_code_lengths = 12 (sym 8 sits at order idx 11)
    // kCodeLengthCodeOrder = 17,18,0,1,2,3,4,5,16,6,7,8,…
    Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 1).foreach(bw.bits(_, 3))
    bw.bits(0, 1)     // no max_symbol
    bw.code(0, 1)     // symbol 8 → lens[0]=8, prev=8
    rep16(bw, 1, 1, 255)
  }

  /** The shared VP8L header + the five prefix-code declarations. */
  def vp8lHeader(bw: BitWriter): Unit = {
    bw.bits(0x2f, 8)
    bw.bits(W - 1, 14)
    bw.bits(H - 1, 14)
    bw.bits(0, 1) // alpha-is-used hint
    bw.bits(0, 3) // version
    bw.bits(0, 1) // no transforms
    bw.bits(0, 1) // no color cache
    bw.bits(0, 1) // no meta-prefix codes
    // GREEN (280 symbols): lens[0..255]=9, lens[256..271]=5, rest 0.
    // Code-length code {16→0(1), 5→10(2), 9→110(3), 17→111(3)}.
    bw.bits(0, 1)      // not simple
    bw.bits(13 - 4, 4) // num_code_lengths = 13 (sym 9 at order idx 12)
    Array(3, 0, 0, 0, 0, 0, 0, 2, 1, 0, 0, 0, 3).foreach(bw.bits(_, 3))
    bw.bits(0, 1)      // no max_symbol
    bw.code(6, 3)      // symbol 9 → lens[0]=9, prev=9
    rep16(bw, 0, 1, 255)
    bw.code(2, 2)      // symbol 5 → lens[256]=5, prev=5
    rep16(bw, 0, 1, 15)
    bw.code(7, 3)      // symbol 17: zeros
    bw.bits(5, 3)      // 3 + 5 = 8 zeros → 280 symbols total
    writeUniform8(bw)  // RED
    writeUniform8(bw)  // BLUE
    // ALPHA: simple single symbol 255 (8-bit form) → 0 bits/pixel
    bw.bits(1, 1); bw.bits(0, 1); bw.bits(1, 1); bw.bits(255, 8)
    // DISTANCE: simple single symbol 0 (1-bit form) — never read
    bw.bits(1, 1); bw.bits(0, 1); bw.bits(0, 1); bw.bits(0, 1)
  }

  def riff(fourcc: String, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    out.write("RIFF".getBytes("US-ASCII"))
    le32(4 + 8 + payload.length + (payload.length & 1))
    out.write("WEBP".getBytes("US-ASCII"))
    out.write(fourcc.getBytes("US-ASCII"))
    le32(payload.length)
    out.write(payload)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** The WebP-lossless twin of png(id): IDENTICAL pixels, different
   * container — the re-encode case perceptual dedup exists for. */
  def webp(id: Long): Array[Byte] = {
    val bw = new BitWriter
    vp8lHeader(bw)
    var y = 0
    while (y < H) {
      var x = 0
      while (x < W) {
        val v = cell(id, x / 2, y / 2)
        bw.code(256 + v, 9) // green literal
        bw.code(v, 8)       // red
        bw.code(v, 8)       // blue (alpha: 0 bits)
        x += 1
      }
      y += 1
    }
    riff("VP8L", bw.toBytes)
  }

  /** A REAL lossy-WebP twin (VP8 keyframe via [[Vp8Encoder]]): the
   * same 9×8 cell grid at 2× scale (36×32, 4×4-aligned cells — the
   * constant-per-4x4-block class the DC-only encoding round-trips
   * EXACTLY), gray luma with neutral chroma, so the decoded pixels
   * equal cell(id, x/4, y/4) and the dHash matches the 18×16 PNG
   * sibling bit-for-bit (the grid averages each cell exactly at
   * either scale). */
  def vp8(id: Long): Array[Byte] =
    Vp8Encoder.encode(2 * W, 2 * H, (x, y) => cell(id, x / 4, y / 4))

  /** A BROKEN lossy WebP (VP8 chunk with a junk payload): the
   * coverage-miss class q_m34 counts — a real-web container whose
   * bitstream no decoder can claim. */
  def vp8LossyStub(id: Long): Array[Byte] =
    riff("VP8 ", s"not a lossless stream $id".getBytes("US-ASCII"))

  // ---------------- EXIF-oriented twin (rotate-before-hash) ---------

  /** Orientation of the id%32==17 class: 3 = 180°, 6 = 90° CW,
   * 8 = 270° CW, cycling by id/32. */
  def exifOrientation(id: Long): Int = Seq(3, 6, 8)(((id / 32) % 3).toInt)

  /** The phone-camera twin: the SAME pixel grid as png(id) but
   * STORED rotated, with a PNG eXIf chunk carrying the orientation
   * that undoes it — a decoder that ignores orientation (every
   * decoder; ImageIO included) sees a rotated image and the pair
   * (id-1, id) hashes apart; rotate-before-hash recovers it. Stored
   * pixels keep the stored-zlib byte-addressable layout, so the
   * oracle reads them off the hex and applies the same coordinate
   * remap relationally. */
  def exifPng(id: Long): Array[Byte] = {
    val o = exifOrientation(id)
    val (ws, hs) = if (o >= 5) (H, W) else (W, H)
    // stored(u,v) = upright(x,y): the inverse of the display mapping
    def storedVal(u: Int, v: Int): Int = {
      val (x, y) = o match {
        case 3 => (W - 1 - u, H - 1 - v)
        case 6 => (hs - 1 - v, u)
        case _ => (v, ws - 1 - u) // 8
      }
      cell(id, x / 2, y / 2)
    }
    val raw = new Array[Byte]((1 + ws * 3) * hs)
    var v = 0
    while (v < hs) {
      val base = v * (1 + ws * 3)
      raw(base) = 0 // filter: None
      var u = 0
      while (u < ws) {
        val px = storedVal(u, v).toByte
        raw(base + 1 + 3 * u) = px
        raw(base + 2 + 3 * u) = px
        raw(base + 3 + 3 * u) = px
        u += 1
      }
      v += 1
    }
    // little-endian TIFF: "II" 42, IFD0 at 8, ONE entry (0x0112
    // SHORT count 1, value o), no next IFD — 26 bytes
    val tiff = Array[Byte]('I', 'I', 42, 0, 8, 0, 0, 0,
      1, 0,
      0x12, 0x01, 3, 0, 1, 0, 0, 0, o.toByte, 0, 0, 0,
      0, 0, 0, 0)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    val ihdr = new Array[Byte](13)
    ihdr(0) = (ws >>> 24).toByte; ihdr(1) = (ws >>> 16).toByte
    ihdr(2) = (ws >>> 8).toByte; ihdr(3) = ws.toByte
    ihdr(4) = (hs >>> 24).toByte; ihdr(5) = (hs >>> 16).toByte
    ihdr(6) = (hs >>> 8).toByte; ihdr(7) = hs.toByte
    ihdr(8) = 8; ihdr(9) = 2
    out.write(chunk("IHDR", ihdr))
    out.write(chunk("eXIf", tiff))
    out.write(chunk("IDAT", storedZlib(raw)))
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  def row(id: Long): (String, Array[Byte]) = {
    if (id % 8 == 3) ("image/png", png(id).take(20)) // cut mid-IHDR
    else if (id % 32 == 7) ("image/webp", vp8(id))
    else if (id % 32 == 23) ("image/webp", vp8LossyStub(id))
    else if (id % 16 == 15)
      ("image/png",
        s"plain junk $id with no png signature".getBytes("US-ASCII"))
    else if (id % 8 == 5) ("image/webp", webp(id))
    else if (id % 32 == 17) ("image/png", exifPng(id))
    else ("image/png", png(id))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/imagedup.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("imagedup-fixture")
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
