package graft.tools

/**
 * Deterministic classic-xref PDF fixture for the q_w18/q_w19 walkers —
 * real `%PDF-1.4` files with `N G obj … endobj` bodies, a 20-byte-entry
 * cross-reference table, a trailer dictionary and `startxref`, built
 * byte-for-byte so the DuckDB oracle re-walks the xref chain
 * independently (startxref hop, fixed-width entry grid, `/Prev` chase).
 *
 * Layout per media_id:
 *  - id % 8 == 3 → well-formed body but `startxref` points past the
 *                  file end: no xref is readable, the walker emits
 *                  nothing.
 *  - id % 8 == 7 → ASCII junk, no %PDF magic: no rows.
 *  - id % 8 == 6 → PDF 1.5+ FORM: a `/Type /XRef` cross-reference
 *                  STREAM at startxref (W=[1 4 2], ASCIIHex-coded
 *                  rows) whose type-2 entries point into a
 *                  `/Type /ObjStm` object stream holding the
 *                  catalog/pages/page dicts; content streams stay
 *                  direct. Fixed cell-grid offsets keep the oracle
 *                  arithmetic (see xrefStreamPdf).
 *  - id % 4 == 1 → INCREMENTAL UPDATE: the original file plus an
 *                  appended generation-1 rewrite of the first page
 *                  object and a second xref section whose trailer
 *                  `/Prev` points at the original table — the walker
 *                  must walk the chain (section 0 = latest) and the
 *                  q_w19 resolution must prefer section 0's entry.
 *  - else        → a single-section file: catalog, page tree,
 *                  1 + id%4 page objects each with a content stream,
 *                  one xref subsection covering all objects.
 *
 * Every section uses ONE subsection (`0 N` / `start count`) — small
 * real PDFs do; multi-subsection tables are exercised by unit tests
 * on synthetic bytes (the walker handles them; the oracle contract
 * only needs the fixture's shape). All bytes are 7-bit ASCII so the
 * oracle's blob→VARCHAR decode is total.
 *
 * Usage: Test/runMain graft.tools.PdfFixture [outFile] [rows]
 * (default fixtures/pdf.parquet, 500 rows)
 */
object PdfFixture {

  def nPages(id: Long): Int = 1 + (id % 4).toInt

  /** Object bodies of the base file, in object-number order starting
   * at 1: catalog, pages node, per page (page object, content
   * stream), then the ToUnicode quartet ([[cmapStream]]): font,
   * CMap stream, a page whose /Resources names the font, and its
   * content stream selecting it with `Tf` — the font-ENCODED text
   * class real PDFs carry (q_w21 must decode the codes through the
   * CMap, not emit them as bytes). Content text is deterministic and
   * never contains `endobj`/`stream` tokens. */
  def objects(id: Long): Seq[String] = {
    val k = nPages(id)
    val (uFont, uCmap, uPage, uContent) =
      (3 + 2 * k, 4 + 2 * k, 5 + 2 * k, 6 + 2 * k)
    val (e1Font, eEnc, e2Font, ePage, eContent) =
      (7 + 2 * k, 8 + 2 * k, 9 + 2 * k, 10 + 2 * k, 11 + 2 * k)
    val kids = ((0 until k).map(p => s"${3 + 2 * p} 0 R") ++
      Seq(s"$uPage 0 R", s"$ePage 0 R")).mkString(" ")
    val catalog = "<< /Type /Catalog /Pages 2 0 R >>"
    val pages = s"<< /Type /Pages /Kids [ $kids ] /Count ${k + 2} >>"
    val perPage = (0 until k).flatMap { p =>
      val contentNum = 4 + 2 * p
      val text = pageShow(id, p)
      Seq(
        s"<< /Type /Page /Parent 2 0 R /Contents $contentNum 0 R >>",
        s"<< /Length ${text.length} >>\nstream\n$text\nendstream")
    }
    val cmap = cmapStream(id)
    val uText = uShow(id)
    val eText = encShow(id)
    (catalog +: pages +: perPage) ++ Seq(
      s"<< /Type /Font /Subtype /Type0 /ToUnicode $uCmap 0 R >>",
      s"<< /Length ${cmap.length} >>\nstream\n$cmap\nendstream",
      s"<< /Type /Page /Parent 2 0 R /Resources " +
        s"<< /Font << /FU $uFont 0 R >> >> /Contents $uContent 0 R >>",
      s"<< /Length ${uText.length} >>\nstream\n$uText\nendstream",
      // ---- the /Encoding-fallback page (round 18): a WinAnsi
      // name-encoded font and a font whose /Encoding is an indirect
      // dict (/BaseEncoding /MacRomanEncoding + /Differences); shown
      // codes travel as HEX strings so the file stays 7-bit ASCII
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/Encoding /WinAnsiEncoding >>",
      "<< /Type /Encoding /BaseEncoding /MacRomanEncoding " +
        "/Differences [ 65 /eacute /bullet 97 /emdash ] >>",
      s"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman " +
        s"/Encoding $eEnc 0 R >>",
      s"<< /Type /Page /Parent 2 0 R /Resources << /Font " +
        s"<< /FE1 $e1Font 0 R /FE2 $e2Font 0 R >> >> " +
        s"/Contents $eContent 0 R >>",
      s"<< /Length ${eText.length} >>\nstream\n$eText\nendstream")
  }

  // ---- /Encoding-fallback page (q_w21 must decode through the
  // Annex D tables + /Differences, not emit raw bytes) -------------
  /** WinAnsi-shown codes: 'W', é(E9), “(93), «(AB), and a varying
   * Latin-1 capital À..Ç. */
  def winCodes(id: Long): Seq[Int] =
    Seq(0x57, 0xE9, 0x93, 0xAB, 0xC0 + (id % 8).toInt)
  def winText(id: Long): String =
    "Wé“«" + (0xC0 + (id % 8)).toChar
  /** Mac+Differences-shown codes: 65/66/97 hit the /Differences
   * overrides (eacute/bullet/emdash), 0x87 the MacRoman base (á),
   * plus a varying MacRoman 0x80..0x84 (Ä Å Ç É Ñ). */
  def macCodes(id: Long): Seq[Int] =
    Seq(0x41, 0x42, 0x61, 0x87, 0x80 + (id % 5).toInt)
  def macText(id: Long): String =
    "é•—á" + "ÄÅÇÉÑ".charAt((id % 5).toInt)
  def encShow(id: Long): String =
    s"BT /FE1 12 Tf <${winCodes(id).map(c => f"$c%02X").mkString}> Tj " +
      s"/FE2 10 Tf <${macCodes(id).map(c => f"$c%02X").mkString}> Tj ET"
  /** The encoding page's EXPECTED extracted text (shows join with a
   * single space — the pdfShowText contract). */
  def encMapped(id: Long): String = winText(id) + " " + macText(id)

  /** The ToUnicode CMap: even ids a 1-BYTE simple-font mapping
   * (A–Z shifted into Cyrillic А–Я, space–9 identity), odd ids a
   * 2-BYTE CID mapping (codes 1–10 → U+4E01.., plus a bfchar); all
   * bytes 7-bit ASCII so the oracle's VARCHAR decode stays total. */
  def cmapStream(id: Long): String =
    if (id % 2 == 0)
      "begincodespacerange\n<00> <FF>\nendcodespacerange\n" +
        "2 beginbfrange\n<41> <5A> <0410>\n<20> <39> <0020>\nendbfrange"
    else
      "begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
        "1 beginbfrange\n<0001> <000A> <4E01>\nendbfrange\n" +
        "1 beginbfchar\n<000B> <4E2D>\nendbfchar"

  /** The mapped page's content stream: `/FU … Tf` then one show
   * whose CODES (not bytes) carry the text. */
  def uShow(id: Long): String =
    if (id % 2 == 0) s"BT /FU 12 Tf (DOC $id MAP) Tj ET"
    else {
      val codes = (0 until 4).map(j => 1 + ((id + j) % 10)) :+ 0x0BL
      s"BT /FU 12 Tf <${codes.map(c => f"$c%04X").mkString}> Tj ET"
    }

  /** The mapped page's EXPECTED text — what the engine must decode
   * through the CMap (the oracle re-derives the same string from the
   * id contract, since the codes prove nothing without the map). */
  def uMapped(id: Long): String =
    if (id % 2 == 0)
      s"DOC $id MAP".map(c =>
        if (c >= 'A' && c <= 'Z') (0x410 + (c - 'A')).toChar else c)
    else
      ((0 until 4).map(j => (0x4E00 + 1 + ((id + j) % 10)).toChar) :+ 0x4E2D.toChar)
        .mkString

  /** PDF hex-STRING content (the `<…>` form — no ASCIIHex `>` EOD). */
  def hexStr(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      .map("%02X".format(_)).mkString

  /** The page's content-stream text, cycling the three real show
   * forms so every extractor path is oracle-exercised; each form
   * shows exactly `doc $id page $p`:
   *  p%3==0 → plain literal `Tj`;
   *  p%3==1 → a kerned `TJ` array mixing literal and hex pieces;
   *  p%3==2 → a hex-string `Tj` plus a move-and-show `'`. */
  def pageShow(id: Long, p: Int): String = (p % 3) match {
    case 0 => s"BT (doc $id page $p) Tj ET"
    case 1 => s"BT [ (doc ) -250 ($id) 5 <${hexStr(s" page $p")}> ] TJ ET"
    case _ => s"BT <${hexStr(s"doc $id")}> Tj (page $p) ' ET"
  }

  /** One serialized indirect object. */
  def obj(num: Int, gen: Int, body: String): String =
    s"$num $gen obj\n$body\nendobj\n"

  /** A 20-byte xref entry: 10-digit offset, 5-digit gen, n/f, ` \n`. */
  def entry(off: Long, gen: Int, inUse: Boolean): String =
    f"$off%010d $gen%05d ${if (inUse) "n" else "f"} \n"

  /** The base single-section file and the byte offset of each object
   * (index 0 = object number 1). */
  def base(id: Long): (String, Seq[Long]) = {
    val head = "%PDF-1.4\n"
    val bodies = objects(id)
    val offs = bodies.zipWithIndex.scanLeft(head.length.toLong) {
      case (o, (b, i)) => o + obj(i + 1, 0, b).length
    }.dropRight(1)
    val body = bodies.zipWithIndex.map { case (b, i) => obj(i + 1, 0, b) }.mkString
    val xrefOff = head.length + body.length
    val n = bodies.size + 1
    val xref = s"xref\n0 $n\n" + entry(0, 65535, inUse = false) +
      offs.map(o => entry(o, 0, inUse = true)).mkString +
      s"trailer\n<< /Size $n /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF\n"
    (head + body + xref, offs)
  }

  /** The incremental update appended for id%4==1: object 3 rewritten
   * at generation 1, a single-subsection xref `3 1` and a trailer
   * whose /Prev points at the base table. */
  def withUpdate(id: Long): String = {
    val (orig, _) = base(id)
    val baseXrefOff = orig.indexOf("xref\n").toLong
    val newBody = s"<< /Type /Page /Parent 2 0 R /Rev $id >>"
    val updObj = obj(3, 1, newBody)
    val updOff = orig.length.toLong
    val xrefOff = updOff + updObj.length
    val n = objects(id).size + 1
    orig + updObj + s"xref\n3 1\n" + entry(updOff, 1, inUse = true) +
      s"trailer\n<< /Size $n /Root 1 0 R /Prev $baseXrefOff >>\nstartxref\n$xrefOff\n%%EOF\n"
  }

  // ------------------- PDF 1.5+ xref-STREAM class (id % 8 == 6) ----
  // The modern form most real-web PDFs ship: the cross-reference is
  // a /Type /XRef STREAM (not a classic table) and the small dict
  // objects live compressed inside a /Type /ObjStm object stream.
  // Both streams are /ASCIIHexDecode-filtered so every byte stays
  // 7-bit ASCII (the oracle's blob→VARCHAR decode stays total) and
  // every direct object is space-padded to a FIXED cell ending
  // `endobj\n`, so offsets and lengths are pure cell-grid arithmetic
  // the DuckDB oracle replays without decoding anything.

  /** Cell-grid constants of the xref-stream class. */
  val HeadLen = 9 // "%PDF-1.5\n"
  val ContentCell = 256
  val ObjStmCell = 1024
  val XrefCell = 512

  /** ASCIIHexDecode encoding (uppercase pairs + the `>` EOD). */
  def hexEnc(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      .map("%02X".format(_)).mkString + ">"

  /** One fixed-size cell: `num 0 obj\n<body>\n<pad>endobj\n` — the
   * walker's body-verified length is therefore always size-1. */
  def cell(num: Int, body: String, size: Int): String = {
    val raw = s"$num 0 obj\n$body\n"
    require(raw.length + 7 <= size,
      s"cell overflow: ${raw.length} + 7 > $size")
    raw + " " * (size - raw.length - 7) + "endobj\n"
  }

  /** Object-stream member bodies (objects 1..2+k): catalog, pages
   * node, then the k page dicts — page p's /Contents points at the
   * DIRECT content stream object 3+k+p. */
  def stmMembers(id: Long): Seq[String] = {
    val k = nPages(id)
    val kids = (0 until k).map(p => s"${3 + p} 0 R").mkString(" ")
    Seq("<< /Type /Catalog /Pages 2 0 R >>",
      s"<< /Type /Pages /Kids [ $kids ] /Count $k >>") ++
      (0 until k).map(p =>
        s"<< /Type /Page /Parent 2 0 R /Contents ${3 + k + p} 0 R >>")
  }

  /** The PDF 1.5+ file: object numbering is
   *   1..2+k      in the ObjStm (catalog, pages node, page dicts),
   *   3+k..2+2k   direct content streams (cells of ContentCell),
   *   3+2k        the ObjStm (cell of ObjStmCell),
   *   4+2k        the XRef stream (cell of XrefCell, W=[1 4 2],
   *               default Index = [0 Size]), startxref → its cell. */
  def xrefStreamPdf(id: Long): String = {
    val k = nPages(id)
    val head = "%PDF-1.5\n"
    val contents = (0 until k).map { p =>
      val hx = hexEnc(pageShow(id, p))
      cell(3 + k + p,
        s"<< /Length ${hx.length} /Filter /ASCIIHexDecode >>" +
          s"\nstream\n$hx\nendstream",
        ContentCell)
    }
    val members = stmMembers(id)
    val offs = members.scanLeft(0)(_ + _.length).dropRight(1)
    val header =
      members.indices.map(i => s"${i + 1} ${offs(i)}").mkString(" ") + " "
    val phx = hexEnc(header + members.mkString)
    val objStmNum = 3 + 2 * k
    val objStm = cell(objStmNum,
      s"<< /Type /ObjStm /N ${members.size} /First ${header.length} " +
        s"/Length ${phx.length} /Filter /ASCIIHexDecode >>" +
        s"\nstream\n$phx\nendstream",
      ObjStmCell)
    val size = 5 + 2 * k
    def row(t: Int, f2: Long, f3: Int): String =
      f"$t%02X$f2%08X$f3%04X"
    val xrefOff = HeadLen + ContentCell * k + ObjStmCell
    val rows = Seq(row(0, 0L, 65535)) ++
      members.indices.map(i => row(2, objStmNum.toLong, i)) ++
      (0 until k).map(p => row(1, (HeadLen + ContentCell * p).toLong, 0)) ++
      Seq(row(1, (HeadLen + ContentCell * k).toLong, 0),
        row(1, xrefOff.toLong, 0))
    val rhx = rows.mkString + ">"
    val xref = cell(4 + 2 * k,
      s"<< /Type /XRef /Size $size /W [ 1 4 2 ] /Root 1 0 R " +
        s"/Length ${rhx.length} /Filter /ASCIIHexDecode >>" +
        s"\nstream\n$rhx\nendstream",
      XrefCell)
    head + contents.mkString + objStm + xref +
      s"startxref\n$xrefOff\n%%EOF\n"
  }

  /** startxref points 64 bytes past the end: nothing is walkable. */
  def badStart(id: Long): String = {
    val (orig, _) = base(id)
    val cut = orig.lastIndexOf("startxref\n")
    orig.substring(0, cut) + s"startxref\n${orig.length + 64}\n%%EOF\n"
  }

  def row(id: Long): (String, Array[Byte]) = {
    val s =
      if (id % 8 == 3) badStart(id)
      else if (id % 8 == 7) s"plain junk $id with no pdf framing at all\n"
      else if (id % 8 == 6) xrefStreamPdf(id)
      else if (id % 4 == 1) withUpdate(id)
      else base(id)._1
    ("application/pdf", s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/pdf.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("pdf-fixture")
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
