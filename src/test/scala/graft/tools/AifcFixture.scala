package graft.tools

/**
 * Deterministic AIFF-C (AIFC) fixture — the compressionType variants
 * a Mac-rip corpus actually ships: 'sowt' (little-endian PCM16, the
 * dominant AIFC type since OS X), 'fl32' (IEEE float32), 'NONE'
 * (plain big-endian PCM inside the AIFC container), and 'ima4' (a
 * genuinely compressed type the reader must honestly NOT decode).
 * Hand-written FORM/AIFC bytes (FVER + COMM with compressionType
 * pstring + SSND) so the reader
 * ([[graft.ops.Multimodal.AvHeaders.aiffSamples]]) is exercised
 * against true container structure, not a JDK writer's layout.
 *
 * Layout per media_id (q_m40's oracle replays this contract):
 *  - id % 4 == 0 → 'sowt' — decodes
 *  - id % 4 == 1 → 'fl32' — decodes
 *  - id % 4 == 2 → 'NONE' — decodes
 *  - id % 4 == 3 → 'ima4' — parses as an aiff container, decodes
 *                  NOTHING (the honest-zero class)
 * channels = 1 + id%2, rate = 16000·(1 + id%2),
 * frames = 120 + (id%5)·40; the PCM is a deterministic two-tone so
 * sowt/fl32/NONE encodes of the SAME id carry the SAME samples.
 * AudioFpSpec checks this contract on every default row.
 *
 * Usage: Test/runMain graft.tools.AifcFixture [outFile] [rows]
 * (default fixtures/aifc.parquet, 200 rows)
 */
object AifcFixture {

  def channels(id: Long): Int = 1 + (id % 2).toInt
  def rate(id: Long): Int = 16000 * (1 + (id % 2).toInt)
  def frames(id: Long): Int = 120 + (id % 5).toInt * 40

  /** Deterministic 16-bit sample (two-tone, id-seeded). */
  def sample(id: Long, t: Int, c: Int): Short = {
    val f1 = 220.0 + (id % 7) * 110.0
    val f2 = 997.0 + (id % 5) * 331.0
    val r = rate(id).toDouble
    ((math.sin(2 * math.Pi * f1 * t / r) * 9000.0 +
      math.sin(2 * math.Pi * f2 * (t + c) / r) * 6000.0)).toInt.toShort
  }

  /** 80-bit IEEE extended float for COMM's sample rate (positive
   * integer rates: explicit-leading-1 mantissa). */
  private[graft] def ext80(rate: Int): Array[Byte] = {
    require(rate > 0)
    val log2 = 31 - Integer.numberOfLeadingZeros(rate)
    val exp = 16383 + log2
    val mant = rate.toLong << (63 - log2)
    Array[Byte]((exp >> 8).toByte, exp.toByte) ++
      Array.tabulate[Byte](8)(i => (mant >>> (8 * (7 - i))).toByte)
  }

  private def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
  private def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
    (v >> 8).toByte, v.toByte)
  private def chunk(id4: String, body: Array[Byte]): Array[Byte] = {
    val padded = if (body.length % 2 == 1) body :+ 0.toByte else body
    id4.getBytes("US-ASCII") ++ be32(body.length.toLong) ++ padded
  }

  /** One AIFC file of the id's PCM under the given compressionType.
   * For 'ima4' the SSND carries opaque deterministic bytes (real
   * ima4 packing is irrelevant — the reader must refuse at COMM). */
  def aifc(id: Long, comp: String): Array[Byte] = {
    val ch = channels(id)
    val nf = frames(id)
    val bits = comp match { case "fl32" => 32; case _ => 16 }
    val sound: Array[Byte] = comp match {
      case "sowt" =>
        val out = new Array[Byte](nf * ch * 2)
        var i = 0
        for (t <- 0 until nf; c <- 0 until ch) {
          val s = sample(id, t, c).toInt
          out(i) = (s & 0xff).toByte; out(i + 1) = ((s >> 8) & 0xff).toByte
          i += 2
        }
        out
      case "fl32" =>
        val out = new Array[Byte](nf * ch * 4)
        var i = 0
        for (t <- 0 until nf; c <- 0 until ch) {
          val v = java.lang.Float.floatToIntBits(sample(id, t, c) / 32768f)
          out(i) = (v >> 24).toByte; out(i + 1) = (v >> 16).toByte
          out(i + 2) = (v >> 8).toByte; out(i + 3) = v.toByte
          i += 4
        }
        out
      case "ima4" =>
        Array.tabulate[Byte](nf)(j => ((id * 13 + j) & 0x7f).toByte)
      case _ => // NONE: big-endian PCM16
        val out = new Array[Byte](nf * ch * 2)
        var i = 0
        for (t <- 0 until nf; c <- 0 until ch) {
          val s = sample(id, t, c).toInt
          out(i) = ((s >> 8) & 0xff).toByte; out(i + 1) = (s & 0xff).toByte
          i += 2
        }
        out
    }
    val fver = chunk("FVER", be32(0xA2805140L))
    // COMM: ch(2) frames(4) bits(2) rate(10) compType(4) pstring(2)
    val comm = chunk("COMM", be16(ch) ++ be32(nf.toLong) ++ be16(bits) ++
      ext80(rate(id)) ++ comp.getBytes("US-ASCII") ++ Array[Byte](1, 'c'))
    val ssnd = chunk("SSND", be32(0L) ++ be32(0L) ++ sound)
    val body = "AIFC".getBytes("US-ASCII") ++ fver ++ comm ++ ssnd
    "FORM".getBytes("US-ASCII") ++ be32(body.length.toLong) ++ body
  }

  def comp(id: Long): String = (id % 4) match {
    case 0 => "sowt"
    case 1 => "fl32"
    case 2 => "NONE"
    case _ => "ima4"
  }

  /** (declared mime, actual bytes). */
  def row(id: Long): (String, Array[Byte]) = ("audio/x-aiff", aifc(id, comp(id)))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/aifc.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(200)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("aifc-fixture")
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
