package graft.tools

/**
 * Deterministic PII-bearing text fixture: the driver corpus
 * (documents.parquet) is digit-free word salad, so PII scanning needs
 * its own rows. Every record mixes corpus-style filler words with
 * injected identifier tokens, all derived from `rec_id` by integer
 * arithmetic — reproducible byte-for-byte, so the DuckDB oracle scans
 * the identical strings.
 *
 * Injection layout per rec_id (the spec the oracle counts against):
 *  - id % 5 == 0 → one email (`user<id>@example.com`); id % 10 == 0
 *                  gets the dotted/plus-tagged local-part variant
 *  - id % 5 == 1 → one US-shaped phone `555-abc-wxyz`
 *  - id % 5 == 2 → one IPv4 `10.a.b.c`
 *  - id % 5 == 3 → one SSN-shaped `abc-de-fghi`
 *  - id % 5 == 4 → clean (filler only)
 *  - id % 7 == 0 → ALSO a card-shaped `4abc wxyz abcd wxyz` (rows can
 *                  carry multiple categories)
 *  - id % 11 == 0 → a SECOND email (counts above 1 per category)
 *  - id % 13 == 0 → near-miss decoys that must NOT match: a 3-octet
 *                  version string `v1.2.<id%9>` and a TLD-less `a@b`
 *
 * Usage: Test/runMain graft.tools.PiiFixture [outFile] [rows]
 * (default fixtures/pii.parquet, 600 rows)
 */
object PiiFixture {

  private val filler = Vector(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "join", "merge", "batch", "stream", "window", "query")

  private def fill(id: Long, j: Int): String =
    filler(((id * 7 + j * 13) % filler.size).toInt)

  def text(id: Long): String = {
    val words = scala.collection.mutable.ArrayBuffer[String]()
    words ++= (0 until (6 + (id % 4)).toInt).map(fill(id, _))
    (id % 5) match {
      case 0 =>
        words += (if (id % 10 == 0) s"jane.doe+$id@mail-${id % 7}.example.org"
                  else s"user$id@example.com")
      case 1 => words += f"555-${100 + id % 900}%03d-${1000 + id % 9000}%04d"
      case 2 => words += s"10.${id % 256}.${id * 3 % 256}.${id * 7 % 256}"
      case 3 => words += f"${100 + id % 900}%03d-${10 + id % 90}%02d-${1000 + id % 9000}%04d"
      case _ => ()
    }
    if (id % 7 == 0)
      words += f"4${id % 1000}%03d ${1000 + id % 9000}%04d ${1000 + id * 3 % 9000}%04d ${1000 + id * 7 % 9000}%04d"
    if (id % 11 == 0) words += s"ops$id@corp.example.net"
    if (id % 13 == 0) { words += s"v1.2.${id % 9}"; words += "a@b" }
    words ++= (0 until 4).map(j => fill(id + 1, j))
    words.mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/pii.parquet")
    val rows = args.lift(1).map(_.toInt).getOrElse(600)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("pii-fixture")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val df = (0L until rows.toLong).map(id => (id, text(id))).toDF("rec_id", "text")
    FixtureIo.writeSingleParquet(df, out, rows.toLong)
    spark.stop()
  }
}
