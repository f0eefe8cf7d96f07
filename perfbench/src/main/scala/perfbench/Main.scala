package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one workload run hands back to run.py: raw samples (run.py
 * takes the percentiles), per-layer numbers, and the output check. */
final class Result {
  val values: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L

  def fail(what: String, n: Long = 1): Unit = {
    failures += what
    failed += n
  }
}

/**
 * JVM side of the benchmark. Usage (normally via perfbench/run.py):
 * {{{
 *   perfbench.Main --workload live|suite|selftest --seed N
 *     --seconds S --trace 0|1 --work DIR [--data DIR]
 * }}}
 * Writes DIR/result.json, and DIR/spans.json when tracing.
 */
object Main {

  final case class Cfg(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int, data: String)

  def main(args: Array[String]): Unit = {
    // exit explicitly: no stray non-daemon thread may keep the process alive
    val code = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Cfg(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"),
      Runtime.getRuntime.availableProcessors(), kv.getOrElse("data", ""))
    Files.createDirectories(Paths.get(cfg.work))
    val tracer = new Tracer(cfg.trace)
    val res = new Result
    cfg.workload match {
      case "live" => Live.run(cfg, tracer, res)
      case "suite" => Suite.run(cfg, tracer, res)
      case "selftest" =>
        val f = Gen.selfTest()
        res.attempted = 5
        f.foreach(res.fail(_))
      case w => sys.error(s"unknown workload $w")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    res.values("attempted") = res.attempted
    res.values("failed") = res.failed
    res.values("failures") = res.failures.toSeq
    writeJson(s"${cfg.work}/result.json", res.values)
    if (cfg.trace) writeJson(s"${cfg.work}/spans.json", tracer.all.map(s => Map("id" -> s.id,
      "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "attrs" -> s.attrs)))
  }

  /** Set-ups per run: each workload starts its session and first work
   * this many times, and `setup_s` is the median. */
  val SetupReps = 3

  private lazy val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Write `v` (Scala maps, sequences and boxed numbers) as a JSON file. */
  def writeJson(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  /** A session configured like the repository's entry points. */
  def session(cfg: Cfg, cores: Int, tracer: Tracer): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.local.dir", s"${cfg.work}/tmp")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    spark
  }
}
