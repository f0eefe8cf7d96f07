package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.TimestampType

import graft.SparkEntry

/**
 * `suite`: batch queries from `SparkEntry.queries`, one at a time in a
 * closed loop, each isolated first the way `graft.Bench` isolates
 * (cache cleared, persisted RDDs released). Set-up, timed
 * [[Main.SetupReps]] times: a fresh SparkSession and a first pass over
 * the tables. The set-ups also warm the JVM on the tables the timed
 * trials read (a warm-up on smaller tables left the timed trials still
 * speeding up). The timed phase then runs each query [[trials]] times
 * back to back, the queries in a seeded order; a query's time is its
 * best trial.
 * Each query's time covers planning, execution and writing its result
 * as parquet, which run.py compares with the DuckDB oracle
 * (`tools/check_oracle.py`).
 */
object Suite {

  /** Back-to-back isolated runs of each query, as `graft.Bench` takes
   * its trials: one per [[TrialS]] seconds of the run, at least two. A
   * fixed count, not a deadline, so every run does the same work. */
  def trials(seconds: Double): Int = math.max(2, math.round(seconds / TrialS).toInt)
  val TrialS = 4.0

  /** The query family: the letter after `q_`. */
  def family(name: String): String = name.stripPrefix("q_").takeWhile(_.isLetter)

  private def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  // DuckDB returns naive timestamps; write Spark's UTC timestamps as NTZ
  // (the session zone is UTC, so values are unchanged)
  private def ntz(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.dataType == TimestampType) acc.withColumn(f.name, acc(f.name).cast("timestamp_ntz"))
      else acc
    }

  def run(cfg: Main.Cfg, tracer: Tracer, res: Result): Unit = {
    val names = Files.readAllLines(Paths.get(cfg.data, "queries.txt")).toArray
      .map(_.toString.trim).filter(_.nonEmpty).toSeq
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val out = s"${cfg.work}/suite_out"
    val threw = mutable.LinkedHashSet.empty[String]

    def runOne(spark: SparkSession, name: String, dir: String, parent: Long): Option[Double] = {
      isolate(spark)
      tracer.span(spark, "query", name, parent, Map("family" -> family(name))) { _ =>
        val t0 = System.nanoTime()
        try {
          ntz(SparkEntry.queries(name)(spark, dir)).write.mode("overwrite").parquet(s"$out/$name")
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          threw += name
          System.err.println(s"perfbench: $name failed: ${e.getMessage}")
          None
        }
      }
    }

    // set-up: session start plus a first pass, repeated
    var spark: SparkSession = null
    val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
    res.values("setup_s") = (1 to Main.SetupReps).map { i =>
      if (spark != null) spark.stop()
      val t0 = Clock.ms()
      spark = Main.session(cfg, cfg.cores, tracer)
      spark.sparkContext.setLogLevel("OFF")
      tracer.span(spark, "phase", s"setup $i", 0) { id =>
        names.foreach(runOne(spark, _, s"${cfg.data}/main", id))
      }
      phases += Map("name" -> s"setup $i", "start_ms" -> t0, "end_ms" -> Clock.ms())
      (Clock.ms() - t0) / 1e3
    }
    threw.clear()
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val trials = Suite.trials(cfg.seconds)
    val root = tracer.newId()
    val t0 = Clock.ms()
    new scala.util.Random(cfg.seed).shuffle(names).foreach { n =>
      (1 to trials).foreach { _ =>
        runOne(spark, n, s"${cfg.data}/main", root)
          .foreach(t => times.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += t)
      }
    }
    tracer.record(Span(root, 0, "phase", "suite", t0, Clock.ms(), Map("trials" -> trials)))
    phases += Map("name" -> "suite", "start_ms" -> t0, "end_ms" -> Clock.ms())
    res.values("phases") = phases
    isolate(spark)
    res.values("trials") = trials
    res.values("query_s") = times.map { case (k, v) => k -> v.toSeq }
    res.values("out_dir") = out
    res.values("threw") = threw.toSeq
    // the oracle file tools/check_oracle.py reads
    Main.writeJson(s"$out/oracle_sql.json", names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap)
    res.attempted = names.size.toLong
    if (tracer.enabled) Replay.baseline(cfg, spark, res)
  }
}
