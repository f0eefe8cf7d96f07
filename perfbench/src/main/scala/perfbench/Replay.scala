package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.{RuleEngine, Sinks}

/**
 * Historical replay, run by traced `suite` runs as the single-thread
 * baseline: `RuleEngine.runBatch` over a seeded event history written as
 * parquet, fires routed with `Sinks.routeFiredBatch`, one pass at
 * `local[1]`. run.py checks the routed fires against DuckDB twins of the
 * q_e1 / q_e2 / q_e4 oracle shapes.
 */
object Replay {
  /** Events in the history, generated as [[Chunks]] independent streams. */
  val Events = 200000
  val Chunks = 8
  /** Synthetic event spacing: 2 000 events per second of event time. */
  val SpacingUs = 500L
  /** 2024-01-01T00:00:00Z, the history's first event time. */
  val T0Us = 1704067200000000L

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val per = Events / Chunks
    spark.range(0, Chunks, 1, Chunks).as[Long].mapPartitions { it =>
      it.flatMap { c =>
        val g = new Gen(seed, c)
        Iterator.fill(per) {
          val e = g.next()
          val id = c * per + e.seq
          (id, T0Us + id * SpacingUs, e.key, e.eventType)
        }
      }
    }.toDF("event_id", "ts_us", "user_id", "event_type")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), lit(0.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(Tables.path(dir, "events"))
  }

  /** Generate the history with `spark`, stop it, and time one replay
   * pass in a fresh `local[1]` session. Also counts the largest
   * (rule, key) group the interpreter walks: the hot key's payment and
   * session runs, and the errors rule (keyed by event type). */
  def baseline(cfg: Main.Cfg, spark: SparkSession, res: Result): Unit = {
    val data = s"${cfg.work}/replay_data"
    val out = s"${cfg.work}/replay_out"
    generate(spark, cfg.seed, data)
    val byType = Tables.events(spark, data).groupBy(col("event_type"))
      .agg(count(lit(1)), sum(when(col("user_id") === Gen.HotKey, 1L).otherwise(0L)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def n(t: String, hotOnly: Boolean) =
      byType.get(t).map(p => if (hotOnly) p._2 else p._1).getOrElse(0L)
    spark.stop()
    val one = Main.session(cfg, 1, new Tracer(false))
    val t0 = System.nanoTime()
    Sinks.routeFiredBatch(
      RuleEngine.runBatch(Tables.eventsTyped(one, data), Rules.all).toDF(), out)
    val s = (System.nanoTime() - t0) / 1e9
    one.stop()
    res.values("replay") = Map("events" -> Events, "eps_1core" -> Events / s,
      "hotkey_run_max" -> Seq(n(Gen.Placed, true) + n(Gen.Paid, true), n(Gen.View, true),
        n(Gen.Error, false)).max,
      "data_dir" -> data, "out_dir" -> out)
  }
}
