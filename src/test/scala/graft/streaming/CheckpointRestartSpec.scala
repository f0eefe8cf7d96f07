package graft.streaming

import java.nio.file.{Files, Paths}
import java.time.Duration

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Event
import graft.rules.{OutputData, RuleSpec}
import graft.sources.Sources

/** K5/S5 parity: the reference checkpoints engine state and resumes,
 * replaying matchers (reference: src/SaveHandler/FileAdapter.php,
 * src/CorrelationEngine.php:680-766 restore). Spark equivalent: the
 * streaming state store + checkpointLocation. This spec proves matcher
 * state genuinely survives a query restart: a sequence whose steps
 * span the restart completes, and a timer armed before the restart
 * fires after it. */
class CheckpointRestartSpec extends SparkSpec {

  private val rules = Seq(RuleSpec.sequenceWithTimeout(
    "order_payment", Seq(Set("signup"), Set("purchase")), Duration.ofMinutes(60),
    _.payload.getOrElse("key", ""),
    onComplete = _ => Seq(OutputData.action("paid", Map.empty)),
    onTimeout = _ => Seq(OutputData.action("reminder", Map.empty))))

  test("matcher state and event-time timers survive a checkpoint restart") {
    val base = Files.createTempDirectory("ckrestart")
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val outDir = s"$base/out"
    Files.createDirectories(Paths.get(inDir))

    def startQuery() = {
      import spark.implicits._
      val lines = spark.readStream.text(inDir)
      val events = Sources.fromJsonLines(lines)
        .select(col("event"), col("id"), col("datetime"),
          col("receivedTime"),
          map(lit("key"), get_json_object(col("raw"), "$.key")).as("payload"))
        .as[Event]
      RuleEngine.runStreaming(events, rules)
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode("append")
        .start()
    }

    // run 1: two pending matchers (u1 will be paid after restart; u2
    // will time out after restart)
    Files.writeString(Paths.get(s"$inDir/batch1.json"),
      """{"event":"signup","id":"1","datetime":"2024-01-01 10:00:00","key":"u1"}
        |{"event":"signup","id":"2","datetime":"2024-01-01 10:05:00","key":"u2"}
        |""".stripMargin)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // run 2: restart from the checkpoint; u1's purchase arrives inside
    // the window, a late kicker advances the watermark past u2's deadline
    Files.writeString(Paths.get(s"$inDir/batch2.json"),
      """{"event":"purchase","id":"3","datetime":"2024-01-01 10:30:00","key":"u1"}
        |{"event":"noise","id":"4","datetime":"2024-01-01 13:00:00","key":"zz"}
        |{"event":"noise","id":"5","datetime":"2024-01-01 14:00:00","key":"zz"}
        |""".stripMargin)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val fired = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("kind")))
    assert(fired.contains(("u1", "complete")), s"got ${fired.toSeq}")
    assert(fired.contains(("u2", "timeout")), s"got ${fired.toSeq}")
  }

  test("restart with a REMOVED rule drops its matchers; surviving rules keep state") {
    // reference restore tolerance: matchers of rule classes missing
    // from the new rule set alias to UndefinedRule and are discarded,
    // the rest restore (src/CorrelationEngine.php:680-766)
    val base = Files.createTempDirectory("ckremoved")
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val outDir = s"$base/out"
    Files.createDirectories(Paths.get(inDir))

    val retired = RuleSpec.sequenceWithTimeout(
      "retired_rule", Seq(Set("signup"), Set("purchase")), Duration.ofMinutes(10),
      _.payload.getOrElse("key", ""),
      onComplete = _ => Nil,
      onTimeout = _ => Seq(OutputData.action("never", Map.empty)))

    def startQuery(ruleSet: Seq[RuleSpec]) = {
      import spark.implicits._
      val lines = spark.readStream.text(inDir)
      val events = Sources.fromJsonLines(lines)
        .select(col("event"), col("id"), col("datetime"),
          col("receivedTime"),
          map(lit("key"), get_json_object(col("raw"), "$.key")).as("payload"))
        .as[Event]
      RuleEngine.runStreaming(events, ruleSet)
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode("append")
        .start()
    }

    // run 1 with BOTH rules: each arms one matcher + event-time timer
    Files.writeString(Paths.get(s"$inDir/batch1.json"),
      """{"event":"signup","id":"1","datetime":"2024-01-01 10:00:00","key":"u1"}
        |""".stripMargin)
    val q1 = startQuery(Seq(rules.head, retired))
    try q1.processAllAvailable() finally q1.stop()

    // run 2 WITHOUT retired_rule: its checkpointed matcher + timer must
    // be discarded silently; order_payment's matcher must still work
    Files.writeString(Paths.get(s"$inDir/batch2.json"),
      """{"event":"purchase","id":"2","datetime":"2024-01-01 10:30:00","key":"u1"}
        |{"event":"noise","id":"3","datetime":"2024-01-01 13:00:00","key":"zz"}
        |{"event":"noise","id":"4","datetime":"2024-01-01 14:00:00","key":"zz"}
        |""".stripMargin)
    val q2 = startQuery(Seq(rules.head))
    try q2.processAllAvailable() finally q2.stop()

    val fired = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[String]("rule"), r.getAs[String]("kind")))
    // surviving rule completed across the restart
    assert(fired.contains(("order_payment", "complete")), s"got ${fired.toSeq}")
    // the removed rule's pending timeout (10:10, long past the final
    // watermark) never fired — its state was dropped, not interpreted
    assert(!fired.exists(f => f._1 == "retired_rule" && f._2 == "timeout"),
      s"got ${fired.toSeq}")
  }

  test("aligned face: rule-list change across restart discards positional state wholesale") {
    // RuleEngine.GroupMatchers is indexed by declaration order, so a
    // changed rule list can't be partially restored — the fingerprint
    // mismatch must drop the whole key's state rather than hand rule B
    // rule A's matchers. Fresh sequences after the restart still work.
    val base = Files.createTempDirectory("ckaligned")
    val inDir = s"$base/in"; val ckDir = s"$base/ck"; val outDir = s"$base/out"
    Files.createDirectories(Paths.get(inDir))

    val retired = RuleSpec.sequenceWithTimeout(
      "retired_rule", Seq(Set("signup"), Set("purchase")), Duration.ofMinutes(10),
      _.payload.getOrElse("key", ""),
      onComplete = _ => Nil, onTimeout = _ => Nil)

    def startQuery(ruleSet: Seq[RuleSpec]) = {
      import spark.implicits._
      val lines = spark.readStream.text(inDir)
      val events = Sources.fromJsonLines(lines)
        .select(col("event"), col("id"), col("datetime"),
          col("receivedTime"),
          map(lit("key"), get_json_object(col("raw"), "$.key")).as("payload"))
        .as[Event]
      RuleEngine.runStreamingAligned(events, ruleSet, _.payload.getOrElse("key", ""))
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode("append")
        .start()
    }

    Files.writeString(Paths.get(s"$inDir/batch1.json"),
      """{"event":"signup","id":"1","datetime":"2024-01-01 10:00:00","key":"u1"}
        |""".stripMargin)
    val q1 = startQuery(Seq(rules.head, retired))
    try q1.processAllAvailable() finally q1.stop()

    // restart WITHOUT retired_rule: u1's state is dropped wholesale, so
    // its in-window purchase cannot complete; a fresh u3 sequence must
    Files.writeString(Paths.get(s"$inDir/batch2.json"),
      """{"event":"purchase","id":"2","datetime":"2024-01-01 10:30:00","key":"u1"}
        |{"event":"signup","id":"3","datetime":"2024-01-01 11:00:00","key":"u3"}
        |{"event":"purchase","id":"4","datetime":"2024-01-01 11:20:00","key":"u3"}
        |{"event":"noise","id":"5","datetime":"2024-01-01 14:00:00","key":"zz"}
        |{"event":"noise","id":"6","datetime":"2024-01-01 15:00:00","key":"zz"}
        |""".stripMargin)
    val q2 = startQuery(Seq(rules.head))
    try q2.processAllAvailable() finally q2.stop()

    val fired = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[String]("rule"), r.getAs[String]("key"), r.getAs[String]("kind")))
    assert(fired.contains(("order_payment", "u3", "complete")), s"got ${fired.toSeq}")
    assert(!fired.contains(("order_payment", "u1", "complete")), s"got ${fired.toSeq}")
    // run 1's progress fire was legitimate; after the restart the
    // retired rule's armed 10:10 deadline must never alarm
    assert(!fired.exists(f => f._1 == "retired_rule" && f._3 != "progress"),
      s"got ${fired.toSeq}")
  }
}
