package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Duration

import graft.SparkSpec
import graft.model.Event
import graft.rules.{OutputData, RuleSpec}

/** Shared JVM-wide probe (local mode: executor = driver JVM) counting
 * handler and rule-callback invocations across serialized closures. */
object SinksRecoveryProbe {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  val callbacks = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var failing = true
  def reset(failing: Boolean): Unit = {
    this.failing = failing; calls.set(0); callbacks.set(0)
  }
  val handler: (String, Map[String, String]) => Unit = (_, _) => {
    calls.incrementAndGet()
    if (failing) throw new RuntimeException("smtp down")
    ()
  }
}

class SinksSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def ev(t: String, typ: String, key: String, id: String): Event =
    Event(typ, Some(id), ts(t), None, Map("key" -> key))

  private val rule = RuleSpec.sequenceWithTimeout(
    "order_payment", Seq(Set("signup"), Set("purchase")), Duration.ofMinutes(60),
    _.payload("key"),
    onComplete = _ => Seq(
      OutputData.action("notify", Map("ch" -> "email")),
      OutputData.memory("orders", "last", "done")),
    onTimeout = _ => Seq(OutputData.event("payment_overdue")))

  private def fired = {
    import spark.implicits._
    RuleEngine.runBatch(spark.createDataset(Seq(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"),
      ev("2024-01-01 10:30:00", "purchase", "u1", "2"),
      ev("2024-01-01 12:00:00", "signup", "u2", "3"))), Seq(rule))
  }

  test("batch router splits outputs into per-kind tables") {
    val dir = Files.createTempDirectory("sinks").toString
    val counts = Sinks.routeFiredBatch(fired.toDF(), dir)
    assert(counts("action") == 1L)   // u1 completed → notify
    assert(counts("memory") == 1L)   // u1 completed → memory write
    assert(counts("event") == 1L)    // u2 timed out → derived event
    assert(spark.read.parquet(s"$dir/actions").count() == 1)
    val e = spark.read.parquet(s"$dir/events").collect().head
    assert(e.getAs[String]("name") == "payment_overdue")
  }

  test("executeActions captures failures as dead letter (at-least-once)") {
    val outs = Sinks.outputsOf(fired.toDF()).filter("out_kind = 'action'")
    val results = Sinks.executeActions(spark, outs, (cmd, _) =>
      if (cmd == "notify") throw new RuntimeException("smtp down")).collect()
    assert(results.length == 1)
    assert(!results.head.ok && results.head.error.contains("smtp down"))
  }

  test("derivedEvents tolerates a user var named 'key' (engine key wins)") {
    val clashRule = RuleSpec.matchSingle("clash", Set("signup"),
      onMatch = _ => Seq(OutputData.event("derived", Map("key" -> "user-value", "x" -> "1"))))
    import spark.implicits._
    val f = RuleEngine.runBatch(spark.createDataset(Seq(
      ev("2024-01-01 10:00:00", "signup", "u9", "1"))), Seq(clashRule))
    val derived = Sinks.derivedEvents(spark, f.toDF()).collect()
    assert(derived.length == 1)
    // matchSingle correlates by event type, so the engine key is "signup"
    // — the point is that the user's clashing "key" var did not crash
    // map_concat and did not win
    assert(derived.head.payload("key") == "signup")
    assert(derived.head.payload("x") == "1")
  }

  test("S4 on-demand source requests route to the sources table") {
    val srcRule = RuleSpec.matchSingle("fetch", Set("signup"),
      onMatch = _ => Seq(OutputData.source("poll_crm", Map("mode" -> "once"))))
    import spark.implicits._
    val f = RuleEngine.runBatch(spark.createDataset(Seq(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"))), Seq(srcRule))
    val dir = Files.createTempDirectory("sinksrc").toString
    val counts = Sinks.routeFiredBatch(f.toDF(), dir)
    assert(counts("source") == 1L)
    val row = spark.read.parquet(s"$dir/sources").collect().head
    assert(row.getAs[String]("name") == "poll_crm")
  }

  test("K3 action validation splits on required vars; invalid not retried") {
    val outs = Sinks.outputsOf(fired.toDF()).filter("out_kind = 'action'")
    val (valid, invalid) = Sinks.validateActionVarsTyped(outs,
      Map("notify" -> Seq(Sinks.VarSpec("ch"), Sinks.VarSpec("missing_key"))))
    assert(valid.count() == 0 && invalid.count() == 1)
    val (v2, i2) = Sinks.validateActionVarsTyped(outs, Map("notify" -> Seq(Sinks.VarSpec("ch"))))
    assert(v2.count() == 1 && i2.count() == 0)
  }

  test("streaming router splits per micro-batch with a checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("sinkstream").toString
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RuleEngine.Fired]
    val query = Sinks.routeFiredStreaming(stream.toDS(), s"$base/out", s"$base/ck")
    try {
      stream.addData(fired.collect().toSeq)
      query.processAllAvailable()
    } finally query.stop()
    assert(spark.read.parquet(s"$base/out/actions").count() == 1)
    assert(spark.read.parquet(s"$base/out/events").count() == 1)
    assert(spark.read.parquet(s"$base/out/memory_writes").count() == 1)
  }

  test("batch router: one materializing job plus one append per non-empty kind") {
    import spark.implicits._
    // three kinds (action, memory, event), local rows: no upstream shuffle
    val local = spark.createDataset(fired.collect().toSeq).toDF()
    val dir = Files.createTempDirectory("sinkjobs").toString
    var counts = Map.empty[String, Long]
    val jobs = jobsOf { counts = Sinks.routeFiredBatch(local, dir) }
    assert(counts == Map("action" -> 1L, "memory" -> 1L, "event" -> 1L, "source" -> 0L))
    assert(jobs.size == 1 + 3, jobs.mkString("jobs: ", "; ", ""))
  }

  test("guarded streaming router runs each fire's rule callback and action handler once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val counted = RuleSpec.sequenceWithTimeout(
      "order_payment", Seq(Set("signup"), Set("purchase")), Duration.ofMinutes(60),
      _.payload("key"),
      onComplete = _ => {
        SinksRecoveryProbe.callbacks.incrementAndGet()
        Seq(OutputData.action("notify", Map("ch" -> "email")))
      },
      onTimeout = _ => Nil)
    val base = Files.createTempDirectory("sinkonce").toString
    SinksRecoveryProbe.reset(failing = true)
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val query = Sinks.routeAndExecuteGuarded(
      RuleEngine.runStreaming(stream.toDS(), Seq(counted)), base, s"$base/ck",
      SinksRecoveryProbe.handler, new Recovery.Coordinator(base)) match {
      case Right(q) => q
      case Left(other) => fail(s"unexpected: $other")
    }
    try {
      stream.addData(
        ev("2024-01-01 10:00:00", "signup", "u1", "1"),
        ev("2024-01-01 10:00:00", "signup", "u2", "2"),
        ev("2024-01-01 10:20:00", "purchase", "u1", "3"),
        ev("2024-01-01 10:30:00", "purchase", "u2", "4"))
      query.processAllAvailable()
    } finally query.stop()
    assert(spark.read.parquet(s"$base/actions").count() == 2)
    assert(SinksRecoveryProbe.callbacks.get() == 2)
    assert(SinksRecoveryProbe.calls.get() == 2)
    assert(spark.read.parquet(s"$base/dead_letter").count() == 2)
  }

  test("K7 rule statistics: per-(rule, kind) fire counters like the reference's stats block") {
    val stats = Status.ruleStats(fired.toDF()).collect()
      .map(r => (r.getAs[String]("rule"), r.getAs[String]("kind")) -> r.getAs[Long]("n_fires"))
      .toMap
    assert(stats(("order_payment", "complete")) == 1L) // u1 paid
    assert(stats(("order_payment", "timeout")) == 1L)  // u2 overdue
    assert(stats(("order_payment", "progress")) == 2L) // two signups opened matchers
    import spark.implicits._
    val seen = Status.seenStats(spark.createDataset(Seq(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"),
      ev("2024-01-01 10:30:00", "purchase", "u1", "2"),
      ev("2024-01-01 11:00:00", "signup", "u2", "3"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(seen == Map("signup" -> 2L, "purchase" -> 1L))
  }

  test("K7 status surface: engine JSON carries query identity, state and progress") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RuleEngine.Fired]
    val query = stream.toDS().writeStream.format("memory")
      .queryName("status_probe").outputMode("append").start()
    try {
      stream.addData(fired.collect().toSeq)
      query.processAllAvailable()
      val one = Status.queryStatusJson(query)
      assert(one.contains("\"id\"") && one.contains(query.id.toString))
      assert(one.contains("\"name\":\"status_probe\""))
      assert(one.contains("numInputRows")) // progress embedded
      val all = Status.engineStatusJson(spark)
      assert(all.startsWith("[") && all.contains(query.id.toString))
    } finally query.stop()
  }

  test("K7 management HTTP endpoint serves engine status JSON") {
    // reference: src/Management/Server.php:16-60 — a read-only local
    // status page; here GET /status returns the engine JSON
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RuleEngine.Fired]
    val query = stream.toDS().writeStream.format("memory")
      .queryName("http_status_probe").outputMode("append").start()
    val server = Status.serve(spark)
    try {
      stream.addData(fired.collect().toSeq)
      query.processAllAvailable()
      val url = new java.net.URI(
        s"http://127.0.0.1:${server.getAddress.getPort}/status").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType == "application/json")
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body.startsWith("[") && body.contains("http_status_probe"))
    } finally { server.stop(0); query.stop() }
  }

  test("K7 management HTTP endpoint renders an HTML status page at /") {
    // reference: src/Management/Actions/Index.php:133-252 — the
    // human-readable page listing queries, rates and state sizes
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RuleEngine.Fired]
    val query = stream.toDS().writeStream.format("memory")
      .queryName("html_status_probe").outputMode("append").start()
    val server = Status.serve(spark)
    try {
      stream.addData(fired.collect().toSeq)
      query.processAllAvailable()
      val url = new java.net.URI(
        s"http://127.0.0.1:${server.getAddress.getPort}/").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("text/html"))
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body.contains("<html") && body.contains("html_status_probe"))
      assert(body.contains("state rows")) // the per-query stats table rendered
    } finally { server.stop(0); query.stop() }
  }

  test("heartbeat stream starts and emits control events (rate source)") {
    val hb = graft.sources.Sources.heartbeatStream(spark, intervalSec = 1)
    val query = hb.writeStream.format("memory").queryName("hb_out")
      .outputMode("append").start()
    try {
      // rate source is wall-clock driven: give it a couple of seconds
      Thread.sleep(2500)
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("hb_out").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("event") == graft.model.Event.Control.Heartbeat))
  }

  test("K1 recovery: errored action replayed exactly once per drain, capped at 3 attempts") {
    // mirrors reference tests/SchedulerRecoveryTests.php:37-165 — the
    // errored queue is replayed under RECOVERY before sources resume,
    // each attempt counted, halting (here: exhausted, never re-run)
    // after 3 failures
    val dir = Files.createTempDirectory("dlq").toString
    SinksRecoveryProbe.reset(failing = true)
    val outs = Sinks.outputsOf(fired.toDF()).filter("out_kind = 'action'")
    val n = Sinks.appendDeadLetter(
      Sinks.executeActions(spark, outs, SinksRecoveryProbe.handler), dir)
    assert(n == 1L && SinksRecoveryProbe.calls.get() == 1)

    // drain 1: replayed exactly once, still failing → requeued, attempts=2
    val r1 = Sinks.recoverAndRun(spark, dir, SinksRecoveryProbe.handler)
    assert(r1 == Sinks.RecoveryReport(1, 0, 1, 0))
    assert(SinksRecoveryProbe.calls.get() == 2)
    // drain 2: attempts 2 < 3 → one more replay, attempts=3
    val r2 = Sinks.recoverAndRun(spark, dir, SinksRecoveryProbe.handler)
    assert(r2 == Sinks.RecoveryReport(1, 0, 1, 0))
    assert(SinksRecoveryProbe.calls.get() == 3)
    // drain 3: at the cap — NOT replayed, reported exhausted
    val r3 = Sinks.recoverAndRun(spark, dir, SinksRecoveryProbe.handler)
    assert(r3 == Sinks.RecoveryReport(0, 0, 0, 1))
    assert(SinksRecoveryProbe.calls.get() == 3)
    val left = spark.read.parquet(s"$dir/dead_letter").collect()
    assert(left.length == 1 && left.head.getAs[Int]("attempts") == 3)
  }

  test("K1 recovery: a transient failure drains from the dead-letter table") {
    val dir = Files.createTempDirectory("dlq2").toString
    SinksRecoveryProbe.reset(failing = true)
    val outs = Sinks.outputsOf(fired.toDF()).filter("out_kind = 'action'")
    Sinks.appendDeadLetter(
      Sinks.executeActions(spark, outs, SinksRecoveryProbe.handler), dir)
    SinksRecoveryProbe.reset(failing = false) // action succeeds on replay
    val r = Sinks.recoverAndRun(spark, dir, SinksRecoveryProbe.handler)
    assert(r == Sinks.RecoveryReport(1, 1, 0, 0))
    assert(spark.read.parquet(s"$dir/dead_letter").count() == 0)
  }

  test("K3 typed validation: wrong type / bad enum rejected as argumenterror, not dead-lettered") {
    import spark.implicits._
    val actions = Seq(
      ("notify", Map("ch" -> "email", "retries" -> "3")),   // valid
      ("notify", Map("ch" -> "email", "retries" -> "abc")), // type fail (INT)
      ("notify", Map("ch" -> "pigeon", "retries" -> "1")),  // enum fail
      ("notify", Map("retries" -> "2")),                    // required missing
      ("other", Map.empty[String, String])                  // no schema → passes
    ).toDF("name", "vars")
    val schema = Map("notify" -> Seq(
      Sinks.VarSpec("ch", enumVals = Seq("email", "sms")),
      Sinks.VarSpec("retries", dataType = "int", required = false)))
    val (valid, invalid) = Sinks.validateActionVarsTyped(actions, schema)
    assert(valid.count() == 2 && invalid.count() == 3)
    // the invalid side never reaches executeActions → can't be retried
    // or dead-lettered (reference marks these argumenterror and drops
    // them from the retry path)
    val badVals = invalid.select("vars").collect().map(_.getAs[Map[String, String]](0))
    assert(badVals.exists(_.get("retries").contains("abc")))
    assert(badVals.exists(_.get("ch").contains("pigeon")))
    assert(badVals.exists(!_.contains("ch")))
  }

  test("K3 schema validation: pattern, format, range and nested object rejected as argumenterror") {
    // mirrors the reference's JSON-Schema action validation
    // (src/Scheduler/ActionExecutionCoordinator.php:229-239 +
    // tests/ActionExecutionTest.php schema cases): violations are
    // argumenterrors rejected before dispatch
    import spark.implicits._
    val actions = Seq(
      // valid: all constraints satisfied
      ("deploy", Map("env" -> "prod-eu1", "replicas" -> "4",
        "when" -> "2024-01-01T10:00:00", "host" -> "10.0.0.8",
        "limits" -> """{"cpu":"2","mem":"8"}""")),
      ("deploy", Map("env" -> "Prod eu", "replicas" -> "4")),   // pattern fail
      ("deploy", Map("env" -> "prod-eu1", "replicas" -> "99")), // range fail (max 16)
      ("deploy", Map("env" -> "prod-eu1", "replicas" -> "4",
        "when" -> "not a time")),                               // format fail
      ("deploy", Map("env" -> "prod-eu1", "replicas" -> "4",
        "host" -> "999.1.1.1")),                                // ipv4 fail
      ("deploy", Map("env" -> "prod-eu1", "replicas" -> "4",
        "limits" -> """{"cpu":"lots"}""")),                     // nested type fail
      ("deploy", Map("env" -> "prod-eu1", "replicas" -> "4",
        "limits" -> """{"mem":"8"}""")),                        // nested required fail
      ("deploy", Map("env" -> "prod-eu1", "replicas" -> "4",
        "limits" -> "not json"))                                // not an object
    ).toDF("name", "vars")
    val schema = Map("deploy" -> Seq(
      Sinks.VarSpec("env", pattern = Some("^[a-z0-9-]+$")),
      Sinks.VarSpec("replicas", dataType = "int", minVal = Some(1), maxVal = Some(16)),
      Sinks.VarSpec("when", required = false, format = Some("date-time")),
      Sinks.VarSpec("host", required = false, format = Some("ipv4")),
      Sinks.VarSpec("limits", required = false, fields = Seq(
        Sinks.VarSpec("cpu", dataType = "int"),
        Sinks.VarSpec("mem", dataType = "int", required = false)))))
    val (valid, invalid) = Sinks.validateActionVarsTyped(actions, schema)
    assert(valid.count() == 1 && invalid.count() == 7)
    assert(valid.select("vars").as[Map[String, String]].head()("env") == "prod-eu1")
  }

  test("derived events re-enter the engine: chained pass fires downstream rule") {
    val downstream = RuleSpec.matchSingle(
      "escalate", Set("payment_overdue"),
      onMatch = _ => Seq(OutputData.action("page_oncall", Map.empty)))
    import spark.implicits._
    val all = Sinks.runBatchChained(
      spark.createDataset(Seq(ev("2024-01-01 12:00:00", "signup", "u2", "3"))),
      Seq(rule, downstream), passes = 3)
    val rules = all.collect().map(_.getAs[String]("rule"))
    assert(rules.contains("order_payment")) // pass 1: timeout
    assert(rules.contains("escalate"))      // pass 2: derived event consumed
  }
}
