package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Event
import graft.ops.Correlate
import graft.rules.{OutputData, RuleSpec}

/** Behavioural cases mirroring the reference's engine/rule tests
 * (reference: tests/RuleTest.php:139-202 — timeout → alarm → onTimeout
 * exactly once; tests/EngineTest.php; tests/Rules): sequence
 * completion, single-fire timeouts, deadline boundary, concurrent
 * matchers, chain trimming, session gaps — plus equivalence of the
 * interpreter with the SQL faces and of streaming with batch. */
class RuleEngineSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def ev(t: String, typ: String, key: String, id: String): Event =
    Event(typ, Some(id), ts(t), None, Map("key" -> key))

  private def ds(events: Event*): Dataset[Event] = {
    import spark.implicits._
    spark.createDataset(events.toSeq)
  }

  private def orderRule(timeoutMin: Long = 60): RuleSpec =
    RuleSpec.sequenceWithTimeout(
      "order_payment", Seq(Set("signup"), Set("purchase")),
      Duration.ofMinutes(timeoutMin),
      e => e.payload("key"),
      onComplete = ch => Seq(OutputData.action("paid", Map("n" -> ch.size.toString))),
      onTimeout = ch => Seq(OutputData.action("reminder", Map.empty)))

  test("sequence completes: onComplete exactly once with full chain") {
    val out = RuleEngine.runBatch(ds(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"),
      ev("2024-01-01 10:30:00", "purchase", "u1", "2")), Seq(orderRule()))
      .collect()
    val complete = out.filter(_.kind == "complete")
    assert(complete.length == 1)
    assert(complete.head.chainLen == 2)
    assert(complete.head.outputs == Seq(OutputData.action("paid", Map("n" -> "2"))))
    assert(!out.exists(_.kind == "timeout"))
  }

  test("timeout fires exactly once at the deadline, not per later event") {
    val out = RuleEngine.runBatch(ds(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"),
      ev("2024-01-01 12:00:00", "view", "u1", "2"), // past deadline; non-matching
      ev("2024-01-01 13:00:00", "view", "u1", "3")), Seq(orderRule()))
      .collect()
    val timeouts = out.filter(_.kind == "timeout")
    assert(timeouts.length == 1)
    assert(timeouts.head.firedAt == ts("2024-01-01 11:00:00"))
    assert(timeouts.head.outputs == Seq(OutputData.action("reminder", Map.empty)))
  }

  test("an event at exactly the deadline times out rather than completes") {
    val out = RuleEngine.runBatch(ds(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"),
      ev("2024-01-01 11:00:00", "purchase", "u1", "2")), Seq(orderRule()))
      .collect()
    assert(out.count(_.kind == "timeout") == 1)
    assert(!out.exists(_.kind == "complete"))
  }

  test("concurrent matchers: one purchase completes all pending signups of the key") {
    val out = RuleEngine.runBatch(ds(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"),
      ev("2024-01-01 10:10:00", "signup", "u1", "2"),
      ev("2024-01-01 10:20:00", "purchase", "u1", "3")), Seq(orderRule()))
      .collect()
    assert(out.count(_.kind == "complete") == 2)
  }

  test("continuous rule trims the chain to chainLimit") {
    val rule = RuleSpec.matchContinuously(
      "recent", Set("view"), keep = 3, _.payload("key"),
      onEvent = ch => Seq(OutputData.event("chain", Map("len" -> ch.size.toString))))
    val events = (1 to 6).map(i => ev(f"2024-01-01 10:0$i:00", "view", "u1", i.toString))
    val out = RuleEngine.runBatch(ds(events: _*), Seq(rule)).collect()
    assert(out.length == 6)
    assert(out.map(_.chainLen).sorted.toSeq == Seq(1, 2, 3, 3, 3, 3))
  }

  test("session-gap rule alarms after the quiet gap, then a new session starts") {
    val rule = RuleSpec.sessionGap(
      "sess", Set("view"), Duration.ofMinutes(30), _.payload("key"),
      onGap = ch => Seq(OutputData.action("session_closed", Map("n" -> ch.size.toString))))
    val out = RuleEngine.runBatch(ds(
      ev("2024-01-01 10:00:00", "view", "u1", "1"),
      ev("2024-01-01 10:10:00", "view", "u1", "2"),
      ev("2024-01-01 12:00:00", "view", "u1", "3"), // > 30 min silence → alarm
      ev("2024-01-01 12:05:00", "view", "u1", "4")), Seq(rule))
      .collect()
    val gaps = out.filter(_.kind == "timeout").sortBy(_.firedAt.getTime)
    // first session closes at 10:40; the final session flushes at end-of-data
    assert(gaps.length == 2)
    assert(gaps.head.firedAt == ts("2024-01-01 10:40:00"))
    assert(gaps.head.outputs.head.vars("n") == "2")
    assert(gaps(1).firedAt == ts("2024-01-01 12:35:00"))
    assert(gaps(1).outputs.head.vars("n") == "2")
  }

  test("batch face orders by effectiveTime: receivedTime override changes the outcome") {
    // signup's datetime is 10:00 but its receivedTime correction moves it
    // to 12:00 — in engine time the purchase (11:30) precedes it, so the
    // signup must time out, not complete
    val signup = Event("signup", Some("1"), ts("2024-01-01 10:00:00"),
      Some(ts("2024-01-01 12:00:00")), Map("key" -> "u1"))
    val purchase = Event("purchase", Some("2"), ts("2024-01-01 11:30:00"), None, Map("key" -> "u1"))
    import spark.implicits._
    val out = RuleEngine.runBatch(spark.createDataset(Seq(signup, purchase)), Seq(orderRule()))
      .collect()
    assert(!out.exists(_.kind == "complete"))
    val timeouts = out.filter(_.kind == "timeout")
    assert(timeouts.length == 1 && timeouts.head.firedAt == ts("2024-01-01 13:00:00"))
  }

  test("F6 suppress: declaration order decides whether downstream rules see the event") {
    val quarantine = graft.rules.RuleSpec(
      "quarantine", Seq(Set("error")), None, _.payload("key"),
      continuous = true, suppressOnMatch = true)
    val alerter = RuleSpec.matchSingle("alert", Set("error"),
      onMatch = _ => Seq(OutputData.action("page", Map.empty)))
    val events = ds(
      ev("2024-01-01 10:00:00", "error", "u1", "1"),
      ev("2024-01-01 10:05:00", "error", "u1", "2"))

    // quarantine first: alerts suppressed
    val suppressed = RuleEngine.runBatchAligned(
      events, Seq(quarantine, alerter), _.payload("key")).collect()
    assert(!suppressed.exists(_.rule == "alert"))

    // alerter first: it sees both events before quarantine consumes them
    val open = RuleEngine.runBatchAligned(
      events, Seq(alerter, quarantine), _.payload("key")).collect()
    assert(open.count(f => f.rule == "alert" && f.kind == "complete") == 2)
  }

  test("aligned faces fire cross-rule timeouts in GLOBAL deadline order") {
    // rule A (declared FIRST) arms a LONGER timeout than rule B: both
    // deadlines age past the clock between two events, so a per-rule
    // flush would emit A's 11:00 before B's 10:30 — the reference's
    // single deadline-sorted queue across matcher classes demands
    // B's earlier deadline first (src/CorrelationEngine.php:515-523)
    val a = RuleSpec("a_slow", Seq(Set("signup"), Set("purchase")),
      Some(java.time.Duration.ofMinutes(60)), _.payload("key"))
    val b = RuleSpec("b_fast", Seq(Set("signup"), Set("purchase")),
      Some(java.time.Duration.ofMinutes(30)), _.payload("key"))
    val events = ds(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"),
      ev("2024-01-01 12:00:00", "click", "u1", "2")) // clock advance only
    val fires = RuleEngine.runBatchAligned(events, Seq(a, b), _.payload("key"))
      .collect().filter(_.kind == "timeout")
    assert(fires.map(f => (f.rule, f.firedAt)).toSeq == Seq(
      ("b_fast", ts("2024-01-01 10:30:00")),
      ("a_slow", ts("2024-01-01 11:00:00"))))
    // equal deadlines: declaration order breaks the tie (registration
    // order for matchers armed by the same event)
    val b2 = b.copy(timeout = Some(java.time.Duration.ofMinutes(60)))
    val tied = RuleEngine.runBatchAligned(events, Seq(a, b2), _.payload("key"))
      .collect().filter(_.kind == "timeout")
    assert(tied.map(_.rule).toSeq == Seq("a_slow", "b_fast"))
    // end-of-data flush merges across rules the same way
    val flush = RuleEngine.runBatchAligned(
      ds(ev("2024-01-01 10:00:00", "signup", "u1", "1")),
      Seq(a, b), _.payload("key"))
      .collect().filter(_.kind == "timeout")
    assert(flush.map(_.rule).toSeq == Seq("b_fast", "a_slow"))
  }

  test("batch interpreter matches the SQL face on the fixture (J2 timeout alarms)") {
    val sfDir = "/root/testdata/sf0.001"
    val eventsDf = graft.Tables.events(spark, sfDir)
    import spark.implicits._
    val events = eventsDf.select(
      col("event_type").as("event"),
      col("event_id").cast("string").as("id"),
      col("ts").as("datetime"),
      lit(null).cast("timestamp").as("receivedTime"),
      map(lit("key"), col("user_id").cast("string")).as("payload"))
      .as[Event]
    val rules = Seq(orderRule())
    val interpreted = RuleEngine.runBatch(events, rules)
      .filter(_.kind == "timeout")
      .collect().map(f => (f.key, f.firedAt)).toSet
    val sqlFace = Correlate.sequenceTimeout(eventsDf, "signup", "purchase", "1 HOUR")
      .collect()
      .map { r =>
        // Read type-agnostically: fixture annotation drift (TIMESTAMP vs
        // TIMESTAMP_NTZ) should fail with a clear message, not a CCE.
        val first = r.getAs[Any]("first_ts") match {
          case t: Timestamp              => t
          case ldt: java.time.LocalDateTime =>
            Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
          case other => fail(s"unexpected first_ts type: ${other.getClass}")
        }
        val deadline = new Timestamp(first.getTime + 3600 * 1000)
        deadline.setNanos(first.getNanos) // keep µs precision
        (r.getAs[Long]("user_id").toString, deadline)
      }.toSet
    assert(interpreted == sqlFace)
  }

  test("streaming aligned face honours suppress ordering like the batch aligned face") {
    import spark.implicits._
    val quarantine = graft.rules.RuleSpec(
      "quarantine", Seq(Set("error")), None, _.payload("key"),
      continuous = true, suppressOnMatch = true)
    val alerter = RuleSpec.matchSingle("alert", Set("error"),
      onMatch = _ => Seq(OutputData.action("page", Map.empty)))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = RuleEngine.runStreamingAligned(
      stream.toDS(), Seq(quarantine, alerter), _.payload("key"))
      .writeStream.format("memory").queryName("aligned_out")
      .outputMode("append").start()
    try {
      stream.addData(
        ev("2024-01-01 10:00:00", "error", "u1", "1"),
        ev("2024-01-01 10:05:00", "error", "u1", "2"))
      query.processAllAvailable()
    } finally query.stop()
    val fired = spark.table("aligned_out").as[RuleEngine.Fired].collect()
    assert(!fired.exists(_.rule == "alert"))
    assert(fired.count(_.rule == "quarantine") == 2) // progress fires
  }

  test("streaming aligned face fires cross-rule timeouts in global deadline order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same shape as the batch test: rule A (declared first) arms the
    // LONGER deadline; when the watermark sweeps past both, the state
    // timeout branch must emit B's earlier deadline first
    val a = RuleSpec("a_slow", Seq(Set("signup"), Set("purchase")),
      Some(java.time.Duration.ofMinutes(60)), _.payload("key"))
    val b = RuleSpec("b_fast", Seq(Set("signup"), Set("purchase")),
      Some(java.time.Duration.ofMinutes(30)), _.payload("key"))
    val stream = MemoryStream[Event]
    val query = RuleEngine.runStreamingAligned(
      stream.toDS(), Seq(a, b), _.payload("key"))
      .writeStream.format("memory").queryName("aligned_xr_out")
      .outputMode("append").start()
    try {
      stream.addData(ev("2024-01-01 10:00:00", "signup", "u1", "1"))
      query.processAllAvailable()
      // watermark far past both deadlines; different key so no offer
      stream.addData(ev("2024-01-01 13:00:00", "click", "u2", "2"))
      query.processAllAvailable()
      stream.addData(ev("2024-01-01 14:00:00", "click", "u2", "3"))
      query.processAllAvailable()
    } finally query.stop()
    val fires = spark.table("aligned_xr_out").as[RuleEngine.Fired].collect()
      .filter(_.kind == "timeout")
    assert(fires.map(f => (f.rule, f.firedAt)).toSeq == Seq(
      ("b_fast", ts("2024-01-01 10:30:00")),
      ("a_slow", ts("2024-01-01 11:00:00"))))
  }

  test("multi-rule aligned faces: streaming equals batch on the fixture corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // q_e6's rule set (suppress + starved sequence + flagship) over the
    // REAL sf0.001 corpus: the streaming aligned face must emit the
    // same fire multiset as the oracle-checked batch face. Two
    // far-future pushes on a type no rule accepts advance the
    // watermark (timers fire the batch AFTER the watermark moves) —
    // the same events go to both faces so the flush points align.
    val rules = Seq(
      RuleSpec.matchSingle("r0_view_quarantine", Set("view"), onMatch = _ => Nil)
        .copy(suppressOnMatch = true),
      RuleSpec.sequenceWithTimeout("r1_signup_view",
        Seq(Set("signup"), Set("view")), java.time.Duration.ofHours(1),
        _.payload("key"), onComplete = _ => Nil, onTimeout = _ => Nil),
      RuleSpec.sequenceWithTimeout("r2_signup_purchase",
        Seq(Set("signup"), Set("purchase")), java.time.Duration.ofHours(1),
        _.payload("key"), onComplete = _ => Nil, onTimeout = _ => Nil))
    val events = graft.Tables.eventsTyped(spark, "/root/testdata/sf0.001")
      .collect().toSeq
    val pushes = Seq(
      ev("2030-01-01 00:00:00", "click", "zzz", "999001"),
      ev("2030-01-01 01:00:00", "click", "zzz", "999002"))
    val stream = MemoryStream[Event]
    val query = RuleEngine.runStreamingAligned(
      stream.toDS(), rules, _.payload("key"))
      .writeStream.format("memory").queryName("aligned_eq_out")
      .outputMode("append").start()
    try {
      stream.addData(events: _*)
      query.processAllAvailable()
      pushes.foreach { p => stream.addData(p); query.processAllAvailable() }
    } finally query.stop()
    def sig(f: RuleEngine.Fired) = (f.rule, f.key, f.kind, f.firedAt, f.firstTs)
    val streamed = spark.table("aligned_eq_out").as[RuleEngine.Fired]
      .collect().filter(f => f.kind == "complete" || f.kind == "timeout")
      .map(sig).toSet
    val batch = RuleEngine.runBatchAligned(
      ds(events ++ pushes: _*), rules, _.payload("key"))
      .collect().filter(f => f.kind == "complete" || f.kind == "timeout")
      .map(sig).toSet
    assert(streamed == batch,
      s"missing from stream: ${(batch -- streamed).take(5)}; " +
        s"extra in stream: ${(streamed -- batch).take(5)}")
    assert(batch.nonEmpty && batch.exists(_._3 == "timeout") &&
      batch.exists(_._3 == "complete"))
  }

  test("late out-of-order events within the watermark delay still complete sequences") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    // 1 hour of lateness tolerance (the reference's crude 600s clamp
    // becomes a real watermark; SURVEY §2.7 'strict upgrade')
    val query = RuleEngine.runStreaming(stream.toDS(), Seq(orderRule()), "1 hour")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      stream.addData(ev("2024-01-01 10:00:00", "signup", "u1", "1"))
      query.processAllAvailable()
      stream.addData(ev("2024-01-01 11:30:00", "view", "zz", "2")) // wm → 10:30
      query.processAllAvailable()
      // purchase arrives LATE (event time 10:40 < max seen 11:30) but
      // above the 10:30 watermark → still consumed, sequence completes
      // before its 11:00 deadline
      stream.addData(ev("2024-01-01 10:40:00", "purchase", "u1", "3"))
      query.processAllAvailable()
    } finally query.stop()
    val fired = spark.table("late_out").as[RuleEngine.Fired].collect()
    assert(fired.exists(f => f.key == "u1" && f.kind == "complete"))
    assert(!fired.exists(f => f.key == "u1" && f.kind == "timeout"))
  }

  test("streaming face equals batch face (MemoryStream, watermark-driven timeouts)") {
    import spark.implicits._
    val rules = Seq(orderRule())
    val events = Seq(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"),
      ev("2024-01-01 10:30:00", "purchase", "u1", "2"),
      ev("2024-01-01 11:00:00", "signup", "u2", "3"), // never paid → timeout
      ev("2024-01-01 14:00:00", "view", "u3", "4"))   // watermark push

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = RuleEngine.runStreaming(stream.toDS(), rules)
      .writeStream.format("memory").queryName("rule_out")
      .outputMode("append").start()
    try {
      events.foreach { e => stream.addData(e); query.processAllAvailable() }
      // one more batch so timers past the watermark fire
      stream.addData(ev("2024-01-01 15:00:00", "view", "u3", "5"))
      query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("rule_out").as[RuleEngine.Fired]
      .collect().filter(f => f.kind == "complete" || f.kind == "timeout")
      .map(f => (f.rule, f.key, f.kind, f.firedAt)).toSet
    val batch = RuleEngine.runBatch(ds(events: _*), rules)
      .collect().filter(f => f.kind == "complete" || f.kind == "timeout")
      .map(f => (f.rule, f.key, f.kind, f.firedAt)).toSet
    assert(streamed == batch)
  }

  test("streaming funnel: chained sequence rules agree with Correlate.funnel") {
    import spark.implicits._
    // the reference's funnels ARE its chained rules: one sequence rule
    // per step PREFIX, a key reaches funnel step i iff rule i completes
    // for it at least once (reference:
    // examples/online_shop/rules/CheckOrderPayment.php:79-85)
    val steps = Seq("signup", "view", "purchase")
    val rules = steps.indices.map { i =>
      graft.rules.RuleSpec(s"funnel_$i", steps.take(i + 1).map(s => Set(s)),
        None, _.payload("key"))
    }
    val events = Seq(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"),
      ev("2024-01-01 10:05:00", "view", "u1", "2"),
      ev("2024-01-01 10:10:00", "purchase", "u1", "3"), // full funnel
      ev("2024-01-01 10:00:00", "signup", "u2", "4"),
      ev("2024-01-01 10:06:00", "view", "u2", "5"),     // stalls at view
      ev("2024-01-01 09:00:00", "view", "u3", "6"),     // view BEFORE signup: no credit
      ev("2024-01-01 10:00:00", "signup", "u3", "7"),
      ev("2024-01-01 09:30:00", "purchase", "u4", "8"), // never signs up
      ev("2024-01-01 10:00:00", "signup", "u5", "9"),
      ev("2024-01-01 10:01:00", "purchase", "u5", "10"), // out of order...
      ev("2024-01-01 10:02:00", "view", "u5", "11"))     // ...stalls at view
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = RuleEngine.runStreaming(stream.toDS(), rules)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      stream.addData(events: _*)
      query.processAllAvailable()
      stream.addData(ev("2024-01-02 00:00:00", "view", "zz", "99")) // watermark push
      query.processAllAvailable()
    } finally query.stop()
    val fired = spark.table("funnel_out").as[RuleEngine.Fired].collect()
    val streamCounts = steps.indices.map { i =>
      fired.filter(f => f.rule == s"funnel_$i" && f.kind == "complete")
        .map(_.key).distinct.length.toLong
    }
    val eventsDf = events.map(e => (e.payload("key"), e.event, e.datetime))
      .toDF("user_id", "event_type", "ts")
    val funnelCounts = Correlate.funnel(eventsDf, steps)
      .collect().sortBy(_.getAs[Int]("step_idx")).map(_.getAs[Long]("n_keys")).toSeq
    assert(streamCounts == Seq(4L, 3L, 1L))
    assert(funnelCounts == streamCounts)
  }

  test("streaming face equals batch face on RocksDB state") {
    import spark.implicits._
    val rules = Seq(orderRule())
    val events = Seq(
      ev("2024-01-01 10:00:00", "signup", "u1", "1"),
      ev("2024-01-01 10:30:00", "purchase", "u1", "2"),
      ev("2024-01-01 11:00:00", "signup", "u2", "3"), // never paid → timeout
      ev("2024-01-01 14:00:00", "view", "u3", "4"))   // watermark push

    // the one stateful operator runs on any state store provider: same
    // fires on RocksDB as on the default HDFS-backed store
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = RuleEngine.runStreaming(stream.toDS(), rules)
      .writeStream.format("memory").queryName("rule_rocksdb_out")
      .outputMode("append").start()
    try {
      events.foreach { e => stream.addData(e); query.processAllAvailable() }
      stream.addData(ev("2024-01-01 15:00:00", "view", "u3", "5"))
      query.processAllAvailable()
    } finally {
      query.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }

    val streamed = spark.table("rule_rocksdb_out").as[RuleEngine.Fired]
      .collect().filter(f => f.kind == "complete" || f.kind == "timeout")
      .map(f => (f.rule, f.key, f.kind, f.firedAt)).toSet
    val batch = RuleEngine.runBatch(ds(events: _*), rules)
      .collect().filter(f => f.kind == "complete" || f.kind == "timeout")
      .map(f => (f.rule, f.key, f.kind, f.firedAt)).toSet
    assert(streamed == batch)
    assert(batch.exists(_._3 == "timeout") && batch.exists(_._3 == "complete"))
  }

  test("keyed batch face is the aligned batch face on one-rule groups (fixture corpus, fire order included)") {
    import spark.implicits._
    // the keyed face routes each rule to its own (rule, key) group; run
    // rule by rule through the aligned face under the rule's own key it
    // must emit the same fires in the same per-group order. The day-grid
    // copy manufactures same-instant events within a key, so equal
    // deadlines must fire in registration order on both faces (q_e5);
    // every fire carries its chain's event ids to tell tied fires apart.
    val key = (e: Event) => e.payload("key")
    val ids = (ch: Seq[Event]) => Seq(OutputData.action("ids", Map("ids" -> ch.flatMap(_.id).mkString(","))))
    val rules = Seq(
      orderRule(),
      RuleSpec("signup_purchase_error",
        Seq(Set("signup"), Set("purchase"), Set("error")),
        Some(Duration.ofHours(2)), key),
      RuleSpec.sessionGap("sess", Set(Event.MatchAny), Duration.ofMinutes(30), key,
        onGap = ch => Seq(OutputData.action("closed", Map("n" -> ch.size.toString)))),
      RuleSpec("quiet_replay", Seq(Set("view"), Set("purchase")),
        Some(Duration.ofMinutes(45)), key, historicalIgnoreTimeout = true))
      .map(_.copy(onComplete = ids, onTimeout = ids))
    val corpus = graft.Tables.eventsTyped(spark, "/root/testdata/sf0.001")
    val grid = corpus.map(e => e.copy(
      datetime = new Timestamp(math.floorDiv(e.effectiveTime.getTime, 86400000L) * 86400000L),
      receivedTime = None))
    // per (rule, key): the fires in emission order (runs are contiguous
    // per group within a partition, and collect keeps partition order)
    def byGroup(fires: Array[RuleEngine.Fired]) =
      fires.toSeq.filter(f => f.kind == "complete" || f.kind == "timeout")
        .groupBy(f => (f.rule, f.key))
        .map { case (g, fs) => g -> fs.map(f => (f.kind, f.firedAt, f.outputs)) }
    Seq("raw" -> corpus, "grid" -> grid).foreach { case (name, events) =>
      val keyed = byGroup(RuleEngine.runBatch(events, rules).collect())
      val aligned = byGroup(rules.flatMap(r =>
        RuleEngine.runBatchAligned(events, Seq(r), r.correlate).collect()).toArray)
      assert(keyed == aligned, s"$name: groups differ: " +
        (keyed.keySet ++ aligned.keySet).filter(g => keyed.get(g) != aligned.get(g)).take(3)
          .map(g => s"$g keyed=${keyed.get(g)} aligned=${aligned.get(g)}").mkString("; "))
      assert(keyed.values.exists(_.exists(_._1 == "complete")) &&
        keyed.values.exists(_.exists(_._1 == "timeout")), name)
      if (name == "grid") {
        // the grid really produces equal-deadline ties within a group
        assert(keyed.values.exists { fs =>
          val ts = fs.filter(_._1 == "timeout").map(_._2)
          ts.distinct.size < ts.size
        }, "no equal-deadline timeouts in the grid corpus")
      }
    }
  }

  test("J6 streaming chaining: emitted event completes a downstream rule in the same run, equal to batch-chained face") {
    // reference futureTick re-entry (src/CorrelationEngine.php:372-391):
    // a rule's emitted Event re-enters handle() within the same loop run
    import spark.implicits._
    val upstream = RuleSpec.matchSingle("detect", Set("error"),
      onMatch = ch => Seq(OutputData.event("incident", Map("sev" -> "high"))))
    val downstream = RuleSpec.matchSingle("escalate", Set("incident"),
      onMatch = _ => Seq(OutputData.action("page_oncall", Map.empty)))
    val rules = Seq(upstream, downstream)
    val events = Seq(
      ev("2024-01-01 10:00:00", "error", "h1", "1"),
      ev("2024-01-01 10:05:00", "error", "h2", "2"))

    val base = java.nio.file.Files.createTempDirectory("chainstream").toString
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val query = Sinks.routeChainedStreaming(
      RuleEngine.runStreaming(stream.toDS(), rules), rules,
      s"$base/out", s"$base/ck")
    try {
      stream.addData(events: _*)
      query.processAllAvailable()
    } finally query.stop()

    // the downstream rule fired in the SAME run: its action rows are in
    // the routed actions table without any further trigger
    val actions = spark.read.parquet(s"$base/out/actions").collect()
    assert(actions.count(_.getAs[String]("name") == "page_oncall") == 2)

    // live output equals the batch-chained face over the same events
    val batchOut = Sinks.outputsOf(
      Sinks.runBatchChained(ds(events: _*), rules))
      .select("rule", "key", "fire_kind", "out_kind", "name")
      .collect().map(_.toSeq).toSet
    val streamOut = Seq("actions" -> "action", "events" -> "event").flatMap {
      case (dir, kind) =>
        spark.read.parquet(s"$base/out/$dir")
          .select(col("rule"), col("key"), col("fire_kind"),
            lit(kind).as("out_kind"), col("name"))
          .collect().map(_.toSeq)
    }.toSet
    assert(streamOut == batchOut)
  }
}
