package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.model.Event
import graft.sources.Sources
import graft.streaming.{RuleEngine, Sinks}

/**
 * `live`: the README's live path,
 * `Sinks.routeFiredStreaming(RuleEngine.runStreaming(...))`, fed by a
 * file stream of JSON lines parsed with `Sources.fromJsonLines`. Set-up,
 * timed [[Main.SetupReps]] times: a fresh SparkSession and the query on
 * a fresh checkpoint over [[SetupEvents]] events, until its first batch
 * is committed. The first set-up starts the session the phases run in;
 * the others come after the output check, in a warm JVM, where they
 * repeat better than right after the first. The phases:
 *  1. catch-up: a fixed backlog ([[Backlog]] events in [[BacklogFiles]]
 *     files) drains with at most [[FilesPerTrigger]] files a trigger;
 *  2. steady: for the run's duration, the generator thread writes at
 *     [[Rate]] events/s, a file every [[FlushMs]] ms, on a schedule that
 *     does not wait for the engine (open loop);
 *  3. restart (traced runs only, to keep the timed runs short): the
 *     query and its SparkSession stop for [[OutageS]] s while the
 *     generator keeps writing, then a fresh SparkSession restarts the
 *     query from the same checkpoint.
 * Then the generator stops and the query drains what is left.
 */
object Live {
  val Backlog = 30000
  val BacklogFiles = 300
  val FilesPerTrigger = 50
  val Rate = 1200.0
  val FlushMs = 100
  val OutageS = 1.0
  /** The steady phase's first seconds, which still drain the switch from
   * catch-up: their fires are checked but not sampled for latency. */
  val LeadInS = 2.0
  /** Events in the input of each set-up query. */
  val SetupEvents = 500
  /** An event-triggered fire later than this after its event was due counts as failed. */
  val LatencyLimitMs = 10000.0

  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  /** One written input file: its last event's sequence number and stamp. */
  final case class Written(lastSeq: Long, lastStampUs: Long)

  /** The single generator thread. Stamps each event with its creation
   * time (strictly increasing) and writes files atomically. */
  final class Writer(gen: Gen, dir: String) extends Thread("perfbench-generator") {
    @volatile private var stopping = false
    private var lastStamp = 0L
    @volatile var files = 0
    private var lastMtime = 0L
    @volatile private var last = Written(-1, 0)
    // open-loop schedule: event `seq` is due at wall0Us + (seq - seq0) / Rate
    @volatile var seq0 = 0L
    @volatile var wall0Us = 0L
    var lateMaxMs = 0.0
    var latePast = 0L
    var sent = 0L

    def dueUs(seq: Long): Double = wall0Us + (seq - seq0) * 1e6 / Rate

    def write(n: Int): Seq[GenEvent] = {
      val sb = new StringBuilder
      val evs = Vector.fill(n)(gen.next())
      evs.foreach { e =>
        lastStamp = math.max(Clock.us(), lastStamp + 1)
        sb ++= s"""{"event":"${e.eventType}","id":"${e.seq}","datetime":"${TsFormat.format(
          Instant.ofEpochSecond(lastStamp / 1000000L, lastStamp % 1000000L * 1000L))}","key":"${e.key}"}""" += '\n'
        if (wall0Us > 0) {
          val late = (lastStamp - dueUs(e.seq)) / 1e3
          lateMaxMs = math.max(lateMaxMs, late)
          if (late > 2 * FlushMs) latePast += 1
          sent += 1
        }
      }
      val tmp = Paths.get(dir, f".tmp-$files%06d")
      Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
      // the file source takes new files in modification-time order; a
      // strictly increasing mtime keeps every key's events in order
      lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
      Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(lastMtime))
      Files.move(tmp, Paths.get(dir, f"part-$files%06d.json"), StandardCopyOption.ATOMIC_MOVE)
      files += 1
      last = Written(evs.last.seq, lastStamp)
      evs
    }

    def lastWritten: Written = last

    def finish(): Unit = { stopping = true; join() }

    override def run(): Unit = {
      seq0 = gen.position
      val t0 = System.nanoTime()
      wall0Us = Clock.us()
      var tick = 1L
      while (!stopping) {
        val due = ((System.nanoTime() - t0) * Rate / 1e9).toLong - (gen.position - seq0)
        if (due > 0) write(due.toInt)
        val sleepNs = t0 + tick * FlushMs * 1000000L - System.nanoTime()
        if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
        tick += 1
      }
    }
  }

  private def events(spark: SparkSession, lines: DataFrame): Dataset[Event] = {
    import spark.implicits._
    Sources.fromJsonLines(lines)
      .select(col("event"), col("id"), col("datetime"), col("receivedTime"),
        map(lit("key"), get_json_object(col("raw"), "$.key")).as("payload"))
      .as[Event]
  }

  /** Start the live query. The traced run routes through its own
   * foreachBatch, which materialises each batch and then times
   * `Sinks.routeFiredBatch` on it; the untraced run is the README path. */
  private def start(spark: SparkSession, in: String, ck: String, out: String,
      tracer: Tracer): StreamingQuery = {
    val lines = spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger.toString).text(in)
    val fired = RuleEngine.runStreaming(events(spark, lines), Rules.all)
    if (!tracer.enabled) Sinks.routeFiredStreaming(fired, out, ck)
    else fired.writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: Dataset[RuleEngine.Fired], id: Long) =>
        val sc = b.sparkSession.sparkContext
        val t0 = Clock.ms()
        val m = b.toDF().persist()
        val n = m.count()
        val t1 = Clock.ms()
        val before = partFiles(out)
        sc.setLocalProperty(Tracer.SinkProp, id.toString)
        val rows = try Sinks.routeFiredBatch(m, out) finally {
          sc.setLocalProperty(Tracer.SinkProp, null)
          m.unpersist()
        }
        val t2 = Clock.ms()
        tracer.record(Span(tracer.newId(), 0, "sink", s"sink $id", t0, t2,
          Map("batch" -> id, "fires" -> n, "materialize_ms" -> (t1 - t0), "route_ms" -> (t2 - t1),
            "files" -> (partFiles(out) - before)) ++ rows.map { case (k, v) => s"rows.$k" -> v }))
        ()
      }.start()
  }

  private def partFiles(out: String): Long =
    Seq("actions", "memory_writes", "events", "sources").map { d =>
      val p = Paths.get(out, d)
      if (!Files.isDirectory(p)) 0L
      else { val s = Files.list(p); try s.filter(_.toString.endsWith(".parquet")).count() finally s.close() }
    }.sum

  private def endMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L).toDouble

  private def maxEventUs(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("max")).map { s => val i = Instant.parse(s); i.getEpochSecond * 1000000L + i.getNano / 1000 }
      .getOrElse(Long.MinValue)

  /** Poll until `f` finds a progress event, or fail after `limitS`. */
  private def await(log: ProgressLog, limitS: Double, what: String)(
      f: Seq[StreamingQueryProgress] => Option[StreamingQueryProgress]): StreamingQueryProgress = {
    val until = System.nanoTime() + (limitS * 1e9).toLong
    var hit: Option[StreamingQueryProgress] = None
    while (hit.isEmpty) {
      hit = f(log.snapshot)
      if (hit.isEmpty) {
        require(System.nanoTime() < until, s"live: timed out waiting for $what")
        Thread.sleep(10)
      }
    }
    hit.get
  }

  private def stopQuietly(q: StreamingQuery): Unit = {
    // let the running trigger finish, so a stop does not cut a sink append
    val until = System.nanoTime() + 10000000000L
    while (q.status.isTriggerActive && System.nanoTime() < until) Thread.sleep(5)
    q.stop()
  }

  def run(cfg: Main.Cfg, tracer: Tracer, res: Result): Unit = {
    val in = s"${cfg.work}/live_in"
    val ck = s"${cfg.work}/live_ck"
    val out = s"${cfg.work}/live_out"
    Files.createDirectories(Paths.get(in))
    val writer = new Writer(new Gen(cfg.seed, 0), in)
    (0 until BacklogFiles).foreach(_ => writer.write(Backlog / BacklogFiles))
    val setupIn = s"${cfg.work}/setup_in"
    Files.createDirectories(Paths.get(setupIn))
    new Writer(new Gen(cfg.seed, 1), setupIn).write(SetupEvents)

    // set-up: a fresh session and a query on a fresh checkpoint, from
    // the call until its first batch is committed
    val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
    def setUp(i: Int): (SparkSession, Double) = {
      val t0 = Clock.ms()
      val s = Main.session(cfg, cfg.cores, tracer)
      val first = new ProgressLog
      s.streams.addListener(first)
      val q = start(s, setupIn, s"${cfg.work}/setup_ck_$i", s"${cfg.work}/setup_out_$i", tracer)
      val t1 = endMs(await(first, 60, "the first batch")(_.headOption))
      stopQuietly(q)
      s.streams.removeListener(first)
      phases += ((s"setup $i", t0, t1))
      (s, (t1 - t0) / 1e3)
    }
    val (spark1, setup1) = setUp(1)
    var spark = spark1
    val log = new ProgressLog
    spark.streams.addListener(log)

    // 1. catch-up: a closed drain of the backlog
    val tCatch = Clock.ms()
    var q = start(spark, in, ck, out, tracer)
    val caught = await(log, 120, "the backlog") { ps =>
      val cum = ps.scanLeft(0L)(_ + _.numInputRows).tail
      ps.zip(cum).collectFirst { case (p, c) if c >= Backlog => p }
    }
    val tCaught = endMs(caught)
    phases += (("catchup", tCatch, tCaught))
    // rows and duration of each trigger after the query's first, which
    // also pays the query's start-up
    val drain = log.snapshot.takeWhile(_.batchId <= caught.batchId)
    res.values("catchup_triggers") = drain.tail.filter(_.numInputRows > 0).map(p =>
      Seq(p.numInputRows.toDouble, p.durationMs.getOrDefault("triggerExecution", 1L).toDouble))

    // 2. steady: the open-loop generator
    val steadyS = math.max(LeadInS + 2, cfg.seconds)
    writer.start()
    Thread.sleep((steadyS * 1000).toLong)
    val steadyEndSeq = writer.lastWritten.lastSeq
    val tSteadyEnd = Clock.ms()
    phases += (("steady", tCaught, tSteadyEnd))
    val lastSteady = log.snapshot.last
    res.values("state_mb") = lastSteady.stateOperators.map(_.memoryUsedBytes).sum / 1e6
    res.values("state_rows") = lastSteady.stateOperators.map(_.numRowsTotal).sum

    // 3. restart (traced runs): stop query and session, outage, restart
    // from the checkpoint in a fresh session
    var tDrain = tSteadyEnd
    if (tracer.enabled) {
      stopQuietly(q)
      spark.stop()
      Thread.sleep((OutageS * 1000).toLong)
      val tRestart = Clock.ms()
      val atRestart = writer.lastWritten
      spark = Main.session(cfg, cfg.cores, tracer)
      spark.streams.addListener(log)
      val nBefore = log.snapshot.size
      q = start(spark, in, ck, out, tracer)
      val recovered = await(log, 120, "recovery") { ps =>
        ps.drop(nBefore).find(p => maxEventUs(p) >= atRestart.lastStampUs)
      }
      tDrain = endMs(recovered)
      res.values("recovery_s") = (tDrain - tRestart) / 1e3
      res.values("restart_first_batch_ms") = log.snapshot.drop(nBefore).headOption
        .map(_.durationMs.getOrDefault("triggerExecution", 0L)).getOrElse(0L)
      phases += (("restart", tSteadyEnd, tDrain))
    }
    writer.finish()
    q.processAllAvailable()
    stopQuietly(q)
    phases += (("drain", tDrain, Clock.ms()))
    val progress = log.snapshot
    val wmMs = progress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => Instant.parse(s).toEpochMilli).max

    res.values("gen_late_max_ms") = writer.lateMaxMs
    res.values("gen_late_share") = if (writer.sent == 0) 0.0 else writer.latePast.toDouble / writer.sent
    res.values("files") = writer.files
    res.values("triggers") = progress.map { p =>
      Map("batch" -> p.batchId, "start_ms" -> Instant.parse(p.timestamp).toEpochMilli, "end_ms" -> endMs(p),
        "rows" -> p.numInputRows, "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.toLong },
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_b" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_update_ms" -> p.stateOperators.map(_.allUpdatesTimeMs).sum,
        "state_removal_ms" -> p.stateOperators.map(_.allRemovalsTimeMs).sum,
        "state_dropped" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
    }
    progress.foreach { p =>
      tracer.record(Span(tracer.newId(), 0, "trigger", s"batch ${p.batchId}",
        Instant.parse(p.timestamp).toEpochMilli.toDouble, endMs(p),
        Map("batch" -> p.batchId, "rows" -> p.numInputRows)))
    }

    val tCheck = Clock.ms()
    check(spark, in, out, writer, steadyEndSeq, tCaught, tSteadyEnd, wmMs, res)
    phases += (("check", tCheck, Clock.ms()))
    spark.stop()
    res.values("setup_s") = setup1 +: (2 to Main.SetupReps).map { i =>
      val (s, t) = setUp(i)
      s.stop()
      t
    }
    res.values("phases") = phases.map { case (n, a, b) => Map("name" -> n, "start_ms" -> a, "end_ms" -> b) }
    phases.foreach { case (n, a, b) => tracer.record(Span(tracer.newId(), 0, "phase", n, a, b, Map.empty)) }
  }

  /** One fire as both faces report it: a payment or errors fire by its
   * first chain event, a session fire by its size. */
  final case class Fire(rule: String, kind: String, key: String, atUs: Long, tag: String)

  /** Compare the streamed fires with `RuleEngine.runBatch` over the same
   * input files, and take the latency samples from the sink tables. */
  private def check(spark: SparkSession, in: String, out: String, writer: Writer,
      steadyEndSeq: Long, tSteady: Double, tSteadyEnd: Double, wmMs: Long, res: Result): Unit = {
    // one row per fire: actions carry the payment and errors fires,
    // memory rows of `session` its gap timeouts
    def fires(outs: DataFrame, extra: String*) =
      outs.filter(col("out_kind") === "action" || col("rule") === "session")
        .select(Seq(col("rule"), col("fire_kind"), col("key"), unix_micros(col("firedAt")),
          coalesce(col("vars").getItem("first"), col("vars").getItem("value")),
          col("vars").getItem("last")) ++ extra.map(col): _*)
        .collect()
    def fire(r: org.apache.spark.sql.Row) =
      Fire(r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4))
    val expected = fires(Sinks.outputsOf(
      RuleEngine.runBatch(events(spark, spark.read.text(in)), Rules.all).toDF())).map(fire).toSet
    val sunk = Seq("actions", "memory_writes").map { d =>
      spark.read.parquet(s"$out/$d").select(col("rule"), col("key"), col("fire_kind"), col("firedAt"),
        col("out_kind"), col("vars"), unix_micros(col("_metadata.file_modification_time")).as("m_us"))
    }.reduce(_ unionByName _)
    // at-least-once: a batch re-run after the restart appends again; the
    // first append is the one that counts
    val got = fires(sunk, "m_us").groupBy(fire).map { case (f, rs) =>
      f -> (rs.map(_.getLong(6)).min, rs.length, Option(rs.head.getString(5)))
    }
    // a timeout is due once the final watermark has passed its deadline
    val dueUs = (wmMs - 1) * 1000L
    val exp = expected.filter(f => f.kind != "timeout" || f.atUs < dueUs)
    def report(fs: Iterable[Fire], what: String): Unit =
      fs.groupBy(f => s"${f.rule}/${f.kind}").foreach { case (k, v) =>
        res.fail(s"live: ${v.size} $k fires $what", v.size)
      }
    report(exp.filterNot(got.contains), "lost")
    report(got.keys.filterNot(expected.contains), "not in runBatch")
    res.attempted = exp.size
    res.values("duplicate_appends") = got.values.map(_._2 - 1).sum

    // latency samples from the steady phase after its lead-in:
    // event-triggered fires from when their completing event was due,
    // timeouts from their deadline
    val seq0 = writer.seq0
    val sampleFrom = seq0 + (LeadInS * Rate).toLong
    val fireLat = mutable.ArrayBuffer.empty[(Long, Double)]
    val toLag = mutable.ArrayBuffer.empty[Double]
    got.foreach { case (f, (mUs, _, last)) =>
      if (f.kind == "timeout") {
        if (f.atUs >= tSteady * 1e3 + LeadInS * 1e6 && f.atUs < tSteadyEnd * 1e3) toLag += (mUs - f.atUs) / 1e3
      } else last.map(_.toLong).filter(q => q >= seq0 && q <= steadyEndSeq)
        .foreach(q => fireLat += ((q, (mUs - writer.dueUs(q)) / 1e3)))
    }
    // (seconds into the steady phase the completing event was due, latency)
    res.values("fire_latency") = fireLat.collect { case (q, l) if q >= sampleFrom => Seq((q - seq0) / Rate, l) }.toSeq
    res.values("steady_s") = Seq(LeadInS, tSteadyEnd / 1e3 - tSteady / 1e3)
    res.values("timeout_lag_ms") = toLag.toSeq
    val over = fireLat.count(_._2 > LatencyLimitMs)
    if (over > 0) res.fail(s"live: $over fires over the ${LatencyLimitMs.toInt} ms latency limit", over)
    res.attempted += fireLat.size
  }
}
