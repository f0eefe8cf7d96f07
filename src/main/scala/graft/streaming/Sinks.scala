package graft.streaming

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Event
import graft.ops.Materialize
import graft.rules.RuleSpec

/**
 * Output routing — the Spark replacement for the reference's
 * emit-classification + coordinators (reference:
 * src/CorrelationEngine.php:372-391 routing to
 * ActionExecutionCoordinator / MemoryEngine / on-demand sources).
 *
 * Fired records carry a list of typed outputs
 * ({event, action, memory, source}); the router splits them into
 * append-only tables: `actions/`, `memory_writes/`, `events/` (derived
 * events for rule chaining), `sources/`. Failed action executions land
 * in `dead_letter/` and are replayed first on the next run — the
 * at-least-once contract of the reference's errored-action queue
 * (reference: src/Scheduler.php:840-884).
 *
 * Every face routes a batch of fires through ONE body, [[route]],
 * which reads the batch once. Delivery: table appends are
 * at-least-once per batch — a micro-batch re-run after a failure or a
 * restart appends its rows again (exactly-once table writes are not
 * implemented yet). Actions are at-least-once — the handler runs once
 * per action row of a routed batch, again if the batch re-runs, and
 * failures replay from `dead_letter/`, so a handler must be idempotent.
 */
object Sinks {

  /** Output kind → its table directory under `baseDir`. */
  private val tables = Seq("action" -> "actions", "memory" -> "memory_writes",
    "event" -> "events", "source" -> "sources")

  /** Explode Fired rows into one row per output. */
  def outputsOf(fired: DataFrame): DataFrame =
    fired.select(
      col("rule"), col("key"), col("kind").as("fire_kind"), col("firedAt"),
      explode(col("outputs")).as("out"))
      .select(
        col("rule"), col("key"), col("fire_kind"), col("firedAt"),
        col("out.kind").as("out_kind"), col("out.name").as("name"),
        col("out.vars").as("vars"))

  /** Batch router: split one Fired dataset into the four output tables
   * (append mode). Returns the per-kind row counts. */
  def routeFiredBatch(fired: DataFrame, baseDir: String): Map[String, Long] =
    route(fired, baseDir)

  /** Streaming router: the same split per micro-batch via foreachBatch
   * (reference cadence: emissions handled as they occur; here per
   * trigger). */
  def routeFiredStreaming(fired: Dataset[RuleEngine.Fired], baseDir: String,
      checkpoint: String): StreamingQuery =
    routeStreaming(fired, checkpoint)(route(_, baseDir))

  /** The one routing body, per batch of fires: with `rules`, add the
   * chained fires ([[chainLoop]]); materialize the exploded outputs
   * ONCE, the per-kind counts observed on that job; append each
   * non-empty kind; with a `handler`, run the action rows from the
   * materialized rows and dead-letter the failures; release what it
   * materialized. So the upstream plan (a micro-batch with its rule
   * callbacks) runs once per batch. Returns the per-kind counts. */
  private def route(fires: DataFrame, baseDir: String,
      rules: Seq[RuleSpec] = Nil, passes: Int = 3,
      sourceRegistry: Map[String, (SparkSession, Map[String, String]) => Dataset[Event]] = Map.empty,
      handler: Option[(String, Map[String, String]) => Unit] = None): Map[String, Long] = {
    val spark = fires.sparkSession
    val (all, persisted) =
      if (rules.isEmpty) (fires, Nil)
      else chainLoop(spark, fires.persist(), rules, passes, sourceRegistry)
    try {
      val (outs, n) = Materialize.observed(outputsOf(all),
        tables.map { case (kind, _) => count_if(col("out_kind") === kind).as(kind) }: _*)
      try {
        val counts = tables.map { case (kind, _) => kind -> n.getAs[Long](kind) }.toMap
        def rows(kind: String) = outs.filter(col("out_kind") === kind)
        tables.foreach { case (kind, dir) =>
          if (counts(kind) > 0) rows(kind).write.mode("append").parquet(s"$baseDir/$dir")
        }
        if (counts("action") > 0) handler.foreach { h =>
          appendDeadLetter(executeActions(spark, rows("action"), h), baseDir)
        }
        counts
      } finally Materialize.release(outs)
    } finally persisted.foreach { df => df.unpersist(); () }
  }

  /** The one streaming loop: every micro-batch goes through `body`. */
  private def routeStreaming(fired: Dataset[RuleEngine.Fired], checkpoint: String)(
      body: DataFrame => Map[String, Long]): StreamingQuery =
    fired.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[RuleEngine.Fired], _: Long) => body(batch.toDF()); () }
      .start()

  /** One action-var constraint — the JSON-Schema subset the reference
   * validates Action.vars against (justinrainbow/json-schema
   * Validator::validate in
   * src/Scheduler/ActionExecutionCoordinator.php:229-239):
   * {type, required, enum, pattern, format, minimum/maximum} plus ONE
   * level of nested object properties. `dataType` is a Spark DDL
   * type; a present value must cast to it (try_cast: "abc" AS INT
   * fails, "42" passes). `format` ∈ {date-time, date, ipv4, uuid,
   * email}. A var with `fields` is a nested object carried as JSON
   * text; its fields take the same scalar constraints (deeper nesting
   * is out of scope, mirroring SURVEY §2.2's K3 bound). */
  case class VarSpec(name: String, dataType: String = "string",
      required: Boolean = true, enumVals: Seq[String] = Nil,
      pattern: Option[String] = None, format: Option[String] = None,
      minVal: Option[Double] = None, maxVal: Option[Double] = None,
      fields: Seq[VarSpec] = Nil)

  private def sqlStr(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  /** Scalar constraint stack for the value at SQL expression `access`
   * (absent/null values pass everything except `required` — JSON-
   * Schema semantics: constraints only bind present values). */
  private def scalarChecks(access: String, sp: VarSpec): Column = {
    val v = expr(access)
    val present = if (sp.required) v.isNotNull else lit(true)
    val typed = v.isNull || expr(s"try_cast($access AS ${sp.dataType})").isNotNull
    val enumOk =
      if (sp.enumVals.isEmpty) lit(true)
      else v.isNull || v.isin(sp.enumVals: _*)
    val patOk = sp.pattern.fold(lit(true))(p => v.isNull || v.rlike(p))
    val fmtOk = sp.format.fold(lit(true)) {
      case "date-time" => v.isNull || expr(s"try_cast($access AS TIMESTAMP)").isNotNull
      case "date" => v.isNull || expr(s"try_cast($access AS DATE)").isNotNull
      case "ipv4" => v.isNull ||
        v.rlike("^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$")
      case "uuid" => v.isNull ||
        v.rlike("^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$")
      case "email" => v.isNull || v.rlike("^[^@\\s]+@[^@\\s]+\\.[^@\\s]+$")
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
    val rangeOk =
      if (sp.minVal.isEmpty && sp.maxVal.isEmpty) lit(true)
      else {
        val num = expr(s"try_cast($access AS DOUBLE)")
        v.isNull || (num.isNotNull &&
          sp.minVal.fold(lit(true))(m => num >= m) &&
          sp.maxVal.fold(lit(true))(m => num <= m))
      }
    present && typed && enumOk && patOk && fmtOk && rangeOk
  }

  /** Full constraint stack for one var: scalar checks plus one level
   * of nested object properties (the var's value parsed as a JSON
   * string map; malformed/non-object JSON fails validation). */
  private def varChecks(access: String, sp: VarSpec): Column = {
    val nestedOk =
      if (sp.fields.isEmpty) lit(true)
      else {
        sp.fields.foreach(f => require(f.fields.isEmpty,
          s"nested object '${sp.name}.${f.name}': only one level of nesting is supported"))
        val parsed = s"from_json($access, 'map<string,string>')"
        val fieldChecks = sp.fields
          .map(f => scalarChecks(s"try_element_at($parsed, '${sqlStr(f.name)}')", f))
        expr(access).isNull ||
          (expr(parsed).isNotNull && fieldChecks.foldLeft(lit(true))(_ && _))
      }
    scalarChecks(access, sp) && nestedOk
  }

  /**
   * K3 — full action parameter validation: required presence, type
   * castability, enum membership, regex pattern, format, numeric range
   * and one level of nested-object properties per var, per action
   * name. Actions with no schema pass. The invalid side is an
   * argumenterror in the reference — rejected BEFORE dispatch and
   * never retried/dead-lettered — so route only `valid` into
   * [[executeActions]]. Pure Column predicates (codegen'd, null-safe
   * under ANSI via try_*).
   */
  def validateActionVarsTyped(actions: DataFrame,
      schemas: Map[String, Seq[VarSpec]]): (DataFrame, DataFrame) = {
    val ok = schemas.foldLeft(lit(true)) { case (acc, (cmd, specs)) =>
      val checks = specs
        .map(sp => varChecks(s"try_element_at(vars, '${sqlStr(sp.name)}')", sp))
      when(col("name") === cmd, checks.foldLeft(lit(true))(_ && _)).otherwise(acc)
    }
    (actions.filter(ok), actions.filter(!ok))
  }

  /** One executed action: ok or captured error (the reference correlates
   * action responses by id and queues failures;
   * src/Scheduler/ActionExecutionCoordinator.php:138-175). */
  case class ActionResult(
      rule: String, key: String, name: String, vars: Map[String, String],
      ok: Boolean, error: String)

  /**
   * Execute actions with a user handler; failures become the dead
   * letter table (at-least-once: callers union `deadLetter` back into
   * the next run's input, mirroring the reference's replay-before-
   * resume; reference: src/Scheduler.php:840-884). The handler runs
   * distributed — it must be serialisable and idempotent.
   */
  def executeActions(spark: SparkSession, actions: DataFrame,
      handler: (String, Map[String, String]) => Unit): Dataset[ActionResult] = {
    import spark.implicits._
    actions
      .select(col("rule"), col("key"), col("name"), col("vars"))
      .as[(String, String, String, Map[String, String])]
      .map { case (rule, key, name, vars) =>
        Try(handler(name, vars)) match {
          case Success(_) => ActionResult(rule, key, name, vars, ok = true, "")
          case Failure(e) => ActionResult(rule, key, name, vars, ok = false,
            String.valueOf(e.getMessage))
        }
      }
  }

  /** Append failed action results to the dead-letter table with an
   * initial attempt count of 1 (the reference queues failures in
   * `erroredActionCommands`; src/Scheduler.php:840-884). Returns the
   * number of rows dead-lettered. */
  def appendDeadLetter(results: Dataset[ActionResult], baseDir: String): Long = {
    // materialise exactly once, the count on the same job — the write
    // must not re-run the side-effecting handler map upstream
    val (failed, m) = Materialize.observed(results.filter(!_.ok).toDF()
      .select(col("rule"), col("key"), col("name"), col("vars"), col("error"))
      .withColumn("attempts", lit(1)), count(lit(1)).as("n"))
    try {
      val n = m.getAs[Long]("n")
      if (n > 0) failed.write.mode("append").parquet(s"$baseDir/dead_letter")
      n
    } finally Materialize.release(failed)
  }

  /** Outcome of one [[recoverAndRun]] drain pass. `exhausted` > 0 means
   * actions hit the attempt cap — the reference HALTS the engine after
   * repeated recovery failures (recovery marker + cooldown,
   * src/Scheduler.php:130-141,766-792); callers decide the same. */
  case class RecoveryReport(eligible: Long, succeeded: Long, requeued: Long, exhausted: Long)

  /** Explicit dead-letter table schema: reads never depend on footer
   * inference, so a dead_letter directory that exists but holds no
   * parquet files (torn write, manual cleanup) reads as EMPTY instead
   * of throwing 'unable to infer schema' out of engine startup. */
  val deadLetterSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rule", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("vars",
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("error", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("attempts", org.apache.spark.sql.types.IntegerType)))

  /**
   * K1/S5 — automated errored-action replay: drain the dead-letter
   * table ONCE, before sources resume, exactly like the reference's
   * RECOVERY state (errored actions replayed before `startSources`,
   * each attempt counted, capped at `maxAttempts`;
   * reference: src/Scheduler.php:840-884, 130-141). Successes leave
   * the table; failures are re-queued with attempts+1; rows at the cap
   * are never re-executed and stay in the table for inspection.
   */
  def recoverAndRun(spark: SparkSession, baseDir: String,
      handler: (String, Map[String, String]) => Unit,
      maxAttempts: Int = 3): RecoveryReport = {
    import spark.implicits._
    val dir = s"$baseDir/dead_letter"
    // existence via the path's Hadoop filesystem, not java.io.File —
    // baseDir is the shared checkpoint FS (hdfs://, s3a://) on a cluster
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    if (!dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dirPath))
      return RecoveryReport(0L, 0L, 0L, 0L)
    // materialise the current queue before overwriting its directory;
    // explicit schema (not inference) so a footer-less directory reads
    // as empty, and Try so an unreadable/corrupt queue degrades to
    // "nothing to replay" instead of crashing startup
    val (dl, d) = Try(Materialize.observed(spark.read.schema(deadLetterSchema).parquet(dir)
      .select(col("rule"), col("key"), col("name"), col("vars"),
        col("error"), col("attempts")),
      count_if(col("attempts") >= maxAttempts).as("exhausted"))) match {
      case Success(r) => r
      case Failure(_) => return RecoveryReport(0L, 0L, 0L, 0L)
    }
    try {
      // one replay per action: the counts ride on this job and the
      // write below reads its rows, not the handler map
      val (results, r) = Materialize.observed(dl.filter(col("attempts") < maxAttempts)
        .as[(String, String, String, Map[String, String], String, Int)]
        .map { case (rule, key, name, vars, _, attempts) =>
          Try(handler(name, vars)) match {
            case Success(_) => (rule, key, name, vars, "", attempts + 1, true)
            case Failure(e) => (rule, key, name, vars,
              String.valueOf(e.getMessage), attempts + 1, false)
          }
        }
        .toDF("rule", "key", "name", "vars", "error", "attempts", "ok"),
        count(lit(1)).as("eligible"), count_if(col("ok")).as("succeeded"))
      try {
        val eligible = r.getAs[Long]("eligible")
        val succeeded = r.getAs[Long]("succeeded")
        // both sides are materialized, so overwriting the directory they
        // were read from is safe; an empty union writes an empty table
        results.filter(!col("ok")).drop("ok")
          .unionByName(dl.filter(col("attempts") >= maxAttempts))
          .write.mode("overwrite").parquet(dir)
        RecoveryReport(eligible, succeeded, eligible - succeeded, d.getAs[Long]("exhausted"))
      } finally Materialize.release(results)
    } finally Materialize.release(dl)
  }

  /**
   * [[routeFiredStreaming]] WITH action execution, behind the FULL
   * recovery state machine ([[Recovery.Coordinator]]): the dead-letter
   * queue is drained (attempt-capped) BEFORE the query starts — the
   * reference's replay-before-resume contract — and the query starts
   * only when the coordinator reports a clean or recovered boot; a
   * marker, an exhausted attempt cap or an active cooldown
   * (`wait=false`) refuses to start — the caller gets the outcome
   * instead of a query, exactly like the reference refusing to boot
   * sources (src/Scheduler.php:766-792). Per micro-batch, [[route]]
   * appends the tables, then executes the `action` rows through
   * `handler` and dead-letters new failures (at-least-once).
   */
  def routeAndExecuteGuarded(fired: Dataset[RuleEngine.Fired], baseDir: String,
      checkpoint: String, handler: (String, Map[String, String]) => Unit,
      coordinator: Recovery.Coordinator,
      maxAttempts: Int = 3, wait: Boolean = true): Either[Recovery.StartOutcome, StreamingQuery] =
    coordinator.start(fired.sparkSession, handler, maxAttempts, wait) match {
      case Recovery.Started(_) =>
        Right(routeStreaming(fired, checkpoint)(route(_, baseDir, handler = Some(handler))))
      case other => Left(other)
    }

  /** Derived events (rule chaining, J6): `event`-kind outputs re-enter
   * the engine as new Events stamped with the fire time (reference
   * futureTick re-entry; src/CorrelationEngine.php:372-391). */
  def derivedEvents(spark: SparkSession, fired: DataFrame): Dataset[Event] = {
    import spark.implicits._
    outputsOf(fired)
      .filter(col("out_kind") === "event")
      .select(
        col("name").as("event"),
        lit(null).cast("string").as("id"),
        col("firedAt").as("datetime"),
        lit(null).cast("timestamp").as("receivedTime"),
        // the engine key wins over an identically-named user var (a
        // plain map_concat throws DUPLICATE_MAP_KEY under the default
        // EXCEPTION dedup policy)
        map_concat(
          map_filter(col("vars"), (k, _) => k =!= "key"),
          map(lit("key"), col("key"))).as("payload"))
      .as[Event]
  }

  /**
   * Acyclic rule chaining in batch (SURVEY §7.5.2): evaluate rules,
   * feed `event` emissions back as a new pass, up to `passes` rounds or
   * until no new derived events — the batch analogue of the reference's
   * next-tick re-ingestion. Returns all fires from all passes.
   *
   * `sourceRegistry` wires S4 on-demand sources into the same loop:
   * each pass's `source`-kind outputs launch their registered batch
   * read (Sources.executeOnDemand) and the fetched events join the
   * derived events of the NEXT pass — the reference launches the
   * source process and its events re-enter handle() the same way
   * (src/Scheduler.php:823-838).
   */
  def runBatchChained(events: Dataset[Event], rules: Seq[RuleSpec],
      passes: Int = 3,
      sourceRegistry: Map[String, (SparkSession, Map[String, String]) => Dataset[Event]] = Map.empty): DataFrame = {
    val fires0 = RuleEngine.runBatch(events, rules).toDF().persist()
    val (all, persisted) = chainLoop(events.sparkSession, fires0, rules, passes, sourceRegistry)
    // materialise the (small) combined fire records once, then release
    // the per-pass caches — repeated batch invocations must not
    // accumulate persisted frames in a long-lived driver
    val out = Materialize(all)
    persisted.foreach { df => df.unpersist(); () }
    out
  }

  /** The chain loop shared by the batch and streaming faces: starting
   * from the (persisted) pass-0 fires, repeatedly interpret derived
   * events — plus on-demand source fetches — through the rules until
   * quiescent or `passes` exhausted. Each pass's fires are persisted:
   * the isEmpty probe and the final union action would otherwise
   * re-execute every earlier pass's stateful interpreter lineage
   * (O(passes²) recompute). The cached pieces are small (fire
   * records); returns them so callers can unpersist after consuming
   * the result. */
  private def chainLoop(spark: SparkSession, fires0: DataFrame, rules: Seq[RuleSpec],
      passes: Int,
      sourceRegistry: Map[String, (SparkSession, Map[String, String]) => Dataset[Event]]): (DataFrame, List[DataFrame]) = {
    def nextInput(fires: DataFrame): Dataset[Event] = {
      val derived = derivedEvents(spark, fires)
      if (sourceRegistry.isEmpty) derived
      else derived.union(graft.sources.Sources.executeOnDemand(spark, fires, sourceRegistry))
    }
    var persisted = List(fires0)
    var derived = nextInput(fires0)
    var all = fires0
    var pass = 1
    while (pass < passes && !derived.isEmpty) {
      val next = RuleEngine.runBatch(derived, rules).toDF().persist()
      persisted ::= next
      all = all.unionByName(next)
      derived = nextInput(next)
      pass += 1
    }
    (all, persisted)
  }

  /**
   * J6 streaming — chained rule sets behave the same live as in replay
   * (reference futureTick re-entry: a rule's emitted Event is fed back
   * into handle() on the next loop tick;
   * src/CorrelationEngine.php:372-391 + src/Scheduler.php:795-812).
   * Per micro-batch: the live engine's fires' `event`-kind outputs run
   * through the rules' batch interpreter (bounded passes over an
   * acyclic rule DAG — the same loop as [[runBatchChained]]), and the
   * live and chained fires are routed together in one pass. A
   * rule's emitted event therefore completes a downstream rule in the
   * SAME trigger, not a later one.
   *
   * Note the chain passes interpret derived events with fresh matcher
   * state per pass, exactly like the batch face — so live output
   * equals [[runBatchChained]] over the same events. Downstream rules
   * needing state ACROSS derived events of different triggers should
   * instead consume the routed `events/` table as their own stream.
   */
  def routeChainedStreaming(fired: Dataset[RuleEngine.Fired], rules: Seq[RuleSpec],
      baseDir: String, checkpoint: String, passes: Int = 3,
      sourceRegistry: Map[String, (SparkSession, Map[String, String]) => Dataset[Event]] = Map.empty): StreamingQuery =
    routeStreaming(fired, checkpoint)(route(_, baseDir, rules, passes, sourceRegistry))
}
