package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Batch faces of the reference's correlation operators — the "join/window
 * heart" of the engine (SURVEY.md §2.4). The reference has no relational
 * joins; its join-equivalent is keyed sequence correlation: N-step event
 * chains with a context equi-key and an event-time gap timeout
 * (reference: src/StateMachine/AEventProcessor.php:137,178-222).
 *
 * Each operator here is a declarative DataFrame transform so Catalyst
 * plans it (predicate pushdown into the scan, sort-merge or broadcast
 * join selection, AQE skew handling). The streaming faces live in
 * [[graft.streaming.RuleInterpreter]].
 *
 * Scale notes (100 TB): every self-correlation below keys the shuffle on
 * the correlation key (`user_id`), so the plan is one exchange per side
 * reused across the join and downstream window functions. Time-range
 * predicates ride along as join residuals — no cross product. Partial
 * aggregation (map-side combine) applies to all groupBys.
 */
object Correlate {

  /** Next continuation time per row: min `thenType` timestamp at or
   * after each row's own event time, via a range frame over the key's
   * sorted stream. The range frame includes timestamp peers, matching
   * the `>=` join semantics exactly. ONE sort per key, linear in the
   * key's event count — a naive key+time-range self-join degenerates to
   * O(n²) per key on hot keys (measured: 3× slower than the interpreter
   * at 10M rows with a 20%-hot key; this form is skew-proof). */
  private def withNextThen(events: DataFrame, firstType: String, thenType: String,
      key: String): DataFrame = {
    // descending order + unbounded-PRECEDING frame: Spark evaluates it
    // incrementally (O(n) per key); the equivalent ascending
    // unbounded-FOLLOWING frame is recomputed per row (O(n²) — measured
    // 10× slower at 10M rows). Range frame includes ts peers = `>=`.
    val w = Window.partitionBy(col(key)).orderBy(col("ts").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    events
      // NULL keys never correlate (join semantics: NULL = NULL is not a
      // match) — without this filter the window would group them
      .filter(col(key).isNotNull && col("event_type").isin(firstType, thenType))
      .withColumn("next_then_ts",
        min(when(col("event_type") === thenType, col("ts"))).over(w))
  }

  /**
   * J1 — Sequence match: for each `firstType` event, pair it with the
   * FIRST subsequent `thenType` event of the same key (as-of pairing).
   * Mirrors the two-step EVENTS chain with a context equi-key
   * (reference: examples/online_shop/rules/CheckOrderPayment.php:66-77).
   */
  def sequencePair(
      events: DataFrame,
      firstType: String,
      thenType: String,
      key: String = "user_id"): DataFrame =
    withNextThen(events, firstType, thenType, key)
      .filter(col("event_type") === firstType && col("next_then_ts").isNotNull)
      .select(col(key), col("event_id").as("first_event_id"),
        col("ts").as("first_ts"), col("next_then_ts").as("then_ts"))

  /**
   * J2 — Sequence + timeout → alarm: `firstType` events with NO
   * `thenType` continuation on the same key within `[ts, ts + timeout)`.
   * This is the reference's flagship rule shape ("order placed but not
   * paid within T ⇒ reminder"; reference:
   * examples/online_shop/rules/CheckOrderPayment.php:65-86 +
   * src/StateMachine/AEventProcessor.php:367-396). The boundary is
   * half-open because acceptEventTime rejects events at/after the
   * deadline (reference: src/StateMachine/AEventProcessor.php:357-361).
   */
  def sequenceTimeout(
      events: DataFrame,
      firstType: String,
      thenType: String,
      timeout: String, // SQL interval body, e.g. "1 HOUR"
      key: String = "user_id"): DataFrame =
    withNextThen(events, firstType, thenType, key)
      .filter(col("event_type") === firstType &&
        (col("next_then_ts").isNull ||
          col("next_then_ts") >= col("ts") + expr(s"INTERVAL $timeout")))
      .select(col(key), col("event_id").as("first_event_id"), col("ts").as("first_ts"))

  /**
   * J5 — Match-till-timeout / gap sessionisation: split each key's event
   * stream into sessions separated by silences longer than `gapSec`
   * (reference: tests/Rules/MatchContinuouslyTillTimeout.php:71-94 —
   * "alarm when no event for gap T" is exactly a session boundary).
   *
   * lag/gap + running sum over one window partitioning — a single
   * shuffle on the key serves both window passes.
   */
  def gapSessions(events: DataFrame, gapSec: Long, key: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("ts"), col("event_id"))
    val boundary = when(
      col("prev_us").isNull || (unix_micros(col("ts")) - col("prev_us")) > gapSec * 1000000L, 1L
    ).otherwise(0L)
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session", boundary)
      .withColumn("session_id", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(key), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"))
  }

  /**
   * J6 — Chained rules: a rule's emissions feed other rules
   * (reference: src/CorrelationEngine.php:372-391). Batch face is a CTE
   * pipeline: stage-1 timeouts become the stage-2 input. Here: users
   * accumulating >= `threshold` reminders escalate.
   */
  def chainedEscalation(
      events: DataFrame,
      firstType: String,
      thenType: String,
      timeout: String,
      threshold: Long,
      key: String = "user_id"): DataFrame =
    sequenceTimeout(events, firstType, thenType, timeout, key)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_reminders"))
      .filter(col("n_reminders") >= threshold)

  /**
   * J9 — Enrichment join vs collective Memory
   * (reference: src/Memory/MemoryInterface.php:204-222,
   * src/StateMachine/AEventProcessor.php:147-158): rules read a shared
   * KV store to enrich decisions. Batch face: derive the memory table
   * (latest observation per key) and broadcast-join it — memory is
   * small-by-construction (one row per key), so the join is map-side.
   */
  def enrichFromMemory(
      events: DataFrame,
      memoryEventType: String,
      enrichEventType: String,
      key: String = "user_id"): DataFrame = {
    val memory = events.filter(col("event_type") === memoryEventType)
      .groupBy(col(key))
      .agg(max_by(col("value"), col("event_id")).as("memory_value"))
    events.filter(col("event_type") === enrichEventType)
      .select(col("event_id"), col(key), col("ts"), col("value"))
      .join(broadcast(memory), Seq(key), "left")
  }

  /**
   * F6 — Suppress, batch face: an earlier duplicate suppresses later
   * processing of "the same" event (reference:
   * src/CorrelationEngine.php:230-236). Dedup discipline: keep only the
   * first event per (key, event_type, minute-bucket); the rest are
   * suppressed. Single shuffle on the composite key.
   */
  def suppressDuplicates(events: DataFrame, key: String = "user_id"): DataFrame = {
    val w = Window
      .partitionBy(col(key), col("event_type"), date_trunc("minute", col("ts")))
      .orderBy(col("ts"), col("event_id"))
    events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /**
   * J7 — Duplicate-start guard is the keying discipline itself: one
   * matcher per (rule, key) — batch equivalent of groupBy on the key.
   * Exposed for the inventory as: distinct first-event per key+type.
   */
  def firstPerKey(events: DataFrame, eventType: String, key: String = "user_id"): DataFrame =
    events.filter(col("event_type") === eventType)
      .groupBy(col(key))
      .agg(min("ts").as("first_ts"), min_by(col("event_id"), struct(col("ts"), col("event_id"))).as("first_event_id"))

  /**
   * As-of enrichment join: attach to every `targetType` event the most
   * recent STRICTLY PRECEDING `sourceType` event of the same key (its
   * ts and value) — the point-in-time lookup the reference expresses as
   * "record context on the source event, read it on the target"
   * (reference: src/StateMachine/AEventProcessor.php:229-252 records
   * context on accept; src/Memory usage reads it later).
   *
   * Skew-proof plan: union both types into ONE stream per key, sort
   * once, and carry the last source row forward with an incremental
   * running window (`last(..., ignoreNulls)` over unbounded-preceding →
   * -1 rows). A key+time-range join would go quadratic on hot keys;
   * this is one shuffle + one linear pass per key, same as the other
   * sequence faces.
   */
  /**
   * Multi-step funnel: per step prefix, how many keys have completed
   * the ordered chain `steps(0) → … → steps(k)` (each step at-or-after
   * the previous one's earliest completion — the `>=` matches the
   * sequence faces' continuation semantics). The reference expresses
   * funnels as chained sequence rules (reference:
   * examples/online_shop/rules, J1/J6 building blocks); this is the
   * one-call analytics face over a static table.
   *
   * Scale shape: step k is one equi-join of the step-k events against
   * the (monotonically SHRINKING) reached-set keyed by `key`, plus a
   * min-aggregate — k·2 keyed shuffles total, no windows over the full
   * stream, no per-key materialisation; AQE broadcasts the reached
   * side as it shrinks. Each stage is materialised ([[Materialize]])
   * because it feeds both the next stage's join and its own count.
   */
  def funnel(
      events: DataFrame,
      steps: Seq[String],
      key: String = "user_id",
      tsCol: String = "ts"): DataFrame =
    funnelCounts(events, funnelStages(events, steps, Nil, key, tsCol), steps, key)

  /**
   * [[funnel]] with a per-step gap timeout — the analytics face of the
   * reference's sequence rules' chain timeouts (reference:
   * src/StateMachine/AEventProcessor.php:122,367-396): step `i` only
   * counts if it happens within `maxGapSeconds(i-1)` of the previous
   * step's earliest completion (`ts BETWEEN t AND t + gap`). A key that
   * converts eventually but too slowly reaches the untimed funnel and
   * NOT this one.
   */
  def funnelTimed(
      events: DataFrame,
      steps: Seq[String],
      maxGapSeconds: Seq[Long],
      key: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(maxGapSeconds.length == steps.length - 1,
      "one maxGap per step transition")
    funnelCounts(events, funnelStages(events, steps, maxGapSeconds, key, tsCol), steps, key)
  }

  /** Per-step reached-set frames (key, t = earliest completion), each
   * materialised ([[Materialize]]) because it feeds both the next
   * stage's join and the final count. */
  private def funnelStages(events: DataFrame, steps: Seq[String],
      maxGapSeconds: Seq[Long], key: String, tsCol: String): Seq[DataFrame] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    var reached: DataFrame = null
    steps.zipWithIndex.map { case (s, i) =>
      // a step whose type already appeared earlier in the chain needs a
      // strictly LATER occurrence — with `>=`, a single event could
      // satisfy both copies whenever the intermediate steps complete at
      // the same timestamp (conservative: a genuinely distinct repeat
      // at the exact same timestamp is also rejected; event identity
      // beyond (key, ts) isn't part of the funnel contract)
      val after =
        if (i > 0 && steps.take(i).contains(s)) col(tsCol) > col("t")
        else col(tsCol) >= col("t")
      val within =
        if (i > 0 && maxGapSeconds.nonEmpty)
          col(tsCol) <= col("t") + expr(s"INTERVAL ${maxGapSeconds(i - 1)} SECOND")
        else lit(true)
      reached = Materialize(
        if (i == 0)
          events.filter(col(key).isNotNull && col("event_type") === s)
            .groupBy(col(key)).agg(min(col(tsCol)).as("t"))
        else
          events.filter(col("event_type") === s)
            .join(reached, Seq(key))
            .filter(after && within)
            .groupBy(col(key)).agg(min(col(tsCol)).as("t")))
      reached
    }
  }

  /** Fold the per-step counts into ONE aggregation job (a k-step funnel
   * is k checkpointed stage builds + one count, not k driver
   * round-trips); steps that empty out still get their zero row. */
  private def funnelCounts(events: DataFrame, stages: Seq[DataFrame],
      steps: Seq[String], key: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val counted = stages.zip(steps.zipWithIndex).map { case (df, (s, i)) =>
      df.select(lit(s).as("step"), lit(i).as("step_idx"), col(key))
    }.reduce(_ unionAll _)
      .groupBy("step", "step_idx")
      .agg(count(lit(1)).as("n_keys"))
    steps.zipWithIndex.toDF("step", "step_idx")
      .join(counted, Seq("step", "step_idx"), "left")
      .na.fill(0L, Seq("n_keys"))
  }

  /**
   * Weekly retention cohorts: keys grouped by first-seen week; for
   * each (cohort_week, week_offset), how many of that cohort's keys
   * were active `week_offset` weeks later — the companion analytics
   * face to [[funnel]] (the reference's users derive both from chained
   * rules + statistics counters). Weeks are `date_trunc("week", ts)`
   * (ISO Monday start, same in the DuckDB oracle).
   *
   * Scale shape: one distinct over (key, week) — the only pass over
   * the full table — then a min-aggregate and a key-equi-join of two
   * already-aggregated frames; the final count groups a frame no
   * larger than (active keys × active weeks).
   */
  def retentionCohorts(
      events: DataFrame,
      key: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val weeks = events.filter(col(key).isNotNull)
      .select(col(key), date_trunc("week", col(tsCol)).as("wk"))
      .distinct()
    val cohort = weeks.groupBy(col(key)).agg(min("wk").as("cohort_week"))
    weeks.join(cohort, Seq(key))
      .withColumn("week_offset",
        (datediff(col("wk"), col("cohort_week")) / 7).cast("int"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_keys")) // weeks is distinct per (key, wk)
  }

  /** One appended retention credit: `key` was active in the week
   * `week_offset` weeks after its `cohort_week` (first-seen week). */
  final case class RetentionCredit(key: String, cohort_week: java.sql.Timestamp,
      week_offset: Int)

  private val WeekMillis = 7L * 24 * 3600 * 1000

  /**
   * Streaming face of [[retentionCohorts]]: per-key state tracks the
   * cohort (earliest week seen so far) and a 64-bit mask of week
   * offsets already credited; each trigger appends one
   * [[RetentionCredit]] per newly-credited (key, week). The cohort
   * table itself is the consumer's `groupBy(cohort_week, week_offset)
   * .count()` — increments are append-only, so the count needs no
   * retraction and any sink can hold it.
   *
   * Scale shape: state is O(16 bytes) per key (two longs), no growing
   * collections; one keyed shuffle per trigger; offsets beyond 63
   * weeks are dropped (the mask's width — reading cohorts past week
   * 63 is a batch job anyway).
   *
   * Out-of-order contract: within a trigger, a key's weeks are
   * processed in ascending order (min first), so any within-batch
   * disorder is absorbed. Across triggers, an earlier-than-cohort
   * week re-anchors the cohort and shifts already-credited offsets to
   * match, but rows already emitted under the old cohort cannot be
   * retracted (append semantics) — feed signup-like streams where a
   * key's first event arrives first, or tolerate stale early rows.
   * With `markReanchors` on, each cross-trigger re-anchor additionally
   * emits a MARKER row (`week_offset = -1`, cohort_week = the new
   * anchor) before the shifted credits. A consumer that cannot
   * tolerate stale rows REBASES a key's superseded credits (those with
   * cohort_week later than the key's minimal marker anchor) onto that
   * anchor, preserving their absolute week:
   * (c, o) → (anchor, (c − anchor)/7d + o) — which reproduces the
   * batch [[retentionCohorts]] table exactly (asserted in
   * CorrelateSpec). The invisible-at-the-schema-level divergence
   * becomes correctable without changing the default output (real
   * credits always carry offset ≥ 0).
   *
   * Also callable on a BATCH DataFrame (Spark runs the same function
   * with fresh state), which is what the parity spec exploits.
   */
  def retentionStreaming(
      events: DataFrame,
      key: String = "user_id",
      tsCol: String = "ts",
      markReanchors: Boolean = false): org.apache.spark.sql.Dataset[RetentionCredit] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.filter(col(key).isNotNull)
      .select(col(key).cast("string").as("k"),
        date_trunc("week", col(tsCol)).as("wk"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), RetentionCredit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (k, rows, state) =>
        var (cohort, mask) = state.getOption.getOrElse((Long.MaxValue, 0L))
        val weeks = rows.map(_._2.getTime).toArray.distinct.sorted
        val out = Seq.newBuilder[RetentionCredit]
        weeks.foreach { w =>
          if (w < cohort) {
            // re-anchor: shift existing credits to offsets relative to
            // the new, earlier cohort (credits keep their absolute
            // week; ones pushed past offset 63 leave the tracked
            // window — Scala's << is mod-64, so guard the big shift)
            if (cohort != Long.MaxValue) {
              val shift = (cohort - w) / WeekMillis
              mask = if (shift >= 64) 0L else mask << shift.toInt
              if (markReanchors)
                out += RetentionCredit(k, new java.sql.Timestamp(w), -1)
            }
            cohort = w
          }
          val off = (w - cohort) / WeekMillis
          if (off < 64 && (mask & (1L << off)) == 0L) {
            mask |= (1L << off)
            out += RetentionCredit(k, new java.sql.Timestamp(cohort), off.toInt)
          }
        }
        state.update((cohort, mask))
        out.result().iterator
      }
  }

  def asOfEnrich(
      events: DataFrame,
      targetType: String,
      sourceType: String,
      key: String = "user_id"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col(key).isNotNull && col("event_type").isin(targetType, sourceType))
      .withColumn("asof_ts",
        last(when(col("event_type") === sourceType, col("ts")), ignoreNulls = true).over(w))
      .withColumn("asof_value",
        last(when(col("event_type") === sourceType, col("value")), ignoreNulls = true).over(w))
      .filter(col("event_type") === targetType)
      .select(col("event_id"), col(key), col("ts"), col("asof_ts"), col("asof_value"))
  }
}
