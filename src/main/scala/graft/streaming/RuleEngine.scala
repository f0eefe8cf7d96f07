package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.Event
import graft.rules.{OutputData, RuleSpec}

/**
 * The generic rule interpreter — the Spark-native replacement for the
 * reference's CorrelationEngine::handle() hot loop
 * (reference: src/CorrelationEngine.php:171-328). Rules are data
 * ([[RuleSpec]]); this engine is the single stateful operator that
 * interprets all of them.
 *
 * Semantics preserved from the reference:
 *  - event-time everything: matching and timeouts use `event.datetime`,
 *    never arrival time (reference: AEventProcessor.php:357-361);
 *  - batch replay fires due timeouts *before* handling each event, in
 *    event-time order (the virtual clock;
 *    reference: src/CorrelationEngine.php:191-202);
 *  - the timeout window is half-open: an event at exactly the deadline
 *    times the matcher out rather than advancing it;
 *  - multiple concurrent matchers per (rule, key): a new head event
 *    spawns a second matcher rather than being dropped (reference
 *    spawns one matcher per accepted initial event,
 *    src/CorrelationEngine.php:244-280), with the duplicate-start guard:
 *    an event consumed by a live matcher of a rule does not also spawn
 *    a new matcher of that rule (skipMatchers,
 *    src/CorrelationEngine.php:215,252-255);
 *  - bounded state: chains are trimmed to `chainLimit` and matcher
 *    counts capped (reference trimEventChain + memory valves);
 *  - same-instant events within a key are ordered by event id (the
 *    reference is arrival-order-dependent here; the SQL faces are
 *    deliberately order-free, so equivalence holds only for streams
 *    without same-key timestamp ties — true of the fixtures).
 *
 * One kernel, two routings, two faces. Every face runs the same
 * per-group kernel ([[interpret]]) over a group's rules. Keyed routing
 * ([[runBatch]], [[runStreaming]]) makes one group per (rule, key):
 * the kernel on a one-rule group, where nothing is left to suppress and
 * registration order is creation order. Aligned routing
 * ([[runBatchAligned]], [[runStreamingAligned]]) makes one group per
 * key holding every rule in declaration order. The batch face
 * repartitions by group, sorts within partitions by event time and
 * streams over consecutive runs (mapPartitions, no per-group
 * materialisation); the streaming face is the same kernel inside one
 * `flatMapGroupsWithState` with event-time timeouts driven by the
 * watermark. State per group is O(live matchers × chainLimit).
 */
object RuleEngine {

  /** One live matcher instance (reference Matcher state,
   * src/StateMachine/AEventProcessor.php:435-457). `seq` is the
   * matcher's REGISTRATION number within its group — the kernel
   * allocates it monotonically across ALL the group's rules so
   * equal-deadline timeouts can fire in registration order, the
   * reference's stable uasort semantics (src/CorrelationEngine.php:515-523:
   * the sort is stable over one queue of every rule's matchers, so
   * same-deadline matchers keep the order they were armed in, not
   * declaration order). A progressing matcher KEEPS its seq (the
   * reference mutates the same Matcher object in place — its queue
   * position doesn't change on progress). */
  case class MatcherState(
      step: Int,
      chain: Seq[Event],
      timeoutAtUs: Option[Long],
      seq: Long = 0L)

  /** Streaming state of one group: one matcher vector per rule of the
   * group, indexed by declaration order. `ruleSetId` fingerprints the
   * rule list that wrote it: positional indexing means a checkpoint
   * restarted with a CHANGED rule list would silently hand one rule
   * another rule's matchers. On mismatch the whole group's state is
   * discarded — a keyed group whose rule left the rule set resolves to
   * no rules and so mismatches too (the reference drops un-restorable
   * matchers the same way: missing rule classes alias to UndefinedRule;
   * src/CorrelationEngine.php:680-766). */
  case class GroupMatchers(perRule: Seq[Seq[MatcherState]], ruleSetId: String)

  /** A fire record: one onComplete/onTimeout/onProgress dispatch
   * (reference fire(), src/StateMachine/AEventProcessor.php:522-537). */
  case class Fired(
      rule: String,
      key: String,
      kind: String, // complete | timeout | progress
      firedAt: Timestamp,
      chainLen: Int,
      firstTs: Timestamp,
      lastTs: Timestamp,
      outputs: Seq[OutputData])

  /** Internal routing row (public: Catalyst codegen needs access).
   * `rule` is the group tag: the rule name under keyed routing,
   * [[AlignedTag]] under aligned routing, empty for a clock tick.
   * `eventTime` duplicates event.effectiveTime at the top level so the
   * streaming face can watermark it after routing. */
  case class Keyed(rule: String, key: String, eventTime: Timestamp, event: Event)

  /** Group tag of aligned routing: non-empty, so it never reads as a
   * clock tick. */
  private val AlignedTag = "*"

  /** Max concurrent matchers per key — the explicit bound replacing the
   * reference's GC/memory-pressure valves. */
  val MaxMatchersPerKey = 1000

  /** Rule sets must be unambiguous: routing emits one keyed row per
   * matching rule NAME, so duplicate names would double-feed one group
   * and interpret it under whichever spec toMap kept. */
  private def requireUniqueNames(rules: Seq[RuleSpec]): Unit =
    require(rules.map(_.name).distinct.size == rules.size,
      s"duplicate rule names: ${rules.map(_.name).diff(rules.map(_.name).distinct).distinct.mkString(", ")}")

  /** Declaration-order fingerprint for [[GroupMatchers]]. */
  private def ruleSetId(rules: Seq[RuleSpec]): String = rules.map(_.name).mkString("\u0000")

  /** Microsecond precision throughout: the fixtures carry µs timestamps
   * and Timestamp.getTime would truncate to ms. */
  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def microsToTs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  // ---------------------------------------------------------------
  // The kernel (shared by every face)
  // ---------------------------------------------------------------

  /** Interpret one group: feed its event-time-ordered `events` through
   * `rules`, then advance the clock to `untilUs` (Long.MaxValue is the
   * end-of-data flush, Long.MinValue advances nothing). Per event the
   * clock first advances to the event's time ([[fireDue]]), then the
   * event is offered to the rules in declaration order and a
   * `suppressOnMatch` rule that consumes it halts the remaining rules —
   * the reference's single-threaded loop (reference:
   * src/CorrelationEngine.php:191-202 clock advance, 230-236 suppress
   * breaks the matcher loop and skips new-matcher instantiation).
   * Timeouts of ALL rules still fire on clock advance regardless of
   * suppression. `historical` is batch replay, where rules with
   * `historicalIgnoreTimeout` destroy due matchers silently (reference
   * HISTORICAL_IGNORE_TIMEOUT, src/StateMachine/AEventProcessor.php:130-132,377-383).
   * Mutates `matchers` (one vector per rule) and returns the fires in
   * emission order. */
  private def interpret(
      rules: IndexedSeq[RuleSpec],
      key: String,
      matchers: Array[Vector[MatcherState]],
      events: Iterator[Event],
      untilUs: Long,
      historical: Boolean): Vector[Fired] = {
    // one registration counter across ALL rules of the group (see
    // MatcherState.seq), resumed past every restored matcher's seq so
    // arming order stays monotone across micro-batches
    var nextSeq = matchers.iterator.flatMap(_.iterator.map(_.seq + 1)).foldLeft(0L)(math.max)
    val alloc = () => { val s = nextSeq; nextSeq += 1; s }
    val out = Vector.newBuilder[Fired]
    events.foreach { e =>
      out ++= fireDue(rules, key, matchers, micros(e.effectiveTime), historical)
      var suppressed = false
      var i = 0
      while (i < rules.size && !suppressed) {
        val r = rules(i)
        if (r.mightAccept(e.event)) {
          val (alive, fs, handled) = offer(r, key, matchers(i), e, alloc)
          matchers(i) = alive
          out ++= fs
          suppressed = handled && r.suppressOnMatch
        }
        i += 1
      }
    }
    out ++= fireDue(rules, key, matchers, untilUs, historical)
    out.result()
  }

  /** Virtual clock: fire the group's timeouts due at or before `nowUs`
   * (the reference advances the clock to event time − 1ms then fires;
   * an event AT the deadline still cannot be consumed → <=), across ALL
   * its rules in GLOBAL deadline order. The reference keeps ONE
   * deadline-sorted queue over every running matcher regardless of
   * class (uasort by timeout, src/CorrelationEngine.php:515-523);
   * firing rule-by-rule instead would emit rule A's later deadline
   * before rule B's earlier one whenever both aged past the clock
   * between two events — a cross-rule emission-order deviation q_e6
   * pins. Mutates `matchers` in place. */
  private def fireDue(rules: IndexedSeq[RuleSpec], key: String,
      matchers: Array[Vector[MatcherState]], nowUs: Long,
      historical: Boolean): Vector[Fired] = {
    val isDue = (m: MatcherState) => m.timeoutAtUs.exists(_ <= nowUs)
    val dues = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, MatcherState)]
    var i = 0
    while (i < matchers.length) {
      if (matchers(i).exists(isDue)) {
        val (due, alive) = matchers(i).partition(isDue)
        matchers(i) = alive
        if (!(historical && rules(i).historicalIgnoreTimeout))
          due.foreach(m => dues += ((m.timeoutAtUs.get, i, m)))
      }
      i += 1
    }
    // equal deadlines fire in REGISTRATION order (the allocator seq),
    // the reference's stable single-queue uasort: a matcher armed
    // earlier fires first even if its rule is declared later; rule
    // index breaks any remaining tie
    if (dues.isEmpty) Vector.empty
    else dues.sortBy(t => (t._1, t._3.seq, t._2)).iterator.map { case (_, ri, m) =>
      fired(rules(ri), key, "timeout", microsToTs(m.timeoutAtUs.get), m.chain,
        rules(ri).onTimeout(m.chain))
    }.toVector
  }

  /** Offer the event to each live matcher of one rule in creation
   * order; spawn with the duplicate-start guard. Returns (alive, fires,
   * handled). `alloc` hands a fresh registration seq to each NEWLY
   * spawned matcher (see [[MatcherState.seq]]); progressing matchers
   * keep theirs. */
  private def offer(
      rule: RuleSpec,
      key: String,
      alive0: Vector[MatcherState],
      e: Event,
      alloc: () => Long): (Vector[MatcherState], Vector[Fired], Boolean) = {
    val eUs = micros(e.effectiveTime)
    var fires = Vector.empty[Fired]
    var alive = Vector.empty[MatcherState]
    var handled = false
    alive0.foreach { m =>
      if (rule.acceptsAt(m.step, e.event) && rule.accept(e, m.chain)) {
        handled = true
        val chain = (m.chain :+ e).takeRight(rule.chainLimit)
        val complete = !rule.continuous && m.step + 1 == rule.steps.size
        if (complete) {
          fires :+= fired(rule, key, "complete", e.effectiveTime, chain, rule.onComplete(chain))
        } else {
          val nextStep = math.min(m.step + 1, rule.steps.size - 1)
          fires :+= fired(rule, key, "progress", e.effectiveTime, chain, rule.onProgress(chain))
          alive :+= MatcherState(nextStep, chain,
            rule.timeout.map(t => eUs + t.toNanos / 1000L), m.seq)
        }
      } else alive :+= m
    }

    // duplicate-start guard: spawn a new matcher only if no live
    // matcher of this rule consumed the event
    if (!handled && rule.acceptsAt(0, e.event) && rule.accept(e, Nil)
        && alive.size < MaxMatchersPerKey) {
      handled = true
      val chain = Vector(e)
      val complete = !rule.continuous && rule.steps.size == 1
      if (complete) {
        fires :+= fired(rule, key, "complete", e.effectiveTime, chain, rule.onComplete(chain))
      } else {
        fires :+= fired(rule, key, "progress", e.effectiveTime, chain, rule.onProgress(chain))
        alive :+= MatcherState(math.min(1, rule.steps.size - 1), chain,
          rule.timeout.map(t => eUs + t.toNanos / 1000L), alloc())
      }
    }
    (alive, fires, handled)
  }

  private def fired(rule: RuleSpec, key: String, kind: String, at: Timestamp,
      chain: Seq[Event], outputs: Seq[OutputData]): Fired =
    Fired(rule.name, key, kind, at, chain.size,
      chain.headOption.map(_.effectiveTime).getOrElse(at),
      chain.lastOption.map(_.effectiveTime).getOrElse(at),
      outputs)

  // ---------------------------------------------------------------
  // Routing
  // ---------------------------------------------------------------

  /** Keyed routing: one row per rule that might accept the event, in
   * the group (rule name, rule key). */
  private def keyedRoute(rules: Seq[RuleSpec]): Event => Iterator[Keyed] =
    e => rules.iterator.filter(_.mightAccept(e.event))
      .map(r => Keyed(r.name, r.correlate(e), e.effectiveTime, e))

  private def keyedGroups(rules: Seq[RuleSpec]): Map[String, IndexedSeq[RuleSpec]] =
    rules.map(r => r.name -> IndexedSeq(r)).toMap

  /** Aligned routing: every event to the group (AlignedTag, key). */
  private def alignedRoute(key: Event => String): Event => Iterator[Keyed] =
    e => Iterator.single(Keyed(AlignedTag, key(e), e.effectiveTime, e))

  // ---------------------------------------------------------------
  // Batch face
  // ---------------------------------------------------------------

  /**
   * Batch (historical replay) face: exact reference semantics over a
   * static Dataset — the equivalent of batch mode with the virtual
   * clock (reference: src/Clocks/BatchClock.php + CorrelationEngine
   * 191-202). One shuffle keyed by (rule, key); events are sorted
   * within partitions and streamed over consecutive key runs — no
   * per-group materialisation, so a hot key never OOMs the executor.
   *
   * End-of-data flush: once a key's run ends no further event can save
   * a pending matcher, so every armed deadline is decidable and fires
   * (this matches the SQL faces, which alarm heads whose window
   * extends past the data; the streaming face instead keeps such state
   * for the next trigger). Rules with `historicalIgnoreTimeout` drop
   * their timeout emissions in this replay mode.
   */
  def runBatch(events: Dataset[Event], rules: Seq[RuleSpec],
      numPartitions: Int = 0): Dataset[Fired] = {
    requireUniqueNames(rules)
    replay(events, keyedRoute(rules), keyedGroups(rules), numPartitions)
  }

  /**
   * Aligned-key batch face with deterministic cross-rule suppress
   * ordering (F6; SURVEY §7.5.1 hard part): all rules share one
   * correlation key, are evaluated in declaration order per event, and
   * a `suppressOnMatch` rule that consumes the event halts the
   * remaining rules (see [[interpret]]). Due timeouts fire in GLOBAL
   * deadline order across rules ([[fireDue]]). Same scale shape as
   * [[runBatch]]: one shuffle on the key, sorted runs, no per-group
   * materialisation.
   */
  def runBatchAligned(events: Dataset[Event], rules: Seq[RuleSpec],
      key: Event => String): Dataset[Fired] = {
    requireUniqueNames(rules)
    replay(events, alignedRoute(key), Map(AlignedTag -> rules.toIndexedSeq), 0)
  }

  /** The batch body of both routings: one shuffle by group, sorted
   * runs, the kernel over each run with the end-of-data flush. */
  private def replay(events: Dataset[Event], route: Event => Iterator[Keyed],
      groups: Map[String, IndexedSeq[RuleSpec]], numPartitions: Int): Dataset[Fired] = {
    val spark = events.sparkSession
    import spark.implicits._
    // numPartitions: callers with KNOWN-tiny inputs (cron tick grids,
    // control streams) pass a small explicit count — the default
    // session shuffle width pays ~32 task setups + in-partition sorts
    // for a few hundred rows. Output is partition-count-invariant
    // (hash by key, per-key sorted runs), so this is purely a cost hint.
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    events.flatMap(route)
      .repartition(parts, $"rule", $"key")
      // eventTime = effectiveTime (receivedTime override applied) — the
      // engine's clock, NOT raw datetime
      .sortWithinPartitions($"rule", $"key", $"eventTime", $"event.id")
      .mapPartitions { it =>
        new Iterator[Iterator[Fired]] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[Fired] = {
            val head = buf.head
            val rules = groups(head.rule)
            val run = new Iterator[Event] {
              def hasNext: Boolean =
                buf.hasNext && buf.head.rule == head.rule && buf.head.key == head.key
              def next(): Event = buf.next().event
            }
            interpret(rules, head.key, Array.fill(rules.size)(Vector.empty[MatcherState]),
              run, Long.MaxValue, historical = true).iterator
          }
        }.flatten
      }
  }

  // ---------------------------------------------------------------
  // Streaming face
  // ---------------------------------------------------------------

  /**
   * Streaming face: the kernel inside `flatMapGroupsWithState` with
   * `EventTimeTimeout`. The watermark is applied here (on the routed
   * rows' top-level eventTime — mapping strips watermark tags, so
   * callers can't pre-apply it). Within a micro-batch, a group's events
   * are sorted by event time (micro-batch volumes per key are small);
   * across batches the state store carries matchers and the watermark
   * drives timeout firing — the microbatch-granularity analogue of the
   * reference's armed loop timer (reference:
   * src/CorrelationEngine.php:530-563).
   */
  def runStreaming(events: Dataset[Event], rules: Seq[RuleSpec],
      watermarkDelay: String = "0 seconds"): Dataset[Fired] = {
    requireUniqueNames(rules)
    live(events, keyedRoute(rules), keyedGroups(rules), watermarkDelay)
  }

  /**
   * Streaming aligned face: suppress-ordered rule evaluation
   * (see [[runBatchAligned]]) — one group per correlation key, per-rule
   * matcher vectors in state, watermark timers on the earliest deadline
   * across all rules.
   */
  def runStreamingAligned(events: Dataset[Event], rules: Seq[RuleSpec],
      key: Event => String, watermarkDelay: String = "0 seconds"): Dataset[Fired] = {
    requireUniqueNames(rules)
    live(events, alignedRoute(key), Map(AlignedTag -> rules.toIndexedSeq), watermarkDelay)
  }

  /** The streaming body of both routings: the one stateful operator. */
  private def live(events: Dataset[Event], route: Event => Iterator[Keyed],
      groups: Map[String, IndexedSeq[RuleSpec]], watermarkDelay: String): Dataset[Fired] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ids = groups.map { case (tag, rules) => tag -> ruleSetId(rules) }
    // Events routed to no group still must advance the event-time clock
    // (they carry the watermark, like the reference's virtual clock
    // advancing on every event) — route them as no-op ticks.
    events.flatMap { e =>
        val routed = route(e)
        if (routed.hasNext) routed else Iterator.single(Keyed("", "", e.effectiveTime, e))
      }
      .withWatermark("eventTime", watermarkDelay)
      // ticks have done their job once the watermark node has seen
      // them — dropping them here avoids shuffling the bulk of a
      // mostly-non-matching stream into one hot ("","") group
      .filter(_.rule.nonEmpty)
      .groupByKey(k => (k.rule, k.key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (group: (String, String), it: Iterator[Keyed], state: GroupState[GroupMatchers]) => {
          // a tag absent from `groups` is checkpointed state of a rule
          // that left the rule set: it resolves to no rules, its
          // fingerprint mismatches and its matchers are dropped
          val rules = groups.getOrElse(group._1, IndexedSeq.empty[RuleSpec])
          val id = ids.getOrElse(group._1, "")
          val matchers = state.getOption
            .filter(_.ruleSetId == id)
            .map(_.perRule.map(_.toVector).toArray)
            .getOrElse(Array.fill(rules.size)(Vector.empty[MatcherState]))
          val sorted = it.map(_.event).toVector.sortBy(e => (micros(e.effectiveTime), e.id))
          // a timed-out call has no rows: the watermark passed the
          // earliest deadline, so the clock advances to it
          val untilUs =
            if (state.hasTimedOut) state.getCurrentWatermarkMs() * 1000L // ms → µs
            else Long.MinValue
          val fires = interpret(rules, group._2, matchers, sorted.iterator, untilUs,
            historical = false)
          if (matchers.forall(_.isEmpty)) state.remove()
          else {
            state.update(GroupMatchers(matchers.toSeq, id))
            matchers.iterator.flatMap(_.flatMap(_.timeoutAtUs)).minOption
              // µs → ms, ceiling: the timer must not fire before the
              // deadline or the due-check would no-op and re-arm
              .foreach(us => state.setTimeoutTimestamp(math.floorDiv(us + 999L, 1000L)))
          }
          fires.iterator
        })
  }
}
