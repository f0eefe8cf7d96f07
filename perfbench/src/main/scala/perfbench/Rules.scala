package perfbench

import java.time.Duration

import graft.model.Event
import graft.rules.{OutputData, RuleSpec}

/**
 * The rule set both streaming and replay workloads run:
 *  - `payment`: the README's flagship `sequenceWithTimeout`
 *    order:placed → order:paid within [[PaymentTimeout]]; a complete
 *    writes an action and a memory row, a timeout an action and a
 *    derived event;
 *  - `session`: a `sessionGap` debounce over page:view; the gap timeout
 *    writes a memory row with the session's (chain-capped) size;
 *  - `errors`: a `matchSingle` app:error → action plus an on-demand
 *    source.
 * Every fire's outputs carry the first and last chain event ids, so a
 * fire can be matched to the events that caused it.
 */
object Rules {
  val PaymentTimeout: Duration = Duration.ofSeconds(2)
  val SessionGap: Duration = Duration.ofSeconds(1)
  /** RuleSpec's default chain bound: a session fire reports at most this many events. */
  val ChainLimit = 100

  private def key(e: Event): String = e.payload.getOrElse("key", "")
  private def ids(chain: Seq[Event]): Map[String, String] =
    Map("first" -> chain.head.id.getOrElse(""), "last" -> chain.last.id.getOrElse(""))

  val all: Seq[RuleSpec] = Seq(
    RuleSpec.sequenceWithTimeout("payment", Seq(Set(Gen.Placed), Set(Gen.Paid)),
      PaymentTimeout, key,
      onComplete = c => Seq(OutputData.action("ship", ids(c)),
        OutputData.memory("orders", key(c.head), "paid")),
      onTimeout = c => Seq(OutputData.action("remind", ids(c)),
        OutputData.event("order:overdue", ids(c)))),
    RuleSpec.sessionGap("session", Set(Gen.View), SessionGap, key,
      onGap = c => Seq(OutputData.memory("sessions", key(c.head), c.size.toString))),
    RuleSpec.matchSingle("errors", Set(Gen.Error),
      onMatch = c => Seq(OutputData.action("page", ids(c)),
        OutputData.source("collect_logs", ids(c)))))
}
