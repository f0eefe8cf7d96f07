package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One generated event: its sequence number within the stream, type and
 * correlation key. The event id is the sequence number. */
final case class GenEvent(seq: Long, eventType: String, key: Long)

/**
 * The seeded event generator shared by the `live` and `replay`
 * workloads. A stream is a pure function of (seed, stream number): the
 * same pair always yields the same event sequence, whatever clock the
 * caller stamps the events with.
 *
 * Event mix per fresh slot: 25 % `order:placed` (80 % of them get an
 * `order:paid` on the same key 1..[[MaxPaidLag]] slots later), 35 %
 * `page:view`, 5 % `app:error`, the rest `page:click` (matches no rule,
 * only advances the event-time clock). Keys: 20 % of fresh events go to
 * the hot key 0, the rest spread uniformly over keys 1..99 999.
 */
final class Gen(seed: Long, stream: Long) {
  import Gen._

  private val rnd = new SplittableRandom(mix(seed) ^ mix(stream + 0x9E3779B97F4A7C15L))
  // follow-ups ordered by due slot, then by the order they were armed
  private val pending = mutable.PriorityQueue.empty[(Long, Long, Long)](
    Ordering.by[(Long, Long, Long), (Long, Long)](p => (p._1, p._2)).reverse)
  private var armed = 0L
  private var n = 0L

  def position: Long = n

  def next(): GenEvent = {
    val slot = n
    n += 1
    if (pending.nonEmpty && pending.head._1 <= slot) GenEvent(slot, Paid, pending.dequeue()._3)
    else {
      val key = if (rnd.nextDouble() < HotShare) HotKey else 1L + rnd.nextInt(Keys - 1)
      val u = rnd.nextDouble()
      val t =
        if (u < 0.25) {
          if (rnd.nextDouble() < 0.8) {
            pending.enqueue((slot + 1 + rnd.nextInt(MaxPaidLag), armed, key))
            armed += 1
          }
          Placed
        } else if (u < 0.60) View
        else if (u < 0.65) Error
        else Click
      GenEvent(slot, t, key)
    }
  }
}

object Gen {
  val Keys = 100000
  val HotKey = 0L
  val HotShare = 0.20
  val MaxPaidLag = 2000

  val Placed = "order:placed"
  val Paid = "order:paid"
  val View = "page:view"
  val Error = "app:error"
  val Click = "page:click"

  /** SplitMix64 finaliser: decorrelates adjacent seeds. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Self-test: equal seeds give equal streams, different seeds differ,
   * and the mix is near its documented shares. Returns the failures. */
  def selfTest(): Seq[String] = {
    def take(seed: Long, stream: Long, k: Int) = {
      val g = new Gen(seed, stream)
      Vector.fill(k)(g.next())
    }
    val a = take(7, 0, 50000)
    val fails = mutable.ArrayBuffer.empty[String]
    if (a != take(7, 0, 50000)) fails += "gen: same seed gave different streams"
    if (a == take(8, 0, 50000)) fails += "gen: different seeds gave the same stream"
    if (a == take(7, 1, 50000)) fails += "gen: different streams gave the same events"
    val hot = a.count(_.key == HotKey).toDouble / a.size
    if (math.abs(hot - 0.2) > 0.02) fails += f"gen: hot-key share $hot%.3f, expected about 0.20"
    val paid = a.count(_.eventType == Paid).toDouble / a.count(_.eventType == Placed)
    if (math.abs(paid - 0.8) > 0.03) fails += f"gen: paid/placed $paid%.3f, expected about 0.80"
    fails.toSeq
  }
}
