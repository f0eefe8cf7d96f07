package graft.ops

import org.apache.spark.sql.SparkSession

/** Small-state execution mode for iterative loops (r22, guide §1.2 /
 * §2.2): in the CC fixpoint, PageRank and BPE loops the measured wall
 * is JOB overhead, not task time — every AQE exchange materialisation
 * is its own query-stage job, and a round over a tiny state pays 3-5
 * job launches for milliseconds of compute (q_d9: 50 jobs, 1.6 s task
 * time, 2.5 s wall; q_x22: 27 jobs, 4.5 s task time on 32 cores, 2.0 s
 * wall). When a round's state is MEASURED small (row counts ride the
 * loops' existing observe metrics — no extra action), the round
 * executes with AQE off and ONE reduce partition: a single job.
 *
 * The gate is a data-size decision, not a core-count tune: one reduce
 * partition for ≤ `spark.graft.loop.smallRows` rows (default 4M ≈
 * ≤~100 MB of label/pair rows) sits inside the guide's 100 MB–1 GB
 * partition band on ANY cluster, and a 100 TB run's big rounds exceed
 * the threshold and keep the full AQE path (skew handling, runtime
 * join selection) exactly where those matter. The driver's bench runs
 * the same code at 8 and 32 cores and the gate fires identically —
 * nothing here reads the core count. */
object LoopExec {
  val SmallRowsConf = "spark.graft.loop.smallRows"
  val DefaultSmallRows = 4000000L

  def smallRows(spark: SparkSession): Long =
    spark.conf.getOption(SmallRowsConf).map(_.toLong).getOrElse(DefaultSmallRows)

  /** True when at least one state size was measured and every one is
   * known and under the threshold — callers must include EVERY table a
   * round's joins can touch (a small label table joined against a huge
   * static edge list must stay on the AQE path). No measurement at all
   * proves nothing, so it keeps the AQE path too. */
  def isSmall(spark: SparkSession, stateRows: Option[Long]*): Boolean = {
    val t = smallRows(spark)
    stateRows.nonEmpty && stateRows.forall(_.exists(_ <= t))
  }

  /** Runs `body` (which must EXECUTE its round eagerly — the conf is
   * read at query execution, and it is restored before returning)
   * under the small-state confs when `small`; plain call otherwise.
   * Session-conf mutation is visible to concurrent queries on the
   * same session for the duration of one round — these loops are
   * driver-sequential by construction (each round's action blocks). */
  def round[A](spark: SparkSession, small: Boolean)(body: => A): A =
    if (!small) body
    else {
      val conf = spark.conf
      val prevAqe = conf.getOption("spark.sql.adaptive.enabled")
      val prevParts = conf.getOption("spark.sql.shuffle.partitions")
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.shuffle.partitions", "1")
      try body
      finally {
        prevAqe.fold(conf.unset("spark.sql.adaptive.enabled"))(v =>
          conf.set("spark.sql.adaptive.enabled", v))
        prevParts.fold(conf.unset("spark.sql.shuffle.partitions"))(v =>
          conf.set("spark.sql.shuffle.partitions", v))
      }
    }
}
