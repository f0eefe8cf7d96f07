package graft.ops

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** The ONE lineage break of the engine: every operator that must
 * compute a frame once (multi-consumer reuse, loop rounds, severing a
 * plan before overwriting the path it reads) goes through here.
 *
 * Policy (D-Streams' trade-off): with a checkpoint directory on the
 * context — Spark sets it from its own `spark.checkpoint.dir` conf at
 * start-up, the CLUSTER deployment — the break is a RELIABLE
 * `checkpoint()`: the rows go to the store, so an executor lost after
 * the break recovers from there instead of failing the query.
 * Without one — the single-JVM default — it is a `localCheckpoint()`:
 * executor-local blocks, fastest, and the executor-loss caveat is
 * vacuous when the only executor is the driver. Both are eager (one
 * job) and both truncate the LOGICAL plan, so a loop never re-plans
 * the rounds behind it. The engine adds no option of its own. */
object Materialize {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** [[apply]] with `metrics` aggregated on the SAME job through
   * `observe` — the break is a tracked action, so the metrics publish
   * when it finishes and the loops' convergence tests and small-round
   * gates cost no extra job. The row carries the metrics' names. */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val out = apply(df.observe(obs, metrics.head, metrics.tail: _*))
    (out, Await.result(obs.future, Duration.Inf))
  }

  /** Drops what a frame [[apply]] returned holds, once nothing reads
   * it any more (a superseded loop round, a consumed corpus, a routed
   * batch): the local break's blocks, dug out of the `LogicalRDD` plan
   * node because `Dataset.unpersist` only clears CacheManager entries,
   * and the reliable break's files, deleted through the store's Hadoop
   * filesystem (Spark's `cleanCheckpoints` cleaner is off by default). */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed
      .collectFirst { case lr: LogicalRDD => lr.rdd }
      .foreach { rdd =>
        rdd.unpersist(blocking = false)
        rdd.getCheckpointFile.map(new Path(_))
          .foreach(p => p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true))
      }
}
