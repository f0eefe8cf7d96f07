package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a named interval with the span that caused it.
 * Times are wall-clock milliseconds (Spark's listener events carry
 * wall-clock times, so every span uses the same clock). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any])

/**
 * In-memory span store for one workload run. Spans nest
 * workload → phase → trigger/query → Spark job → stage. Spark-side
 * spans (jobs, stages) and the per-query Catalyst phase times come from
 * listeners registered only when tracing is on; the benchmark's own
 * spans are always cheap to record. Everything is written out once,
 * when the run ends.
 */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Run `f` inside a span; jobs submitted from this thread carry the
   * span id (local property `perfbench.span`) so the job spans nest
   * under it. */
  def span[T](spark: SparkSession, kind: String, name: String, parent: Long,
      attrs: Map[String, Any] = Map.empty)(f: Long => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = Clock.ms()
    try f(id)
    finally {
      record(Span(id, parent, kind, name, t0, Clock.ms(), attrs))
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
  }

  /** Register the Spark-side listeners on a (new) session. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new JobListener)
    spark.listenerManager.register(new PlanListener)
  }

  private final class JobListener extends SparkListener {
    private val jobOf = mutable.Map.empty[Int, Long] // stage → job span
    private val jobs = mutable.Map.empty[Int, (Long, Double, Long, String, String)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = newId()
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(q => Option(q.getProperty(k))).getOrElse("")
      val parent = prop(Tracer.SpanProp)
      jobs(e.jobId) = (id, e.time.toDouble, if (parent.isEmpty) 0L else parent.toLong,
        prop("streaming.sql.batchId"), prop(Tracer.SinkProp))
      e.stageIds.foreach(s => jobOf(s) = id)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { case (id, t0, parent, batch, sink) =>
        val a = mutable.Map[String, Any]("job" -> e.jobId)
        if (batch.nonEmpty) a("batch") = batch.toLong
        if (sink.nonEmpty) a("sink_batch") = sink.toLong
        record(Span(id, parent, "job", s"job ${e.jobId}", t0, e.time.toDouble, a.toMap))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val parent = jobOf.remove(si.stageId).getOrElse(0L)
      val shuffleW = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
      val spill = if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled
      val runMs = if (m == null) 0L else m.executorRunTime
      val gcMs = if (m == null) 0L else m.jvmGCTime
      val t0 = si.submissionTime.getOrElse(0L).toDouble
      val t1 = si.completionTime.getOrElse(t0.toLong).toDouble
      record(Span(newId(), parent, "stage", s"stage ${si.stageId}", t0, t1,
        Map("tasks" -> si.numTasks, "task_ms" -> runMs, "gc_ms" -> gcMs,
          "shuffle_write_b" -> shuffleW, "spill_b" -> spill)))
    }
  }

  /** Catalyst phase times (analysis, optimization, planning) per
   * completed query execution, from `QueryExecution.tracker`. */
  private final class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) record(Span(newId(), 0, "plan", funcName,
        ph.values.map(_.startTimeMs).min.toDouble, ph.values.map(_.endTimeMs).max.toDouble,
        ph.map { case (k, p) => s"${k}_ms" -> (p.endTimeMs - p.startTimeMs) }.toMap))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val SinkProp = "perfbench.sink"
}

object Clock {
  /** Wall clock in milliseconds with sub-millisecond resolution. */
  def ms(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }
  def us(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
}

/** Collects streaming progress for the live workload (needed for its
 * end-to-end metrics, so it is registered whether or not tracing is on). */
final class ProgressLog extends StreamingQueryListener {
  val progress: mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    mutable.ArrayBuffer.empty
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def snapshot: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized(progress.toList)
}
