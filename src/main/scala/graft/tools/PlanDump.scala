package graft.tools

import org.apache.spark.sql.SparkSession

/** Optimization-round instrumentation (guide §1): dump
 * `.explain("formatted")` for declared queries and time each one in
 * ISOLATION with the noop sink (computes every column, discards the
 * result) alongside the bench's own `.count()` action, so plan claims
 * in OPTIMIZATION_r*.md are backed by committed artifacts.
 *
 * Usage: runMain graft.tools.PlanDump <outDir> [q_name,q_name,...]
 * (no list = all queries). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
 * SPARK_GRAFT_PLAN_TRIALS (default 3), SPARK_GRAFT_PLAN_TIME=0 to
 * dump plans only.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r21")
    val names =
      if (args.length > 1) args(1).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val trials = sys.env.getOrElse("SPARK_GRAFT_PLAN_TRIALS", "3").toInt
    val doTime = sys.env.getOrElse("SPARK_GRAFT_PLAN_TIME", "1") == "1"
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // experiment knob: AQE small-shuffle coalesce floor (bytes)
    sys.env.get("SPARK_GRAFT_MINPART").foreach(v =>
      b.config("spark.sql.adaptive.coalescePartitions.minPartitionSize", v))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()

    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    // Structural profile per query (guide §1): jobs launched, stages,
    // tasks, and summed executor task time — noise-robust metrics (a
    // co-tenant can stretch wall-clock but not job/stage counts) that
    // expose per-round fixed costs in the iterative operators.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        taskTimeMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        shuffleBytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    })
    def counters(): (Int, Int, Int, Long, Long) =
      (jobs.get, stages.get, tasks.get, taskTimeMs.get, shuffleBytes.get)
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"PLANDUMP unknown query: $name")
        case Some(fn) =>
          // warm-up + plan capture (explain of the same frame the bench runs)
          isolate()
          // loop-body capture (r22, VERDICT #7): checkpoint-terminated
          // queries (CC, PageRank, BPE) return a `Scan ExistingRDD`
          // stub — the LoopProbe hook dumps each ROUND's
          // pre-materialization frame alongside, so per-iteration plan
          // claims carry committed evidence. Hook is cleared before
          // the timed trials (plan capture must never tax them) and
          // also when the query throws, so a later loop query never
          // writes its rounds under this query's name.
          graft.ops.LoopProbe.hook = Some { (label, ldf) =>
            val lw = new java.io.PrintWriter(
              new java.io.File(outDir, s"${name}_loop_$label.txt"), "UTF-8")
            try lw.println(ldf.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
            finally lw.close()
          }
          val (df, plan) =
            try {
              val df = fn(spark, sfDir)
              (df, df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode))
            } finally graft.ops.LoopProbe.hook = None
          val w = new java.io.PrintWriter(
            new java.io.File(outDir, s"$name.txt"), "UTF-8")
          try w.println(plan) finally w.close()
          if (doTime) {
            // one JIT warm-up, then isolated trials of both actions
            try { df.count(); () } catch { case _: Throwable => () }
            def t(run: () => Unit): Double = {
              val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
            }
            // structural counters around ONE isolated count run
            isolate()
            val c0 = counters()
            val tStruct = t(() => { fn(spark, sfDir).count(); () })
            val c1 = counters()
            val counts = tStruct +: (2 to trials).map { _ =>
              isolate(); t(() => { fn(spark, sfDir).count(); () })
            }
            val noops = (1 to trials).map { _ =>
              isolate()
              t(() => fn(spark, sfDir).write.format("noop")
                .mode("overwrite").save())
            }
            def fmt(ts: Seq[Double]) =
              ts.map(x => f"$x%.3f").mkString(",")
            println(f"PLANDUMP $name count_min=${counts.min}%.3f " +
              f"noop_min=${noops.min}%.3f counts=[${fmt(counts)}] noops=[${fmt(noops)}] " +
              s"jobs=${c1._1 - c0._1} stages=${c1._2 - c0._2} tasks=${c1._3 - c0._3} " +
              s"taskms=${c1._4 - c0._4} shufbytes=${c1._5 - c0._5}")
          } else println(s"PLANDUMP $name plan-only")
      }
    }
    spark.stop()
  }
}
