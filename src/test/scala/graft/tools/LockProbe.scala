package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Cross-PROCESS soak for the advisory index writer lock
 * ([[graft.ops.Ingest.withIndexLock]]). The lock's threat model is
 * cross-JVM — a streaming trigger, a maintenance compaction job and
 * index readers are separate Spark applications sharing one index
 * directory — but the in-suite soak (IngestSpec) contends from
 * threads of ONE JVM, where the process-wide FileSystem object can
 * mask races a second process would hit. This probe forks real child
 * JVMs and has them fight over one lock.
 *
 * Race detector: each contender, inside the critical section, does a
 * deliberately non-atomic read-sleep-increment of a shared counter
 * file. Any mutual-exclusion violation loses an update, so the final
 * counter equals contenders × iterations IFF the lock held every
 * single time. Liveness is covered too: a contender that starves or
 * self-orphans (the round-10 bug shape) times the probe out instead
 * of passing.
 *
 * Usage:
 *   Test/runMain graft.tools.LockProbe [contenders] [iterations] [holdMs]
 *     — parent mode (defaults 2 × 10 × 50ms): forks children against
 *       the engine classes, the test classes and the Spark jars,
 *       validates the counter, prints "LOCKPROBE PASS ..." and exits
 *       0, or throws.
 *   graft.tools.LockProbe contender <dir> <iters> <holdMs>
 *     — child mode (forked by the parent).
 */
object LockProbe {

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("contender"))
      contender(args(1), args(2).toInt, args(3).toLong)
    else
      parent(
        args.lift(0).map(_.toInt).getOrElse(2),
        args.lift(1).map(_.toInt).getOrElse(10),
        args.lift(2).map(_.toLong).getOrElse(50L))

  private def counterFile(dir: String) = new java.io.File(dir, "counter")

  private def readCounter(dir: String): Int = {
    val f = counterFile(dir)
    if (!f.exists) 0
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toInt
  }

  private def contender(dir: String, iters: Int, holdMs: Long): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      (1 to iters).foreach { _ =>
        graft.ops.Ingest.withIndexLock(spark, dir) {
          // non-atomic read-sleep-write: two holders at once WILL lose
          // an update; the parent's final count catches it
          val n = readCounter(dir)
          Thread.sleep(holdMs)
          java.nio.file.Files.write(counterFile(dir).toPath,
            (n + 1).toString.getBytes("UTF-8"))
        }
        // small unlocked gap so contenders actually interleave
        Thread.sleep(5)
      }
      println("CONTENDER_DONE")
    } finally spark.stop()
  }

  private def parent(contenders: Int, iters: Int, holdMs: Long): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("lockprobe").toString
    // child classpath: this JVM's own. sbt forks the probe with the
    // engine classes, the test classes and the Spark jars on it; a
    // hard-coded target/ layout misses the test classes the probe
    // itself lives in.
    val cp = sys.props("java.class.path")
    val javaBin = new java.io.File(new java.io.File(
      sys.props("java.home"), "bin"), "java").getAbsolutePath
    val t0 = System.nanoTime()
    val procs = (1 to contenders).map { i =>
      new ProcessBuilder(javaBin,
        "--add-exports=java.base/sun.nio.ch=ALL-UNNAMED",
        "-Xmx2g", "-cp", cp, "graft.tools.LockProbe",
        "contender", dir, iters.toString, holdMs.toString)
        .redirectErrorStream(true)
        .redirectOutput(new java.io.File(dir, s"contender_$i.log"))
        .start()
    }
    val deadlineMs = 300000L // liveness bound: a starved lock hangs here
    procs.zipWithIndex.foreach { case (p, i) =>
      if (!p.waitFor(deadlineMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        procs.foreach(_.destroyForcibly())
        sys.error(s"LOCKPROBE FAIL: contender ${i + 1} still running after " +
          s"${deadlineMs}ms — lock starvation/self-orphan " +
          s"(logs under $dir)")
      }
      if (p.exitValue() != 0)
        sys.error(s"LOCKPROBE FAIL: contender ${i + 1} exited ${p.exitValue()} " +
          s"(log: $dir/contender_${i + 1}.log)")
    }
    val expected = contenders * iters
    val got = readCounter(dir)
    if (got != expected)
      sys.error(s"LOCKPROBE FAIL: counter $got != $expected — " +
        s"mutual exclusion violated (logs under $dir)")
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"LOCKPROBE PASS: $contenders%d JVMs x $iters%d iterations, " +
      f"counter=$got%d, $dt%.1f s")
  }
}
