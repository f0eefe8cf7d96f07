package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.rules.OutputData
import graft.streaming.{RuleEngine, Sinks}

class MaterializeSpec extends SparkSpec {
  import MaterializeSpec._

  /** Ids of the RDDs `body` leaves persisted. Id SETS, not sizes: the
   * ContextCleaner may drop earlier suites' RDDs in the background
   * while `body` runs, which would skew a before/after count. */
  private def newPersisted(body: => Any): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  test("leak: duplicateClusters keeps only its returned labels pinned") {
    val pinned = newPersisted(Dedup.duplicateClusters(chainPairs(spark)).collect())
    assert(pinned.size <= 1, s"new persisted RDDs: $pinned")
  }

  test("leak: bpeTrain returns a local frame and keeps nothing pinned") {
    val pinned = newPersisted(TextAnalysis.bpeTrain(spark, bpeDocs(spark)).collect())
    assert(pinned.isEmpty, s"new persisted RDDs: $pinned")
  }

  test("leak: hostRank keeps nodes, edges and its last rank break pinned") {
    val pinned = newPersisted(Archives.hostRank(hostGraph(spark)).collect())
    assert(pinned.size <= 3, s"new persisted RDDs: $pinned")
  }

  test("leak: kmeansCentroids releases its corpus") {
    val pinned = newPersisted(Similarity.kmeansCentroids(vectors(spark), k = 4))
    assert(pinned.isEmpty, s"new persisted RDDs: $pinned")
  }

  test("leak: routeFiredBatch releases its materialized outputs") {
    val dir = Files.createTempDirectory("leak-route").toString
    val pinned = newPersisted(Sinks.routeFiredBatch(fires(spark), dir))
    assert(pinned.isEmpty, s"new persisted RDDs: $pinned")
  }

  test("leak: appendDeadLetter releases its materialized failures") {
    val dir = Files.createTempDirectory("leak-dlq").toString
    val pinned = newPersisted(
      Sinks.appendDeadLetter(Sinks.executeActions(spark, actions(spark), failing), dir))
    assert(pinned.isEmpty, s"new persisted RDDs: $pinned")
  }

  test("leak: recoverAndRun releases the queue and the replay results") {
    val dir = Files.createTempDirectory("leak-drain").toString
    Sinks.appendDeadLetter(Sinks.executeActions(spark, actions(spark), failing), dir)
    val pinned = newPersisted(Sinks.recoverAndRun(spark, dir, failing))
    assert(pinned.isEmpty, s"new persisted RDDs: $pinned")
  }

  test("reliable breaks: release deletes their files, so routing, dead-lettering and draining leave the store as found") {
    val out = Files.createTempDirectory("ck-route").toString
    val store = Files.createTempDirectory("graft-ck")
    spark.sparkContext.setCheckpointDir(store.toString)
    try {
      val start = paths(store)
      val m = Materialize(fires(spark))
      assert(paths(store) != start, "no reliable checkpoint written")
      Materialize.release(m)
      assert(paths(store) == start)
      val counts = Sinks.routeFiredBatch(fires(spark), out)
      val n = Sinks.appendDeadLetter(Sinks.executeActions(spark, actions(spark), failing), out)
      val r = Sinks.recoverAndRun(spark, out, failing)
      assert(counts("action") == 1L && n == 1L && r == Sinks.RecoveryReport(1, 0, 1, 0))
      assert(paths(store) == start)
    } finally spark.sparkContext.setCheckpointDir(null) // local mode: clears it
  }

  private val mainRoot = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** Every Scala file under `src/main/scala`. */
  private def mainSources(): List[Path] = {
    assert(Files.isDirectory(mainRoot), s"no source tree at $mainRoot")
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("source audit: every lineage break in src/main goes through Materialize") {
    val banned = Seq("localCheckpoint(", ".checkpoint(", "setCheckpointDir")
    val files = mainSources()
    assert(files.exists(_.getFileName.toString == "Materialize.scala"))
    val hits = for {
      p <- files if p.getFileName.toString != "Materialize.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if banned.exists(line.contains)
    } yield s"${mainRoot.relativize(p)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("source audit: Sinks routes every stream through one foreachBatch") {
    val sinks = mainRoot.resolve(Paths.get("graft", "streaming", "Sinks.scala"))
    val calls = Files.readAllLines(sinks).asScala.count(_.contains(".foreachBatch"))
    assert(calls == 1, s"foreachBatch calls in Sinks.scala: $calls")
  }

  test("source audit: the engine compiles no fixture, encoder or probe code") {
    val tools = mainRoot.resolve(Paths.get("graft", "tools"))
    val list = Files.list(tools)
    val kept = try list.iterator().asScala.map(_.getFileName.toString).toList.sorted
      finally list.close()
    assert(kept == List("EntrySmoke.scala", "PlanDump.scala"), kept.mkString(", "))
    val hits = for {
      p <- mainSources() if !p.startsWith(tools)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("graft.tools")
    } yield s"${mainRoot.relativize(p)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

/** Small inputs for the operators whose loops, corpora or routed
 * batches go through [[Materialize]] — the loop and corpus inputs are
 * shared with the reliable-policy test in DedupSpec. */
object MaterializeSpec {
  /** A chain (many CC rounds) plus an isolated pair. */
  def chainPairs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    ((1L until 9L).map(i => (i, i + 1)) :+ ((20L, 21L))).toDF("doc_a", "doc_b")
  }

  def bpeDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("the cat sat on the mat", "the cat ran", "abab abab cd").toDF("text")
  }

  /** 12 hosts, each linking to three others (weights vary). */
  def hostGraph(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (for { s <- 0 until 12; d <- 1 to 3 }
      yield (s"h$s.example.org", s"h${(s + d * d) % 12}.example.org", (s % 3 + d).toLong))
      .toDF("src_host", "dst_host", "n_links")
  }

  /** 40 deterministic 8-dim vectors in four loose directions. */
  def vectors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0L until 40L).map { id =>
      val r = new scala.util.Random(id)
      (id, Array.tabulate(8)(j => (if (j == id % 4) 4f else 0f) + r.nextFloat()))
    }.toDF("vec_id", "embedding")
  }

  /** One fire with an action, a memory write and a derived event. */
  def fires(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    Seq(RuleEngine.Fired("r1", "k1", "complete", t, 2, t, t, Seq(
      OutputData.action("notify", Map("ch" -> "email")),
      OutputData.memory("orders", "k1", "done"),
      OutputData.event("paid")))).toDF()
  }

  def actions(spark: SparkSession): DataFrame =
    Sinks.outputsOf(fires(spark)).filter(col("out_kind") === "action")

  /** An action handler whose downstream is always down. */
  val failing: (String, Map[String, String]) => Unit =
    (_, _) => throw new RuntimeException("downstream down")

  /** Paths under `dir` (files and directories), relative to it. */
  def paths(dir: Path): Set[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.map(p => dir.relativize(p).toString).toSet
    finally s.close()
  }
}
