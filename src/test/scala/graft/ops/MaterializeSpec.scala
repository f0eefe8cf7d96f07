package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec

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

  test("source audit: every lineage break in src/main goes through Materialize") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"no source tree at $root")
    val banned = Seq("localCheckpoint(", ".checkpoint(", "setCheckpointDir")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.exists(_.getFileName.toString == "Materialize.scala"))
    val hits = for {
      p <- files if p.getFileName.toString != "Materialize.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if banned.exists(line.contains)
    } yield s"${root.relativize(p)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

/** Small inputs for the four operators whose loops or corpora go
 * through [[Materialize]] — shared with the reliable-policy test in
 * DedupSpec. */
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

  /** Files under `dir`, recursively. */
  def fileCount(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(p => Files.isRegularFile(p)).count()
    finally s.close()
  }
}
