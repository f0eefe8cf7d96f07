package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts under the lowest doc_id") {
    val df = docs(
      (1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val got = Dedup.exactDedup(df).collect()
      .map(r => r.getAs[Long]("canonical_doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(got == Map(1L -> 2L, 3L -> 1L))
  }

  test("shingles: sliding distinct word n-grams; short docs collapse to one shingle") {
    import spark.implicits._
    val got = docs((1L, "a b c d"), (2L, "a b"))
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L) == Seq("a b"))
  }

  test("span dedup removes corpus-wide repeated spans keeping first occurrence") {
    // spans of 3 words; doc 2 repeats doc 1's first span, doc 3 is all
    // repeats (of doc 1's spans) → empty clean text
    val df = docs(
      (1L, "a b c d e f"),          // spans: "a b c", "d e f"
      (2L, "a b c x y z"),          // "a b c" seen → keeps only "x y z"
      (3L, "d e f a b c"))          // both seen → empty
    val got = Dedup.spanDedup(df, spanWords = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))))
      .toMap
    assert(got(1L) == ((2L, 2L, "a b c d e f")))
    assert(got(2L) == ((2L, 1L, "x y z")))
    assert(got(3L) == ((2L, 0L, "")))
    // within-doc repeat: second copy of a span inside the SAME doc drops
    val within = Dedup.spanDedup(docs((7L, "p q r p q r")), spanWords = 3)
      .collect().head
    assert(within.getAs[Long]("n_kept") == 1L &&
      within.getAs[String]("clean_text") == "p q r")
  }

  test("minhash LSH finds the planted near-duplicate and skips unrelated docs") {
    val a = (1 to 60).map(i => s"w$i").mkString(" ")
    val aNear = ((1 to 57).map(i => s"w$i") ++ Seq("q1", "q2", "q3")).mkString(" ")
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val got = Dedup.minhashLsh(docs((1L, a), (2L, aNear), (3L, other)), threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(got.toSet == Set((1L, 2L)))
  }

  test("minhash LSH recall vs exact ngram jaccard on the fixture corpus") {
    val documents = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.ngramJaccard(documents, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(documents, 3, 12, 4, 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // verification step guarantees precision; banding with b=12,r=4 at
    // s>=0.5 gives per-pair recall ~0.83 minimum, ~1.0 at s>=0.7 —
    // assert we catch at least 80% here and every pair we return is real
    assert(lsh.subsetOf(exact))
    assert(exact.nonEmpty && lsh.size >= (exact.size * 0.8).toInt)
  }

  test("high-recall banding (20 bands of 2) recovers ~all exact jaccard pairs") {
    val documents = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.ngramJaccard(documents, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exported q_d3 face: banding tuned for recall (threshold
    // s* ≈ (1/20)^(1/2) ≈ 0.22, so P(candidate | j=0.5) ≈ 0.997)
    val banded = Dedup.minhashLsh(documents, 3, 20, 2, 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(banded.subsetOf(exact))
    assert(exact.nonEmpty && banded.size >= (exact.size * 0.95).toInt)
  }

  test("incremental LSH equals the full finder's cross-partition pairs (batch vs index)") {
    import org.apache.spark.sql.functions.col
    val documents = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val newBatch = documents.filter(col("doc_id") % 2 === 1)
    val index = documents.filter(col("doc_id") % 2 === 0)
    val incremental = Dedup.minhashLshIncremental(newBatch, index)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // the full finder over the whole corpus, restricted to pairs that
    // straddle the split (re-oriented new→index), must agree exactly:
    // a document's signature doesn't depend on which side it is on
    val full = Dedup.minhashLsh(documents, 3, 20, 2, 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .collect { case (a, b) if (a % 2) != (b % 2) =>
        if (a % 2 == 1) (a, b) else (b, a) }
      .toSet
    assert(incremental == full)
    assert(incremental.nonEmpty) // the fixture plants cross-split near-dups

    // the per-ingest hot path — a PERSISTED signature table read back
    // from storage — must agree with the inline form
    val sigDir = java.nio.file.Files.createTempDirectory("sigtab").toString + "/sig"
    Dedup.signatureTable(index).write.parquet(sigDir)
    val viaStored = Dedup.minhashLshIncrementalSig(newBatch, spark.read.parquet(sigDir))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(viaStored == incremental)
  }

  test("streaming exact dedup drops re-delivered content within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)]
    val df = stream.toDF().toDF("ts", "text")
    val query = Dedup.streamingExactDedup(df)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      stream.addData((t, "doc one"), (t, "doc one"), (t, "doc two")) // dup in-batch
      query.processAllAvailable()
      // re-delivery across batches, including with a DIFFERENT event
      // timestamp (content-only dedup within the watermark horizon)
      val t2 = java.sql.Timestamp.valueOf("2024-01-01 10:00:03")
      stream.addData((t, "doc one"), (t2, "doc one"))
      query.processAllAvailable()
    } finally query.stop()
    val texts = spark.table("dedup_out").collect().map(_.getAs[String]("text"))
    assert(texts.sorted.toSeq == Seq("doc one", "doc two"))
  }

  test("duplicate clusters: empty pair set yields an empty cluster table (clean corpus)") {
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(noPairs)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("doc_id", "cluster"))
    // and the apply stage passes the whole corpus through untouched
    val clean = docs((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
    assert(Dedup.applyNearDedup(clean, noPairs).count() == clean.count())
  }

  test("duplicate clusters: chained pairs collapse to one canonical label") {
    import spark.implicits._
    // a~b, b~c (chain) plus isolated pair d~e
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("reliable-checkpoint policy and forced-AQE path reproduce the default result") {
    import spark.implicits._
    import MaterializeSpec._
    // a long chain (many rounds) + an isolated pair
    val df = chainPairs(spark)
    val expect = Dedup.duplicateClusters(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(expect.values.toSet == Set(1L, 20L))
    // 1. a checkpoint directory on the context (what Spark's own
    // spark.checkpoint.dir sets on a cluster) turns every Materialize
    // break into a reliable checkpoint: each loop/corpus operator must
    // give its default-path result and write rows to the store. Its
    // released breaks' files are deleted again, so the writes show as
    // jobs: Spark names a reliable break's job "checkpoint at …" and a
    // local one "localCheckpoint at …"
    val runs = Seq[(String, () => Any)](
      "duplicateClusters" -> (() => Dedup.duplicateClusters(df).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap),
      "hostRank" -> (() => Archives.hostRank(hostGraph(spark))
        .as[(String, Long)].collect().toMap),
      "bpeTrain" -> (() => TextAnalysis.bpeTrain(spark, bpeDocs(spark))
        .as[(Int, String, String, Long)].collect().toSeq),
      "kmeansCentroids" -> (() => Similarity.kmeansCentroids(vectors(spark), k = 4)))
    val default = runs.map { case (name, run) => name -> run() }.toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ck")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try runs.foreach { case (name, run) =>
      var got: Any = null
      val jobs = jobsOf { got = run() }
      assert(got == default(name), name)
      assert(jobs.exists(_.startsWith("checkpoint at ")), s"$name wrote no checkpoint files")
    } finally spark.sparkContext.setCheckpointDir(null) // local mode: clears it
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    // 2. threshold 0 disables the small-round mode → the full AQE
    // path (the pre-r22 execution) must agree row for row
    spark.conf.set(graft.ops.LoopExec.SmallRowsConf, "0")
    try {
      val got = Dedup.duplicateClusters(df).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
      assert(got == expect)
    } finally spark.conf.unset(graft.ops.LoopExec.SmallRowsConf)
  }

  test("apply near-dedup keeps unclustered docs plus one canonical per cluster") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base),                     // cluster {1,2}: near-identical
      (2L, base + " iota"),
      (3L, "totally different words with no shared trigrams at all here"),
      (4L, "another unrelated document about entirely other things")
    ).toDF("doc_id", "text")
    val kept = Dedup.applyNearDedup(docs).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L)) // 2 deduped to canonical 1
  }

  test("apply near-dedup accepts an LSH pair finder and agrees with the exact form") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base), (2L, base + " iota"),
      (3L, "totally different words with no shared trigrams at all here")
    ).toDF("doc_id", "text")
    val exact = Dedup.applyNearDedup(docs).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    val banded = Dedup.applyNearDedup(docs, Dedup.minhashLsh(docs, 3, 20, 2, 0.5))
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(exact == banded)
  }

  test("simhash aggregate: a NULL hash votes -1 on every bit (oracle semantics)") {
    import spark.implicits._
    // one +1 vote per bit from hv=all-ones, one NULL: sums are 0 per
    // bit → no bit set; skipping NULLs would leave +1 sums → all set
    val df = Seq(Option((1L << 60) - 1), None).toDF("hv")
      .withColumn("doc_id", org.apache.spark.sql.functions.lit(1L))
    val got = df.groupBy("doc_id")
      .agg(graft.functions.Aggs.simhash(org.apache.spark.sql.functions.col("hv"),
        Dedup.SimhashBits).as("simhash"))
      .collect().head.getAs[Long]("simhash")
    assert(got == 0L)
  }

  test("duplicate clusters: converges on a deep chain (diameter >> old iteration cap)") {
    import spark.implicits._
    // path graph 1-2-3-...-40 with min id at the FAR end: worst case for
    // one-hop propagation (needs 39 hops); pointer jumping + fixpoint
    // must still produce a single cluster labeled 1
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(got.size == 40 && got.values.forall(_ == 1L))
  }

  test("simhash banded pairs find near-identical docs, skip unrelated, verify hamming") {
    val a = (1 to 80).map(i => s"w$i").mkString(" ")
    val aNear = ((1 to 79).map(i => s"w$i") ++ Seq("q1")).mkString(" ")
    val other = (200 to 280).map(i => s"v$i").mkString(" ")
    val got = Dedup.simhashPairs(docs((1L, a), (2L, aNear), (3L, other)))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming")))
    assert(got.map(t => (t._1, t._2)).toSet == Set((1L, 2L)))
    assert(got.forall(_._3 <= 3))
  }

  test("simhash: near-identical docs have small hamming distance, unrelated large") {
    val a = (1 to 80).map(i => s"w$i").mkString(" ")
    val aNear = ((1 to 76).map(i => s"w$i") ++ Seq("q1", "q2", "q3", "q4")).mkString(" ")
    val other = (200 to 280).map(i => s"v$i").mkString(" ")
    val hs = Dedup.simhash(docs((1L, a), (2L, aNear), (3L, other)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(hamming(hs(1L), hs(2L)) < 12)
    assert(hamming(hs(1L), hs(3L)) > 15)
  }
}
