package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Correlate, Metrics}

/**
 * Scale probe (not part of the driver contract): generates a synthetic
 * event stream N× the sf0.1 fixture — including a deliberately hot key
 * holding ~20% of all events — and times the correlation core on it.
 * Validates that the plans built for the fixtures hold when the data
 * grows and skews: the interpreter streams hot-key runs instead of
 * collecting them; aggregations partial-combine; the anti-join stays
 * one shuffle.
 *
 * Usage: Test/runMain graft.tools.ScaleProbe [rows] (default 10M)
 */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(10000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // synthetic: seeded, ~20% of events on user 0 (hot key), the rest
    // spread over 100k keys; 5 event types; one month of event time
    val events = spark.range(rows)
      .select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + (rand(1) * 2592000L * 1000000L).cast("long")).as("ts"),
        when(rand(2) < 0.2, 0L).otherwise((rand(3) * 100000L).cast("long")).as("user_id"),
        element_at(
          array(lit("click"), lit("view"), lit("signup"), lit("purchase"), lit("error")),
          (rand(4) * 5).cast("int") + 1).as("event_type"),
        round(rand(5) * 200, 2).as("value"),
        lit("""{"k": 1}""").as("props"))
      .cache()
    events.count() // materialise outside the timings

    def timedAs(unit: String, denom: Long)(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $name%-24s $dt%8.2f s  ($n%,d rows, ${denom / dt}%,.0f $unit%s/s)")
    }
    def timed(name: String)(body: => Long): Unit = timedAs("events", rows)(name)(body)

    timed("interpreter_j2") {
      val typed = events.select(
        col("event_type").as("event"), col("event_id").cast("string").as("id"),
        col("ts").as("datetime"), lit(null).cast("timestamp").as("receivedTime"),
        map(lit("key"), col("user_id").cast("string")).as("payload"))
        .as[graft.model.Event]
      graft.streaming.RuleEngine.runBatch(typed, Seq(
        graft.rules.RuleSpec.sequenceWithTimeout(
          "probe", Seq(Set("signup"), Set("purchase")),
          java.time.Duration.ofHours(1), _.payload("key"),
          onComplete = _ => Nil, onTimeout = _ => Nil))).count()
    }
    timed("anti_join_j2")(Correlate.sequenceTimeout(events, "signup", "purchase", "1 HOUR").count())
    timed("sessions_j5")(Correlate.gapSessions(events, 1800L).count())
    timed("suppress_f6")(Correlate.suppressDuplicates(events).count())
    timed("eps_a1")(Metrics.epsCounter(events, "minute").count())
    timed("stats_a3")(Metrics.statistics(events).count())
    timed("funnel_j11")(
      Correlate.funnel(events, Seq("signup", "view", "purchase")).count())
    timed("retention_j12")(Correlate.retentionCohorts(events).count())
    // the streaming face's stateful function in batch mode: per-key
    // state is two longs (cohort + credit mask), so hot keys stream
    // through the group iterator instead of materialising
    timed("retention_stream")(Correlate.retentionStreaming(events).count())
    events.unpersist()

    // ---- pipeline ops at 200× the documents fixture ----------------
    val nDocs = 100000L
    // 60-word docs over a 50k-word vocabulary; 1% of docs get a planted
    // near-duplicate (first 57 words shared)
    val base = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(60)),
        i => concat(lit("w"), pmod(xxhash64(col("id") * 100 + i), lit(50000L))))).as("text"))
    val dups = spark.range(nDocs / 100).select(
      (col("id") + nDocs).as("doc_id"),
      concat_ws(" ",
        concat_ws(" ", transform(sequence(lit(1), lit(57)),
          i => concat(lit("w"), pmod(xxhash64(col("id") * 100 + i), lit(50000L))))),
        lit("x1 x2 x3")).as("text"))
    val docs = base.union(dups).cache()
    docs.count()
    def timedDocs(name: String)(body: => Long): Unit =
      timedAs("docs", nDocs + nDocs / 100)(name)(body)
    timedDocs("minhash_lsh_d2")(graft.ops.Dedup.minhashLsh(docs, threshold = 0.5).count())
    timedDocs("minhash_lsh_fast")(graft.ops.Dedup.minhashLsh(docs, threshold = 0.5,
      portableHash = false).count())
    timedDocs("exact_dedup_d1")(graft.ops.Dedup.exactDedup(docs).count())
    timedDocs("simhash_d4")(graft.ops.Dedup.simhash(docs).count())
    timedDocs("langid_x1")(graft.ops.TextAnalysis.languageId(
      docs.withColumn("lang", lit("en"))).count())
    timedDocs("entropy_x13")(graft.ops.TextAnalysis.tokenEntropy(docs).count())
    // the gate keeps everything here (synthetic words carry no real
    // language/quality signal) — the probe times the full scoring path,
    // two map-side column pipelines + the dedup shuffle
    timedDocs("ingest_gate_x16")(graft.ops.Ingest.runBatch(
      docs, minQuality = 0.0, langs = graft.ops.TextAnalysis.langMarkers.map(_._1)).count())
    timedDocs("pack_seqs_p8")(graft.ops.Sampling.packSequences(
      docs.withColumn("source", pmod(col("doc_id"), lit(20L)).cast("string"))).count())
    // single-source skew ceiling: the ENTIRE corpus in one source
    // forces the per-source running-sum window through ONE partition —
    // the documented serialization point of the packing contract
    // (ops/Sampling.scala packSequences: compose the key to
    // (source, day) when a source outgrows this). 10M tiny docs keep
    // the probe about the window machinery, not text synthesis.
    val oneSrc = spark.range(rows).select(col("id").as("doc_id"),
      lit("s0").as("source"),
      lit((1 to 8).map("w" + _).mkString(" ")).as("text"))
    timedAs("docs", rows)("pack_one_source")(
      graft.ops.Sampling.packSequences(oneSrc).count())
    // ---- q_p10 leakage-safe cluster split at `rows` docs -----------
    // skewed cluster-size distribution: one giant 100k-member star
    // cluster (the hub shape a banded finder emits), one 1k-deep
    // chain (the pointer-jumping CC's O(log diameter) stress), and
    // 100k two-doc clusters — ~98% of the corpus stays singleton, the
    // typical shape. Claim under test: the CC converges in log
    // rounds over id-only joins and the label join broadcasts the
    // small clustered subset, so the leakage-safe split's cost stays
    // a small multiple of the plain hash split at any corpus size.
    val splitDocs = spark.range(rows).select(col("id").as("doc_id"))
    val star = spark.range(100000L)
      .select(lit(0L).as("doc_a"), (col("id") + 1).as("doc_b"))
    val chain = spark.range(1000L)
      .select((col("id") + 200000L).as("doc_a"), (col("id") + 200001L).as("doc_b"))
    val smalls = spark.range(100000L)
      .select((col("id") * 2 + 1000000L).as("doc_a"), (col("id") * 2 + 1000001L).as("doc_b"))
    timedAs("docs", rows)("cluster_split_p10")(
      graft.ops.Sampling.clusterSplit(splitDocs, star.union(chain).union(smalls)).count())
    // the exported q_d8 path: banded MinHash pair finder (20×2) +
    // connected components + corpus filter — the clean-corpus pipeline
    // end to end at 101k docs
    timedDocs("dedup_apply_d8")(graft.ops.Dedup.applyNearDedup(docs,
      graft.ops.Dedup.minhashLsh(docs, 3, bands = 20, rowsPerBand = 2, 0.5)).count())
    // the q_d10 per-ingest path: a 1%-sized new batch against the
    // 100k-doc index's PRECOMPUTED signature table (only the batch is
    // shingled per run — compare with minhash_lsh_d2's full self-join)
    val idxSig = graft.ops.Dedup.signatureTable(base).cache()
    idxSig.count()
    timedAs("docs", nDocs / 100)("incremental_d10")(
      graft.ops.Dedup.minhashLshIncrementalSig(dups, idxSig).count())
    idxSig.unpersist()
    docs.unpersist()

    // ---- streaming near-dedup: per-trigger cost vs index growth ----
    // ten 10k-doc triggers into one growing bucketed index (10k → 100k
    // docs indexed). The claim under test: per-trigger time stays
    // roughly FLAT as the index grows, because the probe prunes to the
    // batch's own band hashes instead of scanning the whole band table.
    // 1% of each batch near-dups the PREVIOUS batch (shares 57 of 60
    // words), exercising the index-hit path every trigger.
    {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val ndBase = java.nio.file.Files.createTempDirectory("scale_nd").toString
      val perBatch = 10000L
      def batchDocs(b: Long): DataFrame = {
        val novel = spark.range(perBatch * 99 / 100).select(
          (col("id") + b * perBatch).as("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(60)),
            i => concat(lit("n"), pmod(xxhash64((col("id") + b * perBatch) * 100 + i),
              lit(10000000L))))).as("text"))
        val nearPrev = spark.range(perBatch / 100).select(
          (col("id") + b * perBatch + perBatch * 99 / 100).as("doc_id"),
          concat_ws(" ",
            concat_ws(" ", transform(sequence(lit(1), lit(57)),
              i => concat(lit("n"), pmod(xxhash64((col("id") + (b - 1).max(0L) * perBatch) * 100 + i),
                lit(10000000L))))),
            lit("y1 y2 y3")).as("text"))
        novel.union(nearPrev)
      }
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val query = graft.ops.Ingest.runStreamingNearDedup(stream.toDF().toDF("doc_id", "text"),
        s"$ndBase/index", s"$ndBase/out", s"$ndBase/ck", indexBuckets = 64)
      try {
        (0L until 10L).foreach { b =>
          val rows = batchDocs(b).collect().map(r => (r.getLong(0), r.getString(1)))
          stream.addData(rows.toSeq)
          val t0 = System.nanoTime()
          query.processAllAvailable()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"[scale] near_dedup_trigger_$b%-7s $dt%8.2f s  (index ~${b * perBatch}%,d docs)")
        }
      } finally query.stop()
      val admitted = spark.read.parquet(s"$ndBase/out").count()
      println(f"[scale] near_dedup_admitted         ($admitted%,d of ${10 * perBatch}%,d docs)")
      // compaction folds ten per-trigger partitions (x 64 buckets x 2
      // halves of small files) into one consolidated partition per half
      def indexFiles(): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(s"$ndBase/index"))
      }
      val filesBefore = indexFiles()
      val t0 = System.nanoTime()
      graft.ops.Ingest.compactIndexFromCheckpoint(
        spark, s"$ndBase/index", s"$ndBase/ck", indexBuckets = 64)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] nd_compact               $dt%8.2f s  (files $filesBefore -> ${indexFiles()})")
      // the OUTPUT corpus accumulates one write_id dir per trigger the
      // same way the index halves did — fold it too, and prove the
      // admitted row set is byte-identical either side of the fold
      def outDirs(): Int = new java.io.File(s"$ndBase/out").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("write_id="))
      val outBefore = outDirs()
      val t1 = System.nanoTime()
      graft.ops.Ingest.compactOutputFromCheckpoint(spark, s"$ndBase/out", s"$ndBase/ck")
      val dt1 = (System.nanoTime() - t1) / 1e9
      val admittedAfter = spark.read.parquet(s"$ndBase/out").count()
      require(admittedAfter == admitted,
        s"output compaction changed the corpus: $admitted -> $admittedAfter")
      println(f"[scale] out_compact              $dt1%8.2f s  (dirs $outBefore -> ${outDirs()}, $admittedAfter%,d rows kept)")
    }

    // ---- ANN at 50× the embeddings fixture -------------------------
    val nVecs = 100000L
    val vecs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)),
        i => (pmod(xxhash64(col("id") * 64 + i), lit(2000L)).cast("double") - 1000.0) / 1000.0)
        .as("embedding")).cache()
    vecs.count()
    def timedVecs(name: String)(body: => Long): Unit = timedAs("vecs", nVecs)(name)(body)
    timedVecs("ann_lsh_s2")(graft.ops.Similarity.lshTopK(vecs, nQueries = 20, k = 10, nPlanes = 8).count())
    timedVecs("ann_ivf_s3")(graft.ops.Similarity.ivfTopK(vecs, nQueries = 20, k = 10,
      nLists = 64, nProbe = 8, trainFraction = 0.1).count())
    timedVecs("knn_label_s6")(graft.ops.Similarity.knnClassify(
      vecs.withColumn("label", pmod(col("vec_id"), lit(10)).cast("int"))).count())
    // k-means training + trained-centroid IVF at 100k vectors: per
    // iteration the corpus is scanned once map-side and the update
    // aggregates k·dim scalars, so wall time must stay linear in
    // corpus size regardless of k's assignment fan-out
    timedVecs("kmeans_s11")(graft.ops.Similarity.kmeansAssign(
      vecs, k = 16, iters = 2).count())
    timedVecs("ivf_trained_s12")(graft.ops.Similarity.ivfTrainedTopK(
      vecs, nQueries = 20, k = 10, nLists = 16, iters = 2, nProbe = 4).count())
    // persisted IVF: the build is the one corpus-wide pass; the query
    // reads nProbe/nLists of the stored index via partition pruning
    val ivfDir = java.nio.file.Files.createTempDirectory("scale_ivf").toString + "/index"
    timedVecs("ivf_index_build") {
      graft.ops.Similarity.writeIvfIndex(vecs, ivfDir)
      spark.read.parquet(ivfDir).count()
    }
    timedVecs("ivf_index_query")(graft.ops.Similarity.ivfIndexTopK(
      spark.read.parquet(ivfDir), vecs.filter(col("vec_id") < 20)).count())

    // streaming face: three 20-query triggers against the same 100k-vec
    // index — per-trigger cost is centroid ranking over 20 queries + a
    // pruned read of ≤ nProbe/nLists of the index, so it must stay flat
    {
      implicit val sqlCtx = spark.sqlContext
      val qfix = vecs.filter(col("vec_id") < 60)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](1).map(_.toFloat)))
      val sroot = java.nio.file.Files.createTempDirectory("scale_ivfs").toString
      val qstream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
      val squery = graft.ops.Similarity.ivfStreamingTopK(
        qstream.toDF().toDF("vec_id", "embedding"), ivfDir, s"$sroot/out", s"$sroot/ck")
      try {
        (0 until 3).foreach { b =>
          qstream.addData(qfix.slice(b * 20, (b + 1) * 20).toSeq)
          val t0 = System.nanoTime()
          squery.processAllAvailable()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"[scale] ivf_stream_trigger_$b%-5s $dt%8.2f s  (20 queries)")
        }
      } finally squery.stop()
    }
    vecs.unpersist()

    // ---- media decode throughput (partition-local, blobs never
    // shuffle): 50k rows cycling real containers — PCM WAV, animated
    // GIF (per-frame pixel decode), mu-law WAV (JDK decompression),
    // and junk (byte-hash fallback) ----------------------------------
    {
      import spark.implicits._
      val nMedia = 50000L
      val templates = Seq(
        AvFixture.wavStep(2, 8000, 16, 4000),
        AvFixture.animatedGif(64, 64, 2),
        AvFixture.ulawWavStep(1, 8000, 8000),
        AvFixture.adpcmWavStep(2, 8000, 5200),
        AvFixture.aiffStep(2, 8000, 4000),
        AvFixture.oggOpus(2, 48000, 1000),
        AvFixture.webm(1280, 720, 90000, audioCh = 2, audioRate = 48000),
        AvFixture.junk(3))
      val tb = spark.sparkContext.broadcast(templates)
      val media = spark.range(nMedia)
        .map(id => (id, "application/octet-stream", tb.value((id % tb.value.size).toInt)))
        .toDF("media_id", "mime_type", "media").cache()
      media.count()
      timedAs("blobs", nMedia)("media_decode") {
        graft.ops.Multimodal.extractFeatures(spark, media)
          .filter(_.feature.nonEmpty).count()
      }
      timedAs("blobs", nMedia)("media_av_meta") {
        graft.ops.Multimodal.avMetaTable(spark, media).filter(col("format").isNotNull).count()
      }
      media.unpersist()

      // keyframe location over H.26x containers (both layouts mixed:
      // self-contained stss walk, fragmented moof/trun walk) — the
      // partition-local sharding pass a video corpus runs before any
      // decode fleet is scheduled
      val kfTemplates = Seq(
        AvcMp4Fixture.mp4(1), AvcMp4Fixture.fragMp4(1),
        AvcMp4Fixture.mp4(4), AvcMp4Fixture.fragMp4(4))
      val kb = spark.sparkContext.broadcast(kfTemplates)
      val kmedia = spark.range(nMedia)
        .map(id => (id, "video/mp4", kb.value((id % kb.value.size).toInt)))
        .toDF("media_id", "mime_type", "media").cache()
      kmedia.count()
      timedAs("blobs", nMedia)("media_keyframes") {
        graft.ops.Multimodal.mp4KeyframeTable(spark, kmedia)
          .unionAll(graft.ops.Multimodal.mp4FragmentedKeyframeTable(spark, kmedia))
          .filter(col("is_idr")).count()
      }
      kmedia.unpersist()

      // the other shard-list locators — Ogg pages, WebM SimpleBlocks,
      // JPEG EXIF — over the same blob volume, same partition-local
      // contract
      val shardTemplates = Seq(
        OggFixture.row(0)._2, OggFixture.row(1)._2,
        WebmFixture.webm(1), WebmFixture.webm(4),
        ExifFixture.jpeg(1), ExifFixture.jpeg(4))
      val sb2 = spark.sparkContext.broadcast(shardTemplates)
      val smedia = spark.range(nMedia)
        .map(id => (id, "application/octet-stream", sb2.value((id % sb2.value.size).toInt)))
        .toDF("media_id", "mime_type", "media").cache()
      smedia.count()
      timedAs("blobs", nMedia)("media_shardlists") {
        graft.ops.Multimodal.oggPageTable(spark, smedia).count() +
          graft.ops.Multimodal.webmBlockTable(spark, smedia).count() +
          graft.ops.Multimodal.exifTable(spark, smedia)
            .filter(col("orientation").isNotNull).count()
      }
      smedia.unpersist()

      // caption extraction + clip-caption pairing at 50k sidecars:
      // the cue parse is a map-side string kernel; the pairing is the
      // generic (media_id, t_ms) range join against the keyframe time
      // axis of the SAME 50k-file corpus — the end-to-end path that
      // turns a video corpus + its sidecars into training pairs
      val capTemplates = Seq(CaptionFixture.row(0)._2, CaptionFixture.row(1)._2,
        CaptionFixture.row(2)._2, CaptionFixture.row(5)._2)
      val cb = spark.sparkContext.broadcast(capTemplates)
      val caps = spark.range(nMedia)
        .map(id => (id, cb.value((id % cb.value.size).toInt)))
        .toDF("media_id", "content").cache()
      caps.count()
      timedAs("sidecars", nMedia)("caption_cues") {
        graft.ops.Captions.cueTable(spark, caps).count()
      }
      val kb2 = spark.sparkContext.broadcast(
        Seq(AvcMp4Fixture.mp4(1), AvcMp4Fixture.mp4(4)))
      val kmedia2 = spark.range(nMedia)
        .map(id => (id, "video/mp4", kb2.value((id % kb2.value.size).toInt)))
        .toDF("media_id", "mime_type", "media").cache()
      kmedia2.count()
      timedAs("pairs", nMedia)("clip_caption_pairs") {
        graft.ops.Captions.clipCaptionPairs(
          graft.ops.Captions.cueTable(spark, caps),
          graft.ops.Multimodal.mp4KeyframeTimeTable(spark, kmedia2)).count()
      }
      timedAs("clips", nMedia)("clip_byte_spans") {
        graft.ops.Captions.clipByteSpans(
          graft.ops.Captions.cueTable(spark, caps),
          graft.ops.Multimodal.mp4KeyframeTimeTable(spark, kmedia2),
          kmedia2).count()
      }
      caps.unpersist()
      kmedia2.unpersist()
    }
    spark.stop()
  }
}
