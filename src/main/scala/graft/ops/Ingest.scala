package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Ingest-time filtering: the composition a training-data pipeline runs
 * on raw documents BEFORE anything expensive touches them — language
 * gate, quality gate, then exact dedup. The point of gating at ingest
 * is scale economics: every downstream pass (minhash, embeddings,
 * scoring) pays per surviving byte, so the cheap map-side filters run
 * first and the corpus shrinks before its first shuffle.
 *
 * The same code runs batch and streaming: the gate is pure stateless
 * projections/filters (stream-safe by construction), and the dedup
 * stage picks the engine-appropriate form — groupBy on the content
 * hash in batch, watermark-bounded dropDuplicates in streaming
 * ([[Dedup.streamingExactDedup]]). This mirrors the reference's
 * ValidateEnrichFilter → Suppress chain at event ingest (reference:
 * src/Rule/ValidateEnrichFilter.php:39-91, suppress
 * src/CorrelationEngine.php:230-236) lifted to document corpora.
 */
object Ingest {

  /**
   * Stateless quality gate: keep documents whose predicted language is
   * in `langs` and whose quality score clears `minQuality`. All input
   * columns pass through, annotated with the two gate signals.
   * Map-side only — no shuffle, no state; safe on batch and streaming
   * DataFrames alike.
   */
  def qualityGate(docs: DataFrame, minQuality: Double = 0.3,
      langs: Seq[String] = Seq("en")): DataFrame = {
    // The expensive signals (split + marker scans + punctuation regex)
    // are computed ONCE per row behind a Generate barrier —
    // explode(array(struct)) emits exactly one row and predicates
    // cannot push below a generator, so neither predicate pushdown nor
    // the CASE chain's conditional branches (which codegen's
    // subexpression elimination skips) can re-evaluate them. The
    // language argmax then runs over the materialised hit counts
    // (cheap int compares). Measured 5.7s → 0.7s on the 100k-doc probe
    // vs inlining TextAnalysis.predictedLangCol into the filter.
    val sig = struct(
      graft.functions.Texts.markerHits(
        split(col("text"), " "), TextAnalysis.langMarkers.map(_._2)).as("mh"),
      TextAnalysis.qualityScoreCol(col("text")).as("q"))
    val idx = TextAnalysis.langMarkers.map(_._1).zipWithIndex.toMap
    docs
      .withColumn("_sig", explode(array(sig)))
      .withColumn("predicted_lang",
        TextAnalysis.predictedFromHits(l => element_at(col("_sig.mh"), idx(l) + 1)))
      .withColumn("quality_score", col("_sig.q"))
      .filter(col("quality_score") >= minQuality &&
        col("predicted_lang").isin(langs: _*))
      .drop("_sig")
  }

  /**
   * Batch ingest: gate, then keep ONE document per distinct content
   * (lowest doc_id wins — deterministic). One shuffle on the content
   * hash, after the gate has already shrunk the corpus. The canonical
   * pick is a row_number window, not aggregate-then-join-back: the
   * join form re-evaluates the gate lineage on both sides (measured 4×
   * slower at 100k docs in ScaleProbe), the window form evaluates it
   * once and shuffles it once.
   */
  def runBatch(docs: DataFrame, minQuality: Double = 0.3,
      langs: Seq[String] = Seq("en")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    qualityGate(docs, minQuality, langs)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /**
   * Streaming ingest: the same gate composed with watermark-bounded
   * exact dedup — first-arrival wins within the `delay` horizon and
   * state stays bounded. `docs` must carry a `ts` event-time column.
   * The dedup helper's internal hash column is dropped so the batch
   * and streaming faces emit the SAME schema (input columns +
   * predicted_lang + quality_score).
   */
  def runStreaming(docs: DataFrame, minQuality: Double = 0.3,
      langs: Seq[String] = Seq("en"), delay: String = "10 minutes"): DataFrame =
    Dedup.streamingExactDedup(qualityGate(docs, minQuality, langs), delay)
      .drop("text_md5")

  /**
   * Streaming NEAR-dedup against a growing index — the streaming face
   * of the incremental dedup workflow: per micro-batch,
   *  (1) documents with a banded near-dup already in the INDEX are
   *      dropped FIRST (before within-batch canonical selection — the
   *      other order loses a whole within-batch cluster whenever only
   *      its canonical matches the index);
   *  (2) the survivors collapse within-batch to one canonical per
   *      cluster via [[Dedup.applyNearDedup]];
   *  (3) admitted documents land under `outDir/write_id=<ck>_<N>` and
   *      their signature + band rows in the index tables under the
   *      same `write_id` partition — so later batches
   *      dedup against everything admitted so far. The per-write-id
   *      OVERWRITE makes a replayed trigger (crash between the writes
   *      and the checkpoint commit) idempotent: at-least-once
   *      execution, exactly-once corpus. The write id is derived from
   *      the CHECKPOINT path, not the bare batch number: a replay of
   *      the same checkpoint reuses it (own rows excluded from the
   *      probe, partition overwritten), while a FRESH stream started
   *      over an existing index gets distinct ids, so its batch 0
   *      still dedups against the old stream's batch 0.
   *
   * Scale shape: the index stores one compact signature row AND its
   * precomputed band rows per admitted doc — nothing indexed is ever
   * re-shingled or re-banded. Both index halves live as BUCKETED
   * catalog tables (bands clustered+sorted by band_hash, signatures by
   * doc_id, both partitioned by write_id), and a trigger probes them
   * with an IN filter over the batch's own band hashes / candidate doc
   * ids. That layout removes both ways a growing index could swamp a
   * trigger: (a) the probe join never SHUFFLES the index — the scan's
   * bucket partitioning on band_hash already satisfies the join's
   * distribution, so only the small batch side moves; (b) the scan is
   * pruned — partition level (the replayed write's own rows), bucket
   * level (SelectedBucketsCount; set-based, works at any probe-list
   * size), and parquet row-group level for small probe lists (files
   * are sorted by the bucket key, so pushed In filters skip row
   * groups). Bucket-level pruning bites when the bucket count exceeds
   * the batch's distinct hash count — size buckets for the TRIGGER,
   * not the index (a 1k-doc trigger touches ≤ 20k hashes; with the
   * O(100k) buckets a 100 TB index wants per [[Layout.writeBucketed]],
   * ≥80% of the index is never read). Compact accumulated per-batch
   * files periodically with [[compactIndex]] (index halves) and
   * [[compactOutput]] (admitted corpus) — both safe against the live
   * stream: index mutation is serialized by the index lock the
   * trigger also holds, output compaction touches only committed
   * partitions. Empty triggers write nothing (no file-count bloat).
   *
   * The session keeps `autoBucketedScan` disabled (the planner must
   * never fall back to an unpruned scan of the index) and the parquet
   * IN-pushdown threshold at 1000 (see the conf comment below); both
   * are set at stream start. Probes above [[MaxProbeLiterals]] skip the
   * IN filter entirely and rely on the shuffle-free bucketed join.
   */
  def runStreamingNearDedup(docs: DataFrame, indexDir: String, outDir: String,
      checkpoint: String, shingleSize: Int = 3, bands: Int = 20,
      rowsPerBand: Int = 2, threshold: Double = 0.5,
      indexBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery = {
    val session = docs.sparkSession
    session.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // 1000, not unlimited: parquet-side In pushdown builds a NESTED OR
    // predicate — a six-figure hash list overflows the executor stack.
    // Small probes (the common streaming trigger) still get row-group
    // pruning; big ones degrade to a range filter while BUCKET pruning
    // (planning-side, set-based, any list size) keeps working.
    session.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
    val ckId = tableSuffix(checkpoint) // stream identity, stable across restarts
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val writeId = s"${ckId}_$batchId"
        // index layout: indexDir/sig|bands/write_id=<ckId>_<N>
        val sigDir = s"$indexDir/sig"
        val bandDir = s"$indexDir/bands"
        val fs = new org.apache.hadoop.fs.Path(indexDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // the trigger's index reads AND writes run under the index
        // lock, so a concurrent compactIndex can never mutate the
        // catalog table (drop partitions / refresh) between this
        // batch's probe and its append
        withIndexLock(spark, indexDir) {
        // BOTH halves must exist: a crash during the very first
        // admitting batch can leave one written without the other, and
        // treating that torn state as "no index" lets the replay
        // rebuild both (there was no earlier index to lose)
        val hasIndex = fs.exists(new org.apache.hadoop.fs.Path(sigDir)) &&
          fs.exists(new org.apache.hadoop.fs.Path(bandDir))
        // the whole batch's signatures, computed ONCE: index probe +
        // both verify sides + the within-batch pair finder + the
        // admitted signature append all derive from this table
        val batchSig = Materialize(
          Dedup.signatureTable(batch, shingleSize, bands * rowsPerBand))
        // index probe against the bucketed band/sig tables, pruned to
        // what THIS batch can match
        def probeSurvivors(): DataFrame = {
          // the batch's own band-hash set: for a normal-sized trigger
          // it is collected to the driver (O(batch·bands) md5 strings)
          // and pushed as an IN filter — bucket + row-group pruning; a
          // BULK batch above the literal budget skips the filter (a
          // six-figure literal list is its own scalability bug: the
          // parquet OR-chain overflows the stack, the catalyst tree
          // bloats the driver) and relies on the bucketed join, which
          // still never shuffles the index side
          val batchHashes = Materialize(Dedup.bandsOf(batchSig, bands, rowsPerBand)
            .select("band_hash").distinct())
          val nHashes = batchHashes.count()
          val probeHashes =
            if (nHashes > 0 && nHashes <= MaxProbeLiterals)
              Some(batchHashes.collect().map(_.getString(0)).toSeq)
            else None
          val idxBands = indexBandProbe(spark, indexDir, writeId, probeHashes, indexBuckets)
            .select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
          // reused: candidate-id collect + verify
          val cand = Materialize(Dedup.bandsOf(batchSig, bands, rowsPerBand)
            .withColumnRenamed("doc_id", "doc_a")
            .join(idxBands, Seq("band_idx", "band_hash"))
            .select("doc_a", "doc_b")
            .dropDuplicates("doc_a", "doc_b"))
          // candidate index docs, same literal budget: verify only
          // needs the signatures of docs some band actually matched
          val nCand = cand.count()
          if (nCand == 0) batchSig.select("doc_id")
          else {
            val candIds =
              if (nCand <= MaxProbeLiterals)
                Some(cand.select("doc_b").distinct().collect().map(_.get(0)).toSeq)
              else None
            val idxSig = indexSigProbe(spark, indexDir, writeId, candIds, indexBuckets)
            val dupIds = Dedup.verifyJaccard(cand, batchSig, idxSig, threshold)
              .select(col("doc_a").as("doc_id")).distinct()
            batchSig.select("doc_id").join(dupIds, Seq("doc_id"), "left_anti")
          }
        }
        val survivorIds =
          if (!hasIndex) batchSig.select("doc_id")
          else probeSurvivors()
        // within-batch canonical selection among index-survivors, pairs
        // derived from the SAME signature table (no re-shingling)
        val survivorsSig = Materialize( // feeds pair finding, verify, and the index append
          batchSig.join(survivorIds, Seq("doc_id"), "left_semi"))
        val sa = Dedup.bandsOf(survivorsSig, bands, rowsPerBand)
          .withColumnRenamed("doc_id", "doc_a")
        val sb = sa.select(col("band_idx"), col("band_hash"), col("doc_a").as("doc_b"))
        val withinPairs = Dedup.verifyJaccard(
          sa.join(sb, Seq("band_idx", "band_hash"))
            .filter(col("doc_a") < col("doc_b"))
            .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b"),
          survivorsSig, survivorsSig, threshold)
        val admitted = Materialize(Dedup.applyNearDedup(
          batch.join(survivorIds, Seq("doc_id"), "left_semi"), withinPairs))
        if (!admitted.isEmpty) {
          val admittedSig = Materialize( // two writes below; severs the index-table read
            survivorsSig.join(admitted.select("doc_id"), Seq("doc_id"), "left_semi"))
          admitted.write.mode("overwrite").parquet(s"$outDir/write_id=$writeId")
          appendIndexPartition(admittedSig,
            sigTableName(indexDir), sigDir, "doc_id", indexBuckets, writeId)
          appendIndexPartition(Dedup.bandsOf(admittedSig, bands, rowsPerBand),
            bandTableName(indexDir), bandDir, "band_hash", indexBuckets, writeId)
        }
        } // withIndexLock
        ()
      }
      .start()
  }

  /** The `write_id` a given (checkpoint, batchId) pair lands under —
   * callers use it to name a compaction frontier from the stream's last
   * COMMITTED batch. */
  def writeIdFor(checkpoint: String, batchId: Long): String =
    s"${tableSuffix(checkpoint)}_$batchId"

  /**
   * Compact the near-dup index: rewrite the accumulated per-trigger
   * `write_id` partitions of BOTH index halves into one consolidated
   * bucketed partition each. Eligible partitions are those belonging to
   * `upToWriteId`'s stream (same checkpoint prefix) with a batch number
   * at or below its frontier, plus the output of any previous
   * compaction — so repeated calls fold older compactions in rather
   * than accumulating them.
   *
   * Why: each trigger appends one partition × up-to-`indexBuckets`
   * files per half, so after thousands of triggers the probe's cost is
   * dominated by file listing/opens, not bytes (the reference keeps ONE
   * state file per save for the same reason — reference:
   * src/SaveHandler/FileAdapter.php:73-197). Compaction restores
   * O(buckets) files while preserving the bucketed-by-key layout the
   * shuffle-free probe join and bucket pruning depend on (the
   * consolidated partition goes through the same saveAsTable path as a
   * trigger append).
   *
   * Safety: pass a frontier AT OR BEHIND the checkpoint's last
   * COMMITTED batch. A committed batch never replays, so dropping its
   * standalone partition is safe; an in-flight batch's partition is
   * left alone (its replay deletes + rewrites that partition by name).
   * Crash-safe: the consolidated partition is written (idempotently,
   * under a name derived from the member set) BEFORE any source
   * partition is dropped — a crash mid-drop leaves duplicate rows at
   * rest (member + consolidated copies), which probes tolerate
   * (candidates are de-duplicated) and the NEXT compaction removes:
   * consolidation de-duplicates each half on its natural key (sig:
   * doc_id; bands: (doc_id, band_idx, band_hash)), so duplicates never
   * survive a fold. Concurrency: the index lock (`_lock` under
   * `indexDir`, also held by the stream's per-trigger writes)
   * serializes compaction against a live stream — no quiesce needed.
   */
  def compactIndex(spark: SparkSession, indexDir: String, upToWriteId: String,
      indexBuckets: Int = 16): Unit = {
    val cut = upToWriteId.lastIndexOf('_')
    require(cut > 0, s"malformed write id: $upToWriteId")
    val (ck, frontier) = (upToWriteId.substring(0, cut),
      upToWriteId.substring(cut + 1).toLong)
    withIndexLock(spark, indexDir) {
      compactHalf(spark, sigTableName(indexDir), s"$indexDir/sig", "doc_id",
        indexBuckets, ck, frontier, dedupKeys = Seq("doc_id"))
      compactHalf(spark, bandTableName(indexDir), s"$indexDir/bands", "band_hash",
        indexBuckets, ck, frontier,
        dedupKeys = Seq("doc_id", "band_idx", "band_hash"))
    }
  }

  /**
   * [[compactIndex]] with the frontier derived from the stream's OWN
   * checkpoint: the latest batch id in `<checkpoint>/commits` is by
   * definition committed (its partition will never replay), so it is
   * always a safe frontier. No-op when the checkpoint has no commits
   * yet. This is the call a maintenance cron wraps — no bookkeeping
   * beyond the paths the stream already uses.
   */
  def compactIndexFromCheckpoint(spark: SparkSession, indexDir: String,
      checkpoint: String, indexBuckets: Int = 16): Unit =
    latestCommittedBatch(spark, checkpoint).foreach { b =>
      compactIndex(spark, indexDir, writeIdFor(checkpoint, b), indexBuckets)
    }

  /** Latest batch id recorded in `<checkpoint>/commits` — by definition
   * committed, so always a safe compaction frontier. None when the
   * checkpoint has no commits yet. */
  private def latestCommittedBatch(spark: SparkSession,
      checkpoint: String): Option[Long] = {
    val commits = new org.apache.hadoop.fs.Path(s"$checkpoint/commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(commits)) None
    else fs.listStatus(commits).toSeq
      .flatMap(s => s.getPath.getName.toLongOption)
      .maxOption
  }

  /** Target size for compacted OUTPUT files: the standard "one HDFS
   * block-ish parquet file" sweet spot — small enough to parallelize a
   * downstream scan, large enough that file-open overhead vanishes. */
  private[graft] val TargetOutputFileBytes: Long = 128L * 1024 * 1024

  /**
   * Compact the streaming OUTPUT corpus the same way [[compactIndex]]
   * compacts the index: the per-trigger `outDir/write_id=<ck>_<n>`
   * partitions at or behind the frontier (plus any previous output
   * compaction) fold into ONE consolidated partition, sized at
   * [[TargetOutputFileBytes]] per file — without this the admitted
   * corpus accumulates one directory per trigger forever, and a
   * downstream scan pays per-file open cost instead of per-byte scan
   * cost (the same listing-bound failure mode the index had).
   *
   * Same crash discipline as the index: consolidated partition written
   * first under a member-set-derived name (a torn previous attempt of
   * the same member set is deleted and rewritten), members dropped
   * after; rows dedup on `doc_id` (each document is admitted exactly
   * once, so doc_id is the output's natural key), so a crash mid-drop
   * cannot leave permanent duplicates. Pass a frontier at or behind
   * the last COMMITTED batch ([[compactOutputFromCheckpoint]] derives
   * one); in-flight partitions are untouched, so this is safe against
   * a live stream — concurrent READERS of `outDir` may transiently
   * double-see rows mid-fold, the same caveat any file-level
   * compaction carries.
   */
  def compactOutput(spark: SparkSession, outDir: String,
      upToWriteId: String): Unit = {
    val cut = upToWriteId.lastIndexOf('_')
    require(cut > 0, s"malformed write id: $upToWriteId")
    val (ck, frontier) = (upToWriteId.substring(0, cut),
      upToWriteId.substring(cut + 1).toLong)
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val eligible = eligiblePartitions(fs, root, ck, frontier)
    if (eligible.size <= 1) return
    val bytes = eligible.map(id =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$outDir/write_id=$id"))
        .getLength).sum
    val nFiles = math.max(1L, (bytes + TargetOutputFileBytes - 1) / TargetOutputFileBytes)
    val dest = new org.apache.hadoop.fs.Path(s"$outDir/write_id=${compactionId(eligible)}")
    fs.delete(dest, true) // torn previous attempt of the same member set
    spark.read.parquet(eligible.map(id => s"$outDir/write_id=$id"): _*)
      .dropDuplicates("doc_id")
      .coalesce(nFiles.toInt)
      .write.mode("overwrite").parquet(dest.toString)
    eligible.foreach(old =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/write_id=$old"), true))
  }

  /** [[compactOutput]] with the frontier derived from the stream's own
   * checkpoint — the output twin of [[compactIndexFromCheckpoint]],
   * and the other half of the same maintenance cron. */
  def compactOutputFromCheckpoint(spark: SparkSession, outDir: String,
      checkpoint: String): Unit =
    latestCommittedBatch(spark, checkpoint).foreach { b =>
      compactOutput(spark, outDir, writeIdFor(checkpoint, b))
    }

  /** write_id partition names under `root` eligible for compaction:
   * previous compaction outputs plus this stream's partitions at or
   * behind the committed frontier. */
  private def eligiblePartitions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, ck: String, frontier: Long): Seq[String] = {
    def behindFrontier(id: String): Boolean = {
      val cut = id.lastIndexOf('_')
      cut > 0 && id.substring(0, cut) == ck &&
        id.substring(cut + 1).toLongOption.exists(_ <= frontier)
    }
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("write_id="))
      .map(_.stripPrefix("write_id="))
      .filter(id => id.startsWith("compact_") || behindFrontier(id))
      .sorted
  }

  /** Member-set-derived compaction partition name: a crashed-and-rerun
   * compaction of the same members overwrites its own partial output. */
  private def compactionId(eligible: Seq[String]): String =
    "compact_" + java.security.MessageDigest.getInstance("MD5")
      .digest(eligible.mkString("\n").getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  private def compactHalf(spark: SparkSession, name: String, dir: String,
      bucketCol: String, buckets: Int, ck: String, frontier: Long,
      dedupKeys: Seq[String]): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val eligible = eligiblePartitions(fs, root, ck, frontier)
    if (eligible.size <= 1) return
    val newId = compactionId(eligible)
    // Read the member partitions as raw parquet (partition dirs carry
    // the data columns only) — streams through the writer without
    // self-referencing the catalog table being appended to. Dedup on
    // the half's natural key: rows duplicated by an earlier crash
    // mid-drop (member + consolidated copies both on disk) fold back
    // to one copy instead of persisting forever.
    val consolidated = spark.read.parquet(
      eligible.map(id => s"$dir/write_id=$id"): _*)
      .dropDuplicates(dedupKeys)
    appendIndexPartition(consolidated, name, dir, bucketCol, buckets, newId)
    eligible.foreach { old =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/write_id=$old"), true)
      if (spark.catalog.tableExists(name))
        spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (write_id='$old')")
    }
    if (spark.catalog.tableExists(name)) spark.catalog.refreshTable(name)
  }

  /**
   * Advisory writer lock for the index rooted at `indexDir`:
   * exclusive-create of an `_lock` file (underscore-prefixed — Spark's
   * file listing ignores it). BOTH index writers honor it — the
   * stream's per-trigger probe+append (foreachBatch body) and
   * maintenance [[compactIndex]] — so a compaction can run against a
   * LIVE stream without a probe ever seeing the catalog mid-mutation
   * (concurrent saveAsTable append vs DROP PARTITION + refreshTable
   * was otherwise unserialized). Blocks up to `waitMs` for the holder
   * (a trigger holds it for one batch; compaction for one fold); a
   * lock older than `staleMs` is presumed orphaned by a crashed holder
   * and broken. Two defenses close the stale-recovery race (two
   * recoverers both judging an orphan stale, the slower delete landing
   * on the faster one's FRESH lock):
   *  1. a live holder heartbeats the lock mtime from a daemon thread
   *     every staleMs/4, so a non-crashed holder is never judged
   *     stale in the first place — the break path only ever fires on
   *     true orphans;
   *  2. the breaker re-reads the lock token immediately before its
   *     delete and aborts the break if the token changed from the one
   *     it judged stale — a fresh lock created in the window carries a
   *     different token.
   * Residual window: between the breaker's final token re-read and its
   * delete (two metadata ops, ~ns apart) a third process could still
   * complete a full create; with heartbeats that requires TWO
   * simultaneous breakers inside that window against a >staleMs-old
   * orphan — accepted as advisory-lock semantics on stores without
   * atomic compare-and-delete. Lock-file create/delete is two
   * filesystem metadata ops per trigger — noise against a trigger's
   * parquet writes.
   */
  private[graft] def withIndexLock[T](spark: SparkSession, indexDir: String,
      waitMs: Long = 600000L, staleMs: Long = 3600000L)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(s"$indexDir/_lock")
    // The lock is metadata, not data: on local filesystems go through
    // the RAW (non-checksummed) filesystem. The ChecksumFileSystem's
    // `.lock.crc` sidecar is itself a race surface — a reader can
    // observe the data file while the sidecar is mid-create/mid-delete
    // and FSInputChecker surfaces that as an IOException, which the
    // round-10 soak showed a creator misreading as "my lock vanished"
    // (the self-orphan below). No sidecar, no phantom read failures.
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case cfs: org.apache.hadoop.fs.ChecksumFileSystem => cfs.getRawFileSystem
      case other => other
    }
    fs.mkdirs(lock.getParent)
    // ownership token, read back after every create: two recoverers
    // can both judge an ORPHANED lock stale and both delete-and-create
    // in an interleaving where the slower delete removes the faster
    // one's fresh lock — exclusive create alone cannot detect that.
    // Whoever's token survives in the file owns the lock; the other
    // sees a foreign token and goes back to waiting.
    val token = s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
    // None = lock file genuinely absent. Any OTHER read failure (a
    // contender's delete/create churn caught mid-flight, transient
    // checksum garbage on stores that still have one) is retried a few
    // times before giving up — a false "absent" is what made round-10's
    // creator disbelieve its own fresh lock and orphan it.
    def readToken(): Option[String] = {
      var attempt = 0
      while (attempt < 4) {
        try {
          val in = fs.open(lock)
          try return Some(new String(in.readAllBytes(), "UTF-8"))
          finally in.close()
        } catch {
          case _: java.io.FileNotFoundException => return None
          case _: java.io.IOException => attempt += 1; Thread.sleep(20L * attempt)
        }
      }
      None
    }
    // Exclusive create. On the local filesystem this MUST be NIO
    // CREATE_NEW (atomic O_CREAT|O_EXCL): RawLocalFileSystem's
    // create(f, overwrite=false) is check-then-act — two PROCESSES can
    // both pass the exists check, both write, and both read back their
    // own token (the second write lands after the first verification),
    // a mutual-exclusion hole the cross-JVM LockProbe soak catches as
    // a lost counter update. On HDFS create(overwrite=false) is
    // namenode-atomic, so the Hadoop path is used as-is there; object
    // stores without atomic create need external coordination and are
    // out of scope for this advisory lock.
    val localLock: Option[java.io.File] = fs match {
      case r: org.apache.hadoop.fs.RawLocalFileSystem => Some(r.pathToFile(lock))
      case _ => None
    }
    def createExclusive(): Boolean =
      try {
        localLock match {
          case Some(f) =>
            java.nio.file.Files.write(f.toPath, token.getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
          case None =>
            val out = fs.create(lock, false)
            out.write(token.getBytes("UTF-8"))
            out.close()
        }
        true
      } catch { case _: java.io.IOException => false }
    val deadline = System.currentTimeMillis + waitMs
    var acquired = false
    while (!acquired) {
      val created = createExclusive()
      if (created && readToken().contains(token)) acquired = true
      else {
        // Create lost the exclusivity race, or it SUCCEEDED but the
        // verification read raced a contender's churn. Before treating
        // the lock as foreign, apply the file's own invariant: if the
        // token that survives on disk is OURS, we own the lock — full
        // stop. Round 10's soak caught the alternative: a creator whose
        // verification read transiently failed abandoned its claim,
        // leaving a lock on disk that nobody believed they held, which
        // every waiter then waited out to the deadline (staleMs >
        // waitMs, so the stale-break could never save them).
        val current = readToken()
        if (current.contains(token)) acquired = true
        else if (current.isEmpty) () // no lock on disk — loop, recontend
        else {
          // foreign holder: judge staleness, and only break if the very
          // same token is still in place at delete time — a fresh lock
          // raced in between carries a new token
          val stale =
            try System.currentTimeMillis -
              fs.getFileStatus(lock).getModificationTime > staleMs
            catch { case _: java.io.FileNotFoundException => false }
          if (stale && readToken() == current)
            fs.delete(lock, false)
          else if (System.currentTimeMillis > deadline)
            throw new IllegalStateException(
              s"index lock $lock held >${waitMs}ms — stuck compaction or trigger?")
          else Thread.sleep(100)
        }
      }
    }
    // heartbeat: refresh the lock mtime while the body runs so a slow
    // holder (long compaction fold) can never age past staleMs and be
    // judged an orphan by a waiting breaker
    val beat = new Thread(() => {
      val period = math.max(staleMs / 4, 1000L)
      try {
        while (!Thread.interrupted()) {
          Thread.sleep(period)
          try {
            if (readToken().contains(token))
              fs.setTimes(lock, System.currentTimeMillis, -1)
          } catch {
            // a racing breaker can delete the lock between readToken
            // and setTimes, and some FileSystems don't support
            // setTimes at all — one failed beat must never kill the
            // daemon, or a long-running holder silently ages past
            // staleMs and gets broken: the exact race heartbeats close
            case scala.util.control.NonFatal(_) => ()
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat-${lock.hashCode}")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      beat.interrupt()
      if (readToken().contains(token)) fs.delete(lock, false)
    }
  }

  /** Deterministic catalog names for the two index tables rooted at
   * `indexDir` — stable across restarts (derived from the path), unique
   * per index. */
  private[graft] def bandTableName(indexDir: String): String =
    s"graft_nd_bands_${tableSuffix(indexDir)}"
  private[graft] def sigTableName(indexDir: String): String =
    s"graft_nd_sig_${tableSuffix(indexDir)}"
  private def tableSuffix(indexDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(indexDir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /**
   * (Re-)register one index half as a bucketed catalog table over its
   * existing files. The catalog entry is what carries the bucket spec
   * the planner needs for bucket pruning; a restarted session (fresh
   * in-memory catalog, recovered checkpoint) re-derives it here from
   * the surviving parquet files — schema inferred from the footers,
   * partitions recovered from the directory layout.
   */
  private def ensureIndexTable(spark: SparkSession, name: String, dir: String,
      bucketCol: String, buckets: Int): Unit =
    if (!spark.catalog.tableExists(name)) {
      val dataCols = spark.read.parquet(dir).schema.fields
        .filter(_.name != "write_id")
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(
        s"""CREATE TABLE $name ($dataCols, write_id STRING)
           |USING parquet PARTITIONED BY (write_id)
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS
           |LOCATION '$dir'""".stripMargin)
      spark.catalog.recoverPartitions(name)
    }

  /** Literal budget for IN-list index probes: below it, the probe is
   * a filter of driver-collected values (partition + bucket +
   * row-group pruning — the point-lookup plan); above it, the probe
   * degrades to the plain bucketed join (the index side is still
   * never shuffled). The budget bounds catalyst tree size and the
   * parquet predicate depth, both of which scale with the literal
   * count, not the data. */
  private[graft] val MaxProbeLiterals = 20000L

  /** Pruned probe of the band index: rows of OTHER writes whose
   * band_hash is in the probing batch's own hash set (when given). The
   * filtered plan is partition-filtered (write_id ≠ current),
   * bucket-pruned (SelectedBucketsCount — asserted in PlanAuditSpec)
   * and row-group pruned (pushed In filter over files sorted by
   * band_hash). */
  private[graft] def indexBandProbe(spark: SparkSession, indexDir: String,
      writeId: String, probeHashes: Option[Seq[String]], buckets: Int): DataFrame = {
    val name = bandTableName(indexDir)
    ensureIndexTable(spark, name, s"$indexDir/bands", "band_hash", buckets)
    val other = spark.table(name).filter(col("write_id") =!= writeId)
    probeHashes.fold(other)(h => other.filter(col("band_hash").isInCollection(h)))
  }

  /** Pruned probe of the signature index: signatures of the candidate
   * doc ids only — the shingle arrays (the wide column) of everything
   * else are never read. */
  private[graft] def indexSigProbe(spark: SparkSession, indexDir: String,
      writeId: String, candIds: Option[Seq[Any]], buckets: Int): DataFrame = {
    val name = sigTableName(indexDir)
    ensureIndexTable(spark, name, s"$indexDir/sig", "doc_id", buckets)
    val other = spark.table(name).filter(col("write_id") =!= writeId)
    candIds.fold(other)(ids => other.filter(col("doc_id").isInCollection(ids)))
  }

  /**
   * Idempotent per-batch append into a bucketed index table: a torn
   * earlier attempt's partition (crash after the write, before the
   * checkpoint commit) is dropped before the rewrite, so replayed
   * triggers land exactly-once. Goes through saveAsTable (not a raw
   * parquet write) because only the table-aware writer names the files
   * by bucket id — which is what the probe's bucket pruning reads.
   */
  private def appendIndexPartition(df: DataFrame, name: String, dir: String,
      bucketCol: String, buckets: Int, writeId: String): Unit = {
    val spark = df.sparkSession
    val pdir = new org.apache.hadoop.fs.Path(s"$dir/write_id=$writeId")
    val fs = pdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(pdir)) {
      fs.delete(pdir, true)
      if (spark.catalog.tableExists(name)) spark.catalog.refreshTable(name)
    }
    df
      // cluster rows by their bucket before the write: the bucketed
      // writer emits one file per (task × bucket it sees), so without
      // this every append is tasks×buckets fragments; repartition's
      // hash is the same Murmur3-pmod as bucket assignment, so each
      // task holds exactly one bucket → one file per non-empty bucket
      .repartition(buckets, col(bucketCol))
      .withColumn("write_id", lit(writeId))
      .write.mode("append")
      .format("parquet")
      .option("path", dir)
      .partitionBy("write_id")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(name)
  }
}
