package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale training-data pipelines:
 * exact (hash-groupBy), MinHash+LSH (shingle → minhash → band →
 * bucket-join), SimHash, and exact n-gram Jaccard. The reference engine
 * has only the event-level duplicate guard (suppress, F6); these extend
 * the same idea to document corpora at 100 TB scale.
 *
 * All hashing uses a cross-engine-portable md5-derived 60-bit integer
 * ([[Dedup.mdhash]]) so every pipeline — including the LSH candidate
 * generation — is bit-reproducible in the DuckDB oracle.
 *
 * Scale notes: exact dedup is one shuffle on the content hash. MinHash
 * signatures are computed map-side (native exprs, no UDFs); the only
 * shuffles are the band-bucket groupBy and the candidate-pair join,
 * both keyed on band hashes — the classic way to avoid the O(n²)
 * all-pairs comparison. SimHash is a single groupBy(doc) with 64
 * parallel sums (one shuffle, map-side partial agg).
 */
object Dedup {

  /** Portable 60-bit hash: first 15 hex chars of md5 as a BIGINT.
   * DuckDB twin: `('0x' || substr(md5(s), 1, 15))::UBIGINT::BIGINT`. */
  def mdhash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct word n-gram shingles of a text column — one native
   * codegen'd pass (graft.functions.WordNGrams); the HOF formulation
   * (array_distinct(transform(sequence, i => array_join(slice))))
   * is interpreted per element and dominated the shingle pipelines. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.Texts.wordNGrams(split(text, " "), n)

  /**
   * Exact dedup: group by content hash, keep the lowest doc_id as
   * canonical. One shuffle on the 128-bit content hash; at 100 TB this
   * is the cheapest possible dedup (no text comparison after the hash).
   */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("n_copies"))

  /**
   * Cross-corpus SPAN dedup (the C4 cleaning step: repeated spans are
   * removed corpus-wide, keeping only their first occurrence, and the
   * documents are reassembled from what survives — C4 used
   * three-sentence spans; this uses fixed word windows since span
   * granularity is a knob, not a semantic). Spans are NON-overlapping
   * `spanWords`-word windows; "first occurrence" is corpus order
   * (doc_id, span_idx). Output: one row per document with the total /
   * kept span counts and the cleaned text (empty when every span was
   * seen earlier — a fully-boilerplate document).
   *
   * Plan: span generation is pure map-side (split + explode + slice);
   * the keep-first pick is ONE shuffle keyed by the span text itself
   * (the payload IS the data — same cost class as exact dedup's
   * content-hash shuffle, and partitioning by the full text keeps the
   * pick exact under hash collisions); reassembly is one shuffle keyed
   * by doc_id with map-side partial aggregation. No self-joins, no
   * driver materialisation — the 100 TB shape.
   */
  def spanDedup(documents: DataFrame, spanWords: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = documents
      .select(col("doc_id"), split(col("text"), " ").as("wl"))
      .select(col("doc_id"), col("wl"),
        explode(sequence(lit(1), greatest(size(col("wl")), lit(1)), lit(spanWords))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / spanWords).cast("bigint").as("span_idx"),
        concat_ws(" ", slice(col("wl"), col("start"), lit(spanWords))).as("span_text"))
    val w = Window.partitionBy(col("span_text")).orderBy(col("doc_id"), col("span_idx"))
    spans
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        count(when(col("rn") === 1, 1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("span_idx"), col("span_text"))))),
          s => s("span_text"))).as("clean_text"))
  }

  /** Prime modulus + base-hash range of the universal (affine) MinHash
   * family: h_i(x) = (a_i * base(x) + b_i) mod P with base(x) the
   * md5-derived hash folded into 2^30. One md5 per shingle; the k hash
   * functions are integer math — the classic way to avoid k hash
   * evaluations per element. */
  val MinhashP: Long = graft.functions.GraftExtensions.MinhashP // 2^31 - 1, prime
  val MinhashBaseMod = 1073741824L // 2^30: a*base+b stays < 2^61

  /** Deterministic (seeded) affine coefficients, shared with the DuckDB
   * oracle so candidate generation is bit-reproducible (single source
   * of truth: graft.functions.GraftExtensions.affineConstants, which
   * also backs the `graft_minhash` SQL function). */
  def minhashConstants(numHashes: Int, seed: Long = 42L): Seq[(Long, Long)] =
    graft.functions.GraftExtensions.affineConstants(numHashes, seed)

  /** Base hashes of a shingle array, folded to 2^30. `portable` uses
   * the md5-derived hash (bit-reproducible in DuckDB — the oracle
   * path); at production scale pass false for xxhash64 (~4× cheaper,
   * same banding quality). */
  def minhashBase(sh: Column, portable: Boolean = true): Column =
    if (portable) transform(sh, s => pmod(mdhash(s), lit(MinhashBaseMod)))
    else transform(sh, s => pmod(xxhash64(s), lit(MinhashBaseMod)))

  /** MinHash signature from pre-computed base hashes: one native
   * codegen'd pass computes all numHashes affine min-folds
   * (graft.functions.AffineMinHash) — the interpreted-HOF equivalent
   * costs numHashes lambda evaluations per shingle. */
  def minhashFromBase(hv: Column, numHashes: Int): Column =
    graft.functions.Vectors.affineMinhash(hv, minhashConstants(numHashes), MinhashP)

  /**
   * MinHash + LSH near-duplicate pairs: signatures are cut into `bands`
   * bands of `rowsPerBand` values; docs sharing any band hash become
   * candidates; candidates are verified with exact Jaccard over the
   * shingle sets and kept at `threshold`.
   *
   * The bucket-join replaces the O(n²) cross join: cost is
   * O(n·bands) rows shuffled + within-bucket pairs only.
   */
  def minhashLsh(
      documents: DataFrame,
      shingleSize: Int = 3,
      bands: Int = 12,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      portableHash: Boolean = true): DataFrame = {
    val (docs, banded) = sigAndBands(documents, shingleSize, bands, rowsPerBand, portableHash)
    val a = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
    val candidates = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(candidates, docs, docs, threshold)
  }

  /**
   * Signature table backing the incremental dedup workflow: one
   * compact (doc_id, sh, sig) row per document. At 100 TB this table
   * is computed ONCE for the indexed corpus and written to storage
   * (partitioned/bucketed by doc_id); each ingest run reads it back
   * and passes it to [[minhashLshIncrementalSig]] so only the new
   * batch pays the shingle+hash+signature cost.
   */
  def signatureTable(documents: DataFrame, shingleSize: Int = 3,
      numHashes: Int = 40, portableHash: Boolean = true): DataFrame =
    documents.select(
      col("doc_id"),
      shingles(col("text"), shingleSize).as("sh"))
      .select(col("doc_id"), col("sh"), minhashBase(col("sh"), portableHash).as("hv"))
      .select(col("doc_id"), col("sh"), minhashFromBase(col("hv"), numHashes).as("sig"))

  /**
   * Incremental MinHash+LSH — the per-ingest face of [[minhashLsh]]:
   * near-dup pairs between a NEW document batch and an already-INDEXED
   * corpus. This convenience overload computes the index signatures
   * in-line; the real per-ingest path is [[minhashLshIncrementalSig]]
   * over a persisted [[signatureTable]], so only the new batch is
   * shingled and banded per run. Pairs WITHIN the new batch are
   * [[minhashLsh]] on the batch itself; composing both and feeding
   * [[applyNearDedup]] gives the incremental ingest gate. Output:
   * (doc_a = new doc, doc_b = indexed doc, jaccard).
   *
   * WARNING — the two faces DEFAULT to different LSH operating points:
   * this one bands 20×2 (high recall at threshold 0.5, the right
   * bias for an ingest gate probing an existing index), [[minhashLsh]]
   * bands 12×4 (the within-corpus sweet spot at threshold 0.7). When
   * composing them into ONE gate, pass the SAME bands/rowsPerBand to
   * both calls or the two halves see different candidate recall —
   * [[graft.ops.Ingest.runStreamingNearDedup]] does exactly this.
   */
  def minhashLshIncremental(
      newDocs: DataFrame,
      indexDocs: DataFrame,
      shingleSize: Int = 3,
      bands: Int = 20,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      portableHash: Boolean = true): DataFrame =
    minhashLshIncrementalSig(newDocs,
      Materialize(signatureTable(indexDocs, shingleSize, bands * rowsPerBand,
        portableHash)), // computed once for both the band join and the verify
      shingleSize, bands, rowsPerBand, threshold, portableHash)

  /** [[minhashLshIncremental]] over a PRECOMPUTED index
   * [[signatureTable]] (typically read back from storage) — the
   * per-ingest hot path: the index is never re-shingled; its band
   * rows derive from the stored signatures. `indexSignatures` must
   * carry (doc_id, sh, sig) with `sig` of length ≥ bands·rowsPerBand
   * computed with the same shingleSize/hash family. */
  def minhashLshIncrementalSig(
      newDocs: DataFrame,
      indexSignatures: DataFrame,
      shingleSize: Int = 3,
      bands: Int = 20,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      portableHash: Boolean = true): DataFrame = {
    val newBase = Materialize( // reused by its band side and the verify stage
      signatureTable(newDocs, shingleSize, bands * rowsPerBand, portableHash))
    val a = bandsOf(newBase, bands, rowsPerBand)
      .withColumnRenamed("doc_id", "doc_a")
    val b = bandsOf(indexSignatures, bands, rowsPerBand)
      .withColumnRenamed("doc_id", "doc_b")
    val candidates = a.join(b, Seq("band_idx", "band_hash"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(candidates, newBase, indexSignatures, threshold)
  }

  /** Shared signature/band computation for the self-join face:
   * [[signatureTable]] materialised ONCE ([[Materialize]], not cache:
   * no global CacheManager entry to leak across queries — blocks are
   * freed when the query's plan is garbage-collected) because both
   * band-join sides and the verification stage reuse it. */
  private def sigAndBands(documents: DataFrame, shingleSize: Int,
      bands: Int, rowsPerBand: Int, portableHash: Boolean): (DataFrame, DataFrame) = {
    val docs = Materialize(
      signatureTable(documents, shingleSize, bands * rowsPerBand, portableHash))
    (docs, bandsOf(docs, bands, rowsPerBand))
  }

  /** Band rows of a signature table: band index → md5 of the
   * comma-joined band slice of the signature. doc_id + hashes ONLY:
   * banded rows are exploded `bands`× and joined, so carrying the
   * shingle arrays would ship every document's shingle set through
   * the shuffle `bands` times — shingles are joined back AFTER
   * candidate pairs are deduplicated (a far smaller row set). */
  private[ops] def bandsOf(sigTable: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigTable.select(
      col("doc_id"),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => md5(array_join(
            transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), x => x.cast("string")),
            ","))))
        .as(Seq("band_idx", "band_hash")))

  /** Exact-Jaccard verification of candidate pairs: shingle sets are
   * joined back per side and the pair kept at `threshold`. */
  private[ops] def verifyJaccard(candidates: DataFrame, aDocs: DataFrame,
      bDocs: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(aDocs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(bDocs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("na", size(col("sh_a")).cast("long"))
      .withColumn("nb", size(col("sh_b")).cast("long"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /**
   * Exact n-gram Jaccard near-dup pairs via the shared-shingle join
   * (posting-list style): explode distinct shingles, self-join on the
   * shingle, count shared per pair. Exact but quadratic in the worst
   * case — at 100 TB use [[minhashLsh]]; this is the oracle-exact
   * baseline (and fine when shingle selectivity is high).
   */
  def ngramJaccard(documents: DataFrame, shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    // materialised once: the posting list feeds both join sides and
    // the size table (Materialize — see minhashLsh for why not
    // cache)
    val sh = Materialize(documents.select(
      col("doc_id"), explode(shingles(col("text"), shingleSize)).as("s")))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // prefix filter (exact): a shingle held by ONE document can never
    // witness a pair, and most shingles are unique — restricting the
    // self-join input to shared shingles cuts it by orders of magnitude
    // without changing the result (one extra map-side-combined count).
    val shared = sh.groupBy("s").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("s")
    val p = sh.join(shared, "s")
    // no broadcast hint: let AQE pick the join strategy from runtime sizes
    val inter = p.as("a").join(p.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard", round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /**
   * Streaming exact dedup at ingest: drop re-deliveries of identical
   * content within the watermark horizon, regardless of the event
   * timestamp they arrive with. State is bounded by the delay (old
   * hashes age out with the watermark) — the streaming twin of
   * [[exactDedup]] for at-least-once sources. `df` must carry a
   * `ts` event-time column and a `text` content column.
   */
  def streamingExactDedup(df: DataFrame, delay: String = "10 minutes"): DataFrame =
    df.withColumn("text_md5", md5(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("text_md5")

  /**
   * Duplicate clusters from near-dup pairs: connected components by
   * min-label propagation with pointer jumping, iterated to an exact
   * FIXPOINT — the step after pair detection that picks ONE canonical
   * document per duplicate group (pairs alone over-delete when
   * duplicates chain a~b~c). Each round is (1) min label over
   * neighbors, (2) pointer-jump `label := label(label)`, which doubles
   * the propagation distance per round → O(log diameter) rounds.
   * Convergence is detected exactly (no label changed), so the result
   * equals the transitive closure at any component diameter.
   * Lineage is truncated each round through [[Materialize]] (a
   * reliable checkpoint when the context has a checkpoint directory,
   * so an executor loss mid-fixpoint recovers from the store), and
   * each superseded round is released. Small measured states execute
   * one-job-per-round (LoopExec).
   */
  def duplicateClusters(pairs: DataFrame, maxIterations: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    // materialise the (possibly expensive) pair-detection lineage ONCE
    // — the checkpoint also truncates the logical plan so the per-round
    // re-planning below never re-optimizes the pair finder's tree.
    // The pair count rides the same job as an observe metric and
    // (×2 = edge rows) feeds the small-round gate below.
    val (p, pStats) = Materialize.observed(
      pairs.select(col("doc_a"), col("doc_b")), count(lit(1)).as("rows"))
    val nEdges = 2L * pStats.getAs[Long]("rows")
    // undirected edge list, both directions in ONE map-side explode,
    // PERSISTED lazily instead of eagerly checkpointed: the first
    // round's init aggregation materializes it as part of its own job,
    // so the r20 shape's dedicated edges-checkpoint job disappears
    // (edges is a flat projection over the checkpointed pairs — no
    // round-over-round lineage growth, unlike the label chain below).
    // Released with the pairs break before returning: the returned
    // labels are checkpointed and never re-read either. (A dst-hash
    // repartition here — to spare the per-round join its edges
    // exchange — measured as a pure LOSS at bench scale: AQE
    // broadcasts the small label side, so the exchange it would save
    // never exists, while the repartition itself adds a full AQE
    // query stage; at cluster scale the equivalent is bucketing the
    // edge list on storage.)
    val edges = p
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Convergence check: label propagation is MONOTONE (least() only
    // ever lowers a label, and label(x) <= x is invariant), so the
    // label sum strictly decreases until the fixpoint — comparing sums
    // is one cheap scan per round instead of a join of old vs new.
    // DECIMAL(38,0) so the sum cannot overflow at any corpus size.
    // Each round is an EAGER checkpoint (severs the LOGICAL plan
    // — a lazily-persisted round chain keeps the full lineage tree,
    // which the self-join rounds grow EXPONENTIALLY round over round:
    // measured OOM in treeString at d9's round count). The convergence
    // sum rides the SAME job as an `observe` metric (r21, guide §1.2:
    // the per-round wall cost here is job-launch overhead, not task
    // time — 68 tasks / 2.0 s task time inside 4.5 s wall at q_d9):
    // the dedicated per-round sum job disappears (2 jobs/round → 1).
    val labelMetrics = Seq(sum(col("cluster").cast("decimal(38,0)")).as("s"),
      count(lit(1)).as("rows")) // label count for the small-round gate
    // init = min(self, min neighbor): the first min-step fused into the
    // label-table build (one aggregation replaces distinct + round 1's
    // neighbor join), saving a full round; the init sum's NULL doubles
    // as the emptiness check (no pairs → no clusters — return the
    // empty frame, not an NPE — without a separate isEmpty action)
    // small-round execution (r22, LoopExec): the fixpoint's wall at
    // bench scale is job-launch overhead, not task time (q_d9: 50
    // jobs / 73 tasks / 1.6 s task time inside a 2.5 s wall) — when
    // BOTH the edge list and the label table are measured under the
    // LoopExec threshold, a round runs with AQE off and one reduce
    // partition: one job per round instead of the 3-5 AQE query-stage
    // jobs. Gate includes nEdges: a small label table joined against
    // a huge static edge list must keep the AQE path (runtime
    // broadcast, skew splitting).
    val (labels0, stats0) = LoopExec.round(spark,
      LoopExec.isSmall(spark, Some(nEdges))) {
      Materialize.observed(
        edges.groupBy(col("src").as("doc_id"))
          .agg(least(min(col("dst")), col("src")).as("cluster")), labelMetrics: _*)
    }
    var labels = labels0
    var prevSum = stats0.getAs[java.math.BigDecimal]("s")
    var nLabels = stats0.getAs[Long]("rows")
    def releaseInputs(): Unit = {
      edges.unpersist(blocking = false)
      Materialize.release(p)
    }
    if (prevSum == null) { releaseInputs(); return labels }
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // FUSED hook + pointer jump: one join + one aggregation per
      // round (r21, guide §2.4 — the r20 shape was 4 joins + 1 agg:
      // neighbor-min join, propagate left-join, and TWO jump
      // self-joins, ~22 AQE stage-jobs per round measured at q_d9).
      // The current labels double as POINTER EDGES (v → L(v)) unioned
      // onto the static graph edges, so ONE dst-keyed join against the
      // label table yields, per src, both every neighbor's label and
      // L(L(v)) — and min over that group IS min(L(L(v)),
      // min_nb L(nb)). The self term L(v) needs no row: L(x) ≤ x is
      // invariant (init is least(src, min dst); min-updates only
      // lower), so L(L(v)) ≤ L(v) covers it, and the ptr edge
      // guarantees every doc keeps a row. Fixpoint: new = old forces
      // L(L(v)) = L(v) and L(u) = L(v) across every edge — constant
      // per component, and with labels always component MEMBERS the
      // constant is the component min: the exact same fixpoint as any
      // min-label scheme, so the output is unchanged. A round now
      // advances pointer distance ~2× (hook + one jump) instead of
      // r20's ~4×, costing ~log2/log4 ≈ 2× the rounds for ~1/4 the
      // per-round stages — measured net win (q_d9: 120 → ~60 jobs).
      // small rounds carry explicit broadcast hints (r22): with AQE
      // off (LoopExec) the planner has no runtime sizes, and a
      // sort-merge join over one reduce partition measured SLOWER
      // than the AQE path it replaced (q_d9 2.46 → 2.68 s). The hint
      // is sound exactly when the gate fires — nLabels is MEASURED
      // under the threshold — and at scale (gate off, AQE on) the
      // hint is absent and runtime join selection rules as before.
      val small = LoopExec.isSmall(spark, Some(nEdges), Some(nLabels))
      def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
      val withPtr = edges.unionByName(
        labels.select(col("doc_id").as("src"), col("cluster").as("dst")))
      val hooked = withPtr
        .join(hinted(labels.select(col("doc_id").as("nb_id"), col("cluster").as("nb_cluster"))),
          col("dst") === col("nb_id"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("nb_cluster").as("cluster"))
      // one more pointer-jump hop INSIDE the round's plan (r21):
      // label := label(label) over the fused result doubles the
      // per-round propagation distance again (~4× total, the r20
      // rate) for one extra self-join — whose repeated agg subtree
      // collapses to ReusedExchange at execution — while the round
      // count (each round = one fixed-cost checkpoint job) halves.
      // Monotonicity is preserved (hooked(x) ≤ x, so the jump only
      // lowers labels) and the fixpoint is unchanged: converged still
      // forces L(u) = L(v) across every edge and L(L(v)) = L(v),
      // i.e. the component-min labelling. Do NOT add a third hop:
      // each one doubles the plan tree (r20 measured Catalyst cost
      // exploding past two unmaterialised hops).
      val next = hooked
        .join(hinted(hooked.select(col("doc_id").as("pj_id"), col("cluster").as("pj_cluster"))),
          col("cluster") === col("pj_id"), "left")
        .select(col("doc_id"),
          coalesce(col("pj_cluster"), col("cluster")).as("cluster"))
      LoopProbe.tap(s"round${iter + 1}", next)
      val (nextM, stats) = LoopExec.round(spark, small) {
        Materialize.observed(next, labelMetrics: _*)
      }
      val curSum = stats.getAs[java.math.BigDecimal]("s")
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      nLabels = stats.getAs[Long]("rows")
      Materialize.release(labels) // superseded: nextM no longer reads it
      labels = nextM
      iter += 1
    }
    releaseInputs()
    labels
  }

  /**
   * Apply near-dedup to a corpus: the end product of the dedup
   * pipeline — every document that is in no duplicate cluster, plus
   * ONE canonical representative (the min-doc_id member, which labels
   * its own cluster) per cluster. This is the "cleaned corpus" a
   * training pipeline writes out; pairs/clusters are its audit trail.
   *
   * Scale notes: pair detection and clustering are the bounded pieces
   * ([[ngramJaccard]]/[[minhashLsh]] + [[duplicateClusters]]); the
   * final filter is one join of the corpus against the (much smaller)
   * cluster table — broadcast when it fits, else a key shuffle.
   */
  def applyNearDedup(documents: DataFrame, shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame =
    applyNearDedup(documents, ngramJaccard(documents, shingleSize, threshold))

  /** [[applyNearDedup]] with a caller-chosen pair finder — pass
   * [[minhashLsh]] output for the banded 100 TB path (the default
   * exact posting-list join is the oracle baseline and goes quadratic
   * on corpora with heavy shared-shingle boilerplate). `pairs` must
   * carry (doc_a, doc_b). */
  def applyNearDedup(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
    documents.join(clusters, Seq("doc_id"), "left")
      .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
      .drop("cluster")
  }

  /** Number of bits used by the portable SimHash (60 = the bits carried
   * by the 15-hex-char mdhash). */
  val SimhashBits = 60

  /**
   * SimHash near-duplicate pairs: band the 60-bit fingerprint into
   * `bands` equal chunks; by pigeonhole, any pair within Hamming
   * distance `bands − 1` shares at least one identical band, so
   * candidates come from an equi-join on (band_idx, band_value) — an
   * O(n·bands) shuffle instead of the O(n²) all-pairs scan — and are
   * verified exactly with bit_count(xor). Requires maxHamming < bands
   * for full recall (checked).
   */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands (got $maxHamming >= $bands)")
    val bitsPerBand = SimhashBits / bands
    val mask = (1L << bitsPerBand) - 1
    // materialised once: both sides of the band self-join reuse the
    // 60-sum fingerprint aggregation (Materialize — see
    // minhashLsh for why not cache)
    val hs = Materialize(simhash(documents))
    // the fingerprint is one long — cheap to carry through the band join
    // (unlike minhashLsh, where the shingle arrays must stay behind)
    val banded = hs.select(
      col("doc_id"), col("simhash"),
      posexplode(
        array((0 until bands).map(b =>
          shiftright(col("simhash"), b * bitsPerBand).bitwiseAND(lit(mask))): _*))
        .as(Seq("band_idx", "band_val")))
    val a = banded.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_a"), col("simhash").as("ha"))
    val b = banded.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_b"), col("simhash").as("hb"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * SimHash document fingerprint: per word-occurrence hash, each bit
   * position votes ±1; the sign of the per-bit sum becomes the bit.
   * ONE groupBy(doc) with a single native bit-vote aggregate
   * (graft.functions.SimHashAgg: one int[60] buffer, one update loop)
   * — a single shuffle with map-side partial aggregation; the
   * 60-parallel-conditional-sums form shuffled 60 long columns and
   * evaluated 60 codegen'd branches per row, and the naive
   * explode-by-bit form would shuffle 60× the data.
   */
  def simhash(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
      .withColumn("hv", mdhash(col("w")))
      .groupBy("doc_id")
      .agg(graft.functions.Aggs.simhash(col("hv"), SimhashBits).as("simhash"))
}
