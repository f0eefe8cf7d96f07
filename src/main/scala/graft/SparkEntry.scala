package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Archives, AudioFp, Captions, VideoDup, Correlate, Dedup, ImageHash, Ingest, Materialize, Metrics, Multimodal, Pii, Relational, Sampling, Schedule, Similarity, TextAnalysis, ZstdTransport}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * Each entry is one operator from SURVEY.md §2, expressed Spark-first
 * (declarative DataFrame; Catalyst plans it) with a DuckDB oracle twin.
 * Column names and types are aligned between both sides (driver compare
 * sorts columns by name and hashes values). Numeric conventions:
 * fixed-decimal sums go through DECIMAL (order-independent exactness,
 * see Metrics.exactSum); counts are BIGINT on both sides; DuckDB's
 * ns-precision event timestamps are CAST to µs TIMESTAMP to match
 * Spark's reader (see Tables.events).
 */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
   * The reference's flagship rule shape: "order placed but not paid
   * within T ⇒ reminder" (reference:
   * examples/online_shop/rules/CheckOrderPayment.php:65-86), on the
   * events fixture: signup with no purchase within 1 hour. */
  def entry(spark: SparkSession): DataFrame =
    Correlate.sequenceTimeout(
      Tables.events(spark, "/root/testdata/sf0.001"), "signup", "purchase", "1 HOUR")

  /** DuckDB CTE normalising events.ts (TIMESTAMP_NS) to µs precision —
   * identical values to Spark's ns→µs truncating reader. */
  private val E =
    "WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.3 filters / projections -------------------------------
    "q_f1_dispatch" -> ((s, d) =>
      Relational.ofType(Tables.events(s, d), "error")
        .select("event_id", "user_id", "ts")),
    "q_f7_validate_enrich" -> ((s, d) =>
      Relational.validateEnrichFilter(Tables.events(s, d))),
    "q_f8_range" -> ((s, d) =>
      Tables.events(s, d)
        .filter(Relational.rangeInclusive(col("value"), 50.0, 150.0))
        .select("event_id", "value")),
    "q_f10_clamp" -> ((s, d) =>
      Relational.receivedTimeClamp(
        Tables.events(s, d), lit("2024-01-15 00:00:00").cast("timestamp"))),
    "q_f6_suppress" -> ((s, d) =>
      Correlate.suppressDuplicates(Tables.events(s, d))
        .select("event_id", "user_id", "event_type", "ts")),
    // ---- §2.4 correlation -----------------------------------------
    "q_j1_seq_pair" -> ((s, d) =>
      Correlate.sequencePair(Tables.events(s, d), "signup", "purchase")),
    "q_j2_seq_timeout" -> ((s, d) =>
      Correlate.sequenceTimeout(Tables.events(s, d), "signup", "purchase", "1 HOUR")),
    "q_j3_match_single" -> ((s, d) =>
      Relational.ofType(Tables.events(s, d), "signup", "purchase")
        .select("event_id", "user_id", "event_type", "ts")),
    "q_j5_sessions" -> ((s, d) =>
      Correlate.gapSessions(Tables.events(s, d), gapSec = 1800L)),
    "q_j6_chain" -> ((s, d) =>
      Correlate.chainedEscalation(Tables.events(s, d), "signup", "purchase", "1 HOUR", 3L)),
    "q_j7_first_per_key" -> ((s, d) =>
      Correlate.firstPerKey(Tables.events(s, d), "signup")),
    "q_j9_enrich_memory" -> ((s, d) =>
      Correlate.enrichFromMemory(Tables.events(s, d), "purchase", "error")),
    "q_j10_asof" -> ((s, d) =>
      Correlate.asOfEnrich(Tables.events(s, d), "purchase", "view")),
    // q_j11: multi-step funnel reach — the one-call analytics face of
    // the chained sequence rules (J1/J6 building blocks)
    "q_j11_funnel" -> ((s, d) =>
      Correlate.funnel(Tables.events(s, d), Seq("signup", "view", "purchase"))),
    // q_j12: weekly retention cohorts (first-seen week × offset reach)
    "q_j12_retention" -> ((s, d) =>
      Correlate.retentionCohorts(Tables.events(s, d))),
    // q_j13: the funnel under the reference's per-step gap timeouts —
    // each step must land within a day of the previous one's earliest
    // completion (at sf0.01: 150 → 39 → 15 keys, vs q_j11's untimed
    // 150 → 150 → 150 — the timeout demonstrably drops conversions)
    "q_j13_funnel_timed" -> ((s, d) =>
      Correlate.funnelTimed(Tables.events(s, d), Seq("signup", "view", "purchase"),
        Seq(86400L, 86400L))),
    // ---- §2.5 metrics ---------------------------------------------
    "q_a1_eps" -> ((s, d) => Metrics.epsCounter(Tables.events(s, d), "minute")),
    "q_a2_load_avg" -> ((s, d) => Metrics.loadAverage(Tables.events(s, d), 60)),
    "q_a3_stats" -> ((s, d) => Metrics.statistics(Tables.events(s, d))),
    "q_a5_histogram" -> ((s, d) => Metrics.histogram(Tables.documents(s, d), "n_chars")),
    "q_a6_chain_accessors" -> ((s, d) => Metrics.chainAccessors(Tables.events(s, d))),
    "q_a7_trailing_chain" -> ((s, d) => Metrics.trailingChain(Tables.events(s, d), 5)),
    "q_a8_recent_events" -> ((s, d) => Metrics.recentEvents(Tables.events(s, d), 100)),
    "q_j4_chain_state" -> ((s, d) => Metrics.lastChainState(Tables.events(s, d), 3)),
    "q_a9_percentiles" -> ((s, d) => Metrics.percentiles(Tables.events(s, d))),
    // ---- §2.6 temporal --------------------------------------------
    "q_t1_cron_ticks" -> ((s, d) =>
      Schedule.ticks(Tables.events(s, d), Schedule.parse("*/15 9-17 * * 1-5"))),
    "q_t2_cron_tz" -> ((s, d) =>
      Schedule.ticksTz(Tables.events(s, d), Schedule.parse("30 9 * * 1-5"), "America/New_York")),
    // ---- relational enrichment faces ------------------------------
    "q_r1_pricing_summary" -> ((s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),
    "q_r2_customer_geo" -> ((s, d) =>
      Relational.customerGeo(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_r3_customer_revenue" -> ((s, d) =>
      Relational.customerRevenue(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_r4_regional_volume" -> ((s, d) =>
      Relational.regionalVolume(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d))),
    "q_r5_forecast_revenue" -> ((s, d) => Relational.forecastRevenue(Tables.lineitem(s, d))),
    // q_d6: connected components over near-dup pairs. Pairs come from
    // the banded MinHash finder (high-recall 20×2 banding + exact
    // verify — the O(n·bands) plan that survives 100 TB); the exact
    // posting-list finder stays as the DedupSpec baseline only.
    "q_d6_dup_clusters" -> ((s, d) =>
      Dedup.duplicateClusters(
        Dedup.minhashLsh(Tables.documents(s, d), 3, bands = 20, rowsPerBand = 2, 0.5))),
    // q_d8: the cleaned corpus — every unclustered doc + one canonical
    // representative per near-dup cluster (the pipeline's end product),
    // over the same banded pair finder as q_d6
    "q_d8_dedup_apply" -> ((s, d) =>
      Dedup.applyNearDedup(Tables.documents(s, d),
        Dedup.minhashLsh(Tables.documents(s, d), 3, bands = 20, rowsPerBand = 2, 0.5))),
    // ---- training-data pipeline: dedup ----------------------------
    "q_d1_exact_dedup" -> ((s, d) => Dedup.exactDedup(Tables.documents(s, d))),
    "q_d2_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(Tables.documents(s, d))),
    // q_d3: near-exact Jaccard pairs via HIGH-RECALL banding (20 bands
    // of 2 → P(candidate | j=0.5) ≈ 0.997) + exact verify — the scale
    // face of the quadratic posting-list self-join, which stays as the
    // oracle baseline inside DedupSpec only
    "q_d3_ngram_jaccard" -> ((s, d) =>
      Dedup.minhashLsh(Tables.documents(s, d), 3, bands = 20, rowsPerBand = 2, 0.5)),
    "q_d4_simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d))),
    // q_d5: LSH-bucketed near-dup (multi-probe Hamming-1) — the O(n²)
    // all-pairs form is the spec-test baseline, not an exported query
    "q_d5_embed_neardup" -> ((s, d) => Similarity.embeddingNearDupLsh(Tables.embeddings(s, d))),
    "q_d7_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(Tables.documents(s, d))),
    // q_d10: incremental dedup — the per-ingest workflow: a NEW batch
    // (odd doc ids here) deduped against the already-INDEXED corpus
    // (even ids); only the batch is shingled per run at scale, the
    // index's band table is precomputed
    "q_d10_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.minhashLshIncremental(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    // q_d11: C4-style cross-corpus span dedup — repeated word spans
    // removed corpus-wide (keep first occurrence), documents
    // reassembled from the surviving spans
    "q_d11_span_dedup" -> ((s, d) => Dedup.spanDedup(Tables.documents(s, d))),
    // q_d9: connected components over the EMBEDDING near-dup pairs —
    // the semantic-dedup cluster table (q_d6's lexical counterpart);
    // same O(log diameter) min-label clustering, pairs from the
    // LSH-bucketed finder
    "q_d9_embed_clusters" -> ((s, d) =>
      Dedup.duplicateClusters(
        Similarity.embeddingNearDupLsh(Tables.embeddings(s, d))
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("cluster"))),
    // ---- training-data pipeline: similarity search ----------------
    // (ivfTopK — the k-means IVF variant — is library-only: its
    // trained centroids are not SQL-replicable; recall vs q_s1 is
    // asserted in SimilaritySpec and q_s5 oracle-checks the same
    // inverted-file layout with fixed centroids)
    "q_s1_ann_topk" -> ((s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d))),
    "q_s2_ann_lsh" -> ((s, d) => Similarity.lshTopK(Tables.embeddings(s, d))),
    "q_s4_ann_sq8" -> ((s, d) => Similarity.quantizedTopK(Tables.embeddings(s, d))),
    "q_s5_ann_ivf_fixed" -> ((s, d) => Similarity.ivfFixedTopK(Tables.embeddings(s, d))),
    // q_s10: the PERSISTED inverted-file face — assignment written
    // once partitioned by cell, queries read only probed cells
    // (partition pruning pinned in PlanAuditSpec); results — and the
    // oracle — are identical to q_s5 by construction. The index is
    // keyed by the fixture's leaf-file content identity (md5 of every
    // file's name/mtime/size — Similarity.ensureIvfIndex) and built
    // only when missing — the amortisation IS the operator's point,
    // and a regenerated fixture (even overwritten in place) changes
    // the key, so staleness cannot leak into the correctness gate.
    "q_s10_ann_ivf_index" -> ((s, d) => {
      val dir = Similarity.ensureIvfIndex(
        s"$d/embeddings.parquet", Tables.embeddings(s, d))
      Similarity.ivfIndexTopK(s.read.parquet(dir),
        Tables.embeddings(s, d).filter(org.apache.spark.sql.functions.col("vec_id") < 20))
    }),
    // ---- training-data pipeline: text analysis --------------------
    "q_x1_langid" -> ((s, d) => TextAnalysis.languageId(Tables.documents(s, d))),
    "q_x2_tokens" -> ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))),
    "q_x3_quality" -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "q_x4_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "q_x6_unigram_logprob" -> ((s, d) => TextAnalysis.unigramLogProb(Tables.documents(s, d))),
    "q_x7_winnow" -> ((s, d) => TextAnalysis.winnow(Tables.documents(s, d))),
    "q_x8_repetition" -> ((s, d) => TextAnalysis.repetitionSignals(Tables.documents(s, d))),
    "q_x9_bigram_logprob" -> ((s, d) => TextAnalysis.bigramLogProb(Tables.documents(s, d))),
    "q_x10_decontam" -> ((s, d) => TextAnalysis.decontaminate(Tables.documents(s, d))),
    "q_x11_collocations" -> ((s, d) => TextAnalysis.collocations(Tables.documents(s, d))),
    "q_x12_top_terms" -> ((s, d) => TextAnalysis.topTerms(Tables.documents(s, d))),
    "q_x13_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(Tables.documents(s, d))),
    "q_x14_source_mix" -> ((s, d) => TextAnalysis.sourceMixWeights(Tables.documents(s, d))),
    "q_x15_top_terms_lang" -> ((s, d) =>
      TextAnalysis.topTermsPerGroup(Tables.documents(s, d), "lang", 10)),
    // q_x17: per-document TF-IDF keyword head (smoothed idf, scores
    // rounded before ranking so the oracle orders identically)
    "q_x17_tfidf" -> ((s, d) => TextAnalysis.tfidfTopTerms(Tables.documents(s, d))),
    // q_x21: adjacent character-pair statistics — the first round of
    // BPE vocabulary learning as a table (the top row is the merge a
    // trainer would pick); map-side-combine wordcount shape
    "q_x21_byte_pairs" -> ((s, d) =>
      TextAnalysis.bytePairStats(Tables.documents(s, d))),
    // q_x22: ITERATED BPE training — 8 merge rounds over the
    // distinct-word frequency table (the pair table re-derived each
    // round, argmax applied as one codegen'd sentinel-framed
    // replace), emitting the merge table a tokenizer trainer ships
    "q_x22_bpe_train" -> ((s, d) =>
      TextAnalysis.bpeTrain(s, Tables.documents(s, d))),
    // q_x18: fixed-size overlapping token chunks — context-window prep;
    // pure map-side (no shuffle at any scale)
    "q_x18_chunks" -> ((s, d) => TextAnalysis.chunk(Tables.documents(s, d))),
    "q_s6_knn_label" -> ((s, d) => Similarity.knnClassify(Tables.embeddings(s, d))),
    "q_s7_ann_pq" -> ((s, d) => Similarity.pqTopK(Tables.embeddings(s, d))),
    // q_s8: per-(label, position) centroid sums — label-cluster
    // diagnostics over the normalised embedding space (centroid =
    // sum_x / n_vecs; exact DECIMAL sums, order-independent)
    "q_s8_label_centroids" -> ((s, d) =>
      Similarity.labelCentroidSums(Tables.embeddings(s, d))),
    // q_s9: recall@10 of every approximate index (LSH, IVF, PQ, SQ8)
    // vs the brute-force baseline — index quality as a first-class,
    // oracle-checked query (both sides deterministic)
    "q_s9_ann_recall" -> ((s, d) =>
      Similarity.recallAtK(Tables.embeddings(s, d))),
    // q_s11: spherical k-means Lloyd iterations — the IVF centroid
    // TRAINING step (q_s5/q_s10 run fixed seed centroids; this learns
    // them). Assignment is map-side against literal centroids; every
    // cross-engine float is pinned (round 6 sims, round 9 centroid
    // dims), so the oracle replays both iterations exactly
    "q_s11_kmeans" -> ((s, d) =>
      Similarity.kmeansAssign(Tables.embeddings(s, d))),
    // q_s12: IVF search over the TRAINED k-means centroids — the full
    // production recipe (train → assign → probe → score) end to end;
    // the oracle replays the training chain and the search
    "q_s12_ann_ivf_trained" -> ((s, d) =>
      Similarity.ivfTrainedTopK(Tables.embeddings(s, d))),
    // 0.68 ≈ the fixture's median quality score, so the gate demonstrably
    // filters (~half the corpus survives) rather than passing everything
    "q_x16_ingest_gate" -> ((s, d) => Ingest.runBatch(Tables.documents(s, d), minQuality = 0.68)),
    "q_x5_corpus_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("total_ws_tokens"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
    }),
    // ---- training-data pipeline: deterministic sampling -----------
    "q_p1_hash_sample" -> ((s, d) =>
      Sampling.hashSample(Tables.documents(s, d), col("doc_id"), 0.25)
        .select("doc_id", "lang")),
    "q_p2_stratified" -> ((s, d) =>
      Sampling.stratifiedHashSample(Tables.documents(s, d), col("doc_id"), col("lang"),
        Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.25))
        .select("doc_id", "lang")),
    "q_p3_split" -> ((s, d) =>
      Sampling.split(Tables.documents(s, d), col("doc_id"))
        .select("doc_id", "split")),
    // q_p4: temperature-resampled source mixture (α = 0.5) — the apply
    // stage of the q_x14 mixing weights: expected sampled token mass
    // per source ∝ n_tokens^α
    "q_p4_weighted_mix" -> ((s, d) =>
      Sampling.weightedMixSample(Tables.documents(s, d), col("doc_id"))),
    // q_p5: contiguous token-budget shards per source — deterministic
    // corpus packing into ~equal-token training shards
    "q_p5_token_shards" -> ((s, d) =>
      Sampling.tokenShards(Tables.documents(s, d))),
    // q_p6: per-source dominance cap — at most n docs per source in
    // stable hash order (membership never shifts as the corpus grows)
    "q_p6_source_cap" -> ((s, d) =>
      Sampling.perSourceCap(Tables.documents(s, d))),
    // q_p7: deterministic global corpus shuffle + re-shard — the
    // pre-training "shuffle then shard" permutation as a pure hash
    // function of (seed, doc_id); no global sort, one shard-keyed
    // window for within-shard positions
    "q_p7_shuffle_shards" -> ((s, d) =>
      Sampling.shuffleShards(Tables.documents(s, d))),
    // q_p8: concat-and-chunk sequence packing — fixed 512-token
    // training sequences per source; docs straddling a cut emit one
    // span row per touched sequence (unlike q_p5's whole-doc shards)
    "q_p8_pack_sequences" -> ((s, d) =>
      Sampling.packSequences(Tables.documents(s, d))),
    // q_p9: repeat-factor epoch mixing — deterministic fractional
    // OVERsampling (floor(r) copies + hash-gated extra), the
    // up-weighting half of the mixing recipe (q_p4 is the
    // down-sampling half); weights chosen to exercise whole copies,
    // fractional copies, and sub-1 subsampling in one run
    "q_p9_repeat_mix" -> ((s, d) =>
      Sampling.repeatFactorSample(Tables.documents(s, d), col("doc_id"),
        Map("src0" -> 2.5, "src1" -> 1.5, "src2" -> 0.4))),
    // q_p10: leakage-safe split — near-dup clusters (q_d6's banded
    // finder + CC) hash as ONE unit, so a val doc can never have a
    // near-copy in train; singletons split on their own id (q_p3's
    // exact assignment for everything unclustered)
    "q_p10_cluster_split" -> ((s, d) =>
      Sampling.clusterSplit(Tables.documents(s, d),
        Dedup.minhashLsh(Tables.documents(s, d), 3, bands = 20,
          rowsPerBand = 2, 0.5))),
    // ---- training-data pipeline: multimodal plumbing --------------
    "q_m1_media_meta" -> ((s, d) => Multimodal.mediaMeta(Tables.documents(s, d))),
    // q_m2: REAL binary image-header decode (PNG IHDR + JPEG segment
    // walk) over the binary media fixture; the oracle re-parses the
    // same blobs with DuckDB hex arithmetic
    "q_m2_image_meta" -> ((s, _) => Multimodal.imageMetaTable(s, Tables.media(s))),
    // q_m3: REAL audio/container header decode (WAV RIFF chunk walk +
    // GIF logical screen + BMP info header, incl. top-down negative
    // heights) over the binary AV fixture; the oracle re-parses the
    // same blobs with DuckDB little-endian hex arithmetic
    "q_m3_av_meta" -> ((s, _) => Multimodal.avMetaTable(s, Tables.av(s))),
    // q_m4: REAL MP4/ISO-BMFF box-walk decode (ftyp sniff, moov/mvhd
    // v0 AND v1 timescale+duration, trak/tkhd 16.16 fixed-point
    // dimensions) over the binary MP4 fixture; the oracle re-parses
    // the same blobs with DuckDB big-endian hex arithmetic
    "q_m4_mp4_meta" -> ((s, _) => Multimodal.avMetaTable(s, Tables.mp4(s))),
    // q_m5: REAL audio-container decode beyond plain PCM WAV — AIFF
    // COMM (80-bit extended sample rate), AU BE header words, and
    // G.711 companded WAV (format tags 6/7); the oracle re-parses the
    // same blobs with DuckDB hex arithmetic, including the extended
    // float's exponent/mantissa expansion
    "q_m5_audio_meta" -> ((s, _) => Multimodal.avMetaTable(s, Tables.audio(s))),
    // q_m6: REAL Ogg container decode — Opus (48 kHz granule clock
    // minus pre-skip) and Vorbis (stream-rate granules) durations from
    // the LAST page's granule position; the oracle re-parses the same
    // blobs with DuckDB hex arithmetic at the builders' page offsets
    "q_m6_ogg_meta" -> ((s, _) => Multimodal.avMetaTable(s, Tables.ogg(s))),
    // q_m7: REAL AVI video-frame chunk walk — RIFF walk to the `movi`
    // LIST, one row per `00dc` MJPEG frame chunk with its byte offset,
    // length and a JPEG-signature probe; the oracle re-derives every
    // chunk coordinate from the fixture's published header fields
    // (frame count / uniform chunk size read from avih) and checks the
    // JPEG magic at the computed offsets with DuckDB hex arithmetic
    "q_m7_avi_frames" -> ((s, _) => Multimodal.aviFrameTable(s, Tables.avi(s))),
    // q_m8: REAL AVI header decode (RIFF/hdrl/avih walk — dimensions
    // and duration = usPerFrame * totalFrames) over the same fixture;
    // header-only rows keep the container identity with NULL duration
    "q_m8_avi_meta" -> ((s, _) => Multimodal.avMetaTable(s, Tables.avi(s))),
    // q_m9: REAL ISO-BMFF sample-table walk — stsd codec check, stsz
    // uniform sizes, stco/stsc chunk mapping — one row per MJPEG video
    // sample; the oracle re-derives every sample coordinate from an
    // INDEPENDENT anchor (the mdat box size at byte 16 + the fixture's
    // frame-count contract), so the two derivations must meet
    "q_m9_mp4_frames" -> ((s, _) => Multimodal.mp4FrameTable(s, Tables.mp4Mjpeg(s))),
    // q_m10: H.26x keyframe LOCATION without decode — the stss
    // sync-sample walk places every IDR sample via stsz/stco/stsc;
    // the oracle re-derives the full keyframe set from the fixture's
    // id contract (sync interval k, frame count) + the mdat box-size
    // anchor, then probes the NAL header byte at each coordinate
    "q_m10_mp4_keyframes" -> ((s, _) =>
      Multimodal.mp4KeyframeTable(s, Tables.mp4Avc(s))),
    // q_m11: the same keyframe location over FRAGMENTED MP4 (the
    // CMAF/DASH segment layout a streaming-video corpus ships) — sync
    // samples from the moof/traf/trun run tables; the oracle re-derives
    // every coordinate from box-size anchors (moov/moof/mdat sizes)
    // plus the fixture id contract, then probes the NAL header byte
    "q_m11_mp4_frag_keyframes" -> ((s, _) =>
      Multimodal.mp4FragmentedKeyframeTable(s, Tables.mp4Frag(s))),
    // q_m12: the audio analogue of keyframe sharding — one row per Ogg
    // PAGE (offset, size, granule clock position, BOS/EOS); the oracle
    // re-derives both pages' coordinates from the lacing tables in
    // DuckDB hex arithmetic and the granule/seq/flag fields from their
    // little-endian bytes
    "q_m12_ogg_pages" -> ((s, _) =>
      Multimodal.oggPageTable(s, Tables.ogg(s))),
    // q_m13: the THIRD container's shard list — WebM SimpleBlocks with
    // their keyframe flags, located by the EBML cluster walk; the
    // oracle re-derives every coordinate from the fixture's
    // fixed-width contract (first cluster at 54, uniform stride
    // S + 14 with S read back from the SimpleBlock size byte) and
    // reads track/time/flags from their own bytes
    "q_m13_webm_blocks" -> ((s, _) =>
      Multimodal.webmBlockTable(s, Tables.webm(s))),
    // q_m14: EXIF without decode — the pre-pixel metadata pass of an
    // image corpus (orientation to rotate-before-train, capture time,
    // camera make); the oracle re-walks the same TIFF IFD0 in DuckDB
    // hex arithmetic, scanning entries BY TAG (no entry-order
    // assumption) and dereferencing the ASCII value offsets
    "q_m14_exif" -> ((s, _) => Multimodal.exifTable(s, Tables.exif(s))),
    // q_m15: MP3 frame location without decode — sync word + the
    // published bitrate/samplerate tables give every frame's byte
    // length; the oracle re-derives the coordinates from the ID3v2
    // syncsafe size and the FIRST header's fields via the same
    // public formula, then probes the sync word at each offset
    "q_m15_mp3_frames" -> ((s, _) =>
      Multimodal.mp3FrameTable(s, Tables.mp3(s))),
    // q_m16: AAC/ADTS frame location — the header carries an EXPLICIT
    // 13-bit frame length, so the walk is syncword + length hop; the
    // oracle reads the same length bits from the first header and
    // re-derives every coordinate, probing the syncword at each
    "q_m16_aac_frames" -> ((s, _) =>
      Multimodal.adtsFrameTable(s, Tables.aac(s))),
    // q_m17: MPEG-TS shard list (legacy-HLS `.ts` segments) — walk the
    // 188-byte packet grid, PAT → PMT → video PID by STREAM TYPE (the
    // fixture lists an audio stream first + sends RAI-flagged audio
    // decoy packets, so order- or any-PES-based selection fails), one
    // row per video PES start with the adaptation field's
    // random_access_indicator; the oracle re-reads the video PID from
    // the PMT's fixed-layout bytes and re-derives every packet's
    // PID/PUSI/AF fields from its own header bytes in DuckDB hex
    // arithmetic — a full independent grid walk, not a count contract
    "q_m17_ts_pes" -> ((s, _) =>
      Multimodal.tsPesTable(s, Tables.ts(s))),
    // q_m18: WebVTT/SRT cue extraction — blank-line blocks, a `-->`
    // timing line with optional-hour dot/comma timestamps, identifier
    // and counter lines skipped, multi-line text preserved; the oracle
    // re-parses the same payloads relationally in DuckDB (block split,
    // regexp timing extract, text = block minus the timing prefix)
    "q_m18_caption_cues" -> ((s, _) =>
      Captions.cueTable(s, Tables.captions(s))),
    // q_m19: clip-caption pairs — the cue table range-joined to the
    // q_m10 keyframe time axis (stts prefix sums over the mdhd
    // timescale give each keyframe's start ms): one row per (cue,
    // in-window keyframe), the unit an AV-text training set is made
    // of; equi-join on media_id, range predicate in the condition —
    // no cartesian (plan-pinned)
    "q_m19_clip_captions" -> ((s, _) =>
      Captions.clipCaptionPairs(
        Captions.cueTable(s, Tables.captions(s)),
        Multimodal.mp4KeyframeTimeTable(s, Tables.mp4Avc(s)))),
    // q_m20: FLAC frame location + STREAMINFO identity — the metadata
    // chain walk finds the audio start, the 14-bit sync scan finds
    // each frame boundary (FLAC headers carry no length field), and
    // every row carries the packed rate/channels/bits/total fields;
    // the oracle unpacks the same STREAMINFO word from its bytes and
    // re-derives each frame coordinate from the size contract
    "q_m20_flac_frames" -> ((s, _) =>
      Multimodal.flacFrameTable(s, Tables.flac(s))),
    // q_m21: the TS time axis — each PES start's 33-bit/90 kHz PTS
    // from the PES header's marker-bit encoding, as milliseconds; the
    // oracle re-decodes the same five header bytes in hex arithmetic
    "q_m21_ts_pts" -> ((s, _) =>
      Multimodal.tsPtsTable(s, Tables.ts(s))),
    // q_m22: the FRAGMENTED-MP4 time axis — tfdt baseMediaDecodeTime
    // + trun/tfhd/trex durations over the mdhd timescale give each
    // CMAF keyframe its decode time; the oracle re-derives it from
    // the fixture's shared per-sample clock contract
    "q_m22_frag_keyframe_times" -> ((s, _) =>
      Multimodal.mp4FragmentedKeyframeTimeTable(s, Tables.mp4Frag(s))),
    // q_m23: clip-caption pairs over the TS axis — the SAME pairing
    // op as q_m19 against tsPtsTable's (media_id, t_ms), proving the
    // alignment is container-generic; NULL-PTS rows can never match
    // the window predicate
    "q_m23_ts_clip_captions" -> ((s, _) =>
      Captions.clipCaptionPairs(
        Captions.cueTable(s, Tables.captions(s)),
        Multimodal.tsPtsTable(s, Tables.ts(s)))),
    // q_m24: clip EXTRACTION coordinates — per cue, the byte span a
    // ranged read fetches: first in-window keyframe offset → the
    // next keyframe after the last in-window one (file end caps the
    // final span); the oracle replays the LEAD window + min/max over
    // its own keyframe derivation
    "q_m24_clip_byte_spans" -> ((s, _) =>
      Captions.clipByteSpans(
        Captions.cueTable(s, Tables.captions(s)),
        Multimodal.mp4KeyframeTimeTable(s, Tables.mp4Avc(s)),
        Tables.mp4Avc(s))),
    // q_m25: the AUDIO time axis — Ogg pages with granule positions
    // converted to ms by the BOS packet's clock (Opus 48 kHz minus
    // pre-skip, Vorbis stream rate); the oracle re-reads the clock
    // from the identification packet's fixed-offset bytes
    "q_m25_ogg_page_times" -> ((s, _) =>
      Multimodal.oggPageTimeTable(s, Tables.ogg(s))),
    // q_m26: transcript↔audio alignment — the same pairing op over
    // the Ogg page time axis: cues match the pages whose audio ends
    // inside their window, the shard unit an ASR training pair needs
    "q_m26_audio_clip_captions" -> ((s, _) =>
      Captions.clipCaptionPairs(
        Captions.cueTable(s, Tables.captions(s)),
        Multimodal.oggPageTimeTable(s, Tables.ogg(s)))),
    // q_m27: the WebM time axis — SimpleBlock ticks × the Info
    // TimestampScale (ns/tick) as milliseconds; the oracle reads the
    // scale from its own EBML bytes and replays the conversion
    "q_m27_webm_block_times" -> ((s, _) =>
      Multimodal.webmBlockTimeTable(s, Tables.webm(s))),
    // q_m28: cue pairing over WebM — KEYFRAME blocks only (where clip
    // decode can start), the fourth video layout through the same
    // generic pairing op
    "q_m28_webm_clip_captions" -> ((s, _) =>
      Captions.clipCaptionPairs(
        Captions.cueTable(s, Tables.captions(s)),
        Multimodal.webmBlockTimeTable(s, Tables.webm(s))
          .filter(col("is_key")))),
    // q_m29: the caption-text normaliser as an opt-in projection over
    // the q_m18 cues — markup/override strip + whitespace collapse,
    // three codegen'd regexp passes; the oracle runs the identical
    // patterns over its own cue re-parse
    "q_m29_caption_text_clean" -> ((s, _) =>
      Captions.cueTable(s, Tables.captions(s))
        .select(col("media_id"), col("cue_idx"), col("text"),
          Captions.cleanCueText(col("text")).as("clean_text"))),
    // q_m30: end-to-end multimodal CLIP CURATION — the full pipeline
    // composed from green pieces: clip byte spans (q_m24's ranged-read
    // coordinates) + normalised caption text (q_m29) + language ID
    // (q_x1's marker argmax) with empty-after-cleaning cues dropped.
    // One row per curated (clip bytes, caption, language) training
    // record. Scale shape is the pieces': map-side cue/keyframe
    // kernels, one window shuffle, keyed joins, per-cue aggregation —
    // the langid/normalise layer is pure projection on top
    "q_m30_clip_curation" -> ((s, _) =>
      Captions.clipByteSpans(
          Captions.cueTable(s, Tables.captions(s)),
          Multimodal.mp4KeyframeTimeTable(s, Tables.mp4Avc(s)),
          Tables.mp4Avc(s))
        .withColumn("clean_text", Captions.cleanCueText(col("text")))
        .filter(col("clean_text") =!= "")
        .select(col("media_id"), col("cue_idx"), col("start_ms"),
          col("end_ms"), col("byte_from"), col("byte_to"),
          col("n_keyframes"), col("clean_text"),
          TextAnalysis.predictedLangCol(col("clean_text"))
            .as("predicted_lang"))),
    // ---- corpus-archive walkers: the shard formats a training-data
    //      pipeline reads (Common Crawl WARC, WebDataset tar, ZIP) ----
    // q_w1: WARC record table — the Common Crawl shard list: version
    // line + case-insensitive headers + Content-Length hops; the
    // oracle re-walks the records with a recursive CTE over the
    // decoded bytes (header scan, Content-Length extract, framing
    // hops) — a full independent walk, not a count contract
    "q_w1_warc_records" -> ((s, _) =>
      Archives.warcRecordTable(s, Tables.warc(s))),
    // q_w2: tar member table — the WebDataset shard index: 512-byte
    // ustar headers, octal size decode, payload hops on the 512 grid;
    // the oracle re-walks the grid recursively with its own octal
    // arithmetic
    "q_w2_tar_members" -> ((s, _) =>
      Archives.tarMemberTable(s, Tables.tar(s))),
    // q_w3: ZIP entry table — EOCD backward scan (past the archive
    // comment) → central directory walk; data offsets re-read each
    // LOCAL header (its extra length differs from the central one in
    // the fixture); the oracle replays all of it in LE hex arithmetic
    "q_w3_zip_entries" -> ((s, _) =>
      Archives.zipEntryTable(s, Tables.zip(s))),
    // q_w4: WebDataset SAMPLE table — tar members grouped at the
    // FIRST dot of the member name (jpg+txt+meta.json of one key form
    // one training sample); one groupBy over fixed-shape index rows
    "q_w4_webdataset_samples" -> ((s, _) =>
      Archives.webdatasetSamples(
        Archives.tarMemberTable(s, Tables.tar(s)))),
    // q_w5: .warc.gz member table — the format Common Crawl actually
    // ships (one gzip member per record): RFC 1952 header framing,
    // JDK raw-DEFLATE inflation to find each member's compressed
    // span, ISIZE-checked trailers, record identity from the inflated
    // header. The oracle re-derives member spans from the BYTES (a
    // scan for the fixture's pinned 10-byte gzip header) and the
    // record identity from the fixture's id contract — DuckDB cannot
    // inflate, so the contract anchors what the compressed bytes hide
    "q_w5_warcgz_members" -> ((s, _) =>
      Archives.warcGzMemberTable(s, Tables.warcgz(s))),
    // q_w6: HTTP split of WARC response records — the entry point for
    // actual text extraction: status line + headers parsed out of the
    // payload span, body byte coordinates emitted (absolute, so they
    // compose with q_w1/q_w5); responses whose payload isn't a
    // splittable HTTP message (no CRLFCRLF, non-HTTP bytes) emit
    // nothing, per the walkers' claim-only-what-parses discipline
    "q_w6_warc_http" -> ((s, _) =>
      Archives.warcHttpTable(s, Tables.warc(s))),
    // q_w7: WET-style text extraction — the 200/text/* body strings
    // from the HTTP split, plus the visible text after script/style
    // subtree drop, tag strip, entity decode and whitespace collapse;
    // the oracle replays the identical chain over its own re-walk
    "q_w7_warc_body_text" -> ((s, _) =>
      Archives.warcBodyTextTable(s, Tables.warc(s))
        .withColumn("visible_text",
          TextAnalysis.htmlVisibleText(col("body_text")))),
    // q_w8: end-to-end WEB TEXT CURATION — the Common Crawl pipeline
    // composed from green pieces: record walk → HTTP split → WET
    // extraction → language ID + quality score per document, empty
    // extractions dropped. The web-text twin of q_m30's clip curation
    "q_w8_web_text_curation" -> ((s, _) =>
      Archives.warcBodyTextTable(s, Tables.warc(s))
        .select(col("media_id"), col("record_idx"), col("content_type"),
          TextAnalysis.htmlVisibleText(col("body_text")).as("text"))
        .filter(col("text") =!= "")
        .withColumn("predicted_lang", TextAnalysis.predictedLangCol(col("text")))
        .withColumn("quality_score", TextAnalysis.qualityScoreCol(col("text")))),
    // q_w9: WET extraction straight off the COMPRESSED `.warc.gz`
    // members (how Common Crawl actually ships) — per-member bounded
    // inflate window, HTTP split inside it, body text out with an
    // explicit `truncated` flag when a body passes the 1 MiB cap;
    // member_idx aligns with q_w5's fetch coordinates
    "q_w9_warcgz_body_text" -> ((s, _) =>
      Archives.warcGzBodyTextTable(s, Tables.warcgz(s))
        .withColumn("visible_text",
          TextAnalysis.htmlVisibleText(col("body_text")))),
    // q_w10: host-level corpus statistics — the table web curation
    // keys on (spam-domain lists, per-host sampling caps): records
    // grouped by the URI authority with record/distinct-URI/byte
    // counts; aggregation touches only index rows, never blobs
    "q_w10_url_host_stats" -> ((s, _) =>
      Archives.urlHostStats(Archives.warcRecordTable(s, Tables.warc(s)))),
    // q_w11: URL keep-latest dedup — the standard crawl rule: many
    // shards fetch the same URL over time, keep the most recent
    // response per URI (WARC-Date descending, deterministic
    // tie-break); one URI-keyed window shuffle over index rows
    "q_w11_url_dedup" -> ((s, _) =>
      Archives.urlDedup(Archives.warcRecordTable(s, Tables.warc(s)))),
    // q_w13: per-host page cap AFTER keep-latest URL dedup — the
    // dominance control of web curation (crawler-trap domains can't
    // swamp the corpus): at most 15 pages per host in stable
    // URI-hash order; one host-keyed window over index rows
    "q_w13_host_cap" -> ((s, _) =>
      Archives.hostCap(
        Archives.urlDedup(Archives.warcRecordTable(s, Tables.warc(s))), 15)),
    // q_w14: URL rule filter AUDIT — the curation stage that rejects
    // pages on the URI alone (blocklist broadcast join + IP-host /
    // extension / query-spam / path-depth / length rules), every
    // deduped URL with its first-matching `blocked_reason` or NULL;
    // rules are map-side codegen, the blocklist ships broadcast
    "q_w14_url_filter" -> ((s, _) => {
      import s.implicits._
      Archives.urlFilter(
        Archives.urlDedup(Archives.warcRecordTable(s, Tables.warc(s))),
        Archives.defaultBlockedHosts.toDF("blocked_host"))
    }),
    // q_w15: end-to-end CORPUS BUILD — the full web-curation chain
    // from green pieces: record walk → keep-latest URL dedup → URL
    // rule filter (kept rows only) → per-host cap → WET text
    // extraction joined back on the kept coordinates → language ID +
    // quality score. What a Common Crawl → training-corpus job runs.
    "q_w15_corpus_build" -> ((s, _) => {
      import s.implicits._
      val warc = Tables.warc(s)
      val kept = Archives.urlFilter(
          Archives.urlDedup(Archives.warcRecordTable(s, warc)),
          Archives.defaultBlockedHosts.toDF("blocked_host"))
        .filter(col("blocked_reason").isNull)
      val capped = Archives.hostCap(kept, 15)
      val text = Archives.warcBodyTextTable(s, warc)
        .select(col("media_id"), col("record_idx"), col("content_type"),
          TextAnalysis.htmlVisibleText(col("body_text")).as("text"))
        .filter(col("text") =!= "")
      capped.join(text, Seq("media_id", "record_idx"))
        .select(col("host"), col("target_uri"), col("media_id"),
          col("record_idx"), col("pick"), col("content_type"), col("text"),
          TextAnalysis.predictedLangCol(col("text")).as("predicted_lang"),
          TextAnalysis.qualityScoreCol(col("text")).as("quality_score"))
    }),
    // q_w16: URL canonicalization + SURT key — every distinct crawl
    // URI with its canonical form (case/www/default-port/fragment/
    // tracking-param noise removed, remaining params sorted) and the
    // Common Crawl-style sort key; n_aliases counts URIs that merge
    // onto one canonical form (the fixture's alias records do).
    // Map-side projection + one canonical-keyed count window
    "q_w16_url_canonical" -> ((s, _) =>
      Archives.urlCanonical(
        Archives.warcRecordTable(s, Tables.warc(s))
          .filter(col("target_uri").isNotNull)
          .select("target_uri").distinct())
        .withColumn("n_aliases", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("canonical_uri")))),
    // q_w17: cross-snapshot CRAWL DELTA — what makes a monthly 100 TB
    // recrawl tractable: keep-latest + body-digest page identity per
    // snapshot (old = media_id < 300, new = media_id >= 200 — the
    // overlap yields real unchanged/changed rows), then one URI-keyed
    // full-outer join; downstream re-processes only added/changed
    "q_w17_crawl_delta" -> ((s, _) => {
      val warc = Tables.warc(s)
      def snap(pred: org.apache.spark.sql.Column) = {
        val m = warc.filter(pred)
        Archives.pageDigests(
          Archives.warcRecordTable(s, m), Archives.warcBodyTextTable(s, m))
      }
      Archives.crawlDelta(
        snap(col("media_id") < 300), snap(col("media_id") >= 200))
    }),
    // q_w20: robots.txt politeness filter — rules parsed from the
    // crawl's own robots.txt fetches (governing User-agent: * group
    // only), then RFC 9309 longest-match precedence per deduped page
    // (allow wins length ties) as a host-keyed join + per-page window
    "q_w20_robots" -> ((s, _) => {
      val warc = Tables.warc(s)
      val dd = Archives.urlDedup(Archives.warcRecordTable(s, warc))
      val texts = Archives.warcBodyTextTable(s, warc)
      val robots = dd.filter(col("target_uri").endsWith("/robots.txt"))
        .join(texts.select(col("media_id"), col("record_idx"),
          col("body_text")), Seq("media_id", "record_idx"))
        .select(lower(regexp_extract(col("target_uri"),
          "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)).as("host"),
          col("body_text").as("body"))
      Archives.robotsFilter(
        dd.filter(!col("target_uri").endsWith("/robots.txt")),
        Archives.robotsRules(robots))
    }),
    // q_w18: PDF xref-chain table — the object index of the web's
    // second-biggest document format, read like ZIP's central
    // directory: every entry of every section in the startxref→/Prev
    // chain (section 0 = latest), from CLASSIC 20-byte tables AND
    // PDF 1.5+ xref STREAMS (W-packed rows, Flate/ASCIIHex decoded,
    // PNG predictor undone), type-2 entries resolved through their
    // /ObjStm object streams; body-verified types/lengths throughout
    "q_w18_pdf_xref" -> ((s, _) =>
      Archives.pdfXrefTable(s, Tables.pdf(s))),
    // q_w19: resolved PDF object table — incremental updates
    // override per object number (PDF's own keep-latest rule) as a
    // WINDOW over q_w18's index rows, in-use + body-verified only
    // (object-stream members included); documents never shuffle
    "q_w19_pdf_objects" -> ((s, _) =>
      Archives.pdfObjectTable(s, Tables.pdf(s))),
    // q_w23: out-link extraction from the crawl's HTML pages —
    // absolute hrefs pass, root-relative hrefs resolve against the
    // page authority, everything else (mailto:, path-relative) is
    // skipped; map-side regex + explode over the WET rows
    "q_w23_links" -> ((s, _) =>
      Archives.linkTable(
        Archives.warcPageTable(s, Tables.warc(s))
          .filter(col("body_text").isNotNull &&
            lower(col("content_type")).startsWith("text/html")))
        .select("media_id", "record_idx", "target_uri", "link")),
    // q_w24: host-level link graph — (src_host, dst_host, n_links),
    // the aggregation link-spam and crawl-priority signals key on
    "q_w24_host_graph" -> ((s, _) =>
      Archives.hostLinkGraph(Archives.linkTable(
        Archives.warcPageTable(s, Tables.warc(s))
          .filter(col("body_text").isNotNull &&
            lower(col("content_type")).startsWith("text/html"))))),
    // q_w25: host PageRank — Common Crawl-style centrality for crawl
    // prioritisation, over the q_w24 graph in fixed-point BIGINT
    // arithmetic (scaled 1e12, integer division at defined points):
    // bit-reproducible across engines, partitionings and runs, which
    // floating-point PageRank never is. 10 iterations, each one edge
    // join + one dst-keyed aggregation of (host, rank) rows
    "q_w25_host_rank" -> ((s, _) =>
      Archives.hostRank(Archives.hostLinkGraph(Archives.linkTable(
        Archives.warcPageTable(s, Tables.warc(s))
          .filter(col("body_text").isNotNull &&
            lower(col("content_type")).startsWith("text/html")))))),
    // q_w26: CRAWL FRONTIER table — the per-host prioritisation view
    // a recrawl scheduler reads, composed from green pieces: PageRank
    // centrality (q_w25) joined host-keyed with the crawl's own host
    // statistics (q_w10), the robots Crawl-delay (q_w28 — the column
    // a scheduler actually throttles on) and the blocklist flag
    // (q_w14's list, broadcast). Hosts seen in the record walk but
    // absent from the link graph keep NULL rank (never linked —
    // crawl with caution); hosts without a robots Crawl-delay keep
    // NULL delay (politeness default is the scheduler's policy)
    "q_w26_crawl_frontier" -> ((s, _) => {
      import s.implicits._
      // ONE walk of the archive bytes feeds host statistics, the
      // link graph AND the robots directives: the managed page-table
      // scope persists the walk for the diamond, materializes the
      // tiny host-level frontier eagerly and releases the cache
      Archives.withPageTable(s, Tables.warc(s)) { pages =>
      val rank = Archives.hostRank(Archives.hostLinkGraph(Archives.linkTable(
        pages.filter(col("body_text").isNotNull &&
          lower(col("content_type")).startsWith("text/html")))))
      // robots bodies dedup to the LATEST fetch per robots URI before
      // directive parsing (same keep-latest rule as q_w11/q_w28):
      // several fetches of one host's robots.txt otherwise interleave
      // at equal line numbers inside the UA-attribution window and
      // the winning group would depend on partition order. The latest
      // fetch is picked among ALL responses for the URI — a final
      // fetch without a usable body (non-200, non-text) drops the
      // host rather than resurrecting an older body
      val delays = Archives.robotsDirectives(
        pages.filter(col("target_uri").endsWith("/robots.txt") &&
            lower(col("warc_type")) === "response")
          .groupBy("target_uri")
          .agg(max_by(col("body_text"),
            struct(col("warc_date"), (-col("media_id")).as("nm"),
              (-col("record_idx")).as("nr"))).as("body"))
          .filter(col("body").isNotNull)
          .select(lower(regexp_extract(col("target_uri"),
            "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)).as("host"),
            col("body")))
        .select(col("host"), col("crawl_delay_s"))
      Archives.urlHostStats(pages)
        .join(rank, Seq("host"), "left")
        .join(delays, Seq("host"), "left")
        .join(broadcast(Archives.defaultBlockedHosts.toDF("blocked_host")),
          col("host") === col("blocked_host"), "left")
        .select(col("host"), col("rank"), col("n_uris"),
          col("total_content_bytes"), col("crawl_delay_s"),
          col("blocked_host").isNotNull.as("is_blocked"))
      }
    }),
    // q_w28: per-host robots DIRECTIVES — Crawl-delay of the `*`
    // group (other groups correctly ignored) and every Sitemap URL
    // (group-agnostic per the sitemaps protocol), deduped + sorted;
    // the politeness knobs q_w20's allow/disallow face doesn't carry
    "q_w28_robots_directives" -> ((s, _) => {
      val warc = Tables.warc(s)
      val dd = Archives.urlDedup(Archives.warcRecordTable(s, warc))
      val texts = Archives.warcBodyTextTable(s, warc)
      Archives.robotsDirectives(
        dd.filter(col("target_uri").endsWith("/robots.txt"))
          .join(texts.select(col("media_id"), col("record_idx"),
            col("body_text")), Seq("media_id", "record_idx"))
          .select(lower(regexp_extract(col("target_uri"),
            "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)).as("host"),
            col("body_text").as("body")))
    }),
    // q_m31: perceptual image dHash — REAL ImageIO pixel decode →
    // 9×8 Rec.601 luminance grid → 64 brightness-order bits carried
    // as four 16-bit LSH bands; the multimodal twin of q_d4's text
    // SimHash. The oracle re-reads every pixel from the stored-zlib
    // PNG bytes and replays the cell comparisons in integer space
    // (the fixture's constant 2×2 gray cells make the float grid
    // order-isomorphic to the raw bytes)
    "q_m31_image_dhash" -> ((s, _) =>
      ImageHash.dhashTable(s, Tables.imagedup(s))),
    // q_m32: near-duplicate image PAIRS — band-bucket self-join over
    // the dHash bands (pigeonhole: Hamming ≤ 3 with 4 bands always
    // shares an intact band → exact recall), Hamming over the four
    // band XORs; only 7-int signature rows ever shuffle
    "q_m32_image_neardup" -> ((s, _) =>
      ImageHash.nearDupPairs(ImageHash.dhashTable(s, Tables.imagedup(s)))),
    // q_m33: image DEDUP APPLY — the end product of the perceptual
    // family, mirroring q_d8 for text: near-dup pairs → connected
    // components (the SAME pointer-jumping CC as the text family) →
    // keep every unclustered image plus the min-id representative
    // per cluster. The fixture's even/odd pairs keep the even ids
    "q_m33_image_dedup" -> ((s, _) => {
      val hashes = Materialize(ImageHash.dhashTable(s, Tables.imagedup(s)))
      val clusters = Dedup.duplicateClusters(
        ImageHash.nearDupPairs(hashes)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
        .withColumnRenamed("doc_id", "media_id")
      hashes.join(clusters, Seq("media_id"), "left")
        .filter(col("cluster").isNull || col("cluster") === col("media_id"))
        .select("media_id", "dhash_hex")
    }),
    // q_m34: decode COVERAGE for the perceptual family — per
    // (mime_type, sniffed container) how many rows actually decode
    // through the ImageIO + VP8L + VP8 path. q_m31-m33 skip
    // undecodable rows by design; this face makes the skip a
    // queryable number (real lossy-VP8 twins decode, the
    // junk-payload stubs stay the honest miss line)
    "q_m34_decode_coverage" -> ((s, _) =>
      ImageHash.decodeCoverage(s, Tables.imagedup(s))),
    // q_m35: animated-WebP frame table — per ANMF frame the geometry
    // / duration / disposal+blending flags / codec and the
    // standalone-rewrappable image-chunk span, plus canvas dims and
    // loop count: the image-side analogue of the video keyframe
    // shard lists (pure map-side RIFF walk, blobs never shuffle)
    "q_m35_webp_anim" -> ((s, _) =>
      Multimodal.webpAnimTable(s, Tables.animwebp(s))),
    // q_m36: REAL FLAC decode (graft.ops.Flac — the format speech
    // corpora ship in): per blob the stream identity, decoded sample
    // count, order-pinning PCM checksums, and the end-to-end md5_ok
    // verdict (STREAMINFO's source-PCM MD5 vs the reconstruction's
    // — TRUE only when every subframe/rice/decorrelation step is
    // exact). Pure map-side decode
    "q_m36_flac_pcm" -> ((s, _) =>
      graft.ops.Flac.pcmTable(s, Tables.flacpcm(s))),
    // q_m37: perceptual AUDIO near-dedup — the audio member of the
    // modality matrix (text SimHash, image dHash, audio THIS):
    // Haitsma–Kalker energy-delta fingerprints over a real FFT,
    // banded pigeonhole pair join (guaranteed recall at Hamming ≤ 3).
    // Recovers each WAV ↔ level-changed-FLAC re-encode pair; the
    // fixture build asserts exact pair recall AND zero cross-group
    // pairs on the committed bytes
    "q_m37_audio_neardup" -> ((s, _) =>
      AudioFp.nearDupPairs(
        AudioFp.fingerprintTable(s, Tables.audiodup(s)))
        .select("media_id_a", "media_id_b")),
    // q_m43: MP3 re-encode dedup — the LOSSY-codec cell of the audio
    // near-dup family: WAV originals against in-repo MPEG-1 Layer
    // III encodes of the same PCM, decoded by the REAL Mp3 decoder
    // and matched at the codec-grade Hamming ≤ 7 gate (pigeonhole
    // recall over the 128-bit signature's 8×16-bit bands — 65,536
    // buckets per band; the ≤3 gate is for lossless re-encodes).
    // The fixture build asserts exact pair recall AND cross-group
    // separation on the committed bytes
    "q_m43_mp3_neardup" -> ((s, _) =>
      AudioFp.nearDupPairsCodec(
        AudioFp.fingerprintTable(s, Tables.mp3dup(s)))
        .select("media_id_a", "media_id_b")),
    // q_m44: Ogg VORBIS re-encode dedup (round 19) — the codec whose
    // entropy tables ship in the stream's own setup header, so the
    // whole decode (codebooks, floor1, residue cascade, coupling,
    // IMDCT, lapped windows) is spec-derivable with no transcribed
    // tables: WAV originals against in-repo Vorbis encodes of the
    // same PCM, decoded by the REAL Vorbis decoder and matched at
    // the codec-grade Hamming ≤ 7 gate over the 128-bit signature
    "q_m44_vorbis_neardup" -> ((s, _) =>
      AudioFp.nearDupPairsCodec(
        AudioFp.fingerprintTable(s, Tables.vorbisdup(s)))
        .select("media_id_a", "media_id_b")),
    // q_m38: video RE-MUX dedup — the video cell of the modality
    // matrix: per video the ordered per-frame dHash sequence digest
    // (real sample-table walks + real MJPEG pixel decode), falling
    // back to a ZERO-DECODE digest of the ordered sample payloads
    // when no frame pixel-decodes, with H.26x NAL framing NORMALIZED
    // first (round 20: Annex-B-in-TS pairs with AVCC-in-MP4, the
    // real `ffmpeg -c copy` shape); sig_kind says which path caught
    // each pair. The fixture build asserts cross-container identity
    // and cross-group distinctness on the committed bytes for BOTH
    // paths, incl. the cross-framing class
    "q_m38_video_remux" -> ((s, _) =>
      VideoDup.remuxPairs(
        VideoDup.signatureTable(s, Tables.videodup(s)))),
    // q_m39: animated-GIF frame table — the GIF twin of q_m35:
    // per frame geometry / delay / disposal plus the file-level
    // canvas and NETSCAPE loop count, from a pure structural walk
    // (no LZW decode; the fixture's data is REAL — ImageIO decodes
    // every assembled frame, asserted at build). The truncated class
    // keeps complete frames (sub-block overrun ends the walk)
    "q_m39_gif_anim" -> ((s, _) =>
      Multimodal.gifAnimTable(s, Tables.gifanim(s))),
    // q_m42: animated-GIF composited frame hashes — the PIXEL
    // completion of q_m39's structural walk: real LZW decode (GIF89a
    // App. F), palette mapping, canvas compositing with disposal
    // semantics, dHash per render moment — animated GIFs now feed
    // the perceptual near-dup family frame-by-frame. The oracle pins
    // ground truth the fixture composited from RAW pre-encode pixels
    "q_m42_gif_frame_hash" -> ((s, _) =>
      Multimodal.gifFrameHashTable(s, Tables.gifanim(s))),
    // q_m40: AUDIO decode coverage — the audio twin of q_m34's
    // honesty face: per (mime_type, container) how many rows the
    // fingerprint decode path actually turns into PCM (WAV / AIFF /
    // AU PCM incl. G.711 companding, IMA ADPCM and round-20 AIFC
    // sowt/fl32, FLAC, MPEG-1 + round-20 MPEG-2/2.5 LSF Layer III
    // within the declared Huffman-table scope, Ogg Vorbis,
    // Vorbis-in-WebM and MP3-in-TS). aac-adts is the remaining
    // MEASURED honest-zero line; on the ogg line the vorbisdup
    // streams decode while the structural ogg.parquet fakes
    // (BOS-header-only, incl. all Opus rows) correctly count zero,
    // the same split as the junk-bodied mp3.parquet frames vs the
    // real mp3dup streams; the aifc line's ima4 class is the
    // partial honest zero (compressed type, refused at COMM)
    "q_m40_audio_coverage" -> ((s, _) => {
      import s.implicits._
      // MP3-in-TS measured class (round 19): the mp3dup odd rows
      // re-muxed into TS audio PES at query time (deterministic;
      // the junk groups wrap into valid TS grids whose ES honestly
      // fails to decode — the class gets a real negative line).
      // Round 20: the muxer is library surface (ops.Remux), not a
      // fixture tool — the r19 layering flag.
      val tsmp3 = Tables.mp3dup(s)
        .select(col("media_id"), col("mime_type"), col("media"))
        .as[Multimodal.MediaRow]
        .filter(_.media_id % 2 == 1)
        .map(r => (r.media_id, "video/mp2t",
          graft.ops.Remux.mpegAudioEsToTs(r.media)))
        .toDF("media_id", "mime_type", "media")
      // Vorbis-in-WebM measured class (round 20): the vorbisdup odd
      // rows re-containered as WebM (CodecPrivate Xiph-laced headers
      // + cluster blocks) with zero decode; real streams decode
      // through the same Vorbis core, junk wraps into a valid webm
      // whose CodecPrivate honestly decodes nothing
      val webmv = Tables.vorbisdup(s)
        .select(col("media_id"), col("mime_type"), col("media"))
        .as[Multimodal.MediaRow]
        .filter(_.media_id % 2 == 1)
        .map(r => (r.media_id, "audio/webm",
          graft.ops.Remux.webmVorbisFromOgg(r.media)))
        .toDF("media_id", "mime_type", "media")
      AudioFp.decodeCoverage(s, Tables.audiodup(s)
        .unionByName(Tables.audio(s)).unionByName(Tables.aifc(s))
        .unionByName(Tables.mp3(s))
        .unionByName(Tables.aac(s)).unionByName(Tables.ogg(s))
        .unionByName(Tables.flac(s)).unionByName(Tables.flacpcm(s))
        .unionByName(Tables.mp3dup(s)).unionByName(Tables.vorbisdup(s))
        .unionByName(Tables.mp3lsf(s))
        .unionByName(tsmp3).unionByName(webmv))
    }),
    // q_m41: VIDEO decode coverage — per (mime_type, container) the
    // q_m38 pixel path (MJPEG only) and payload-digest path (AVI /
    // MP4 / fragmented-MP4 / WebM video-track blocks / MPEG-TS PES
    // payloads reassembled per video PID, round 19; NAL-normalized
    // since round 20 — videodup's cross-framing TS twins appear as
    // an mpeg-ts line) measured independently; mpeg-ts pixel decode
    // is the remaining honest zero on that container's line
    "q_m41_video_coverage" -> ((s, _) =>
      VideoDup.decodeCoverage(s, Tables.videodup(s)
        .unionByName(Tables.mp4Avc(s)).unionByName(Tables.mp4Frag(s))
        .unionByName(Tables.webm(s)).unionByName(Tables.ts(s)))),
    // q_w29: sitemap URL entries — the operator-DECLARED page list:
    // documents discovered through robots `Sitemap:` lines (ARBITRARY
    // URLs, q_w28's channel) and the well-known /sitemap.xml path,
    // with one level of <sitemapindex> recursion and gzipped .xml.gz
    // bodies inflated in the page walk; per <url> block
    // (host, loc, lastmod). The input unions the plain-WARC shards
    // with the sitemap-protocol fixture (robots-declared index + gz
    // children + an undeclared rogue urlset that must NOT surface)
    "q_w29_sitemap_urls" -> ((s, _) =>
      Archives.withPageTable(s,
        Tables.warc(s).unionByName(Tables.warcsm(s)),
        project = Seq("target_uri", "body_text", "body_gz_text"))(
        Archives.sitemapUrls)),
    // q_w30: CRAWL CANDIDATES — "what to fetch next": sitemap-
    // declared pages ∪ link-discovered pages, LEFT ANTI joined
    // against everything the crawl already fetched; per candidate
    // its host, in_sitemap flag, in-link count and declared lastmod.
    // One URI-keyed agg + one anti-join over URI index rows, all off
    // the one-pass page walk (same combined shard set as q_w29)
    "q_w30_crawl_candidates" -> ((s, _) =>
      Archives.withPageTable(s,
        Tables.warc(s).unionByName(Tables.warcsm(s)),
        project = Seq("target_uri", "warc_type", "content_type",
          "body_text", "body_gz_text"))(Archives.crawlCandidates)),
    // q_w31: WAT metadata — the third Common Crawl artifact beside
    // the archive (q_w1) and the text (q_w7): per response the fetch
    // identity + HTTP envelope + title/anchor-count content signals,
    // a pure projection over the one-pass page walk
    "q_w31_wat_metadata" -> ((s, _) =>
      Archives.watMetadata(Archives.warcPageTable(s, Tables.warc(s)))),
    // q_w32: SITEMAP DISCOVERY — the accepted-document URI set
    // itself: robots-declared URLs (arbitrary paths) ∪ well-known
    // /sitemap.xml documents ∪ one level of <sitemapindex> children.
    // The trust boundary q_w29 parses within, as its own oracle face
    // (the rogue undeclared urlset is correctly absent)
    "q_w32_sitemap_discovery" -> ((s, _) =>
      Archives.withPageTable(s,
        Tables.warc(s).unionByName(Tables.warcsm(s)),
        project = Seq("target_uri", "body_text", "body_gz_text"))(
        Archives.sitemapAcceptedUris)),
    // q_w33: charset-aware WET — the declared-charset bodies decode
    // to the SAME Unicode text from UTF-8 bytes and from Latin-1
    // bytes (a uniform single-byte decode mojibakes the multilingual
    // half of a real crawl and poisons langid/quality downstream);
    // the oracle states the expected Unicode literally from the
    // fixture id contract
    "q_w33_charset_wet" -> ((s, _) =>
      Archives.warcPageTable(s, Tables.warcsm(s))
        .filter(col("target_uri").rlike("/txt/(utf8|latin1)$"))
        .select("target_uri", "content_type", "body_text")
        .distinct()),
    // q_w34: Content-Encoding WET — transfer-compressed text bodies
    // (Content-Encoding: gzip) inflate before the charset decode and
    // yield the SAME Unicode as their uncompressed twin; a coding
    // with no decoder here (br) claims NOTHING — body_text stays
    // NULL rather than binary soup
    "q_w34_content_encoding" -> ((s, _) =>
      Archives.warcPageTable(s, Tables.warcsm(s))
        .filter(col("target_uri").rlike("/txt/(gzipped|zstdenc|brotli)$"))
        .select("target_uri", "content_type", "body_text")
        .distinct()),
    // q_w35: chunked transfer coding — RFC 9112 chunk framing
    // (extensions and trailers ignored) undone BEFORE the content
    // coding and charset; the layered chunked-over-gzip body reaches
    // the same literal text, and malformed framing claims nothing
    "q_w35_chunked_transfer" -> ((s, _) =>
      Archives.warcPageTable(s, Tables.warcsm(s))
        .filter(col("target_uri").rlike("/txt/(chunked|chunkgz|badchunk)$"))
        .select("target_uri", "content_type", "body_text")
        .distinct()),
    // q_w37: robots META directives — the no-train signal responsible
    // corpus builders honor: per 200 response (noindex, nofollow)
    // token-matched against <meta name=robots> content (either
    // attribute order) ∪ the X-Robots-Tag header; `none` implies both
    "q_w37_robots_meta" -> ((s, _) =>
      Archives.robotsMetaTable(
        Archives.warcPageTable(s, Tables.warc(s)))),
    // q_w36: charset SNIFFING — WHATWG precedence trimmed to a crawl
    // pipeline: a BOM wins (UTF-8 / UTF-16LE, stripped), then the
    // HTTP charset, then the html <meta charset> over the first
    // 1024 bytes, then the UTF-8 default
    "q_w36_charset_sniff" -> ((s, _) =>
      Archives.warcPageTable(s, Tables.warcsm(s))
        .filter(col("target_uri").rlike("/txt/(metalatin|bom8|bom16)$"))
        .select("target_uri", "content_type", "body_text")
        .distinct()),
    // q_w38: compressed NDJSON document shards — the format LLM
    // pretraining corpora actually ship in (.jsonl.zst / .jsonl.gz /
    // plain), decoded STREAMING (continuous across zstd frames,
    // bounded line carry) with field extraction done relationally on
    // the emitted lines. Fixture kind key: media_id % 3 == 0
    "q_w38_jsonlzst_docs" -> ((s, _) =>
      ZstdTransport.jsonlDocTable(s,
        Tables.zst(s).filter(col("media_id") % 3 === 0))),
    // q_w39: `.warc.zst` record-group index — the IIPC successor to
    // .warc.gz: a hand-parsed RFC 8878 frame walk (the library fails
    // truncation SILENTLY, so structure is verified before any
    // decompression) + the optional shared dictionary from the
    // leading skippable frame (raw or itself zstd-compressed); a
    // ranged read of [frame_offset, +frame_comp_bytes) plus the tiny
    // dictionary decodes one record group in isolation. Fixture kind
    // key: media_id % 3 == 1
    "q_w39_warczst_records" -> ((s, _) =>
      ZstdTransport.warcZstRecordTable(s,
        Tables.zst(s).filter(col("media_id") % 3 === 1))),
    // q_w40: `.tar.zst` WebDataset shard index — STREAMING tar walk
    // over the decompressed stream (headers parsed, payloads skipped
    // through a scratch window; GNU L / PAX x long-name overrides
    // honored), task memory one 64 KiB window regardless of shard
    // size. Fixture kind key: media_id % 3 == 2
    "q_w40_tarzst_members" -> ((s, _) =>
      ZstdTransport.tarZstMemberTable(s,
        Tables.zst(s).filter(col("media_id") % 3 === 2))),
    // q_w22: CDX-style fetch index over `.warc.gz` members — Common
    // Crawl's own index format: per response member the SURT sort key
    // (byte-ordering it clusters a domain's pages → a range scan is a
    // domain scan), the fetch date and the ranged-read coordinates
    // (member_offset, member_comp_bytes decompress one record in
    // isolation). Revisit records (Common Crawl's content dedup)
    // index alongside responses, each row carrying its
    // WARC-Payload-Digest so a consumer can chase a revisit to the
    // original capture (q_w27). Pure map-side composition of the
    // member walk and the canonicalizer — zero exchanges; sorting is
    // the consumer's layout decision (Layout.writeBucketed)
    "q_w22_cdx" -> ((s, _) =>
      Archives.urlCanonical(
        Archives.warcGzMemberTable(s, Tables.warcgz(s))
          .filter(lower(col("warc_type")).isin("response", "revisit") &&
            col("target_uri").isNotNull))
        .select(col("surt_key"), col("warc_date"), col("target_uri"),
          col("warc_type"), col("payload_digest"),
          col("media_id"), col("member_offset"), col("member_comp_bytes"))),
    // q_w27: revisit → original resolution — the digest-keyed join
    // Common Crawl dedup demands: a revisit member carries no bytes,
    // only the original's payload digest; resolve each to the
    // EARLIEST response member with that digest and its ranged-read
    // coordinates. One index-row join, shards never move
    "q_w27_revisit_resolve" -> ((s, _) =>
      Archives.revisitResolve(
        Archives.warcGzMemberTable(s, Tables.warcgz(s)))),
    // q_w21: PDF page-TEXT extraction — the WET analogue for PDFs:
    // per resolved /Type /Page object, follow /Contents to the
    // stream, slice it, concatenate the (…) Tj show strings; Flate
    // streams inflate through the JDK (unit-tested; the fixture
    // keeps streams ASCII so the oracle re-extracts byte-for-byte)
    "q_w21_pdf_text" -> ((s, _) =>
      Archives.pdfPageTextTable(s, Tables.pdf(s))),
    // q_w12: WebDataset image–text PAIR table — the canonical
    // multimodal training job: per sample, the REAL JPEG header dims
    // (segment walk to SOF0) + the caption text, grouped inside the
    // same partition-local pass that walks the shard (zero shuffle —
    // a sample's members never straddle shards). The oracle re-walks
    // the grid (TARWALK) and re-parses the image header bytes with
    // its own hex arithmetic at the layout-pinned SOF offset
    "q_w12_wds_pairs" -> ((s, _) =>
      Archives.webdatasetPairTable(s, Tables.tar(s))),
    // q_x20: MOSS-style cross-doc copy detection — winnow fingerprint
    // overlap with stop-fingerprint (df cap) pruning + containment
    "q_x20_copy_pairs" -> ((s, d) =>
      TextAnalysis.copyPairs(Tables.documents(s, d))),
    // q_x19: PII scan + redaction over the deterministic PII fixture
    // (the driver corpus is digit-free) — per-category counts and the
    // placeholder-rewritten text, one codegen'd map-side projection
    "q_x19_pii" -> ((s, _) => Pii.scanRedact(Tables.pii(s))),
    // ---- generic rule interpreter (batch face of the streaming
    //      engine; same state machine as flatMapGroupsWithState) -----
    "q_e1_engine_timeouts" -> ((s, d) => {
      import s.implicits._
      graft.streaming.RuleEngine.runBatch(Tables.eventsTyped(s, d), Seq(interpreterRule))
        .filter(_.kind == "timeout")
        .select(col("key").cast("bigint").as("user_id"),
          col("firstTs").as("first_ts"), col("firedAt").as("fired_at"))
    }),
    "q_e2_engine_completes" -> ((s, d) => {
      import s.implicits._
      graft.streaming.RuleEngine.runBatch(Tables.eventsTyped(s, d), Seq(interpreterRule))
        .filter(_.kind == "complete")
        .select(col("key").cast("bigint").as("user_id"),
          col("firstTs").as("first_ts"), col("firedAt").as("fired_at"))
    }),
    "q_e3_three_step" -> ((s, d) => {
      import s.implicits._
      val rule = graft.rules.RuleSpec(
        "signup_purchase_error",
        Seq(Set("signup"), Set("purchase"), Set("error")),
        Some(java.time.Duration.ofHours(2)), _.payload("key"))
      graft.streaming.RuleEngine.runBatch(Tables.eventsTyped(s, d), Seq(rule))
        .filter(f => f.kind == "complete")
        .select(col("key").cast("bigint").as("user_id"),
          col("firstTs").as("first_ts"), col("firedAt").as("third_ts"))
    }),
    "q_e4_engine_sessions" -> ((s, d) => {
      import s.implicits._
      // chainLimit far above any session size so chainLen == n_events
      val rule = graft.rules.RuleSpec(
        "sess", Seq(Set(graft.model.Event.MatchAny)),
        Some(java.time.Duration.ofMinutes(30)), _.payload("key"),
        continuous = true, chainLimit = 1000000)
      graft.streaming.RuleEngine.runBatch(Tables.eventsTyped(s, d), Seq(rule))
        .filter(_.kind == "timeout")
        .select(col("key").cast("bigint").as("user_id"),
          col("chainLen").cast("bigint").as("n_events"),
          col("firedAt").as("fired_at"))
    }),
    // q_e5: the virtual clock's TOTAL ORDER made falsifiable (J8) —
    // timeout and complete fires for one key, numbered in the engine's
    // actual emission order (per-key counter over the interpreter's
    // output run, an order-preserving narrow map — no window function
    // on the Spark side, so the engine's own ordering is what ships).
    // The oracle re-derives the order with window functions from the
    // reference semantics: fires sort by fired_at (a timeout's firedAt
    // IS its deadline, which is when the clock passes it), timeouts
    // strictly before same-instant event fires (an event AT the
    // deadline cannot save the matcher), matcher-creation order last
    // (reference: src/CorrelationEngine.php:191-202, 600-638).
    "q_e5_timer_order" -> ((s, d) => {
      import s.implicits._
      graft.streaming.RuleEngine.runBatch(Tables.eventsTyped(s, d), Seq(interpreterRule))
        .mapPartitions { it =>
          var cur: String = null
          var n = 0
          it.filter(f => f.kind == "timeout" || f.kind == "complete").map { f =>
            if (f.key != cur) { cur = f.key; n = 0 } // runs are contiguous per key
            n += 1
            (f.key.toLong, f.kind, f.firstTs, f.firedAt, n)
          }
        }
        .toDF("user_id", "kind", "first_ts", "fired_at", "fire_seq")
    }),
    // q_e6: multi-rule total order (J8 × F6) — three rules share one
    // key through the ALIGNED engine face: a suppressing quarantine
    // (every view consumed + suppressed, declaration slot 0), a
    // signup→view sequence that therefore NEVER completes (slot 1),
    // and the signup→purchase flagship (slot 2). The engine's actual
    // cross-rule emission order ships via the same per-key counter as
    // q_e5; the oracle re-derives it relationally: suppression makes
    // r1's fire set exactly "every signup times out", and the total
    // order is (fired_at, timeouts-first, rule declaration order,
    // matcher-creation order) — the reference's single deadline-sorted
    // queue across matcher classes + declaration-order dispatch
    // (reference: src/CorrelationEngine.php:207-278, 515-523).
    "q_e6_multi_rule_order" -> ((s, d) => {
      import s.implicits._
      graft.streaming.RuleEngine.runBatchAligned(
          Tables.eventsTyped(s, d), multiRules, _.payload("key"))
        .mapPartitions { it =>
          var cur: String = null
          var n = 0
          it.filter(f => f.kind == "timeout" || f.kind == "complete").map { f =>
            if (f.key != cur) { cur = f.key; n = 0 } // runs are contiguous per key
            n += 1
            (f.key.toLong, f.rule, f.kind, f.firstTs, f.firedAt, n)
          }
        }
        .toDF("user_id", "rule", "kind", "first_ts", "fired_at", "fire_seq")
    }),
    // q_e7: equal-deadline timeouts across RULES fire in matcher
    // REGISTRATION order, not rule-declaration order (J8) — the
    // reference keeps ONE stable deadline-sorted queue over every
    // rule's matchers (src/CorrelationEngine.php:515-523), so a
    // matcher armed EARLIER fires first even when its rule is declared
    // later. Two ghost-step rules with DIFFERENT timeouts over
    // 15-minute-truncated event times manufacture exact deadline
    // collisions from different arming events: rb_slow (60 min) armed
    // at T and ra_fast (30 min) armed at T+30min are both due at
    // T+60min, and the engine must emit rb_slow first. The oracle
    // re-derives the order relationally: (fired_at, armed time, rule)
    // IS registration order, because arming follows event time and,
    // within one event, declaration order (= name order here).
    "q_e7_registration_order" -> ((s, d) => {
      import s.implicits._
      val grid = Tables.eventsTyped(s, d).map(e =>
        e.copy(datetime = new java.sql.Timestamp(
          math.floorDiv(e.effectiveTime.getTime, 900000L) * 900000L),
          receivedTime = None))
      graft.streaming.RuleEngine.runBatchAligned(grid, tieRules, _.payload("key"))
        .mapPartitions { it =>
          var cur: String = null
          var n = 0
          it.filter(_.kind == "timeout").map { f =>
            if (f.key != cur) { cur = f.key; n = 0 } // runs are contiguous per key
            n += 1
            (f.key.toLong, f.rule, f.kind, f.firstTs, f.firedAt, n)
          }
        }
        .toDF("user_id", "rule", "kind", "first_ts", "fired_at", "fire_seq")
    }),
    // q_t3: OnSchedule THROUGH the interpreter — cron ticks become
    // engine events and a matchSingle on the tick type fires per
    // scheduled minute (reference: src/Rule/OnSchedule.php:24-38, a
    // Cron rule invoking the injected closure on alarm); the oracle is
    // the cron grid itself, so the tick→event→fire loop is checked
    "q_t3_onschedule" -> ((s, d) => {
      import s.implicits._
      // the tick grid is minute-scale by construction (~800 rows at
      // sf0.1): coalesce the mostly-empty agg partitions and run the
      // interpreter single-partition — the full shuffle width costs
      // ~3s of task setup for a trivially small input
      val ticks = Schedule.tickEvents(s, Tables.events(s, d),
        Schedule.parse("*/15 9-17 * * 1-5"), "report").coalesce(1)
      val rule = graft.rules.RuleSpec.matchSingle(
        "daily_report", Set("GRAFT:Cron:report"),
        onMatch = _ => Seq(graft.rules.OutputData.action("run_report", Map.empty)))
      graft.streaming.RuleEngine.runBatch(ticks, Seq(rule), numPartitions = 1)
        .filter(_.kind == "complete")
        .select(col("rule"), col("firedAt").as("tick_ts"))
    }),
  )

  /** The flagship rule run through the generic interpreter — proves the
   * stateful engine (not just the SQL faces) against the oracle. */
  private def interpreterRule: graft.rules.RuleSpec =
    graft.rules.RuleSpec.sequenceWithTimeout(
      "order_payment", Seq(Set("signup"), Set("purchase")),
      java.time.Duration.ofHours(1), _.payload("key"),
      onComplete = _ => Nil, onTimeout = _ => Nil)

  /** q_e6's declaration-ordered rule set (names sort in declaration
   * order so the oracle's relational tie-break can use them). */
  private def multiRules: Seq[graft.rules.RuleSpec] = Seq(
    graft.rules.RuleSpec.matchSingle(
      "r0_view_quarantine", Set("view"), onMatch = _ => Nil)
      .copy(suppressOnMatch = true),
    graft.rules.RuleSpec.sequenceWithTimeout(
      "r1_signup_view", Seq(Set("signup"), Set("view")),
      java.time.Duration.ofHours(1), _.payload("key"),
      onComplete = _ => Nil, onTimeout = _ => Nil),
    graft.rules.RuleSpec.sequenceWithTimeout(
      "r2_signup_purchase", Seq(Set("signup"), Set("purchase")),
      java.time.Duration.ofHours(1), _.payload("key"),
      onComplete = _ => Nil, onTimeout = _ => Nil))

  /** q_e7's rule pair: same start type, ghost second steps (nothing
   * ever completes — every armed matcher times out), DIFFERENT
   * timeout durations — the only way matchers armed at different
   * events can share a deadline. Names sort in declaration order so
   * the oracle's same-instant-arming tie-break can use them. */
  private def tieRules: Seq[graft.rules.RuleSpec] = Seq(
    graft.rules.RuleSpec.sequenceWithTimeout(
      "ra_fast", Seq(Set("signup"), Set("__neverA")),
      java.time.Duration.ofMinutes(30), _.payload("key"),
      onComplete = _ => Nil, onTimeout = _ => Nil),
    graft.rules.RuleSpec.sequenceWithTimeout(
      "rb_slow", Seq(Set("signup"), Set("__neverB")),
      java.time.Duration.ofMinutes(60), _.payload("key"),
      onComplete = _ => Nil, onTimeout = _ => Nil))

  /** Shared DuckDB CTE body (no WITH): caption block split + timing
   * parse → relation `cues`(media_id, cue_idx, start_ms, end_ms,
   * text). Used by q_m18/q_m19/q_m23. */
  private def CUES: String =
    s"""cap_c AS (SELECT media_id,
       |        string_split(replace(replace(content, chr(13)||chr(10), chr(10)),
       |          chr(13), chr(10)), chr(10)||chr(10)) AS blks
       |      FROM read_parquet('${Tables.captionsFixturePath}')),
       | cap_i AS (SELECT media_id, blks, unnest(generate_series(1, len(blks))) AS bi
       |      FROM cap_c),
       | cap_b AS (SELECT media_id, bi, blks[bi] AS blk FROM cap_i),
       | cap_l AS (SELECT media_id, bi,
       |        string_split(blk, chr(10)) AS ls FROM cap_b),
       | cap_m AS (SELECT media_id, bi, ls,
       |        unnest(generate_series(1, len(ls))) AS li FROM cap_l),
       | cap_a AS (SELECT media_id, bi, min(li) AS ai FROM cap_m
       |      WHERE regexp_matches(ls[li],
       |        '(?:\\d+:)?\\d{1,2}:\\d{1,2}[.,]\\d{3}[ \\t]+-->[ \\t]+(?:\\d+:)?\\d{1,2}:\\d{1,2}[.,]\\d{3}')
       |      GROUP BY media_id, bi),
       | cap_t AS (SELECT l.media_id, l.bi,
       |        regexp_extract(l.ls[a.ai],
       |          '(?:(\\d+):)?(\\d{1,2}):(\\d{1,2})[.,](\\d{3})[ \\t]+-->[ \\t]+(?:(\\d+):)?(\\d{1,2}):(\\d{1,2})[.,](\\d{3})',
       |          ['h1','m1','s1','f1','h2','m2','s2','f2']) AS g,
       |        array_to_string(l.ls[a.ai + 1:len(l.ls)], chr(10)) AS text
       |      FROM cap_l l JOIN cap_a a
       |        ON l.media_id = a.media_id AND l.bi = a.bi),
       | cap_u AS (SELECT media_id, bi,
       |        COALESCE(TRY_CAST(g.h1 AS BIGINT), 0) * 3600000
       |          + CAST(g.m1 AS BIGINT) * 60000 + CAST(g.s1 AS BIGINT) * 1000
       |          + CAST(g.f1 AS BIGINT) AS start_ms,
       |        COALESCE(TRY_CAST(g.h2 AS BIGINT), 0) * 3600000
       |          + CAST(g.m2 AS BIGINT) * 60000 + CAST(g.s2 AS BIGINT) * 1000
       |          + CAST(g.f2 AS BIGINT) AS end_ms,
       |        text
       |      FROM cap_t),
       | cues AS (SELECT media_id,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY bi) - 1
       |          AS INTEGER) AS cue_idx,
       |        start_ms, end_ms, text
       |      FROM cap_u)""".stripMargin

  /** Shared DuckDB CTE body (no WITH; needs `cues` from [[CUES]] in
   * scope): the clip-span derivation — the q_m19 keyframe axis over
   * the AVC MP4 fixture, a LEAD window for each keyframe's span end
   * (file size caps the last), the cue-window join and per-cue
   * min/max — ending in relation `spans`(media_id, cue_idx, start_ms,
   * end_ms, text, byte_from, byte_to, n_keyframes). Used by
   * q_m24/q_m30. */
  private def CLIPSPANS: String =
    s"""km AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
       |      FROM read_parquet('${Tables.mp4AvcFixturePath}')),
       | kt AS (SELECT km.*,
       |        (n >= 12 AND substr(h, 9, 8) = '66747970') AS is_mp4,
       |        (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
       |        CAST(2 + media_id % 5 AS INTEGER) AS nf,
       |        CAST(1 + media_id % 3 AS INTEGER) AS k,
       |        (33333 + 1000 * (media_id % 7)) * 90000 // 1000000 AS delta,
       |        TRY_CAST('0x' || substr(h, 33, 8) AS BIGINT) AS mdat_sz
       |      FROM km),
       | ku AS (SELECT media_id, n, nf, k, delta,
       |        CAST((mdat_sz - 8) // nf AS BIGINT) AS s,
       |        unnest(range(nf)) AS fi
       |      FROM kt WHERE is_mp4 AND full_row AND nf > 0 AND mdat_sz > 8),
       | kf AS (SELECT media_id, n, fi,
       |        CAST(24 + fi * s AS BIGINT) AS koff,
       |        CAST(fi * delta * 1000 // 90000 AS BIGINT) AS t_ms
       |      FROM ku WHERE fi % k = 0),
       | kf2 AS (SELECT media_id, koff, t_ms,
       |        COALESCE(LEAD(koff) OVER (PARTITION BY media_id ORDER BY fi),
       |          n) AS span_end
       |      FROM kf),
       | spans AS (
       |  SELECT cues.media_id, cues.cue_idx, cues.start_ms, cues.end_ms,
       |    cues.text,
       |    MIN(kf2.koff) AS byte_from, MAX(kf2.span_end) AS byte_to,
       |    CAST(COUNT(*) AS BIGINT) AS n_keyframes
       |  FROM cues JOIN kf2 ON kf2.media_id = cues.media_id
       |    AND kf2.t_ms >= cues.start_ms AND kf2.t_ms < cues.end_ms
       |  GROUP BY 1, 2, 3, 4, 5)""".stripMargin

  /** Shared DuckDB CTE body (no WITH): the full TS grid walk (q_m17's
   * derivation) extended with the PES-header PTS decode → relation
   * `tsv`(media_id, pes_idx, packet_idx, offset, pid, rai, is_pes,
   * t_ms). Used by q_m21/q_m23. */
  private def TSPTS: String =
    s"""ts_m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
       |      FROM read_parquet('${Tables.tsFixturePath}')),
       | ts_t AS (SELECT ts_m.*,
       |        ((TRY_CAST('0x' || substr(h, 423, 2) AS INTEGER) % 32) * 256
       |         + TRY_CAST('0x' || substr(h, 425, 2) AS INTEGER)) AS vpid
       |      FROM ts_m
       |      WHERE media_id % 8 <> 3 AND media_id % 8 <> 7 AND n >= 376),
       | ts_p AS (SELECT media_id, h, vpid, unnest(range(n // 188)) AS j FROM ts_t),
       | ts_f AS (SELECT media_id, h, vpid, j, 188*j AS o,
       |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+1 AS BIGINT), 2) AS INTEGER) AS b0,
       |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+3 AS BIGINT), 2) AS INTEGER) AS b1,
       |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+5 AS BIGINT), 2) AS INTEGER) AS b2,
       |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+7 AS BIGINT), 2) AS INTEGER) AS b3,
       |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+9 AS BIGINT), 2) AS INTEGER) AS b4,
       |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+11 AS BIGINT), 2) AS INTEGER) AS b5
       |      FROM ts_p),
       | ts_g AS (SELECT *, (b1 % 32) * 256 + b2 AS pid,
       |        (b1 & 64) <> 0 AS pusi,
       |        (b3 // 16) % 4 AS afc
       |      FROM ts_f WHERE b0 = 71),
       | ts_v AS (SELECT media_id, h, j, o, pid,
       |        (afc >= 2 AND b4 >= 1 AND (b5 & 64) <> 0) AS rai,
       |        CASE WHEN afc >= 2 THEN o + 5 + b4 ELSE o + 4 END AS po
       |      FROM ts_g WHERE pid = vpid AND pusi AND afc IN (1, 3)),
       | ts_w AS (SELECT media_id, j, o, pid, rai, po,
       |        (substr(h, CAST(2*po+1 AS BIGINT), 6) = '000001') AS is_pes,
       |        TRY_CAST('0x' || substr(h, CAST(2*(po+7)+1 AS BIGINT), 2) AS INTEGER) AS f2,
       |        TRY_CAST('0x' || substr(h, CAST(2*(po+8)+1 AS BIGINT), 2) AS INTEGER) AS hl,
       |        TRY_CAST('0x' || substr(h, CAST(2*(po+9)+1 AS BIGINT), 2) AS BIGINT) AS q0,
       |        TRY_CAST('0x' || substr(h, CAST(2*(po+10)+1 AS BIGINT), 2) AS BIGINT) AS q1,
       |        TRY_CAST('0x' || substr(h, CAST(2*(po+11)+1 AS BIGINT), 2) AS BIGINT) AS q2,
       |        TRY_CAST('0x' || substr(h, CAST(2*(po+12)+1 AS BIGINT), 2) AS BIGINT) AS q3,
       |        TRY_CAST('0x' || substr(h, CAST(2*(po+13)+1 AS BIGINT), 2) AS BIGINT) AS q4
       |      FROM ts_v),
       | tsv AS (SELECT media_id,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY j) - 1
       |          AS INTEGER) AS pes_idx,
       |        CAST(j AS INTEGER) AS packet_idx,
       |        CAST(o AS BIGINT) AS "offset",
       |        CAST(pid AS INTEGER) AS pid, rai, is_pes,
       |        CASE WHEN is_pes AND (f2 & 128) <> 0 AND hl >= 5 THEN
       |          CAST((((q0 // 2) % 8) * 1073741824 + q1 * 4194304
       |            + ((q2 // 2) % 128) * 32768 + q3 * 128
       |            + ((q4 // 2) % 128)) // 90 AS BIGINT)
       |        END AS t_ms
       |      FROM ts_w)""".stripMargin

  /** Shared DuckDB CTE body (no WITH): the q_m12 Ogg page walk
   * extended with the BOS packet's granule clock (Opus 48 kHz minus
   * pre-skip, Vorbis stream rate) → relation `oggt`(media_id,
   * page_seq, offset, n_bytes, granule_pos, is_bos, is_eos, t_ms).
   * Used by q_m25/q_m26. */
  private def OGGT: String = {
    def laceSum(base: String) =
      s"""COALESCE(list_aggregate(list_transform(range(nseg),
         |     i -> TRY_CAST('0x' || substr(h, CAST(2*(($base) + 27 + i) + 1 AS BIGINT), 2) AS BIGINT)),
         |     'sum'), 0)""".stripMargin
    s"""og_m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
       |      FROM read_parquet('${Tables.oggFixturePath}')),
       | og_h1 AS (SELECT og_m.*,
       |          TRY_CAST('0x' || substr(h, 53, 2) AS INTEGER) AS nseg
       |        FROM og_m
       |        WHERE n >= 27 AND substr(h, 1, 8) = '4F676753'
       |          AND substr(h, 9, 2) = '00'
       |          AND (TRY_CAST('0x' || substr(h, 11, 2) AS INTEGER) & 248) = 0),
       | og_p1 AS (SELECT media_id, h, n,
       |          CAST(27 + nseg + ${laceSum("0")} AS BIGINT) AS sz
       |        FROM og_h1 WHERE nseg IS NOT NULL AND n >= 27 + nseg),
       | og_h2 AS (SELECT og_p1.media_id, og_p1.h, og_p1.n, og_p1.sz AS o,
       |          TRY_CAST('0x' || substr(h, 2*(sz+26)+1, 2) AS INTEGER) AS nseg
       |        FROM og_p1
       |        WHERE n >= sz + 27 AND substr(h, 2*sz+1, 8) = '4F676753'
       |          AND substr(h, 2*(sz+4)+1, 2) = '00'
       |          AND (TRY_CAST('0x' || substr(h, 2*(sz+5)+1, 2) AS INTEGER) & 248) = 0),
       | og_p2 AS (SELECT media_id, h, n, o,
       |          CAST(27 + nseg + ${laceSum("o")} AS BIGINT) AS sz
       |        FROM og_h2 WHERE nseg IS NOT NULL AND n >= o + 27 + nseg),
       | og_pages AS (
       |   SELECT media_id, h, 0 AS off, sz FROM og_p1 WHERE n >= sz
       |   UNION ALL
       |   SELECT media_id, h, o AS off, sz FROM og_p2 WHERE n >= o + sz),
       | og_ck AS (SELECT media_id,
       |        CASE WHEN substr(h, 57, 16) = '4F70757348656164' THEN 48000
       |             WHEN substr(h, 57, 2) = '01'
       |               AND substr(h, 59, 12) = '766F72626973'
       |               THEN NULLIF(TRY_CAST('0x' || ${leHex("40", 4)} AS INTEGER), 0)
       |        END AS rate,
       |        CASE WHEN substr(h, 57, 16) = '4F70757348656164'
       |             THEN TRY_CAST('0x' || ${leHex("38", 2)} AS INTEGER)
       |             ELSE 0 END AS skip
       |      FROM og_h1),
       | og_r AS (SELECT media_id, h, off, sz,
       |        CAST(TRY_CAST('0x' || ${leHex("off + 18", 4)} AS UBIGINT) AS INTEGER)
       |          AS page_seq,
       |        CAST(TRY_CAST('0x' || ${leHex("off + 6", 8)} AS UBIGINT) AS BIGINT)
       |          AS granule_pos,
       |        (TRY_CAST('0x' || substr(h, 2*(off+5)+1, 2) AS INTEGER) & 2) <> 0 AS is_bos,
       |        (TRY_CAST('0x' || substr(h, 2*(off+5)+1, 2) AS INTEGER) & 4) <> 0 AS is_eos
       |      FROM og_pages),
       | oggt AS (SELECT og_r.media_id, page_seq,
       |        CAST(off AS BIGINT) AS "offset", CAST(sz AS BIGINT) AS n_bytes,
       |        granule_pos, is_bos, is_eos,
       |        CASE WHEN rate IS NOT NULL AND granule_pos >= 0
       |             THEN CAST(greatest(granule_pos - skip, 0) * 1000 // rate AS BIGINT)
       |        END AS t_ms
       |      FROM og_r JOIN og_ck USING (media_id))""".stripMargin
  }

  /** Shared DuckDB CTE body (no WITH): the q_m13 WebM block walk plus
   * the Info TimestampScale clock → relation `wbt`(media_id,
   * block_idx, track, time_ticks, offset, n_bytes, is_key, t_ms).
   * Used by q_m27/q_m28. */
  private def WEBMT: String =
    s"""wb_m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
       |      FROM read_parquet('${Tables.webmFixturePath}')),
       | wb_t AS (SELECT wb_m.*,
       |         (n >= 4 AND substr(h, 1, 8) = '1A45DFA3') AS is_webm,
       |         (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
       |         CAST(2 + media_id % 5 AS INTEGER) AS nf,
       |         TRY_CAST('0x' || substr(h, 2*63+1, 2) AS INTEGER) - 128 - 4 AS s,
       |         CASE WHEN substr(h, 47, 6) = '2AD7B1'
       |              THEN TRY_CAST('0x' || substr(h, 55, 6) AS BIGINT)
       |              ELSE 1000000 END AS tsc
       |       FROM wb_m),
       | wb_u AS (SELECT media_id, h, n, nf, s, tsc, unnest(range(nf)) AS fi
       |       FROM wb_t WHERE is_webm AND full_row AND s > 0),
       | wb_c AS (SELECT media_id, h, fi, s, tsc,
       |         CAST(54 + fi * (s + 14) AS BIGINT) AS c0
       |       FROM wb_u WHERE n >= 54 + nf * (s + 14)
       |         AND substr(h, CAST(2 * (54 + fi * (s + 14)) + 1 AS BIGINT), 8)
       |           = '1F43B675'),
       | wb_b AS (SELECT media_id, h, fi, s, tsc, c0,
       |         TRY_CAST('0x' || substr(h, CAST(2*(c0+7)+1 AS BIGINT), 2) AS INTEGER)
       |          + (CASE WHEN TRY_CAST('0x' || substr(h, CAST(2*(c0+11)+1 AS BIGINT), 4)
       |               AS INTEGER) >= 32768
       |             THEN TRY_CAST('0x' || substr(h, CAST(2*(c0+11)+1 AS BIGINT), 4)
       |               AS INTEGER) - 65536
       |             ELSE TRY_CAST('0x' || substr(h, CAST(2*(c0+11)+1 AS BIGINT), 4)
       |               AS INTEGER) END) AS ticks
       |       FROM wb_c),
       | wbt AS (SELECT media_id, CAST(fi + 1 AS BIGINT) AS block_idx,
       |   CAST(TRY_CAST('0x' || substr(h, CAST(2*(c0+10)+1 AS BIGINT), 2)
       |     AS INTEGER) - 128 AS BIGINT) AS track,
       |   CAST(ticks AS BIGINT) AS time_ticks,
       |   c0 + 14 AS "offset",
       |   CAST(s AS BIGINT) AS n_bytes,
       |   (TRY_CAST('0x' || substr(h, CAST(2*(c0+13)+1 AS BIGINT), 2) AS INTEGER)
       |     & 128) <> 0 AS is_key,
       |   CAST(ticks * tsc // 1000000 AS BIGINT) AS t_ms
       | FROM wb_b)""".stripMargin

  /** Shared DuckDB CTE body (no WITH; the first relation is RECURSIVE —
   * callers open with `WITH RECURSIVE`): an independent re-walk of the
   * WARC fixture's records over the blob decoded to VARCHAR (the
   * fixture is 7-bit ASCII by contract, so decode is total):
   * version-line check, first CRLF-CRLF header terminator via strpos,
   * case-insensitive header-line regexes for Content-Length /
   * WARC-Type / WARC-Target-URI, then the Content-Length + 4 framing
   * hop. A record with no terminator, an unparsable/negative length,
   * or a payload overrunning the file stops the walk unemitted — the
   * walker's exact tolerance rules. Ends in relations
   * `warc_m`(media_id, s, n) and `wrecs`(media_id, record_idx, off,
   * content_offset, content_length, warc_type, target_uri,
   * warc_date). Used by q_w1/q_w6/q_w7/q_w8/q_w10/q_w11. */
  private def WARCWALK: String =
    s"""warc_m AS (
       |  SELECT media_id, decode(media) AS s, octet_length(media) AS n
       |  FROM read_parquet('${Tables.warcFixturePath}')),
       | warc_walk AS (
       |  SELECT media_id, -1 AS record_idx,
       |         CAST(NULL AS BIGINT) AS off, CAST(NULL AS BIGINT) AS content_offset,
       |         CAST(NULL AS BIGINT) AS content_length,
       |         CAST(NULL AS VARCHAR) AS warc_type,
       |         CAST(NULL AS VARCHAR) AS target_uri,
       |         CAST(NULL AS VARCHAR) AS warc_date,
       |         CAST(NULL AS VARCHAR) AS payload_digest,
       |         CAST(0 AS BIGINT) AS next_pos
       |  FROM warc_m
       |  UNION ALL
       |  SELECT media_id, record_idx, pos, hdr_end + 4, clen, wtype, uri, wdate,
       |         wdigest, hdr_end + 4 + clen + 4
       |  FROM (
       |    SELECT u.media_id, u.record_idx, u.pos, u.hdr_end, u.n,
       |      TRY_CAST(trim(regexp_extract(u.hdr,
       |        '(?i)\\r\\n[ \\t]*content-length[ \\t]*:([^\\r\\n]*)', 1)) AS BIGINT) AS clen,
       |      nullif(trim(regexp_extract(u.hdr,
       |        '(?i)\\r\\n[ \\t]*warc-type[ \\t]*:([^\\r\\n]*)', 1)), '') AS wtype,
       |      nullif(trim(regexp_extract(u.hdr,
       |        '(?i)\\r\\n[ \\t]*warc-target-uri[ \\t]*:([^\\r\\n]*)', 1)), '') AS uri,
       |      nullif(trim(regexp_extract(u.hdr,
       |        '(?i)\\r\\n[ \\t]*warc-date[ \\t]*:([^\\r\\n]*)', 1)), '') AS wdate,
       |      nullif(trim(regexp_extract(u.hdr,
       |        '(?i)\\r\\n[ \\t]*warc-payload-digest[ \\t]*:([^\\r\\n]*)', 1)), '') AS wdigest
       |    FROM (
       |      SELECT t.media_id, t.record_idx, t.pos, t.n, t.hdr_end,
       |             substr(t.s, CAST(t.pos AS INT) + 1,
       |                    CAST(t.hdr_end - t.pos AS INT)) AS hdr
       |      FROM (
       |        SELECT w.media_id, w.record_idx + 1 AS record_idx,
       |               w.next_pos AS pos, warc_m.n, warc_m.s,
       |               w.next_pos
       |                 + strpos(substr(warc_m.s, CAST(w.next_pos AS INT) + 1),
       |                          chr(13)||chr(10)||chr(13)||chr(10)) - 1 AS hdr_end
       |        FROM warc_walk w JOIN warc_m USING (media_id)
       |        WHERE substr(warc_m.s, CAST(w.next_pos AS INT) + 1, 10)
       |                IN ('WARC/1.0' || chr(13) || chr(10),
       |                    'WARC/1.1' || chr(13) || chr(10))
       |          AND strpos(substr(warc_m.s, CAST(w.next_pos AS INT) + 1),
       |                     chr(13)||chr(10)||chr(13)||chr(10)) > 0
       |      ) t
       |    ) u
       |  ) v
       |  WHERE clen IS NOT NULL AND clen >= 0 AND hdr_end + 4 + clen <= n),
       | wrecs AS (
       |  SELECT media_id, record_idx, off, content_offset, content_length,
       |         warc_type, target_uri, warc_date, payload_digest
       |  FROM warc_walk WHERE record_idx >= 0)""".stripMargin

  /** Shared DuckDB CTE body (no WITH): the `.warc.gz` member-span
   * scan (aligned scan for the fixture's pinned 10-byte gzip header,
   * back-to-back members => span = next start - start) plus the
   * record identity reconstructed from WarcGzFixture's id contract,
   * which reuses WarcFixture's record arithmetic verbatim - DuckDB
   * cannot inflate, so the contract anchors what the compressed bytes
   * hide. Ends in relations `wgz_s`(media_id, off, k, comp) and
   * `wgz_r`(media_id, k, wtype, uri, content, wd, record). Truncated
   * rows (id%8=3) reconstruct all but the last member. Used by
   * q_w5/q_w9/q_w22. */
  private def WARCGZREC: String =
    s"""wgz_m AS (
       |  SELECT media_id, hex(media) AS h, octet_length(media) AS n
       |  FROM read_parquet('${Tables.warcgzFixturePath}')),
       | wgz_b AS (
       |  SELECT media_id, n,
       |    unnest(list_filter(generate_series(0, n - 10),
       |      i -> substr(h, CAST(2 * i AS INT) + 1, 6) = '1F8B08'
       |           AND substr(h, CAST(2 * i AS INT) + 7, 2) IN ('00', '08', '04')
       |           AND substr(h, CAST(2 * i AS INT) + 9, 8) = '00000000'
       |           AND substr(h, CAST(2 * i AS INT) + 17, 4) = '00FF')) AS off
       |  FROM wgz_m),
       | wgz_s AS (
       |  SELECT media_id, off,
       |    CAST(row_number() OVER w - 1 AS INT) AS k,
       |    coalesce(lead(off) OVER w, n) - off AS comp
       |  FROM wgz_b
       |  WINDOW w AS (PARTITION BY media_id ORDER BY off)),
       | wgz_i AS (
       |  SELECT media_id, chr(13) || chr(10) AS crlf,
       |    unnest(generate_series(0, 2 + media_id % 3
       |      + CASE WHEN media_id % 4 = 2 THEN 1 ELSE 0 END)) AS k
       |  FROM (SELECT DISTINCT media_id FROM wgz_m WHERE media_id % 8 <> 7) d),
       | wgz_c AS (
       |  SELECT media_id, k, crlf,
       |    CASE WHEN k = 0 THEN 'warcinfo'
       |         WHEN media_id % 2 = 0 AND k = 2 THEN 'request'
       |         WHEN media_id % 4 = 2 AND k = 3 + media_id % 3 THEN 'revisit'
       |         ELSE 'response' END AS wtype,
       |    CASE WHEN k = 0 THEN NULL
       |         ELSE 'https://data' || CAST(media_id % 5 AS VARCHAR) ||
       |                 '.example.org/page' ||
       |                 CAST((media_id * 3 +
       |                   CASE WHEN media_id % 4 = 2 AND k = 3 + media_id % 3
       |                        THEN 0 ELSE k - 1 END) % 40 AS VARCHAR) END AS uri,
       |    strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(
       |        (media_id * 37 + (CASE WHEN k = 0 THEN 99 ELSE k - 1 END) * 61)
       |          % 100000),
       |      '%Y-%m-%dT%H:%M:%SZ') AS wd,
       |    CASE WHEN k = 0 THEN NULL
       |         WHEN media_id % 2 = 0 AND k = 2 THEN NULL
       |         WHEN media_id % 4 = 2 AND k = 3 + media_id % 3
       |         THEN 'sha1:DOC' || CAST(media_id AS VARCHAR) || 'P0'
       |         ELSE 'sha1:DOC' || CAST(media_id AS VARCHAR) || 'P' ||
       |                 CAST(k - 1 AS VARCHAR) END AS dg,
       |    CASE WHEN k = 0
       |         THEN 'software: graft-fixture ' || CAST(media_id AS VARCHAR) || crlf
       |         WHEN media_id % 2 = 0 AND k = 2
       |         THEN 'GET /' || CAST(media_id AS VARCHAR) || '/doc' ||
       |                 CAST(k - 1 AS VARCHAR) || ' HTTP/1.1' || crlf ||
       |                 'Host: data.example.org' || crlf
       |         WHEN media_id % 4 = 2 AND k = 3 + media_id % 3 THEN ''
       |         ELSE 'HTTP/1.1 200 OK' || crlf || 'Content-Type: text/plain' ||
       |                 crlf || crlf || 'doc ' || CAST(media_id AS VARCHAR) || ' ' ||
       |                 CAST(k - 1 AS VARCHAR) || ' ' ||
       |                 rtrim(repeat('lorem ', CAST((media_id + k - 1) % 4 + 1 AS INT)))
       |    END AS content
       |  FROM wgz_i),
       | wgz_r AS (
       |  SELECT media_id, k, wtype, uri, content, wd, dg,
       |    'WARC/1.0' || crlf ||
       |         CASE WHEN k = 0
       |              THEN 'WARC-Type: warcinfo' || crlf || 'WARC-Record-ID: <urn:uuid:' ||
       |                      lpad(CAST(media_id AS VARCHAR), 8, '0') ||
       |                      '-0000-0000-0000-000000000000>' || crlf ||
       |                      'Content-Type: application/warc-fields'
       |              WHEN wtype = 'request'
       |              THEN 'WARC-Type: request' || crlf || 'WARC-Target-URI: ' ||
       |                      uri || crlf ||
       |                      'Content-Type: application/http;msgtype=request'
       |              ELSE 'WARC-Type: ' || wtype || crlf || 'WARC-Target-URI: ' ||
       |                      uri || crlf ||
       |                      'Content-Type: application/http;msgtype=response' ||
       |                      crlf || 'WARC-Payload-Digest: ' || dg
       |         END || crlf ||
       |         'WARC-Date: ' || wd || crlf ||
       |         CASE WHEN media_id % 2 = 1 THEN 'content-length'
       |              ELSE 'Content-Length' END ||
       |         ': ' || CAST(length(content) AS VARCHAR) || crlf || crlf ||
       |         content || crlf || crlf AS record
       |  FROM wgz_c
       |  WHERE k <= 2 + media_id % 3
       |             + CASE WHEN media_id % 4 = 2 THEN 1 ELSE 0 END
       |             - CASE WHEN media_id % 8 = 3 THEN 1 ELSE 0 END)""".stripMargin

  /** Shared DuckDB CTE body (no WITH; the first relation after zw_m
   * is RECURSIVE — callers open with `WITH RECURSIVE`): an
   * independent re-walk of the `.warc.zst` fixture's zstd FRAME
   * STRUCTURE over the raw hex — RFC 8878 arithmetic, since DuckDB
   * cannot decompress zstd: data frames are measured from the frame
   * header descriptor (FCS field width; the fixture build ASSERTS
   * the single-segment/no-dictID/1-block shape this unrolls) plus
   * ONE block header (3-byte LE: RLE blocks carry one payload byte)
   * plus the optional 4-byte content checksum the descriptor
   * announces; skippable frames (the IIPC dictionary) are magic +
   * LE32 size. A frame overrunning the file ends the walk — the
   * truncation contract the walker applies. Record IDENTITY is
   * re-derived from ZstFixture's id contract (warcinfo alone in the
   * first data frame, then response pairs). Ends in relations
   * `zw_df`(media_id, frame_idx, off, comp, data_ord) and
   * `zw_rr`(media_id, w, data_ord, record_idx, warc_type,
   * target_uri, warc_date, payload_digest, content_length, rec_len).
   * Used by q_w39. */
  private def ZSTWARCWALK: String =
    s"""zw_m AS (
       |  SELECT media_id, media_id // 3 AS w, hex(media) AS h,
       |    octet_length(media) AS n
       |  FROM read_parquet('${Tables.zstFixturePath}')
       |  WHERE media_id % 3 = 1 AND (media_id // 3) % 8 <> 7),
       | zw_walk AS (
       |  SELECT media_id, -1 AS frame_idx, CAST(NULL AS BIGINT) AS off,
       |    CAST(NULL AS BIGINT) AS comp, CAST(NULL AS INT) AS skip,
       |    CAST(0 AS BIGINT) AS next_pos
       |  FROM zw_m
       |  UNION ALL
       |  SELECT media_id, frame_idx, pos, fend - pos, skip, fend
       |  FROM (
       |   SELECT u.media_id, u.frame_idx, u.pos, u.n, u.skip, u.ssize, u.bh,
       |     CASE WHEN u.skip >= 0 THEN u.pos + 8 + u.ssize
       |          ELSE u.bp + 3
       |            + (CASE WHEN (u.bh // 2) % 4 = 1 THEN 1 ELSE u.bh // 8 END)
       |            + (CASE WHEN (u.fhd // 4) % 2 = 1 THEN 4 ELSE 0 END)
       |     END AS fend
       |   FROM (
       |    SELECT s.*,
       |      COALESCE(TRY_CAST(('0x' || substr(s.h, 2 * s.bp + 5, 2) ||
       |        substr(s.h, 2 * s.bp + 3, 2) ||
       |        substr(s.h, 2 * s.bp + 1, 2)) AS BIGINT), -1) AS bh
       |    FROM (
       |     SELECT q.*,
       |       q.pos + 5 + (CASE WHEN q.fhd // 64 = 0 THEN 1 ELSE 2 END) AS bp
       |     FROM (
       |      SELECT p.*,
       |        COALESCE(TRY_CAST(('0x' || substr(p.h, 2 * p.pos + 9, 2))
       |          AS INT), 0) AS fhd,
       |        COALESCE(TRY_CAST(('0x' ||
       |          substr(p.h, 2 * p.pos + 15, 2) ||
       |          substr(p.h, 2 * p.pos + 13, 2) ||
       |          substr(p.h, 2 * p.pos + 11, 2) ||
       |          substr(p.h, 2 * p.pos + 9, 2)) AS BIGINT), -1) AS ssize
       |      FROM (
       |       SELECT w.media_id, w.frame_idx + 1 AS frame_idx,
       |         w.next_pos AS pos, m.n, m.h,
       |         CASE WHEN substr(m.h, 2 * w.next_pos + 3, 6) = '2A4D18'
       |               AND substr(m.h, 2 * w.next_pos + 1, 1) = '5'
       |              THEN TRY_CAST(('0x' ||
       |                substr(m.h, 2 * w.next_pos + 2, 1)) AS INT)
       |              ELSE -1 END AS skip
       |       FROM zw_walk w JOIN zw_m m USING (media_id)
       |       WHERE substr(m.h, 2 * w.next_pos + 1, 8) = '28B52FFD'
       |          OR (substr(m.h, 2 * w.next_pos + 3, 6) = '2A4D18'
       |              AND substr(m.h, 2 * w.next_pos + 1, 1) = '5')
       |      ) p
       |     ) q
       |    ) s
       |   ) u
       |  ) v
       |  WHERE fend <= n
       |    AND (skip < 0 OR ssize >= 0)
       |    AND (skip >= 0 OR (bh >= 0 AND (bh // 2) % 4 <> 3))),
       | zw_df AS (
       |  SELECT media_id, frame_idx, off, comp,
       |    CAST(row_number() OVER (PARTITION BY media_id ORDER BY frame_idx)
       |      - 1 AS BIGINT) AS data_ord
       |  FROM zw_walk WHERE frame_idx >= 0 AND skip < 0),
       | zw_ri AS (
       |  SELECT media_id, w,
       |    unnest(generate_series(0, 2 + CAST(w % 3 AS INT))) AS r
       |  FROM zw_m),
       | zw_rc AS (
       |  SELECT media_id, w, r, chr(13) || chr(10) AS crlf,
       |    CASE WHEN r = 0 THEN 0 ELSE 1 + (r - 1) // 2 END AS data_ord,
       |    CAST(CASE WHEN r = 0 THEN 0 ELSE (r - 1) % 2 END AS INT)
       |      AS record_idx,
       |    CASE WHEN r = 0 THEN 'warcinfo' ELSE 'response' END AS warc_type,
       |    CASE WHEN r = 0 THEN NULL
       |         ELSE 'https://zdata' || (media_id % 4) || '.example.org/doc' ||
       |           ((media_id * 7 + r - 1) % 30) END AS target_uri,
       |    strftime(TIMESTAMP '2025-03-01 00:00:00' + to_seconds(
       |      (media_id * 53 + (CASE WHEN r = 0 THEN 99 ELSE r - 1 END) * 17)
       |        % 90000), '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       |    CASE WHEN r = 0 THEN NULL
       |         ELSE 'sha1:ZD' || media_id || 'R' || (r - 1) END
       |      AS payload_digest,
       |    CASE WHEN r = 0
       |         THEN 'software: graft-zst-fixture ' || media_id ||
       |           chr(13) || chr(10)
       |         ELSE 'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
       |           'Content-Type: text/plain' ||
       |           chr(13) || chr(10) || chr(13) || chr(10) ||
       |           'zdoc ' || media_id || ' ' || (r - 1) || ' ' ||
       |           rtrim(repeat('ipsum ',
       |                CAST((media_id + r - 1) % 3 AS INT) + 1)) END AS content
       |  FROM zw_ri),
       | zw_rr AS (
       |  SELECT media_id, w, data_ord, record_idx, warc_type, target_uri,
       |    warc_date, payload_digest,
       |    CAST(length(content) AS BIGINT) AS content_length,
       |    CAST(length('WARC/1.0' || crlf ||
       |      CASE WHEN r = 0
       |        THEN 'WARC-Type: warcinfo' || crlf ||
       |          'WARC-Record-ID: <urn:uuid:' ||
       |          lpad(CAST(media_id AS VARCHAR), 8, '0') ||
       |          '-0000-0000-0000-00000000zstd>' || crlf ||
       |          'Content-Type: application/warc-fields'
       |        ELSE 'WARC-Type: response' || crlf ||
       |          'WARC-Target-URI: ' || target_uri || crlf ||
       |          'Content-Type: application/http;msgtype=response' || crlf ||
       |          'WARC-Payload-Digest: ' || payload_digest
       |      END || crlf ||
       |      'WARC-Date: ' || warc_date || crlf ||
       |      'Content-Length: ' || length(content) || crlf || crlf ||
       |      content || crlf || crlf) AS BIGINT) AS rec_len
       |  FROM zw_rc)""".stripMargin

  /** Shared DuckDB CTE body (no WITH; needs [[WARCWALK]]'s `wrecs` and
   * `warc_m` in scope): the HTTP split of the response records — first
   * CRLFCRLF inside the payload, the anchored status-line pattern, the
   * case-insensitive Content-Type header, body byte coordinates and
   * the body string itself — ending in relation `https`(media_id,
   * record_idx, http_status, body_offset, body_length, content_type,
   * body_text); unsplittable payloads drop in http2, unparsable status
   * lines carry NULL http_status for the caller to filter. Used by
   * q_w6/q_w7/q_w8. */
  private def WARCHTTP: String =
    s"""http0 AS (
       |  SELECT w.media_id, w.record_idx, w.content_offset, w.content_length,
       |    substr(m.s, CAST(w.content_offset AS INT) + 1,
       |           CAST(w.content_length AS INT)) AS payload
       |  FROM wrecs w JOIN warc_m m USING (media_id)
       |  WHERE lower(w.warc_type) = 'response'),
       | http1 AS (
       |  SELECT *, strpos(payload, chr(13)||chr(10)||chr(13)||chr(10)) AS t4
       |  FROM http0),
       | http2 AS (
       |  SELECT *, substr(payload, 1, t4 - 1) AS head,
       |    string_split(substr(payload, 1, t4 - 1), chr(13)||chr(10))[1] AS line1
       |  FROM http1 WHERE t4 > 0),
       | https AS (
       |  SELECT media_id, record_idx,
       |    TRY_CAST(regexp_extract(line1,
       |      '^HTTP/[^ ]+ ([0-9]{3})( .*)?$$', 1) AS INT) AS http_status,
       |    content_offset + t4 - 1 + 4 AS body_offset,
       |    content_length - (t4 - 1) - 4 AS body_length,
       |    nullif(trim(regexp_extract(head,
       |      '(?i)\\r\\n[ \\t]*content-type[ \\t]*:([^\\r\\n]*)', 1)), '') AS content_type,
       |    substr(payload, t4 + 4) AS body_text
       |  FROM http2)""".stripMargin

  /** Shared DuckDB CTE body (no WITH; first relation is RECURSIVE —
   * callers open with `WITH RECURSIVE`): an independent re-walk of
   * the PDF fixture's xref chain over the blob decoded to VARCHAR
   * (7-bit ASCII by contract): magic check, LAST `startxref` via a
   * position scan (the ZIP-oracle pattern), the 0-based table offset,
   * then per section the `start count` header, 20-byte entry grid,
   * `trailer` verification and the `/Prev` hop — each hop validated
   * against the `xref\n` magic before it's emitted, the walker's
   * exact rule. Entry bodies are re-verified (`num gen obj` prefix,
   * `endobj` terminator) for the type/length columns. Ends in
   * relation `pdf_ent`(media_id, section_idx, obj_num, gen, off,
   * in_use, obj_type, obj_length). Used by q_w18/q_w19. */
  private def PDFWALK: String =
    s"""pdf_m AS (
       |  SELECT media_id, decode(media) AS s, octet_length(media) AS n
       |  FROM read_parquet('${Tables.pdfFixturePath}')),
       | pdf_x AS (
       |  SELECT media_id,
       |    TRY_CAST(regexp_extract(substr(s, CAST(sx AS INT) + 9, 32),
       |      '^[ \\t\\r\\n]*([0-9]+)', 1) AS BIGINT) AS xoff
       |  FROM (
       |    SELECT media_id, s,
       |      list_max(list_filter(generate_series(1, n - 8),
       |        p -> substr(s, CAST(p AS INT), 9) = 'startxref')) AS sx
       |    FROM pdf_m WHERE substr(s, 1, 5) = '%PDF-') t
       |  WHERE sx IS NOT NULL),
       | pdf_secs AS (
       |  SELECT x.media_id, 0 AS section_idx, x.xoff
       |  FROM pdf_x x JOIN pdf_m m USING (media_id)
       |  WHERE x.xoff IS NOT NULL AND x.xoff + 5 <= m.n
       |    AND substr(m.s, CAST(x.xoff AS INT) + 1, 5) = 'xref' || chr(10)
       |  UNION ALL
       |  SELECT media_id, section_idx + 1, prev
       |  FROM (
       |    SELECT v.media_id, v.section_idx, v.s, v.n,
       |      CASE WHEN substr(v.s, CAST(v.eend AS INT) + 1, 7) = 'trailer'
       |        THEN TRY_CAST(regexp_extract(
       |          CASE WHEN strpos(substr(v.s, CAST(v.eend AS INT) + 8),
       |                 'startxref') > 0
       |            THEN substr(v.s, CAST(v.eend AS INT) + 8,
       |              strpos(substr(v.s, CAST(v.eend AS INT) + 8),
       |                'startxref') - 1)
       |            ELSE substr(v.s, CAST(v.eend AS INT) + 8) END,
       |          '/Prev ([0-9]+)', 1) AS BIGINT) END AS prev
       |    FROM (
       |      SELECT u.media_id, u.section_idx, u.s, u.n,
       |        u.xoff + 5 + len(u.st) + len(u.ct) + 2
       |          + 20 * TRY_CAST(u.ct AS BIGINT) AS eend
       |      FROM (
       |        SELECT g.media_id, g.section_idx, m.s, m.n, g.xoff,
       |          regexp_extract(substr(m.s, CAST(g.xoff AS INT) + 6, 32),
       |            '^([0-9]+) ([0-9]+)', 1) AS st,
       |          regexp_extract(substr(m.s, CAST(g.xoff AS INT) + 6, 32),
       |            '^([0-9]+) ([0-9]+)', 2) AS ct
       |        FROM pdf_secs g JOIN pdf_m m USING (media_id)
       |      ) u WHERE u.st <> ''
       |    ) v
       |  ) w
       |  WHERE prev IS NOT NULL AND prev >= 0 AND prev + 5 <= n
       |    AND section_idx < 15
       |    AND substr(s, CAST(prev AS INT) + 1, 5) = 'xref' || chr(10)),
       | pdf_geo AS (
       |  SELECT g.media_id, g.section_idx, m.s, m.n,
       |    TRY_CAST(regexp_extract(substr(m.s, CAST(g.xoff AS INT) + 6, 32),
       |      '^([0-9]+) ([0-9]+)', 1) AS BIGINT) AS sct_start,
       |    TRY_CAST(regexp_extract(substr(m.s, CAST(g.xoff AS INT) + 6, 32),
       |      '^([0-9]+) ([0-9]+)', 2) AS BIGINT) AS sct_cnt,
       |    g.xoff + 5
       |      + len(regexp_extract(substr(m.s, CAST(g.xoff AS INT) + 6, 32),
       |          '^([0-9]+) ([0-9]+)', 1))
       |      + len(regexp_extract(substr(m.s, CAST(g.xoff AS INT) + 6, 32),
       |          '^([0-9]+) ([0-9]+)', 2)) + 2 AS estart
       |  FROM pdf_secs g JOIN pdf_m m USING (media_id)),
       | pdf_e0 AS (
       |  SELECT media_id, section_idx, s, n,
       |    CAST(sct_start + e.k AS INT) AS obj_num,
       |    substr(s, CAST(estart + 20 * e.k AS INT) + 1, 20) AS entry
       |  FROM pdf_geo, unnest(generate_series(0, sct_cnt - 1)) AS e(k)
       |  WHERE sct_start IS NOT NULL),
       | pdf_e1 AS (
       |  SELECT media_id, section_idx, s, obj_num,
       |    TRY_CAST(regexp_extract(entry,
       |      '^([0-9]{10}) ([0-9]{5}) ([nf])', 1) AS BIGINT) AS off,
       |    TRY_CAST(regexp_extract(entry,
       |      '^([0-9]{10}) ([0-9]{5}) ([nf])', 2) AS INT) AS gen,
       |    regexp_extract(entry,
       |      '^([0-9]{10}) ([0-9]{5}) ([nf])', 3) = 'n' AS in_use
       |  FROM pdf_e0
       |  WHERE regexp_extract(entry, '^([0-9]{10}) ([0-9]{5}) ([nf])', 3) <> ''),
       | pdf_cent AS (
       |  SELECT media_id, section_idx, obj_num, gen, off, in_use,
       |    CASE WHEN in_use THEN 'direct' ELSE 'free' END AS entry_kind,
       |    CASE WHEN vok AND pend > 0 THEN nullif(regexp_extract(
       |      substr(s, CAST(off AS INT) + 1, CAST(pend + 5 AS INT)),
       |      '/Type /([A-Za-z]+)', 1), '') END AS obj_type,
       |    CASE WHEN vok AND pend > 0 THEN pend + 5 END AS obj_length,
       |    CASE WHEN vok AND pend > 0 THEN
       |      substr(s, CAST(off AS INT) + 1, CAST(pend + 5 AS INT))
       |    END AS body
       |  FROM (
       |    SELECT *,
       |      in_use AND substr(s, CAST(off AS INT) + 1,
       |        len(obj_num || ' ' || gen || ' obj'))
       |        = obj_num || ' ' || gen || ' obj' AS vok,
       |      strpos(substr(s, CAST(off AS INT) + 1), 'endobj') AS pend
       |    FROM pdf_e1) t),
       | pdf_sx AS (
       |  -- xref-STREAM sections (PDF 1.5+): startxref lands on an
       |  -- object, not the 'xref' keyword. The fixture's stream class
       |  -- is single-section ASCIIHex with W=[w1 w2 w3] and the
       |  -- default Index [0 Size], so the re-walk reads the packed
       |  -- rows STRAIGHT OFF the hex digits (2 chars = 1 byte) —
       |  -- /Prev chaining of stream sections stays unit-test scope.
       |  SELECT x.media_id, m.s, m.n, x.xoff
       |  FROM pdf_x x JOIN pdf_m m USING (media_id)
       |  WHERE x.xoff IS NOT NULL AND x.xoff + 5 <= m.n
       |    AND substr(m.s, CAST(x.xoff AS INT) + 1, 5) <> 'xref' || chr(10)),
       | pdf_sd AS (
       |  SELECT media_id, s, n,
       |    substr(sfx, ds + 7,
       |      TRY_CAST(regexp_extract(dict, '/Length ([0-9]+)', 1) AS INT)) AS hx,
       |    TRY_CAST(regexp_extract(dict, '/Size ([0-9]+)', 1) AS INT) AS sz,
       |    TRY_CAST(regexp_extract(dict,
       |      '/W \\[ ([0-9]+) ([0-9]+) ([0-9]+) \\]', 1) AS INT) AS w1,
       |    TRY_CAST(regexp_extract(dict,
       |      '/W \\[ ([0-9]+) ([0-9]+) ([0-9]+) \\]', 2) AS INT) AS w2,
       |    TRY_CAST(regexp_extract(dict,
       |      '/W \\[ ([0-9]+) ([0-9]+) ([0-9]+) \\]', 3) AS INT) AS w3
       |  FROM (
       |    SELECT media_id, s, n, sfx, ds, substr(sfx, 1, ds - 1) AS dict
       |    FROM (
       |      SELECT media_id, s, n,
       |        substr(s, CAST(xoff AS INT) + 1) AS sfx,
       |        strpos(substr(s, CAST(xoff AS INT) + 1),
       |          'stream' || chr(10)) AS ds
       |      FROM pdf_sx) a
       |    WHERE ds > 0) b
       |  WHERE dict LIKE '%/Type /XRef%' AND dict LIKE '%/ASCIIHexDecode%'
       |    AND dict NOT LIKE '%/Index%'),
       | pdf_se0 AS (
       |  SELECT media_id, s, n, CAST(j AS INT) AS obj_num,
       |    ('0x' || substr(hx, CAST(2*(w1+w2+w3)*j AS INT) + 1,
       |      2*w1))::INT AS f1,
       |    ('0x' || substr(hx, CAST(2*(w1+w2+w3)*j + 2*w1 AS INT) + 1,
       |      2*w2))::BIGINT AS f2,
       |    ('0x' || substr(hx, CAST(2*(w1+w2+w3)*j + 2*w1 + 2*w2 AS INT) + 1,
       |      2*w3))::INT AS f3
       |  FROM pdf_sd, unnest(generate_series(0, sz - 1)) AS t(j)
       |  WHERE w1 > 0 AND w2 > 0 AND w3 > 0
       |    AND len(hx) >= 2*(w1+w2+w3)*sz),
       | pdf_sdir AS (
       |  -- free + direct rows of the stream section, body-verified
       |  -- with the same vok/pend rule as the classic table
       |  SELECT media_id, 0 AS section_idx, obj_num, f3 AS gen,
       |    f2 AS off, f1 = 1 AS in_use,
       |    CASE WHEN f1 = 1 THEN 'direct' ELSE 'free' END AS entry_kind,
       |    CASE WHEN vok AND pend > 0 THEN nullif(regexp_extract(
       |      substr(s, CAST(f2 AS INT) + 1, CAST(pend + 5 AS INT)),
       |      '/Type /([A-Za-z]+)', 1), '') END AS obj_type,
       |    CASE WHEN vok AND pend > 0 THEN pend + 5 END AS obj_length,
       |    CASE WHEN vok AND pend > 0 THEN
       |      substr(s, CAST(f2 AS INT) + 1, CAST(pend + 5 AS INT))
       |    END AS body
       |  FROM (
       |    SELECT *,
       |      f1 = 1 AND substr(s, CAST(f2 AS INT) + 1,
       |        len(obj_num || ' ' || f3 || ' obj'))
       |        = obj_num || ' ' || f3 || ' obj' AS vok,
       |      strpos(substr(s, CAST(f2 AS INT) + 1), 'endobj') AS pend
       |    FROM pdf_se0 WHERE f1 IN (0, 1)) t),
       | pdf_so AS (
       |  -- every verified /Type /ObjStm object: ASCIIHex payload
       |  -- DECODED (unhex), member-pair header split on /First
       |  SELECT media_id, stm_num, payload, fst,
       |    string_split(trim(substr(payload, 1, fst)), ' ') AS toks
       |  FROM (
       |    SELECT media_id, stm_num,
       |      decode(unhex(rtrim(substr(osfx, ods + 7,
       |        TRY_CAST(regexp_extract(substr(osfx, 1, ods - 1),
       |          '/Length ([0-9]+)', 1) AS INT)), '>'))) AS payload,
       |      TRY_CAST(regexp_extract(substr(osfx, 1, ods - 1),
       |        '/First ([0-9]+)', 1) AS INT) AS fst
       |    FROM (
       |      SELECT media_id, obj_num AS stm_num, body AS osfx,
       |        strpos(body, 'stream' || chr(10)) AS ods
       |      FROM pdf_sdir
       |      WHERE obj_type = 'ObjStm' AND body IS NOT NULL) q
       |    WHERE ods > 0
       |      AND substr(osfx, 1, ods - 1) LIKE '%/ASCIIHexDecode%') d
       |  WHERE fst IS NOT NULL AND fst <= len(payload)),
       | pdf_sobj AS (
       |  -- type-2 rows: member slice proves type + length (a claim
       |  -- whose header pair doesn't name the object proves nothing)
       |  SELECT e.media_id, 0 AS section_idx, e.obj_num, e.f3 AS gen,
       |    e.f2 AS off, TRUE AS in_use, 'objstm' AS entry_kind,
       |    CASE WHEN ok THEN nullif(regexp_extract(mbody,
       |      '/Type /([A-Za-z]+)', 1), '') END AS obj_type,
       |    CASE WHEN ok THEN CAST(len(mbody) AS BIGINT) END AS obj_length,
       |    CASE WHEN ok THEN mbody END AS body
       |  FROM (
       |    SELECT e.media_id, e.obj_num, e.f2, e.f3,
       |      TRY_CAST(o.toks[2 * e.f3 + 1] AS INT) = e.obj_num AS ok,
       |      substr(o.payload,
       |        o.fst + TRY_CAST(o.toks[2 * e.f3 + 2] AS INT) + 1,
       |        coalesce(TRY_CAST(o.toks[2 * e.f3 + 4] AS INT),
       |          len(o.payload) - o.fst)
       |          - TRY_CAST(o.toks[2 * e.f3 + 2] AS INT)) AS mbody
       |    FROM pdf_se0 e LEFT JOIN pdf_so o
       |      ON e.media_id = o.media_id AND e.f2 = o.stm_num
       |    WHERE e.f1 = 2) e),
       | pdf_ent AS (
       |  SELECT media_id, section_idx, obj_num, gen, off, in_use,
       |    entry_kind, obj_type, obj_length, body FROM pdf_cent
       |  UNION ALL
       |  SELECT media_id, section_idx, obj_num, gen, off, in_use,
       |    entry_kind, obj_type, obj_length, body FROM pdf_sdir
       |  UNION ALL
       |  SELECT media_id, section_idx, obj_num, gen, off, in_use,
       |    entry_kind, obj_type, obj_length, body FROM pdf_sobj)""".stripMargin

  /** Shared DuckDB CTE body (no WITH): the dHash bands re-derived
   * from the image fixture's RAW BYTES — the stored-zlib layout pins
   * every pixel at hex offset 48 + y·55 + 1 + 3x, the fixture's
   * constant gray 2×2 cells make integer byte comparisons equal the
   * decoder's float luminance comparisons, so the oracle needs no
   * PNG decode at all. Ends in `im_bands`(media_id, width, height,
   * b0..b3). Used by q_m31/q_m32. */
  private def IMGHASH: String =
    s"""im_png AS (
       |  SELECT media_id, hex(media) AS h
       |  FROM read_parquet('${Tables.imagedupFixturePath}')
       |  WHERE octet_length(media) = 948
       |    AND substr(hex(media), 1, 16) = '89504E470D0A1A0A'),
       | im_webp AS (
       |  SELECT media_id, hex(media) AS h
       |  FROM read_parquet('${Tables.imagedupFixturePath}')
       |  WHERE substr(hex(media), 1, 8) = '52494646'
       |    AND substr(hex(media), 17, 8) = '57454250'
       |    AND substr(hex(media), 25, 8) = '5650384C'),
       | im_vp8 AS (
       |  -- the LOSSY twins: a 'VP8 ' chunk whose payload carries the
       |  -- keyframe start code 9D012A at payload bytes 3..5 (the
       |  -- junk-payload stub class fails this byte test and decodes
       |  -- nothing). Pixels are NOT byte-addressable (arithmetic
       |  -- coding), but the fixture contract makes them the even PNG
       |  -- sibling's cells + the documented one-cell perturbation;
       |  -- the bitstream->pixel step itself is pinned to libwebp
       |  -- ground truth in Vp8Spec/Vp8EncoderSpec.
       |  SELECT media_id, hex(media) AS h
       |  FROM read_parquet('${Tables.imagedupFixturePath}')
       |  WHERE substr(hex(media), 1, 8) = '52494646'
       |    AND substr(hex(media), 17, 8) = '57454250'
       |    AND substr(hex(media), 25, 8) = '56503820'
       |    AND substr(hex(media), 47, 6) = '9D012A'),
       | im_pcells AS (
       |  SELECT media_id, gx, gy,
       |    ('0x' || substr(h,
       |      2 * (48 + (2 * gy) * 55 + 1 + 3 * (2 * gx)) + 1, 2))::INT AS val
       |  FROM im_png, generate_series(0, 8) tx(gx), generate_series(0, 7) ty(gy)),
       | im_wbit AS (
       |  -- the VP8L twin pins 25 bits/pixel (9-bit green literal code,
       |  -- two 8-bit codes, 0-bit alpha) after a constant header; the
       |  -- stream is LSB-first per byte, code bits MSB-first — so the
       |  -- green code of pixel (2gx, 2gy) reads straight off the hex
       |  -- (payload starts at file byte 20: RIFF(12)+fourcc(4)+size(4))
       |  SELECT media_id, gx, gy, k,
       |    ((('0x' || substr(h, 2 * (20 + (o + k) // 8) + 1, 2))::INT
       |      >> ((o + k) % 8)) & 1) AS bit
       |  FROM (
       |    SELECT media_id, h, gx, gy,
       |      ${ImageDupLayout.Vp8lHeaderBits}
       |        + 25 * (36 * gy + 2 * gx) AS o
       |    FROM im_webp,
       |      generate_series(0, 8) tx(gx), generate_series(0, 7) ty(gy)) t,
       |    generate_series(0, 8) tk(k)),
       | im_wcells AS (
       |  SELECT media_id, gx, gy,
       |    CAST(SUM(bit << (8 - k)) AS INT) - 256 AS val
       |  FROM im_wbit GROUP BY media_id, gx, gy),
       | im_vcells AS (
       |  SELECT v.media_id, c.gx, c.gy,
       |    CASE WHEN v.media_id % 2 = 1
       |           AND c.gx = CAST((v.media_id // 2) % 9 AS INT)
       |           AND c.gy = CAST((v.media_id // 2) % 8 AS INT)
       |      THEN (c.val + 37) % 251 ELSE c.val END AS val
       |  FROM im_vp8 v JOIN im_pcells c ON c.media_id = v.media_id - 1),
       | im_xpng AS (
       |  -- the EXIF-oriented twins: PNG signature + an eXIf chunk
       |  -- right after IHDR (type bytes 37..40); orientation SHORT's
       |  -- low byte at the pinned TIFF offset. Pixels are stored
       |  -- ROTATED — the oracle reads the stored byte of the upright
       |  -- sample (2gx, 2gy) through the same coordinate remap the
       |  -- rotate-before-hash decode applies.
       |  SELECT media_id, hex(media) AS h,
       |    ('0x' || substr(hex(media),
       |      2 * ${ImageDupLayout.ExifOrientOffset} + 1, 2))::INT AS o
       |  FROM read_parquet('${Tables.imagedupFixturePath}')
       |  WHERE substr(hex(media), 1, 16) = '89504E470D0A1A0A'
       |    AND substr(hex(media), 75, 8) = '65584966'),
       | im_xcells AS (
       |  SELECT media_id, gx, gy,
       |    ('0x' || substr(h,
       |      2 * (${ImageDupLayout.ExifPixelOffset}
       |           + v * (1 + 3 * ws) + 1 + 3 * u) + 1, 2))::INT AS val
       |  FROM (
       |    SELECT media_id, h, gx, gy,
       |      CASE WHEN o >= 5 THEN 16 ELSE 18 END AS ws,
       |      CASE o WHEN 3 THEN 17 - 2 * gx WHEN 6 THEN 2 * gy
       |        ELSE 15 - 2 * gy END AS u,
       |      CASE o WHEN 3 THEN 15 - 2 * gy WHEN 6 THEN 17 - 2 * gx
       |        ELSE 2 * gx END AS v
       |    FROM im_xpng,
       |      generate_series(0, 8) tx(gx), generate_series(0, 7) ty(gy)) t),
       | im_cells AS (
       |  SELECT * FROM im_pcells UNION ALL SELECT * FROM im_wcells
       |  UNION ALL SELECT * FROM im_vcells
       |  UNION ALL SELECT * FROM im_xcells),
       | im_wh AS (
       |  SELECT media_id,
       |    CAST(('0x' || substr(h, 33, 8))::BIGINT AS INT) AS width,
       |    CAST(('0x' || substr(h, 41, 8))::BIGINT AS INT) AS height
       |  FROM im_png
       |  UNION ALL
       |  SELECT media_id,
       |    CAST(1 + SUM(((('0x' || substr(h, 2 * (20 + (8 + k) // 8) + 1, 2))::INT
       |      >> ((8 + k) % 8)) & 1) << k) AS INT) AS width,
       |    CAST(1 + SUM(((('0x' || substr(h, 2 * (20 + (22 + k) // 8) + 1, 2))::INT
       |      >> ((22 + k) % 8)) & 1) << k) AS INT) AS height
       |  FROM im_webp, generate_series(0, 13) tk(k)
       |  GROUP BY media_id
       |  UNION ALL
       |  -- VP8 frame header: 14-bit little-endian dims at payload
       |  -- bytes 6..9 (file bytes 26..29)
       |  SELECT media_id,
       |    CAST((('0x' || substr(h, 55, 2))::INT % 64) * 256
       |      + ('0x' || substr(h, 53, 2))::INT AS INT) AS width,
       |    CAST((('0x' || substr(h, 59, 2))::INT % 64) * 256
       |      + ('0x' || substr(h, 57, 2))::INT AS INT) AS height
       |  FROM im_vp8
       |  UNION ALL
       |  -- EXIF twins: POST-orientation dims (6/8 swap the stored
       |  -- IHDR dims back to the upright 18x16)
       |  SELECT media_id, CAST(18 AS INT), CAST(16 AS INT)
       |  FROM im_xpng),
       | im_bits AS (
       |  SELECT l.media_id, l.gy, l.gx,
       |    CASE WHEN r.val > l.val THEN 1 ELSE 0 END AS bit
       |  FROM im_cells l JOIN im_cells r
       |    ON l.media_id = r.media_id AND r.gy = l.gy AND r.gx = l.gx + 1
       |  WHERE l.gx < 8),
       | im_bands AS (
       |  SELECT b.media_id, wh.width, wh.height,
       |    CAST(SUM(CASE WHEN bit = 1 AND (gy * 8 + gx) // 16 = 0
       |      THEN (1 << ((gy * 8 + gx) % 16)) ELSE 0 END) AS INT) AS b0,
       |    CAST(SUM(CASE WHEN bit = 1 AND (gy * 8 + gx) // 16 = 1
       |      THEN (1 << ((gy * 8 + gx) % 16)) ELSE 0 END) AS INT) AS b1,
       |    CAST(SUM(CASE WHEN bit = 1 AND (gy * 8 + gx) // 16 = 2
       |      THEN (1 << ((gy * 8 + gx) % 16)) ELSE 0 END) AS INT) AS b2,
       |    CAST(SUM(CASE WHEN bit = 1 AND (gy * 8 + gx) // 16 = 3
       |      THEN (1 << ((gy * 8 + gx) % 16)) ELSE 0 END) AS INT) AS b3
       |  FROM im_bits b JOIN im_wh wh USING (media_id)
       |  GROUP BY b.media_id, wh.width, wh.height)""".stripMargin

  /** Shared DuckDB CTE body (no WITH; needs WARCWALK's `wrecs` +
   * WARCHTTP's `https` in scope): the q_w23 link chain — 200-status
   * html pages joined to their URI, anchor hrefs extracted and
   * resolved (absolute pass, root-relative against the page
   * authority), aggregated to `wedges`(src_host, dst_host, n_links).
   * Used by q_w24/q_w25. */
  /** [[graft.ops.Archives.HrefRegex]] as a DuckDB string literal —
   * the SAME regex bytes both engines run (single quotes doubled for
   * SQL). */
  private def hrefSql: String =
    graft.ops.Archives.HrefRegex.replace("'", "''")

  /** DuckDB twin of the engine's hrefStrip: group 1 keeps the quotes
   * (one capture group survives regexp_extract_all); bare values can
   * never start with one. Expects `rawq` in scope, yields `raw`. */
  private def hrefStripSql: String =
    """CASE WHEN rawq LIKE '"%' OR rawq LIKE '''%'
      |      THEN substr(rawq, 2, len(rawq) - 2) ELSE rawq END AS raw""".stripMargin

  private def LINKGRAPH: String =
    s"""ph AS (
       |  SELECT h.media_id, h.record_idx, w.target_uri, h.body_text
       |  FROM https h JOIN wrecs w USING (media_id, record_idx)
       |  WHERE h.http_status = 200
       |    AND lower(h.content_type) LIKE 'text/html%'),
       | lx AS (
       |  SELECT media_id, record_idx, target_uri, $hrefStripSql
       |  FROM (
       |    SELECT media_id, record_idx, target_uri,
       |      unnest(regexp_extract_all(body_text, '$hrefSql', 1)) AS rawq
       |    FROM ph) lq),
       | rs AS (
       |  SELECT target_uri,
       |    CASE WHEN regexp_matches(raw, '^[A-Za-z][A-Za-z0-9+.-]*://')
       |           THEN raw
       |         WHEN raw LIKE '/%' AND raw NOT LIKE '//%' THEN
       |           regexp_extract(target_uri,
       |             '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) || '://' ||
       |           regexp_extract(target_uri,
       |             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) || raw
         WHEN NOT regexp_matches(raw, '^[A-Za-z][A-Za-z0-9+.-]*:')
       |              AND raw NOT LIKE '/%' AND raw NOT LIKE '#%'
       |              AND raw NOT LIKE '?%' AND raw NOT LIKE '.%'
       |              AND raw <> '' THEN
       |           regexp_extract(target_uri,
       |             '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) || '://' ||
       |           regexp_extract(target_uri,
       |             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) ||
       |           (CASE WHEN regexp_replace(regexp_extract(target_uri,
       |                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
       |                  '[^/]*$$', '') = '' THEN '/'
       |                 ELSE regexp_replace(regexp_extract(target_uri,
       |                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
       |                  '[^/]*$$', '') END) || raw
       |    END AS link
       |  FROM lx),
       | wedges AS (
       |  SELECT
       |    lower(regexp_extract(target_uri,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS src_host,
       |    lower(regexp_extract(link,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS dst_host,
       |    CAST(COUNT(*) AS BIGINT) AS n_links
       |  FROM rs
       |  WHERE link IS NOT NULL
       |    AND regexp_extract(target_uri,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) <> ''
       |    AND regexp_extract(link,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) <> ''
       |  GROUP BY 1, 2)""".stripMargin

  /** Shared DuckDB CTE body (no WITH; needs WARCWALK's `wrecs` +
   * WARCHTTP's `https` in scope): the robots DIRECTIVE parse — the
   * q_w20 robots-body extraction (keep-latest /robots.txt fetch per
   * host, 200/text bodies), line explode, the same UA-group
   * attribution window, then per host the `*` group's minimum
   * Crawl-delay and the sorted comma-joined Sitemap URLs. Ends in
   * `rdir`(host, crawl_delay_s, sitemaps). Used by q_w26/q_w28. */
  private def ROBOTSDIR: String =
    s"""rdwet AS (
       |  SELECT media_id, record_idx, body_text
       |  FROM https
       |  WHERE http_status = 200 AND lower(content_type) LIKE 'text/%'),
       | rdrsp AS (
       |  SELECT media_id, record_idx, target_uri, warc_date,
       |    ROW_NUMBER() OVER (PARTITION BY target_uri
       |      ORDER BY warc_date DESC, media_id, record_idx) AS rnk
       |  FROM wrecs
       |  WHERE lower(warc_type) = 'response' AND target_uri IS NOT NULL
       |    AND target_uri LIKE '%/robots.txt'),
       | rdrob AS (
       |  SELECT lower(regexp_extract(d.target_uri,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
       |    w.body_text AS body
       |  FROM rdrsp d JOIN rdwet w
       |    ON d.media_id = w.media_id AND d.record_idx = w.record_idx
       |  WHERE d.rnk = 1),
       | rdlin AS (
       |  SELECT host,
       |    unnest(string_split(body, chr(10))) AS line,
       |    unnest(generate_series(1, len(string_split(body, chr(10))))) AS line_no
       |  FROM rdrob),
       | rdl AS (
       |  SELECT host, line_no,
       |    nullif(regexp_extract(line,
       |      '(?i)^[ \\t]*user-agent[ \\t]*:[ \\t]*(\\S+)', 1), '') AS ua,
       |    nullif(regexp_extract(line,
       |      '(?i)^[ \\t]*crawl-delay[ \\t]*:[ \\t]*([0-9]+)', 1), '') AS cd,
       |    nullif(trim(regexp_extract(line,
       |      '(?i)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)', 1)), '') AS sm
       |  FROM rdlin),
       | rdg AS (
       |  SELECT *, last_value(ua IGNORE NULLS) OVER (PARTITION BY host
       |    ORDER BY line_no
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS agent
       |  FROM rdl),
       | rdir AS (
       |  SELECT host,
       |    CAST(min(CASE WHEN agent = '*' THEN TRY_CAST(cd AS BIGINT) END)
       |      AS BIGINT) AS crawl_delay_s,
       |    coalesce(array_to_string(list_sort(list_distinct(
       |      list(sm) FILTER (sm IS NOT NULL))), ','), '') AS sitemaps
       |  FROM rdg GROUP BY host)""".stripMargin

  /** Shared DuckDB CTE body (no WITH): the SitemapFixture id
   * contract — DuckDB cannot inflate the fixture's `.xml.gz`
   * children, so the rows the engine derives from the bytes are
   * reconstructed from the same arithmetic the fixture uses (the
   * WARCGZREC pattern). Ends in `smp` (pages-sitemap entries), `smg`
   * (gz-sitemap entries) and `smfetched` (every URI the fixture's
   * shards fetched). The rogue undeclared urlset's entries are
   * deliberately ABSENT — trust only declared/well-known/child
   * documents. */
  private def SMCONTRACT: String =
    s"""smf AS (
       |  SELECT DISTINCT media_id % 3 AS hh
       |  FROM read_parquet('${Tables.warcsmFixturePath}')
       |  WHERE media_id % 5 <> 4),
       | smp AS (
       |  SELECT 'smap' || hh || '.example.org' AS host,
       |    'https://smap' || hh || '.example.org/p/a' || hh || '_' || k AS loc,
       |    '2025-0' || (hh + 1) || '-1' || k AS lastmod
       |  FROM smf, generate_series(0, 2) t(k)),
       | smg AS (
       |  SELECT 'smap' || hh || '.example.org' AS host,
       |    'https://smap' || hh || '.example.org/p/gz' || hh || '_' || k AS loc,
       |    CASE WHEN k = 0 THEN '2025-09-0' || (hh + 1) END AS lastmod
       |  FROM smf, generate_series(0, 1) t(k)),
       | smfetched AS (
       |  SELECT unnest(['https://smap' || hh || '.example.org/robots.txt',
       |    'https://smap' || hh || '.example.org/maps/index-' || hh || '.xml',
       |    'https://smap' || hh || '.example.org/maps/pages-' || hh || '.xml',
       |    'https://smap' || hh || '.example.org/maps/extra-' || hh || '.xml.gz',
       |    'https://smap' || hh || '.example.org/maps/rogue-' || hh || '.xml',
       |    'https://smap' || hh || '.example.org/p/a' || hh || '_0',
       |    'https://smap' || hh || '.example.org/txt/utf8',
       |    'https://smap' || hh || '.example.org/txt/latin1',
       |    'https://smap' || hh || '.example.org/txt/gzipped',
       |    'https://smap' || hh || '.example.org/txt/brotli',
       |    'https://smap' || hh || '.example.org/txt/chunked',
       |    'https://smap' || hh || '.example.org/txt/chunkgz',
       |    'https://smap' || hh || '.example.org/txt/badchunk',
       |    'https://smap' || hh || '.example.org/txt/metalatin',
       |    'https://smap' || hh || '.example.org/txt/bom8',
       |    'https://smap' || hh || '.example.org/txt/bom16',
       |    'https://smap' || hh || '.example.org/txt/zstdenc'])
       |    AS target_uri
       |  FROM smf)""".stripMargin

  /** One unrolled fixed-point PageRank step (q_w25): pr`i` from
   * pr`i-1` — contribution sum uses integer division exactly where
   * Archives.hostRank does. */
  private def prStep(i: Int): String =
    s"""pr$i AS (
       |  SELECT n.host,
       |    CAST(150000000000 + (85 * COALESCE(c.contrib, 0)) // 100
       |      AS BIGINT) AS rank
       |  FROM wnodes n LEFT JOIN (
       |    SELECT e.dst_host AS host,
       |      CAST(SUM((p.rank // o.outdeg) * e.n_links) AS BIGINT) AS contrib
       |    FROM wedges e
       |    JOIN pr${i - 1} p ON p.host = e.src_host
       |    JOIN woutd o ON o.src_host = e.src_host
       |    GROUP BY e.dst_host) c ON c.host = n.host)""".stripMargin

  /** DuckDB twin of TextAnalysis.htmlVisibleText — identical
   * script/style subtree drop, tag strip, entity decode (&amp; LAST)
   * and whitespace collapse. */
  private def htmlCleanSql(col: String): String =
    s"""trim(regexp_replace(
       |  replace(replace(replace(replace(replace(replace(
       |    regexp_replace(regexp_replace($col,
       |      '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
       |      '<[^>]*>', ' ', 'g'),
       |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
       |    '&nbsp;', ' '), '&amp;', '&'),
       |  '[ \\t\\r\\n]+', ' ', 'g'))""".stripMargin

  /** Shared DuckDB CTE body (no WITH; the first relation is RECURSIVE —
   * callers open with `WITH RECURSIVE`): an independent re-walk of the
   * tar fixture's 512 grid → relation `members`(media_id, member_idx,
   * name, header_offset, data_offset, n_bytes, typeflag), the twin of
   * Archives.tarMembers. Each recursion step re-derives everything
   * from the hex bytes: the all-zero end marker, the "ustar" magic at
   * 257, the 12-byte octal size at 124 decoded with its own base-8
   * arithmetic (leading NUL/space padding, first digit run wins), the
   * NUL-terminated name/prefix located over aligned hex PAIRS (a
   * naive substring search for '00' could split a byte whose low
   * nibble is 0), and the 512-rounded payload hop. A member whose
   * payload overruns the file stops the walk unemitted, like the
   * walker. A final layer applies the GNU 'L' / PAX 'x' long-name
   * override: a member directly preceded by an override entry takes
   * its name from that entry's payload (L: NUL-terminated; x: the
   * `len path=<name>\n` record), re-decoded from the hex bytes — the
   * lag(1) form covers the immediately-preceding override the format
   * actually emits. Used by q_w2/q_w4. */
  private def TARWALK: String =
    s"""tar_m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
       |          FROM read_parquet('${Tables.tarFixturePath}')),
       | tar_walk AS (
       |  SELECT media_id, -1 AS member_idx, CAST(NULL AS VARCHAR) AS name,
       |         CAST(NULL AS BIGINT) AS header_offset,
       |         CAST(NULL AS BIGINT) AS data_offset,
       |         CAST(NULL AS BIGINT) AS n_bytes, CAST(NULL AS VARCHAR) AS typeflag,
       |         CAST(0 AS BIGINT) AS next_pos
       |  FROM tar_m
       |  UNION ALL
       |  SELECT media_id, member_idx, name, pos, pos + 512, sz, typeflag,
       |         pos + 512 + ((sz + 511) // 512) * 512
       |  FROM (
       |    SELECT u.media_id, u.member_idx, u.pos, u.n, u.typeflag,
       |      CASE WHEN u.prefix <> '' THEN u.prefix || '/' || u.name0
       |           ELSE u.name0 END AS name,
       |      CAST(list_sum(list_transform(
       |        generate_series(1, CAST(length(u.digits) / 2 AS INT)),
       |        i -> CAST(substr(u.digits, 2 * i, 1) AS BIGINT)
       |             * CAST(pow(8, CAST(length(u.digits) / 2 AS INT) - i) AS BIGINT)))
       |        AS BIGINT) AS sz
       |    FROM (
       |      SELECT t.media_id, t.member_idx, t.pos, t.n,
       |        regexp_extract(substr(t.h, CAST(2 * (t.pos + 124) AS INT) + 1, 24),
       |                       '^(?:20|00)*((?:3[0-7])+)', 1) AS digits,
       |        decode(unhex(substr(t.h, CAST(2 * t.pos AS INT) + 1,
       |          2 * (coalesce(nullif(list_position(
       |            list_transform(generate_series(1, 100),
       |              i -> substr(t.h, CAST(2 * t.pos AS INT) + 2 * i - 1, 2)),
       |            '00'), 0), 101) - 1)))) AS name0,
       |        decode(unhex(substr(t.h, CAST(2 * (t.pos + 345) AS INT) + 1,
       |          2 * (coalesce(nullif(list_position(
       |            list_transform(generate_series(1, 155),
       |              i -> substr(t.h, CAST(2 * (t.pos + 345) AS INT) + 2 * i - 1, 2)),
       |            '00'), 0), 156) - 1)))) AS prefix,
       |        CASE WHEN substr(t.h, CAST(2 * (t.pos + 156) AS INT) + 1, 2) = '00'
       |             THEN '0'
       |             ELSE decode(unhex(substr(t.h, CAST(2 * (t.pos + 156) AS INT) + 1, 2)))
       |        END AS typeflag
       |      FROM (
       |        SELECT w.media_id, w.member_idx + 1 AS member_idx,
       |               w.next_pos AS pos, tar_m.n, tar_m.h
       |        FROM tar_walk w JOIN tar_m USING (media_id)
       |        WHERE w.next_pos + 512 <= tar_m.n
       |          AND substr(tar_m.h, CAST(2 * w.next_pos AS INT) + 1, 1024)
       |              <> repeat('0', 1024)
       |          AND substr(tar_m.h, CAST(2 * (w.next_pos + 257) AS INT) + 1, 10)
       |              = '7573746172'
       |      ) t
       |    ) u
       |    WHERE u.digits <> ''
       |  ) v
       |  WHERE pos + 512 + sz <= n),
       | members_raw AS (
       |  SELECT media_id, CAST(member_idx AS INT) AS member_idx, name,
       |         CAST(header_offset AS BIGINT) AS header_offset,
       |         CAST(data_offset AS BIGINT) AS data_offset,
       |         CAST(n_bytes AS BIGINT) AS n_bytes, typeflag
       |  FROM tar_walk WHERE member_idx >= 0),
       | members_lag AS (
       |  SELECT r.*,
       |         lag(r.typeflag) OVER w AS prev_tf,
       |         lag(r.data_offset) OVER w AS prev_off,
       |         lag(r.n_bytes) OVER w AS prev_len
       |  FROM members_raw r
       |  WINDOW w AS (PARTITION BY r.media_id ORDER BY r.member_idx)),
       | members_ov AS (
       |  -- decode the previous payload ONLY for L/x override entries:
       |  -- ordinary members may carry binary (non-UTF8) payloads that
       |  -- decode() rejects
       |  SELECT r.*,
       |         CASE WHEN r.prev_tf IN ('L', 'x')
       |              THEN decode(unhex(substr(t.h,
       |                CAST(2 * r.prev_off AS BIGINT) + 1,
       |                CAST(2 * r.prev_len AS BIGINT)))) END AS prev_payload
       |  FROM members_lag r JOIN tar_m t USING (media_id)),
       | members AS (
       |  SELECT media_id, member_idx,
       |    CASE WHEN typeflag NOT IN ('L', 'x') AND prev_tf = 'L'
       |         THEN coalesce(nullif(string_split(prev_payload, chr(0))[1], ''), name)
       |         WHEN typeflag NOT IN ('L', 'x') AND prev_tf = 'x'
       |         THEN coalesce(nullif(regexp_extract(prev_payload,
       |                '[0-9]+ path=([^\n]*)\n', 1), ''), name)
       |         ELSE name END AS name,
       |    header_offset, data_offset, n_bytes, typeflag
       |  FROM members_ov)""".stripMargin

  /** DuckDB shingle CTE twin of Dedup.shingles (3-word shingles). */
  private val SH =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents),
      | idx AS (SELECT doc_id, wl, unnest(generate_series(1, greatest(len(wl)-2, 1))) AS i FROM w),
      | sh AS (SELECT DISTINCT doc_id, array_to_string(wl[i:i+2], ' ') AS s FROM idx)""".stripMargin

  /** DuckDB twin of Dedup.mdhash. */
  private def MDH(e: String): String = s"('0x'||substr(md5($e),1,15))::UBIGINT::BIGINT"

  /** DuckDB twin of Archives.urlFilter's rule chain — identical
   * precedence and RE2-safe regexes, the blocklist inlined
   * (Archives.defaultBlockedHosts). Expects `host`, `pth`, `qry`,
   * `target_uri` in scope; NULL = kept. */
  private def urlReasonSql: String = {
    val bl = graft.ops.Archives.defaultBlockedHosts
      .map(h => s"'$h'").mkString(", ")
    s"""CASE WHEN target_uri IS NULL OR host IS NULL OR host = ''
       |    THEN 'unparsable'
       |  WHEN host IN ($bl) THEN 'blocked_host'
       |  WHEN regexp_matches(host,
       |    '^\\d{1,3}(\\.\\d{1,3}){3}(:\\d+)?$$') THEN 'ip_host'
       |  WHEN regexp_matches(pth,
       |    '(?i)\\.(png|jpe?g|gif|webp|ico|svg|css|js|woff2?|ttf|mp4|webm|mp3|zip|gz|tar|exe|dmg|iso)$$')
       |    THEN 'banned_extension'
       |  WHEN regexp_matches(qry,
       |    '(?i)(^|&)(sessionid|phpsessid|jsessionid|sid|utm_[a-z]+)=')
       |    THEN 'query_spam'
       |  WHEN length(regexp_replace(pth, '[^/]', '', 'g')) > 6
       |    THEN 'path_depth'
       |  WHEN length(target_uri) > 2048 THEN 'url_length'
       |  END""".stripMargin
  }

  /** DuckDB twin of Archives.urlCanonical as a CTE chain over
   * relation `src` (must expose `target_uri` plus the `carry`
   * columns, comma-separated or empty): appends CTEs `<p>c1..<p>c4`;
   * `<p>c4` holds the carry columns + target_uri + canonical_uri +
   * surt_key. Same regexes, same lambda param filter/sort, same SURT
   * assembly as the Spark column expressions. */
  private def CANONCHAIN(p: String, src: String, carry: String): String = {
    val cy = if (carry.isEmpty) "" else carry + ", "
    s"""${p}c1 AS (
       |  SELECT ${cy}target_uri,
       |    lower(regexp_extract(target_uri,
       |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    regexp_replace(lower(regexp_extract(target_uri,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^www\\.', '') AS auth1,
       |    regexp_extract(target_uri,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS pth0,
       |    regexp_extract(target_uri, '\\?([^#]*)', 1) AS qry
       |  FROM $src),
       | ${p}c2 AS (
       |  SELECT ${cy}target_uri, scheme,
       |    CASE WHEN scheme = 'http' THEN regexp_replace(auth1, ':80$$', '')
       |         WHEN scheme = 'https' THEN regexp_replace(auth1, ':443$$', '')
       |         ELSE auth1 END AS host,
       |    CASE WHEN pth0 = '' THEN '/' ELSE pth0 END AS pth,
       |    list_sort(list_filter(string_split(qry, '&'),
       |      p -> p <> '' AND NOT regexp_matches(p,
       |        '${graft.ops.Archives.TrackingParamRe}'))) AS keptp
       |  FROM ${p}c1),
       | ${p}c3 AS (
       |  SELECT ${cy}target_uri, scheme, host,
       |    pth || CASE WHEN len(keptp) > 0
       |      THEN '?' || array_to_string(keptp, '&') ELSE '' END AS tail
       |  FROM ${p}c2),
       | ${p}c4 AS (
       |  SELECT ${cy}target_uri,
       |    CASE WHEN host = '' THEN NULL
       |      ELSE scheme || '://' || host || tail END AS canonical_uri,
       |    CASE WHEN host = '' THEN NULL
       |      ELSE array_to_string(list_reverse(string_split(host, '.')), ',') ||
       |           ')' || tail END AS surt_key
       |  FROM ${p}c3)""".stripMargin
    // NOTE: no line above may BEGIN with '||' — this pre-stripped
    // fragment is interpolated into stripMargin callers, which would
    // eat a leading '|' as a margin character.
  }

  /** The host/path/query decomposition urlReasonSql keys on —
   * identical extraction regexes to Archives.urlFilter. */
  private def urlPartsSql: String =
    s"""lower(regexp_extract(target_uri,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
       |    regexp_extract(target_uri,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS pth,
       |    regexp_extract(target_uri, '\\?([^#]*)', 1) AS qry""".stripMargin

  /** DuckDB little-endian read: the `n` bytes at byte offset `off`
   * (a SQL expression) of hex column `h`, reversed into one hex
   * literal body — wrap in TRY_CAST('0x' || … AS UBIGINT). */
  private def leHex(off: String, n: Int, col: String = "h"): String =
    (n - 1 to 0 by -1)
      .map(k => s"substr($col, CAST(2 * (($off) + $k) + 1 AS BIGINT), 2)")
      .mkString(" || ")

  /** Banded candidate-pair CTE chain — the oracle twin of
   * Dedup.minhashLsh for any banding: the affine constants (same
   * source of truth as Dedup.minhashFromBase), band slicing and
   * exact-Jaccard verify are reproduced relationally, so the
   * approximate candidate generation itself is oracle-checked. Ends in
   * a `jac` CTE carrying (doc_a, doc_b, jaccard >= threshold); shared
   * by the pair oracles (q_d2/q_d3) and the cluster oracles
   * (q_d6/q_d8). */
  private def bandedPairCtes(bands: Int, rowsPerBand: Int, threshold: Double,
      candCond: String = "a.doc_id < b.doc_id"): String = {
    val seedValues = Dedup.minhashConstants(bands * rowsPerBand).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""$SH,
       | hv AS (SELECT doc_id, ${MDH("s")} % ${Dedup.MinhashBaseMod} AS h FROM sh),
       | seeds(seed, a, b) AS (VALUES $seedValues),
       | mh AS (SELECT doc_id, seed, MIN((h * a + b) % ${Dedup.MinhashP}) AS h
       |        FROM hv, seeds GROUP BY doc_id, seed),
       | sig AS (SELECT doc_id, list(h ORDER BY seed) AS sig FROM mh GROUP BY doc_id),
       | bands AS (SELECT doc_id, b,
       |     md5(array_to_string(sig[b*$rowsPerBand+1:b*$rowsPerBand+$rowsPerBand], ',')) AS band_hash
       |           FROM sig, (SELECT unnest(generate_series(0, ${bands - 1})) AS b) bb),
       | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bands a JOIN bands b
       |            ON a.b = b.b AND a.band_hash = b.band_hash AND $candCond),
       | sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       | inter AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS cnt
       |           FROM cand c
       |           JOIN sh sa ON sa.doc_id = c.doc_a
       |           JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
       |           GROUP BY c.doc_a, c.doc_b),
       | jac AS (SELECT i.doc_a, i.doc_b,
       |   ROUND(CAST(i.cnt AS DOUBLE) / (sa.n + sb.n - i.cnt), 6) AS jaccard
       | FROM inter i
       | JOIN sizes sa ON sa.doc_id = i.doc_a
       | JOIN sizes sb ON sb.doc_id = i.doc_b
       | WHERE ROUND(CAST(i.cnt AS DOUBLE) / (sa.n + sb.n - i.cnt), 6) >= $threshold)""".stripMargin
  }

  /** Shared CTE chain for the duplicate-cluster oracles (q_d6, q_d8):
   * banded MinHash pairs (the exported finder's twin, 20×2 banding) →
   * undirected edges → recursive transitive closure → min-label
   * cluster per member doc. */
  private def dupClusterCtes: String =
    s"""${bandedPairCtes(bands = 20, rowsPerBand = 2, threshold = 0.5)
          .replaceFirst("WITH ", "WITH RECURSIVE ")},
       | edges AS (SELECT doc_a AS s, doc_b AS d FROM jac
       |           UNION SELECT doc_b, doc_a FROM jac),
       | nodes AS (SELECT DISTINCT s AS doc_id FROM edges),
       | reach AS (SELECT s, d FROM edges
       |           UNION SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d),
       | cl AS (SELECT n.doc_id, CAST(LEAST(n.doc_id, MIN(r.d)) AS BIGINT) AS cluster
       |        FROM nodes n LEFT JOIN reach r ON r.s = n.doc_id
       |        GROUP BY n.doc_id)""".stripMargin

  /** Oracle twin of Dedup.minhashLsh: the banded pair chain with the
   * verified pairs selected out. */
  private def minhashLshOracle(bands: Int, rowsPerBand: Int, threshold: Double): String =
    s"${bandedPairCtes(bands, rowsPerBand, threshold)}\n SELECT doc_a, doc_b, jaccard FROM jac"

  private def markersSql(markers: Seq[String]): String =
    s"len(list_filter(string_split(text,' '), x -> list_contains([${markers.map(m => s"'$m'").mkString(",")}], x)))"

  /** DuckDB twin of Captions.cleanCueText — the identical three
   * regexp passes with RE2's 'g' flag (Spark's regexp_replace is
   * replace-all by default; DuckDB's is first-only without it). */
  private def cleanSql(col: String): String =
    s"""trim(regexp_replace(regexp_replace(regexp_replace($col,
       |   '<[^>]*>', '', 'g'),
       |   '\\{\\\\[^}]*\\}', '', 'g'),
       |   '[ \\t\\r\\n]+', ' ', 'g'))""".stripMargin

  /** Per-language marker-hit columns over a relation exposing `text`
   * — generated from the same marker lists as the engine, so the two
   * can't drift. Shared by q_x1 and q_m30. */
  private def langHitsSql: String = TextAnalysis.langMarkers
    .map { case (l, ms) => s"${markersSql(ms)} AS hits_$l" }.mkString(",\n   ")

  /** First-wins argmax CASE chain over the [[langHitsSql]] columns —
   * TextAnalysis.predictedFromHits' SQL twin. */
  private def langCaseSql: String = {
    val langs = TextAnalysis.langMarkers.map(_._1)
    val chain = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(o => s"hits_$l >= hits_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"CASE $chain ELSE '${langs.last}' END"
  }

  def oracleSql: Map[String, String] = Map(
    "q_f1_dispatch" ->
      s"""$E SELECT event_id, user_id, ts FROM e WHERE event_type = 'error'""",
    "q_f7_validate_enrich" ->
      s"""$E SELECT event_id, user_id, event_type, value,
         | CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k,
         | CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid' ELSE 'high' END AS value_band
         | FROM e
         | WHERE value IS NOT NULL AND value >= 0 AND event_type IS NOT NULL
         |   AND CAST(json_extract_string(props, '$$.k') AS INTEGER) >= 10""".stripMargin,
    "q_f8_range" ->
      s"""$E SELECT event_id, value FROM e WHERE value BETWEEN 50.0 AND 150.0""",
    "q_f10_clamp" ->
      s"""$E SELECT event_id, ts,
         | CASE WHEN ABS(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-15 00:00:00')) > 600000000
         |      THEN TIMESTAMP '2024-01-15 00:00:00' ELSE ts END AS effective_ts
         | FROM e""".stripMargin,
    "q_f6_suppress" ->
      s"""$E, r AS (
         |  SELECT event_id, user_id, event_type, ts,
         |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type, date_trunc('minute', ts)
         |                       ORDER BY ts, event_id) AS rn
         |  FROM e)
         | SELECT event_id, user_id, event_type, ts FROM r WHERE rn = 1""".stripMargin,
    "q_j1_seq_pair" ->
      s"""$E SELECT s.user_id, s.event_id AS first_event_id, s.ts AS first_ts, MIN(p.ts) AS then_ts
         | FROM e s JOIN e p
         |   ON p.user_id = s.user_id AND p.event_type = 'purchase' AND p.ts >= s.ts
         | WHERE s.event_type = 'signup'
         | GROUP BY s.user_id, s.event_id, s.ts""".stripMargin,
    "q_j2_seq_timeout" ->
      s"""$E SELECT s.user_id, s.event_id AS first_event_id, s.ts AS first_ts
         | FROM e s LEFT JOIN e p
         |   ON p.user_id = s.user_id AND p.event_type = 'purchase'
         |   AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
         | WHERE s.event_type = 'signup' AND p.event_id IS NULL""".stripMargin,
    "q_j3_match_single" ->
      s"""$E SELECT event_id, user_id, event_type, ts FROM e
         | WHERE event_type IN ('signup', 'purchase')""".stripMargin,
    "q_j5_sessions" ->
      s"""$E, d AS (
         |  SELECT user_id, event_id, ts,
         |    CASE WHEN LAG(ts) OVER w IS NULL
         |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         | s AS (
         |  SELECT user_id, ts,
         |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM d)
         | SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |   MIN(ts) AS session_start, MAX(ts) AS session_end
         | FROM s GROUP BY user_id, session_id""".stripMargin,
    "q_j6_chain" ->
      s"""$E, reminders AS (
         |  SELECT s.user_id FROM e s LEFT JOIN e p
         |    ON p.user_id = s.user_id AND p.event_type = 'purchase'
         |    AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
         |  WHERE s.event_type = 'signup' AND p.event_id IS NULL)
         | SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_reminders
         | FROM reminders GROUP BY user_id HAVING COUNT(*) >= 3""".stripMargin,
    "q_j7_first_per_key" ->
      s"""$E, r AS (
         |  SELECT user_id, event_id, ts,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM e WHERE event_type = 'signup')
         | SELECT user_id, ts AS first_ts, event_id AS first_event_id
         | FROM r WHERE rn = 1""".stripMargin,
    "q_j9_enrich_memory" ->
      s"""$E, mem AS (
         |  SELECT user_id, arg_max(value, event_id) AS memory_value
         |  FROM e WHERE event_type = 'purchase' GROUP BY user_id)
         | SELECT e.event_id, e.user_id, e.ts, e.value, mem.memory_value
         | FROM e LEFT JOIN mem ON mem.user_id = e.user_id
         | WHERE e.event_type = 'error'""".stripMargin,
    "q_a1_eps" ->
      s"""$E SELECT date_trunc('minute', ts) AS bucket_ts, CAST(COUNT(*) AS BIGINT) AS n_events
         | FROM e GROUP BY 1""".stripMargin,
    "q_a2_load_avg" ->
      s"""$E, pm AS (
         |  SELECT date_trunc('minute', ts) AS bucket_ts, CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM e GROUP BY 1),
         | bounds AS (SELECT MIN(bucket_ts) AS lo, MAX(bucket_ts) AS hi FROM pm),
         | dense AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS bucket_ts FROM bounds),
         | j AS (SELECT d.bucket_ts, COALESCE(pm.n_events, 0) AS n_events
         |       FROM dense d LEFT JOIN pm ON pm.bucket_ts = d.bucket_ts)
         | SELECT bucket_ts, n_events,
         |   CAST(ROUND(AVG(n_events) OVER (ORDER BY bucket_ts
         |     ROWS BETWEEN 59 PRECEDING AND CURRENT ROW), 6) AS DOUBLE) AS load_avg
         | FROM j""".stripMargin,
    "q_a3_stats" ->
      s"""$E SELECT event_type, CAST(COUNT(*) AS BIGINT) AS seen,
         |   CAST(COUNT(value) AS BIGINT) AS with_value,
         |   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         | FROM e GROUP BY event_type""".stripMargin,
    "q_a5_histogram" ->
      s"""SELECT CAST(LEAST(GREATEST(CAST(POWER(2, CEIL(LOG2(GREATEST(n_chars, 1)))) AS BIGINT), 64), 1048576) AS BIGINT) AS bucket,
         |   CAST(COUNT(*) AS BIGINT) AS n
         | FROM documents GROUP BY 1""".stripMargin,
    "q_a6_chain_accessors" ->
      s"""$E, r AS (
         |  SELECT user_id, event_id, ts,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
         |  FROM e),
         | g AS (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS chain_len,
         |    MIN(ts) AS first_ts, MAX(ts) AS last_ts,
         |    MIN(CASE WHEN event_type = 'error' THEN ts END) AS first_error_ts
         |  FROM e GROUP BY user_id)
         | SELECT g.user_id, g.chain_len, g.first_ts, g.last_ts,
         |   f.event_id AS first_event_id, l.event_id AS last_event_id, g.first_error_ts
         | FROM g
         | JOIN (SELECT user_id, event_id FROM r WHERE rn_a = 1) f ON f.user_id = g.user_id
         | JOIN (SELECT user_id, event_id FROM r WHERE rn_d = 1) l ON l.user_id = g.user_id""".stripMargin,
    "q_a7_trailing_chain" ->
      s"""$E SELECT user_id, event_id, ts,
         |   CAST(COUNT(*) OVER w AS BIGINT) AS chain_size,
         |   CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS chain_sum_value
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_a8_recent_events" ->
      s"""$E SELECT event_id, ts, user_id, event_type FROM e
         | ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin,
    "q_t1_cron_ticks" ->
      s"""$E, bounds AS (
         |  SELECT date_trunc('minute', MIN(ts)) AS lo, date_trunc('minute', MAX(ts)) AS hi FROM e),
         | grid AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS tick_ts FROM bounds)
         | SELECT tick_ts FROM grid
         | WHERE minute(tick_ts) % 15 = 0 AND hour(tick_ts) BETWEEN 9 AND 17
         |   AND isodow(tick_ts) BETWEEN 1 AND 5""".stripMargin,
    "q_t3_onschedule" ->
      s"""$E, bounds AS (
         |  SELECT date_trunc('minute', MIN(ts)) AS lo, date_trunc('minute', MAX(ts)) AS hi FROM e),
         | grid AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS tick_ts FROM bounds)
         | SELECT 'daily_report' AS rule, tick_ts FROM grid
         | WHERE minute(tick_ts) % 15 = 0 AND hour(tick_ts) BETWEEN 9 AND 17
         |   AND isodow(tick_ts) BETWEEN 1 AND 5""".stripMargin,
    "q_t2_cron_tz" ->
      s"""$E, bounds AS (
         |  SELECT date_trunc('minute', MIN(ts)) AS lo, date_trunc('minute', MAX(ts)) AS hi FROM e),
         | grid AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS tick_ts FROM bounds),
         | loc AS (SELECT tick_ts,
         |   (tick_ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS local_ts FROM grid)
         | SELECT tick_ts, local_ts FROM loc
         | WHERE minute(local_ts) = 30 AND hour(local_ts) = 9
         |   AND isodow(local_ts) BETWEEN 1 AND 5""".stripMargin,
    "q_j4_chain_state" ->
      s"""$E, c AS (
         |  SELECT user_id, ts,
         |    string_agg(CAST(event_id AS VARCHAR), ',') OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS chain_ids,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY user_id) AS cnt
         |  FROM e)
         | SELECT user_id, chain_ids, ts AS last_ts FROM c WHERE rn = cnt""".stripMargin,
    "q_r1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         |   CAST(ROUND(AVG(l_quantity), 6) AS DOUBLE) AS avg_qty,
         |   CAST(COUNT(*) AS BIGINT) AS count_order
         | FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         | GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_r2_customer_geo" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name AS nation, r_name AS region
         | FROM customer
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q_r3_customer_revenue" ->
      s"""SELECT c_custkey, c_name,
         |   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         |   CAST(COUNT(*) AS BIGINT) AS n_items
         | FROM orders
         | JOIN lineitem ON l_orderkey = o_orderkey
         | JOIN customer ON c_custkey = o_custkey
         | WHERE o_orderstatus = 'F'
         | GROUP BY c_custkey, c_name""".stripMargin,
    "q_r4_regional_volume" ->
      s"""SELECT n_name AS nation,
         |   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         | FROM region
         | JOIN nation ON n_regionkey = r_regionkey
         | JOIN customer ON c_nationkey = n_nationkey
         | JOIN orders ON o_custkey = c_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         | JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
         | WHERE r_name = 'ASIA'
         | GROUP BY n_name""".stripMargin,
    "q_d1_exact_dedup" ->
      s"""SELECT md5(text) AS text_md5, MIN(doc_id) AS canonical_doc_id,
         |   CAST(COUNT(*) AS BIGINT) AS n_copies
         | FROM documents GROUP BY 1""".stripMargin,
    "q_d2_minhash_lsh" -> minhashLshOracle(bands = 12, rowsPerBand = 4, threshold = 0.5),
    "q_d3_ngram_jaccard" -> minhashLshOracle(bands = 20, rowsPerBand = 2, threshold = 0.5),
    "q_r5_forecast_revenue" ->
      s"""SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         |   CAST(COUNT(*) AS BIGINT) AS n_items
         | FROM lineitem
         | WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         |   AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
         |   AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_d6_dup_clusters" -> s"$dupClusterCtes\n SELECT doc_id, cluster FROM cl",
    "q_d8_dedup_apply" ->
      s"""$dupClusterCtes
         | SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         | FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
         | WHERE cl.doc_id IS NULL OR cl.cluster = d.doc_id""".stripMargin,
    "q_d7_simhash_pairs" ->
      s"""WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w0 FROM documents),
         | h AS (SELECT doc_id, ${MDH("w0")} AS hv FROM wd),
         | bits AS (SELECT doc_id, i,
         |            SUM(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
         |          FROM h, (SELECT unnest(generate_series(0, 59)) AS i) g
         |          GROUP BY doc_id, i),
         | sh2 AS (SELECT doc_id,
         |   CAST(SUM(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
         |   FROM bits GROUP BY doc_id),
         | banded AS (SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS band_val
         |            FROM sh2, (SELECT unnest(generate_series(0, 3)) AS b) bb),
         | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |            a.simhash AS ha, b.simhash AS hb
         |          FROM banded a JOIN banded b
         |            ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
         | SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         | FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin,
    "q_d4_simhash" ->
      s"""WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w0 FROM documents),
         | h AS (SELECT doc_id, ${MDH("w0")} AS hv FROM wd),
         | bits AS (SELECT doc_id, i,
         |            SUM(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
         |          FROM h, (SELECT unnest(generate_series(0, 59)) AS i) g
         |          GROUP BY doc_id, i)
         | SELECT doc_id,
         |   CAST(SUM(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY doc_id""".stripMargin,
    "q_d5_embed_neardup" -> embedNearDupLshOracle,
    "q_d9_embed_clusters" -> embedClusterOracle,
    "q_d10_incremental" -> (bandedPairCtes(bands = 20, rowsPerBand = 2, threshold = 0.5,
      candCond = "(a.doc_id % 2) = 1 AND (b.doc_id % 2) = 0") +
      "\n SELECT doc_a, doc_b, jaccard FROM jac"),
    // q_d11: same non-overlapping 10-word spans, keep-first by corpus
    // order (doc_id, span_idx), reassemble kept spans in order;
    // FILTERed list aggregation mirrors the conditional collect_list
    "q_d11_span_dedup" ->
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         | st AS (SELECT doc_id, w,
         |   unnest(generate_series(1, greatest(len(w), 1), 10)) AS s FROM wl),
         | sp AS (SELECT doc_id, CAST((s - 1) // 10 AS BIGINT) AS span_idx,
         |        array_to_string(w[s:s+9], ' ') AS span_text FROM st),
         | rk AS (SELECT *, row_number() OVER
         |          (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn FROM sp)
         | SELECT doc_id,
         |   CAST(count(*) AS BIGINT) AS n_spans,
         |   CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
         |   coalesce(array_to_string(
         |     list(span_text ORDER BY span_idx) FILTER (WHERE rn = 1), ' '), '')
         |     AS clean_text
         | FROM rk GROUP BY doc_id""".stripMargin,
    "q_s1_ann_topk" -> bruteOracle,
    "q_s11_kmeans" -> kmeansOracle,
    "q_s12_ann_ivf_trained" -> ivfTrainedOracle,
    "q_s2_ann_lsh" -> lshOracle,
    "q_s4_ann_sq8" -> sq8Oracle,
    "q_s9_ann_recall" -> recallOracle,
    "q_x1_langid" -> langidOracle,
    "q_x2_tokens" ->
      s"""SELECT doc_id,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         |   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens
         | FROM documents""".stripMargin,
    "q_x3_quality" -> qualityOracle,
    "q_x4_fingerprint" ->
      s"""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '  +', ' ', 'g')) AS norm FROM documents)
         | SELECT doc_id, md5(norm) AS fp_md5, ${MDH("norm")} AS fp64,
         |   CAST(${MDH("norm")} % 1024 AS BIGINT) AS fp_bucket
         | FROM n""".stripMargin,
    "q_x6_unigram_logprob" ->
      s"""WITH wr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         | vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM wr GROUP BY w),
         | tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM vocab)
         | SELECT wr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |   CAST(ROUND(AVG(ln(CAST(v.c AS DOUBLE) / t.total)), 6) AS DOUBLE) AS avg_logprob
         | FROM wr JOIN vocab v ON v.w = wr.w, tot t
         | GROUP BY wr.doc_id""".stripMargin,
    "q_x7_winnow" ->
      s"""$SH,
         | pos AS (SELECT doc_id, wl, unnest(generate_series(1, greatest(len(wl)-2, 1))) AS i FROM w),
         | g AS (SELECT doc_id, i, array_to_string(wl[i:i+2], ' ') AS gram FROM pos),
         | hh AS (SELECT doc_id, i, ${MDH("gram")} AS hv FROM g),
         | fps AS (SELECT doc_id,
         |   MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
         |     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
         |   FROM hh)
         | SELECT DISTINCT doc_id, fp FROM fps""".stripMargin,
    // q_x20: same winnow CTE → df-capped self-join → containment
    // (sizes from the UNpruned sets, matching TextAnalysis.copyPairs)
    "q_x20_copy_pairs" ->
      s"""$SH,
         | pos AS (SELECT doc_id, wl, unnest(generate_series(1, greatest(len(wl)-2, 1))) AS i FROM w),
         | g AS (SELECT doc_id, i, array_to_string(wl[i:i+2], ' ') AS gram FROM pos),
         | hh AS (SELECT doc_id, i, ${MDH("gram")} AS hv FROM g),
         | fpw AS (SELECT doc_id,
         |   MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
         |     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
         |   FROM hh),
         | fp AS (SELECT DISTINCT doc_id, fp FROM fpw),
         | keep AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 20),
         | pr AS (SELECT f.doc_id, f.fp FROM fp f JOIN keep USING (fp)),
         | pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |     CAST(COUNT(*) AS BIGINT) AS n_shared
         |   FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |   GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         | sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fp GROUP BY 1)
         | SELECT doc_a, doc_b, n_shared,
         |   ROUND(n_shared / LEAST(sa.n_fp, sb.n_fp), 6) AS containment
         | FROM pairs
         | JOIN sz sa ON sa.doc_id = doc_a
         | JOIN sz sb ON sb.doc_id = doc_b""".stripMargin,
    "q_x8_repetition" ->
      s"""WITH wr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         | wc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM wr GROUP BY doc_id, w),
         | ws AS (SELECT doc_id,
         |   ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_word_frac FROM wc GROUP BY doc_id),
         | wl AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         | gi AS (SELECT doc_id, l, unnest(generate_series(1, greatest(len(l)-2, 1))) AS i FROM wl),
         | g AS (SELECT doc_id, array_to_string(l[i:i+2], ' ') AS g FROM gi),
         | gs AS (SELECT doc_id,
         |   ROUND(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6) AS dup_3gram_frac
         |   FROM g GROUP BY doc_id)
         | SELECT ws.doc_id, ws.top_word_frac, gs.dup_3gram_frac
         | FROM ws JOIN gs ON gs.doc_id = ws.doc_id""".stripMargin,
    "q_x9_bigram_logprob" ->
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         | bi AS (SELECT doc_id, l, unnest(generate_series(1, len(l)-1)) AS i FROM wl WHERE len(l) >= 2),
         | bg AS (SELECT doc_id, l[i] AS prev, l[i+1] AS w FROM bi),
         | bc AS (SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS bc FROM bg GROUP BY prev, w),
         | cc AS (SELECT prev, CAST(SUM(bc) AS BIGINT) AS cc FROM bc GROUP BY prev)
         | SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |   CAST(ROUND(AVG(ln(CAST(bc.bc AS DOUBLE) / cc.cc)), 6) AS DOUBLE) AS avg_logprob
         | FROM bg
         | JOIN bc ON bc.prev = bg.prev AND bc.w = bg.w
         | JOIN cc ON cc.prev = bg.prev
         | GROUP BY bg.doc_id""".stripMargin,
    "q_x5_corpus_stats" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_ws_tokens,
         |   CAST(ROUND(AVG(n_chars), 6) AS DOUBLE) AS avg_chars
         | FROM documents GROUP BY lang""".stripMargin,
    "q_p1_hash_sample" ->
      s"""SELECT doc_id, lang FROM documents
         | WHERE ${MDH("CAST(doc_id AS VARCHAR)")} % 1000000 < 250000""".stripMargin,
    "q_p7_shuffle_shards" ->
      s"""WITH h AS (SELECT doc_id,
         |   ${MDH("'42:' || CAST(doc_id AS VARCHAR)")} AS hv FROM documents)
         | SELECT doc_id, CAST(hv % 64 AS INTEGER) AS shard,
         |   CAST(row_number() OVER
         |     (PARTITION BY hv % 64 ORDER BY hv, doc_id) AS BIGINT) AS pos
         | FROM h""".stripMargin,
    "q_p2_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         | WHERE ${MDH("CAST(doc_id AS VARCHAR)")} % 1000000 <
         |   CASE lang WHEN 'en' THEN 1000000 WHEN 'de' THEN 500000
         |             WHEN 'fr' THEN 500000 WHEN 'es' THEN 500000
         |             WHEN 'zh' THEN 250000 ELSE 0 END""".stripMargin,
    "q_p4_weighted_mix" ->
      s"""WITH per AS (SELECT source,
         |   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |   FROM documents GROUP BY source),
         | w AS (SELECT source, ROUND(POW(CAST(n_tokens AS DOUBLE), -0.5), 9) AS w_raw FROM per),
         | mx AS (SELECT MAX(w_raw) AS w_max FROM w),
         | r AS (SELECT source, ROUND(w_raw / w_max, 6) AS keep_rate FROM w, mx)
         | SELECT d.doc_id, d.source, r.keep_rate
         | FROM documents d JOIN r ON r.source = d.source
         | WHERE ${MDH("CAST(d.doc_id AS VARCHAR)")} % 1000000 < ROUND(keep_rate * 1e6)""".stripMargin,
    "q_p3_split" ->
      s"""SELECT doc_id,
         |   CASE WHEN ${MDH("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
         |        WHEN ${MDH("CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
         |        ELSE 'test' END AS split
         | FROM documents""".stripMargin,
    "q_p5_token_shards" ->
      s"""WITH t AS (SELECT doc_id, source,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
         | c AS (SELECT doc_id, source, n_tokens,
         |   COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |   FROM t)
         | SELECT doc_id, source, n_tokens, CAST(cum // 500 AS INTEGER) AS shard FROM c""".stripMargin,
    // q_p8: the same running sum, then each doc explodes into the
    // 512-token sequences its concatenated span touches — span
    // arithmetic is pure integer floor division on both engines
    "q_p8_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, source,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
         | c AS (SELECT doc_id, source, n_tokens,
         |   COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0
         |   FROM t WHERE n_tokens > 0),
         | e AS (SELECT c.*, unnest(generate_series(CAST(c0 // 512 AS BIGINT),
         |     CAST((c0 + n_tokens - 1) // 512 AS BIGINT))) AS seq_id
         |   FROM c)
         | SELECT source, CAST(seq_id AS BIGINT) AS seq_id, doc_id, n_tokens,
         |   CAST(greatest(0, seq_id * 512 - c0) AS BIGINT) AS tok_start,
         |   CAST(least(n_tokens, seq_id * 512 + 512 - c0) AS BIGINT) AS tok_end,
         |   CAST(greatest(0, c0 - seq_id * 512) AS BIGINT) AS seq_off
         | FROM e""".stripMargin,
    "q_p6_source_cap" ->
      s"""WITH r AS (SELECT doc_id, source,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY source
         |     ORDER BY ${MDH("CAST(doc_id AS VARCHAR)")} % 1000000, doc_id) AS INTEGER) AS pick
         | FROM documents)
         | SELECT doc_id, source, pick FROM r WHERE pick <= 10""".stripMargin,
    // q_p9: floor(r) whole copies + one hash-gated fractional copy —
    // the same micro-rate hash gate as q_p1, then generate_series
    // explodes the copies
    "q_p9_repeat_mix" ->
      s"""WITH w AS (SELECT doc_id, source,
         |   CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.5
         |               WHEN 'src2' THEN 0.4 ELSE 1.0 END AS r
         |   FROM documents),
         | n AS (SELECT doc_id, source,
         |   CAST(floor(r) AS BIGINT) +
         |     (CASE WHEN ${MDH("CAST(doc_id AS VARCHAR)")} % 1000000
         |       < ROUND((r - floor(r)) * 1e6) THEN 1 ELSE 0 END) AS n_copies
         |   FROM w)
         | SELECT doc_id, source, n_copies,
         |   CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT) AS copy_idx
         | FROM n WHERE n_copies > 0""".stripMargin,
    // q_p10: the dup-cluster CTE chain (q_d6's twin) labels clustered
    // docs; the split hash runs on COALESCE(cluster, doc_id) — the
    // q_p3 assignment keyed by group instead of doc
    "q_p10_cluster_split" ->
      s"""$dupClusterCtes,
         | g AS (SELECT d.doc_id,
         |         CAST(COALESCE(cl.cluster, d.doc_id) AS BIGINT) AS group_key
         |       FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
         | SELECT doc_id, group_key,
         |   CASE WHEN ${MDH("CAST(group_key AS VARCHAR)")} % 100 < 90 THEN 'train'
         |        WHEN ${MDH("CAST(group_key AS VARCHAR)")} % 100 < 95 THEN 'val'
         |        ELSE 'test' END AS split
         | FROM g""".stripMargin,
    // q_x21: adjacent character pairs over single-space words (the
    // repo's tokenization convention) — strict total order
    // (count desc, pair), so the LIMIT boundary agrees
    "q_x21_byte_pairs" ->
      s"""WITH wx AS (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         | w2 AS (SELECT w FROM wx WHERE length(w) >= 2),
         | p AS (
         |  SELECT u['pl'] AS pair_left, u['pr'] AS pair_right FROM (
         |   SELECT unnest(list_transform(generate_series(1, length(w) - 1),
         |     i -> {'pl': w[i], 'pr': w[i + 1]})) AS u
         |   FROM w2) t)
         | SELECT pair_left, pair_right, CAST(count(*) AS BIGINT) AS n
         | FROM p GROUP BY 1, 2
         | ORDER BY n DESC, pair_left, pair_right
         | LIMIT 50""".stripMargin,
    // q_x22: the full 8-round BPE training loop as ONE recursive CTE.
    // State rows are (round, sentinel-framed word, count); each
    // iteration cross-joins the working table with its own argmax
    // pair and applies the merge as a plain `replace` — the
    // sentinel framing (chr(1) sym chr(2) per symbol) makes
    // left-to-right non-overlapping replacement exactly the greedy
    // BPE merge, with no boundary-swallowing between adjacent
    // occurrences. The merge table is then re-derived per round from
    // the accumulated states (rank-1 pair of each round's table)
    "q_x22_bpe_train" ->
      s"""WITH RECURSIVE
         | bx AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         | bw AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM bx
         |  WHERE length(w) >= 2 AND w NOT LIKE '%' || chr(1) || '%'
         |    AND w NOT LIKE '%' || chr(2) || '%'
         |  GROUP BY w),
         | st AS (
         |  SELECT 0 AS r,
         |    regexp_replace(w, '([\\s\\S])', chr(1) || '\\1' || chr(2), 'g') AS w,
         |    cnt
         |  FROM bw
         |  UNION ALL
         |  SELECT st.r + 1,
         |    replace(st.w,
         |      chr(1) || best.a || chr(2) || chr(1) || best.b || chr(2),
         |      chr(1) || best.a || best.b || chr(2)),
         |    st.cnt
         |  FROM st, (
         |    SELECT u['a'] AS a, u['b'] AS b
         |    FROM (
         |      SELECT u, sum(cnt) AS n FROM (
         |        SELECT cnt,
         |          unnest(list_transform(generate_series(1, len(l) - 1),
         |            i -> {'a': l[i], 'b': l[i + 1]})) AS u
         |        FROM (SELECT cnt,
         |            string_split(substr(w, 2, length(w) - 2),
         |              chr(2) || chr(1)) AS l
         |          FROM st) q
         |        WHERE len(l) >= 2) z
         |      GROUP BY u)
         |    ORDER BY n DESC, u['a'], u['b'] LIMIT 1) best
         |  WHERE st.r < 8),
         | px AS (
         |  SELECT r, cnt,
         |    string_split(substr(w, 2, length(w) - 2), chr(2) || chr(1)) AS l
         |  FROM st WHERE r < 8),
         | pu AS (
         |  SELECT r, cnt,
         |    unnest(list_transform(generate_series(1, len(l) - 1),
         |      i -> {'a': l[i], 'b': l[i + 1]})) AS u
         |  FROM px WHERE len(l) >= 2),
         | pc AS (
         |  SELECT r, u['a'] AS a, u['b'] AS b, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM pu GROUP BY r, u['a'], u['b']),
         | pr AS (
         |  SELECT r, a, b, n,
         |    row_number() OVER (PARTITION BY r ORDER BY n DESC, a, b) AS rk
         |  FROM pc)
         | SELECT CAST(r + 1 AS INT) AS merge_round, a AS pair_left,
         |   b AS pair_right, n
         | FROM pr WHERE rk = 1""".stripMargin,
    "q_x17_tfidf" ->
      s"""WITH wr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         | tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM wr GROUP BY 1, 2),
         | dl AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len FROM tf GROUP BY 1),
         | dfq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         | nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         | s AS (SELECT tf.doc_id, tf.w, tf.c,
         |   ROUND((CAST(tf.c AS DOUBLE) / dl.len)
         |     * ln((nd.n_docs + 1.0) / (dfq.df + 1.0)), 6) AS tfidf
         |   FROM tf JOIN dl USING (doc_id) JOIN dfq USING (w), nd),
         | r AS (SELECT doc_id, w, c, tfidf,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS INTEGER) AS rank
         |   FROM s)
         | SELECT doc_id, rank, w, c, tfidf FROM r WHERE rank <= 5""".stripMargin,
    "q_x18_chunks" ->
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents),
         | st AS (SELECT doc_id, wl,
         |   unnest(generate_series(1, greatest(len(wl), 1), 20)) AS s FROM wl)
         | SELECT doc_id, CAST((s - 1) // 20 AS INTEGER) AS chunk_idx,
         |   CAST(LEAST(25, len(wl) - s + 1) AS BIGINT) AS n_tokens,
         |   array_to_string(wl[s:s+24], ' ') AS chunk_text
         | FROM st""".stripMargin,
    "q_m1_media_meta" ->
      s"""SELECT doc_id AS media_id, 'text/plain' AS mime_type,
         |   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         | FROM documents""".stripMargin,
    // q_m2: the oracle independently re-parses the image headers from
    // the same blobs — PNG at the spec-fixed IHDR offsets, JPEG at the
    // SOF offset the fixture's layout implies (SOF at byte 21; rows
    // with a COM segment shift by its 4+len bytes). Byte p (1-based)
    // lives at hex chars 2p-1..2p of hex(media).
    "q_m2_image_meta" ->
      s"""WITH m AS (SELECT media_id, mime_type, hex(media) AS h,
         |                  octet_length(media) AS n
         |           FROM read_parquet('${Tables.mediaFixturePath}')),
         | j AS (SELECT m.*,
         |         CASE WHEN media_id % 4 = 1 THEN 21
         |              WHEN media_id % 4 = 2 THEN 35 + media_id % 7 END AS o,
         |         (substr(h, 1, 16) = '89504E470D0A1A0A' AND n >= 24
         |           AND substr(h, 25, 8) = '49484452') AS is_png,
         |         substr(h, 1, 4) = 'FFD8' AS is_jpg
         |       FROM m)
         | SELECT media_id, mime_type, CAST(n AS BIGINT) AS n_bytes,
         |   CASE WHEN is_png THEN 'png' WHEN is_jpg THEN 'jpeg' END AS format,
         |   CASE WHEN is_png THEN ('0x' || substr(h, 33, 8))::INTEGER
         |        WHEN is_jpg THEN ('0x' || substr(h, 2 * (o + 6) + 1, 4))::INTEGER
         |   END AS width,
         |   CASE WHEN is_png THEN ('0x' || substr(h, 41, 8))::INTEGER
         |        WHEN is_jpg THEN ('0x' || substr(h, 2 * (o + 4) + 1, 4))::INTEGER
         |   END AS height
         | FROM j""".stripMargin,
    // q_m3: the oracle independently re-parses WAV/GIF/BMP headers
    // from the same blobs with little-endian hex arithmetic. Byte o
    // (0-based) lives at hex chars 2o+1..2o+2; LE fields reverse the
    // byte order. The fixture's fmt chunk sits at byte 12; the data
    // chunk offset shifts by the LIST chunk on media_id % 8 = 4 rows
    // (8 + 12 + 2*(id%3) bytes) — same layout-implied arithmetic as
    // q_m2's COM shift. BMP heights are signed LE32: values past 2^31
    // are top-down rows, reported as the magnitude.
    "q_m3_av_meta" ->
      s"""WITH m AS (SELECT media_id, mime_type, hex(media) AS h,
         |                  octet_length(media) AS n
         |           FROM read_parquet('${Tables.avFixturePath}')),
         | t AS (SELECT m.*,
         |         (substr(h, 1, 8) = '52494646' AND n >= 12
         |           AND substr(h, 17, 8) = '57415645') AS is_wav,
         |         (substr(h, 1, 8) = '47494638' AND n >= 10
         |           AND substr(h, 9, 2) IN ('37', '39')
         |           AND substr(h, 11, 2) = '61') AS is_gif,
         |         (substr(h, 1, 4) = '424D' AND n >= 26
         |           AND coalesce(TRY_CAST('0x' || substr(h, 35, 2) || substr(h, 33, 2)
         |                || substr(h, 31, 2) || substr(h, 29, 2) AS BIGINT) >= 40,
         |                FALSE)) AS is_bmp,
         |         36 + CASE WHEN media_id % 8 = 4
         |                   THEN 20 + 2 * (media_id % 3) ELSE 0 END AS d0
         |       FROM m),
         | f AS (SELECT t.*,
         |         TRY_CAST('0x' || substr(h, 63, 2) || substr(h, 61, 2)
         |          || substr(h, 59, 2) || substr(h, 57, 2) AS BIGINT) AS byte_rate,
         |         TRY_CAST('0x' || substr(h, 2 * d0 + 15, 2) || substr(h, 2 * d0 + 13, 2)
         |          || substr(h, 2 * d0 + 11, 2) || substr(h, 2 * d0 + 9, 2) AS BIGINT) AS data_len,
         |         TRY_CAST('0x' || substr(h, 51, 2) || substr(h, 49, 2)
         |          || substr(h, 47, 2) || substr(h, 45, 2) AS BIGINT) AS bmp_h
         |       FROM t)
         | SELECT media_id, mime_type, CAST(n AS BIGINT) AS n_bytes,
         |   CASE WHEN is_wav THEN 'wav' WHEN is_gif THEN 'gif'
         |        WHEN is_bmp THEN 'bmp' END AS format,
         |   CASE WHEN is_gif THEN ('0x' || substr(h, 15, 2) || substr(h, 13, 2))::INTEGER
         |        WHEN is_bmp THEN ('0x' || substr(h, 43, 2) || substr(h, 41, 2)
         |          || substr(h, 39, 2) || substr(h, 37, 2))::INTEGER
         |   END AS width,
         |   CASE WHEN is_gif THEN ('0x' || substr(h, 19, 2) || substr(h, 17, 2))::INTEGER
         |        WHEN is_bmp THEN (CASE WHEN bmp_h > 2147483647
         |          THEN 4294967296 - bmp_h ELSE bmp_h END)::INTEGER
         |   END AS height,
         |   CASE WHEN is_wav THEN ('0x' || substr(h, 47, 2) || substr(h, 45, 2))::INTEGER
         |   END AS channels,
         |   CASE WHEN is_wav THEN ('0x' || substr(h, 55, 2) || substr(h, 53, 2)
         |     || substr(h, 51, 2) || substr(h, 49, 2))::INTEGER
         |   END AS sample_rate,
         |   CASE WHEN is_wav THEN ('0x' || substr(h, 71, 2) || substr(h, 69, 2))::INTEGER
         |   END AS bits,
         |   CASE WHEN is_wav THEN CAST(data_len * 1000 // byte_rate AS BIGINT)
         |   END AS duration_ms
         | FROM f""".stripMargin,
    // q_m4: the oracle independently re-parses the ISO-BMFF boxes with
    // BIG-endian hex arithmetic (MP4 is a BE format — no byte swaps).
    // The moov offset d0 shifts with the free box (24 + 3*(id%5), the
    // fixture's layout contract, like q_m3's LIST shift); mvhd v1 rows
    // (id%4=1) read timescale/duration at their 64-bit-field offsets
    // (duration < 2^32 in the fixture, so its low word is the value).
    // tkhd width/height are 16.16 fixed-point: the BE16 integer part.
    "q_m4_mp4_meta" ->
      s"""WITH m AS (SELECT media_id, mime_type, hex(media) AS h,
         |                  octet_length(media) AS n
         |           FROM read_parquet('${Tables.mp4FixturePath}')),
         | t AS (SELECT m.*,
         |         (n >= 12 AND substr(h, 9, 8) = '66747970') AS is_mp4,
         |         (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |         (media_id % 4 = 1) AS v1,
         |         24 + 3 * (media_id % 5) AS d0
         |       FROM m),
         | f AS (SELECT t.*,
         |         CASE WHEN v1
         |           THEN TRY_CAST('0x' || substr(h, 2 * (d0 + 36) + 1, 8) AS BIGINT)
         |           ELSE TRY_CAST('0x' || substr(h, 2 * (d0 + 28) + 1, 8) AS BIGINT)
         |         END AS ts,
         |         CASE WHEN v1
         |           THEN TRY_CAST('0x' || substr(h, 2 * (d0 + 44) + 1, 8) AS BIGINT)
         |           ELSE TRY_CAST('0x' || substr(h, 2 * (d0 + 32) + 1, 8) AS BIGINT)
         |         END AS dur,
         |         d0 + 8 + CASE WHEN v1 THEN 120 ELSE 108 END AS trak
         |       FROM t)
         | SELECT media_id, mime_type, CAST(n AS BIGINT) AS n_bytes,
         |   CASE WHEN is_mp4 THEN 'mp4' END AS format,
         |   CASE WHEN is_mp4 AND full_row
         |     THEN ('0x' || substr(h, 2 * (trak + 92) + 1, 4))::INTEGER END AS width,
         |   CASE WHEN is_mp4 AND full_row
         |     THEN ('0x' || substr(h, 2 * (trak + 96) + 1, 4))::INTEGER END AS height,
         |   CAST(NULL AS INTEGER) AS channels,
         |   CAST(NULL AS INTEGER) AS sample_rate,
         |   CAST(NULL AS INTEGER) AS bits,
         |   CASE WHEN is_mp4 AND full_row
         |     THEN CAST(dur * 1000 // ts AS BIGINT) END AS duration_ms
         | FROM f""".stripMargin,
    // q_m5: the oracle re-parses AIFF (big-endian; the 80-bit extended
    // sample rate expands as mantissa-top-32 * 2^(exp-16383-31)), AU
    // (five BE32 header words) and companded WAV (LE fmt fields) at
    // the writers' layout-contract offsets (JDK AIFF writer: COMM at
    // byte 12, rate at 28; JDK AU writer: data at 24; our companded
    // WAV: fmt at 12, data at 36). Truncated/junk rows (id%8 in (3,7))
    // parse to NULLs on both engines.
    "q_m5_audio_meta" ->
      s"""WITH m AS (SELECT media_id, mime_type, hex(media) AS h,
         |                  octet_length(media) AS n
         |           FROM read_parquet('${Tables.audioFixturePath}')),
         | t AS (SELECT m.*,
         |         (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |         (substr(h, 1, 8) = '464F524D' AND n >= 12
         |           AND substr(h, 17, 8) = '41494646') AS is_aiff,
         |         (substr(h, 1, 8) = '2E736E64') AS is_au,
         |         (substr(h, 1, 8) = '52494646' AND n >= 12
         |           AND substr(h, 17, 8) = '57415645') AS is_wav
         |       FROM m),
         | f AS (SELECT t.*,
         |         TRY_CAST('0x' || substr(h, 41, 4) AS INTEGER) AS af_ch,
         |         TRY_CAST('0x' || substr(h, 45, 8) AS BIGINT) AS af_frames,
         |         TRY_CAST('0x' || substr(h, 53, 4) AS INTEGER) AS af_bits,
         |         TRY_CAST('0x' || substr(h, 57, 4) AS BIGINT) AS af_exp,
         |         TRY_CAST('0x' || substr(h, 61, 8) AS BIGINT) AS af_mant,
         |         TRY_CAST('0x' || substr(h, 17, 8) AS BIGINT) AS au_size,
         |         TRY_CAST('0x' || substr(h, 33, 8) AS BIGINT) AS au_rate,
         |         TRY_CAST('0x' || substr(h, 41, 8) AS BIGINT) AS au_ch,
         |         TRY_CAST('0x' || substr(h, 47, 2) || substr(h, 45, 2) AS INTEGER) AS wv_ch,
         |         TRY_CAST('0x' || substr(h, 55, 2) || substr(h, 53, 2)
         |           || substr(h, 51, 2) || substr(h, 49, 2) AS BIGINT) AS wv_rate,
         |         TRY_CAST('0x' || substr(h, 63, 2) || substr(h, 61, 2)
         |           || substr(h, 59, 2) || substr(h, 57, 2) AS BIGINT) AS wv_byterate,
         |         TRY_CAST('0x' || substr(h, 71, 2) || substr(h, 69, 2) AS INTEGER) AS wv_bits,
         |         -- data-chunk length: the companded classes' fmt-16
         |         -- layout puts it at byte 40; the ADPCM class
         |         -- (id%8=6) writes a 20-byte fmt chunk → byte 44
         |         CASE WHEN media_id % 8 = 6 THEN
         |           TRY_CAST('0x' || substr(h, 95, 2) || substr(h, 93, 2)
         |             || substr(h, 91, 2) || substr(h, 89, 2) AS BIGINT)
         |         ELSE
         |           TRY_CAST('0x' || substr(h, 87, 2) || substr(h, 85, 2)
         |             || substr(h, 83, 2) || substr(h, 81, 2) AS BIGINT)
         |         END AS wv_datalen
         |       FROM t)
         | SELECT media_id, mime_type, CAST(n AS BIGINT) AS n_bytes,
         |   CASE WHEN NOT full_row THEN NULL
         |        WHEN is_aiff THEN 'aiff' WHEN is_au THEN 'au'
         |        WHEN is_wav THEN 'wav' END AS format,
         |   CAST(NULL AS INTEGER) AS width,
         |   CAST(NULL AS INTEGER) AS height,
         |   CASE WHEN NOT full_row THEN NULL
         |        WHEN is_aiff THEN af_ch
         |        WHEN is_au THEN CAST(au_ch AS INTEGER)
         |        WHEN is_wav THEN wv_ch END AS channels,
         |   CASE WHEN NOT full_row THEN NULL
         |        WHEN is_aiff THEN CAST(round(af_mant * power(2, af_exp - 16383 - 31)) AS INTEGER)
         |        WHEN is_au THEN CAST(au_rate AS INTEGER)
         |        WHEN is_wav THEN CAST(wv_rate AS INTEGER) END AS sample_rate,
         |   CASE WHEN NOT full_row THEN NULL
         |        WHEN is_aiff THEN af_bits
         |        WHEN is_au THEN 16
         |        WHEN is_wav THEN wv_bits END AS bits,
         |   CASE WHEN NOT full_row THEN NULL
         |        WHEN is_aiff THEN CAST(round(af_frames * 1000.0
         |          / (af_mant * power(2, af_exp - 16383 - 31))) AS BIGINT)
         |        WHEN is_au THEN CAST(au_size * 1000 // (au_rate * au_ch * 2) AS BIGINT)
         |        WHEN is_wav THEN CAST(wv_datalen * 1000 // wv_byterate AS BIGINT)
         |   END AS duration_ms
         | FROM f""".stripMargin,
    // q_m6: the oracle re-parses the Ogg pages at the builders'
    // fixed one-segment offsets — Opus fields in the BOS packet at 28
    // (channels@37, pre-skip LE16@38, input rate LE32@40) with the
    // EOS granule LE64@53 on the codec's fixed 48 kHz clock; Vorbis
    // channels@39 / rate LE32@40 with the EOS granule LE64@64 on the
    // stream's own clock. Truncated rows (%8=3) keep the container
    // identity ('ogg') with NULL fields; junk rows parse to nothing.
    "q_m6_ogg_meta" ->
      s"""WITH m AS (SELECT media_id, mime_type, hex(media) AS h,
         |                  octet_length(media) AS n
         |           FROM read_parquet('${Tables.oggFixturePath}')),
         | t AS (SELECT m.*,
         |         (n >= 28 AND substr(h, 1, 8) = '4F676753') AS is_ogg,
         |         (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |         (media_id % 4 = 0) AS is_opus
         |       FROM m),
         | f AS (SELECT t.*,
         |         TRY_CAST('0x' || substr(h, 75, 2) AS INTEGER) AS op_ch,
         |         TRY_CAST('0x' || substr(h, 79, 2) || substr(h, 77, 2) AS BIGINT) AS op_skip,
         |         TRY_CAST('0x' || substr(h, 87, 2) || substr(h, 85, 2)
         |           || substr(h, 83, 2) || substr(h, 81, 2) AS BIGINT) AS rate32,
         |         TRY_CAST('0x' || substr(h, 121, 2) || substr(h, 119, 2)
         |           || substr(h, 117, 2) || substr(h, 115, 2) || substr(h, 113, 2)
         |           || substr(h, 111, 2) || substr(h, 109, 2) || substr(h, 107, 2)
         |           AS BIGINT) AS op_gran,
         |         TRY_CAST('0x' || substr(h, 79, 2) AS INTEGER) AS vo_ch,
         |         TRY_CAST('0x' || substr(h, 143, 2) || substr(h, 141, 2)
         |           || substr(h, 139, 2) || substr(h, 137, 2) || substr(h, 135, 2)
         |           || substr(h, 133, 2) || substr(h, 131, 2) || substr(h, 129, 2)
         |           AS BIGINT) AS vo_gran
         |       FROM t)
         | SELECT media_id, mime_type, CAST(n AS BIGINT) AS n_bytes,
         |   CASE WHEN NOT is_ogg THEN NULL
         |        WHEN NOT full_row THEN 'ogg'
         |        WHEN is_opus THEN 'opus' ELSE 'vorbis' END AS format,
         |   CAST(NULL AS INTEGER) AS width,
         |   CAST(NULL AS INTEGER) AS height,
         |   CASE WHEN NOT is_ogg OR NOT full_row THEN NULL
         |        WHEN is_opus THEN op_ch ELSE vo_ch END AS channels,
         |   CASE WHEN NOT is_ogg OR NOT full_row THEN NULL
         |        ELSE CAST(rate32 AS INTEGER) END AS sample_rate,
         |   CAST(NULL AS INTEGER) AS bits,
         |   CASE WHEN NOT is_ogg OR NOT full_row THEN NULL
         |        WHEN is_opus THEN (CASE WHEN op_gran > op_skip
         |          THEN CAST((op_gran - op_skip) * 1000 // 48000 AS BIGINT) END)
         |        ELSE CAST(vo_gran * 1000 // rate32 AS BIGINT) END AS duration_ms
         | FROM f""".stripMargin,
    // q_m7: the oracle re-derives every video-chunk coordinate from
    // the fixture's published header fields — frame count (LE32 at
    // byte 48) and uniform padded chunk size S (avih's suggested
    // buffer size, LE32 at byte 60) — with the fixed header geometry
    // (hdrl LIST always 200 bytes, so frame chunk i's data starts at
    // 224 + i*(8+S) + 8), then checks the JPEG SOI magic at each
    // computed offset. The Spark side walks the RIFF chunks for real;
    // agreement proves the walk lands on exactly these coordinates.
    "q_m7_avi_frames" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.aviFixturePath}')),
         | t AS (SELECT m.*,
         |         (n >= 12 AND substr(h, 1, 8) = '52494646'
         |           AND substr(h, 17, 8) = '41564920') AS is_avi,
         |         (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |         TRY_CAST('0x' || substr(h, 103, 2) || substr(h, 101, 2)
         |           || substr(h, 99, 2) || substr(h, 97, 2) AS INTEGER) AS nf,
         |         TRY_CAST('0x' || substr(h, 127, 2) || substr(h, 125, 2)
         |           || substr(h, 123, 2) || substr(h, 121, 2) AS INTEGER) AS s
         |       FROM m),
         | u AS (SELECT media_id, h, s, unnest(range(nf)) AS fi
         |       FROM t WHERE is_avi AND full_row AND nf > 0)
         | SELECT media_id, CAST(fi AS INTEGER) AS frame_idx,
         |   CAST(224 + fi * (8 + s) + 8 AS BIGINT) AS "offset",
         |   CAST(s AS BIGINT) AS n_bytes,
         |   (substr(h, 2 * (224 + fi * (8 + s) + 8) + 1, 6) = 'FFD8FF') AS is_jpeg
         | FROM u""".stripMargin,
    // q_m8: the oracle re-parses the avih MainAVIHeader at its fixed
    // offsets (usPerFrame LE32 at byte 32, total frames at 48, width/
    // height at 64/68 — identical geometry on full AND header-only
    // rows); duration = usPerFrame * totalFrames // 1000, NULL when no
    // frames were ever written (header-only rows keep the byte-proven
    // 'avi' identity, junk rows parse to nothing).
    "q_m8_avi_meta" ->
      s"""WITH m AS (SELECT media_id, mime_type, hex(media) AS h,
         |                  octet_length(media) AS n
         |           FROM read_parquet('${Tables.aviFixturePath}')),
         | t AS (SELECT m.*,
         |         (n >= 12 AND substr(h, 1, 8) = '52494646'
         |           AND substr(h, 17, 8) = '41564920') AS is_avi,
         |         TRY_CAST('0x' || substr(h, 71, 2) || substr(h, 69, 2)
         |           || substr(h, 67, 2) || substr(h, 65, 2) AS BIGINT) AS uspf,
         |         TRY_CAST('0x' || substr(h, 103, 2) || substr(h, 101, 2)
         |           || substr(h, 99, 2) || substr(h, 97, 2) AS BIGINT) AS nf,
         |         TRY_CAST('0x' || substr(h, 135, 2) || substr(h, 133, 2)
         |           || substr(h, 131, 2) || substr(h, 129, 2) AS INTEGER) AS w,
         |         TRY_CAST('0x' || substr(h, 143, 2) || substr(h, 141, 2)
         |           || substr(h, 139, 2) || substr(h, 137, 2) AS INTEGER) AS ht
         |       FROM m)
         | SELECT media_id, mime_type, CAST(n AS BIGINT) AS n_bytes,
         |   CASE WHEN is_avi THEN 'avi' END AS format,
         |   CASE WHEN is_avi AND w > 0 THEN w END AS width,
         |   CASE WHEN is_avi AND ht > 0 THEN ht END AS height,
         |   CAST(NULL AS INTEGER) AS channels,
         |   CAST(NULL AS INTEGER) AS sample_rate,
         |   CAST(NULL AS INTEGER) AS bits,
         |   CASE WHEN is_avi AND uspf > 0 AND nf > 0
         |     THEN CAST(uspf * nf // 1000 AS BIGINT) END AS duration_ms
         | FROM t""".stripMargin,
    // q_m9: the oracle derives sample coordinates WITHOUT reading the
    // sample tables the Spark side walks — frame count from the
    // fixture's media_id contract, uniform sample size S from the
    // mdat box length (BE32 at byte 16: mdat = 8 + nf*S), sample i's
    // data at 24 + i*S (mdat-first layout) — then checks the JPEG SOI
    // magic at each computed offset. Agreement proves the stsz/stco/
    // stsc walk lands on exactly these bytes.
    "q_m9_mp4_frames" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.mp4MjpegFixturePath}')),
         | t AS (SELECT m.*,
         |         (n >= 12 AND substr(h, 9, 8) = '66747970') AS is_mp4,
         |         (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |         CAST(2 + media_id % 5 AS INTEGER) AS nf,
         |         TRY_CAST('0x' || substr(h, 33, 8) AS BIGINT) AS mdat_sz
         |       FROM m),
         | u AS (SELECT media_id, h, nf,
         |         CAST((mdat_sz - 8) // nf AS BIGINT) AS s,
         |         unnest(range(nf)) AS fi
         |       FROM t WHERE is_mp4 AND full_row AND nf > 0 AND mdat_sz > 8)
         | SELECT media_id, CAST(fi AS INTEGER) AS frame_idx,
         |   CAST(24 + fi * s AS BIGINT) AS "offset",
         |   CAST(s AS BIGINT) AS n_bytes,
         |   (substr(h, 2 * (24 + fi * s) + 1, 6) = 'FFD8FF') AS is_jpeg
         | FROM u""".stripMargin,
    // q_m10: the oracle never reads stss/stsz/stco — it re-derives the
    // keyframe set from the fixture's id contract (nf = 2 + id%5, sync
    // interval k = 1 + id%3 → 1-based samples 1, 1+k, …) and each
    // coordinate from the mdat box-size anchor (S = (mdat_sz-8)/nf,
    // sample i at 24 + i*S), then checks the AVCC NAL header byte at
    // sample offset +4 is an IDR slice (nal_unit_type = low 5 bits = 5).
    // Agreement proves the stss walk lands on exactly these bytes.
    "q_m10_mp4_keyframes" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.mp4AvcFixturePath}')),
         | t AS (SELECT m.*,
         |         (n >= 12 AND substr(h, 9, 8) = '66747970') AS is_mp4,
         |         (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |         CAST(2 + media_id % 5 AS INTEGER) AS nf,
         |         CAST(1 + media_id % 3 AS INTEGER) AS k,
         |         TRY_CAST('0x' || substr(h, 33, 8) AS BIGINT) AS mdat_sz
         |       FROM m),
         | u AS (SELECT media_id, h, nf, k,
         |         CAST((mdat_sz - 8) // nf AS BIGINT) AS s,
         |         unnest(range(nf)) AS fi
         |       FROM t WHERE is_mp4 AND full_row AND nf > 0 AND mdat_sz > 8)
         | SELECT media_id, CAST(fi + 1 AS BIGINT) AS sample_no,
         |   CAST(24 + fi * s AS BIGINT) AS "offset",
         |   CAST(s AS BIGINT) AS n_bytes,
         |   (TRY_CAST('0x' || substr(h, 2 * (24 + fi * s + 4) + 1, 2) AS INTEGER) % 32 = 5)
         |     AS is_idr
         | FROM u WHERE fi % k = 0""".stripMargin,
    // q_m11: box-size anchors all the way — moov size at byte 16 puts
    // the first moof at 16+moov_sz; every fragment is (constant) moof
    // + mdat, so frag stride = moof_sz + mdat_sz; sample i's payload
    // at moof_i + moof_sz + 8; uniform S = mdat_sz − 8; keyframes at
    // i % k == 0 per the id contract; NAL IDR probe at +4. The Spark
    // side reads NONE of these anchors — it walks tfhd/trun — so
    // agreement proves the fragment run-table walk lands on exactly
    // these bytes.
    "q_m11_mp4_frag_keyframes" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.mp4FragFixturePath}')),
         | t AS (SELECT m.*,
         |         (n >= 12 AND substr(h, 9, 8) = '66747970') AS is_mp4,
         |         (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |         CAST(2 + media_id % 5 AS INTEGER) AS nf,
         |         CAST(1 + media_id % 3 AS INTEGER) AS k,
         |         TRY_CAST('0x' || substr(h, 33, 8) AS BIGINT) AS moov_sz
         |       FROM m),
         | a AS (SELECT t.*, 16 + moov_sz AS moof1,
         |         TRY_CAST('0x' || substr(h, 2 * (16 + moov_sz) + 1, 8) AS BIGINT)
         |           AS moof_sz
         |       FROM t WHERE is_mp4 AND full_row AND moov_sz > 0),
         | b AS (SELECT a.*,
         |         TRY_CAST('0x' || substr(h, 2 * (moof1 + moof_sz) + 1, 8) AS BIGINT)
         |           AS mdat_sz
         |       FROM a WHERE moof_sz > 0),
         | u AS (SELECT media_id, h, nf, k, moof1, moof_sz,
         |         mdat_sz - 8 AS s, moof_sz + mdat_sz AS frag,
         |         unnest(range(nf)) AS fi
         |       FROM b WHERE mdat_sz > 8)
         | SELECT media_id, CAST(fi + 1 AS BIGINT) AS sample_no,
         |   CAST(moof1 + fi * frag + moof_sz + 8 AS BIGINT) AS "offset",
         |   CAST(s AS BIGINT) AS n_bytes,
         |   (TRY_CAST('0x' || substr(h, 2 * (moof1 + fi * frag + moof_sz + 8 + 4) + 1, 2)
         |      AS INTEGER) % 32 = 5) AS is_idr
         | FROM u WHERE fi % k = 0""".stripMargin,
    // q_m12: both pages' byte coordinates re-derived from the lacing
    // tables alone (page size = 27 + nsegs + Σ lacing values; page 2
    // starts where page 1 ends), seq/granule/flags from their LE
    // bytes; truncated rows fail the in-bounds guards and emit
    // nothing, exactly like the walker
    "q_m12_ogg_pages" -> {
      def laceSum(base: String) =
        s"""COALESCE(list_aggregate(list_transform(range(nseg),
           |     i -> TRY_CAST('0x' || substr(h, CAST(2*(($base) + 27 + i) + 1 AS BIGINT), 2) AS BIGINT)),
           |     'sum'), 0)""".stripMargin
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.oggFixturePath}')),
         | h1 AS (SELECT m.*,
         |          TRY_CAST('0x' || substr(h, 53, 2) AS INTEGER) AS nseg
         |        FROM m
         |        WHERE n >= 27 AND substr(h, 1, 8) = '4F676753'
         |          AND substr(h, 9, 2) = '00'
         |          AND (TRY_CAST('0x' || substr(h, 11, 2) AS INTEGER) & 248) = 0),
         | p1 AS (SELECT media_id, h, n,
         |          CAST(27 + nseg + ${laceSum("0")} AS BIGINT) AS sz
         |        FROM h1 WHERE nseg IS NOT NULL AND n >= 27 + nseg),
         | h2 AS (SELECT p1.media_id, p1.h, p1.n, p1.sz AS o,
         |          TRY_CAST('0x' || substr(h, 2*(sz+26)+1, 2) AS INTEGER) AS nseg
         |        FROM p1
         |        WHERE n >= sz + 27 AND substr(h, 2*sz+1, 8) = '4F676753'
         |          AND substr(h, 2*(sz+4)+1, 2) = '00'
         |          AND (TRY_CAST('0x' || substr(h, 2*(sz+5)+1, 2) AS INTEGER) & 248) = 0),
         | p2 AS (SELECT media_id, h, n, o,
         |          CAST(27 + nseg + ${laceSum("o")} AS BIGINT) AS sz
         |        FROM h2 WHERE nseg IS NOT NULL AND n >= o + 27 + nseg),
         | pages AS (
         |   SELECT media_id, h, 0 AS off, sz FROM p1 WHERE n >= sz
         |   UNION ALL
         |   SELECT media_id, h, o AS off, sz FROM p2 WHERE n >= o + sz)
         | SELECT media_id,
         |   CAST(TRY_CAST('0x' || ${leHex("off + 18", 4)} AS UBIGINT) AS INTEGER)
         |     AS page_seq,
         |   CAST(off AS BIGINT) AS "offset",
         |   CAST(sz AS BIGINT) AS n_bytes,
         |   CAST(TRY_CAST('0x' || ${leHex("off + 6", 8)} AS UBIGINT) AS BIGINT)
         |     AS granule_pos,
         |   (TRY_CAST('0x' || substr(h, 2*(off+5)+1, 2) AS INTEGER) & 2) <> 0 AS is_bos,
         |   (TRY_CAST('0x' || substr(h, 2*(off+5)+1, 2) AS INTEGER) & 4) <> 0 AS is_eos
         | FROM pages""".stripMargin
    },
    // q_m13: cluster i sits at 54 + i·(S+14) by the fixed-width
    // contract; S is read BACK from the SimpleBlock size byte (value
    // S+4 in the 1-byte form), the cluster id bytes are asserted at
    // each computed position (anchor), and track/time/flags come from
    // their own bytes — agreement proves the EBML cluster walk lands
    // on exactly these coordinates
    "q_m13_webm_blocks" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.webmFixturePath}')),
         | t AS (SELECT m.*,
         |         (n >= 4 AND substr(h, 1, 8) = '1A45DFA3') AS is_webm,
         |         (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |         CAST(2 + media_id % 5 AS INTEGER) AS nf,
         |         TRY_CAST('0x' || substr(h, 2*63+1, 2) AS INTEGER) - 128 - 4 AS s
         |       FROM m),
         | u AS (SELECT media_id, h, n, nf, s,
         |         unnest(range(nf)) AS fi
         |       FROM t WHERE is_webm AND full_row AND s > 0),
         | c AS (SELECT media_id, h, fi, s,
         |         CAST(54 + fi * (s + 14) AS BIGINT) AS c0
         |       FROM u WHERE n >= 54 + nf * (s + 14)
         |         AND substr(h, CAST(2 * (54 + fi * (s + 14)) + 1 AS BIGINT), 8)
         |           = '1F43B675')
         | SELECT media_id, CAST(fi + 1 AS BIGINT) AS block_idx,
         |   CAST(TRY_CAST('0x' || substr(h, CAST(2*(c0+10)+1 AS BIGINT), 2)
         |     AS INTEGER) - 128 AS BIGINT) AS track,
         |   CAST(TRY_CAST('0x' || substr(h, CAST(2*(c0+7)+1 AS BIGINT), 2)
         |     AS INTEGER)
         |    + (CASE WHEN TRY_CAST('0x' || substr(h, CAST(2*(c0+11)+1 AS BIGINT), 4)
         |         AS INTEGER) >= 32768
         |       THEN TRY_CAST('0x' || substr(h, CAST(2*(c0+11)+1 AS BIGINT), 4)
         |         AS INTEGER) - 65536
         |       ELSE TRY_CAST('0x' || substr(h, CAST(2*(c0+11)+1 AS BIGINT), 4)
         |         AS INTEGER) END) AS BIGINT) AS time_ticks,
         |   c0 + 14 AS "offset",
         |   CAST(s AS BIGINT) AS n_bytes,
         |   (TRY_CAST('0x' || substr(h, CAST(2*(c0+13)+1 AS BIGINT), 2) AS INTEGER)
         |     & 128) <> 0 AS is_key
         | FROM c""".stripMargin,
    // q_m14: the oracle re-walks the TIFF IFD0 — base from the header's
    // IFD offset, entry scan BY TAG (274 orientation / 306 DateTime /
    // 271 Make, no order assumption), ASCII values dereferenced via
    // their TIFF-relative offsets and decoded from the raw blob bytes;
    // JPEGs without the APP1/Exif/II anchors get NULL columns
    "q_m14_exif" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, media,
         |             octet_length(media) AS n
         |           FROM read_parquet('${Tables.exifFixturePath}')),
         | t AS (SELECT m.*,
         |        (n >= 30 AND substr(h, 1, 4) = 'FFD8' AND substr(h, 5, 4) = 'FFE1'
         |         AND substr(h, 13, 12) = '457869660000'
         |         AND substr(h, 25, 8) = '49492A00') AS has_exif
         |      FROM m),
         | b AS (SELECT media_id, h,
         |        CAST(12 + TRY_CAST('0x' || ${leHex("16", 4)} AS UBIGINT) AS BIGINT)
         |          AS base
         |      FROM t WHERE has_exif),
         | e AS (SELECT media_id, h, base,
         |        unnest(range(TRY_CAST('0x' || ${leHex("base", 2)} AS INTEGER))) AS i
         |      FROM b),
         | f AS (SELECT media_id, h, base, i,
         |        TRY_CAST('0x' || ${leHex("base + 2 + 12*i", 2)} AS INTEGER) AS tag,
         |        TRY_CAST('0x' || ${leHex("base + 2 + 12*i + 4", 4)} AS BIGINT) AS cnt,
         |        TRY_CAST('0x' || ${leHex("base + 2 + 12*i + 8", 2)} AS INTEGER) AS v16,
         |        TRY_CAST('0x' || ${leHex("base + 2 + 12*i + 8", 4)} AS BIGINT) AS voff
         |      FROM e),
         | g AS (SELECT media_id,
         |        MAX(CASE WHEN tag = 274 THEN v16 END) AS orientation,
         |        MAX(CASE WHEN tag = 306 THEN decode(unhex(substr(h,
         |          CAST(2 * (12 + voff) + 1 AS BIGINT),
         |          CAST(2 * (cnt - 1) AS BIGINT)))) END) AS exif_datetime,
         |        MAX(CASE WHEN tag = 271 THEN decode(unhex(substr(h,
         |          CAST(2 * (12 + voff) + 1 AS BIGINT),
         |          CAST(2 * (cnt - 1) AS BIGINT)))) END) AS make
         |      FROM f GROUP BY 1)
         | SELECT m2.media_id, CAST(g.orientation AS INTEGER) AS orientation,
         |   g.exif_datetime, g.make
         | FROM (SELECT media_id FROM read_parquet('${Tables.exifFixturePath}')) m2
         | LEFT JOIN g USING (media_id)""".stripMargin,
    // q_m15: tag length from the ID3v2 syncsafe size bytes; frame size
    // from the FIRST header's bitrate/samplerate/padding fields through
    // the published MPEG-1 Layer III table and formula; frame i at
    // tag + i*S (uniform: the fixture's 48 kHz rates divide exactly);
    // sync-word probe at every computed offset
    "q_m15_mp3_frames" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.mp3FixturePath}')),
         | t AS (SELECT m.*,
         |        (n >= 10 AND substr(h, 1, 6) = '494433') AS is_id3,
         |        (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |        CAST(2 + media_id % 5 AS INTEGER) AS nf,
         |        10 + (TRY_CAST('0x' || substr(h, 13, 2) AS INTEGER) % 128) * 2097152
         |           + (TRY_CAST('0x' || substr(h, 15, 2) AS INTEGER) % 128) * 16384
         |           + (TRY_CAST('0x' || substr(h, 17, 2) AS INTEGER) % 128) * 128
         |           + (TRY_CAST('0x' || substr(h, 19, 2) AS INTEGER) % 128) AS tag
         |      FROM m),
         | f AS (SELECT t.*,
         |        TRY_CAST('0x' || substr(h, CAST(2*(tag+2)+1 AS BIGINT), 2)
         |          AS INTEGER) AS b2
         |      FROM t WHERE is_id3 AND full_row AND n >= tag + 4),
         | g AS (SELECT f.*,
         |        CASE b2 // 16 WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
         |          WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96
         |          WHEN 8 THEN 112 WHEN 9 THEN 128 WHEN 10 THEN 160
         |          WHEN 11 THEN 192 WHEN 12 THEN 224 WHEN 13 THEN 256
         |          WHEN 14 THEN 320 END AS kbps,
         |        CASE (b2 // 4) % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
         |          WHEN 2 THEN 32000 END AS sr,
         |        (b2 // 2) % 2 AS pad
         |      FROM f),
         | u AS (SELECT media_id, h, n, nf, tag,
         |        CAST(144000 * kbps // sr + pad AS BIGINT) AS s,
         |        unnest(range(nf)) AS fi
         |      FROM g WHERE kbps IS NOT NULL AND sr IS NOT NULL
         |        AND n >= tag + nf * (144000 * kbps // sr + pad))
         | SELECT media_id, CAST(fi AS INTEGER) AS frame_idx,
         |   CAST(tag + fi * s AS BIGINT) AS "offset",
         |   s AS n_bytes,
         |   (substr(h, CAST(2*(tag + fi*s)+1 AS BIGINT), 2) = 'FF'
         |    AND (TRY_CAST('0x' || substr(h, CAST(2*(tag + fi*s)+3 AS BIGINT), 2)
         |      AS INTEGER) & 224) = 224) AS is_sync
         | FROM u""".stripMargin,
    // q_m16: tag from the syncsafe bytes, the uniform frame length
    // from the FIRST header's own 13-bit field (bits spanning header
    // bytes 3-5), frame i at tag + i*L, ADTS syncword (0xFFF + layer
    // 00) probed at every computed offset
    "q_m16_aac_frames" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.aacFixturePath}')),
         | t AS (SELECT m.*,
         |        (n >= 10 AND substr(h, 1, 6) = '494433') AS is_id3,
         |        (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |        CAST(2 + media_id % 5 AS INTEGER) AS nf,
         |        10 + (TRY_CAST('0x' || substr(h, 13, 2) AS INTEGER) % 128) * 2097152
         |           + (TRY_CAST('0x' || substr(h, 15, 2) AS INTEGER) % 128) * 16384
         |           + (TRY_CAST('0x' || substr(h, 17, 2) AS INTEGER) % 128) * 128
         |           + (TRY_CAST('0x' || substr(h, 19, 2) AS INTEGER) % 128) AS tag
         |      FROM m),
         | f AS (SELECT t.*,
         |        CAST(
         |          (TRY_CAST('0x' || substr(h, CAST(2*(tag+3)+1 AS BIGINT), 2)
         |             AS INTEGER) % 4) * 2048
         |          + TRY_CAST('0x' || substr(h, CAST(2*(tag+4)+1 AS BIGINT), 2)
         |              AS INTEGER) * 8
         |          + TRY_CAST('0x' || substr(h, CAST(2*(tag+5)+1 AS BIGINT), 2)
         |              AS INTEGER) // 32 AS BIGINT) AS s
         |      FROM t WHERE is_id3 AND full_row AND n >= tag + 7),
         | u AS (SELECT media_id, h, n, nf, tag, s,
         |        unnest(range(nf)) AS fi
         |      FROM f WHERE s >= 7 AND n >= tag + nf * s)
         | SELECT media_id, CAST(fi AS INTEGER) AS frame_idx,
         |   CAST(tag + fi * s AS BIGINT) AS "offset",
         |   s AS n_bytes,
         |   (substr(h, CAST(2*(tag + fi*s)+1 AS BIGINT), 2) = 'FF'
         |    AND (TRY_CAST('0x' || substr(h, CAST(2*(tag + fi*s)+3 AS BIGINT), 2)
         |      AS INTEGER) & 246) = 240) AS is_sync
         | FROM u""".stripMargin,
    // q_m17: a FULL independent TS grid walk in SQL — the video PID is
    // re-read from the PMT's fixed-layout bytes (entries at packet 1
    // offset 205, audio first, video PID's 13 bits at bytes 211-212),
    // then EVERY packet's sync/PID/PUSI/AFC/AF-flags come from its own
    // header bytes; rows are the payload-unit-start packets of that
    // PID, RAI from the adaptation field, PES start code probed at the
    // computed payload offset
    "q_m17_ts_pes" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.tsFixturePath}')),
         | t AS (SELECT m.*,
         |        ((TRY_CAST('0x' || substr(h, 423, 2) AS INTEGER) % 32) * 256
         |         + TRY_CAST('0x' || substr(h, 425, 2) AS INTEGER)) AS vpid
         |      FROM m
         |      WHERE media_id % 8 <> 3 AND media_id % 8 <> 7 AND n >= 376),
         | p AS (SELECT media_id, h, vpid, unnest(range(n // 188)) AS j FROM t),
         | f AS (SELECT media_id, h, vpid, j, 188*j AS o,
         |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+1 AS BIGINT), 2) AS INTEGER) AS b0,
         |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+3 AS BIGINT), 2) AS INTEGER) AS b1,
         |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+5 AS BIGINT), 2) AS INTEGER) AS b2,
         |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+7 AS BIGINT), 2) AS INTEGER) AS b3,
         |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+9 AS BIGINT), 2) AS INTEGER) AS b4,
         |        TRY_CAST('0x' || substr(h, CAST(2*(188*j)+11 AS BIGINT), 2) AS INTEGER) AS b5
         |      FROM p),
         | g AS (SELECT *, (b1 % 32) * 256 + b2 AS pid,
         |        (b1 & 64) <> 0 AS pusi,
         |        (b3 // 16) % 4 AS afc
         |      FROM f WHERE b0 = 71),
         | v AS (SELECT media_id, h, j, o, pid,
         |        (afc >= 2 AND b4 >= 1 AND (b5 & 64) <> 0) AS rai,
         |        CASE WHEN afc >= 2 THEN o + 5 + b4 ELSE o + 4 END AS po
         |      FROM g WHERE pid = vpid AND pusi AND afc IN (1, 3))
         | SELECT media_id,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY j) - 1
         |     AS INTEGER) AS pes_idx,
         |   CAST(j AS INTEGER) AS packet_idx,
         |   CAST(o AS BIGINT) AS "offset",
         |   CAST(pid AS INTEGER) AS pid, rai,
         |   (substr(h, CAST(2*po+1 AS BIGINT), 6) = '000001') AS is_pes
         | FROM v""".stripMargin,
    // q_m18: a relational re-parse of the SAME payloads — blank-line
    // block split (the fixture guarantees single-blank separators and
    // no trailing newline, so the split is exact on both engines),
    // RE2 timing extract with optional hours and dot/comma decimals,
    // text = the block minus everything through the timing line
    "q_m18_caption_cues" ->
      s"""WITH $CUES
         | SELECT media_id, cue_idx, start_ms, end_ms, text FROM cues""".stripMargin,
    // q_m19: the q_m18 cue parse joined to the q_m10 keyframe anchors
    // plus the TIME AXIS: stts delta re-derived from the id contract
    // (usPerFrame·90000/1e6 ticks at timescale 90000, the fixture's
    // mdhd/stts numbers), keyframe t_ms = fi·delta·1000/90000, range
    // predicate start_ms <= t_ms < end_ms
    "q_m19_clip_captions" ->
      s"""WITH $CUES,
         | km AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |      FROM read_parquet('${Tables.mp4AvcFixturePath}')),
         | kt AS (SELECT km.*,
         |        (n >= 12 AND substr(h, 9, 8) = '66747970') AS is_mp4,
         |        (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |        CAST(2 + media_id % 5 AS INTEGER) AS nf,
         |        CAST(1 + media_id % 3 AS INTEGER) AS k,
         |        (33333 + 1000 * (media_id % 7)) * 90000 // 1000000 AS delta,
         |        TRY_CAST('0x' || substr(h, 33, 8) AS BIGINT) AS mdat_sz
         |      FROM km),
         | ku AS (SELECT media_id, nf, k, delta,
         |        CAST((mdat_sz - 8) // nf AS BIGINT) AS s,
         |        unnest(range(nf)) AS fi
         |      FROM kt WHERE is_mp4 AND full_row AND nf > 0 AND mdat_sz > 8),
         | kf AS (SELECT media_id, CAST(fi + 1 AS BIGINT) AS sample_no,
         |        CAST(24 + fi * s AS BIGINT) AS "offset",
         |        CAST(s AS BIGINT) AS n_bytes,
         |        CAST(fi * delta * 1000 // 90000 AS BIGINT) AS t_ms
         |      FROM ku WHERE fi % k = 0)
         | SELECT cues.media_id, cues.cue_idx, cues.start_ms, cues.end_ms,
         |   cues.text, kf.sample_no, kf."offset", kf.n_bytes, kf.t_ms
         | FROM cues JOIN kf ON kf.media_id = cues.media_id
         |   AND kf.t_ms >= cues.start_ms AND kf.t_ms < cues.end_ms""".stripMargin,
    // q_m20: the STREAMINFO word unpacked from bytes 18-25 by integer
    // division (rate = v >> 44, channels = (v >> 41 & 7) + 1, bits =
    // (v >> 36 & 31) + 1, total = v & 2^36-1); the audio offset and
    // each frame's (offset, size) from the id contract (aoff = 58 +
    // id%20, size_i = s0 + 8i → offset_i = aoff + i·s0 + 8·i(i-1)/2);
    // header-only and junk rows excluded like the walker excludes them
    "q_m20_flac_frames" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.flacFixturePath}')),
         | t AS (SELECT m.*,
         |        (substr(h, 1, 8) = '664C6143') AS is_flac,
         |        (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |        CAST(2 + media_id % 5 AS INTEGER) AS nf,
         |        CAST(40 + 2 * (media_id % 10) AS BIGINT) AS s0,
         |        CAST(58 + media_id % 20 AS BIGINT) AS aoff,
         |        TRY_CAST('0x' || substr(h, 37, 16) AS UBIGINT) AS v
         |      FROM m),
         | g AS (SELECT media_id, nf, s0, aoff,
         |        CAST(v // 17592186044416 AS INTEGER) AS sample_rate,
         |        CAST((v // 2199023255552) % 8 + 1 AS INTEGER) AS channels,
         |        CAST((v // 68719476736) % 32 + 1 AS INTEGER) AS bits,
         |        CAST(v % 68719476736 AS BIGINT) AS total_samples
         |      FROM t WHERE full_row AND is_flac AND v IS NOT NULL),
         | u AS (SELECT *, unnest(range(nf)) AS fi FROM g)
         | SELECT media_id, CAST(fi AS INTEGER) AS frame_idx,
         |   CAST(aoff + fi * s0 + 8 * (fi * (fi - 1) // 2) AS BIGINT) AS "offset",
         |   CAST(s0 + 8 * fi AS BIGINT) AS n_bytes,
         |   sample_rate, channels, bits, total_samples,
         |   CAST(total_samples * 1000 // sample_rate AS BIGINT) AS duration_ms
         | FROM u""".stripMargin,
    // q_m21: the TS grid walk extended with the PES-header PTS decode
    // — five marker-bit bytes re-assembled in hex arithmetic, /90 to
    // milliseconds, NULL where PTS_DTS_flags or the header length say
    // no PTS
    "q_m21_ts_pts" ->
      s"""WITH $TSPTS
         | SELECT * FROM tsv""".stripMargin,
    // q_m22: q_m11's box-size anchors + the time axis — the fixture's
    // fragmented clock (tfdt = i·delta, trex default duration delta,
    // delta = usPerFrame·90000/1e6 at timescale 90000) re-derived from
    // the id contract; the Spark side reads tfdt/trex/mdhd instead
    "q_m22_frag_keyframe_times" ->
      s"""WITH m AS (SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |           FROM read_parquet('${Tables.mp4FragFixturePath}')),
         | t AS (SELECT m.*,
         |         (n >= 12 AND substr(h, 9, 8) = '66747970') AS is_mp4,
         |         (media_id % 8 <> 3 AND media_id % 8 <> 7) AS full_row,
         |         CAST(2 + media_id % 5 AS INTEGER) AS nf,
         |         CAST(1 + media_id % 3 AS INTEGER) AS k,
         |         (33333 + 1000 * (media_id % 7)) * 90000 // 1000000 AS delta,
         |         TRY_CAST('0x' || substr(h, 33, 8) AS BIGINT) AS moov_sz
         |       FROM m),
         | a AS (SELECT t.*, 16 + moov_sz AS moof1,
         |         TRY_CAST('0x' || substr(h, 2 * (16 + moov_sz) + 1, 8) AS BIGINT)
         |           AS moof_sz
         |       FROM t WHERE is_mp4 AND full_row AND moov_sz > 0),
         | b AS (SELECT a.*,
         |         TRY_CAST('0x' || substr(h, 2 * (moof1 + moof_sz) + 1, 8) AS BIGINT)
         |           AS mdat_sz
         |       FROM a WHERE moof_sz > 0),
         | u AS (SELECT media_id, h, nf, k, delta, moof1, moof_sz,
         |         mdat_sz - 8 AS s, moof_sz + mdat_sz AS frag,
         |         unnest(range(nf)) AS fi
         |       FROM b WHERE mdat_sz > 8)
         | SELECT media_id, CAST(fi + 1 AS BIGINT) AS sample_no,
         |   CAST(moof1 + fi * frag + moof_sz + 8 AS BIGINT) AS "offset",
         |   CAST(s AS BIGINT) AS n_bytes,
         |   CAST(fi * delta * 1000 // 90000 AS BIGINT) AS t_ms
         | FROM u WHERE fi % k = 0""".stripMargin,
    // q_m23: the q_m18 cue parse range-joined to the q_m21 TS time
    // axis — same join contract as q_m19, proving the pairing op is
    // container-generic; NULL-PTS rows never satisfy the window
    "q_m23_ts_clip_captions" ->
      s"""WITH $CUES,
         | $TSPTS
         | SELECT cues.media_id, cues.cue_idx, cues.start_ms, cues.end_ms,
         |   cues.text, tsv.pes_idx, tsv.packet_idx, tsv."offset", tsv.pid,
         |   tsv.rai, tsv.is_pes, tsv.t_ms
         | FROM cues JOIN tsv ON tsv.media_id = cues.media_id
         |   AND tsv.t_ms >= cues.start_ms AND tsv.t_ms < cues.end_ms""".stripMargin,
    // q_m24: the oracle replays the clip-span derivation end to end —
    // the q_m19 keyframe axis plus the LEAD window for each
    // keyframe's span end (file size caps the last), joined to the
    // cues, min/max per cue (the CLIPSPANS shared body)
    "q_m24_clip_byte_spans" ->
      s"""WITH $CUES,
         | $CLIPSPANS
         | SELECT media_id, cue_idx, start_ms, end_ms, text,
         |   byte_from, byte_to, n_keyframes
         | FROM spans""".stripMargin,
    // q_m25: the q_m12 page derivation + the clock re-read from the
    // identification packet's fixed-offset bytes
    "q_m25_ogg_page_times" ->
      s"""WITH $OGGT
         | SELECT * FROM oggt""".stripMargin,
    // q_m26: cues range-joined to the Ogg page time axis — the
    // transcript↔audio pairing, same join contract as q_m19/q_m23
    "q_m26_audio_clip_captions" ->
      s"""WITH $CUES,
         | $OGGT
         | SELECT cues.media_id, cues.cue_idx, cues.start_ms, cues.end_ms,
         |   cues.text, oggt.page_seq, oggt."offset", oggt.n_bytes,
         |   oggt.granule_pos, oggt.is_bos, oggt.is_eos, oggt.t_ms
         | FROM cues JOIN oggt ON oggt.media_id = cues.media_id
         |   AND oggt.t_ms >= cues.start_ms AND oggt.t_ms < cues.end_ms""".stripMargin,
    // q_m27: the q_m13 block derivation + the TimestampScale clock
    "q_m27_webm_block_times" ->
      s"""WITH $WEBMT
         | SELECT * FROM wbt""".stripMargin,
    // q_m28: cues range-joined to the KEYFRAME blocks of the WebM
    // time axis — same join contract as q_m19/q_m23/q_m26
    "q_m28_webm_clip_captions" ->
      s"""WITH $CUES,
         | $WEBMT
         | SELECT cues.media_id, cues.cue_idx, cues.start_ms, cues.end_ms,
         |   cues.text, wbt.block_idx, wbt.track, wbt.time_ticks,
         |   wbt."offset", wbt.n_bytes, wbt.is_key, wbt.t_ms
         | FROM cues JOIN wbt ON wbt.media_id = cues.media_id
         |   AND wbt.t_ms >= cues.start_ms AND wbt.t_ms < cues.end_ms
         | WHERE wbt.is_key""".stripMargin,
    // q_m29: the identical three normalisation regexp passes over the
    // oracle's own cue re-parse (RE2 and Java agree on every pattern;
    // the whitespace class is explicit because \s's edges differ)
    "q_m29_caption_text_clean" ->
      s"""WITH $CUES
         | SELECT media_id, cue_idx, text,
         |   ${cleanSql("text")} AS clean_text
         | FROM cues""".stripMargin,
    // q_m30: the composed curation oracle — CLIPSPANS byte spans, the
    // q_m29 normalisation, then the q_x1 marker-argmax CASE chain over
    // the CLEANED text (aliased to `text` so the shared hit columns
    // apply verbatim), empty-after-cleaning cues dropped
    "q_m30_clip_curation" ->
      s"""WITH $CUES,
         | $CLIPSPANS,
         | cleaned AS (
         |  SELECT media_id, cue_idx, start_ms, end_ms, byte_from, byte_to,
         |    n_keyframes, ${cleanSql("text")} AS text
         |  FROM spans),
         | hits AS (
         |  SELECT *, $langHitsSql
         |  FROM cleaned WHERE text <> '')
         | SELECT media_id, cue_idx, start_ms, end_ms, byte_from, byte_to,
         |   n_keyframes, text AS clean_text,
         |   $langCaseSql AS predicted_lang
         | FROM hits""".stripMargin,
    // q_w10: the WARCWALK record URIs re-grouped by authority with
    // the identical host/TLD regexes (Java and RE2 agree on both)
    "q_w10_url_host_stats" ->
      s"""WITH RECURSIVE $WARCWALK,
         | u AS (
         |  SELECT lower(regexp_extract(target_uri,
         |           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
         |         target_uri, content_length
         |  FROM wrecs WHERE target_uri IS NOT NULL),
         | g AS (
         |  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_records,
         |         CAST(COUNT(DISTINCT target_uri) AS BIGINT) AS n_uris,
         |         CAST(SUM(content_length) AS BIGINT) AS total_content_bytes
         |  FROM u WHERE host <> '' GROUP BY host)
         | SELECT host, regexp_extract(host, '\\.([^.]+)$$', 1) AS tld,
         |        n_records, n_uris, total_content_bytes
         | FROM g""".stripMargin,
    // q_w11: the WARCWALK responses ranked per URI by the same
    // (warc_date DESC, media_id, record_idx) window — ISO 8601 strings
    // order lexicographically, so both engines compare raw strings
    "q_w11_url_dedup" ->
      s"""WITH RECURSIVE $WARCWALK,
         | rsp AS (
         |  SELECT media_id, record_idx, target_uri, warc_date
         |  FROM wrecs
         |  WHERE lower(warc_type) = 'response' AND target_uri IS NOT NULL),
         | rk AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY target_uri
         |      ORDER BY warc_date DESC, media_id, record_idx) AS rank,
         |    CAST(COUNT(*) OVER (PARTITION BY target_uri) AS BIGINT) AS n_fetches
         |  FROM rsp)
         | SELECT target_uri, media_id, CAST(record_idx AS INT) AS record_idx,
         |        warc_date, n_fetches
         | FROM rk WHERE rank = 1""".stripMargin,
    // q_w13: the q_w11 dedup chain + the per-host cap in the same
    // stable URI-hash order (MDH % 1e6, URI tie-break)
    "q_w13_host_cap" ->
      s"""WITH RECURSIVE $WARCWALK,
         | rsp AS (
         |  SELECT media_id, record_idx, target_uri, warc_date
         |  FROM wrecs
         |  WHERE lower(warc_type) = 'response' AND target_uri IS NOT NULL),
         | rk AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY target_uri
         |      ORDER BY warc_date DESC, media_id, record_idx) AS rank
         |  FROM rsp),
         | dd AS (
         |  SELECT target_uri, media_id, record_idx,
         |    lower(regexp_extract(target_uri,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host
         |  FROM rk WHERE rank = 1),
         | cp AS (
         |  SELECT host, target_uri, media_id, record_idx,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY host
         |      ORDER BY ${MDH("target_uri")} % 1000000, target_uri) AS INTEGER) AS pick
         |  FROM dd WHERE host <> '')
         | SELECT host, target_uri, media_id, CAST(record_idx AS INT) AS record_idx,
         |        pick
         | FROM cp WHERE pick <= 15""".stripMargin,
    // q_w14: the q_w11 dedup chain + the URL rule CASE (urlReasonSql)
    // over the same host/path/query decomposition — identical
    // precedence order and RE2 regexes as Archives.urlFilter
    "q_w14_url_filter" ->
      s"""WITH RECURSIVE $WARCWALK,
         | rsp AS (
         |  SELECT media_id, record_idx, target_uri, warc_date
         |  FROM wrecs
         |  WHERE lower(warc_type) = 'response' AND target_uri IS NOT NULL),
         | rk AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY target_uri
         |      ORDER BY warc_date DESC, media_id, record_idx) AS rank,
         |    CAST(COUNT(*) OVER (PARTITION BY target_uri) AS BIGINT) AS n_fetches
         |  FROM rsp),
         | dd AS (
         |  SELECT target_uri, media_id, record_idx, warc_date, n_fetches
         |  FROM rk WHERE rank = 1),
         | au AS (
         |  SELECT *, $urlPartsSql
         |  FROM dd)
         | SELECT target_uri, media_id, CAST(record_idx AS INT) AS record_idx,
         |        warc_date, n_fetches, host, $urlReasonSql AS blocked_reason
         | FROM au""".stripMargin,
    // q_w15: the full corpus-build oracle — dedup chain, URL rules
    // (kept rows), host-cap window, WET extraction off the HTTP
    // split, inner join on the kept coordinates, then the shared
    // langid/quality SQL over the extracted text
    "q_w15_corpus_build" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | rsp AS (
         |  SELECT media_id, record_idx, target_uri, warc_date
         |  FROM wrecs
         |  WHERE lower(warc_type) = 'response' AND target_uri IS NOT NULL),
         | rk AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY target_uri
         |      ORDER BY warc_date DESC, media_id, record_idx) AS rank
         |  FROM rsp),
         | dd AS (
         |  SELECT target_uri, media_id, record_idx
         |  FROM rk WHERE rank = 1),
         | au AS (
         |  SELECT *, $urlPartsSql
         |  FROM dd),
         | keep AS (
         |  SELECT target_uri, media_id, record_idx, host
         |  FROM au WHERE ($urlReasonSql) IS NULL),
         | cp AS (
         |  SELECT host, target_uri, media_id, record_idx,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY host
         |      ORDER BY ${MDH("target_uri")} % 1000000, target_uri) AS INTEGER) AS pick
         |  FROM keep),
         | wet AS (
         |  SELECT media_id, record_idx, content_type,
         |    ${htmlCleanSql("body_text")} AS text
         |  FROM https
         |  WHERE http_status = 200 AND lower(content_type) LIKE 'text/%'),
         | corpus AS (
         |  SELECT cp.host, cp.target_uri, cp.media_id,
         |    CAST(cp.record_idx AS INT) AS record_idx, cp.pick,
         |    wet.content_type, wet.text
         |  FROM cp JOIN wet
         |    ON cp.media_id = wet.media_id AND cp.record_idx = wet.record_idx
         |  WHERE cp.pick <= 15 AND wet.text <> ''),
         | comp AS (
         |  SELECT *, $langHitsSql,
         |   $qualityComponentsSql
         |  FROM corpus)
         | SELECT host, target_uri, media_id, record_idx, pick, content_type,
         |   text, $langCaseSql AS predicted_lang,
         |   $qualityScoreSql AS quality_score
         | FROM comp""".stripMargin,
    // q_w16: the canonicalization transforms replayed in DuckDB —
    // same regexes, same param filter/sort (list_filter lambda =
    // Spark's higher-order filter), same SURT assembly
    "q_w16_url_canonical" ->
      s"""WITH RECURSIVE $WARCWALK,
         | u AS (
         |  SELECT DISTINCT target_uri FROM wrecs WHERE target_uri IS NOT NULL),
         | ${CANONCHAIN("u", "u", "")}
         | SELECT target_uri, canonical_uri, surt_key,
         |   CAST(COUNT(*) OVER (PARTITION BY canonical_uri) AS BIGINT) AS n_aliases
         | FROM uc4""".stripMargin,
    // q_w23: WARCWALK + WARCHTTP, html 200s joined back to their URI,
    // the same anchor regex via regexp_extract_all + unnest, the same
    // absolute/root-relative resolution CASE
    "q_w23_links" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | ph AS (
         |  SELECT h.media_id, h.record_idx, w.target_uri, h.body_text
         |  FROM https h JOIN wrecs w USING (media_id, record_idx)
         |  WHERE h.http_status = 200
         |    AND lower(h.content_type) LIKE 'text/html%'),
         | lx AS (
         |  SELECT media_id, record_idx, target_uri, $hrefStripSql
         |  FROM (
         |    SELECT media_id, record_idx, target_uri,
         |      unnest(regexp_extract_all(body_text, '$hrefSql', 1)) AS rawq
         |    FROM ph) lq),
         | rs AS (
         |  SELECT media_id, record_idx, target_uri,
         |    CASE WHEN regexp_matches(raw, '^[A-Za-z][A-Za-z0-9+.-]*://')
         |           THEN raw
         |         WHEN raw LIKE '/%' AND raw NOT LIKE '//%' THEN
         |           regexp_extract(target_uri,
         |             '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) || '://' ||
         |           regexp_extract(target_uri,
         |             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) || raw
         WHEN NOT regexp_matches(raw, '^[A-Za-z][A-Za-z0-9+.-]*:')
         |              AND raw NOT LIKE '/%' AND raw NOT LIKE '#%'
         |              AND raw NOT LIKE '?%' AND raw NOT LIKE '.%'
         |              AND raw <> '' THEN
         |           regexp_extract(target_uri,
         |             '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) || '://' ||
         |           regexp_extract(target_uri,
         |             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) ||
         |           (CASE WHEN regexp_replace(regexp_extract(target_uri,
         |                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
         |                  '[^/]*$$', '') = '' THEN '/'
         |                 ELSE regexp_replace(regexp_extract(target_uri,
         |                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
         |                  '[^/]*$$', '') END) || raw
         |    END AS link
         |  FROM lx)
         | SELECT media_id, CAST(record_idx AS INT) AS record_idx,
         |   target_uri, link
         | FROM rs WHERE link IS NOT NULL""".stripMargin,
    // q_w24: the q_w23 chain aggregated to the host pair graph
    "q_w24_host_graph" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | $LINKGRAPH
         | SELECT src_host, dst_host, n_links FROM wedges""".stripMargin,
    // q_w25: host PageRank in fixed-point integer arithmetic — the
    // SAME unrolled contribution/damping steps as Archives.hostRank
    // (integer division at identical points; positives, so DuckDB's
    // floor `//` equals Spark's truncating `div`), 10 iterations
    "q_w25_host_rank" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | $LINKGRAPH,
         | wnodes AS (
         |  -- no top-level UNION here: inside WITH RECURSIVE DuckDB
         |  -- treats a CTE's UNION as the anchor/recursive separator
         |  -- and skips the dedup a plain UNION implies
         |  SELECT DISTINCT host FROM (
         |    SELECT src_host AS host FROM wedges
         |    UNION ALL SELECT dst_host FROM wedges) u),
         | woutd AS (
         |  SELECT src_host, CAST(SUM(n_links) AS BIGINT) AS outdeg
         |  FROM wedges GROUP BY src_host),
         | pr0 AS (
         |  SELECT host, CAST(1000000000000 AS BIGINT) AS rank FROM wnodes),
         | ${(1 to 10).map(prStep).mkString(",\n ")}
         | SELECT host, rank FROM pr10""".stripMargin,
    // q_w26: host stats (q_w10's grouping) left-joined with the
    // unrolled PageRank (q_w25) and the inline blocklist flag
    "q_w26_crawl_frontier" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | $LINKGRAPH,
         | wnodes AS (
         |  SELECT DISTINCT host FROM (
         |    SELECT src_host AS host FROM wedges
         |    UNION ALL SELECT dst_host FROM wedges) u),
         | woutd AS (
         |  SELECT src_host, CAST(SUM(n_links) AS BIGINT) AS outdeg
         |  FROM wedges GROUP BY src_host),
         | pr0 AS (
         |  SELECT host, CAST(1000000000000 AS BIGINT) AS rank FROM wnodes),
         | ${(1 to 10).map(prStep).mkString(",\n ")},
         | hs AS (
         |  SELECT host, CAST(COUNT(DISTINCT target_uri) AS BIGINT) AS n_uris,
         |         CAST(SUM(content_length) AS BIGINT) AS total_content_bytes
         |  FROM (
         |    SELECT lower(regexp_extract(target_uri,
         |             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
         |           target_uri, content_length
         |    FROM wrecs WHERE target_uri IS NOT NULL) u
         |  WHERE host <> '' GROUP BY host),
         | $ROBOTSDIR
         | SELECT hs.host, p.rank, hs.n_uris, hs.total_content_bytes,
         |   d.crawl_delay_s,
         |   hs.host IN (${graft.ops.Archives.defaultBlockedHosts
            .map(h => s"'$h'").mkString(", ")}) AS is_blocked
         | FROM hs LEFT JOIN pr10 p ON p.host = hs.host
         | LEFT JOIN rdir d ON d.host = hs.host""".stripMargin,
    // q_w28: the ROBOTSDIR directive parse standalone — Crawl-delay
    // of the `*` group + sorted Sitemap URLs per host
    "q_w28_robots_directives" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | $ROBOTSDIR
         | SELECT host, crawl_delay_s, sitemaps FROM rdir""".stripMargin,
    // q_m31: IMGHASH re-derivation from raw stored-zlib pixel bytes
    "q_m31_image_dhash" ->
      s"""WITH $IMGHASH
         | SELECT media_id, width, height, b0, b1, b2, b3,
         |   lower(lpad(to_hex(b3), 4, '0')) || lower(lpad(to_hex(b2), 4, '0')) ||
         |   lower(lpad(to_hex(b1), 4, '0')) || lower(lpad(to_hex(b0), 4, '0'))
         |     AS dhash_hex
         | FROM im_bands""".stripMargin,
    // q_m32: IMGHASH + the same band-bucket self-join and Hamming sum
    "q_m32_image_neardup" ->
      s"""WITH $IMGHASH,
         | im_banded AS (
         |  SELECT media_id, b0, b1, b2, b3, j AS band_idx,
         |    CASE j WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2
         |      ELSE b3 END AS band_val
         |  FROM im_bands, generate_series(0, 3) t(j)),
         | im_pairs AS (
         |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         |    CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
         |       + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
         |      AS BIGINT) AS hamming
         |  FROM im_banded a JOIN im_banded b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |       AND a.media_id < b.media_id)
         | SELECT id_a, id_b, hamming FROM im_pairs WHERE hamming <= 3""".stripMargin,
    // q_m33: IMGHASH pairs → the q_d6-style transitive closure
    // (recursive reach, min label per node) → keep unclustered +
    // min-id representatives
    "q_m33_image_dedup" ->
      s"""WITH RECURSIVE $IMGHASH,
         | im_banded AS (
         |  SELECT media_id, b0, b1, b2, b3, j AS band_idx,
         |    CASE j WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2
         |      ELSE b3 END AS band_val
         |  FROM im_bands, generate_series(0, 3) t(j)),
         | im_pairs AS (
         |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
         |  FROM im_banded a JOIN im_banded b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |       AND a.media_id < b.media_id
         |  WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
         |      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
         | im_edges AS (SELECT id_a AS s, id_b AS d FROM im_pairs
         |              UNION SELECT id_b, id_a FROM im_pairs),
         | im_nodes AS (SELECT DISTINCT s AS doc_id FROM im_edges),
         | im_reach AS (SELECT s, d FROM im_edges
         |              UNION SELECT r.s, e.d FROM im_reach r
         |                    JOIN im_edges e ON e.s = r.d),
         | im_cl AS (
         |  SELECT n.doc_id, CAST(LEAST(n.doc_id, MIN(r.d)) AS BIGINT) AS cluster
         |  FROM im_nodes n LEFT JOIN im_reach r ON r.s = n.doc_id
         |  GROUP BY n.doc_id)
         | SELECT b.media_id,
         |   lower(lpad(to_hex(b3), 4, '0')) || lower(lpad(to_hex(b2), 4, '0')) ||
         |   lower(lpad(to_hex(b1), 4, '0')) || lower(lpad(to_hex(b0), 4, '0'))
         |     AS dhash_hex
         | FROM im_bands b LEFT JOIN im_cl c ON c.doc_id = b.media_id
         | WHERE c.cluster IS NULL OR c.cluster = b.media_id""".stripMargin,
    // q_w29: the same <url>-block explode over the WET rows the
    // WARCWALK+WARCHTTP re-walk yields for the plain shards' sitemap
    // fetches (there, robots-declared and well-known coincide), plus
    // the sitemap-protocol fixture's rows reconstructed from the
    // SitemapFixture id contract — DuckDB cannot inflate the .xml.gz
    // children, so like WARCGZREC the SQL re-derives what the
    // compressed bytes hide (the rogue undeclared urlset is correctly
    // ABSENT from the contract)
    "q_w29_sitemap_urls" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | sm0 AS (
         |  SELECT w.target_uri, h.body_text
         |  FROM https h JOIN wrecs w USING (media_id, record_idx)
         |  WHERE h.http_status = 200 AND lower(h.content_type) LIKE 'text/%'
         |    AND w.target_uri LIKE '%/sitemap.xml'),
         | sm1 AS (
         |  SELECT lower(regexp_extract(target_uri,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
         |    unnest(regexp_extract_all(body_text,
         |      '(?s)<url>(.*?)</url>', 1)) AS block
         |  FROM sm0),
         | $SMCONTRACT
         | SELECT DISTINCT host, loc, lastmod FROM (
         |  SELECT host,
         |    regexp_extract(block, '<loc>([^<]*)</loc>', 1) AS loc,
         |    nullif(regexp_extract(block,
         |      '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod
         |  FROM sm1
         |  WHERE regexp_extract(block, '<loc>([^<]*)</loc>', 1) <> ''
         |  UNION ALL SELECT host, loc, lastmod FROM smp
         |  UNION ALL SELECT host, loc, lastmod FROM smg) u""".stripMargin,
    // q_w32: the discovery set replayed — robots Sitemap declarations
    // over ALL 200/text robots fetches, sniffed well-known documents,
    // the <sitemapindex> children of the accepted level-0 docs, plus
    // the warcsm fixture's accepted set from the id contract (the
    // rogue undeclared urlset deliberately absent)
    "q_w32_sitemap_discovery" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | rb AS (
         |  SELECT h.body_text
         |  FROM https h JOIN wrecs w USING (media_id, record_idx)
         |  WHERE h.http_status = 200 AND lower(h.content_type) LIKE 'text/%'
         |    AND w.target_uri LIKE '%/robots.txt'),
         | decl AS (
         |  SELECT DISTINCT nullif(trim(regexp_extract(line,
         |    '(?i)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)', 1)), '') AS target_uri
         |  FROM (SELECT unnest(string_split(body_text, chr(10))) AS line
         |        FROM rb) t),
         | sdocs AS (
         |  SELECT w.target_uri, h.body_text
         |  FROM https h JOIN wrecs w USING (media_id, record_idx)
         |  WHERE h.http_status = 200 AND lower(h.content_type) LIKE 'text/%'
         |    AND regexp_matches(h.body_text,
         |      '(?s)^\\s*(<\\?xml[^>]*>\\s*)?<(urlset|sitemapindex)[\\s>]')),
         | lvl0 AS (
         |  SELECT target_uri FROM decl WHERE target_uri IS NOT NULL
         |  UNION
         |  SELECT target_uri FROM sdocs WHERE target_uri LIKE '%/sitemap.xml'),
         | kids AS (
         |  SELECT DISTINCT nullif(trim(regexp_extract(blk,
         |    '<loc>([^<]*)</loc>', 1)), '') AS target_uri
         |  FROM (SELECT unnest(regexp_extract_all(d.body_text,
         |      '(?s)<sitemap>(.*?)</sitemap>', 1)) AS blk
         |    FROM sdocs d JOIN lvl0 USING (target_uri)) u),
         | $SMCONTRACT,
         | smacc AS (
         |  SELECT unnest(
         |    ['https://smap' || hh || '.example.org/maps/index-' || hh || '.xml',
         |     'https://smap' || hh || '.example.org/maps/pages-' || hh || '.xml',
         |     'https://smap' || hh || '.example.org/maps/extra-' || hh || '.xml.gz'])
         |    AS target_uri
         |  FROM smf)
         | SELECT DISTINCT target_uri FROM (
         |  SELECT target_uri FROM lvl0
         |  UNION ALL SELECT target_uri FROM kids WHERE target_uri IS NOT NULL
         |  UNION ALL SELECT target_uri FROM smacc) u""".stripMargin,
    // q_w33: the expected Unicode stated literally from the fixture
    // id contract — the engine must reach the same strings from
    // UTF-8 bytes and from Latin-1 bytes under their declared
    // charsets (DuckDB cannot re-decode the Latin-1 payload itself)
    "q_w33_charset_wet" ->
      s"""WITH $SMCONTRACT
         | SELECT target_uri, content_type, body_text FROM (
         |  SELECT 'https://smap' || hh || '.example.org/txt/utf8'
         |      AS target_uri,
         |    'text/plain; charset=utf-8' AS content_type,
         |    'héllo wörld 中文テキスト №' || hh AS body_text
         |  FROM smf
         |  UNION ALL
         |  SELECT 'https://smap' || hh || '.example.org/txt/latin1',
         |    'text/plain; charset=iso-8859-1',
         |    'café naïve garçon ' || hh
         |  FROM smf) u""".stripMargin,
    // q_w34: the Content-Encoding contract — the gzip body must
    // inflate to the same literal text as its uncompressed twin; the
    // brotli body (no decoder) must yield a NULL body_text row
    "q_w34_content_encoding" ->
      s"""WITH $SMCONTRACT
         | SELECT target_uri, content_type, body_text FROM (
         |  SELECT 'https://smap' || hh || '.example.org/txt/gzipped'
         |      AS target_uri,
         |    'text/plain; charset=utf-8' AS content_type,
         |    'héllo wörld 中文テキスト №' || hh AS body_text
         |  FROM smf
         |  UNION ALL
         |  SELECT 'https://smap' || hh || '.example.org/txt/zstdenc',
         |    'text/plain; charset=utf-8',
         |    'héllo wörld 中文テキスト №' || hh
         |  FROM smf
         |  UNION ALL
         |  SELECT 'https://smap' || hh || '.example.org/txt/brotli',
         |    'text/plain; charset=utf-8',
         |    CAST(NULL AS VARCHAR)
         |  FROM smf) u""".stripMargin,
    // q_w35: the chunked contract — plain chunked and chunked-over-
    // gzip both reach the literal text; the malformed framing row
    // stays NULL
    "q_w35_chunked_transfer" ->
      s"""WITH $SMCONTRACT
         | SELECT target_uri, content_type, body_text FROM (
         |  SELECT 'https://smap' || hh || '.example.org/txt/chunked'
         |      AS target_uri,
         |    'text/plain; charset=utf-8' AS content_type,
         |    'héllo wörld 中文テキスト №' || hh AS body_text
         |  FROM smf
         |  UNION ALL
         |  SELECT 'https://smap' || hh || '.example.org/txt/chunkgz',
         |    'text/plain; charset=utf-8',
         |    'héllo wörld 中文テキスト №' || hh
         |  FROM smf
         |  UNION ALL
         |  SELECT 'https://smap' || hh || '.example.org/txt/badchunk',
         |    'text/plain; charset=utf-8',
         |    CAST(NULL AS VARCHAR)
         |  FROM smf) u""".stripMargin,
    // q_w37: the same meta regexes (shared Scala constants, quotes
    // doubled for SQL) over the raw 200 bodies + the X-Robots-Tag
    // header re-extracted from the http2 head, token-matched with
    // the identical comma grammar
    "q_w37_robots_meta" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | w37 AS (
         |  SELECT h.media_id, h.record_idx, w.target_uri,
         |    lower(concat_ws(',',
         |      coalesce(regexp_extract(h.body_text,
         |        '${graft.ops.Archives.MetaRobotsNameFirst.replace("'", "''")}', 1), ''),
         |      coalesce(regexp_extract(h.body_text,
         |        '${graft.ops.Archives.MetaRobotsContentFirst.replace("'", "''")}', 1), ''),
         |      coalesce(nullif(trim(regexp_extract(h2.head,
         |        '(?i)\\r\\n[ \\t]*x-robots-tag[ \\t]*:([^\\r\\n]*)', 1)), ''), '')
         |    )) AS dirs
         |  FROM https h
         |  JOIN http2 h2 USING (media_id, record_idx)
         |  JOIN wrecs w USING (media_id, record_idx)
         |  WHERE h.http_status = 200 AND w.target_uri IS NOT NULL)
         | SELECT media_id, CAST(record_idx AS INT) AS record_idx, target_uri,
         |   regexp_matches(dirs, '(^|[ ,])(noindex|none)([ ,]|$$)') AS noindex,
         |   regexp_matches(dirs, '(^|[ ,])(nofollow|none)([ ,]|$$)') AS nofollow
         | FROM w37""".stripMargin,
    // q_w36: the sniffing contract — meta-declared Latin-1 html, the
    // UTF-8 BOM and the UTF-16LE BOM all reach their literal Unicode
    // (BOMs stripped)
    "q_w36_charset_sniff" ->
      s"""WITH $SMCONTRACT
         | SELECT target_uri, content_type, body_text FROM (
         |  SELECT 'https://smap' || hh || '.example.org/txt/metalatin'
         |      AS target_uri,
         |    'text/html' AS content_type,
         |    '<html><head><meta charset="iso-8859-1"></head>' ||
         |      '<body>café mañana ' || hh || '</body></html>' AS body_text
         |  FROM smf
         |  UNION ALL
         |  SELECT 'https://smap' || hh || '.example.org/txt/bom8',
         |    'text/plain',
         |    'héllo wörld 中文テキスト №' || hh
         |  FROM smf
         |  UNION ALL
         |  SELECT 'https://smap' || hh || '.example.org/txt/bom16',
         |    'text/plain',
         |    'héllo wörld 中文テキスト №' || hh
         |  FROM smf) u""".stripMargin,
    // q_w38: the jsonl shard contract re-derived arithmetically —
    // DuckDB cannot decompress zstd, so line identity comes from
    // ZstFixture's id functions; the fixture build asserts the
    // engine's decoded lines equal the same functions byte-for-byte
    "q_w38_jsonlzst_docs" ->
      s"""WITH zj_i AS (
         |  SELECT media_id, media_id // 3 AS j
         |  FROM read_parquet('${Tables.zstFixturePath}')
         |  WHERE media_id % 3 = 0 AND (media_id // 3) % 8 <> 7),
         | zj_l AS (
         |  SELECT media_id, j,
         |    unnest(generate_series(0, 2 + CAST(j % 5 AS INT))) AS k
         |  FROM zj_i),
         | zj_r AS (
         |  SELECT media_id,
         |    CASE WHEN j % 4 = 2 THEN 'gzip'
         |         WHEN j % 4 = 3 THEN 'plain' ELSE 'zstd' END AS codec,
         |    CAST(k AS INT) AS line_no,
         |    'doc-' || media_id || '-' || k AS doc_id,
         |    ['en','de','fr'][CAST(k % 3 AS INT) + 1] AS lang,
         |    'sample text ' || media_id || ' ' || k || ' ' ||
         |      rtrim(repeat('lorem ', CAST((media_id + k) % 4 AS INT) + 1))
         |      AS text
         |  FROM zj_l)
         | SELECT media_id, codec, line_no, doc_id, lang, text,
         |   CAST(length('{"id":"' || doc_id || '","lang":"' || lang
         |     || '","text":"' || text || '"}') AS INT) AS n_chars
         | FROM zj_r""".stripMargin,
    // q_w39: frame coordinates from the recursive RFC 8878 hex walk
    // (ZSTWARCWALK), record identity from the id contract; the
    // truncated class drops its cut tail frame in BOTH engines (the
    // walker by structural overrun, the oracle by fend > n)
    "q_w39_warczst_records" ->
      s"""WITH RECURSIVE $ZSTWARCWALK,
         | zw_fu AS (
         |  SELECT media_id, data_ord,
         |    CAST(SUM(rec_len) AS BIGINT) AS frame_uncomp_bytes
         |  FROM zw_rr GROUP BY media_id, data_ord)
         | SELECT r.media_id,
         |   CAST(f.frame_idx AS INT) AS frame_idx,
         |   f.off AS frame_offset,
         |   f.comp AS frame_comp_bytes,
         |   u.frame_uncomp_bytes,
         |   (r.w % 4 = 1 OR r.w % 4 = 2) AS has_dict,
         |   r.record_idx, r.warc_type, r.target_uri, r.warc_date,
         |   r.payload_digest, r.content_length
         | FROM zw_rr r
         | JOIN zw_df f USING (media_id, data_ord)
         | JOIN zw_fu u USING (media_id, data_ord)""".stripMargin,
    // q_w40: pure 512-grid arithmetic — member sizes are id
    // functions, offsets are the running sum of header + padded
    // payload; the GNU L pair (even t) carries the stored
    // './/@LongLink' entry then the override-named member
    "q_w40_tarzst_members" ->
      s"""WITH zt_m AS (
         |  SELECT media_id, media_id // 3 AS t
         |  FROM read_parquet('${Tables.zstFixturePath}')
         |  WHERE media_id % 3 = 2 AND (media_id // 3) % 8 <> 7),
         | zt_s AS (
         |  SELECT media_id, t,
         |    unnest(generate_series(0, 1 + CAST(t % 3 AS INT))) AS s
         |  FROM zt_m),
         | zt_base AS (
         |  SELECT media_id, CAST(2 * s AS INT) AS member_idx,
         |    'sample' || lpad(CAST(s AS VARCHAR), 4, '0') || '.jpg' AS name,
         |    CAST(80 + (media_id + s) % 64 AS BIGINT) AS n_bytes,
         |    '0' AS typeflag
         |  FROM zt_s
         |  UNION ALL
         |  SELECT media_id, CAST(2 * s + 1 AS INT),
         |    'sample' || lpad(CAST(s AS VARCHAR), 4, '0') || '.txt',
         |    CAST(length('caption ' || media_id || ' ' || s) AS BIGINT), '0'
         |  FROM zt_s
         |  UNION ALL
         |  SELECT media_id, CAST(2 * (2 + t % 3) AS INT), '././@LongLink',
         |    CAST(length('deep/nested/dir/with/a/really/long/sample/key/part-'
         |      || media_id || '-' || repeat('x', 60) || '.json') + 1
         |      AS BIGINT), 'L'
         |  FROM zt_m WHERE t % 2 = 0
         |  UNION ALL
         |  SELECT media_id, CAST(2 * (2 + t % 3) + 1 AS INT),
         |    'deep/nested/dir/with/a/really/long/sample/key/part-'
         |      || media_id || '-' || repeat('x', 60) || '.json',
         |    CAST(length('deep ' || media_id) AS BIGINT), '0'
         |  FROM zt_m WHERE t % 2 = 0),
         | zt_off AS (
         |  SELECT media_id, member_idx, name, n_bytes, typeflag,
         |    CAST(COALESCE(SUM(512 + ((n_bytes + 511) // 512) * 512) OVER (
         |      PARTITION BY media_id ORDER BY member_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS header_offset
         |  FROM zt_base)
         | SELECT media_id, member_idx, name, header_offset,
         |   header_offset + 512 AS data_offset, n_bytes, typeflag
         | FROM zt_off""".stripMargin,
    // q_w30: sitemap entries (q_w29's chain) ∪ resolved links
    // (LINKGRAPH's rs), URI-grouped, anti-joined to fetched URIs
    "q_w30_crawl_candidates" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | $LINKGRAPH,
         | smc0 AS (
         |  SELECT w.target_uri, h.body_text
         |  FROM https h JOIN wrecs w USING (media_id, record_idx)
         |  WHERE h.http_status = 200 AND lower(h.content_type) LIKE 'text/%'
         |    AND w.target_uri LIKE '%/sitemap.xml'),
         | smc1 AS (
         |  SELECT unnest(regexp_extract_all(body_text,
         |      '(?s)<url>(.*?)</url>', 1)) AS block
         |  FROM smc0),
         | smu AS (
         |  SELECT DISTINCT
         |    regexp_extract(block, '<loc>([^<]*)</loc>', 1) AS loc,
         |    nullif(regexp_extract(block,
         |      '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod
         |  FROM smc1
         |  WHERE regexp_extract(block, '<loc>([^<]*)</loc>', 1) <> ''),
         | $SMCONTRACT,
         | cand AS (
         |  SELECT loc AS target_uri, lastmod, 1 AS sm, 0 AS lk FROM smu
         |  UNION ALL SELECT loc, lastmod, 1, 0 FROM smp
         |  UNION ALL SELECT loc, lastmod, 1, 0 FROM smg
         |  UNION ALL
         |  SELECT link, NULL, 0, 1 FROM rs WHERE link IS NOT NULL),
         | agg AS (
         |  SELECT target_uri, CAST(max(sm) = 1 AS BOOLEAN) AS in_sitemap,
         |    CAST(sum(lk) AS BIGINT) AS n_inlinks, max(lastmod) AS lastmod
         |  FROM cand GROUP BY target_uri),
         | fetched AS (
         |  SELECT DISTINCT target_uri FROM wrecs
         |  WHERE lower(warc_type) = 'response' AND target_uri IS NOT NULL
         |  UNION SELECT target_uri FROM smfetched)
         | SELECT a.target_uri, a.in_sitemap, a.n_inlinks, a.lastmod,
         |   lower(regexp_extract(a.target_uri,
         |     '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host
         | FROM agg a LEFT JOIN fetched f USING (target_uri)
         | WHERE f.target_uri IS NULL""".stripMargin,
    // q_w31: wrecs responses LEFT JOINed to the HTTP re-split, with
    // the same title/anchor regexes over the 200/text bodies
    "q_w31_wat_metadata" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | wat0 AS (
         |  SELECT w.media_id, w.record_idx, w.target_uri, w.warc_date,
         |    w.payload_digest, h.http_status, h.content_type,
         |    CASE WHEN h.http_status = 200
         |           AND lower(h.content_type) LIKE 'text/html%'
         |         THEN h.body_text END AS html
         |  FROM wrecs w LEFT JOIN https h USING (media_id, record_idx)
         |  WHERE lower(w.warc_type) = 'response'
         |    AND w.target_uri IS NOT NULL)
         | SELECT w0.media_id, CAST(w0.record_idx AS INT) AS record_idx,
         |   w0.target_uri, w0.warc_date, w0.payload_digest,
         |   w0.http_status, w0.content_type,
         |   CAST(r.content_length AS BIGINT) AS content_length,
         |   nullif(trim(regexp_extract(w0.html,
         |     '(?is)<title[^>]*>([^<]*)</title>', 1)), '') AS title,
         |   CASE WHEN w0.html IS NOT NULL THEN CAST(len(regexp_extract_all(
         |     w0.html, '$hrefSql', 1)) AS BIGINT)
         |   END AS n_anchors
         | FROM wat0 w0 JOIN wrecs r USING (media_id, record_idx)""".stripMargin,
    // q_m34: the decodability CONTRACT replayed from the bytes — a
    // PNG decodes iff intact (the fixture's full PNGs are exactly 948
    // bytes; the cut class keeps the magic but not the body), a WebP
    // decodes iff its payload is VP8L OR a VP8 keyframe (start code
    // 9D012A at payload bytes 3..5 — the junk-payload stub class
    // fails the byte test and stays the honest coverage miss), junk
    // never does
    "q_m34_decode_coverage" ->
      s"""WITH cov AS (
         |  SELECT mime_type, hex(media) AS h, octet_length(media) AS n
         |  FROM read_parquet('${Tables.imagedupFixturePath}')),
         | cls AS (
         |  SELECT mime_type,
         |    CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A' THEN 'png'
         |         WHEN substr(h, 1, 4) = 'FFD8' THEN 'jpeg'
         |         WHEN substr(h, 1, 8) = '47494638' THEN 'gif'
         |         WHEN substr(h, 1, 4) = '424D' THEN 'bmp'
         |         WHEN substr(h, 1, 8) = '52494646'
         |              AND substr(h, 17, 8) = '57454250'
         |           THEN CASE WHEN substr(h, 25, 8) = '5650384C'
         |                THEN 'webp-lossless' ELSE 'webp' END
         |         ELSE 'other' END AS container,
         |    CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
         |           AND n IN (948,
         |             ${ImageDupLayout.ExifPngLengths.mkString(", ")})
         |           THEN 1
         |         WHEN substr(h, 1, 8) = '52494646'
         |              AND substr(h, 25, 8) = '5650384C' THEN 1
         |         WHEN substr(h, 1, 8) = '52494646'
         |              AND substr(h, 25, 8) = '56503820'
         |              AND substr(h, 47, 6) = '9D012A' THEN 1
         |         ELSE 0 END AS ok
         |  FROM cov)
         | SELECT mime_type, container, CAST(count(*) AS BIGINT) AS n,
         |   CAST(sum(ok) AS BIGINT) AS n_decoded
         | FROM cls GROUP BY mime_type, container""".stripMargin,
    // q_m36: the PCM contract re-derived arithmetically — DuckDB
    // cannot decode FLAC, so sample identity comes from
    // FlacPcmFixture's id functions; the engine must reproduce them
    // through the REAL decoder (and the fixture build asserts the
    // round-trip byte-for-byte, plus STREAMINFO-MD5 end to end)
    "q_m36_flac_pcm" ->
      s"""WITH fl AS (
         |  SELECT media_id, media_id % 6 AS cls,
         |    CAST(600 + (media_id % 5) * 37 AS BIGINT) AS n,
         |    CASE WHEN media_id % 6 IN (3, 4) THEN 2 ELSE 1 END AS ch
         |  FROM read_parquet('${Tables.flacpcmFixturePath}')
         |  WHERE media_id % 6 <> 5),
         | fi AS (
         |  SELECT media_id, cls, n, ch,
         |    unnest(generate_series(0, CAST(n * ch - 1 AS INT))) AS i
         |  FROM fl),
         | fs AS (
         |  SELECT media_id, n, ch, i,
         |    CASE cls
         |      WHEN 0 THEN (media_id * 37) % 8192 - 4096
         |      WHEN 1 THEN ((media_id + 7) * 31 + i * 13
         |        + ((i * i) % 1009) * 7) % 8192 - 4096
         |      WHEN 2 THEN (i * i + media_id * 11) % 4001 - 2000
         |      WHEN 3 THEN CASE WHEN i % 2 = 0
         |        THEN ((i // 2) * 29 + media_id * 13) % 6000 - 3000
         |        ELSE ((i // 2) * 23 + media_id * 17) % 6000 - 3000 END
         |      ELSE CASE WHEN i % 2 = 0
         |        THEN ((i // 2) * 41 + media_id * 7) % 5000 - 2500
         |        ELSE ((i // 2) * 43 + media_id * 5) % 5000 - 2500 END
         |    END AS s
         |  FROM fi)
         | SELECT media_id, CAST(16000 AS INT) AS sample_rate,
         |   CAST(max(ch) AS INT) AS channels, CAST(16 AS INT) AS bits,
         |   max(n) AS n_samples, TRUE AS md5_ok,
         |   CAST(SUM(s) AS BIGINT) AS pcm_sum,
         |   CAST(SUM(s * ((i % 97) + 1)) AS BIGINT) AS pcm_dot
         | FROM fs GROUP BY media_id""".stripMargin,
    // q_m37: the pair contract — DuckDB cannot FFT, so the oracle is
    // the id arithmetic the fixture build asserted on the actual
    // bytes (exact recall at Hamming ≤ 3, zero cross-group pairs);
    // the engine must reproduce the pair set through the REAL
    // decode → FFT → banded-join pipeline
    "q_m37_audio_neardup" ->
      s"""SELECT media_id AS media_id_a, media_id + 1 AS media_id_b
         | FROM read_parquet('${Tables.audiodupFixturePath}')
         | WHERE media_id % 2 = 0 AND (media_id // 2) % 8 <> 7""".stripMargin,
    // q_m43: the MP3 re-encode pair contract — the fixture build
    // asserted codec-gate recall and cross-group separation on the
    // actual bytes; the engine must reproduce the pair set through
    // the REAL Layer III decode + fingerprint
    "q_m43_mp3_neardup" ->
      s"""SELECT media_id AS media_id_a, media_id + 1 AS media_id_b
         | FROM read_parquet('${Tables.mp3dupFixturePath}')
         | WHERE media_id % 2 = 0 AND (media_id // 2) % 8 <> 7""".stripMargin,
    // q_m44: the Vorbis re-encode pair contract — same id arithmetic,
    // asserted on the actual bytes at fixture build; the engine must
    // reproduce it through the REAL Ogg demux + Vorbis decode +
    // fingerprint
    "q_m44_vorbis_neardup" ->
      s"""SELECT media_id AS media_id_a, media_id + 1 AS media_id_b
         | FROM read_parquet('${Tables.vorbisdupFixturePath}')
         | WHERE media_id % 2 = 0 AND (media_id // 2) % 8 <> 7""".stripMargin,
    // q_m38: the re-mux pair contract — the fixture build asserted
    // per-frame hash identity across containers and distinctness
    // across groups on the actual bytes; the engine must reproduce
    // the pair set through real sample-table walks + pixel decode
    // (the MJPEG classes) or the raw-span payload digest (the AVC
    // class g%8==6, whose pixels nothing here can decode)
    "q_m38_video_remux" ->
      s"""SELECT media_id AS media_id_a, media_id + 1 AS media_id_b,
         |   CASE WHEN (media_id // 2) % 8 IN (5, 6) THEN 'payload'
         |        ELSE 'phash' END AS sig_kind
         | FROM read_parquet('${Tables.videodupFixturePath}')
         | WHERE media_id % 2 = 0 AND (media_id // 2) % 8 <> 7""".stripMargin,
    // q_m39: GifAnimFixture's id contract — canvas/loop and per-frame
    // geometry/delay/disposal are pure id functions; the truncated
    // class (id%8==3) drops its cut LAST frame in both engines
    "q_m39_gif_anim" ->
      s"""WITH ga AS (
         |  SELECT media_id, media_id % 8 AS cls,
         |    CAST(2 + media_id % 4 AS INT) AS nf
         |  FROM read_parquet('${Tables.gifanimFixturePath}')
         |  WHERE media_id % 8 <> 7),
         | gf AS (
         |  SELECT media_id, cls, nf,
         |    unnest(generate_series(0, nf - 1
         |      - CASE WHEN cls = 3 THEN 1 ELSE 0 END)) AS f
         |  FROM ga)
         | SELECT media_id, CAST(f AS INT) AS frame_idx,
         |   CAST((media_id + f) % 8 AS INT) AS frame_x,
         |   CAST((media_id + 2 * f) % 6 AS INT) AS frame_y,
         |   CAST(16 AS INT) AS frame_w, CAST(12 AS INT) AS frame_h,
         |   CAST(5 + (media_id + f) % 20 AS INT) AS delay_cs,
         |   CAST(f % 4 AS INT) AS disposal,
         |   -- this JDK's GIF writer emits interlaced rasters; the
         |   -- fixture descriptors carry the bit truthfully
         |   TRUE AS interlaced, TRUE AS has_lct,
         |   CAST(40 AS INT) AS canvas_w, CAST(30 AS INT) AS canvas_h,
         |   CAST(media_id % 5 AS INT) AS loop_count
         | FROM gf""".stripMargin,
    // q_m42: the fixture's independently-composited ground truth —
    // the engine must reach the same hashes from the GIF bytes alone
    "q_m42_gif_frame_hash" ->
      s"""SELECT media_id, frame_idx, dhash_hex
         | FROM read_parquet('${Tables.gifhashFixturePath}')""".stripMargin,
    // q_m40: each audio fixture's id contract says exactly what every
    // row is (container) and whether the WAV+FLAC fingerprint path
    // decodes it — the union replays those contracts and aggregates;
    // the engine must land on identical (mime, container, n,
    // n_decoded) cells through REAL sniffing + decoding
    "q_m40_audio_coverage" ->
      s"""WITH u AS (
         |  SELECT mime_type,
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 'other'
         |         WHEN media_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS container,
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 0 ELSE 1 END AS ok
         |  FROM read_parquet('${Tables.audiodupFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN media_id % 8 IN (0, 3) THEN 'aiff'
         |         WHEN media_id % 8 IN (1, 5) THEN 'au'
         |         WHEN media_id % 8 = 6 THEN 'wav-adpcm'
         |         WHEN media_id % 8 = 7 THEN 'other' ELSE 'wav' END,
         |    -- round 18: aiff / au / companded-WAV decode through
         |    -- the formulaic paths; round 19: fmt-17 IMA ADPCM
         |    -- decodes through the shared adaptive-step path; only
         |    -- the cut-aiff and junk classes stay zero
         |    CASE WHEN media_id % 8 IN (3, 7) THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.audioFixturePath}')
         |  UNION ALL
         |  -- AIFF-C (round 20): sowt / fl32 / NONE decode through
         |  -- the shared reader; the ima4 compressed class parses as
         |  -- an aiff container but honestly decodes nothing
         |  SELECT mime_type, 'aiff',
         |    CASE WHEN media_id % 4 = 3 THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.aifcFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN media_id % 8 = 3 THEN 'id3-tag-only'
         |         WHEN media_id % 8 = 7 THEN 'other' ELSE 'mp3' END,
         |    0
         |  FROM read_parquet('${Tables.mp3FixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN media_id % 8 = 3 THEN 'id3-tag-only'
         |         WHEN media_id % 8 = 7 THEN 'other' ELSE 'aac-adts' END,
         |    0
         |  FROM read_parquet('${Tables.aacFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN media_id % 8 = 7 THEN 'other' ELSE 'ogg' END,
         |    0
         |  FROM read_parquet('${Tables.oggFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN media_id % 8 = 7 THEN 'other' ELSE 'flac' END,
         |    0 -- structural fakes: the walk fixture never PCM-decodes
         |  FROM read_parquet('${Tables.flacFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN media_id % 6 = 5 THEN 'other' ELSE 'flac' END,
         |    CASE WHEN media_id % 6 = 5 THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.flacpcmFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 'other'
         |         WHEN media_id % 2 = 0 THEN 'wav' ELSE 'mp3' END,
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.mp3dupFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 'other'
         |         WHEN media_id % 2 = 0 THEN 'wav' ELSE 'ogg' END,
         |    -- round 19: real Vorbis streams DECODE (the structural
         |    -- ogg.parquet fakes above stay the container's zeros)
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.vorbisdupFixturePath}')
         |  UNION ALL
         |  -- MPEG-2 LSF pairs (round 20): 22.05 kHz WAV originals
         |  -- and single-granule LSF Layer III re-encodes, both
         |  -- decoding; junk rows stay the container's zeros
         |  SELECT mime_type,
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 'other'
         |         WHEN media_id % 2 = 0 THEN 'wav' ELSE 'mp3' END,
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.mp3lsfFixturePath}')
         |  UNION ALL
         |  -- MP3-in-TS (round 19): the odd mp3dup rows re-muxed into
         |  -- TS audio PES; real groups decode through PES reassembly
         |  -- + the Layer III decoder, junk-ES groups honestly don't
         |  SELECT 'video/mp2t', 'mpeg-ts',
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.mp3dupFixturePath}')
         |  WHERE media_id % 2 = 1
         |  UNION ALL
         |  -- Vorbis-in-WebM (round 20): the odd vorbisdup rows
         |  -- re-containered as WebM; real streams decode via the
         |  -- CodecPrivate headers + block packets, junk wraps into
         |  -- a valid webm that honestly decodes nothing
         |  SELECT 'audio/webm', 'webm',
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.vorbisdupFixturePath}')
         |  WHERE media_id % 2 = 1)
         | SELECT mime_type, container, CAST(count(*) AS BIGINT) AS n,
         |   CAST(sum(ok) AS BIGINT) AS n_decoded
         | FROM u GROUP BY mime_type, container""".stripMargin,
    // q_m41: same honesty replay for video — pixel path only on the
    // MJPEG re-mux classes, payload path on anything with locatable
    // sample spans (incl. the AVC, fragmented and WebM video-track
    // layouts), mpeg-ts 0/0
    "q_m41_video_coverage" ->
      s"""WITH u AS (
         |  SELECT mime_type,
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 'other'
         |         WHEN (media_id // 2) % 8 = 5 AND media_id % 2 = 1
         |           THEN 'mpeg-ts' -- round 20: the Annex-B TS twins
         |         WHEN media_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS container,
         |    CASE WHEN (media_id // 2) % 8 IN (5, 6, 7) THEN 0 ELSE 1 END AS px,
         |    CASE WHEN (media_id // 2) % 8 = 7 THEN 0 ELSE 1 END AS pl
         |  FROM read_parquet('${Tables.videodupFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN media_id % 8 = 7 THEN 'other' ELSE 'mp4' END,
         |    0,
         |    CASE WHEN media_id % 8 IN (3, 7) THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.mp4AvcFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN media_id % 8 = 7 THEN 'other' ELSE 'mp4' END,
         |    0,
         |    CASE WHEN media_id % 8 IN (3, 7) THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.mp4FragFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN media_id % 8 = 7 THEN 'other' ELSE 'webm' END,
         |    0, -- no webm pixel decode
         |    -- payload path (round 18): video-track SimpleBlock
         |    -- spans; the truncated class (init cut) yields none
         |    CASE WHEN media_id % 8 IN (3, 7) THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.webmFixturePath}')
         |  UNION ALL
         |  SELECT mime_type,
         |    CASE WHEN media_id % 8 = 3 THEN 'mp4'
         |         WHEN media_id % 8 = 7 THEN 'other' ELSE 'mpeg-ts' END,
         |    0, -- no TS pixel decode (the honest zero)
         |    -- round 19: PES reassembly gives every intact segment
         |    -- a payload digest; the cut (3) and junk (7) classes
         |    -- yield nothing
         |    CASE WHEN media_id % 8 IN (3, 7) THEN 0 ELSE 1 END
         |  FROM read_parquet('${Tables.tsFixturePath}'))
         | SELECT mime_type, container, CAST(count(*) AS BIGINT) AS n,
         |   CAST(sum(px) AS BIGINT) AS n_pixel,
         |   CAST(sum(pl) AS BIGINT) AS n_payload
         | FROM u GROUP BY mime_type, container""".stripMargin,
    // q_m35: the animated-WebP container re-walked from raw bytes —
    // a recursive chunk scan mirroring the engine's totality rule
    // (stop at the first chunk that overruns the file, so the
    // truncated class drops exactly its cut frame), ANMF geometry /
    // duration / flags straight off the 16-byte header, codec from
    // the first image subchunk (ALPH skipped), canvas from VP8X and
    // loop count from the first ANIM chunk
    "q_m35_webp_anim" -> {
      def bb(o: String) = s"(('0x' || substr(h, 2*($o)+1, 2))::BIGINT)"
      def le24(o: String) =
        s"(${bb(o)} + 256*${bb(s"($o)+1")} + 65536*${bb(s"($o)+2")})"
      def le32(o: String) = s"(${le24(o)} + 16777216*${bb(s"($o)+3")})"
      s"""WITH RECURSIVE awx AS (
         |  SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |  FROM read_parquet('${Tables.animwebpFixturePath}')
         |  WHERE octet_length(media) >= 30
         |    AND substr(hex(media), 1, 8) = '52494646'
         |    AND substr(hex(media), 17, 8) = '57454250'
         |    AND substr(hex(media), 25, 8) = '56503858'),
         | awa AS (
         |  SELECT * FROM awx
         |  WHERE (${bb("20")} & 2) = 2
         |    AND ${le32("16")} >= 10 AND 20 + ${le32("16")} <= n),
         | chunks(media_id, off, sz) AS (
         |  SELECT media_id, 12, ${le32("16")} FROM awa
         |  WHERE 20 + ${le32("16")} <= n
         |  UNION ALL
         |  SELECT c.media_id, c.off + 8 + c.sz + (c.sz % 2),
         |    ${le32("c.off + 8 + c.sz + (c.sz % 2) + 4").replace("h,", "a.h,")}
         |  FROM chunks c JOIN awa a USING (media_id)
         |  WHERE c.off + 8 + c.sz + (c.sz % 2) + 8 <= a.n
         |    AND c.off + 8 + c.sz + (c.sz % 2) + 8 +
         |      ${le32("c.off + 8 + c.sz + (c.sz % 2) + 4").replace("h,", "a.h,")} <= a.n),
         | anmf AS (
         |  SELECT c.media_id, c.off, c.sz, a.h, c.off + 8 AS d
         |  FROM chunks c JOIN awa a USING (media_id)
         |  WHERE substr(a.h, 2*c.off + 1, 8) = '414E4D46' AND c.sz >= 16),
         | sub AS (
         |  SELECT media_id, off, sz, h, d,
         |    (substr(h, 2*(d+16) + 1, 8) = '414C5048'
         |      AND d + 16 + 8 <= d + sz) AS has_alpha,
         |    CASE WHEN substr(h, 2*(d+16) + 1, 8) = '414C5048'
         |           AND d + 16 + 8 <= d + sz
         |      THEN CASE WHEN d + 16 + 8 + ${le32("d + 16 + 4")} <= d + sz
         |        THEN d + 16 + 8 + ${le32("d + 16 + 4")} +
         |          (${le32("d + 16 + 4")} % 2)
         |        ELSE d + sz END
         |      ELSE d + 16 END AS p
         |  FROM anmf),
         | fr AS (
         |  SELECT media_id, off, h, d, sz, has_alpha, p,
         |    CASE WHEN substr(h, 2*p + 1, 8) = '56503820' THEN 'vp8'
         |         WHEN substr(h, 2*p + 1, 8) = '5650384C' THEN 'vp8l'
         |    END AS codec
         |  FROM sub WHERE p + 8 <= d + sz),
         | fr2 AS (
         |  SELECT media_id, off, codec, has_alpha,
         |    CAST(2 * ${le24("d")} AS INT) AS frame_x,
         |    CAST(2 * ${le24("d + 3")} AS INT) AS frame_y,
         |    CAST(${le24("d + 6")} + 1 AS INT) AS frame_w,
         |    CAST(${le24("d + 9")} + 1 AS INT) AS frame_h,
         |    CAST(${le24("d + 12")} AS INT) AS duration_ms,
         |    (${bb("d + 15")} & 1) = 1 AS dispose_background,
         |    (${bb("d + 15")} & 2) = 2 AS no_blend,
         |    CAST(p AS BIGINT) AS chunk_offset,
         |    CAST(least(8 + ${le32("p + 4")} + (${le32("p + 4")} % 2),
         |      d + sz - p) AS BIGINT) AS chunk_bytes
         |  FROM fr WHERE codec IS NOT NULL),
         | canvas AS (
         |  SELECT media_id, CAST(${le24("24")} + 1 AS INT) AS canvas_w,
         |    CAST(${le24("27")} + 1 AS INT) AS canvas_h
         |  FROM awa),
         | loopc AS (
         |  SELECT c.media_id,
         |    CAST(MIN_BY(${bb("c.off + 12").replace("h,", "a.h,")}
         |      + 256*${bb("c.off + 13").replace("h,", "a.h,")}, c.off) AS INT)
         |      AS loop_count
         |  FROM chunks c JOIN awa a USING (media_id)
         |  WHERE substr(a.h, 2*c.off + 1, 8) = '414E494D' AND c.sz >= 6
         |  GROUP BY c.media_id)
         | SELECT f.media_id,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY f.media_id ORDER BY f.off)
         |     - 1 AS INT) AS frame_idx,
         |   f.frame_x, f.frame_y, f.frame_w, f.frame_h, f.duration_ms,
         |   f.dispose_background, f.no_blend, f.has_alpha, f.codec,
         |   f.chunk_offset, f.chunk_bytes, c.canvas_w, c.canvas_h,
         |   l.loop_count
         | FROM fr2 f JOIN canvas c USING (media_id)
         |   JOIN loopc l USING (media_id)""".stripMargin
    },
    // q_w22: the CDX index — WARCGZREC member spans + record identity
    // (responses with a URI), SURT keys via the shared CANONCHAIN
    "q_w22_cdx" ->
      s"""WITH $WARCGZREC,
         | mem AS (
         |  SELECT r.media_id, CAST(s.off AS BIGINT) AS member_offset,
         |    CAST(s.comp AS BIGINT) AS member_comp_bytes,
         |    r.wd AS warc_date, r.uri AS target_uri,
         |    r.wtype AS warc_type, r.dg AS payload_digest
         |  FROM wgz_r r JOIN wgz_s s USING (media_id, k)
         |  WHERE lower(r.wtype) IN ('response', 'revisit')
         |    AND r.uri IS NOT NULL),
         | ${CANONCHAIN("m", "mem",
            "media_id, member_offset, member_comp_bytes, warc_date, " +
              "warc_type, payload_digest")}
         | SELECT surt_key, warc_date, target_uri, warc_type,
         |   payload_digest, media_id, member_offset, member_comp_bytes
         | FROM mc4""".stripMargin,
    // q_w27: revisits digest-joined to the earliest same-digest
    // response member, both sides re-derived from the WARCGZREC
    // contract + byte-scanned member spans
    "q_w27_revisit_resolve" ->
      s"""WITH $WARCGZREC,
         | rv AS (
         |  SELECT dg AS payload_digest, media_id, CAST(k AS INT) AS member_idx,
         |    uri AS target_uri, wd AS warc_date
         |  FROM wgz_r WHERE wtype = 'revisit' AND dg IS NOT NULL),
         | org AS (
         |  SELECT r.dg, r.media_id, r.k, r.uri, r.wd,
         |    s.off, s.comp,
         |    ROW_NUMBER() OVER (PARTITION BY r.dg
         |      ORDER BY r.wd, r.media_id, r.k) AS rnk
         |  FROM wgz_r r JOIN wgz_s s USING (media_id, k)
         |  WHERE r.wtype = 'response' AND r.dg IS NOT NULL)
         | SELECT rv.payload_digest, rv.media_id, rv.member_idx,
         |   rv.target_uri, rv.warc_date,
         |   o.media_id AS orig_media_id, CAST(o.k AS INT) AS orig_member_idx,
         |   o.uri AS orig_uri, o.wd AS orig_date,
         |   CAST(o.off AS BIGINT) AS orig_member_offset,
         |   CAST(o.comp AS BIGINT) AS orig_member_comp_bytes
         | FROM rv JOIN org o ON rv.payload_digest = o.dg AND o.rnk = 1""".stripMargin,
    // q_w17: both snapshots re-derived from the same record/HTTP
    // re-walk (media_id ranges), keep-latest + md5(extracted text)
    // per snapshot, then the full-outer diff with the same status
    // precedence as crawlDelta
    "q_w17_crawl_delta" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | wet AS (
         |  SELECT media_id, record_idx, body_text
         |  FROM https
         |  WHERE http_status = 200 AND lower(content_type) LIKE 'text/%'),
         | rsp AS (
         |  SELECT media_id, record_idx, target_uri, warc_date
         |  FROM wrecs
         |  WHERE lower(warc_type) = 'response' AND target_uri IS NOT NULL),
         | snap_o AS (
         |  SELECT target_uri, media_id, record_idx FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY target_uri
         |      ORDER BY warc_date DESC, media_id, record_idx) AS rnk
         |    FROM rsp WHERE media_id < 300) WHERE rnk = 1),
         | snap_n AS (
         |  SELECT target_uri, media_id, record_idx FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY target_uri
         |      ORDER BY warc_date DESC, media_id, record_idx) AS rnk
         |    FROM rsp WHERE media_id >= 200) WHERE rnk = 1),
         | dig_o AS (
         |  SELECT s.target_uri, md5(w.body_text) AS old_digest
         |  FROM snap_o s JOIN wet w
         |    ON s.media_id = w.media_id AND s.record_idx = w.record_idx),
         | dig_n AS (
         |  SELECT s.target_uri, md5(w.body_text) AS new_digest
         |  FROM snap_n s JOIN wet w
         |    ON s.media_id = w.media_id AND s.record_idx = w.record_idx)
         | SELECT COALESCE(o.target_uri, n.target_uri) AS target_uri,
         |   o.old_digest, n.new_digest,
         |   CASE WHEN o.old_digest IS NULL THEN 'added'
         |        WHEN n.new_digest IS NULL THEN 'removed'
         |        WHEN o.old_digest = n.new_digest THEN 'unchanged'
         |        ELSE 'changed' END AS status
         | FROM dig_o o FULL OUTER JOIN dig_n n ON o.target_uri = n.target_uri""".stripMargin,
    // q_w20: dedup chain + robots bodies re-joined from the HTTP
    // split, the same line parse (UA-group window, rule regexes) and
    // the same longest-match rank — allow beats disallow on ties
    "q_w20_robots" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | wet AS (
         |  SELECT media_id, record_idx, body_text
         |  FROM https
         |  WHERE http_status = 200 AND lower(content_type) LIKE 'text/%'),
         | rsp AS (
         |  SELECT media_id, record_idx, target_uri, warc_date
         |  FROM wrecs
         |  WHERE lower(warc_type) = 'response' AND target_uri IS NOT NULL),
         | rk AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY target_uri
         |      ORDER BY warc_date DESC, media_id, record_idx) AS rank,
         |    CAST(COUNT(*) OVER (PARTITION BY target_uri) AS BIGINT) AS n_fetches
         |  FROM rsp),
         | dd AS (
         |  SELECT target_uri, media_id, record_idx, warc_date, n_fetches
         |  FROM rk WHERE rank = 1),
         | rob AS (
         |  SELECT lower(regexp_extract(d.target_uri,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
         |    w.body_text AS body
         |  FROM dd d JOIN wet w
         |    ON d.media_id = w.media_id AND d.record_idx = w.record_idx
         |  WHERE d.target_uri LIKE '%/robots.txt'),
         | rlin AS (
         |  SELECT host,
         |    unnest(string_split(body, chr(10))) AS line,
         |    unnest(generate_series(1, len(string_split(body, chr(10))))) AS line_no
         |  FROM rob),
         | rlr AS (
         |  SELECT host, line_no,
         |    nullif(regexp_extract(line,
         |      '(?i)^[ \\t]*user-agent[ \\t]*:[ \\t]*(\\S+)', 1), '') AS ua,
         |    lower(regexp_extract(line,
         |      '(?i)^[ \\t]*(disallow|allow)[ \\t]*:', 1)) AS rule_type,
         |    trim(regexp_extract(line,
         |      '(?i)^[ \\t]*(disallow|allow)[ \\t]*:(.*)$$', 2)) AS prefix
         |  FROM rlin),
         | rlg AS (
         |  SELECT *, last_value(ua IGNORE NULLS) OVER (PARTITION BY host
         |    ORDER BY line_no
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS agent
         |  FROM rlr),
         | rrules AS (
         |  SELECT DISTINCT host, rule_type, prefix
         |  FROM rlg WHERE agent = '*' AND rule_type <> '' AND prefix <> ''),
         | pg AS (
         |  SELECT d.*,
         |    lower(regexp_extract(d.target_uri,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
         |    CASE WHEN regexp_extract(d.target_uri,
         |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) = ''
         |      THEN '/' ELSE regexp_extract(d.target_uri,
         |        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) END AS pth
         |  FROM dd d WHERE d.target_uri NOT LIKE '%/robots.txt'),
         | rrx AS (
         |  -- RFC 9309 wildcard compile, mirroring the engine: strip
         |  -- a trailing end-anchor dollar, COLLAPSE star runs,
         |  -- escape regex metacharacters, star -> '.*'; rules over
         |  -- the 8-wildcard implementation limit never match;
         |  -- wildcardless rules keep the starts_with fast path
         |  SELECT *,
         |    prefix LIKE '%*%' OR prefix LIKE '%$$' AS has_wild,
         |    CASE WHEN (prefix LIKE '%*%' OR prefix LIKE '%$$')
         |      AND len(core) - len(replace(core, '*', '')) <= 8
         |    THEN '^' || replace(regexp_replace(core,
         |        '([\\^$$.|?+\\[\\]{}()\\\\])', '\\\\\\1', 'g'),
         |      '*', '.*') ||
         |      CASE WHEN prefix LIKE '%$$' THEN '$$' ELSE '' END
         |    END AS rule_rx
         |  FROM (
         |    SELECT *, regexp_replace(
         |      CASE WHEN prefix LIKE '%$$'
         |           THEN substr(prefix, 1, len(prefix) - 1)
         |           ELSE prefix END, '\\*+', '*', 'g') AS core
         |    FROM rrules) rc),
         | rj AS (
         |  SELECT pg.*, r.rule_type, r.prefix,
         |    r.prefix IS NOT NULL AND
         |      CASE WHEN r.has_wild
         |           THEN r.rule_rx IS NOT NULL
         |             AND regexp_matches(pg.pth, r.rule_rx)
         |           ELSE starts_with(pg.pth, r.prefix) END AS hit
         |  FROM pg LEFT JOIN rrx r USING (host)),
         | rjr AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY host, target_uri
         |    ORDER BY hit DESC, len(prefix) DESC, rule_type ASC, prefix ASC) AS rnk
         |  FROM rj)
         | SELECT host, target_uri, media_id,
         |   CAST(record_idx AS INT) AS record_idx, warc_date, n_fetches,
         |   NOT (hit AND rule_type = 'disallow') AS robots_allowed,
         |   CASE WHEN hit THEN rule_type END AS matched_rule,
         |   CASE WHEN hit THEN prefix END AS matched_prefix
         | FROM rjr WHERE rnk = 1""".stripMargin,
    // q_w18: the PDFWALK re-walk verbatim — classic tables (startxref
    // scan, /Prev chain, 20-byte grid) AND the 1.5+ xref-stream class
    // (hex-digit row reads, unhex'd ObjStm members — see its Scaladoc)
    "q_w18_pdf_xref" ->
      s"""WITH RECURSIVE $PDFWALK
         | SELECT media_id, CAST(section_idx AS INT) AS section_idx,
         |   CAST(obj_num AS INT) AS obj_num, gen,
         |   CAST(off AS BIGINT) AS "offset", in_use, entry_kind,
         |   obj_type, CAST(obj_length AS BIGINT) AS obj_length
         | FROM pdf_ent""".stripMargin,
    // q_w21: PDFWALK + keep-latest resolution, /Type /Page objects'
    // first /Contents ref joined back to the resolved content
    // object, the stream sliced between `stream\n` and `\nendstream`
    // and every `(…) Tj` literal concatenated in order — the
    // updated page object (no /Contents) correctly emits nothing
    "q_w21_pdf_text" ->
      s"""WITH RECURSIVE $PDFWALK,
         | res AS (
         |  SELECT media_id, obj_num, entry_kind, obj_type, body
         |  FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id, obj_num
         |      ORDER BY section_idx) AS rnk
         |    FROM pdf_ent) t
         |  WHERE rnk = 1 AND in_use AND obj_length IS NOT NULL
         |    AND body IS NOT NULL),
         | pages AS (
         |  SELECT media_id, obj_num AS page_obj,
         |    TRY_CAST(regexp_extract(body,
         |      '/Contents ([0-9]+) ([0-9]+) R', 1) AS INT) AS content_obj
         |  FROM res WHERE obj_type = 'Page'),
         | ctt AS (
         |  SELECT p.media_id, p.page_obj, p.content_obj, c.body AS cbody
         |  FROM pages p
         |  JOIN res c ON p.media_id = c.media_id AND p.content_obj = c.obj_num
         |  WHERE c.entry_kind = 'direct'),
         | sl AS (
         |  SELECT media_id, page_obj, content_obj, cbody,
         |    strpos(cbody, 'stream' || chr(10)) AS ds,
         |    strpos(cbody, chr(10) || 'endstream') AS de
         |  FROM ctt),
         | dec AS (
         |  SELECT media_id, page_obj, content_obj,
         |    CASE WHEN substr(cbody, 1, CAST(ds - 1 AS INT))
         |           LIKE '%/ASCIIHexDecode%'
         |         THEN decode(unhex(rtrim(raw, '>')))
         |         ELSE raw END AS data
         |  FROM (
         |    SELECT *, substr(cbody, CAST(ds + 7 AS INT),
         |      CAST(de - ds - 7 AS INT)) AS raw
         |    FROM sl WHERE ds > 0 AND de > ds) t)
         | SELECT media_id, CAST(page_obj AS INT) AS page_obj,
         |   CAST(content_obj AS INT) AS content_obj,
         |   CASE WHEN data LIKE '%/FU%Tf%' THEN
         |     -- the ToUnicode page: the shown CODES prove nothing
         |     -- without the CMap, so the oracle re-derives the MAPPED
         |     -- text from PdfFixture's id contract (A-Z → Cyrillic
         |     -- for the 1-byte class, U+4E01.. codes for the 2-byte
         |     -- class — uShow/uMapped)
         |     CASE WHEN media_id % 2 = 0
         |       THEN translate('DOC ' || media_id || ' MAP',
         |         'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
         |         'АБВГДЕЖЗИЙКЛМНОПРСТУФХЦЧШЩ')
         |       ELSE chr(CAST(19969 + media_id % 10 AS INT))
         |         || chr(CAST(19969 + (media_id + 1) % 10 AS INT))
         |         || chr(CAST(19969 + (media_id + 2) % 10 AS INT))
         |         || chr(CAST(19969 + (media_id + 3) % 10 AS INT))
         |         || chr(20013) END
         |   WHEN data LIKE '%/FE1%' THEN
         |     -- the /Encoding-fallback page: WinAnsi codes then a
         |     -- MacRoman-base + /Differences font, re-derived from
         |     -- PdfFixture's id contract (winText/macText)
         |     'Wé“«' || chr(192 + CAST(media_id % 8 AS INT)) || ' ' ||
         |     'é•—á' || ['Ä','Å','Ç','É','Ñ'][CAST(media_id % 5 AS INT) + 1]
         |   ELSE
         |   -- every show operator in stream order: literal/hex
         |   -- Tj|'|" plus kerned [ … ] TJ arrays whose pieces
         |   -- concatenate (the engine's pdfShowText contract)
         |   array_to_string(list_transform(regexp_extract_all(data,
         |       '\\(([^()]*)\\)[ \\t\\r\\n]*(?:Tj|''|")' ||
         |       '|<([0-9A-Fa-f \\t\\r\\n]*)>[ \\t\\r\\n]*(?:Tj|''|")' ||
         |       '|\\[([^\\[\\]]*)\\][ \\t\\r\\n]*TJ'),
         |     m -> CASE
         |       WHEN m LIKE '(%' THEN regexp_extract(m, '^\\(([^()]*)\\)', 1)
         |       WHEN m LIKE '<%' THEN decode(unhex(regexp_replace(
         |         regexp_extract(m, '^<([^>]*)>', 1), '\\s', '', 'g')))
         |       ELSE array_to_string(list_transform(
         |         regexp_extract_all(m,
         |           '\\(([^()]*)\\)|<[0-9A-Fa-f \\t\\r\\n]*>'),
         |         q -> CASE WHEN q LIKE '(%'
         |           THEN substr(q, 2, len(q) - 2)
         |           ELSE decode(unhex(regexp_replace(
         |             substr(q, 2, len(q) - 2), '\\s', '', 'g'))) END), '')
         |     END), ' ')
         |   END AS text
         | FROM dec""".stripMargin,
    // q_w19: PDFWALK + the keep-latest window (smallest section_idx
    // per object wins) — rank BEFORE the in-use filter, so a deleted
    // ('f') latest entry correctly tombstones older generations
    "q_w19_pdf_objects" ->
      s"""WITH RECURSIVE $PDFWALK,
         | rk AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY media_id, obj_num
         |    ORDER BY section_idx) AS rnk
         |  FROM pdf_ent)
         | SELECT media_id, CAST(obj_num AS INT) AS obj_num, gen,
         |   CAST(off AS BIGINT) AS "offset", entry_kind, obj_type,
         |   CAST(obj_length AS BIGINT) AS obj_length
         | FROM rk WHERE rnk = 1 AND in_use AND obj_length IS NOT NULL""".stripMargin,
    // q_w1: the WARCWALK recursive re-walk verbatim (see its Scaladoc
    // for the derivation and tolerance rules)
    "q_w1_warc_records" ->
      s"""WITH RECURSIVE $WARCWALK
         | SELECT media_id, CAST(record_idx AS INT) AS record_idx,
         |        CAST(off AS BIGINT) AS "offset",
         |        CAST(content_offset AS BIGINT) AS content_offset,
         |        CAST(content_length AS BIGINT) AS content_length,
         |        warc_type, target_uri, warc_date, payload_digest
         | FROM wrecs""".stripMargin,
    // q_w6: the WARCWALK records restricted to responses, each
    // payload re-sliced from the decoded bytes and split at its first
    // CRLFCRLF: status from the same anchored status-line pattern as
    // the walker, Content-Type from the case-insensitive header
    // regex, body coordinates from the terminator position. A payload
    // with no terminator or no parsing status line yields no row —
    // the walker's exact emission rule.
    "q_w6_warc_http" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP
         | SELECT media_id, CAST(record_idx AS INT) AS record_idx, http_status,
         |   CAST(body_offset AS BIGINT) AS body_offset,
         |   CAST(body_length AS BIGINT) AS body_length, content_type
         | FROM https WHERE http_status IS NOT NULL""".stripMargin,
    // q_w7: the WARCHTTP body strings for 200/text/* responses, plus
    // the visible-text chain (script/style drop, tag strip, entity
    // decode, whitespace collapse) run by htmlCleanSql — the
    // extraction itself is oracle-checked, not just the coordinates
    "q_w7_warc_body_text" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP
         | SELECT media_id, CAST(record_idx AS INT) AS record_idx,
         |   content_type, body_text,
         |   ${htmlCleanSql("body_text")} AS visible_text
         | FROM https
         | WHERE http_status = 200 AND lower(content_type) LIKE 'text/%'""".stripMargin,
    // q_w8: the composed curation oracle — WET extraction, then the
    // q_x1 marker-argmax chain and the q_x3 quality formula over the
    // extracted text (aliased to `text` so the shared SQL applies
    // verbatim), empty extractions dropped
    "q_w8_web_text_curation" ->
      s"""WITH RECURSIVE $WARCWALK,
         | $WARCHTTP,
         | wet AS (
         |  SELECT media_id, CAST(record_idx AS INT) AS record_idx, content_type,
         |    ${htmlCleanSql("body_text")} AS text
         |  FROM https
         |  WHERE http_status = 200 AND lower(content_type) LIKE 'text/%'),
         | comp AS (
         |  SELECT *, $langHitsSql,
         |   $qualityComponentsSql
         |  FROM wet WHERE text <> '')
         | SELECT media_id, record_idx, content_type, text,
         |   $langCaseSql AS predicted_lang,
         |   $qualityScoreSql AS quality_score
         | FROM comp""".stripMargin,
    // q_w2: the recursive 512-grid re-walk (TARWALK) verbatim
    "q_w2_tar_members" ->
      s"""WITH RECURSIVE $TARWALK
         | SELECT * FROM members""".stripMargin,
    // q_w3: EOCD located by an explicit backward scan (list_max over
    // every aligned '504B0506' position within the 65535-byte comment
    // window — the LAST signature wins, like the walker's descending
    // scan); when the ZIP64 EOCD locator (07064b50) sits immediately
    // before the EOCD, count/offset re-read as 64-bit values from the
    // ZIP64 EOCD record (06064b50) it points at — locator PRESENCE is
    // the discriminator, exactly like the walker; then a recursive
    // central-directory walk in LE hex arithmetic with per-entry
    // sentinel slots resolved from the 0x0001 extra subfield (a
    // 3-hop subfield chain — the walker loops, but 3 hops cover any
    // real archive's extras and the fixture's dummy-first layout);
    // data_offset re-reads each LOCAL header's own name/extra lengths
    // (the fixture's even entries carry a local-only extra field, so
    // trusting the central entry would be caught).
    "q_w3_zip_entries" ->
      s"""WITH RECURSIVE zip_m AS (
         |  SELECT media_id, hex(media) AS h, octet_length(media) AS n
         |  FROM read_parquet('${Tables.zipFixturePath}')),
         | zip_e AS (
         |  SELECT media_id, h, n,
         |    list_max(list_filter(generate_series(GREATEST(n - 22 - 65535, 0), n - 22),
         |      i -> substr(h, CAST(2 * i AS INT) + 1, 8) = '504B0506')) AS e
         |  FROM zip_m),
         | zip_l AS (
         |  SELECT media_id, h, n, e,
         |    CASE WHEN e >= 20
         |              AND substr(h, CAST(2 * (e - 20) AS INT) + 1, 8) = '504B0607'
         |         THEN TRY_CAST('0x' || ${leHex("e - 12", 8)} AS BIGINT) END AS z_off
         |  FROM zip_e WHERE e IS NOT NULL),
         | zip_h AS (
         |  SELECT media_id, h, n,
         |    CASE WHEN z_ok THEN TRY_CAST('0x' || ${leHex("z_off + 32", 8)} AS BIGINT)
         |         ELSE TRY_CAST('0x' || ${leHex("e + 10", 2)} AS BIGINT) END AS cnt,
         |    CASE WHEN z_ok THEN TRY_CAST('0x' || ${leHex("z_off + 48", 8)} AS BIGINT)
         |         ELSE TRY_CAST('0x' || ${leHex("e + 16", 4)} AS BIGINT) END AS cd_off
         |  FROM (SELECT *, z_off IS NOT NULL AND z_off + 56 <= n
         |               AND substr(h, CAST(2 * z_off AS INT) + 1, 8) = '504B0606' AS z_ok
         |        FROM zip_l) t0),
         | zip_walk AS (
         |  SELECT media_id, -1 AS entry_idx, CAST(NULL AS VARCHAR) AS name,
         |         CAST(NULL AS INT) AS method, CAST(NULL AS BIGINT) AS comp_bytes,
         |         CAST(NULL AS BIGINT) AS uncomp_bytes,
         |         CAST(NULL AS BIGINT) AS local_header_offset,
         |         CAST(NULL AS BIGINT) AS data_offset,
         |         cd_off AS p, cnt
         |  FROM zip_h
         |  WHERE cnt IS NOT NULL AND cd_off IS NOT NULL AND cd_off <= n
         |  UNION ALL
         |  SELECT media_id, entry_idx, name, method, comp_bytes, uncomp_bytes, lho,
         |    CASE WHEN lho + 30 <= n
         |              AND substr(h, CAST(2 * lho AS INT) + 1, 8) = '504B0304'
         |         THEN lho + 30
         |              + TRY_CAST('0x' || ${leHex("lho + 26", 2)} AS BIGINT)
         |              + TRY_CAST('0x' || ${leHex("lho + 28", 2)} AS BIGINT)
         |         ELSE NULL END AS data_offset,
         |    p + 46 + nlen + xlen + clen AS p, cnt
         |  FROM (
         |    SELECT v.media_id, v.h, v.n, v.entry_idx, v.p, v.cnt,
         |      v.name, v.method, v.nlen, v.xlen, v.clen,
         |      CASE WHEN v.usz = 4294967295 AND v.zx IS NOT NULL
         |           THEN TRY_CAST('0x' || ${leHex("v.zx", 8, "v.h")} AS BIGINT)
         |           ELSE v.usz END AS uncomp_bytes,
         |      CASE WHEN v.csz = 4294967295 AND v.zx IS NOT NULL
         |           THEN TRY_CAST('0x' || ${leHex(
                        "v.zx + CASE WHEN v.usz = 4294967295 THEN 8 ELSE 0 END",
                        8, "v.h")} AS BIGINT)
         |           ELSE v.csz END AS comp_bytes,
         |      CASE WHEN v.lh0 = 4294967295 AND v.zx IS NOT NULL
         |           THEN TRY_CAST('0x' || ${leHex(
                        "v.zx + CASE WHEN v.usz = 4294967295 THEN 8 ELSE 0 END" +
                          " + CASE WHEN v.csz = 4294967295 THEN 8 ELSE 0 END",
                        8, "v.h")} AS BIGINT)
         |           ELSE v.lh0 END AS lho
         |    FROM (
         |      SELECT u.*,
         |        u.p + 46 + u.nlen AS xa,
         |        u.p + 46 + u.nlen + u.xlen AS xe,
         |        CASE WHEN xa + 4 <= xe
         |             THEN TRY_CAST('0x' || ${leHex("xa", 2, "u.h")} AS BIGINT) END AS id0,
         |        CASE WHEN xa + 4 <= xe
         |             THEN TRY_CAST('0x' || ${leHex("xa + 2", 2, "u.h")} AS BIGINT) END AS sz0,
         |        CASE WHEN sz0 IS NOT NULL AND xa + 8 + sz0 <= xe
         |             THEN TRY_CAST('0x' || ${leHex("xa + 4 + sz0", 2, "u.h")} AS BIGINT) END AS id1,
         |        CASE WHEN sz0 IS NOT NULL AND xa + 8 + sz0 <= xe
         |             THEN TRY_CAST('0x' || ${leHex("xa + 6 + sz0", 2, "u.h")} AS BIGINT) END AS sz1,
         |        CASE WHEN sz1 IS NOT NULL AND xa + 12 + sz0 + sz1 <= xe
         |             THEN TRY_CAST('0x' || ${leHex("xa + 8 + sz0 + sz1", 2, "u.h")} AS BIGINT) END AS id2,
         |        CASE WHEN id0 = 1 THEN xa + 4
         |             WHEN id1 = 1 THEN xa + 8 + sz0
         |             WHEN id2 = 1 THEN xa + 12 + sz0 + sz1 END AS zx
         |      FROM (
         |        SELECT t.media_id, t.h, t.n, t.entry_idx, t.p, t.cnt,
         |          decode(unhex(substr(t.h, CAST(2 * (t.p + 46) AS INT) + 1,
         |                              CAST(2 * t.nlen AS INT)))) AS name,
         |          TRY_CAST('0x' || ${leHex("t.p + 10", 2, "t.h")} AS INT) AS method,
         |          TRY_CAST('0x' || ${leHex("t.p + 20", 4, "t.h")} AS BIGINT) AS csz,
         |          TRY_CAST('0x' || ${leHex("t.p + 24", 4, "t.h")} AS BIGINT) AS usz,
         |          TRY_CAST('0x' || ${leHex("t.p + 42", 4, "t.h")} AS BIGINT) AS lh0,
         |          t.nlen, t.xlen, t.clen
         |        FROM (
         |          SELECT w.media_id, zip_m.h, zip_m.n, w.entry_idx + 1 AS entry_idx,
         |                 w.p, w.cnt,
         |            TRY_CAST('0x' || ${leHex("w.p + 28", 2, "zip_m.h")} AS BIGINT) AS nlen,
         |            TRY_CAST('0x' || ${leHex("w.p + 30", 2, "zip_m.h")} AS BIGINT) AS xlen,
         |            TRY_CAST('0x' || ${leHex("w.p + 32", 2, "zip_m.h")} AS BIGINT) AS clen
         |          FROM zip_walk w JOIN zip_m USING (media_id)
         |          WHERE w.entry_idx + 1 < w.cnt AND w.p + 46 <= zip_m.n
         |            AND substr(zip_m.h, CAST(2 * w.p AS INT) + 1, 8) = '504B0102'
         |        ) t
         |        WHERE t.p + 46 + t.nlen <= t.n
         |      ) u
         |    ) v
         |  ) r2)
         | SELECT media_id, CAST(entry_idx AS INT) AS entry_idx, name,
         |        CAST(method AS INT) AS method,
         |        CAST(comp_bytes AS BIGINT) AS comp_bytes,
         |        CAST(uncomp_bytes AS BIGINT) AS uncomp_bytes,
         |        CAST(local_header_offset AS BIGINT) AS local_header_offset,
         |        CAST(data_offset AS BIGINT) AS data_offset
         | FROM zip_walk WHERE entry_idx >= 0""".stripMargin,
    // q_w4: the TARWALK members re-grouped at the FIRST dot — plain
    // SQL over the independently re-walked index rows
    "q_w4_webdataset_samples" ->
      s"""WITH RECURSIVE $TARWALK
         | SELECT media_id, sample_key,
         |        CAST(count(*) AS BIGINT) AS n_components,
         |        CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |        array_to_string(list_sort(list(ext)), ',') AS exts
         | FROM (SELECT media_id, substr(name, 1, strpos(name, '.') - 1) AS sample_key,
         |              substr(name, strpos(name, '.') + 1) AS ext, n_bytes
         |       FROM members WHERE typeflag = '0' AND strpos(name, '.') > 0) t
         | GROUP BY media_id, sample_key""".stripMargin,
    // q_w12: the TARWALK members re-grouped at the first dot, the
    // `.jpg` member's image header re-parsed from the hex bytes at
    // the fixture layout's pinned offsets (SOI at 0, SOF0 at 20,
    // big-endian height/width at 25/27 — the same layout-implied
    // arithmetic as q_m2's oracle), the `.txt` caption decoded from
    // its payload span; first member per extension wins, like the op
    "q_w12_wds_pairs" ->
      s"""WITH RECURSIVE $TARWALK,
         | wds12 AS (
         |  SELECT media_id, member_idx, data_offset, n_bytes,
         |         substr(name, 1, strpos(name, '.') - 1) AS sample_key,
         |         substr(name, strpos(name, '.') + 1) AS ext
         |  FROM members WHERE typeflag = '0' AND strpos(name, '.') > 0),
         | smp12 AS (
         |  SELECT media_id, sample_key, CAST(count(*) AS BIGINT) AS n_components
         |  FROM wds12 GROUP BY media_id, sample_key),
         | jpg12 AS (
         |  SELECT media_id, sample_key, img_bytes,
         |    CASE WHEN ok THEN 'jpeg' END AS img_format,
         |    CASE WHEN ok THEN w END AS width,
         |    CASE WHEN ok THEN h2 END AS height
         |  FROM (
         |    SELECT j.media_id, j.sample_key,
         |      CAST(j.n_bytes AS BIGINT) AS img_bytes,
         |      (substr(t.h, CAST(2 * j.data_offset AS BIGINT) + 1, 4) = 'FFD8'
         |       AND substr(t.h, CAST(2 * (j.data_offset + 20) AS BIGINT) + 1, 4)
         |           = 'FFC0') AS ok,
         |      TRY_CAST('0x' || substr(t.h,
         |        CAST(2 * (j.data_offset + 27) AS BIGINT) + 1, 4) AS INTEGER) AS w,
         |      TRY_CAST('0x' || substr(t.h,
         |        CAST(2 * (j.data_offset + 25) AS BIGINT) + 1, 4) AS INTEGER) AS h2,
         |      row_number() OVER (PARTITION BY j.media_id, j.sample_key
         |                         ORDER BY j.member_idx) AS rn
         |    FROM wds12 j JOIN tar_m t USING (media_id) WHERE j.ext = 'jpg') u
         |  WHERE rn = 1),
         | txt12 AS (
         |  SELECT media_id, sample_key, caption FROM (
         |    SELECT w.media_id, w.sample_key,
         |      decode(unhex(substr(t.h, CAST(2 * w.data_offset AS BIGINT) + 1,
         |        CAST(2 * w.n_bytes AS BIGINT)))) AS caption,
         |      row_number() OVER (PARTITION BY w.media_id, w.sample_key
         |                         ORDER BY w.member_idx) AS rn
         |    FROM wds12 w JOIN tar_m t USING (media_id) WHERE w.ext = 'txt') u
         |  WHERE rn = 1)
         | SELECT s.media_id, s.sample_key, s.n_components, j.img_format,
         |        j.width, j.height, j.img_bytes, t.caption
         | FROM smp12 s
         | LEFT JOIN jpg12 j USING (media_id, sample_key)
         | LEFT JOIN txt12 t USING (media_id, sample_key)""".stripMargin,
    // q_w5: member spans re-derived from the bytes (aligned scan for
    // the fixture's pinned 10-byte gzip header — 9 fixed bytes plus a
    // contract FLG, back-to-back members ⇒ span = next start − start,
    // last member capped at EOF) joined to the record identity
    // reconstructed from WarcGzFixture's id contract, which reuses
    // WarcFixture's record arithmetic verbatim (the full record string
    // is rebuilt in SQL, so uncompressed length and Content-Length
    // come from length() of the reconstruction, not from this code's
    // values). Truncated rows (id%8=3) emit all but the last member.
    "q_w5_warcgz_members" ->
      s"""WITH $WARCGZREC
         | SELECT s.media_id, CAST(s.k AS INT) AS member_idx,
         |   CAST(s.off AS BIGINT) AS member_offset,
         |   CAST(s.comp AS BIGINT) AS member_comp_bytes,
         |   CAST(length(r.record) AS BIGINT) AS member_uncomp_bytes,
         |   CAST(length(r.content) AS BIGINT) AS content_length,
         |   r.wtype AS warc_type, r.uri AS target_uri, r.wd AS warc_date,
         |   r.dg AS payload_digest
         | FROM wgz_r r JOIN wgz_s s USING (media_id, k)""".stripMargin,
    // q_w9: WET extraction off the COMPRESSED members — the HTTP
    // layer re-split generically (the same status/Content-Type/body
    // regexes as WARCHTTP) over the record content the WARCGZREC
    // contract reconstructs, since DuckDB cannot inflate; all fixture
    // bodies sit far under the 1 MiB text cap, so truncated is FALSE
    // (the >cap path is unit-tested with a synthetic member)
    "q_w9_warcgz_body_text" ->
      s"""WITH $WARCGZREC,
         | wet9 AS (
         |  SELECT media_id, CAST(k AS INT) AS member_idx, content,
         |    strpos(content, chr(13)||chr(10)||chr(13)||chr(10)) AS t4
         |  FROM wgz_r WHERE wtype = 'response'),
         | wet9b AS (
         |  SELECT media_id, member_idx,
         |    TRY_CAST(regexp_extract(
         |      string_split(substr(content, 1, t4 - 1), chr(13)||chr(10))[1],
         |      '^HTTP/[^ ]+ ([0-9]{3})( .*)?$$', 1) AS INT) AS st,
         |    nullif(trim(regexp_extract(substr(content, 1, t4 - 1),
         |      '(?i)\\r\\n[ \\t]*content-type[ \\t]*:([^\\r\\n]*)', 1)), '') AS content_type,
         |    substr(content, t4 + 4) AS body_text
         |  FROM wet9 WHERE t4 > 0)
         | SELECT media_id, member_idx, content_type, body_text,
         |   FALSE AS truncated,
         |   ${htmlCleanSql("body_text")} AS visible_text
         | FROM wet9b
         | WHERE st = 200 AND lower(content_type) LIKE 'text/%'""".stripMargin,
    // q_x19: the oracle runs the IDENTICAL RE2-safe patterns (shared
    // via Pii.categories, so both engines scan the same strings with
    // the same regexes); DuckDB regexp_replace needs the explicit 'g'
    // flag to match Spark's replace-all semantics
    "q_x19_pii" -> {
      val counts = Pii.categories.map { case (n, p, _) =>
        s"CAST(len(regexp_extract_all(text, '$p')) AS INTEGER) AS n_$n"
      }.mkString(",\n   ")
      val total = Pii.categories.map { case (_, p, _) =>
        s"len(regexp_extract_all(text, '$p'))"
      }.mkString(" + ")
      val redacted = Pii.categories.foldLeft("text") { case (c, (_, p, r)) =>
        s"regexp_replace($c, '$p', '$r', 'g')"
      }
      s"""SELECT rec_id,
         |   $counts,
         |   CAST($total AS INTEGER) AS n_pii,
         |   $redacted AS redacted
         | FROM read_parquet('${Tables.piiFixturePath}')""".stripMargin
    },
    "q_e1_engine_timeouts" ->
      s"""$E SELECT s.user_id, s.ts AS first_ts, s.ts + INTERVAL 1 HOUR AS fired_at
         | FROM e s LEFT JOIN e p
         |   ON p.user_id = s.user_id AND p.event_type = 'purchase'
         |   AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
         | WHERE s.event_type = 'signup' AND p.event_id IS NULL""".stripMargin,
    "q_e2_engine_completes" ->
      s"""$E SELECT s.user_id, s.ts AS first_ts, MIN(p.ts) AS fired_at
         | FROM e s JOIN e p
         |   ON p.user_id = s.user_id AND p.event_type = 'purchase'
         |   AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
         | WHERE s.event_type = 'signup'
         | GROUP BY s.user_id, s.event_id, s.ts""".stripMargin,
    // q_e5: the oracle re-derives the engine's per-key emission order
    // purely relationally — timeouts (q_e1 twin, firedAt = armed
    // deadline) UNION completes (q_e2 twin, firedAt = first purchase),
    // then ROW_NUMBER over (fired_at, timeouts-first, first_ts): the
    // deadline IS the clock position where a timeout fires, a timeout
    // due at T fires strictly before an event at T can be consumed,
    // and same-instant fires dispatch in matcher-creation order. Any
    // deviation in the engine's actual emission order breaks fire_seq.
    "q_e5_timer_order" ->
      s"""$E, t AS (
         |   SELECT s.user_id, 'timeout' AS kind, s.ts AS first_ts,
         |          s.ts + INTERVAL 1 HOUR AS fired_at
         |   FROM e s LEFT JOIN e p
         |     ON p.user_id = s.user_id AND p.event_type = 'purchase'
         |     AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
         |   WHERE s.event_type = 'signup' AND p.event_id IS NULL),
         | c AS (
         |   SELECT s.user_id, 'complete' AS kind, s.ts AS first_ts,
         |          MIN(p.ts) AS fired_at
         |   FROM e s JOIN e p
         |     ON p.user_id = s.user_id AND p.event_type = 'purchase'
         |     AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
         |   WHERE s.event_type = 'signup'
         |   GROUP BY s.user_id, s.event_id, s.ts),
         | u AS (SELECT * FROM t UNION ALL SELECT * FROM c)
         | SELECT user_id, kind, first_ts, fired_at,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
         |     ORDER BY fired_at, (kind = 'timeout') DESC, first_ts) AS INTEGER)
         |     AS fire_seq
         | FROM u""".stripMargin,
    // q_e6: the oracle re-derives the cross-rule emission order
    // relationally. Suppression (r0 consumes every view at declaration
    // slot 0) makes r1's fire set exactly "every signup times out" —
    // no join needed — while r2 is the q_e1/q_e2 twin pair untouched
    // by suppression. Total order per key: fired_at, timeouts before
    // same-instant completes (a timeout due at T fires before the
    // event at T is handled), rule declaration order (the reference's
    // single deadline-sorted timeout queue is stable, so same-deadline
    // matchers keep registration = declaration order; completes from
    // distinct rules never share an instant in this data), then
    // matcher-creation order (first_ts). Any deviation in dispatch
    // order, suppress short-circuit, or the global timeout queue
    // breaks fire_seq.
    "q_e6_multi_rule_order" ->
      s"""$E, v AS (
         |   SELECT user_id, 'r0_view_quarantine' AS rule, 'complete' AS kind,
         |          ts AS first_ts, ts AS fired_at
         |   FROM e WHERE event_type = 'view'),
         | t1 AS (
         |   SELECT user_id, 'r1_signup_view' AS rule, 'timeout' AS kind,
         |          ts AS first_ts, ts + INTERVAL 1 HOUR AS fired_at
         |   FROM e WHERE event_type = 'signup'),
         | c2 AS (
         |   SELECT s.user_id, 'r2_signup_purchase' AS rule, 'complete' AS kind,
         |          s.ts AS first_ts, MIN(p.ts) AS fired_at
         |   FROM e s JOIN e p
         |     ON p.user_id = s.user_id AND p.event_type = 'purchase'
         |     AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
         |   WHERE s.event_type = 'signup'
         |   GROUP BY s.user_id, s.event_id, s.ts),
         | t2 AS (
         |   SELECT s.user_id, 'r2_signup_purchase' AS rule, 'timeout' AS kind,
         |          s.ts AS first_ts, s.ts + INTERVAL 1 HOUR AS fired_at
         |   FROM e s LEFT JOIN e p
         |     ON p.user_id = s.user_id AND p.event_type = 'purchase'
         |     AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
         |   WHERE s.event_type = 'signup' AND p.event_id IS NULL),
         | u AS (SELECT * FROM v UNION ALL SELECT * FROM t1
         |       UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM t2)
         | SELECT user_id, rule, kind, first_ts, fired_at,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
         |     ORDER BY fired_at, (kind = 'timeout') DESC, rule, first_ts)
         |     AS INTEGER) AS fire_seq
         | FROM u""".stripMargin,
    // q_e7: registration-order tie-break made falsifiable. Every
    // signup (event time truncated to the 15-minute grid) arms BOTH
    // ghost rules; nothing completes, so the fire set is exactly
    // signups × {ra_fast+30min, rb_slow+60min}. Deadline collisions
    // from DIFFERENT arming events (rb armed at T vs ra armed at
    // T+30min) must fire in arming order — (fired_at, first_ts, rule)
    // reproduces the reference's stable single-queue order: first_ts
    // IS the arming instant, and rule name = declaration order breaks
    // same-event ties. A declaration-index tie-break (ra before rb on
    // equal deadlines regardless of arming time) breaks fire_seq.
    "q_e7_registration_order" ->
      s"""$E, s AS (
         |   SELECT user_id, time_bucket(INTERVAL 15 MINUTE, ts) AS ats
         |   FROM e WHERE event_type = 'signup'),
         | u AS (
         |   SELECT user_id, 'ra_fast' AS rule, 'timeout' AS kind,
         |          ats AS first_ts, ats + INTERVAL 30 MINUTE AS fired_at FROM s
         |   UNION ALL
         |   SELECT user_id, 'rb_slow' AS rule, 'timeout' AS kind,
         |          ats AS first_ts, ats + INTERVAL 60 MINUTE AS fired_at FROM s)
         | SELECT user_id, rule, kind, first_ts, fired_at,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
         |     ORDER BY fired_at, first_ts, rule) AS INTEGER) AS fire_seq
         | FROM u""".stripMargin,
    "q_e3_three_step" ->
      s"""$E, s2 AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'signup'),
         | p2 AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase'),
         | er2 AS (SELECT user_id, ts FROM e WHERE event_type = 'error'),
         | c1 AS (SELECT s2.user_id, s2.event_id, s2.ts AS s_ts, MIN(p2.ts) AS p_ts
         |        FROM s2 JOIN p2 ON p2.user_id = s2.user_id
         |          AND p2.ts >= s2.ts AND p2.ts < s2.ts + INTERVAL 2 HOUR
         |        GROUP BY s2.user_id, s2.event_id, s2.ts),
         | c2 AS (SELECT c1.user_id, c1.event_id, c1.s_ts, MIN(er2.ts) AS e_ts
         |        FROM c1 JOIN er2 ON er2.user_id = c1.user_id
         |          AND er2.ts >= c1.p_ts AND er2.ts < c1.p_ts + INTERVAL 2 HOUR
         |        GROUP BY c1.user_id, c1.event_id, c1.s_ts)
         | SELECT user_id, s_ts AS first_ts, e_ts AS third_ts FROM c2""".stripMargin,
    "q_e4_engine_sessions" ->
      // >= : the engine's deadline is half-open — an event exactly at
      // lastSeen + gap fires the timeout first and starts a new session
      s"""$E, d AS (
         |  SELECT user_id, event_id, ts,
         |    CASE WHEN LAG(ts) OVER w IS NULL
         |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         | s AS (
         |  SELECT user_id, ts,
         |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM d)
         | SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |   MAX(ts) + INTERVAL 30 MINUTE AS fired_at
         | FROM s GROUP BY user_id, session_id""".stripMargin,
    "q_j10_asof" ->
      s"""$E, f AS (SELECT * FROM e
         |   WHERE user_id IS NOT NULL AND event_type IN ('purchase', 'view')),
         | x AS (SELECT event_id, user_id, ts, event_type,
         |   last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
         |     OVER w AS asof_ts,
         |   last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
         |     OVER w AS asof_value
         |  FROM f
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         | SELECT event_id, user_id, ts, asof_ts, asof_value FROM x
         | WHERE event_type = 'purchase'""".stripMargin,
    "q_j11_funnel" ->
      s"""$E, r0 AS (SELECT user_id, MIN(ts) AS t FROM e
         |   WHERE event_type = 'signup' AND user_id IS NOT NULL GROUP BY 1),
         | r1 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e
         |   JOIN r0 ON r0.user_id = e.user_id
         |   WHERE e.event_type = 'view' AND e.ts >= r0.t GROUP BY 1),
         | r2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e
         |   JOIN r1 ON r1.user_id = e.user_id
         |   WHERE e.event_type = 'purchase' AND e.ts >= r1.t GROUP BY 1)
         | SELECT * FROM (VALUES
         |   ('signup', 0, (SELECT CAST(COUNT(*) AS BIGINT) FROM r0)),
         |   ('view', 1, (SELECT CAST(COUNT(*) AS BIGINT) FROM r1)),
         |   ('purchase', 2, (SELECT CAST(COUNT(*) AS BIGINT) FROM r2)))
         |   AS v(step, step_idx, n_keys)""".stripMargin,
    "q_j13_funnel_timed" ->
      s"""$E, r0 AS (SELECT user_id, MIN(ts) AS t FROM e
         |   WHERE event_type = 'signup' AND user_id IS NOT NULL GROUP BY 1),
         | r1 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e
         |   JOIN r0 ON r0.user_id = e.user_id
         |   WHERE e.event_type = 'view' AND e.ts >= r0.t
         |     AND e.ts <= r0.t + INTERVAL 86400 SECOND GROUP BY 1),
         | r2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e
         |   JOIN r1 ON r1.user_id = e.user_id
         |   WHERE e.event_type = 'purchase' AND e.ts >= r1.t
         |     AND e.ts <= r1.t + INTERVAL 86400 SECOND GROUP BY 1)
         | SELECT * FROM (VALUES
         |   ('signup', 0, (SELECT CAST(COUNT(*) AS BIGINT) FROM r0)),
         |   ('view', 1, (SELECT CAST(COUNT(*) AS BIGINT) FROM r1)),
         |   ('purchase', 2, (SELECT CAST(COUNT(*) AS BIGINT) FROM r2)))
         |   AS v(step, step_idx, n_keys)""".stripMargin,
    "q_j12_retention" ->
      s"""$E, weeks AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
         |   FROM e WHERE user_id IS NOT NULL),
         | cohort AS (SELECT user_id, MIN(wk) AS cohort_week FROM weeks GROUP BY 1)
         | SELECT c.cohort_week, CAST(date_diff('day', CAST(c.cohort_week AS DATE),
         |     CAST(w.wk AS DATE)) / 7 AS INTEGER) AS week_offset,
         |   CAST(COUNT(*) AS BIGINT) AS n_keys
         | FROM weeks w JOIN cohort c ON c.user_id = w.user_id
         | GROUP BY 1, 2""".stripMargin,
    "q_a9_percentiles" ->
      s"""$E, g AS (SELECT event_type,
         |   quantile_cont(value, [0.5, 0.9, 0.99]) AS qs FROM e GROUP BY 1),
         | x AS (SELECT event_type,
         |   unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p,
         |   unnest(qs) AS q0 FROM g)
         | SELECT event_type, p, ROUND(q0, 6) AS q FROM x""".stripMargin,
    "q_x10_decontam" ->
      s"""$SH,
         | bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 20 = 0),
         | train AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 != 0)
         | SELECT t.doc_id,
         |   CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs,
         |   CAST(COUNT(DISTINCT t.s) AS BIGINT) AS n_shared_grams
         | FROM train t JOIN bench b ON b.s = t.s
         | GROUP BY t.doc_id""".stripMargin,
    "q_x11_collocations" ->
      s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         | bi AS (SELECT doc_id, l, unnest(generate_series(1, len(l)-1)) AS i FROM wl WHERE len(l) >= 2),
         | bg AS (SELECT l[i] AS prev, l[i+1] AS w FROM bi),
         | bc AS (SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c_xy FROM bg GROUP BY 1, 2),
         | lc AS (SELECT prev, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM bc GROUP BY 1),
         | rc AS (SELECT w, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM bc GROUP BY 1),
         | tot AS (SELECT CAST(SUM(c_xy) AS DOUBLE) AS n FROM bc),
         | p AS (SELECT bc.prev, bc.w, bc.c_xy,
         |   ROUND(ln(CAST(bc.c_xy AS DOUBLE) * t.n /
         |     (CAST(lc.c_x AS DOUBLE) * CAST(rc.c_y AS DOUBLE))), 6) AS pmi
         |   FROM bc JOIN lc ON lc.prev = bc.prev JOIN rc ON rc.w = bc.w, tot t
         |   WHERE bc.c_xy >= 5),
         | r AS (SELECT prev, w, c_xy, pmi,
         |   CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, prev, w) AS INTEGER) AS rank FROM p)
         | SELECT rank, prev, w, c_xy, pmi FROM r WHERE rank <= 50""".stripMargin,
    "q_x12_top_terms" ->
      s"""WITH wr AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         | vc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM wr GROUP BY w),
         | r AS (SELECT w, c,
         |   CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS INTEGER) AS rank FROM vc)
         | SELECT rank, w, c FROM r WHERE rank <= 100""".stripMargin,
    "q_s5_ann_ivf_fixed" -> ivfFixedOracle,
    // the persisted-index face reproduces q_s5's results exactly — one
    // oracle serves both (same seeds, rounding, tie-breaks)
    "q_s10_ann_ivf_index" -> ivfFixedOracle,
    "q_x13_entropy" ->
      s"""WITH wr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         | wc AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM wr GROUP BY doc_id, w),
         | g AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         CAST(COUNT(*) AS BIGINT) AS n_types,
         |         SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
         |       FROM wc GROUP BY doc_id)
         | SELECT doc_id, n_tokens, n_types,
         |   ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS type_token_ratio,
         |   ROUND(ln(CAST(n_tokens AS DOUBLE)) - clogc / n_tokens, 6) AS entropy
         | FROM g""".stripMargin,
    "q_x14_source_mix" ->
      s"""WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
         |       FROM documents GROUP BY source),
         | pw AS (SELECT source, n_docs, n_tokens,
         |          ROUND(POWER(CAST(n_tokens AS DOUBLE), 0.5), 6) AS w_raw FROM per),
         | tot AS (SELECT SUM(w_raw) AS w_tot FROM pw)
         | SELECT source, n_docs, n_tokens, ROUND(w_raw / t.w_tot, 6) AS mix_weight
         | FROM pw, tot t""".stripMargin,
    "q_x15_top_terms_lang" ->
      s"""WITH wr AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
         | c AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM wr GROUP BY lang, w),
         | r AS (SELECT lang, w, c,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w) AS INTEGER) AS rank FROM c)
         | SELECT lang, rank, w, c FROM r WHERE rank <= 10""".stripMargin,
    "q_s6_knn_label" ->
      s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
         | e AS (SELECT vec_id,
         |   list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM raw),
         | q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
         | scored AS (SELECT q.query_id, e.vec_id,
         |              ROUND(list_dot_product(q.qv, e.v), 6) AS sim
         |            FROM e, q WHERE e.vec_id != q.query_id),
         | r AS (SELECT query_id, vec_id,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
         |       FROM scored),
         | topk AS (SELECT query_id, vec_id FROM r WHERE rank <= 10),
         | v AS (SELECT t.query_id, CAST(emb.label AS INTEGER) AS predicted_label,
         |         CAST(COUNT(*) AS BIGINT) AS votes
         |       FROM topk t JOIN embeddings emb ON emb.vec_id = t.vec_id
         |       GROUP BY 1, 2),
         | p AS (SELECT query_id, predicted_label, votes,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY votes DESC, predicted_label) AS vr FROM v)
         | SELECT p.query_id, p.predicted_label, p.votes,
         |   CAST(emb2.label AS INTEGER) AS true_label
         | FROM p JOIN embeddings emb2 ON emb2.vec_id = p.query_id
         | WHERE p.vr = 1""".stripMargin,
    "q_x16_ingest_gate" -> ingestGateOracle(0.68),
    "q_s7_ann_pq" -> pqOracle,
    // NOTE: the fixed generate_series(1, 64) grid assumes uniform 64-d
    // non-null embeddings (true of the fixtures, like the other ANN
    // oracles' dim constants); posexplode on the Spark side would emit
    // fewer rows for ragged input and the compare would flag it
    "q_s8_label_centroids" ->
      s"""WITH raw AS (SELECT label, embedding::DOUBLE[] AS v0 FROM embeddings),
         | e AS (SELECT label,
         |   list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM raw),
         | p AS (SELECT label, CAST(i - 1 AS INTEGER) AS pos, ROUND(v[i], 9) AS x
         |   FROM e, (SELECT unnest(generate_series(1, 64)) AS i) g)
         | SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |   CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sum_x
         | FROM p GROUP BY 1, 2""".stripMargin,
  )

  /** Oracle twin of Similarity.bruteForceTopK — the exact-cosine
   * baseline every approximate index is measured against. */
  private def bruteOracle: String =
    s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
       | e AS (SELECT vec_id,
       |   list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM raw),
       | q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
       | scored AS (SELECT q.query_id, e.vec_id,
       |              ROUND(list_dot_product(q.qv, e.v), 6) AS sim
       |            FROM e, q WHERE e.vec_id != q.query_id),
       | r AS (SELECT query_id, vec_id, sim,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
       |       FROM scored)
       | SELECT query_id, vec_id AS neighbor_id, sim, rank FROM r WHERE rank <= 10""".stripMargin

  /** Oracle twin of Similarity.kmeansAssign: both spherical Lloyd
   * iterations replayed relationally — seed centroids (vec_id < k,
   * rounded 9), argmax-cosine assignment on ROUND(sim, 6) with
   * lowest-cluster tie-break, per-dimension ROUND(AVG, 9) means,
   * unit-normalise + ROUND 9, empty clusters COALESCE to the previous
   * centroid. Every float crossing the engine boundary is pinned, so
   * the iteration chain is bit-stable on both engines. */
  /** The shared Lloyd-iteration CTE chain (normalised corpus `e`,
   * seed centroids `c0`, trained centroids `c<iters>`): everything up
   * to — not including — a final SELECT, so [[kmeansOracle]] and
   * [[ivfTrainedOracle]] search the identical trained quantizer. */
  private def kmeansChain(k: Int = 8, iters: Int = 2, dim: Int = 64): String = {
    // one Lloyd iteration: assignment against cPrev → new centroids cN
    def iteration(i: Int, cPrev: String): String =
      s""" a$i AS (SELECT e.vec_id, e.v, c.cluster,
         |     round(list_dot_product(e.v, c.cv), 6) AS sim FROM e, $cPrev c),
         | b$i AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY sim DESC, cluster) AS rn FROM a$i),
         | m$i AS (SELECT cluster, v FROM b$i WHERE rn = 1),
         | d$i AS (SELECT cluster, dim, round(avg(v[dim]), 9) AS m
         |   FROM m$i, (SELECT unnest(generate_series(1, $dim)) AS dim) g$i
         |   GROUP BY cluster, dim),
         | l$i AS (SELECT cluster, list(m ORDER BY dim) AS mv FROM d$i GROUP BY cluster),
         | n$i AS (SELECT cluster, list_transform(mv,
         |     x -> round(x / sqrt(list_dot_product(mv, mv)), 9)) AS cv FROM l$i),
         | c$i AS (SELECT p.cluster, COALESCE(n$i.cv, p.cv) AS cv
         |   FROM $cPrev p LEFT JOIN n$i USING (cluster)),""".stripMargin
    val chain = (1 to iters).map(i => iteration(i, s"c${i - 1}")).mkString("\n")
    s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
       | e AS (SELECT vec_id,
       |   list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM raw),
       | c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster,
       |   list_transform(v, x -> round(x, 9)) AS cv FROM e WHERE vec_id < $k),
       |$chain""".stripMargin
  }

  private def kmeansOracle: String = {
    val iters = 2
    s"""${kmeansChain(k = 8, iters = iters)}
       | af AS (SELECT e.vec_id, c.cluster,
       |     round(list_dot_product(e.v, c.cv), 6) AS sim FROM e, c$iters c),
       | bf AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |     ORDER BY sim DESC, cluster) AS rn FROM af)
       | SELECT vec_id, cluster, sim FROM bf WHERE rn = 1""".stripMargin
  }

  /** Oracle twin of Similarity.ivfTrainedTopK: the [[kmeansChain]]
   * trained centroids, then assignment, per-query probe ranking,
   * probed-cell scoring and top-k — the full train→search IVF recipe
   * replayed relationally. */
  private def ivfTrainedOracle: String = {
    val iters = 2; val nQueries = 20; val nProbe = 2; val k = 10
    s"""${kmeansChain(k = 8, iters = iters)}
       | af AS (SELECT e.vec_id, e.v, c.cluster,
       |     round(list_dot_product(e.v, c.cv), 6) AS sim FROM e, c$iters c),
       | asg AS (SELECT vec_id, v, cluster AS cell FROM (
       |     SELECT *, row_number() OVER (PARTITION BY vec_id
       |       ORDER BY sim DESC, cluster) AS rn FROM af) WHERE rn = 1),
       | pq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
       | pc AS (SELECT q.query_id, q.qv, c.cluster AS cell,
       |     row_number() OVER (PARTITION BY q.query_id
       |       ORDER BY round(list_dot_product(q.qv, c.cv), 6) DESC, c.cluster) AS crank
       |   FROM pq q, c$iters c),
       | probe AS (SELECT query_id, qv, cell FROM pc WHERE crank <= $nProbe),
       | sc AS (SELECT p.query_id, a.vec_id,
       |     round(list_dot_product(p.qv, a.v), 6) AS sim
       |   FROM asg a JOIN probe p ON p.cell = a.cell AND a.vec_id != p.query_id),
       | rk AS (SELECT query_id, vec_id, sim,
       |     CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY sim DESC, vec_id) AS INTEGER) AS rank FROM sc)
       | SELECT query_id, vec_id AS neighbor_id, sim, rank FROM rk
       | WHERE rank <= $k""".stripMargin
  }

  /** Oracle twin of Similarity.quantizedTopK (SQ8 int8 layout). */
  private def sq8Oracle: String =
    s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
       | e AS (SELECT vec_id,
       |   list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM raw),
       | qz AS (SELECT vec_id, list_transform(v, x -> round(x * 127)) AS q FROM e),
       | qs AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < 20),
       | scored AS (SELECT qs.query_id, qz.vec_id,
       |              ROUND(list_dot_product(qs.qq, qz.q) / 16129.0, 6) AS sim
       |            FROM qz, qs WHERE qz.vec_id != qs.query_id),
       | r AS (SELECT query_id, vec_id, sim,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
       |       FROM scored)
       | SELECT query_id, vec_id AS neighbor_id, sim, rank FROM r WHERE rank <= 10""".stripMargin

  /** Oracle twin of Similarity.recallAtK: each approximate index's
   * oracle ranking joined against the brute-force oracle ranking —
   * recall@10 re-derived entirely in SQL from the same four index
   * definitions (DuckDB allows a full WITH chain inside a derived
   * table, so the existing oracles compose verbatim). */
  private def recallOracle: String = {
    def sub(m: String, sql: String) =
      s"SELECT '$m' AS method, query_id, neighbor_id FROM (\n$sql\n)"
    s"""WITH exact AS (SELECT query_id, neighbor_id FROM (\n$bruteOracle\n)),
       | approx AS (
       |   ${sub("ivf_fixed", ivfFixedOracle)}
       |   UNION ALL ${sub("ivf_trained", ivfTrainedOracle)}
       |   UNION ALL ${sub("lsh", lshOracle)}
       |   UNION ALL ${sub("pq", pqOracle)}
       |   UNION ALL ${sub("sq8", sq8Oracle)}),
       | grp AS (SELECT a.method, a.query_id,
       |     CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |   FROM approx a LEFT JOIN exact e
       |     ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |   GROUP BY a.method, a.query_id),
       | mq AS (SELECT m.method, q.vec_id AS query_id
       |   FROM (VALUES ('ivf_fixed'), ('ivf_trained'), ('lsh'), ('pq'), ('sq8')) m(method),
       |        (SELECT vec_id FROM embeddings WHERE vec_id < 20) q)
       | SELECT mq.method, mq.query_id,
       |   CAST(COALESCE(g.hits, 0) AS BIGINT) AS hits,
       |   ROUND(CAST(COALESCE(g.hits, 0) AS DOUBLE) / 10.0, 6) AS recall
       | FROM mq LEFT JOIN grp g
       |   ON g.method = mq.method AND g.query_id = mq.query_id""".stripMargin
  }

  /** Oracle twin of Similarity.pqTopK — the fixed codebooks (sub-slices
   * of the same seed rows as q_s5), the L2 code assignment, the ADC
   * scoring, AND the exact re-rank of the top-40 ADC survivors are all
   * reproduced relationally, so the entire two-stage product-
   * quantisation search is oracle-checked. */
  private def pqOracle: String = {
    val seeds = graft.ops.Similarity.ivfFixedSeeds(16).mkString(", ")
    val sub = "8" // subDim = 64 / 8 subspaces
    s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
       | e AS (SELECT vec_id,
       |   list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM raw),
       | js AS (SELECT unnest(generate_series(0, 7)) AS j),
       | cb AS (SELECT vec_id AS code, j, v[j*$sub+1 : j*$sub+$sub] AS cb_sub
       |        FROM e, js WHERE vec_id IN ($seeds)),
       | cs AS (SELECT vec_id, j, v[j*$sub+1 : j*$sub+$sub] AS v_sub FROM e, js),
       | d AS (SELECT cs.vec_id, cs.j, cb.code, cb.cb_sub,
       |         ROUND(list_dot_product(cs.v_sub, cs.v_sub)
       |             - 2.0 * list_dot_product(cs.v_sub, cb.cb_sub)
       |             + list_dot_product(cb.cb_sub, cb.cb_sub), 6) AS d2
       |       FROM cs JOIN cb ON cb.j = cs.j),
       | codes AS (SELECT vec_id, j, code, cb_sub FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS arank
       |   FROM d) WHERE arank = 1),
       | qs AS (SELECT vec_id AS query_id, j, v[j*$sub+1 : j*$sub+$sub] AS q_sub
       |        FROM e, js WHERE vec_id < 20),
       | parts AS (SELECT q.query_id, c.vec_id,
       |             ROUND(list_dot_product(q.q_sub, c.cb_sub), 6) AS part
       |           FROM codes c JOIN qs q ON q.j = c.j AND c.vec_id != q.query_id),
       | sc AS (SELECT query_id, vec_id, ROUND(SUM(part), 6) AS sim
       |        FROM parts GROUP BY 1, 2),
       | adc AS (SELECT query_id, vec_id FROM (
       |   SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |     ORDER BY sim DESC, vec_id) AS adc_rank FROM sc) WHERE adc_rank <= 40),
       | re AS (SELECT a.query_id, a.vec_id,
       |          ROUND(list_dot_product(qf.v, ef.v), 6) AS sim
       |        FROM adc a
       |        JOIN e ef ON ef.vec_id = a.vec_id
       |        JOIN e qf ON qf.vec_id = a.query_id),
       | r AS (SELECT query_id, vec_id, sim,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY sim DESC, vec_id) AS INTEGER) AS rank FROM re)
       | SELECT query_id, vec_id AS neighbor_id, sim, rank FROM r WHERE rank <= 10""".stripMargin
  }

  /** Oracle twin of Ingest.runBatch — the language CASE chain and the
   * quality formula are generated from the same marker lists as
   * [[langidOracle]]/[[qualityOracle]], composed with the exact-dedup
   * canonical pick. */
  private def ingestGateOracle(minQuality: Double): String = {
    val langs = TextAnalysis.langMarkers.map(_._1)
    val hitCols = TextAnalysis.langMarkers
      .map { case (l, ms) => s"${markersSql(ms)} AS hits_$l" }.mkString(",\n   ")
    val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(o => s"hits_$l >= hits_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    val stopSql = markersSql(TextAnalysis.langMarkers.flatMap(_._2))
    s"""WITH s AS (SELECT doc_id, text, lang, source, n_chars,
       |   $hitCols,
       |   CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
       |   CAST(length(text) AS DOUBLE) AS nc,
       |   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) AS pn,
       |   CAST($stopSql AS DOUBLE) AS st
       | FROM documents),
       | g AS (SELECT doc_id, text, lang, source, n_chars,
       |   CASE $caseChain ELSE '${langs.last}' END AS predicted_lang,
       |   ROUND(0.3 * LEAST(nt / 100.0, 1.0)
       |       + 0.3 * (1.0 - LEAST(pn / GREATEST(nc, 1.0) * 5.0, 1.0))
       |       + 0.2 * LEAST(st / GREATEST(nt, 1.0) * 3.0, 1.0)
       |       + 0.2 * (1.0 - LEAST(ABS((nc - (nt - 1)) / GREATEST(nt, 1.0) - 5.0) / 5.0, 1.0)), 6)
       |     AS quality_score
       | FROM s),
       | f AS (SELECT * FROM g WHERE quality_score >= $minQuality AND predicted_lang IN ('en')),
       | c AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id FROM f GROUP BY 1)
       | SELECT f.doc_id, f.text, f.lang, f.source, f.n_chars, f.predicted_lang, f.quality_score
       | FROM f JOIN c ON c.doc_id = f.doc_id AND c.h = md5(f.text)""".stripMargin
  }

  /** Oracle twin of Similarity.ivfFixedTopK: the fixed centroid seed
   * rows come from the corpus itself, so the whole inverted-file index
   * (assignment, probe ranking, scoring) is reproduced relationally. */
  private def ivfFixedOracle: String = {
    val seeds = graft.ops.Similarity.ivfFixedSeeds().mkString(", ")
    s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
       | e AS (SELECT vec_id,
       |   list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM raw),
       | cents AS (SELECT vec_id AS seed_id, v AS cv FROM e WHERE vec_id IN ($seeds)),
       | asg0 AS (SELECT e.vec_id, e.v, c.seed_id,
       |   ROUND(list_dot_product(e.v, c.cv), 6) AS cdot FROM e, cents c),
       | asg AS (SELECT vec_id, v, seed_id AS cell FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |     ORDER BY cdot DESC, seed_id) AS arank FROM asg0) WHERE arank = 1),
       | q AS (SELECT vec_id AS query_id, v AS qv FROM asg WHERE vec_id < 20),
       | pc0 AS (SELECT q.query_id, q.qv, c.seed_id,
       |   ROUND(list_dot_product(q.qv, c.cv), 6) AS cdot FROM q, cents c),
       | pc AS (SELECT query_id, qv, seed_id AS cell FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |     ORDER BY cdot DESC, seed_id) AS crank FROM pc0) WHERE crank <= 4),
       | scored AS (SELECT p.query_id, a.vec_id,
       |   ROUND(list_dot_product(p.qv, a.v), 6) AS sim
       |   FROM pc p JOIN asg a ON a.cell = p.cell AND a.vec_id != p.query_id),
       | r AS (SELECT query_id, vec_id, sim,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |     ORDER BY sim DESC, vec_id) AS INTEGER) AS rank FROM scored)
       | SELECT query_id, vec_id AS neighbor_id, sim, rank FROM r WHERE rank <= 10""".stripMargin
  }

  /** DuckDB twin of Similarity.lshBucket — the seeded hyperplane
   * constants embedded as literal DOUBLE[] so bucket assignment is
   * reproduced exactly. */
  private def duckBucketExpr(nPlanes: Int, dim: Int): String = {
    val planes = graft.ops.Similarity.hyperplanes(nPlanes, dim)
    def arr(p: Array[Double]): String =
      p.map(_.toString).mkString("[", ",", "]") + "::DOUBLE[]"
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ROUND(list_dot_product(v, ${arr(p)}), 6) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n   + ")
  }

  /** Candidate-pair CTE chain for the embedding near-dup oracles —
   * the twin of Similarity.embeddingNearDupLsh: identical buckets
   * (8 seeded hyperplanes), multi-probe at Hamming distance ≤ 2,
   * distinct candidate pairs, exact cosine scores. Ends in an `s` CTE
   * carrying (vec_a, vec_b, sim); shared by the pair oracle (q_d5)
   * and the cluster oracle (q_d9). */
  private def embedPairCtes: String = {
    val flips = (0 until 8).map(i => 1L << i) ++
      (for { i <- 0 until 8; j <- i + 1 until 8 } yield (1L << i) | (1L << j))
    val probeList = flips.map(m => s"xor(bucket, $m)").mkString(", ")
    s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
       | e AS (SELECT vec_id,
       |   list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM raw),
       | bk AS (SELECT vec_id, v, CAST(${duckBucketExpr(8, 64)} AS BIGINT) AS bucket FROM e),
       | pr AS (SELECT vec_id AS vec_a, unnest([bucket, $probeList]) AS bucket FROM bk),
       | p AS (SELECT DISTINCT pr.vec_a, b2.vec_id AS vec_b
       |       FROM pr JOIN bk b2 ON b2.bucket = pr.bucket AND pr.vec_a < b2.vec_id),
       | s AS (SELECT p.vec_a, p.vec_b, ROUND(list_dot_product(ea.v, eb.v), 6) AS sim
       |       FROM p JOIN e ea ON ea.vec_id = p.vec_a JOIN e eb ON eb.vec_id = p.vec_b)""".stripMargin
  }

  /** Oracle twin of Similarity.embeddingNearDupLsh: verified pairs at
   * the 0.4 cosine threshold. */
  private def embedNearDupLshOracle: String =
    s"$embedPairCtes\n SELECT vec_a, vec_b, sim FROM s WHERE sim >= 0.4"

  /** Oracle twin of q_d9: embedding near-dup pairs → undirected edges
   * → recursive transitive closure → min-label cluster per member
   * (the same closure shape as dupClusterCtes, over vectors). */
  private def embedClusterOracle: String =
    s"""${embedPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       | ep AS (SELECT vec_a, vec_b FROM s WHERE sim >= 0.4),
       | edges AS (SELECT vec_a AS es, vec_b AS ed FROM ep
       |           UNION SELECT vec_b, vec_a FROM ep),
       | nodes AS (SELECT DISTINCT es AS vec_id FROM edges),
       | reach AS (SELECT es, ed FROM edges
       |           UNION SELECT r.es, g.ed FROM reach r JOIN edges g ON g.es = r.ed),
       | cl AS (SELECT n.vec_id, CAST(LEAST(n.vec_id, MIN(r.ed)) AS BIGINT) AS cluster
       |        FROM nodes n LEFT JOIN reach r ON r.es = n.vec_id
       |        GROUP BY n.vec_id)
       | SELECT vec_id, cluster FROM cl""".stripMargin

  /** Oracle twin of Similarity.lshTopK — identical buckets via
   * [[duckBucketExpr]] (multi-probe at Hamming distance 1 included). */
  private def lshOracle: String = {
    val bucketExpr = duckBucketExpr(4, 64)
    s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
       | e AS (SELECT vec_id,
       |   list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v FROM raw),
       | bk AS (SELECT vec_id, v, CAST($bucketExpr AS BIGINT) AS bucket FROM e),
       | q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bk WHERE vec_id < 20),
       | probes AS (SELECT query_id, qv,
       |   unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket
       |   FROM q),
       | scored AS (SELECT p.query_id, b2.vec_id,
       |   ROUND(list_dot_product(p.qv, b2.v), 6) AS sim
       |   FROM probes p JOIN bk b2 ON b2.bucket = p.bucket AND b2.vec_id != p.query_id),
       | r AS (SELECT query_id, vec_id, sim,
       |   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
       |   FROM scored)
       | SELECT query_id, vec_id AS neighbor_id, sim, rank FROM r WHERE rank <= 10""".stripMargin
  }

  /** Oracle twin of TextAnalysis.languageId — generated from the same
   * marker lists so the two can't drift. */
  private def langidOracle: String = {
    val langs = TextAnalysis.langMarkers.map(_._1)
    val allHits = langs.map(l => s"hits_$l")
    s"""WITH s AS (SELECT doc_id, lang,
       |   $langHitsSql
       | FROM documents)
       | SELECT doc_id, lang,
       |   $langCaseSql AS predicted_lang,
       |   ROUND(CAST(GREATEST(${allHits.mkString(", ")}) AS DOUBLE) /
       |     GREATEST(${allHits.mkString(" + ")}, 1), 6) AS confidence
       | FROM s""".stripMargin
  }

  /** The quality-signal component columns over a relation exposing
   * `text` — token count, char count, punctuation count, stopword
   * hits. Shared by q_x3 and q_w8 (identical operand order to the
   * engine so doubles are bit-equal). */
  private def qualityComponentsSql: String = {
    val stopSql = markersSql(TextAnalysis.langMarkers.flatMap(_._2))
    s"""CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
       |   CAST(length(text) AS DOUBLE) AS nc,
       |   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) AS pn,
       |   CAST($stopSql AS DOUBLE) AS st""".stripMargin
  }

  /** The bounded [0,1] quality score over the [[qualityComponentsSql]]
   * columns — TextAnalysis.qualityScoreCol's SQL twin. */
  private def qualityScoreSql: String =
    """ROUND(0.3 * LEAST(nt / 100.0, 1.0)
      |       + 0.3 * (1.0 - LEAST(pn / GREATEST(nc, 1.0) * 5.0, 1.0))
      |       + 0.2 * LEAST(st / GREATEST(nt, 1.0) * 3.0, 1.0)
      |       + 0.2 * (1.0 - LEAST(ABS((nc - (nt - 1)) / GREATEST(nt, 1.0) - 5.0) / 5.0, 1.0)), 6)""".stripMargin

  /** Oracle twin of TextAnalysis.qualityScore — identical operand order
   * so doubles are bit-equal. */
  private def qualityOracle: String =
    s"""WITH q AS (SELECT doc_id,
       |   $qualityComponentsSql
       | FROM documents)
       | SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
       |   ROUND(pn / GREATEST(nc, 1.0), 6) AS punct_ratio,
       |   ROUND(st / GREATEST(nt, 1.0), 6) AS stopword_ratio,
       |   ROUND((nc - (nt - 1)) / GREATEST(nt, 1.0), 6) AS mean_word_len,
       |   $qualityScoreSql AS quality_score
       | FROM q""".stripMargin
}
