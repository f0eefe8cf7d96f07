package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: language ID
 * (stopword-hit heuristic), quality scoring (length/punctuation/
 * stopword ratios), token counting (whitespace + BPE-ish regex) and
 * document fingerprinting (normalised content hash).
 *
 * Everything is native Column expressions (whole-stage codegen, no
 * UDFs) and cross-engine portable — each op has an exact DuckDB oracle.
 */
object TextAnalysis {

  /** Per-language marker-word lists for the n-gram/stopword language-ID
   * heuristic. Order matters: ties resolve to the earlier entry. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est"),
    "es" -> Seq("el", "los", "las", "y", "que", "un", "es"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和"))

  private def words(text: Column): Column = split(text, " ")

  /**
   * WET-style visible-text extraction from an HTML column — what a
   * Common Crawl text pipeline runs between the HTTP body split
   * (Archives.warcHttpTable) and langid/quality scoring: drop
   * script/style subtrees wholesale (their content is never visible
   * text), strip the remaining tags, decode the named/numeric
   * entities that dominate real markup (&lt; &gt; &quot; &#39;
   * &nbsp; and LAST &amp; — decoding &amp; first would corrupt
   * double-escaped entities), and collapse whitespace. All codegen'd
   * regexp/replace passes; the DuckDB oracle applies the IDENTICAL
   * chain, so extraction itself is oracle-checked. Non-HTML text
   * passes through with only whitespace collapsed (it has no tags).
   */
  def htmlVisibleText(html: Column): Column = {
    def ent(c: Column, from: String, to: String): Column =
      regexp_replace(c, java.util.regex.Pattern.quote(from), to)
    val noSubtrees = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noSubtrees, "<[^>]*>", " ")
    val decoded = ent(ent(ent(ent(ent(ent(noTags,
      "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
      "&nbsp;", " "), "&amp;", "&")
    trim(regexp_replace(decoded, "[ \\t\\r\\n]+", " "))
  }

  /** Count of word occurrences hitting a marker list (duplicates
   * count — membership, not intersection). One native codegen'd pass
   * (graft.functions.MarkerHits); the interpreted-HOF form
   * (size(filter(words, w => array_contains(...)))) re-evaluates the
   * marker array per word and measured ~20× slower at 100k docs. */
  private def hits(text: Column, markers: Seq[String]): Column =
    element_at(graft.functions.Texts.markerHits(words(text), Seq(markers)), 1)

  /** First-wins argmax CASE chain over per-language hit counts: lang i
   * is predicted iff its score >= all later (earlier CASE arms win
   * ties) — identical semantics in the SQL oracle. */
  private[ops] def predictedFromHits(hitCol: String => Column): Column = {
    val langs = langMarkers.map(_._1)
    langs.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((l, i), elseCol) =>
        if (i == langs.size - 1) elseCol
        else {
          val geAll = langs.drop(i + 1)
            .map(o => hitCol(l) >= hitCol(o))
            .reduce(_ && _)
          when(geAll, lit(l)).otherwise(elseCol)
        }
    }
  }

  /** Predicted language of a text column, usable in any projection or
   * filter (see [[Ingest.qualityGate]]); [[languageId]] is the query
   * face. Each CASE-chain reference carries its own SINGLE-set
   * MarkerHits: expressions inside conditional branches are not
   * subexpression-eliminated, so a fused all-sets pass would re-count
   * every set at every reference (measured 5× slower) — per-set
   * expressions keep each branch's work proportional to what it
   * actually compares. */
  def predictedLangCol(text: Column): Column = {
    val hitCols = langMarkers.map { case (l, markers) => l -> hits(text, markers) }.toMap
    predictedFromHits(hitCols)
  }

  /**
   * Language ID: argmax of marker-hit counts with deterministic
   * first-wins tie-break (a CASE chain — identical semantics in the
   * SQL oracle). Returns (doc_id, lang, predicted_lang, confidence).
   */
  def languageId(documents: DataFrame): DataFrame = {
    val scored = langMarkers.foldLeft(documents.select(col("doc_id"), col("lang"), col("text"))) {
      case (df, (l, markers)) => df.withColumn(s"hits_$l", hits(col("text"), markers))
    }
    val langs = langMarkers.map(_._1)
    val total = langs.map(l => col(s"hits_$l")).reduce(_ + _)
    scored
      .withColumn("predicted_lang", predictedFromHits(l => col(s"hits_$l")))
      .withColumn("confidence",
        round(greatest(langs.map(l => col(s"hits_$l")): _*).cast("double") /
          greatest(total, lit(1)), 6))
      .select(col("doc_id"), col("lang"), col("predicted_lang"), col("confidence"))
  }

  /**
   * Token counting: whitespace tokens and a BPE-ish regex tokenisation
   * (letter runs | digit runs | single punctuation) — the standard
   * pre-tokeniser shape.
   */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(words(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
        .cast("long").as("bpe_tokens"))

  /** Punctuation count: code points outside [A-Za-z0-9 ] — the native
   * one-pass twin of size(regexp_extract_all(text, "[^A-Za-z0-9 ]"))
   * (single-char class ⇒ match count = code-point count; the regex
   * engine alone was 4.5s per 100k docs, the byte loop ~0.1s). */
  private def punctCount(text: Column): Column =
    graft.functions.Texts.missCount(text,
      ('A' to 'Z').mkString + ('a' to 'z').mkString + ('0' to '9').mkString + " ")

  /** The bounded [0,1] quality score of a text column, usable in any
   * projection or filter (see [[Ingest.qualityGate]]); [[qualityScore]]
   * is the query face exposing the component signals too. */
  def qualityScoreCol(text: Column): Column = {
    val nTokens = size(words(text)).cast("double")
    val nChars = length(text).cast("double")
    val punct = punctCount(text).cast("double")
    val stop = hits(text, langMarkers.flatMap(_._2)).cast("double")
    val punctRatio = punct / greatest(nChars, lit(1.0))
    val stopRatio = stop / greatest(nTokens, lit(1.0))
    val meanWordLen = (nChars - (nTokens - 1)) / greatest(nTokens, lit(1.0))
    round(
      lit(0.3) * least(nTokens / lit(100.0), lit(1.0)) +
        lit(0.3) * (lit(1.0) - least(punctRatio * lit(5.0), lit(1.0))) +
        lit(0.2) * least(stopRatio * lit(3.0), lit(1.0)) +
        lit(0.2) * (lit(1.0) - least(abs(meanWordLen - lit(5.0)) / lit(5.0), lit(1.0))), 6)
  }

  /**
   * Quality scoring: length/punctuation/stopword signals combined into
   * a bounded [0,1] score. All-double arithmetic on identical operands
   * → bit-identical in the oracle.
   */
  def qualityScore(documents: DataFrame): DataFrame = {
    val w = words(col("text"))
    val nTokens = size(w).cast("double")
    val nChars = length(col("text")).cast("double")
    val punct = punctCount(col("text")).cast("double")
    val stop = hits(col("text"), langMarkers.flatMap(_._2)).cast("double")
    val punctRatio = punct / greatest(nChars, lit(1.0))
    val stopRatio = stop / greatest(nTokens, lit(1.0))
    val meanWordLen = (nChars - (nTokens - 1)) / greatest(nTokens, lit(1.0))
    documents.select(
      col("doc_id"),
      nTokens.cast("long").as("n_tokens"),
      round(punctRatio, 6).as("punct_ratio"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(meanWordLen, 6).as("mean_word_len"),
      qualityScoreCol(col("text")).as("quality_score"))
  }

  /**
   * Unigram language-model scoring: per-document mean log-probability
   * under the corpus's own unigram distribution — the classic cheap
   * "perplexity" quality signal for training-data filtering. Two-stage:
   * one shuffle builds the vocabulary (map-side combined), the doc
   * score join broadcasts it (vocabularies are tiny relative to the
   * corpus).
   */
  def unigramLogProb(documents: DataFrame): DataFrame = {
    val wordRows = documents.select(
      col("doc_id"), explode(words(col("text"))).as("w"))
    val vocab = wordRows.groupBy("w").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum("c").as("total"))
    wordRows
      .join(broadcast(vocab), "w")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(col("c").cast("double") / col("total"))), 6).as("avg_logprob"))
  }

  /**
   * Document fingerprint: 60-bit content hash of the whitespace-
   * normalised lowercase text (for shard-local dedup joins) plus a
   * small bucket for partitioning. Rolling-hash (winnowing) variants
   * build on the same normalised form.
   */
  def fingerprint(documents: DataFrame, buckets: Int = 1024): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "  +", " "))
    documents.select(
      col("doc_id"),
      md5(norm).as("fp_md5"),
      Dedup.mdhash(norm).as("fp64"))
      .withColumn("fp_bucket", pmod(col("fp64"), lit(buckets)).cast("long"))
  }

  /**
   * Repetition signals (the Gopher-style repetition filters adapted to
   * word streams): the fraction of the document taken by its most
   * frequent word, and the duplicate 3-gram fraction
   * (1 − distinct/total) — high values flag boilerplate/spam for
   * training-data filtering. Two shuffles keyed on doc_id (map-side
   * combined), joined at the end.
   */
  def repetitionSignals(documents: DataFrame, n: Int = 3): DataFrame = {
    val wr = documents.select(col("doc_id"), explode(words(col("text"))).as("w"))
    val wordStats = wr.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_c"), sum("c").as("n_words"))
      .select(col("doc_id"),
        round(col("top_c").cast("double") / col("n_words"), 6).as("top_word_frac"))
    val wl = words(col("text"))
    val grams = graft.functions.Texts.wordNGrams(wl, n, distinct = false, padShort = true)
    val gramStats = documents.select(col("doc_id"), explode(grams).as("g"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_g"), countDistinct(col("g")).as("n_dg"))
      .select(col("doc_id"),
        round(lit(1.0) - col("n_dg").cast("double") / col("n_g"), 6).as("dup_3gram_frac"))
    wordStats.join(gramStats, "doc_id")
  }

  /**
   * Bigram language-model scoring: per-document mean
   * ln P(wᵢ | wᵢ₋₁) under the corpus's own bigram counts, with context
   * counts derived FROM the bigram table (Σ_w c(prev,w)) so both
   * engines normalise identically. The order-2 upgrade of
   * [[unigramLogProb]] — a sharper fluency/quality signal. Bigrams are
   * built positionally from the split array (no window pass); the
   * count tables broadcast.
   */
  def bigramLogProb(documents: DataFrame): DataFrame = {
    val wl = words(col("text"))
    // positional bigrams as "prev w" strings (words cannot contain the
    // separator, split() guarantees it) in one native pass — the
    // interpreted slice+array_join HOF chain (and before it the even
    // slower struct-HOF form) was the round-2 q_x9 pathology
    val grams = graft.functions.Texts.wordNGrams(wl, 2, distinct = false, padShort = false)
    // materialise the exploded bigram corpus ONCE: the two count
    // tables and the scoring join all derive from it, and without the
    // checkpoint the explode lineage executes three times per action
    // (the round-2 q_x9 pathology). At 100 TB this is the bigram
    // posting table you'd write to storage before scoring.
    val bg = Materialize(documents.select(
      col("doc_id"),
      explode(grams).as("g"))
      .select(col("doc_id"),
        substring_index(col("g"), " ", 1).as("prev"),
        substring_index(col("g"), " ", -1).as("w")))
    val bigramCounts = bg.groupBy("prev", "w").agg(count(lit(1)).as("bc"))
    val contextCounts = bigramCounts.groupBy("prev").agg(sum("bc").as("cc"))
    bg
      .join(broadcast(bigramCounts), Seq("prev", "w"))
      .join(broadcast(contextCounts), Seq("prev"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log(col("bc").cast("double") / col("cc"))), 6).as("avg_logprob"))
  }

  /**
   * Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
   * rolling-hash local fingerprinting scheme): hash every POSITIONAL
   * word k-gram, slide a window of `w` consecutive hashes, record each
   * window's minimum. Any shared substring of at least w+k−1 words
   * between two documents is guaranteed to share a fingerprint, so
   * overlap detection becomes an equi-join on (fp). Prefix windows are
   * included (frame `w−1 PRECEDING..CURRENT`), so documents shorter
   * than w grams still emit a fingerprint.
   *
   * Scale notes: hashing is map-side; the only shuffle is the
   * per-document window (keyed on doc_id, no skew — document length is
   * bounded) plus the distinct. Output is the (doc_id, fp) posting
   * list — the artifact you join on at 100 TB.
   */
  def winnow(documents: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    // ONE native map-side pass (r21, guide §2.4): gram hashes, the
    // w-window minima and the per-document dedup all happen inside
    // graft_winnow over the positional gram array, so the corpus never
    // shuffles here at all. The previous posexplode → md5 →
    // min().over(partitionBy doc_id) → distinct() shape shuffled the
    // full gram table twice (window + distinct) for what is a per-row
    // function of the document; fingerprints are bit-identical (same
    // mdhash, same window semantics incl. the short leading windows,
    // and the final distinct() was per-(doc_id, fp) — exactly the
    // in-array dedup). The (doc_id, fp) posting list this emits is
    // what downstream joins key on at 100 TB.
    val wl = words(col("text"))
    val grams = graft.functions.Texts.wordNGrams(wl, k, distinct = false, padShort = true)
    documents
      .select(col("doc_id"),
        explode(graft.functions.Texts.winnowFingerprints(grams, w)).as("fp"))
  }

  /**
   * Cross-document copy detection over the [[winnow]] posting list —
   * the MOSS-style overlap finder (Schleimer/Wilkerson/Aiken SIGMOD'03
   * §5): two documents sharing at least `minShared` winnowing
   * fingerprints share that many distinct ≥(w+k−1)-word substrings;
   * ranked by containment = shared / min(|fpA|, |fpB|), the
   * asymmetric measure that still scores a short document pasted
   * whole into a long one as ≈1.
   *
   * Scale shape: the pair generator is a self-equi-join on `fp` —
   * but only AFTER stop-fingerprint removal: fingerprints present in
   * more than `maxDf` documents (boilerplate: headers, licence
   * blocks) are dropped, which caps every posting list and bounds the
   * join at O(Σ df²) with df ≤ maxDf — the same df-cap trick as
   * [[Dedup]]'s banding. Containment sizes come from the UNpruned
   * fingerprint sets (pruning tunes candidate generation, not the
   * score). Three keyed shuffles total (fp → pair → size join);
   * nothing is ever quadratic in corpus size.
   */
  def copyPairs(documents: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Int = 3, maxDf: Int = 20): DataFrame = {
    val fps = Materialize(winnow(documents, k, w)) // feeds pruning, pairs, and sizes
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    val pruned = fps.join(keep, "fp")
    val pairs = pruned.select(col("doc_id").as("doc_a"), col("fp"))
      .join(pruned.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("fp_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("fp_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared") / least(col("fp_a"), col("fp_b")), 6).as("containment"))
  }

  /**
   * Benchmark decontamination: flag training documents sharing any word
   * n-gram with a held-out benchmark set — the standard eval-leak check
   * a training pipeline runs before export (n-gram overlap against the
   * benchmark, per-doc contamination counts). `benchPred` selects the
   * benchmark docs (here: a deterministic doc_id slice).
   *
   * Plan: both sides explode to DISTINCT shingle posting lists; the
   * join key is the shingle. The benchmark side is tiny relative to
   * the corpus, so its posting list broadcasts — the 100 TB corpus
   * side never shuffles. Output: contaminated train docs with the
   * number of distinct benchmark docs hit and distinct shared grams.
   */
  def decontaminate(documents: DataFrame, benchMod: Int = 20, n: Int = 3): DataFrame = {
    val isBench = col("doc_id") % benchMod === 0
    val grams = documents.select(
      col("doc_id"), explode(Dedup.shingles(col("text"), n)).as("s"))
    val bench = grams.filter(isBench)
      .select(col("doc_id").as("bench_id"), col("s"))
    grams.filter(!isBench)
      .join(broadcast(bench), "s")
      .groupBy("doc_id")
      .agg(
        countDistinct("bench_id").as("n_bench_docs"),
        countDistinct("s").as("n_shared_grams"))
  }

  /**
   * Bigram collocations by pointwise mutual information: PMI =
   * ln(c_xy · N / (c_x · c_y)) over the positional-bigram corpus, with
   * c_x/c_y the left/right context counts and N the total bigram
   * count. Low-frequency noise is cut at `minCount`; ranking is on the
   * 6-dp-rounded PMI with a deterministic (prev, w) tie-break.
   *
   * Plan: one explode + three aggregations; the context-count tables
   * broadcast back onto the bigram counts (vocabulary-sized, not
   * corpus-sized). Top-k is TakeOrdered (map-side partial top-k, no
   * global sort); the rank window runs over k rows on one partition.
   */
  def collocations(documents: DataFrame, minCount: Long = 5L, topK: Int = 50): DataFrame = {
    val wl = words(col("text"))
    // positional bigrams in one native pass (the struct-HOF form —
    // transform → struct(element_at ×2) → explode — was the slowest
    // interpreted chain in the suite)
    val pairs = graft.functions.Texts.wordNGrams(wl, 2, distinct = false, padShort = false)
    // vocabulary-sized bigram counts, materialised ONCE (the left/
    // right/total context tables all derive from it — without the
    // checkpoint the corpus explode would run four times). No driver
    // action: the scalar total is folded into the plan as a broadcast
    // cross join, like unigramLogProb.
    val bc = Materialize(documents.select(explode(pairs).as("g"))
      .select(substring_index(col("g"), " ", 1).as("prev"),
        substring_index(col("g"), " ", -1).as("w"))
      .groupBy("prev", "w").agg(count(lit(1)).as("c_xy")))
    val left = bc.groupBy("prev").agg(sum("c_xy").as("c_x"))
    val right = bc.groupBy("w").agg(sum("c_xy").as("c_y"))
    val total = bc.agg(sum("c_xy").cast("double").as("n_total"))
    val ranked = bc.filter(col("c_xy") >= minCount)
      .join(broadcast(left), "prev")
      .join(broadcast(right), "w")
      .crossJoin(broadcast(total))
      .withColumn("pmi", round(
        log(col("c_xy").cast("double") * col("n_total") /
          (col("c_x").cast("double") * col("c_y").cast("double"))), 6))
      .orderBy(col("pmi").desc, col("prev"), col("w"))
      .limit(topK)
    ranked
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("prev"), col("w"))))
      .select("rank", "prev", "w", "c_xy", "pmi")
  }

  /**
   * Corpus top terms: the k most frequent words with deterministic
   * tie-break — the vocabulary head a pipeline inspects before
   * filtering. groupBy(word) is the only real shuffle; the global
   * top-k is TakeOrdered (per-partition heaps merged at the driver,
   * never a full sort); the rank window touches only k rows.
   */
  def topTerms(documents: DataFrame, k: Int = 100): DataFrame = {
    val counts = documents
      .select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(k)
    counts.withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("w"))))
      .select("rank", "w", "c")
  }

  /**
   * Grouped top terms: the k most frequent words per group (language,
   * source, domain...) — the per-stratum vocabulary head used to spot
   * a contaminated or off-distribution stratum before mixing.
   *
   * Plan: one vocabulary-sized groupBy; the rank window partitions on
   * the group key over the VOCABULARY rows (corpus-independent), so
   * the window never sees corpus-scale data and no key is hot.
   */
  def topTermsPerGroup(documents: DataFrame, groupCol: String, k: Int = 10): DataFrame = {
    val counts = documents
      .select(col(groupCol), explode(words(col("text"))).as("w"))
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("c"))
    counts.withColumn("rank", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("c").desc, col("w"))))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col("w"), col("c"))
  }

  /**
   * Per-document TF-IDF head: the k terms of each document with the
   * highest tf·idf (tf = in-doc frequency, idf = smoothed inverse
   * document frequency ln((N+1)/(df+1))) — the classic keyword/topic
   * signal a pipeline uses for cluster labelling and near-dup triage.
   *
   * Plan: term-frequency groupBy (map-side combined, corpus-shaped),
   * one vocabulary-keyed join for df (vocabulary ≪ corpus; AQE
   * broadcasts it when small), the corpus count folded in as a
   * broadcast 1-row cross join — no driver action. The rank window
   * partitions per document over its own distinct terms only. Scores
   * are rounded to 6 dp BEFORE ranking so the order is identical in
   * the oracle.
   */
  def tfidfTopTerms(documents: DataFrame, k: Int = 5): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    // document length as a window sum over the SAME doc_id partition
    // the rank window already establishes (r21, guide §2.4: two
    // operations keyed the same way share one exchange) — the
    // dedicated docLen aggregation + its doc_id join exchange are
    // gone; sum(c) per doc is arithmetic-identical either way
    tf.join(dfreq, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("len", sum("c").over(Window.partitionBy("doc_id")))
      .withColumn("tfidf", round(
        (col("c") / col("len")) * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("w"))))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("w"), col("c"), col("tfidf"))
  }

  /**
   * Fixed-size overlapping token chunks — the context-window prep step
   * of a training pipeline: each document becomes ⌈n/stride⌉ chunks of
   * up to `chunkSize` whitespace tokens starting every `stride` tokens
   * (overlap = chunkSize − stride). The rule is deliberately simple
   * and deterministic: starts are 1, 1+stride, … ≤ n, so a trailing
   * chunk may be short; downstream length filters drop stubs.
   *
   * Plan: pure map-side — split, explode the start positions, slice.
   * No shuffle at all; chunking 100 TB is embarrassingly parallel and
   * this plan keeps it that way.
   */
  def chunk(documents: DataFrame, chunkSize: Int = 25, stride: Int = 20): DataFrame =
    documents
      .select(col("doc_id"), words(col("text")).as("wl"))
      .select(col("doc_id"), col("wl"),
        explode(sequence(lit(1), greatest(size(col("wl")), lit(1)), lit(stride))).as("start"))
      .select(
        col("doc_id"),
        ((col("start") - lit(1)) / lit(stride)).cast("int").as("chunk_idx"),
        least(lit(chunkSize), size(col("wl")) - col("start") + lit(1))
          .cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("wl"), col("start"), lit(chunkSize))).as("chunk_text"))

  /**
   * Per-document token entropy and type/token ratio: the Shannon
   * entropy (nats) of the document's own word distribution, computed
   * single-pass as ln N − (Σ c·ln c)/N, plus distinct-word ratio —
   * low-entropy documents are keyboard-mash/boilerplate candidates
   * the repetition filters can miss (they catch the TOP word/gram,
   * entropy sees the whole distribution).
   *
   * Plan: two doc-keyed aggregations (map-side combined), no joins —
   * entirely corpus-shaped, no skew beyond document length.
   */
  def tokenEntropy(documents: DataFrame): DataFrame = {
    val wc = documents
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    wc.groupBy("doc_id")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("type_token_ratio"),
        round(log(col("n_tokens").cast("double")) - col("clogc") / col("n_tokens"), 6)
          .as("entropy"))
  }

  /**
   * Source-mixing weights: per-source document/token counts and the
   * temperature-scaled sampling weight wᵢ = tᵢ^α / Σⱼ tⱼ^α (α < 1
   * upsamples small sources — the standard multi-source/multilingual
   * mixing rule a pipeline computes before drawing its training mix).
   *
   * Plan: one corpus-shaped groupBy(source); the normaliser is folded
   * into the plan as a broadcast cross join of the (source-count-sized)
   * aggregate — no driver action. The raw powers are rounded to 6 dp
   * BEFORE normalising so both engines divide identical operands.
   */
  def sourceMixWeights(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val per = documents.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(words(col("text"))).cast("long")).as("n_tokens"))
    val pw = per.withColumn("w_raw",
      round(pow(col("n_tokens").cast("double"), lit(alpha)), 6))
    val tot = pw.agg(sum("w_raw").as("w_tot"))
    pw.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("w_raw") / col("w_tot"), 6).as("mix_weight"))
  }

  /** Adjacent character-pair statistics over whitespace-split words —
   * the FIRST round of BPE vocabulary learning (the merge a trainer
   * would pick is row 1), exposed as the top-K table (q_x21):
   * deterministic total order (count desc, then the pair), so the
   * LIMIT boundary is stable. One map-side pair explosion + one
   * count aggregation — pair rows are 2-char index rows, the corpus
   * text never re-shuffles; at 100 TB this is the canonical
   * map-side-combine wordcount shape. */
  /**
   * Iterated BPE vocabulary training (q_x22) — the actual
   * tokenizer-training loop [[bytePairStats]] is the first round of:
   * k merge rounds, each picking the argmax pair (count desc, then
   * the pair — a deterministic total order) from the standing
   * pair-count table (maintained INCREMENTALLY, r22 — see the loop
   * comment) and applying the merge greedily left-to-right
   * within every word. Returns the merge table
   * (merge_round, pair_left, pair_right, n) — the artifact a real
   * trainer ships.
   *
   * Scale design: the corpus collapses ONCE into the distinct-word
   * frequency table (the classic BPE-training state — at 100 TB the
   * unique-word table is millions of rows, not trillions), and every
   * round runs over that small persisted table. Words are encoded as
   * sentinel-framed symbol strings (U+0001 sym U+0002 per symbol):
   * applying a merge is then ONE codegen'd `replace` of
   * `<1>a<2><1>b<2>` with `<1>ab<2>` — plain
   * left-to-right non-overlapping replacement IS the greedy BPE
   * merge, and because the replacement supplies both sentinel
   * frames, adjacent occurrences can't swallow each other's
   * boundary (the classic space-joined encoding gets "b a b a b"
   * wrong; this one doesn't). Per round: a 1-row TakeOrdered collect
   * over the standing pair-count table (the argmax — a bounded
   * driver-side mechanism), one map-side replace, and a delta
   * aggregation over ONLY the words containing the merged pair.
   * Round states are persisted and released at the end so the plan
   * never deepens past one round per state hop.
   */
  def bpeTrain(spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame, k: Int = 8): DataFrame = {
    import spark.implicits._
    // INCREMENTAL pair counts (r22, guide §1.2/§2.4 -- don't recompute
    // what a round doesn't change): `pc` is the standing pair-count
    // table, derived in FULL exactly once and then maintained with
    // ± deltas from only the words CONTAINING the merged pair. A
    // merge leaves every other word's adjacent-pair multiset
    // untouched (replace() is the identity on them), so
    //   pc' = pc + Σ_touched cnt·(pairs(replace(w)) − pairs(w))
    // equals the full recount ROW FOR ROW -- same keys, same counts --
    // once exact zeros are dropped (a true recount never emits a
    // 0-count row; negatives cannot arise because the subtraction is
    // per-word exact). The argmax over an identical table picks the
    // identical merge, ties included: pinned by the recount-
    // equivalence test in TextAnalysisSpec and by the DuckDB oracle's
    // recursive-CTE replay. Per round the explode/agg now touches
    // O(words with the pair), not O(vocabulary) -- at a real vocab
    // the difference between O(touched) and O(vocab·word-length).
    //
    // Execution shape: ONE eager checkpoint job per round. The
    // checkpoint both truncates the lineage (pc_r references cur's
    // replace chain AND pc_{r-1}; left lazy, the shared subtrees
    // re-enter through two paths and the logical tree DOUBLES per
    // round -- the r20 CC lesson, re-measured here as seconds of pure
    // planning at k = 8) and carries the next argmax as an `observe`
    // metric: min(struct(-n, a, b)) is exactly
    // orderBy(n desc, a, b).limit(1) -- long negation flips the count
    // order, struct comparison is field-by-field with the same
    // binary string ordering orderBy uses -- so the dedicated
    // per-round TakeOrdered job disappears (2 jobs/round → 1). Each
    // superseded `pc` is released as soon as its successor exists.
    var cur = bpeBase(documents).persist()
    val states = scala.collection.mutable.ArrayBuffer(cur)
    def materializeWithBest(df: DataFrame): (DataFrame, Option[(String, String, Long)], Long) = {
      val (out, m) = Materialize.observed(df,
        min(struct((-col("n")).as("nn"), col("a"), col("b"))).as("best"),
        count(lit(1)).as("rows")) // feeds the small-round gate, same job
      val best = Option(m.getAs[org.apache.spark.sql.Row]("best"))
        .map(row => (row.getString(1), row.getString(2), -row.getLong(0)))
      (out, best, m.getAs[Long]("rows"))
    }
    var (pc, best, pcRows) = materializeWithBest(bpePairCounts(cur))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    while (r <= k && best.isDefined) { // an exhausted pc (None) = dry
      val (a, b, n) = best.get
      merges += ((r, a, b, n))
      if (r < k) { // the state AFTER the final merge is never read
        val pat = bpeS1 + a + bpeS2 + bpeS1 + b + bpeS2
        val rep = bpeS1 + a + b + bpeS2
        val w2 = call_function("replace", col("w"), lit(pat), lit(rep))
        // unaggregated ± rows: the union with pc shares the single
        // (a, b)-keyed exchange of the merge aggregation (map-side
        // combined), instead of paying a separate delta aggregation
        val deltaRows = cur.filter(col("w").contains(pat))
          .select(col("cnt"),
            graft.functions.Texts.symbolPairs(col("w")).as("po"),
            graft.functions.Texts.symbolPairs(w2).as("pn"))
          .select(explode(concat(
            transform(col("po"), p => struct(p("a").as("a"),
              p("b").as("b"), (-col("cnt")).as("d"))),
            transform(col("pn"), p => struct(p("a").as("a"),
              p("b").as("b"), col("cnt").as("d"))))).as("x"))
          .select(col("x.a").as("a"), col("x.b").as("b"), col("x.d").as("n"))
        val next = pc.unionByName(deltaRows)
          .groupBy("a", "b").agg(sum("n").as("n"))
          .filter(col("n") > 0)
        cur = cur.withColumn("w", w2).persist() // lazy: materialized by the checkpoint job
        states += cur
        LoopProbe.tap(s"round$r", next)
        // small-round gate (LoopExec): `pc` rows bound the round's
        // reduce volume — the union agg is map-side combined, so the
        // exchange carries ≤ pair-vocab rows per map partition even
        // when a hot pair touches every word; the map side keeps the
        // vocab's own partitioning either way
        val (pcM, bestM, rowsM) =
          LoopExec.round(spark, LoopExec.isSmall(spark, Some(pcRows))) {
            materializeWithBest(next)
          }
        Materialize.release(pc)
        pc = pcM
        best = bestM
        pcRows = rowsM
      }
      r += 1
    }
    Materialize.release(pc)
    states.foreach(_.unpersist())
    merges.result().toDF("merge_round", "pair_left", "pair_right", "n")
  }

  /** Sentinel bytes framing each symbol of an encoded BPE word:
   * `<1>sym<2>` per symbol. Words containing either byte are dropped
   * from training (bpeBase), so frame parsing is unambiguous. */
  private[ops] val bpeS1 = "\u0001"
  private[ops] val bpeS2 = "\u0002"

  /** The sentinel-framed distinct-word frequency table (w, cnt) -- the
   * BPE training state of [[bpeTrain]]. The encoding is the native
   * graft_sentinel_encode pass (r22) — byte-identical to the previous
   * interpreted `concat_ws(transform(sequence…substr))` chain (pinned
   * in TextExpressionsSpec). */
  private def bpeBase(documents: DataFrame): DataFrame =
    documents
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2 &&
        !col("w").contains(bpeS1) && !col("w").contains(bpeS2))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(graft.functions.Texts.sentinelEncode(col("w")).as("w"), col("cnt"))

  /** Full pair-count derivation over a vocabulary state -- the table
   * the greedy argmax reads: (a, b, n = Σ cnt over adjacent
   * occurrences). One NATIVE pair explode (graft_symbol_pairs, r22 —
   * the regex split + transform/element_at HOF chain it replaces was
   * ~0.7 s of the init's 1.0 s at sf0.1; equivalence pinned in
   * TextExpressionsSpec, and 1-symbol words yield the empty array so
   * the old size >= 2 filter is subsumed by explode) + one
   * map-side-combined aggregation. */
  private def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("cnt"),
        explode(graft.functions.Texts.symbolPairs(col("w"))).as("p"))
      .groupBy(col("p.a"), col("p.b")).agg(sum("cnt").as("n"))

  def bytePairStats(documents: DataFrame, topK: Int = 50): DataFrame =
    documents
      .select(explode(words(col("text"))).as("w")) // repo convention: single-space split
      .filter(length(col("w")) >= 2)
      // ONE native codegen'd pass per word (r22): the previous
      // interpreted HOF chain — transform(sequence(1, length(w)-1),
      // i -> struct(substring(w, i, 1), substring(w, i+1, 1))) —
      // evaluated two interpreted substring lambdas per position and
      // was this query's entire map cost (~0.76 s task time at sf0.1
      // for a 3-task plan). graft_char_pairs emits byte-identical
      // pairs (same code-point boundaries as substring; equivalence
      // pinned in TextExpressionsSpec) with the identical
      // explode → map-side-combined count shape downstream.
      .select(explode(graft.functions.Texts.charPairs(col("w"))).as("p"))
      .groupBy(col("p.pa").as("pair_left"), col("p.pb").as("pair_right"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair_left"), col("pair_right"))
      .limit(topK)
}
