package graft.ops

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {

  private def docs(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "lang", "text")
  }

  /** The full-recount BPE loop: every round re-derives the complete
   * pair table from the current vocabulary state. The equivalence
   * reference for bpeTrain's incremental pair-count maintenance, built
   * only from Spark's and graft.functions.Texts' public columns. */
  private def bpeTrainRecount(documents: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.Texts
    import TextAnalysis.{bpeS1, bpeS2}
    var cur = documents
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2 &&
        !col("w").contains(bpeS1) && !col("w").contains(bpeS2))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(Texts.sentinelEncode(col("w")).as("w"), col("cnt"))
      .persist()
    val states = scala.collection.mutable.ArrayBuffer(cur)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= k && !dry) {
      val best = cur
        .select(col("cnt"), explode(Texts.symbolPairs(col("w"))).as("p"))
        .groupBy(col("p.a"), col("p.b")).agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val (a, b, n) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((r, a, b, n))
        cur = cur.withColumn("w", call_function("replace", col("w"),
          lit(bpeS1 + a + bpeS2 + bpeS1 + b + bpeS2),
          lit(bpeS1 + a + b + bpeS2))).persist()
        states += cur
      }
      r += 1
    }
    states.foreach(_.unpersist())
    merges.result().toDF("merge_round", "pair_left", "pair_right", "n")
  }

  test("token counts: whitespace vs BPE-ish regex") {
    val df = docs((1L, "en", "hello world 42 foo-bar"))
    val r = TextAnalysis.tokenCounts(df).collect().head
    assert(r.getAs[Long]("ws_tokens") == 4L)
    // hello|world|42|foo|-|bar
    assert(r.getAs[Long]("bpe_tokens") == 6L)
  }

  test("language id picks the language with most marker hits") {
    val df = docs(
      (1L, "en", "the cat and the dog of the house"),
      (2L, "de", "der hund und die katze ist ein tier"))
    val got = TextAnalysis.languageId(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(got == Map(1L -> "en", 2L -> "de"))
  }

  test("html visible text: subtree drop, tag strip, entity order, whitespace") {
    import spark.implicits._
    def vis(s: String): String =
      Seq((1L, s)).toDF("id", "t")
        .select(TextAnalysis.htmlVisibleText(org.apache.spark.sql.functions.col("t")))
        .as[String].collect().head
    // script/style content is dropped WHOLESALE, not just de-tagged
    assert(vis("<p>a</p><script>var hidden = 1;</script><p>b</p>") == "a b")
    assert(vis("x<style>p { color: red }</style>y") == "x y")
    assert(vis("<SCRIPT a=b>\nmulti\nline\n</script>z") == "z") // (?is): case + dotall
    // entity decode order: &amp; LAST, so double-escapes survive as text
    assert(vis("&amp;lt; &lt; &gt; &quot; &#39; a&nbsp;b &amp;") == "&lt; < > \" ' a b &")
    // plain text only collapses whitespace
    assert(vis("no tags\there\r\nat all") == "no tags here at all")
    // attributes and self-closing tags vanish with the tag
    assert(vis("""<a href="u">link</a> <br/> <img src="i"/>end""") == "link end")
  }

  test("quality score stays in [0,1] and rewards stopword-bearing prose") {
    val df = docs(
      (1L, "en", "the quick brown fox jumps over the lazy dog and runs to the hills"),
      (2L, "en", "@@@@ #### !!!! %%%% ^^^^"))
    val got = TextAnalysis.qualityScore(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    got.values.foreach(s => assert(s >= 0.0 && s <= 1.0))
    assert(got(1L) > got(2L))
  }

  test("winnow: shared runs share a fingerprint; disjoint docs share none; short docs still emit") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val d1 = s"a1 a2 a3 $shared b1 b2"
    val d2 = s"c1 c2 $shared d1 d2 d3"
    val d3 = (100 to 120).map(i => s"z$i").mkString(" ")
    import spark.implicits._
    val fps = TextAnalysis.winnow(docs((1L, "en", d1), (2L, "en", d2), (3L, "en", d3), (4L, "en", "tiny doc")))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // 10 shared words >= w+k-1 = 6 → guaranteed common fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    assert(fps(4L).nonEmpty) // shorter than one full window
  }

  test("repetition signals: top-word and duplicate-3gram fractions") {
    val r = TextAnalysis.repetitionSignals(docs((1L, "en", "a a a a b"))).collect().head
    assert(r.getAs[Double]("top_word_frac") == 0.8)
    // grams: "a a a", "a a a", "a a b" → 1 - 2/3
    assert(r.getAs[Double]("dup_3gram_frac") == 0.333333)
  }

  test("bigram logprob: predictable transitions score higher than rare ones") {
    val got = TextAnalysis.bigramLogProb(docs((1L, "en", "x y x y"), (2L, "en", "x z")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob")).toMap
    assert(got(1L) > got(2L))
    assert(got(2L) < -1.0) // ln(1/3)
  }

  test("fingerprint is invariant to case and whitespace runs") {
    val df = docs(
      (1L, "en", "Hello   World"),
      (2L, "en", "hello world"))
    val got = TextAnalysis.fingerprint(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp_md5")).toMap
    assert(got(1L) == got(2L))
  }

  test("token entropy: uniform docs score ln(n_types), repeated docs score 0") {
    val got = TextAnalysis.tokenEntropy(docs(
      (1L, "en", "a a a a"),
      (2L, "en", "a b c d")))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("entropy"), r.getAs[Double]("type_token_ratio"))).toMap
    assert(got(1L) == ((0.0, 0.25)))
    assert(got(2L) == ((math.rint(math.log(4.0) * 1e6) / 1e6, 1.0)))
  }

  test("source mix weights: alpha=0.5 upsamples the small source, weights sum to 1") {
    import spark.implicits._
    val df = Seq(
      (1L, "w w w w w w w w w w w w w w w w", "big"),
      (2L, "w w w w", "small")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceMixWeights(df).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("mix_weight")).toMap
    // sqrt(16)=4, sqrt(4)=2 → 4/6 and 2/6; raw ratio would be .8/.2
    assert(got("big") == 0.666667 && got("small") == 0.333333)
    assert(got("small") > 4.0 / 20.0)
  }

  test("top terms per group rank within the group with alphabetical tie-break") {
    val df = docs(
      (1L, "en", "x x y z"),
      (2L, "de", "z z y"))
    val got = TextAnalysis.topTermsPerGroup(df, "lang", 2).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("rank")) -> r.getAs[String]("w")).toMap
    assert(got == Map(("en", 1) -> "x", ("en", 2) -> "y", ("de", 1) -> "z", ("de", 2) -> "y"))
  }

  test("tfidf top terms: corpus-wide words rank below distinctive ones") {
    val df = docs(
      (1L, "en", "apple apple banana common common common"),
      (2L, "en", "pear pear kiwi common common common"),
      (3L, "en", "apple pear common common common common"))
    val got = TextAnalysis.tfidfTopTerms(df, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        (r.getAs[String]("w"), r.getAs[Double]("tfidf")))
      .toMap
    // 'common' appears in every doc → idf = ln(4/4) = 0 → never ranks
    // above the doc-specific terms; the doc-UNIQUE term (df=1) beats
    // the more frequent but shared one (df=2): 1/6·ln2 > 2/6·ln(4/3)
    assert(got((1L, 1))._1 == "banana" && got((1L, 2))._1 == "apple")
    assert(got((2L, 1))._1 == "kiwi" && got((2L, 2))._1 == "pear")
    got.values.foreach { case (w, score) =>
      assert(w != "common" && score > 0.0)
    }
  }

  test("chunks: stride-spaced starts, bounded sizes, text reassembles") {
    val df = docs((1L, "en", (1 to 47).map(i => s"w$i").mkString(" ")))
    val got = TextAnalysis.chunk(df, chunkSize = 25, stride = 20).collect()
      .sortBy(_.getAs[Int]("chunk_idx"))
    // 47 tokens, starts 1/21/41 → three chunks of 25, 25, 7 tokens
    assert(got.length == 3)
    assert(got.map(_.getAs[Long]("n_tokens")).toSeq == Seq(25L, 25L, 7L))
    assert(got(0).getAs[String]("chunk_text").startsWith("w1 w2 "))
    assert(got(1).getAs[String]("chunk_text").startsWith("w21 "))
    assert(got(2).getAs[String]("chunk_text") == (41 to 47).map(i => s"w$i").mkString(" "))
    // overlap: chunk 1 re-covers tokens 21-25 of chunk 0
    assert(got(0).getAs[String]("chunk_text").endsWith(" w25"))
  }

  test("copy pairs: exact copy scores containment 1, paste-into scores high, " +
      "unrelated text scores nothing") {
    val a = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val df = docs(
      (1L, "en", a), (2L, "en", b),
      (3L, "en", a),           // exact copy of 1
      (4L, "en", b + " " + a)) // 1 pasted whole into 2's text
    val out = TextAnalysis.copyPairs(df, minShared = 3, maxDf = 20).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("containment")).toMap
    assert(out((1L, 3L)) == 1.0)
    assert(out((1L, 4L)) >= 0.8)         // boundary windows may differ
    assert(!out.contains((1L, 2L)))      // no shared substrings at all
    // no unbounded join shape: equi-join on fp only, never nested-loop
    val plan = TextAnalysis.copyPairs(df).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
  }

  test("bpe training: greedy merges, ties, and the boundary-overlap cases") {
    import spark.implicits._
    def train(text: String) =
      TextAnalysis.bpeTrain(spark, Seq(text).toDF("text"))
        .as[(Int, String, String, Long)].collect().toSeq
    // two copies of 'abab' + one 'cd': merges (a,b)→(ab,ab)→(c,d), dry
    assert(train("abab abab cd") ==
      Seq((1, "a", "b", 4L), (2, "ab", "ab", 2L), (3, "c", "d", 1L)))
    // equal-symbol run 'aaa': greedy left-to-right gives [aa, a]
    assert(train("aaa") == Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
    // the boundary-consumption trap: merging (a,b) in 'babab' must
    // catch BOTH occurrences (space-joined replace encodings lose the
    // second); then (ab,ab) beats (b,ab) on the pair tie-break
    assert(train("babab") == Seq((1, "a", "b", 2L), (2, "ab", "ab", 1L),
      (3, "b", "abab", 1L)))
  }

  test("bpe training: incremental pair-count deltas match the full recount, " +
      "ties and dry-out included") {
    import spark.implicits._
    // adversarial corpora: exact ties (argmax must break identically),
    // overlapping runs (delta must subtract the consumed boundary
    // pairs), words that collapse to one symbol (empty new-pair side),
    // dry-out before k rounds, and a multi-word mixed corpus
    val corpora = Seq(
      "abab abab cd",                 // tie-free chain + dry-out
      "aaa aaaa aaaaa",               // equal-symbol runs: max delta overlap
      "babab abba baab",              // boundary-consumption traps
      "ab ab ba ba cd dc",            // exact count ties → pair-order tie-break
      "xy",                           // single word, collapses to one symbol
      "the cat sat on the mat the cat ran", // realistic mixed corpus
      "zz zz zz yy yy xx")            // ties across disjoint pairs
    corpora.foreach { text =>
      val df = Seq(text).toDF("text")
      val inc = TextAnalysis.bpeTrain(spark, df)
        .as[(Int, String, String, Long)].collect().toSeq
      val ref = bpeTrainRecount(df)
        .as[(Int, String, String, Long)].collect().toSeq
      assert(inc == ref, s"incremental != recount for corpus '$text'")
    }
  }

  test("media plumbing: features have fixed shape, entropy bounded, bytes preserved") {
    val documents = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val feats = Multimodal.extractFeatures(spark, Multimodal.fromDocuments(documents)).collect()
    assert(feats.length == 500)
    feats.foreach { f =>
      assert(f.feature.length == Multimodal.MediaCodec.FeatureDim)
      assert(f.byte_entropy >= 0.0 && f.byte_entropy <= 8.0)
      assert(f.n_bytes > 0)
    }
  }
}
