package graft.ops

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (`Array[Float]`):
 * brute-force cosine top-k as the exact baseline, and a random-
 * hyperplane LSH-bucketed variant as the 100 TB scale path.
 *
 * Cosine is a sequential fold over `zip_with` products — pure native
 * expressions (codegen'd), no UDF. Similarities are rounded to 6
 * decimals before thresholding/ranking so cross-engine float-summation
 * order cannot flip a comparison.
 *
 * Scale notes: brute-force is a broadcast of the (small) query set
 * against the corpus — no shuffle of the corpus; ranking is a window
 * per query. The LSH variant buckets the corpus once (map-side
 * signatures, one shuffle on the bucket key) and probes only matching
 * buckets — the standard trade of recall for a ~bucket-count speedup.
 */
object Similarity {

  /** Cosine similarity between two array<double> columns, computed as
   * ordered folds (deterministic summation order). */
  def cosine(a: Column, b: Column): Column = {
    def fold(arr: Column) = aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val dot = fold(zip_with(a, b, (x, y) => x * y))
    val na = sqrt(fold(zip_with(a, a, (x, y) => x * y)))
    val nb = sqrt(fold(zip_with(b, b, (x, y) => x * y)))
    dot / (na * nb)
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Unit-normalised copy of a vector column: norms are paid once per
   * vector, so pairwise similarity is a single dot product — at n²
   * pair counts this cuts the inner-loop cost by 3×. */
  def normalized(v: Column): Column = {
    val norm = sqrt(graft.functions.Vectors.dot(v, v))
    transform(v, x => x / norm)
  }

  /** Dot product of two pre-normalised vectors (= cosine): the native
   * codegen'd expression — interpreted HOF lambdas are ~20× slower on
   * the n²-pairs hot path (see graft.functions.DotProduct). */
  def dot(a: Column, b: Column): Column = graft.functions.Vectors.dot(a, b)

  /**
   * Brute-force cosine top-k: for each query vector (vec_id < nQueries),
   * the k nearest corpus vectors. Query side is tiny → broadcast join;
   * the corpus is scanned once, never shuffled; per-query ranking is a
   * window over (rounded sim desc, vec_id) — fully deterministic.
   */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10): DataFrame =
    bruteForceTopKOn(unitCorpus(embeddings), nQueries, k)

  /** [[bruteForceTopK]] over an ALREADY-normalised (vec_id, v) corpus —
   * so [[recallAtK]] shares one materialised corpus across its six
   * index pipelines instead of re-scanning + re-normalising per index
   * (r21, guide §1.2). Arithmetic is unchanged: `v` carries the same
   * single-normalisation values every public face computes. */
  private[ops] def bruteForceTopKOn(corpus: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val queries = corpus
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot(col("qv"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /**
   * Embedding near-duplicate pairs: all pairs with cosine >= threshold.
   * Exact (all-pairs) — the oracle baseline. At scale, block first
   * (see [[lshBuckets]]) or use [[Dedup.minhashLsh]]-style banding.
   */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.4): DataFrame = {
    val e = embeddings.select(
      col("vec_id"), normalized(asDouble(col("embedding"))).as("v"))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim", round(dot(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
  }

  /**
   * LSH-bucketed embedding near-duplicate pairs — the 100 TB face of
   * [[embeddingNearDup]]: vectors are bucketed by random-hyperplane
   * signature; candidate pairs come from an equi-join on the bucket
   * with multi-probe at Hamming distance ≤ 2 (a neighbor that falls
   * across one or two hyperplanes is still probed), then verified
   * exactly with the cosine threshold. Cost is O(n·nProbes) shuffled
   * rows + within-bucket pairs — for 8 planes, 37 probes reach 14.5%
   * (37/256) of the bucket space, i.e. ~85% of pair comparisons are
   * pruned even against a worst-case uniform corpus. Recall is the
   * LSH trade: at cos θ ≈ 0.42 (p_agree = 1 − θ/π ≈ 0.64) expected
   * recall is P[Hamming(sig_a, sig_b) ≤ 2] ≈ 0.38, rising steeply for
   * true near-dups (≈ 0.97 at cos 0.9); precision is exact (verify
   * step). Asserted vs the all-pairs form in SimilaritySpec; the
   * DuckDB oracle reproduces the identical buckets (seeded
   * hyperplanes embedded as constants), so the approximate algorithm
   * itself is oracle-checked.
   */
  def embeddingNearDupLsh(embeddings: DataFrame, threshold: Double = 0.4,
      nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val bucketed = Materialize(lshBuckets(embeddings, nPlanes, dim))
    val flips: Seq[Long] = // Hamming-1 and Hamming-2 XOR masks
      (0 until nPlanes).map(i => 1L << i) ++
        (for { i <- 0 until nPlanes; j <- i + 1 until nPlanes }
          yield (1L << i) | (1L << j))
    // one FLAT array(...) of the 37 probe expressions — a nested
    // array_append fold optimizes quadratically in Catalyst (measured
    // seconds of driver time at 37 probes) for the same result
    val probes = array((Seq(0L) ++ flips).map(m =>
      col("bucket").bitwiseXOR(lit(m))): _*)
    val a = bucketed.select(col("vec_id").as("vec_a"), col("v").as("va"),
      explode(probes).as("bucket"))
    val b = bucketed.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      // a pair can match through its own bucket and several probes —
      // dedup BEFORE the dot product so each pair is scored once
      .select("vec_a", "vec_b")
      .dropDuplicates("vec_a", "vec_b")
      .join(bucketed.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(bucketed.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .withColumn("sim", round(dot(col("va"), col("vb")), 6))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
  }

  /**
   * Scalar-quantised (int8) brute-force top-k: each unit-normalised
   * component is quantised to round(x·127) ∈ [−127, 127] — the
   * standard SQ8 layout that cuts vector memory/bandwidth 4× at
   * billion scale (the dominant ANN cost is scan bandwidth, not
   * arithmetic). Scores are INTEGER dot products (order-independent,
   * exactly reproducible) rescaled by 127² once. Recall vs the float
   * baseline is asserted in tests; the query side broadcasts like
   * [[bruteForceTopK]].
   */
  def quantizedTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10): DataFrame =
    quantizedTopKOn(unitCorpus(embeddings), nQueries, k)

  /** [[quantizedTopK]] over a pre-normalised corpus (see
   * [[bruteForceTopKOn]]). */
  private[ops] def quantizedTopKOn(unit: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val corpus = unit
      // kept as double for the codegen'd dot product; values are exact
      // small integers, so sums are exact in both engines
      .withColumn("q", transform(col("v"), x => round(x * 127)))
      .drop("v")
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot(col("qq"), col("q")) / lit(127.0 * 127.0), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /** Deterministic random hyperplanes (seeded) as literal arrays —
   * shipped to executors as constants, no driver-side state. Public so
   * the DuckDB oracle embeds the identical constants. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane LSH bucket id: sign bits of dot(v, h_i) packed
   * into a long. Vectors close in cosine land in the same bucket with
   * probability (1 - θ/π)^nPlanes. */
  def lshBucket(v: Column, nPlanes: Int, dim: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(nPlanes, dim, seed)
    planes.zipWithIndex.map { case (h, i) =>
      val hCol = array(h.map(lit): _*)
      // rounded before the sign test — like every other cross-engine
      // float comparison — so a last-ulp summation difference vs the
      // oracle's list_dot_product cannot flip bucket membership
      val dot = round(graft.functions.Vectors.dot(v, hCol), 6)
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Corpus bucketed by LSH signature — the build side of the scale
   * path (one shuffle on bucket). */
  def lshBuckets(embeddings: DataFrame, nPlanes: Int = 8, dim: Int = 64): DataFrame =
    embeddings.select(
      col("vec_id"),
      normalized(asDouble(col("embedding"))).as("v"))
      .withColumn("bucket", lshBucket(col("v"), nPlanes, dim))

  /**
   * IVF (inverted-file) approximate top-k: a k-means coarse quantizer
   * partitions the corpus into `nLists` cells; each query scores only
   * the `nProbe` cells whose centroids are nearest — the standard
   * billion-scale ANN layout (cells ≈ posting lists). Deterministic
   * under the fixed seed. Complements [[lshTopK]]: IVF adapts to the
   * data distribution where hyperplane LSH is data-oblivious.
   *
   * Scale notes: training samples the corpus (k-means on a fraction is
   * standard); assignment is one map-side pass (centroids broadcast by
   * the model); the probe join shuffles only (query, cell) pairs.
   */
  def ivfTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10,
      nLists: Int = 16, nProbe: Int = 4, seed: Long = 42L,
      trainFraction: Double = 1.0): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val corpus = Materialize(embeddings.select( // trained over + assigned + probed below
      col("vec_id"), normalized(asDouble(col("embedding"))).as("v"))
      .withColumn("features", array_to_vector(col("v"))))
    // k-means on a sampled fraction is the standard billion-scale IVF
    // training regime (coarse centroids need only the distribution's
    // shape); pass < 1.0 at scale — the default keeps the small-corpus
    // behaviour deterministic end-to-end
    val trainSet = if (trainFraction >= 1.0) corpus
      else corpus.sample(withReplacement = false, trainFraction, seed)
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(10)
      .fit(trainSet)
    val assigned = model.transform(corpus)
      .select(col("vec_id"), col("v"), col("prediction").as("cell"))
    // centroids are tiny: rank cells per query vector driver-side-free
    // via a broadcast cross score
    val centroids = model.clusterCenters.zipWithIndex.map {
      case (c, i) => (i, c.toArray)
    }.toSeq
    val centroidDf = embeddings.sparkSession.createDataFrame(centroids)
      .toDF("cell", "centroid")
    val queries = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val probeCells = queries.join(broadcast(centroidDf))
      // rank cells by the ASSIGNMENT metric (squared Euclidean:
      // |c|² − 2·q·c for unit q) — ranking by raw dot product ignores
      // centroid norms and can leave the query's own cell unprobed
      .withColumn("cdist",
        dot(col("centroid"), col("centroid")) - lit(2.0) * dot(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cdist").asc, col("cell"))))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot(col("qv"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /** Fixed centroid seed vec_ids for [[ivfFixedTopK]] — corpus vectors
   * doubling as coarse centroids, chosen by a deterministic stride so
   * the DuckDB oracle can select the identical rows. Public: the oracle
   * SQL embeds this list. */
  def ivfFixedSeeds(nLists: Int = 16): Seq[Int] = (0 until nLists).map(i => 31 + i * 29)

  /**
   * IVF top-k with FIXED corpus-vector centroids: the same inverted-
   * file layout as [[ivfTopK]] but the coarse quantizer is `nLists`
   * deterministically-chosen corpus vectors instead of trained k-means
   * means. Slightly worse cell balance, but every stage (assignment,
   * probe ranking, scoring) is pure relational algebra over the corpus
   * itself — so the full approximate index is verified end-to-end by
   * the SQL oracle (k-means, by contrast, is iterative and
   * rows-only-checkable). Unit vectors make assignment-by-min-distance
   * equal assignment-by-max-dot, which is what both faces rank on.
   *
   * Scale notes: identical to [[ivfTopK]] — centroids broadcast for
   * the one-pass map-side assignment; the probe join ships only
   * (query, cell) pairs; the corpus shuffles once on the cell id.
   */
  def ivfFixedTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10,
      nLists: Int = 16, nProbe: Int = 4): DataFrame =
    ivfFixedTopKOn(
      Materialize(unitCorpus(embeddings)), // assignment + query side + probe scoring reuse it
      nQueries, k, nLists, nProbe)

  /** [[ivfFixedTopK]] over a pre-normalised, already-materialised
   * corpus (see [[bruteForceTopKOn]]); no inner checkpoint. */
  private[ops] def ivfFixedTopKOn(corpus: DataFrame, nQueries: Int, k: Int,
      nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    val seeds = ivfFixedSeeds(nLists)
    val centroids = corpus
      .filter(col("vec_id").isin(seeds.map(_.toLong): _*))
      .select(col("vec_id").as("seed_id"), col("v").as("cv"))
    // one-pass assignment: every vector scores all nLists centroids
    // (broadcast) and keeps the best; ties break on the centroid id
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("cdot").desc, col("seed_id"))
    val assigned = corpus.join(broadcast(centroids))
      .withColumn("cdot", round(dot(col("v"), col("cv")), 6))
      .withColumn("arank", row_number().over(wAssign))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("v"), col("seed_id").as("cell"))
    val queries = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val probeCells = queries.join(broadcast(centroids))
      .withColumn("cdot", round(dot(col("qv"), col("cv")), 6))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cdot").desc, col("seed_id"))))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("seed_id").as("cell"))
    val scored = assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot(col("qv"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /**
   * Persist the [[ivfFixedTopK]] inverted-file index: the one-pass
   * centroid assignment runs ONCE and the assigned corpus lands
   * partitioned by cell, so every later query session skips assignment
   * entirely and reads ONLY its probed cells — partition pruning at
   * the storage layer, the difference between "an ANN query scans the
   * corpus" and "an ANN query reads nProbe/nLists of it". This is the
   * 100 TB deployment shape: assignment is the expensive corpus-wide
   * pass (embarrassingly parallel, centroids broadcast), amortised
   * across every query batch that follows.
   */
  def writeIvfIndex(embeddings: DataFrame, dir: String, nLists: Int = 16): Unit = {
    val corpus = embeddings.select(
      col("vec_id"), normalized(asDouble(col("embedding"))).as("v"))
    val cents = corpus
      .filter(col("vec_id").isin(ivfFixedSeeds(nLists).map(_.toLong): _*))
      .select(col("vec_id").as("seed_id"), col("v").as("cv"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("cdot").desc, col("seed_id"))
    corpus.join(broadcast(cents))
      .withColumn("cdot", round(dot(col("v"), col("cv")), 6))
      .withColumn("arank", row_number().over(wAssign))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("v"), col("seed_id").as("cell"))
      // cluster by cell before the partitioned write: each cell lands
      // contiguously, so the layout is one file per cell instead of
      // (tasks × cells) fragments — at larger scale the same
      // repartition spreads a cell over as many files as its rows need
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
  }

  /** Content-identity key for a source fixture: md5 over the sorted
   * (relative name, mtime, size) of every LEAF file under `path`.
   * Leaf-file metadata — not the parent directory's mtime/length —
   * because overwriting files in place (`cp` over identical names)
   * leaves the parent dir unchanged; and a 128-bit digest — not a
   * 32-bit tuple hashCode — so distinct fixtures cannot collide into
   * silently sharing a stale index. */
  def fixtureKey(path: String): String = {
    val base = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val lines = walk(base).map { f =>
      val rel = f.getAbsolutePath.stripPrefix(base.getAbsolutePath)
      s"$rel|${f.lastModified}|${f.length}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update((base.getAbsolutePath + "\n" + lines.mkString("\n")).getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
    f.delete(); ()
  }

  /**
   * Idempotent build-or-reuse of a persisted IVF index for the fixture
   * at `srcPath`: returns the index directory, building it only when
   * no index for the CURRENT fixture content exists. The directory
   * name embeds [[fixtureKey]], so a regenerated fixture (even one
   * overwritten in place with identical file names) gets a fresh
   * index; stale indexes of the SAME fixture path (superseded content
   * keys) are deleted on rebuild so the tmpdir does not accumulate
   * dead layouts. The build lands in a process-unique staging dir and
   * is atomically renamed into place — two JVMs racing the build both
   * succeed (the loser's staging dir is discarded; both keys are
   * identical so either index is correct).
   */
  def ensureIvfIndex(srcPath: String, embeddings: => DataFrame,
      nLists: Int = 16): String = {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(new java.io.File(srcPath).getAbsolutePath.getBytes("UTF-8"))
    val pathTag = md.digest().map("%02x".format(_)).mkString.take(8)
    val prefix = s"graft_ivf_index_${pathTag}_"
    val dir = new java.io.File(tmpRoot, prefix + fixtureKey(srcPath))
    if (!new java.io.File(dir, "_SUCCESS").exists) {
      Option(tmpRoot.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith(prefix) && f.getName != dir.getName)
        .foreach(deleteRecursively)
      val staging = new java.io.File(tmpRoot,
        s"${dir.getName}.build_${ProcessHandle.current().pid()}_${System.nanoTime()}")
      writeIvfIndex(embeddings, staging.getAbsolutePath, nLists)
      try
        java.nio.file.Files.move(staging.toPath, dir.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // a concurrent builder won the rename: same key ⇒ same index
        case _: java.nio.file.FileSystemException => deleteRecursively(staging)
      }
    }
    dir.getAbsolutePath
  }

  /**
   * Query a persisted IVF index ([[writeIvfIndex]]): rank cells per
   * query against the centroid rows (corpus members, read back from
   * the index by id), then scan ONLY the union of probed cells — the
   * probed-cell set is nQueries·nProbe ids collected to the driver and
   * pushed as a partition filter, so the unprobed (1 − nProbe/nLists)
   * of the index contributes zero I/O (PartitionFilters — pinned in
   * PlanAuditSpec). Results are identical to [[ivfFixedTopK]] on the
   * same corpus: same seeds, same rounding, same tie-breaks.
   */
  def ivfIndexTopK(index: DataFrame, queries: DataFrame, k: Int = 10,
      nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    val cents = index
      .filter(col("vec_id").isin(ivfFixedSeeds(nLists).map(_.toLong): _*))
      .select(col("vec_id").as("seed_id"), col("v").as("cv"))
    val qs = queries.select(
      col("vec_id").as("query_id"), normalized(asDouble(col("embedding"))).as("qv"))
    // materialised: collected for the partition filter AND joined
    val probeCells = Materialize(qs.join(broadcast(cents))
      .withColumn("cdot", round(dot(col("qv"), col("cv")), 6))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cdot").desc, col("seed_id"))))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("seed_id").as("cell")))
    // bounded driver collect (nQueries·nProbe cell ids) — the literal
    // list is what the planner prunes index partitions with
    val cells = probeCells.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    // the filter runs on the RAW partition column (pruning), the cast
    // only normalises the inferred partition type for the join key
    val scored = index.filter(col("cell").isin(cells: _*))
      .withColumn("cell", col("cell").cast("long"))
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot(col("qv"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /**
   * Streaming face of the persisted IVF index: a QUERY STREAM (rows of
   * `vec_id`, `embedding`) is answered per micro-batch against the
   * index at `indexDir`, each trigger's top-k landing under
   * `outDir/batch_id=<n>` (per-batch OVERWRITE, so a replayed trigger
   * is idempotent — same at-least-once-execution / exactly-once-output
   * discipline as the streaming near-dedup writer). This is the
   * online-serving shape of ANN at scale: the corpus-wide work
   * (assignment, layout) happened ONCE at [[writeIvfIndex]] time;
   * each trigger pays only centroid ranking over its own queries plus
   * a partition-pruned read of the probed cells.
   *
   * Scale shape per trigger: the batch's probe-cell set (≤
   * nQueries·nProbe ids) is collected and pushed as a partition
   * filter, so a trigger reads at most nProbe/nLists of the index
   * regardless of corpus size; the batch side broadcasts into the
   * pruned scan ([[ivfIndexTopK]]'s plan, pinned in PlanAuditSpec).
   * The index DataFrame is constructed once outside the loop — its
   * file listing is reused across triggers, only the partition filter
   * changes.
   */
  def ivfStreamingTopK(queries: DataFrame, indexDir: String, outDir: String,
      checkpoint: String, k: Int = 10, nLists: Int = 16,
      nProbe: Int = 4): org.apache.spark.sql.streaming.StreamingQuery = {
    val index = queries.sparkSession.read.parquet(indexDir)
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          ivfIndexTopK(index, batch, k, nLists, nProbe)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()
  }

  /**
   * kNN label vote: predict each query vector's label by majority vote
   * of its k nearest corpus neighbors (cosine), with a deterministic
   * (votes desc, label asc) tie-break — the standard embedding-space
   * classifier a pipeline uses to propagate sparse labels (quality,
   * topic, toxicity) from a labelled seed set across the corpus.
   *
   * Plan: neighbor search is [[bruteForceTopK]] (query side broadcasts,
   * the corpus is scanned once and never shuffled); the vote join and
   * aggregation run over nQueries·k rows — nothing here is corpus-
   * shaped except the one scan. At 100 TB swap the exact search for
   * [[lshTopK]]/[[ivfFixedTopK]]: the vote stage is identical.
   */
  def knnClassify(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10): DataFrame = {
    val topk = bruteForceTopK(embeddings, nQueries, k)
    val labels = embeddings.select(
      col("vec_id").as("neighbor_id"), col("label").cast("int").as("predicted_label"))
    val votes = topk.join(labels, "neighbor_id")
      .groupBy("query_id", "predicted_label")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id").orderBy(col("votes").desc, col("predicted_label"))
    votes
      .withColumn("vrank", row_number().over(w))
      .filter(col("vrank") === 1)
      .join(embeddings.select(
        col("vec_id").as("query_id"), col("label").cast("int").as("true_label")), "query_id")
      .select("query_id", "predicted_label", "votes", "true_label")
  }

  /**
   * Product-quantisation (PQ) approximate top-k with ADC scoring and
   * FIXED corpus-vector codebooks: vectors are cut into `m` subspaces;
   * each subvector is replaced by the id of its nearest codebook entry
   * (L2), so a 64-float vector compresses to m small codes — the
   * standard billion-scale memory layout (SQ8 compresses 4×; PQ here
   * compresses 32×, and scan bandwidth IS the brute-force ANN cost).
   * Query scoring is asymmetric distance computation: the query stays
   * exact, each corpus vector scores as Σⱼ dot(q_subⱼ, codebook entry
   * of its code in subspace j).
   *
   * Codebooks are the sub-slices of `ks` deterministically-chosen
   * corpus vectors (same trick as [[ivfFixedTopK]]), so encoding,
   * code assignment and ADC scoring are all pure relational algebra —
   * the full quantisation pipeline is verified by the SQL oracle
   * (k-means-trained codebooks would be rows-only-checkable). Recall
   * vs the float baseline is asserted in SimilaritySpec.
   *
   * The ADC ranking is a CANDIDATE stage: the top-`rerank` survivors
   * per query are re-scored exactly against the full float vectors and
   * the final top-k ranks on the exact cosine — the standard two-stage
   * PQ search (coarse ADC scan over codes, exact re-rank over a
   * bounded survivor set). Recall@10 is bounded by P[true neighbor ∈
   * ADC top-`rerank`] instead of ADC's own top-k accuracy, which
   * roughly doubles it on the test fixture (floors pinned in
   * SimilaritySpec).
   *
   * Scale notes: codebooks are m·ks tiny rows — broadcast; encoding is
   * one map-side pass over the corpus (one argmin window per subspace
   * keyed on (vec_id, j), no corpus self-join); the ADC join ships the
   * code table (bytes per vector, not floats). The re-rank stage
   * touches full vectors for only nQueries·rerank survivor ids
   * (broadcast semi-join against the corpus — the corpus itself never
   * shuffles). At 100 TB the code table is the artifact you store and
   * scan; the float vectors are fetched only for survivors.
   */
  def pqTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10,
      m: Int = 8, ks: Int = 16, dim: Int = 64, rerank: Int = 40): DataFrame =
    pqTopKOn(
      Materialize(unitCorpus(embeddings)), // encoded below + query side + (tiny) codebook
      nQueries, k, m, ks, dim, rerank)

  /** [[pqTopK]] over a pre-normalised, already-materialised corpus
   * (see [[bruteForceTopKOn]]); no inner checkpoint. */
  private[ops] def pqTopKOn(corpus: DataFrame, nQueries: Int, k: Int,
      m: Int = 8, ks: Int = 16, dim: Int = 64, rerank: Int = 40): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    // codebook: sub-slices of ks fixed corpus vectors — (m · ks) rows
    val seeds = ivfFixedSeeds(ks)
    val codebook = corpus
      .filter(col("vec_id").isin(seeds.map(_.toLong): _*))
      .select(col("vec_id").as("code"), col("v").as("cv"),
        explode(sequence(lit(0), lit(m - 1))).as("j"))
      .select(col("code"), col("j"),
        slice(col("cv"), col("j") * subDim + 1, lit(subDim)).as("cb_sub"))
    // encode: per (vector, subspace), the L2-nearest codebook entry;
    // squared L2 is rounded before the argmin so cross-engine float
    // summation order cannot flip an assignment
    val corpusSub = corpus.select(
      col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("j"),
      col("v"))
      .select(col("vec_id"), col("j"),
        slice(col("v"), col("j") * subDim + 1, lit(subDim)).as("v_sub"))
    val wAssign = Window.partitionBy("vec_id", "j")
      .orderBy(col("d2").asc, col("code"))
    val codes = corpusSub.join(broadcast(codebook), Seq("j"))
      .withColumn("d2", round(
        dot(col("v_sub"), col("v_sub"))
          - lit(2.0) * dot(col("v_sub"), col("cb_sub"))
          + dot(col("cb_sub"), col("cb_sub")), 6))
      .withColumn("arank", row_number().over(wAssign))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("j"), col("code"), col("cb_sub"))
    // ADC: the query subvector scores against each corpus vector's
    // RECONSTRUCTION (its codebook entry), summed over subspaces
    val querySub = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col("v"))
      .select(col("query_id"), col("j"),
        slice(col("v"), col("j") * subDim + 1, lit(subDim)).as("q_sub"))
    val scored = codes.join(broadcast(querySub), Seq("j"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("part", round(dot(col("q_sub"), col("cb_sub")), 6))
      .groupBy("query_id", "vec_id")
      .agg(round(sum("part"), 6).as("sim"))
    // stage 2: exact re-rank of the top-`rerank` ADC survivors — the
    // survivor id set (nQueries·rerank rows) broadcasts both ways, so
    // fetching the full vectors is a semi-join against the corpus
    // scan, not a corpus shuffle
    val wAdc = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    val survivors = scored
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= rerank)
      .select("query_id", "vec_id")
    val queriesFull = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val rescored = corpus.join(broadcast(survivors), Seq("vec_id"))
      .join(broadcast(queriesFull), Seq("query_id"))
      .withColumn("sim", round(dot(col("qv"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    rescored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /**
   * LSH-approximate top-k with multi-probe: each query probes its own
   * bucket plus every bucket at Hamming distance 1 (nPlanes+1 probes) —
   * the standard recall-recovery trick when a neighbor falls just across
   * one hyperplane. Trades recall (measured in tests vs
   * [[bruteForceTopK]]) for a ~2^nPlanes/(nPlanes+1) reduction in
   * candidate comparisons — the 100 TB path.
   */
  def lshTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10,
      nPlanes: Int = 4, dim: Int = 64): DataFrame =
    // materialised once: the bucketed corpus feeds both the query side
    // and the probe join — without it the scan + normalize + bucket
    // pass runs twice (at 100 TB you would write the bucketed corpus
    // to storage; a checkpoint avoids a leaked CacheManager entry)
    // nPlanes is forwarded (r22, ADVICE): probe generation must flip
    // every plane the buckets were built with — without it a caller
    // using nPlanes != 4 silently lost the Hamming-1 probes for planes
    // 4..n and the documented nPlanes+1-probes contract. The declared
    // query (q_s2) uses the default nPlanes = 4, where forwarding is
    // the identity — its result is byte-identical.
    lshTopKOn(Materialize(lshBuckets(embeddings, nPlanes, dim)),
      nQueries, k, nPlanes)

  /** [[lshTopK]] over a pre-bucketed, already-materialised
   * (vec_id, v, bucket) corpus (see [[bruteForceTopKOn]]). */
  private[ops] def lshTopKOn(bucketed: DataFrame, nQueries: Int, k: Int,
      nPlanes: Int = 4): DataFrame = {
    val probes = (0 until nPlanes).foldLeft(array(col("bucket"))) {
      (acc, i) => array_append(acc, col("bucket").bitwiseXOR(1L << i))
    }
    val queries = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(probes).as("bucket"))
    val scored = bucketed.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot(col("qv"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /**
   * Per-(label, position) centroid SUMS over the L2-normalised
   * members — the oracle-exact face of label centroid diagnostics
   * (centroid[pos] = sum_x / n_vecs). Sums go through the DECIMAL
   * convention (per-element round to 9 then exact decimal sum, README
   * §determinism) so the result is order-independent and
   * bit-reproducible in DuckDB. One posexplode shuffle keyed by
   * (label, pos): dim·n scalar rows, map-side combined — no vector
   * collects, no per-label materialisation.
   */
  def labelCentroidSums(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"),
        posexplode(normalized(asDouble(col("embedding")))).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(
        count(lit(1)).as("n_vecs"),
        graft.ops.Metrics.exactSum(round(col("x"), 9), 9).as("sum_x"))

  /** Label centroid vectors assembled from [[labelCentroidSums]]
   * (centroid = per-position mean): one tiny labels×dim aggregation —
   * the diagnostics companion to [[knnClassify]]'s labels (cluster
   * position/tightness checks live in SimilaritySpec). Each position
   * divides by ITS OWN member count, so ragged inputs (mixed vector
   * lengths) average each position over the vectors that carry it;
   * `n_vecs` reports the label's member count (the max across
   * positions). */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    labelCentroidSums(embeddings)
      .groupBy("label")
      .agg(
        max(col("n_vecs")).as("n_vecs"),
        transform(
          array_sort(collect_list(struct(col("pos"), col("sum_x"), col("n_vecs")))),
          s => round(s("sum_x") / s("n_vecs"), 9)).as("centroid"))

  /**
   * Recall@k of every approximate index against the brute-force
   * baseline, per (method, query): the index-quality diagnostic a
   * training-data pipeline runs before trusting an ANN index at scale.
   * Both sides are deterministic, so recall itself is an exact,
   * oracle-checkable number (not a statistical estimate).
   *
   * Scale shape: each index's top-k is computed by its own
   * already-scale-shaped operator; the recall join then handles only
   * nQueries·k·methods rows — the exact side (nQueries·k rows) is
   * broadcast, so nothing about this diagnostic shuffles the corpus.
   * Output: (method, query_id, hits, recall), hits = |approx ∩ exact|.
   *
   * Lifetime: the returned frame lazily reads ONE materialised corpus
   * (a [[Materialize]] break, so it cannot be released before the
   * caller evaluates it), which lives until the caller's action
   * completes and the session sweeps (`clearCache()` + an unpersist
   * pass, as Bench/Verify do between queries) or the ContextCleaner
   * collects it — a long-lived session looping this MUST sweep, or it
   * accumulates one persisted corpus per call. [[kmeansCentroids]]
   * returns a collected Seq and releases its corpus itself.
   */
  def recallAtK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10): DataFrame = {
    // ONE materialisation of the normalised corpus feeds all SIX index
    // pipelines (r21, guide §1.2/§2.3: before this each pipeline paid
    // its own scan + normalize + checkpoint of the same corpus — six
    // materialisation jobs for one table). Identical arithmetic: every
    // public face computes exactly unitCorpus(embeddings), and the LSH
    // bucket column is the same map-side expression lshBuckets applies
    // (recomputed from the materialised corpus instead of a second
    // checkpoint — 8 pinned dot products per row). Not released, as
    // in ivfTrainedTopK: the returned frame lazily reads the corpus;
    // callers sweep after their action.
    val corpus = Materialize(unitCorpus(embeddings))
    val exact = bruteForceTopKOn(corpus, nQueries, k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val approx = Seq(
      "ivf_fixed" -> ivfFixedTopKOn(corpus, nQueries, k),
      "ivf_trained" -> ivfTrainedTopKOn(corpus, nQueries, k),
      "lsh" -> lshTopKOn(
        corpus.withColumn("bucket", lshBucket(col("v"), 4, 64)), nQueries, k),
      "pq" -> pqTopKOn(corpus, nQueries, k),
      "sq8" -> quantizedTopKOn(corpus, nQueries, k))
    val perQuery = approx.map { case (m, df) =>
      df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"))
    }.reduce(_.unionByName(_))
      // left join (not semi): a query whose approximate list misses
      // every true neighbor must still count its misses
      .join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("method"), col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
    // methods × queries universe: a query whose approximate list is
    // EMPTY (every candidate bucket empty) has no group above and
    // would silently vanish — it owes a recall-0 row, which is exactly
    // the row an index-quality gate must see (read from the shared
    // corpus — one less parquet scan; vec_id is identical)
    corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(array(approx.map(p => lit(p._1)): _*)).as("method"))
      .join(perQuery, Seq("method", "query_id"), "left")
      .na.fill(0L, Seq("hits"))
      .withColumn("recall", round(col("hits") / lit(k.toDouble), 6))
      .select("method", "query_id", "hits", "recall")
  }

  /**
   * Spherical k-means (cosine Lloyd iterations) — the centroid
   * TRAINING step behind an IVF index (q_s5/q_s10 run against fixed
   * seed centroids; this is how production centroids are actually
   * learned). Fully deterministic and oracle-checkable: every float
   * that crosses an engine boundary is pinned —
   *  - init: the unit-normalised first `k` corpus vectors
   *    (vec_id < k), each dimension rounded to 9 decimals;
   *  - assign: argmax cosine over the k centroids on ROUNDED
   *    similarity (round 6), ties to the lowest cluster id;
   *  - update: per-dimension mean of the members rounded to 9,
   *    unit-normalised, rounded to 9 again; an empty cluster keeps
   *    its previous centroid.
   * Output after `iters` rounds: the final assignment
   * (vec_id, cluster, sim).
   *
   * Scale shape: assignment is MAP-SIDE — the k·dim centroid matrix
   * travels as literal expressions (the collect of k·dim rounded
   * doubles per iteration IS the broadcast mechanism, same
   * adjudication as ivfIndexTopK's pruning collect), so the corpus is
   * never shuffled and never joined for assignment; the update is one
   * partially-aggregated (cluster, dim) scalar shuffle of k·dim
   * result rows. Driver state: k·dim doubles. This is the canonical
   * distributed-kmeans shape — corpus scans: iters + 1.
   *
   * Lifetime: like [[recallAtK]], the returned frame lazily reads one
   * materialised corpus — a long-lived session looping this must
   * sweep (`clearCache()` + unpersist) after each action, or it
   * accumulates one persisted corpus per call.
   */
  def kmeansAssign(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    // share ONE materialised corpus between training and the final
    // assignment (r21: the assignment previously re-scanned +
    // re-normalised the source after kmeansCentroids released its own
    // copy). Not released — the returned frame lazily reads the
    // corpus (see the Lifetime note).
    val corpus = Materialize(unitCorpus(embeddings))
    assignToCentroids(corpus, kmeansCentroidsOn(corpus, k, iters))
      .select(col("vec_id"), col("cluster"), col("sim"))
  }

  private def unitCorpus(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), normalized(asDouble(col("embedding"))).as("v"))

  /** Map-side argmax-cosine assignment against literal centroids: one
   * struct per centroid, (sim, -cluster) so greatest() picks the
   * highest similarity then the LOWEST cluster id on ties — a single
   * codegen'd projection, no join, no shuffle. */
  private def assignToCentroids(corpus: DataFrame,
      cent: Seq[(Int, Seq[Double])]): DataFrame = {
    val cands = cent.map { case (c, cv) =>
      struct(
        round(dot(col("v"), array(cv.map(lit(_)): _*)), 6).as("sim"),
        lit(-c).as("negc"))
    }
    // greatest() needs >= 2 children — a k=1 quantizer assigns trivially
    val best = if (cands.size == 1) cands.head else greatest(cands: _*)
    corpus.withColumn("best", best)
      .select(col("vec_id"), col("v"),
        (-col("best.negc")).cast("int").as("cluster"),
        col("best.sim").as("sim"))
  }

  /** The trained centroids behind [[kmeansAssign]] — exposed so
   * [[ivfTrainedTopK]] can search against the same coarse quantizer
   * the training loop produced. Same pinning contract throughout. */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8,
      iters: Int = 2): Seq[(Int, Seq[Double])] = {
    // materialise the normalised corpus ONCE: each Lloyd iteration and
    // the seed collect reuse it instead of re-reading + re-normalising
    // the source (iters + 1 scans of raw parquet otherwise). The
    // result is a collected Seq, so the materialisation is released
    // here — a long-lived session calling this in a loop must not
    // accumulate a cached corpus per call.
    val corpus = Materialize(unitCorpus(embeddings))
    try kmeansCentroidsOn(corpus, k, iters)
    finally Materialize.release(corpus)
  }

  /** [[kmeansCentroids]] over a corpus that is ALREADY normalised and
   * materialised — so a caller that needs the corpus for its own
   * search stages ([[ivfTrainedTopK]]) shares ONE materialisation
   * with the training loop instead of paying two. */
  private def kmeansCentroidsOn(corpus: DataFrame, k: Int,
      iters: Int): Seq[(Int, Seq[Double])] = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0: k=$k iters=$iters")
    // init: rounded normalised seed vectors, cluster id = vec_id order
    var cent: Seq[(Int, Seq[Double])] = corpus
      .filter(col("vec_id") < k)
      .select(col("vec_id").cast("int"), transform(col("v"), x => round(x, 9)))
      .collect()
      .toSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    (1 to iters).foreach { _ =>
      val upd = assignToCentroids(corpus, cent)
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(round(avg("x"), 9).as("m")) // mean pinned at 9 decimals
        .groupBy("cluster")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s("m")).as("mv"))
        // unit-normalise the rounded mean, pin again at 9
        .select(col("cluster"),
          transform(col("mv"), x => round(x / sqrt(dot(col("mv"), col("mv"))), 9))
            .as("cv"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1))
        .toMap
      // empty clusters keep their previous centroid
      cent = cent.map { case (c, old) => (c, upd.getOrElse(c, old)) }
    }
    cent
  }

  /**
   * IVF top-k over TRAINED k-means centroids — [[ivfFixedTopK]]'s
   * layout with [[kmeansCentroids]] as the coarse quantizer: the full
   * production IVF recipe (train → assign → probe → score) as one
   * oracle-checkable query. The DuckDB twin replays the training
   * chain AND the search (the pinning contract makes the iterative
   * part relational too, retiring q_s5's "k-means is rows-only-
   * checkable" caveat).
   *
   * Scale shape: centroid training per [[kmeansCentroids]] (corpus
   * scans, k·dim collects); assignment AND per-query probe ranking
   * are map-side against literal centroids (no join, no shuffle — the
   * probe list rides a sort_array over k structs); scoring joins the
   * broadcast (query, cell) pairs against the assigned corpus — the
   * corpus shuffles ONCE on the rank window, nothing else.
   *
   * Lifetime: like [[recallAtK]], the returned frame lazily reads one
   * materialised corpus — a long-lived session looping this must
   * sweep after each action.
   */
  def ivfTrainedTopK(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10,
      nLists: Int = 8, iters: Int = 2, nProbe: Int = 2): DataFrame = {
    // ONE materialisation of the normalised corpus, shared by the
    // training loop AND the search stages below (r10 paid it twice).
    // The values are the single-normalisation arithmetic the oracle
    // replays — kmeansCentroidsOn never re-normalises its input (doing
    // so would perturb already-unit vectors at the float ulp under the
    // round-9 pin). Deliberately not released: the returned DataFrame
    // lazily reads this corpus (see the Lifetime note).
    val corpus = Materialize(unitCorpus(embeddings))
    ivfTrainedTopKOn(corpus, nQueries, k, nLists, iters, nProbe)
  }

  /** [[ivfTrainedTopK]] over a pre-normalised, already-materialised
   * corpus (see [[bruteForceTopKOn]]); no inner materialisation. */
  private[ops] def ivfTrainedTopKOn(corpus: DataFrame, nQueries: Int, k: Int,
      nLists: Int = 8, iters: Int = 2, nProbe: Int = 2): DataFrame = {
    val cent = kmeansCentroidsOn(corpus, nLists, iters)
    val asg = assignToCentroids(corpus, cent)
      .select(col("vec_id"), col("v"), col("cluster").as("cell"))
    // per-query probe list: sort the k (sim, -cluster) structs desc and
    // slice nProbe — map-side, mirrors the assignment's tie-break
    val cands = cent.map { case (c, cv) =>
      struct(
        round(dot(col("v"), array(cv.map(lit(_)): _*)), 6).as("sim"),
        lit(-c).as("negc"))
    }
    val queries = corpus.filter(col("vec_id") < nQueries)
      .withColumn("pcells", slice(sort_array(array(cands: _*), asc = false), 1, nProbe))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(transform(col("pcells"), s => (-s("negc")).cast("int"))).as("cell"))
    val scored = asg.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot(col("qv"), col("v")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }
}
