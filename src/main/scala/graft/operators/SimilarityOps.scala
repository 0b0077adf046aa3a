package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.icelite.{FoldSwap, MetaIO}

/**
 * Similarity search over an embedding column (`embeddings(vec_id,
 * embedding: array<float>, label)`).
 *
 *  - [[bruteForceTopK]]: exact cosine top-k of the corpus against a SMALL
 *    broadcast query set — the correctness baseline. O(corpus × queries) dot
 *    products, all inside codegen (`zip_with`/`aggregate`), one window.
 *  - [[annTopK]]: hyperplane-LSH multiprobe approximate variant; recall is
 *    tunable via `nPlanes`.
 *  - [[annTopKIvf]]: IVF lists from a seeded k-means coarse quantizer
 *    ([[trainIvf]]).
 *  - int8 ([[quantizeInt8]]) and PQ ([[trainPq]], [[adcTopKPq]]) compressed
 *    scorers, and the composed IVF → PQ-ADC shortlist → exact re-rank tier,
 *    in memory ([[annTopKIvfPqExact]]) and over list-partitioned storage
 *    ([[writeIvfPq]], [[annTopKIvfPqStored]]).
 *
 * One implementation per mechanism: every per-query ranking ends in
 * `topK`, both quantizers train on one `trainingSample`, and `driverKMeans`
 * is the only k-means.
 */
object SimilarityOps {

  /** Deterministic pseudo-random unit-ish hyperplanes (fixed seed; public so
    * oracle SQL can inline the exact same plane literals for DuckDB). */
  def planes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit bucket id of `v` under `nPlanes` fixed hyperplanes — native
    * expression (graft.functions.HyperplaneBucket): the Catalyst-HOF
    * composition creates an nPlanes×dim literal tree with seconds of janino
    * compile time per plan. */
  def hyperplaneBucket(v: Column, nPlanes: Int = 8, dim: Int = 64): Column =
    graft.functions.HyperplaneBucket(v,
      planes(nPlanes, dim).map(_.toArray).toArray)

  /** Multiprobe expansion of a hyperplane bucket: the home bucket plus every
    * 1-bit flip over `nPlanes` bits — the probe set of [[annTopK]]'s queries
    * and of `DedupOps.embeddingCandidates`' vectors. */
  private[operators] def multiprobe(bucket0: Column, nPlanes: Int): Column =
    array(bucket0 +: (0 until nPlanes).map(i => bucket0.bitwiseXOR(lit(1L << i))): _*)

  /**
   * Exact top-k: every (query, corpus) cosine, ranked per query.
   * `queries(query_id, qvec)` must be small — it is broadcast; the corpus is
   * scanned once, never shuffled (the only exchange is the per-query window,
   * partitioned by query_id — #queries × k rows).
   */
  def bruteForceTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    rerank(embeddings.crossJoin(broadcast(queries)), k)

  /** Per-query top-k of scored `(query_id, vec_id, cos)` rows: ranked by cos
    * desc, then vec_id asc (the deterministic tie-break the oracles mirror),
    * `rank` 1..k. The one ranking window every scorer here ends in. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Query-side multiprobe expansion: home bucket + every 1-bit flip. */
  private def probedQueries(queries: DataFrame, nPlanes: Int, dim: Int): DataFrame =
    queries
      .withColumn("bucket0", hyperplaneBucket(col("qvec"), nPlanes, dim))
      .withColumn("bucket", explode(multiprobe(col("bucket0"), nPlanes)))
      .drop("bucket0")

  /** Exact cosine re-rank of probed candidates → top-k per query.
    *
    * No (query_id, vec_id) dedup: every caller's candidate set is unique by
    * construction — a corpus vector lives in exactly ONE bucket/list and a
    * query's probe set is distinct values (bucket0 plus distinct 1-bit
    * flips; CentroidIds returns distinct ids; the ADC shortlist is a
    * row_number cut), so at most one probe row matches each vector. The
    * dropDuplicates this replaces was a full extra shuffle of the scored
    * candidate set on every ANN query (the single-exchange plan assertion
    * in PipelineSpec pins its absence; the oracles pin the results). */
  private def rerank(candidates: DataFrame, k: Int): DataFrame =
    topK(candidates.select(col("query_id"), col("vec_id"),
      round(DedupOps.cosine(col("embedding"), col("qvec")), 6).as("cos")), k)

  /**
   * ANN top-k: corpus bucketed by hyperplane LSH; each query MULTI-PROBES its
   * own bucket plus every 1-bit-flip neighbor (the standard recall lever —
   * points near a hyperplane land on either side), then exact re-rank.
   * In-memory formulation: the corpus is scanned once, probes join broadcast.
   */
  def annTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
              nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val corpus = embeddings.withColumn("bucket", hyperplaneBucket(col("embedding"), nPlanes, dim))
    rerank(corpus.join(broadcast(probedQueries(queries, nPlanes, dim)), "bucket"), k)
  }

  // ------------------------------------------------------------------------
  // IVF (inverted-file) variant: k-means coarse quantizer instead of random
  // hyperplanes — data-adaptive lists, the standard trade when the corpus is
  // clustered rather than isotropic.
  // ------------------------------------------------------------------------

  /** Broadcastable IVF index: the trained coarse-quantizer centroids. */
  final case class IvfIndex(centroids: Array[Array[Double]]) extends Serializable

  /** Deterministic hash-capped sample, behind [[trainIvf]]/[[trainPq]]
    * (via `trainingSample`) and [[assignStats]]. CEILING divisor: floor(n/max)
    * is 1 for max < n < 2*max (cap becomes a no-op) and overshoots by up to
    * ~2x in general; ceil keeps the expected sample size <= maxTrainRows for
    * every n. Uniform in vec_id and independent of storage order — a `limit`
    * would train only on the first partitions, which under clustered or
    * list-partitioned layouts is one region of the space. */
  private def hashCappedSample(embeddings: DataFrame, maxTrainRows: Long,
                               seed: Long): DataFrame = {
    val n = embeddings.count()
    if (n <= maxTrainRows) embeddings
    else embeddings.filter(
      pmod(xxhash64(col("vec_id"), lit(seed)),
        lit((n + maxTrainRows - 1) / maxTrainRows)) === 0)
  }

  /** The quantizers' training set on the driver, as double vectors sorted by
    * vec_id. The `maxTrainRows` cap makes it driver-sized BY DESIGN (a
    * quantizer needs distribution shape, not every row). DriverProbe first:
    * when the corpus fits the cap the probe IS the whole set — one collect
    * job; only an over-cap corpus pays the exact count the hash sample's
    * divisor needs. Sorting by vec_id makes the result independent of
    * partitioning and collect order. */
  private def trainingSample(embeddings: DataFrame, maxTrainRows: Long,
                             seed: Long): Array[Array[Double]] = {
    val narrow = embeddings
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
    DriverProbe.bounded(narrow, maxTrainRows)
      .getOrElse(hashCappedSample(narrow, maxTrainRows, seed).collect())
      .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
  }

  /**
   * Train the coarse quantizer: seeded k-means++ + Lloyd (`driverKMeans`)
   * over the `trainingSample` — deterministic for a fixed input, whatever its
   * partitioning. Ontology-of-lists sizing: nLists ≈ √corpus is the usual
   * heuristic. Training stays on the driver because the sample is a few MB:
   * a distributed k-means pays a Spark job per Lloyd iteration for it.
   */
  def trainIvf(embeddings: DataFrame, nLists: Int = 16, maxIter: Int = 10,
               seed: Long = 42L, maxTrainRows: Long = 100000L): IvfIndex =
    IvfIndex(driverKMeans(trainingSample(embeddings, maxTrainRows, seed),
      nLists, maxIter, seed))

  /**
   * Seeded k-means++ init + Lloyd iterations on the driver — the one k-means
   * behind [[trainIvf]] and [[trainPq]]. Deterministic for a fixed (data
   * order, seed); empty clusters keep their previous centroid (the MLlib
   * convention); stops early when no assignment changes. Runs sequentially
   * on the calling thread — no shared JVM-wide pool — and the accumulation
   * sums left to right, so centroids are reproducible doubles.
   */
  private[operators] def driverKMeans(data: Array[Array[Double]], k: Int,
                                      maxIter: Int, seed: Long): Array[Array[Double]] = {
    require(data.nonEmpty, "k-means: empty training sample — nothing to cluster")
    require(k > 0, s"k-means: k must be positive, got $k")
    val n = data.length
    val dim = data(0).length
    val rng = new scala.util.Random(seed)
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ D² seeding (duplicate points are fine: a fully-covered
    // sample reseeds uniformly, mirroring data with fewer distinct rows
    // than lists)
    val centers = Array.ofDim[Array[Double]](k)
    centers(0) = data(rng.nextInt(n)).clone()
    val d2 = new Array[Double](n)
    var i = 0
    while (i < n) { d2(i) = dist2(data(i), centers(0)); i += 1 }
    var c = 1
    while (c < k) {
      var total = 0.0
      i = 0
      while (i < n) { total += d2(i); i += 1 }
      val next =
        if (total <= 0) data(rng.nextInt(n))
        else {
          var target = rng.nextDouble() * total
          var j = 0
          while (j < n - 1 && target > d2(j)) { target -= d2(j); j += 1 }
          data(j)
        }
      centers(c) = next.clone()
      i = 0
      while (i < n) { val d = dist2(data(i), next); if (d < d2(i)) d2(i) = d; i += 1 }
      c += 1
    }
    // Lloyd
    val assign = Array.fill(n)(-1)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var p = 0
      while (p < n) {
        var best = 0; var bd = Double.MaxValue
        var j = 0
        while (j < k) { val d = dist2(data(p), centers(j)); if (d < bd) { bd = d; best = j }; j += 1 }
        if (assign(p) != best) { assign(p) = best; moved = true }
        p += 1
      }
      if (moved) {
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Long](k)
        i = 0
        while (i < n) {
          val s = sums(assign(i)); val row = data(i)
          var t = 0
          while (t < dim) { s(t) += row(t); t += 1 }
          counts(assign(i)) += 1
          i += 1
        }
        var j = 0
        while (j < k) {
          if (counts(j) > 0) {
            var t = 0
            while (t < dim) { centers(j)(t) = sums(j)(t) / counts(j); t += 1 }
          }
          j += 1
        }
      }
      iter += 1
    }
    centers
  }

  /** Nearest-centroid list assignment (native expression, nprobe=1). */
  def ivfListId(v: Column, index: IvfIndex): Column =
    element_at(graft.functions.CentroidIds(v, index.centroids, 1), 1)

  /**
   * IVF ANN top-k: corpus assigned to its nearest list once (the stored form
   * is [[writeIvfPq]]'s `partitionBy(list_id)` layout); queries probe their
   * `nprobe` nearest lists and re-rank exactly inside them. Probes × queries
   * stays broadcast-small.
   */
  def annTopKIvf(embeddings: DataFrame, queries: DataFrame, index: IvfIndex,
                 k: Int = 5, nprobe: Int = 4): DataFrame = {
    val corpus = embeddings.withColumn("list_id", ivfListId(col("embedding"), index))
    val qs = queries.withColumn("list_id",
      explode(graft.functions.CentroidIds(col("qvec"), index.centroids, nprobe)))
    rerank(corpus.join(broadcast(qs), "list_id"), k)
  }

  // ------------------------------------------------------------------------
  // int8 scalar quantization: the embedding STORAGE story at 100 TB — 4×
  // fewer bytes through scans, caches and shuffles, at a recall cost the
  // tests measure. Symmetric per-vector scaling (q = x * 127 / max|x|),
  // rounding via floor(x + 0.5): round() half-way semantics differ between
  // engines, floor is unambiguous everywhere — so the DuckDB oracle
  // recomputes the quantized vectors and their cosines EXACTLY.
  // ------------------------------------------------------------------------

  /** (vec_id, scale: double, qvec: array<tinyint>) — `scale` is max|x|;
    * dequantized component = qvec[i] * scale / 127. Zero vectors keep
    * scale 0 (qvec all zeros; cosine against them is NaN-guarded by
    * [[dequantized]]'s consumers exactly as for raw zero vectors). */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", aggregate(col("v"), lit(0.0d), (acc, x) => greatest(acc, abs(x))))
      .select(col("vec_id"), col("scale"),
        transform(col("v"), x =>
          when(col("scale") === 0.0d, lit(0))
            .otherwise(floor(x * 127.0d / col("scale") + 0.5d).cast("int")))
          .cast("array<tinyint>").as("qvec"))

  /** Dequantized double vector from (scale, qvec). */
  def dequantized(scale: Column, qvec: Column): Column =
    transform(qvec.cast("array<double>"), q => q * scale / 127.0d)

  /**
   * Exact top-k over the QUANTIZED corpus: same shape as [[bruteForceTopK]]
   * (queries broadcast, corpus never shuffled) but the scan reads 1/4 the
   * vector bytes; cosine runs on the dequantized values. Recall vs the
   * full-precision top-k is measured in tests (≥ ~0.9 at int8 on the
   * driver-provided embeddings); the decision to trade it for 4× IO is the
   * caller's dial.
   */
  def bruteForceTopKQuantized(quantized: DataFrame, queries: DataFrame,
                              k: Int = 5): DataFrame = {
    // zero vectors score the SENTINEL -2.0 (below any cosine) instead of
    // 0/0 = NaN: Spark ranks NaN FIRST under DESC while DuckDB's
    // list_cosine_similarity returns -1 for zero vectors — an undefined
    // cosine must sort LAST identically on both sides or a zero vector in a
    // refreshed fixture would flip the oracle from pass to fail
    val qs = queries.select(col("query_id"), col("qvec"),
      aggregate(col("qvec").cast("array<double>"), lit(0.0d),
        (acc, x) => greatest(acc, abs(x))).as("qmax"))
    val scored = quantized.withColumnRenamed("qvec", "q8") // queries carry "qvec"
      .crossJoin(broadcast(qs))
      .select(col("query_id"), col("vec_id"),
        when(col("scale") === 0.0d || col("qmax") === 0.0d, lit(-2.0d))
          .otherwise(round(DedupOps.cosine(dequantized(col("scale"), col("q8")), col("qvec")), 6))
          .as("cos"))
    topK(scored, k)
  }

  /**
   * Scale-folded int8 top-k — the production scorer for the quantized path:
   * the per-vector scale CANCELS out of the cosine
   * (`cos(q8·s/127, q) = Σ q8ᵢqᵢ / (|q8|·|q|)`), so per (row × query) pair
   * the kernel is one integer-valued dot product — no dequantization, no
   * per-pair multiply by scale — and the corpus-side norm |q8| is staged
   * ONCE per row before the cross join (the same stage-before-join rule as
   * [[adcTopKPq]]'s norm table). Mathematically identical ranking to
   * [[bruteForceTopKQuantized]]; floating-point summation order differs, so
   * rounded cosines may drift in the last digit — the equivalence test
   * bounds it.
   */
  def bruteForceTopKQuantizedFolded(quantized: DataFrame, queries: DataFrame,
                                    k: Int = 5): DataFrame = {
    // zero vectors (scale 0 ⇒ |q8| = 0, or a zero query) score the sentinel
    // -2.0, same convention as [[bruteForceTopKQuantized]] — never NaN
    // (Spark ranks NaN first under DESC; DuckDB returns -1: both wrong ways)
    val corpus = quantized
      .select(col("vec_id"), col("qvec").cast("array<double>").as("q8"))
      .withColumn("n8",
        sqrt(aggregate(transform(col("q8"), x => x * x), lit(0.0d), (acc, x) => acc + x)))
    val qs = queries
      .select(col("query_id"), col("qvec").cast("array<double>").as("qv"))
      .withColumn("qnorm",
        sqrt(aggregate(transform(col("qv"), x => x * x), lit(0.0d), (acc, x) => acc + x)))
    val dot = aggregate(zip_with(col("q8"), col("qv"), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)
    val scored = corpus.crossJoin(broadcast(qs))
      .select(col("query_id"), col("vec_id"),
        when(col("n8") === 0.0d || col("qnorm") === 0.0d, lit(-2.0d))
          .otherwise(round(dot / (col("n8") * col("qnorm")), 6)).as("cos"))
    topK(scored, k)
  }

  // ------------------------------------------------------------------------
  // Product quantization (PQ): codebook compression — m sub-spaces, k
  // centroids each, one byte code per sub-space (m bytes per vector vs
  // 4·dim; PQ4×8 on dim-64 floats is 64×). The per-subspace assignment
  // reuses the native CentroidIds kernel, so its exact dim-order double
  // arithmetic and first-min tie rule are what the oracle mirrors.
  // ------------------------------------------------------------------------

  /** Deterministic pseudo-random codebooks — the ORACLE configuration (the
    * SQL side inlines exactly these literals; production uses [[trainPq]]). */
  def pqCodebooks(m: Int = 4, k: Int = 8, subDim: Int = 16,
                  seed: Long = 7L): Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(m)(Array.fill(k)(Array.fill(subDim)(rng.nextGaussian())))
  }

  /** Production codebooks: per-subspace `driverKMeans` (seed `seed + s`,
    * 10 iterations) over slices of the ONE `trainingSample` that
    * [[trainIvf]] uses — collected once, sliced on the driver. A sampled row
    * whose length is not `dim` fails loudly (it would otherwise be clustered
    * as truncated slices). */
  def trainPq(embeddings: DataFrame, m: Int = 4, k: Int = 8, dim: Int = 64,
              seed: Long = 42L, maxTrainRows: Long = 100000L): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    require(k >= 1 && k <= 127, s"k must fit a byte code: $k (tinyint codes, sign reserved)")
    val subDim = dim / m
    val data = trainingSample(embeddings, maxTrainRows, seed)
    data.find(_.length != dim).foreach(v => throw new IllegalArgumentException(
      s"trainPq: embedding size ${v.length} != dim $dim"))
    (0 until m).toArray.map { s =>
      driverKMeans(data.map(_.slice(s * subDim, (s + 1) * subDim)), k, 10, seed + s)
    }
  }

  /** (vec_id, codes: array<tinyint> of length m) — m bytes per vector.
    * Codebook shape is validated here: centroid counts beyond 127 would wrap
    * the tinyint cast SILENTLY (ids 128.. become negative bytes, and the
    * +1-indexed reconstruction lookup would then index from the array END
    * instead of erroring). The embedding dim must equal m·subDim — enforced
    * PER ROW (a longer embedding would silently encode only its first dims,
    * and the reconstruction/cosine downstream would null out against the
    * full-length query vector; a mis-dialed caller must fail loudly). */
  def pqEncode(embeddings: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame =
    withPqCodes(embeddings, codebooks).select("vec_id", "codes")

  /** [[pqEncode]] keeping every input column (the composed IVF+PQ index build
    * derives list_id and codes from ONE corpus scan). */
  def withPqCodes(embeddings: DataFrame,
                  codebooks: Array[Array[Array[Double]]]): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(b => b.nonEmpty && b.length <= 127),
      "each PQ codebook needs 1..127 centroids (codes are signed bytes)")
    val subDim = codebooks(0)(0).length
    require(codebooks.forall(_.forall(_.length == subDim)),
      "PQ codebooks must share one subvector dimension")
    val m = codebooks.length
    val dim = m * subDim
    // dim check staged through its own projection so the raise_error branch
    // exists ONCE in the plan, not inlined into each of the m slices
    // (CollapseProject leaves multi-referenced non-cheap aliases staged)
    val checked = embeddings.withColumn("embedding",
      when(size(col("embedding")) === dim, col("embedding"))
        .otherwise(raise_error(format_string(
          s"pqEncode: embedding size %s != m*subDim = $dim",
          size(col("embedding")).cast("string")))))
    checked.withColumn("codes",
      array(codebooks.indices.map { s =>
        element_at(graft.functions.CentroidIds(
          slice(col("embedding"), s * subDim + 1, subDim), codebooks(s), 1), 1)
      }: _*).cast("array<tinyint>"))
  }

  /** Reconstructed double vector from PQ codes (codebook lookup per subspace). */
  def pqReconstructed(codes: Column, codebooks: Array[Array[Array[Double]]]): Column =
    concat(codebooks.indices.map { s =>
      element_at(typedLit(codebooks(s).map(_.toSeq).toSeq),
        element_at(codes, s + 1).cast("int") + 1)
    }: _*)

  /** REFERENCE implementation: top-k over full PQ reconstructions. Each
    * corpus row rebuilds a dim-length double vector before the cosine — at
    * 100 TB that negates most of the 64× byte win in compute and memory, so
    * production scoring is [[adcTopKPq]] (same ranking, m table lookups per
    * row); this path remains the semantics anchor the ADC equivalence test
    * compares against. */
  def bruteForceTopKPq(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
                       queries: DataFrame, k: Int = 5): DataFrame = {
    // reconstruction staged ONCE per corpus row, before the broadcast cross
    // join — inlined it would re-run per (row × query) pair
    val recon = codes.select(col("vec_id"),
      pqReconstructed(col("codes"), codebooks).as("dv"))
    topK(recon.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(DedupOps.cosine(col("dv"), col("qvec")), 6).as("cos")), k)
  }

  // ------------------------------------------------------------------------
  // PQ ADC (asymmetric distance computation) — the production PQ scorer:
  // cos(recon(codes), q) decomposes over subspaces,
  //   dot   = Σ_s dot(codebook_s[code_s], q_slice_s)   → per-QUERY lookup table
  //   |recon|² = Σ_s |codebook_s[code_s]|²             → query-INDEPENDENT table
  // so scoring a corpus row costs 2m table lookups + one divide — the codes
  // are never expanded back to dim-length vectors (the round-4 verdict's
  // scale defect in the reconstruction path).
  // ------------------------------------------------------------------------

  /** Per-subspace squared centroid norms, driver-computed in SEQUENTIAL dim
    * order (the q_ann_pq_adc oracle inlines exactly these double literals —
    * a different summation order could flip a round(·,6) digit). */
  def pqNorm2(codebooks: Array[Array[Array[Double]]]): Array[Array[Double]] =
    codebooks.map(_.map(_.foldLeft(0.0d)((acc, x) => acc + x * x)))

  /**
   * ADC top-k over PQ codes: per query, one m×kc lookup table of subspace
   * dot products (built once on the broadcast-small query side); per corpus
   * row, m dot lookups + m norm² lookups (the norm table is staged BEFORE
   * the cross join — it is query-independent). The scan reads m bytes of
   * codes per vector and nothing is reconstructed. Ranking is provably equal
   * to [[bruteForceTopKPq]] up to floating-point summation order (asserted
   * by the equivalence test; both paths round to 6 digits before ranking).
   */
  def adcTopKPq(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
                queries: DataFrame, k: Int = 5): DataFrame =
    topK(adcScored(codes, codebooks, queries), k)

  /** (query_id, vec_id, cos) for every (corpus row × query) via ADC. */
  private def adcScored(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
                        queries: DataFrame): DataFrame =
    withAdcLuts(codes, codebooks)
      .crossJoin(broadcast(adcQueries(queries, codebooks)))
      .select(col("query_id"), col("vec_id"), adcCos(codebooks.length).as("cos"))

  /** Corpus side: stage the per-row reconstruction norm² (m lookups in the
    * query-independent table) before any join. Keeps all input columns. */
  private def withAdcLuts(codes: DataFrame,
                          codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val norm2 = pqNorm2(codebooks)
    codes.withColumn("n2",
      codebooks.indices.map(s =>
        element_at(typedLit(norm2(s).toSeq),
          element_at(col("codes"), s + 1).cast("int") + 1)).reduce(_ + _))
  }

  /** Query side: slices staged first (HOF rule — a slice inside the transform
    * lambda would re-slice per centroid), then one dot-product LUT per
    * subspace plus the query norm. Broadcast-small by contract. */
  private def adcQueries(queries: DataFrame,
                         codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val subDim = codebooks(0)(0).length
    val sliced = queries
      .select(col("query_id"), col("qvec").cast("array<double>").as("qv"))
      .select(col("query_id") +: col("qv") +:
        (0 until m).map(s => slice(col("qv"), s * subDim + 1, subDim).as(s"qs$s")): _*)
    sliced.select(
      col("query_id") +:
        sqrt(aggregate(transform(col("qv"), x => x * x),
          lit(0.0d), (acc, x) => acc + x)).as("qnorm") +:
        (0 until m).map { s =>
          transform(typedLit(codebooks(s).map(_.toSeq).toSeq),
            cen => aggregate(zip_with(cen, col(s"qs$s"), (x, y) => x * y),
              lit(0.0d), (acc, x) => acc + x)).as(s"lut$s")
        }: _*)
  }

  /** ADC cosine from staged columns: m dot lookups, left-assoc sums — the
    * exact arithmetic the oracle mirrors. */
  private def adcCos(m: Int): Column = {
    val dot = (0 until m).map(s =>
      element_at(col(s"lut$s"), element_at(col("codes"), s + 1).cast("int") + 1))
      .reduce(_ + _)
    round(dot / (sqrt(col("n2")) * col("qnorm")), 6)
  }

  // ------------------------------------------------------------------------
  // Composed production ANN: IVF probe → PQ-ADC shortlist → exact re-rank.
  // The deployment shape at 100 TB: the scan prunes to nprobe/nLists of the
  // corpus (list-partitioned storage), ADC ranks the pruned lists reading m
  // bytes/vector, and only queries×shortlist full vectors are ever fetched
  // for the exact pass.
  // ------------------------------------------------------------------------

  /**
   * IVF+PQ+exact composed top-k.
   *  1. corpus index rows (vec_id, list_id, codes) from ONE scan — at scale
   *     written once `partitionBy(list_id)` by [[writeIvfPq]];
   *  2. each query probes its `nprobe` nearest lists; candidates are ADC-
   *     scored (2m lookups/row) and cut to `shortlist` per query;
   *  3. the shortlist's FULL vectors are fetched (broadcast-small id set →
   *     point lookups at scale) and exactly re-ranked to top-k.
   * With nprobe = nLists and shortlist ≥ corpus this is provably exact brute
   * force — the q_ann_ivf_pq oracle configuration; partial-dial recall is
   * measured on clustered data in tests and at 50k scale in SketchDialsProbe.
   */
  def annTopKIvfPqExact(embeddings: DataFrame, queries: DataFrame, index: IvfIndex,
                        codebooks: Array[Array[Array[Double]]], k: Int = 5,
                        nprobe: Int = 4, shortlist: Int = 64): DataFrame = {
    val indexRows = withPqCodes(embeddings, codebooks)
      .withColumn("list_id", ivfListId(col("embedding"), index))
      .select("vec_id", "list_id", "codes")
    composedTier(indexRows, embeddings.select(col("vec_id"), col("embedding")),
      queries, index, codebooks, k, nprobe, shortlist)
  }

  /** Shared ADC-shortlist → exact-re-rank tail of the composed tier. */
  private def composedTier(indexRows: DataFrame, vectors: DataFrame,
                           queries: DataFrame, index: IvfIndex,
                           codebooks: Array[Array[Array[Double]]], k: Int,
                           nprobe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    // query side: ADC LUTs + exploded nprobe probes, broadcast once
    val qs = adcQueries(queries, codebooks)
      .join(queries.select(col("query_id"),
        explode(graft.functions.CentroidIds(
          col("qvec").cast("array<double>"), index.centroids, nprobe)).as("list_id")),
        "query_id")
    val adc = withAdcLuts(indexRows, codebooks)
      .join(broadcast(qs), "list_id")
      .select(col("query_id"), col("vec_id"), adcCos(codebooks.length).as("cos"))
    val short = topK(adc, shortlist).select("query_id", "vec_id")
    // exact re-rank of the shortlist only: vectors ride no exchange — the
    // corpus scan is filtered by the broadcast shortlist id set
    val fetched = vectors
      .join(broadcast(short), "vec_id")
      .join(broadcast(queries), "query_id")
    rerank(fetched, k)
  }

  // ------------------------------------------------------------------------
  // Stored-index METADATA: the trained coarse centroids + PQ codebooks are
  // part of the index — without them, [[writeIvfPq]] storage is queryable
  // only by the session that trained them (a fresh session would have to
  // RETRAIN, and retrained quantizers do not reproduce the stored codes).
  // They persist as the MetaIO document `path/_index_meta.json` (leading
  // underscore → invisible to the data scan), versioned by a content hash
  // so an ingest under the WRONG quantizers — whose codes would silently
  // mis-rank against the stored ones — fails loudly instead.
  // ------------------------------------------------------------------------

  /** Assignment-distance stats over a (sampled) vector set: the index's
    * fit to a distribution, comparable across batches ([[ivfDrift]]). */
  final case class AssignStats(meanDist: Double, p95Dist: Double, n: Long)

  /** A stored index's quantizers, loaded back via [[readIndexMeta]];
    * `trainStats` = [[assignStats]] of the training corpus at build time
    * (None only for indexes written before drift detection existed). */
  final case class IvfPqMeta(index: IvfIndex,
                             codebooks: Array[Array[Array[Double]]],
                             version: String,
                             trainStats: Option[AssignStats] = None)

  /** Content-derived index version: md5 over the exact centroid/codebook
    * double BITS in canonical order — same quantizers ⇒ same version in any
    * session/process; any retrain ⇒ a different one. */
  def indexVersion(index: IvfIndex,
                   codebooks: Array[Array[Array[Double]]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(d: Double): Unit = {
      buf.clear(); buf.putLong(java.lang.Double.doubleToLongBits(d))
      md.update(buf.array())
    }
    md.update(s"ivf:${index.centroids.length}:".getBytes("UTF-8"))
    index.centroids.foreach { c => md.update(s"${c.length};".getBytes("UTF-8")); c.foreach(put) }
    md.update(s"pq:${codebooks.length}:".getBytes("UTF-8"))
    codebooks.foreach { b =>
      md.update(s"${b.length};".getBytes("UTF-8"))
      b.foreach { c => md.update(s"${c.length};".getBytes("UTF-8")); c.foreach(put) }
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def metaPath(path: String) = s"$path/_index_meta.json"

  // ------------------------------------------------------------------------
  // Index DRIFT detection — "retrain only when drift warrants a rebuild" as
  // an executable signal, not prose: the sidecar records the training
  // corpus's assignment-distance stats, and each ingest batch compares its
  // own stats against them. One narrow scan over a hash-capped sample per
  // check — O(sample), never corpus-sized.
  // ------------------------------------------------------------------------

  /** Deterministic pseudo-random coarse centroids — the ORACLE configuration
    * for [[assignDistances]] (the q_ann_drift SQL inlines exactly these
    * literals; production centroids come from [[trainIvf]]). */
  def ivfCentroidsOracle(nLists: Int = 8, dim: Int = 64,
                         seed: Long = 11L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nLists)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** `(vec_id, list_id, dist)`: nearest-centroid assignment plus the exact
    * squared-L2 distance to it, rounded to 6. The distance arithmetic
    * mirrors the [[graft.functions.CentroidIds]] kernel exactly (sequential
    * dim-order accumulation, first-min ties), so the oracle can recompute
    * every row: zip_with/aggregate fold left like the kernel's `while` sum,
    * and `0.0 + x₁ = x₁` exactly in IEEE. Embedding and centroid are staged
    * through projections BEFORE the lambdas (the HOF-CSE rule). */
  def assignDistances(embeddings: DataFrame, index: IvfIndex): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        ivfListId(col("embedding"), index).as("list_id"))
      .withColumn("cen",
        element_at(typedLit(index.centroids.map(_.toSeq).toSeq), col("list_id") + 1))
      .select(col("vec_id"), col("list_id"),
        round(aggregate(zip_with(col("v"), col("cen"), (a, b) => (a - b) * (a - b)),
          lit(0.0d), (acc, x) => acc + x), 6).as("dist"))

  /** Mean + p95 assignment distance over a hash-capped sample (the
    * [[trainIvf]] sampling rule: distribution SHAPE, uniform in vec_id). */
  def assignStats(embeddings: DataFrame, index: IvfIndex,
                  maxRows: Long = 100000L, seed: Long = 42L): AssignStats = {
    val row = assignDistances(hashCappedSample(embeddings, maxRows, seed), index)
      .agg(avg(col("dist")), expr("percentile(dist, 0.95)"), count(lit(1)))
      .collect().head
    require(row.getLong(2) > 0, "assignStats over an empty vector set")
    AssignStats(row.getDouble(0), row.getDouble(1), row.getLong(2))
  }

  /** Batch-vs-training drift: ratios of the batch's assignment-distance
    * stats to the training-time stats recorded in the index sidecar.
    * `rebuildRecommended` when either ratio clears its dial — a batch the
    * coarse quantizer fits as well as the training corpus keeps appending
    * codes that rank comparably; one it fits much worse is the signal that
    * appended codes are degrading (mean = whole-distribution shift, p95 =
    * a drifted subpopulation the mean would dilute). */
  final case class DriftReport(batch: AssignStats, train: AssignStats,
                               meanRatio: Double, p95Ratio: Double,
                               rebuildRecommended: Boolean)

  def ivfDrift(newVectors: DataFrame, meta: IvfPqMeta,
               meanRatioMax: Double = 1.25, p95RatioMax: Double = 1.5): DriftReport = {
    val train = meta.trainStats.getOrElse(throw new IllegalStateException(
      "index metadata carries no training assignment stats " +
        "(pre-drift-detection index) — rebuild with writeIvfPq to enable ivfDrift"))
    val batch = assignStats(newVectors, meta.index)
    // degenerate training distributions (every training vector ON its
    // centroid → meanDist/p95Dist = 0) must not produce NaN ratios that
    // silently compare false against the thresholds: 0/0 = "no movement"
    // (ratio 1), x/0 = unbounded drift (ratio ∞ ⇒ rebuild) — errs loud
    def ratio(b: Double, t: Double): Double =
      if (t > 0) b / t else if (b == 0) 1.0 else Double.PositiveInfinity
    val mr = ratio(batch.meanDist, train.meanDist)
    val pr = ratio(batch.p95Dist, train.p95Dist)
    DriftReport(batch, train, mr, pr, mr > meanRatioMax || pr > p95RatioMax)
  }

  /** Persist the quantizers next to the index as `_index_meta.json` (doubles
    * as `Double.toString`, which reads back bit-exact; no Spark job). One
    * document per index version — written by [[writeIvfPq]]. */
  def writeIndexMeta(path: String, index: IvfIndex,
                     codebooks: Array[Array[Array[Double]]],
                     trainStats: Option[AssignStats] = None): Unit = {
    def arr[T](xs: Array[T])(f: T => String) = xs.map(f).mkString("[", ",", "]")
    def num(d: Double) = java.lang.Double.toString(d)
    def vec(v: Array[Double]) = arr(v)(num)
    // auxiliary, NOT part of the version hash: stats describe the training
    // corpus, the version identifies the quantizers
    val stats = trainStats.fold("")(st =>
      s""","train_stats":{"mean_dist":${num(st.meanDist)},""" +
        s""""p95_dist":${num(st.p95Dist)},"n":${st.n}}""")
    val doc = s"""{"version":"${indexVersion(index, codebooks)}",""" +
      s""""centroids":${arr(index.centroids)(vec)},""" +
      s""""codebooks":${arr(codebooks)(arr(_)(vec))}$stats}"""
    MetaIO.forRoot(path).overwrite(metaPath(path), doc)
  }

  /** Load a stored index's quantizers — what makes [[writeIvfPq]] storage
    * queryable from a FRESH session (no retraining; retrained quantizers
    * would not reproduce the stored codes). Verifies the recorded version
    * against a recomputation over the loaded values, so sidecar corruption
    * surfaces here, not as silently wrong neighbors. */
  def readIndexMeta(path: String): IvfPqMeta = {
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.JsonNode
    val doc = MetaIO.forRoot(path).readJson(metaPath(path))
      .getOrElse(throw new IllegalStateException(
        s"no index metadata at ${metaPath(path)} — not writeIvfPq storage " +
          "or an older layout; rebuild with writeIvfPq"))
    def vec(n: JsonNode) = n.asScala.map(_.doubleValue).toArray
    def mat(n: JsonNode) = n.asScala.map(vec).toArray
    val version = doc.get("version").textValue
    val trainStats = Option(doc.get("train_stats")).map(st => AssignStats(
      st.get("mean_dist").doubleValue, st.get("p95_dist").doubleValue, st.get("n").longValue))
    val meta = IvfPqMeta(IvfIndex(mat(doc.get("centroids"))),
      doc.get("codebooks").asScala.map(mat).toArray, version, trainStats)
    val recomputed = indexVersion(meta.index, meta.codebooks)
    require(recomputed == version,
      s"index metadata at $path is corrupt: recorded version $version, content hashes to $recomputed")
    meta
  }

  /** Composed-tier STORAGE path: corpus written ONCE (as ingest batch 0)
    * partitioned by IVF list with the PQ codes AND the full vector in-file.
    * Columnar projection makes both tier reads cheap: ADC touches only the
    * (vec_id, codes) columns of probed partitions; the exact re-rank
    * re-reads only (vec_id, embedding) of the broadcast-small shortlist id
    * set. Layout: `path/batch_id=N/list_id=L/` — the batch level makes
    * incremental ingest ([[appendIvfPq]]) idempotent; list_id remains a
    * partition column, so probe pruning is unaffected. A FULL REBUILD:
    * clears any existing index first (prior batches were coded under a
    * possibly-different quantizer version and would silently mis-rank),
    * then persists the quantizers as the versioned `_index_meta.json` sidecar
    * ([[writeIndexMeta]]) so a fresh session can query and append without
    * retraining. */
  def writeIvfPq(embeddings: DataFrame, index: IvfIndex,
                 codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    MetaIO.forRoot(path).deleteRecursive(path)
    // training-time assignment stats ride along so every later ingest batch
    // can run [[ivfDrift]] against them
    writeIndexMeta(path, index, codebooks,
      trainStats = Some(assignStats(embeddings, index)))
    appendIvfPq(embeddings, index, codebooks, path, batchId = 0L)
  }

  /** Incremental index INGEST: a new batch of vectors lands in existing
    * [[writeIvfPq]] storage — list assignment + PQ codes are computed for
    * the BATCH only; the historical index is never rewritten (the
    * daily-increment shape; retrain the coarse/PQ quantizers only when
    * drift warrants a rebuild — which is [[writeIvfPq]], a new version).
    * ASSERTS the caller's quantizers match the stored index version: an
    * append under retrained quantizers would interleave incomparable codes
    * and silently corrupt every subsequent top-k. IDEMPOTENT: each batch
    * OVERWRITES its own `batch_id=N` subtree, so a retried/replayed ingest
    * job rewrites instead of appending duplicate index rows (duplicate
    * vec_ids would silently crowd genuine neighbors out of stored top-k
    * results — the re-rank has no dedup because candidates are unique by
    * construction). */
  def appendIvfPq(newVectors: DataFrame, index: IvfIndex,
                  codebooks: Array[Array[Array[Double]]], path: String,
                  batchId: Long): Unit = {
    val stored = readIndexMeta(path)
    val caller = indexVersion(index, codebooks)
    require(stored.version == caller,
      s"appendIvfPq under WRONG quantizers: index at $path is version " +
        s"${stored.version}, caller supplied $caller — load them with " +
        "readIndexMeta, or rebuild with writeIvfPq")
    val w = FoldSwap.compactedThrough(path)
    require(batchId > w,
      s"appendIvfPq batch_id=$batchId is already folded into this index by " +
        s"compaction (compacted through $w) — the per-batch overwrite that made " +
        "replays idempotent no longer covers it, so re-ingesting would DUPLICATE " +
        "rows; replay under a fresh batch id or rebuild with writeIvfPq")
    // one task per list before the partitioned write: without this each of
    // the batch's input partitions writes a file into EVERY list dir it
    // touches (parallelism × nLists tiny files per batch — measured 6k+
    // files after 12 daily appends in CompactionProbe); with it a batch
    // adds ~1 file per list
    withPqCodes(newVectors, codebooks)
      .withColumn("list_id", ivfListId(col("embedding"), index))
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$path/batch_id=$batchId")
  }

  // ------------------------------------------------------------------------
  // Index COMPACTION — the steady-state small-files dial. After D daily
  // appendIvfPq drops every probed list holds >= D file sets, and probe
  // cost becomes files-opened, not bytes. Compaction folds all batches
  // into one subtree with ~1 file per list.
  // ------------------------------------------------------------------------

  /** Steady-state index MAINTENANCE: fold every `batch_id=N` subtree into a
    * single `batch_id=<maxId>` with ~one file per list, then advance the
    * `_compacted_through` watermark so [[appendIvfPq]] fails LOUDLY on a
    * replay of a folded batch (its per-batch-overwrite idempotence no
    * longer covers it — a silent re-ingest would duplicate rows and crowd
    * genuine neighbors out of every stored top-k). Appends with ids above
    * the watermark are untouched, including ones racing the compaction.
    * Crash safety (staging, commit-point watermark, rerun recovery) is
    * [[graft.icelite.FoldSwap]]'s contract. `failAt` is its TEST-ONLY
    * failpoint. Returns the watermark. */
  def compactIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                   failAt: Option[String] = None): Long = {
    // fold only COMMITTED batches (the dir's _SUCCESS marker — appendIvfPq
    // is a single overwrite write): an append interrupted mid-write is
    // recovered by REPLAYING its batch id, and folding its partial rows
    // would bake them in while the watermark refuses exactly that replay.
    // Maximal committed prefix keeps the fold set downward-closed.
    val io = MetaIO.forRoot(path)
    FoldSwap.compact(path, "batch_id=",
      selectFoldable = ids => ids.sorted.takeWhile(id =>
        io.exists(s"$path/batch_id=$id/_SUCCESS")),
      stage = (tmp, _, target) => {
        // key-aligned shuffle ⇒ each list's rows in one task ⇒ one file
        // per list after the fold
        spark.read.parquet(path)
          .filter(col("batch_id") <= target).drop("batch_id")
          .repartition(col("list_id"))
          .write.partitionBy("list_id").parquet(tmp)
      },
      failAt = failAt)
  }

  /** Composed tier over [[writeIvfPq]] storage: each query's `nprobe` lists
    * become STATIC partition filters (queries broadcast-small by contract),
    * so the ADC scan touches ~nprobe/nLists of the corpus; ADC shortlists
    * within them and the exact re-rank reads only the shortlist's vectors. */
  def annTopKIvfPqStored(spark: org.apache.spark.sql.SparkSession, path: String,
                         queries: DataFrame, index: IvfIndex,
                         codebooks: Array[Array[Array[Double]]], k: Int = 5,
                         nprobe: Int = 4, shortlist: Int = 64): DataFrame = {
    // heal an interrupted-but-committed compaction before partition
    // discovery — otherwise a crash inside the fold's swap window would
    // serve a top-k silently missing every folded batch until the next
    // maintenance compactIvfPq
    FoldSwap.ensureRecovered(path, "batch_id=")
    val probeQs = queries.select(
      explode(graft.functions.CentroidIds(
        col("qvec").cast("array<double>"), index.centroids, nprobe)).as("list_id"))
    val probeLists = probeQs.distinct().collect().map(_.getInt(0))
    val stored = spark.read.parquet(path).filter(col("list_id").isin(probeLists: _*))
    composedTier(stored.select("vec_id", "list_id", "codes"),
      stored.select("vec_id", "embedding"), queries, index, codebooks,
      k, nprobe, shortlist)
  }
}
