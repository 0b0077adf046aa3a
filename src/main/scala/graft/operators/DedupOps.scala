package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Contamination, Shingles, SimHash64}

/**
 * Deduplication operators for training-data pipelines over
 * `documents(doc_id, text, ...)`. Four families, each with a distinct
 * scale/recall trade-off; ALL formulated so the heavy lifting is Catalyst
 * expressions + shuffles on narrow key columns — at 100 TB, text never
 * shuffles, only (doc_id, signature) pairs do:
 *
 *  - exact:         hash-groupBy on the normalized text's 64-bit fingerprint;
 *  - minhash + LSH: shingle → K minhashes → b bands → band-bucket self-join;
 *  - simhash:       64-bit signature (native Catalyst expression) + banded
 *                   Hamming join;
 *  - n-gram Jaccard: exact verification metric (used to confirm LSH candidates).
 */
object DedupOps {

  /** Whitespace-fold + casefold — the canonical form used by every family. */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  // -------------------------------------------------------------------------
  // exact dedup
  // -------------------------------------------------------------------------

  /**
   * Exact duplicate groups: normalized-text fingerprint → min doc_id kept.
   * One shuffle on the 64-bit fingerprint (never on text); map-side partial
   * aggregation collapses duplicates before the exchange.
   */
  def exactDuplicates(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Documents surviving exact dedup (the kept representative per group). */
  def exactDedup(documents: DataFrame): DataFrame = {
    val keep = exactDuplicates(documents).select(col("keep_id").as("doc_id"))
    documents.join(keep, Seq("doc_id"), "left_semi")
  }

  // -------------------------------------------------------------------------
  // minhash + LSH
  // -------------------------------------------------------------------------

  /**
   * Distinct token n-gram shingles (default 3) of a token-array column —
   * the native [[graft.functions.TokenShingles]] kernel:
   * first-occurrence order, and fewer than n tokens give one whole-text
   * shingle. It and the band kernel below run as one loop per row inside
   * whole-stage codegen.
   *
   * HOF-CSE RULE (measured, 20×) for the higher-order-function lambdas left
   * in this file and its callers: any non-attribute expression referenced
   * inside a lambda is re-evaluated PER ARRAY ELEMENT — Catalyst does no
   * common-subexpression elimination across lambda scopes. So stage such
   * inputs through real projections (`.select(... .as("toks"))`) and let
   * lambdas touch only attributes.
   */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    Shingles.tokenShingles(toks, n)

  /**
   * Banded minhash signatures: documents → (doc_id, band_idx, band_hash),
   * `bands` narrow rows per doc. This IS the persistable signature-store
   * schema ([[incrementalMinhashDedup]]): bands × 16 bytes per retained doc,
   * written back as an icelite snapshot between ingest batches.
   *
   * One native kernel ([[graft.functions.MinhashBands]]) hashes each shingle
   * once and folds all k minhash rows and the per-band hashes in a single
   * pass; its band hashes are bit-identical to the xxhash64 / array_min /
   * concat_ws definition earlier stores were written with, so those stores
   * stay valid. A null text keeps its `bands` rows (each `xxhash64("")`).
   */
  def bandedSignatures(documents: DataFrame, k: Int = 16, bands: Int = 4): DataFrame =
    documents
      .select(col("doc_id"), posexplode(Shingles.minhashBands(
        shinglesFromTokens(split(normText(col("text")), " ")), k, bands)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")

  /**
   * LSH candidate pairs: band-bucket grouping over [[bandedSignatures]].
   * Returns distinct (a, b) doc_id pairs with a < b; only
   * (doc_id, band_hash) rows — ~bands × 16 bytes per doc, regardless of
   * text size — ever reach the grouping shuffle.
   */
  def minhashCandidates(documents: DataFrame, k: Int = 16, bands: Int = 4): DataFrame =
    bucketPairs(bandedSignatures(documents, k, bands), "band_idx", "band_hash")

  /** Mega-bucket guard bound: a bucket larger than this means the signature
    * is degenerate (n² pair explosion), so it is dropped — LOUDLY, via the
    * observed metrics below. */
  val MaxBucket = 10000

  // Guard diagnostics as session-level named accumulators: plan-side observe()
  // nodes get eliminated when AQE propagates an empty relation (exactly the
  // degenerate-signature case the diagnostic exists for), while accumulators
  // are updated when the aggregate stage RUNS, regardless of what the final
  // plan looks like. Cumulative per session (A3 diagnostics semantics).
  private val guardAccs =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext,
      (org.apache.spark.util.LongAccumulator, org.apache.spark.util.LongAccumulator)]()

  private def guardAccumulators(df: DataFrame) =
    guardAccs.computeIfAbsent(df.sparkSession.sparkContext, sc =>
      (sc.longAccumulator("graft.bucket_guard.dropped_buckets"),
        sc.longAccumulator("graft.bucket_guard.dropped_members")))

  /** Cumulative (dropped_buckets, dropped_members) this session — non-zero
    * means some sketch produced a mega-bucket and its pairs were suppressed.
    * A DIAGNOSTIC SIGNAL, not exact bookkeeping: re-executing a guarded plan
    * (second action, stage retry, speculation) re-counts its drops; zero vs
    * non-zero is the load-bearing bit. `dropped_members` counts observed
    * ROWS of over-cap buckets — an UPPER BOUND on distinct members (banded
    * inputs can repeat a doc_id in one bucket), and it can legitimately
    * exceed `MaxBucket` per dropped bucket; don't read it as a distinct
    * count (the capped aggregation buffer cannot know the true distinct
    * cardinality of a bucket it stopped collecting). */
  def bucketGuardCounts(spark: org.apache.spark.sql.SparkSession): (Long, Long) = {
    guardAccs.keySet.removeIf(_.isStopped) // don't leak stopped sessions' entries
    Option(guardAccs.get(spark.sparkContext))
      .map { case (b, m) => (b.value.longValue(), m.value.longValue()) }
      .getOrElse((0L, 0L))
  }

  /** Bucket membership lists + the guard, instrumented: dropped bucket/member
    * counts surface via [[bucketGuardCounts]] (a silent cap would read as "no
    * duplicates here" exactly when the signature is broken). The guard filter
    * is a tiny UDF over post-aggregation rows (bucket counts, not corpus).
    *
    * Aggregation is the memory-BOUNDED [[graft.functions.CappedCollectSet]]:
    * a plain collect_set would materialize a degenerate bucket's entire
    * membership in one aggregation buffer BEFORE the size filter runs — at
    * corpus scale that's an executor OOM on exactly the bucket the guard
    * exists to drop. Under the cap the output is identical to
    * `sort_array(collect_set(doc_id))`. */
  private def guardedBuckets(banded: DataFrame, bucketCols: Seq[String],
                             minMembers: Int = 2): DataFrame = {
    val (droppedBuckets, droppedMembers) = guardAccumulators(banded)
    val guard = udf { n: Long =>
      if (n > MaxBucket) { droppedBuckets.add(1L); droppedMembers.add(n); false }
      else n >= minMembers
    }
    banded
      .groupBy(bucketCols.map(col): _*)
      .agg(graft.functions.CappedCollectSet(col("doc_id"), MaxBucket).as("cs"))
      .filter(guard(col("cs.n")))
      .select(bucketCols.map(col) :+ col("cs.ids").as("ids"): _*)
  }

  /**
   * (bucket → member ids) → distinct candidate pairs (a < b), via ONE
   * groupBy + in-bucket pair expansion — not a self-join, which would
   * recompute the (expensive) signature subtree on both sides and shuffle it
   * twice. Bucket membership lists are near-duplicate groups, i.e. tiny;
   * genuinely hot buckets hit the (observed) `MaxBucket` guard.
   */
  private[operators] def bucketPairs(banded: DataFrame, bucketCols: String*): DataFrame =
    bucketPairsAll(banded, bucketCols: _*).distinct()

  /** bucketPairs without the final distinct, for callers that aggregate pair
    * counts or dedupe on the driver. */
  private def bucketPairsAll(banded: DataFrame, bucketCols: String*): DataFrame =
    guardedBuckets(banded, bucketCols)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))

  /** Exact SHINGLE-set Jaccard from two ALREADY-MATERIALIZED shingle-array
    * attributes: inlining the tokenize + shingle expression here would run it
    * once per reference. Stage arrays with [[shingleArray]] first. */
  def shingleJaccardFromArrays(sa: Column, sb: Column): Column =
    round(size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double"), 6)

  /** documents → (doc_id, sh): the staged shingle-array projection chain. */
  def shingleArray(documents: DataFrame, n: Int = 3): DataFrame =
    documents
      .select(col("doc_id"), split(normText(col("text")), " ").as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), n).as("sh"))

  /** The one verify join: candidate pairs `(a, b, …)` joined to
    * `features(id, f)` once per side, scored `name = score(f_a, f_b)` and
    * kept where `keep(name)` holds. Every pair column passes through, so
    * the candidate side may carry flags (the incremental `hist` marker).
    * @return pair columns ++ `name` */
  private def verifyPairs(pairs: DataFrame, features: DataFrame, name: String,
                          score: (Column, Column) => Column,
                          keep: Column => Column): DataFrame = {
    val Array(id, f) = features.columns
    def side(s: String) = features.select(col(id).as(s), col(f).as(s"f_$s"))
    pairs.join(side("a"), "a").join(side("b"), "b")
      .withColumn(name, score(col("f_a"), col("f_b")))
      .filter(keep(col(name)))
      .select(pairs.columns.toSeq.map(col) :+ col(name): _*)
  }

  /**
   * Full near-dup pipeline: LSH candidates → exact SHINGLE-Jaccard verify ≥
   * threshold (same similarity space as the signatures — a token-set verify
   * would mix spaces and make recall guarantees meaningless). The verify join
   * re-reads only candidate docs' text, so the quadratic blowup is bounded by
   * LSH bucket collisions, not corpus size. With r = k/bands rows per band,
   * P[miss | J ≥ t] = (1 - t^r)^bands — at r=1, bands=16, t=0.5 that is
   * ~1.5e-5 per pair (and the oracle checks the realized output exactly).
   */
  def minhashNearDuplicates(documents: DataFrame, threshold: Double = 0.8,
                            k: Int = 16, bands: Int = 4): DataFrame =
    // banded rows pinned: an over-probe tail re-reads them for its distinct
    // instead of re-running the full-corpus banding pass
    verifiedCandidates(
      bucketPairsAll(bandedSignatures(documents, k, bands).localCheckpoint(false),
        "band_idx", "band_hash"),
      documents, threshold)._1

  /**
   * The one minhash tail — candidate pairs → fetch → shingle → verify —
   * behind [[minhashNearDuplicates]] and [[incrementalMinhashDedup]].
   * Candidate pairs are near-dup-sized by construction (LSH collisions
   * behind the mega-bucket guard), so the NON-distinct stream (a pair
   * repeats once per shared band) is [[DriverProbe]]d and deduped on the
   * driver: the ids reach [[fetchDocsByIds]] as a local relation and the
   * pair list streams into the verify join from the driver. While the
   * candidate docs' shingle arrays fit the broadcast threshold by their
   * size estimate they are broadcast, once for both verify-join sides (a
   * reused exchange), and nothing is pinned; else they are pinned.
   * Over the probe (or with non-long ids, which the driver path would
   * re-type) the distinct pairs are pinned and their ids fetched the same
   * way. Only candidate docs are shingled, once.
   *
   * @param pairsAll candidate pairs (a, b, …); extra columns ride through
   * @param docs (doc_id, text) covering every candidate id
   * @return (verified pairs ++ `jaccard`, driverSized): driverSized means
   *         the pairs fit the probe, so the result may be collected outright
   */
  private def verifiedCandidates(pairsAll: DataFrame, docs: DataFrame,
                                 threshold: Double): (DataFrame, Boolean) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val longIds = Seq(pairsAll.schema("a"), pairsAll.schema("b"), docs.schema("doc_id"))
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    val probe = if (longIds) DriverProbe.bounded(pairsAll, DriverGroupLimit) else None
    val (cand, sh) = probe match {
      case Some(rows) =>
        val pairs = rows.distinct
        val candIds = pairs.iterator
          .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toArray.distinct.sorted
        val sh = shingleArray(fetchDocsByIds(docs, candIds.toSeq.toDF("doc_id")))
        val fits = sh.queryExecution.optimizedPlan.stats.sizeInBytes <=
          org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
        (spark.createDataFrame(java.util.Arrays.asList(pairs: _*), pairsAll.schema),
          if (fits) broadcast(sh) else sh.localCheckpoint(false))
      case None =>
        val cand = pairsAll.distinct().localCheckpoint(false)
        (cand, shingleArray(fetchDocsByIds(docs,
          cand.select(col("a").as("doc_id")).unionByName(cand.select(col("b").as("doc_id")))
            .distinct())).localCheckpoint(false))
    }
    (verifyPairs(cand, sh, "jaccard", shingleJaccardFromArrays, _ >= threshold),
      probe.isDefined)
  }

  // -------------------------------------------------------------------------
  // simhash
  // -------------------------------------------------------------------------

  /** 64-bit SimHash over the normalized token array (native Catalyst expression). */
  def simhash(text: Column): Column =
    SimHash64.simhash64(split(normText(text), " "))

  /** PORTABLE simhash: per-token hash = first 15 hex chars of md5 (60 bits) —
    * md5 exists in both Spark and DuckDB, so the full signature (and hence
    * the near-dup pair set) can be recomputed bit-exactly by the SQL oracle.
    * The FNV variant above stays the performance default. */
  def simhashPortable(text: Column): Column =
    SimHash64.simhash64FromHashes(
      transform(split(normText(text), " "),
        t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")))

  /**
   * SimHash near-dup candidates within Hamming distance ≤ maxHamming via the
   * block trick (Manku et al., WWW'07 pigeonhole): the 64-bit signature is
   * split into `maxHamming + 1` near-equal blocks, so any pair at distance
   * ≤ maxHamming agrees EXACTLY on at least one block — candidate recall is
   * structural, not probabilistic, for every value of the tunable (round-1
   * shipped fixed 4 blocks, which only guarantees distance ≤ 3 while the
   * query asked for 8). Block-bucket pairing + exact popcount verify;
   * shuffles only (doc_id, block) pairs.
   */
  def simhashNearDuplicates(documents: DataFrame, maxHamming: Int = 3,
                            portableHash: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming out of range: $maxHamming")
    val blocks = maxHamming + 1
    val sigCol = if (portableHash) simhashPortable(col("text")) else simhash(col("text"))
    // sigs feeds THREE consumers (banding + both sides of the verify join);
    // as a plan that is three full text→tokens→hash→vote corpus scans —
    // materialize the narrow (doc_id, sig) rows once instead. Lifetime: the
    // returned DataFrame reads these blocks lazily, so they cannot be
    // released here; the ContextCleaner unpersists them once the result plan
    // is GC'd
    val sigs = documents.select(col("doc_id"), sigCol.as("sig")).localCheckpoint(false)
    val blockCols = (0 until blocks).map { b =>
      val lo = b * 64 / blocks
      val width = (b + 1) * 64 / blocks - lo
      val mask = if (width == 64) -1L else (1L << width) - 1
      shiftrightunsigned(col("sig"), lo).bitwiseAND(lit(mask))
    }
    val blocked = sigs.select(col("doc_id"), col("sig"),
      posexplode(array(blockCols: _*)))
      .withColumnRenamed("pos", "block_idx").withColumnRenamed("col", "block_val")
    verifyPairs(bucketPairs(blocked, "block_idx", "block_val"), sigs, "hamming",
      (x, y) => bit_count(x.bitwiseXOR(y)), _ <= maxHamming)
  }

  // -------------------------------------------------------------------------
  // winnowing (rolling-hash) fingerprints
  // -------------------------------------------------------------------------

  /** Rolling-hash winnowing sketch of the normalized text (array<long>). */
  def winnowingSketch(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.functions.WinnowingSketch.winnowing_sketch(normText(text), k, w)

  /**
   * Near-duplicate pairs by shared winnowing fingerprints: two docs sharing
   * ≥ `minShared` DISTINCT sketch hashes share ≥ that many substrings of
   * length ≥ k. Shuffles only (doc_id, fingerprint) longs; pair expansion per
   * fingerprint bucket, then a count-filter over pairs.
   *
   * `minSharedFrac` makes the threshold RELATIVE to the smaller document's
   * sketch size (n_shared ≥ ⌈frac·min(|sketch_a|, |sketch_b|)⌉): an absolute
   * floor means "near-duplicate" only at one document length — at corpus
   * scale a fixed `minShared=3` flags boilerplate-sharing pairs by the
   * million (measured: 20% of all pairs at sf0.1, round-1 verdict).
   */
  def winnowingNearDuplicates(documents: DataFrame, minShared: Int = 2,
                              k: Int = 8, w: Int = 4,
                              minSharedFrac: Option[Double] = None): DataFrame = {
    // the fraction branch reads fps twice (pairing + per-doc counts), so the
    // sketch runs twice. Not pinned: a lazy localCheckpoint here left tasks
    // reporting to SQL metrics the driver had already dropped (DAGScheduler
    // "non-existent accumulator" ERRORs; the relative-threshold test pins
    // their absence), and an eager one costs a job
    val fps = documents.select(col("doc_id"),
      explode(winnowingSketch(col("text"), k, w)).as("fp"))
    val pairs = bucketPairsAll(fps, "fp")
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
    minSharedFrac match {
      case None => pairs.filter(col("n_shared") >= minShared)
      case Some(f) =>
        val cnt = fps.groupBy(col("doc_id")).agg(countDistinct(col("fp")).as("n_fp"))
        verifyPairs(pairs, cnt, "n_fp_min", least(_, _),
          m => col("n_shared") >= greatest(lit(minShared), ceil(m * f)))
          .select("a", "b", "n_shared")
    }
  }

  /**
   * Benchmark DECONTAMINATION (training-data hygiene): flag training
   * documents that cover at least `minFrac` of an eval item's token n-grams
   * — the standard n-gram contamination test run before every pretraining
   * cycle. Direction matters: coverage is
   * |grams(bench) ∩ grams(doc)| / |grams(bench)| — a long training document
   * containing a short eval item verbatim scores 1.0 on the ITEM even though
   * the item covers little of the document.
   *
   * 100 TB design: eval sets are tiny (10²–10⁵ items), so their gram sets
   * are collected once ([[DriverProbe]], at most [[BenchIndexLimit]] rows)
   * into a driver-built gram index, shipped with `sparkContext.broadcast`
   * (no job), and every document is tested map-side by the native
   * [[graft.functions.BenchCoverage]] kernel: one hash lookup per document
   * gram, no shuffle, no join. Benchmark rows group on
   * (bench_id, n_bench); n_shared counts the (doc gram, bench row gram)
   * matches of a group and frac is [[graft.functions.Contamination.frac]].
   * Over the probe the same quantities come from a gram join and a groupBy
   * per (doc_id, bench_id, n_bench) — the distributed branch.
   *
   * Precondition: `documents`' doc_ids are unique and non-null. The kernel
   * scores each row on its own, the join each doc_id's rows together, so
   * the branches agree only on such ids.
   *
   * @param documents (doc_id, text), doc_ids unique and non-null
   * @param benchmark (bench_id, text) eval items
   * @return (doc_id, bench_id, n_shared, n_bench, frac) for frac ≥ minFrac
   */
  def contamination(documents: DataFrame, benchmark: DataFrame, n: Int = 3,
                    minFrac: Double = 0.8): DataFrame =
    benchCoverage(benchmark, n, minFrac) match {
      case Some(cover) =>
        documents.select(col("doc_id"), explode(cover(col("text"))).as("m"))
          .select(col("doc_id"), col("m.*"))
      case None => contaminationJoin(documents, benchmark, n, minFrac)
    }

  /** `documents` minus every document [[contamination]] flags: a map-side
    * filter through the coverage kernel, or over the probe an anti-join of
    * the flagged ids. Same precondition as [[contamination]]; a null doc_id
    * passes either way, as through `left_anti`. */
  def decontaminate(documents: DataFrame, benchmark: DataFrame, n: Int = 3,
                    minFrac: Double = 0.8): DataFrame =
    benchCoverage(benchmark, n, minFrac) match {
      case Some(cover) =>
        documents.filter(size(cover(col("text"))) === 0 || col("doc_id").isNull)
      case None =>
        dropDocsByIds(documents, contaminationJoin(documents, benchmark, n, minFrac).select("doc_id"))
    }

  /** Most benchmark rows [[contamination]] indexes on the driver. */
  val BenchIndexLimit = 100000

  /** (bench_id, sh): each eval item's distinct gram array; n_bench = size(sh). */
  private def benchShingles(benchmark: DataFrame, n: Int): DataFrame =
    benchmark
      .select(col("bench_id"), split(normText(col("text")), " ").as("toks"))
      .select(col("bench_id"), shinglesFromTokens(col("toks"), n).as("sh"))

  /** The coverage kernel over a text column, when the benchmark fits the
    * driver index. */
  private def benchCoverage(benchmark: DataFrame, n: Int,
                            minFrac: Double): Option[Column => Column] = {
    val bench = benchShingles(benchmark, n)
    val benchType = bench.schema("bench_id").dataType
    DriverProbe.bounded(bench, BenchIndexLimit).map { rows =>
      val index = benchmark.sparkSession.sparkContext
        .broadcast(Contamination.index(rows, benchType))
      text => Contamination.coverage(
        shinglesFromTokens(split(normText(text), " "), n), index, benchType, minFrac)
    }
  }

  /** The distributed branch of [[contamination]]: distinct gram sets on
    * both sides, so the join emits unique triples (count, not
    * countDistinct). The benchmark side is broadcast, so the corpus side
    * never shuffles and only matched triples reach the aggregation shuffle. */
  private def contaminationJoin(documents: DataFrame, benchmark: DataFrame, n: Int,
                                minFrac: Double): DataFrame = {
    val docGrams = shingleArray(documents, n)
      .select(col("doc_id"), explode(col("sh")).as("gram"))
    val benchGrams = benchShingles(benchmark, n)
      .select(col("bench_id"), size(col("sh")).cast("long").as("n_bench"),
        explode(col("sh")).as("gram"))
    docGrams.join(broadcast(benchGrams), "gram")
      .groupBy("doc_id", "bench_id", "n_bench")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("frac", round(col("n_shared").cast("double") / col("n_bench"), 6))
      .filter(col("frac") >= minFrac)
      .select("doc_id", "bench_id", "n_shared", "n_bench", "frac")
  }

  // -------------------------------------------------------------------------
  // near-dup groups → survivors (the decision a dedup pipeline actually ships)
  // -------------------------------------------------------------------------

  /** Bound of the driver branch of [[nearDupGroups]] and of the candidate
    * pair probe of the minhash tail ([[minhashNearDuplicates]],
    * [[incrementalMinhashDedup]]) — an alias of [[Closure.DriverGraphLimit]],
    * the connected-components cost switch. */
  val DriverGroupLimit = Closure.DriverGraphLimit

  /**
   * Collapse near-duplicate PAIRS into groups (connected components) and pick
   * one survivor per group (min doc_id — deterministic). Docs in no pair are
   * their own survivor implicitly; this returns only docs that belong to some
   * group: (doc_id, keep_id). Components run on the pair list, which is
   * near-dup-sized, not corpus-sized, through [[Closure.connectedComponents]]
   * (its long-id branch: numeric-min roots on both sides of its cost switch).
   */
  def nearDupGroups(pairs: DataFrame, driverLimit: Long = DriverGroupLimit): DataFrame = {
    // ids must already be integral: cast("long") on e.g. string ids would
    // null them SILENTLY and make the caller's dedup decision a no-op
    Seq("a", "b").foreach { c =>
      import org.apache.spark.sql.types._
      val ok = pairs.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _                                             => false
      }
      require(ok, s"nearDupGroups needs integral doc ids; column '$c' is " +
        pairs.schema(c).dataType.catalogString)
    }
    Closure.connectedComponents(pairs.select(col("a").cast("long"), col("b").cast("long")),
        driverLimit = driverLimit)
      .select(col("curie").as("doc_id"), col("component").as("keep_id"))
  }

  /** End-to-end minhash dedup decision: documents → LSH pairs → groups →
    * the documents that SURVIVE (group representatives + untouched docs). */
  def minhashSurvivors(documents: DataFrame, threshold: Double = 0.8,
                       k: Int = 16, bands: Int = 4): DataFrame =
    survivors(documents, "doc_id", minhashNearDuplicates(documents, threshold, k, bands))

  /** The one survivor rule: each connected group of verified pairs (a, b)
    * keeps its min id ([[nearDupGroups]]); every other member is dropped
    * from `items`, keyed on `idCol`. Items in no pair pass untouched. */
  private def survivors(items: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dropDocsByIds(items, nearDupGroups(pairs)
      .filter(col("doc_id") =!= col("keep_id")).select(col("doc_id").as(idCol)), idCol)

  // -------------------------------------------------------------------------
  // incremental NEAR-dup dedup (batch vs historical signature store)
  // -------------------------------------------------------------------------

  /** Batch×store candidate pairs (a = batch doc, b = retained hist doc) via
    * band-bucket equality, GUARDED on the store side: store buckets are
    * grouped (memory-bounded [[graft.functions.CappedCollectSet]]) and a
    * bucket larger than [[MaxBucket]] — a degenerate signature the
    * steady-state store would otherwise keep forever — is dropped LOUDLY
    * through the same [[bucketGuardCounts]] accumulators as the intra-batch
    * guard, instead of exploding the join |batch bucket|×|store bucket|
    * (one guard policy for both candidate paths). Both the groupBy and the
    * join are keyed on (band_idx, band_hash), the store's bucket columns —
    * a bucketed store read satisfies both distributions, so NO store-side
    * exchange exists in the plan and only the batch side shuffles. Not
    * distinct: a pair repeats once per shared band (≤ bands); the minhash
    * tail dedupes. */
  private[graft] def crossStoreCandidates(batchBands: DataFrame,
                                          store: DataFrame): DataFrame = {
    val storeBuckets = guardedBuckets(
      store.select("doc_id", "band_idx", "band_hash"),
      Seq("band_idx", "band_hash"), minMembers = 1)
    batchBands.join(storeBuckets, Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("a"), explode(col("ids")).as("b"))
  }

  /** How many ids the driver-side probe of [[fetchDocsByIds]] and
    * [[dropDocsByIds]] will hold before falling back to a join (ids are 8
    * bytes; the IN list must also stay small enough to plan). */
  val FetchProbeLimit = 10000

  /** Fetch `docs` rows whose doc_id is in `ids` (a near-dup-sized set) —
    * the one "IN filter, else join" step of every candidate fetch.
    * [[DriverProbe]]: if the id set fits [[FetchProbeLimit]], push it as an
    * `IN` filter — on a doc_id-BUCKETED corpus table that filter prunes
    * whole bucket files at the scan (point lookups; `SelectedBucketsCount`
    * plan-pinned in tests) — else fall back to a semi-join on `ids` (full
    * scan, still no shuffle of `docs` when `ids` broadcasts). Callers that
    * already hold the ids on the driver pass a local relation: its probe
    * runs no Spark job, and its exact size statistics let the planner
    * broadcast it on overflow. */
  private[graft] def fetchDocsByIds(docs: DataFrame, ids: DataFrame): DataFrame =
    byIds(docs, "doc_id", ids, keep = true)

  /** The anti-join twin of [[fetchDocsByIds]]: `docs` rows whose `idCol` is
    * NOT in `ids` (a decision-sized set), as a `NOT IN` filter or else a
    * `left_anti` join. Null ids pass either way, as through `left_anti`. */
  private[graft] def dropDocsByIds(docs: DataFrame, ids: DataFrame,
                                   idCol: String = "doc_id"): DataFrame =
    byIds(docs, idCol, ids, keep = false)

  private def byIds(docs: DataFrame, idCol: String, ids: DataFrame, keep: Boolean): DataFrame =
    DriverProbe.bounded(ids, FetchProbeLimit) match {
      case Some(rows) =>
        // a null in the list would make every NOT IN test null
        val in = col(idCol).isin(rows.map(_.get(0)).filter(_ != null): _*)
        docs.filter(if (keep) in else !in || col(idCol).isNull)
      case None => docs.join(ids, Seq(idCol), if (keep) "left_semi" else "left_anti")
    }

  /**
   * Incremental minhash dedup of a new batch against a HISTORICAL signature
   * STORE — the steady-state ingest shape (full-corpus re-dedup per batch
   * would re-shingle and re-shuffle 100 TB for every daily increment). The
   * exact-dedup twin is `TextOps.incrementalExactDedup`.
   *
   * State carried between batches: `store(doc_id, band_idx, band_hash)` =
   * [[bandedSignatures]] of every RETAINED doc — bands × ~16 bytes/doc,
   * written back as a BUCKETED icelite snapshot
   * (`BucketedTables.BucketSpec(n, Seq("band_idx", "band_hash"))` — the
   * [[graft.streaming.StreamingDedup]] layout).
   *
   * One candidate stream feeds the minhash tail of [[minhashNearDuplicates]]:
   * intra-batch band-bucket pairs united with the batch×store pairs of
   * [[crossStoreCandidates]] (flagged `hist`), whose groupBy and join are
   * keyed on the store's OWN bucket columns — a bucketed store read adds no
   * store-side exchange (plan-pinned in OperatorSpec), so only the batch's
   * bands shuffle and per-batch cost stops growing with corpus size. The
   * tail's docs are batch ∪ history (ids disjoint by the ingest contract
   * below): one probe, one candidate fetch, one shingle pass. History
   * signatures are never recomputed, and history TEXT is read only for
   * candidate ids via [[fetchDocsByIds]] (bucket-pruned point lookups on a
   * doc_id-bucketed corpus when the id set is small).
   *
   * Survivor rule (≡ full-corpus [[minhashSurvivors]] over history ∪ batch
   * whenever historical doc_ids precede batch doc_ids — asserted by the
   * OperatorSpec equivalence test):
   *  - a batch doc connected (via verified pairs over batch ∪ history) to
   *    any historical doc is dropped — the retained historical copy is the
   *    representative;
   *  - in history-free components the min batch doc_id survives;
   *  - batch docs in no verified pair survive untouched.
   * Components run on the driver ([[DriverUnionFind]]) when the candidate
   * stream fit the tail's probe (the verified pairs are then driver-sized
   * too), else through [[nearDupGroups]].
   *
   * @return (survivors, updatedStore) — updatedStore = store ∪ survivors'
   *   band signatures (reuses the already-computed batch bands; nothing
   *   historical is recomputed)
   */
  def incrementalMinhashDedup(batch: DataFrame, store: DataFrame,
                              history: DataFrame, threshold: Double = 0.8,
                              k: Int = 16, bands: Int = 4): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    import spark.implicits._
    // batch bands feed THREE consumers (intra pairing, cross join, store
    // update) — pin the narrow rows once
    val batchBands = bandedSignatures(batch, k, bands).localCheckpoint(false)
    val (verified, driverSized) = verifiedCandidates(
      bucketPairsAll(batchBands, "band_idx", "band_hash").withColumn("hist", lit(false))
        .unionByName(crossStoreCandidates(batchBands, store).withColumn("hist", lit(true))),
      batch.select("doc_id", "text").unionByName(history.select("doc_id", "text")),
      threshold)
    // every member of a verified component containing a historical doc is
    // dropped, plus every non-representative member of any component
    val dropped: DataFrame =
      if (driverSized) {
        val rows = verified.select("a", "b", "hist").collect()
        val histIds = rows.collect { case r if r.getBoolean(2) => r.getLong(1) }.toSet
        val comp = DriverUnionFind.components(rows.iterator.map(r => (r.getLong(0), r.getLong(1))))(
          (x, y) => math.min(x, y))
        val histKeep = comp.collect { case (d, c) if histIds(d) => c }.toSet
        comp.collect { case (d, c) if histKeep(c) || d != c => d }.toSeq.sorted.toDF("doc_id")
      } else {
        val pairs = verified.select("a", "b", "hist").localCheckpoint(false)
        val groups = nearDupGroups(pairs)
        val histComponents = groups
          .join(pairs.filter(col("hist")).select(col("b").cast("long").as("doc_id")),
            Seq("doc_id"), "left_semi")
          .select("keep_id").distinct()
        // the drop-decision set is PINNED: it is the junction both returned
        // frames hang off (survivors' drop step; store update via survivors),
        // and as a lazy plan the components would re-run per consumer action
        groups.join(histComponents, Seq("keep_id"), "left_semi").select("doc_id")
          .unionByName(groups.filter(col("doc_id") =!= col("keep_id")).select("doc_id"))
          .distinct()
          .localCheckpoint(false)
      }
    val survivors = dropDocsByIds(batch, dropped)
    val updated = store.select("doc_id", "band_idx", "band_hash")
      .unionByName(batchBands.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi"))
    (survivors, updated)
  }

  // -------------------------------------------------------------------------
  // embedding near-dup
  // -------------------------------------------------------------------------

  /** Cosine similarity between two float-array columns — zip_with + aggregate.
    * Operands widen to double FIRST: float×float products round to float and
    * drift a ulp from any double-precision reference (enough to flip a
    * round(·, 6) digit — observed against the DuckDB oracle). */
  def cosine(a0: Column, b0: Column): Column = {
    val a = a0.cast("array<double>")
    val b = b0.cast("array<double>")
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0d), (acc, x) => acc + x))
    dot / (na * nb)
  }

  /**
   * Candidate pairs for embedding near-dup via hyperplane-LSH with EXPLICIT
   * 1-bit multiprobe: every vector lands in its home bucket plus each 1-bit
   * flip, so two vectors become a candidate iff their sign buckets differ in
   * ≤ 2 of `planes` bits. Only (vec_id, bucket) rows ever shuffle — the
   * vectors themselves stay in the scan — and [[bucketPairs]] contributes its
   * mega-bucket guard. (Round-1 shipped a bucket self-join that carried the
   * full vectors through the exchange twice, unguarded — the scale-killer
   * this replaces.)
   */
  def embeddingCandidates(embeddings: DataFrame, planes: Int = 16, dim: Int = 64): DataFrame = {
    val probed = embeddings
      .select(col("vec_id").as("doc_id"),
        SimilarityOps.hyperplaneBucket(col("embedding"), planes, dim).as("bucket0"))
      .select(col("doc_id"),
        explode(SimilarityOps.multiprobe(col("bucket0"), planes)).as("bucket"))
    bucketPairs(probed, "bucket")
  }

  /**
   * Embedding-cosine near-duplicates ≥ threshold: multiprobed LSH candidates
   * (narrow rows only), then ONE re-join of the vectors for the exact cosine
   * verify — the quadratic work is bounded by bucket collisions, and vector
   * bytes cross an exchange once per side of the verify join, never inside
   * the candidate self-pairing.
   */
  def embeddingNearDuplicates(embeddings: DataFrame, threshold: Double = 0.95,
                              planes: Int = 16, dim: Int = 64): DataFrame =
    verifyCosine(embeddingCandidates(embeddings, planes, dim), embeddings, threshold)

  /** Exact-cosine verify of candidate (a, b) pairs through [[verifyPairs]]:
    * the vectors join the NARROW pair list once per side — vector bytes
    * never enter the candidate self-pairing (shared by the LSH and the
    * semantic/IVF candidate generators). */
  private def verifyCosine(cand: DataFrame, embeddings: DataFrame,
                           threshold: Double): DataFrame =
    verifyPairs(cand, embeddings.select("vec_id", "embedding"), "cos", cosine, _ >= threshold)

  // -------------------------------------------------------------------------
  // semantic dedup (SemDeDup: cluster-scoped embedding near-dup)
  // -------------------------------------------------------------------------

  /**
   * SemDeDup candidates (Abbas et al. 2023, arXiv:2303.09540): vectors are
   * assigned to their nearest IVF centroid (nprobe = 1) and only SAME-CLUSTER
   * vectors can pair — the learned-centroid counterpart of
   * [[embeddingCandidates]]' random hyperplanes, trading the multiprobe
   * recall dial for data-adapted partitions. The quantizer is the SAME
   * [[SimilarityOps.IvfIndex]] the ANN tier trains, so one clustering serves
   * retrieval AND dedup.
   *
   * Scale shape identical to the LSH generator: only narrow
   * (doc_id, list_id) rows shuffle — vectors stay in the scan — and
   * [[bucketPairs]]' mega-bucket guard drops a degenerate cluster LOUDLY
   * instead of exploding it quadratically. Size the index so the expected
   * cluster stays well under [[MaxBucket]] (nLists ≳ corpus / MaxBucket,
   * the Dials convention).
   */
  def semanticCandidates(embeddings: DataFrame,
                         index: SimilarityOps.IvfIndex): DataFrame = {
    val assigned = embeddings.select(col("vec_id").as("doc_id"),
      element_at(
        graft.functions.CentroidIds(col("embedding"), index.centroids, 1), 1)
        .as("list_id"))
    bucketPairs(assigned, "list_id")
  }

  /** Cluster-scoped cosine near-duplicates ≥ threshold (pairs + exact cos):
    * [[semanticCandidates]] then the shared one-rejoin verify. */
  def semanticNearDuplicates(embeddings: DataFrame,
                             index: SimilarityOps.IvfIndex,
                             threshold: Double = 0.95): DataFrame =
    verifyCosine(semanticCandidates(embeddings, index), embeddings, threshold)

  /** Doc-level SemDeDup decision: connected near-dup groups keep their min
    * vec_id (the [[minhashSurvivors]] rule in the embedding space). */
  def semanticSurvivors(embeddings: DataFrame, index: SimilarityOps.IvfIndex,
                        threshold: Double = 0.95): DataFrame =
    survivors(embeddings, "vec_id", semanticNearDuplicates(embeddings, index, threshold))

  // -------------------------------------------------------------------------
  // span-level (substring) dedup — find repeated PASSAGES, not documents
  // -------------------------------------------------------------------------

  /**
   * Maximal duplicated token spans: every position covered by an n-token
   * gram whose exact text occurs in ≥ 2 DISTINCT documents, with
   * overlapping/adjacent gram hits merged into maximal `[span_start,
   * span_end]` token intervals per document (0-based, inclusive).
   *
   * This is the span-level family the doc-level ops above cannot express:
   * two long documents sharing one boilerplate paragraph are NOT
   * near-duplicates under minhash/simhash (low global Jaccard), but the
   * paragraph itself is exactly the cross-document repetition that training
   * runs memorize. The published treatment builds a corpus-wide suffix
   * array; the distributed equivalent is this gram-position inverted index
   * — same O(total tokens) row count, but each row is a narrow
   * (gram_hash, doc_id, pos) triple that shuffles and partially aggregates,
   * where a suffix array needs a global sort of the corpus.
   *
   * 100 TB design, stage by stage:
   *  - grams: one codegen'd scan; text never leaves the scan — only
   *    16-byte (doc_id, pos, gh) rows are produced (gh = 64-bit gram hash;
   *    duplicate-gram equality is hash equality, the [[exactDuplicates]] /
   *    fingerprint collision-freeness convention).
   *  - cross-doc test: groupBy(gh) with min/max(doc_id) — partial map-side
   *    aggregation collapses each document's internal repeats before the
   *    exchange, and `min < max` is the cheapest possible ≥-2-distinct-docs
   *    predicate (no countDistinct buffer).
   *  - hits: left_semi back to the gram rows on gh (AQE broadcasts the
   *    duplicated-hash set when sparse — duplication is the exception).
   *  - merge: per-doc gaps-and-islands window over hit POSITIONS only —
   *    rows reaching this shuffle are the duplicated hits, not the corpus.
   *
   * @param n gram width in tokens: spans shorter than n are invisible, and
   *          a human-meaningful "memorizable passage" floor (the published
   *          setting is 50 BPE tokens; tests/oracles use smaller n so the
   *          fixture corpus actually contains duplicates)
   */
  def duplicateSpans(documents: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = gramPositions(documents, n)
    val dup = grams.groupBy("gh")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") < col("mx"))
      .select("gh")
    val hits = grams.join(dup, Seq("gh"), "left_semi")
    // gaps-and-islands: a hit at pos covers [pos, pos+n-1]; with a FIXED
    // width the running span end is monotone in pos, so overlap-or-adjacency
    // with the previous hit is just pos <= lag(pos) + n (first row: the
    // when() condition is null -> otherwise(1) opens the first island)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("brk",
        when(col("pos") <= lag("pos", 1).over(w) + n, lit(0)).otherwise(lit(1)))
      .withColumn("isl", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + lit(n - 1)).cast("long").as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** (doc_id, pos, gh): 64-bit hash of each n-token gram at 0-based token
    * position pos. Tokenization and the gram-hash array are staged through
    * separate projections (HOF-CSE rule at [[shinglesFromTokens]]); docs
    * shorter than n tokens contribute nothing. */
  private def gramPositions(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), split(normText(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        transform(sequence(lit(0), size(col("toks")) - n),
          i => xxhash64(concat_ws(" ", slice(col("toks"), i + 1, lit(n))))).as("gh_arr"))
      .select(col("doc_id"), posexplode(col("gh_arr")))
      .toDF("doc_id", "pos", "gh")
}
