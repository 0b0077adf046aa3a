package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.icelite.{FoldSwap, MetaIO}

/**
 * Full-text retrieval over `documents(doc_id, text)`: a distributed
 * inverted index + Okapi BM25 top-k scoring — the lookup primitive a
 * training-data pipeline needs beyond dedup (find the corpus documents
 * matching an eval probe, a licensing string, a quality exemplar) without
 * shipping the corpus to an external search system.
 *
 * 100 TB design, stage by stage:
 *  - postings: one codegen'd scan; tokens leave the scan only as 64-bit
 *    term hashes — the groupBy carries narrow (doc_id, dl, th, tf) rows
 *    with full map-side combine (a document's repeated terms collapse
 *    before the exchange). Term-hash equality stands in for term equality
 *    (the fingerprint collision-freeness convention).
 *  - document frequency: a second narrow groupBy on th alone — vocabulary-
 *    sized output, corpus-sized input collapsed map-side.
 *  - query side: queries are human-scale (10⁰–10⁵ rows) → their exploded
 *    term hashes BROADCAST twice: once to look up df in the vocabulary
 *    table, once to probe the postings scan. Only postings matching a
 *    query term — sparse by construction — reach the per-(query, doc)
 *    scoring aggregation.
 *  - top-k: ranking window per query_id; Spark's WindowGroupLimit pushes
 *    the partial top-k below the exchange (the q_domain_cap plan shape),
 *    so a query matching half the corpus still only shuffles k·partitions
 *    candidate rows.
 *
 * Scoring is ORACLE-EXACT by construction: each per-term BM25 contribution
 * is one fixed-association double expression (identical on the DuckDB
 * side), cast to DECIMAL(28,8) BEFORE the sum — the decimal sum is exact
 * and order-independent, so distributed aggregation order can never flip a
 * rank (the q1_agg decimal-then-double convention applied to floats that
 * are COMPUTED, not stored).
 */
object RetrievalOps {

  /**
   * Inverted-index postings: (doc_id, dl, th, tf) — one row per distinct
   * term per document, dl = document token length carried denormalized so
   * scoring never joins a corpus-sized doc-length table.
   */
  def postings(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(DedupOps.normText(col("text")), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .select(col("doc_id"), col("dl"), xxhash64(col("term")).as("th"))
      .groupBy("doc_id", "dl", "th")
      .agg(count(lit(1)).as("tf"))

  /**
   * Okapi BM25 top-k: for each query row (query_id, qtext), the k highest-
   * scoring documents as (query_id, doc_id, score, rank).
   *
   * idf uses the always-positive `ln(1 + (N - df + 0.5)/(df + 0.5))` form;
   * query terms are DISTINCT (bag-of-words probe, not weighted query);
   * terms absent from the corpus contribute nothing. Ties on the rounded
   * score break on doc_id ascending — deterministic on any engine.
   */
  def bm25TopK(documents: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // postings feed THREE consumers — corpus stats, vocabulary df, the
    // scoring join — and as a lazy plan each would re-tokenize the whole
    // corpus (r7 measurement: three full text scans per query batch). Pin
    // the narrow (doc_id, dl, th, tf) rows once; the stats action below
    // materializes the checkpoint and the scoring plan reuses it.
    val post = postings(documents).localCheckpoint(false)
    // corpus constants from the postings just computed (the
    // appendPostingsIndex convention): every doc carries its dl on each of
    // its rows and has >= 1 row (split never yields an empty array), so one
    // narrow distinct reproduces the exact same longs — no second
    // tokenization pass. Sums are exact longs so avgdl is reproducible.
    val stats = post.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n"), sum(col("dl")).cast("bigint").as("sdl")).head()
    require(stats.getLong(0) > 0,
      "bm25TopK over an EMPTY corpus — no documents to rank (and avgdl " +
        "would be 0/0); score against a non-empty corpus")
    scoreTopK(post, queries,
      nDocs = stats.getLong(0), sumDl = stats.getLong(1), k, k1, b)
  }

  /** Shared BM25 scorer: identical math (and therefore identical plans and
    * identical rounded scores) whether `post` is computed in-query or read
    * back pruned from [[writePostingsIndex]] storage. `sumDl`/`nDocs` are
    * exact longs so `avgdl` reproduces bit-for-bit across both paths. */
  private def scoreTopK(post: DataFrame, queries: DataFrame,
                        nDocs: Long, sumDl: Long, k: Int,
                        k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val avgdl = sumDl.toDouble / nDocs

    val qterms = queries
      .select(col("query_id"),
        array_distinct(split(DedupOps.normText(col("qtext")), " ")).as("qtoks"))
      .select(col("query_id"), explode(col("qtoks")).as("term"))
      .select(col("query_id"), xxhash64(col("term")).as("th"))
    // ONE broadcast probe of the tiny query side against the postings scan;
    // df is recovered from the matched rows THEMSELVES — every posting of a
    // matched term survives the join, so count over (query_id, th) IS the
    // term's global document frequency. (r7: the previous form aggregated
    // the ENTIRE vocabulary — a corpus-scale shuffle — only to keep the
    // query's ~dozens of terms, then paid a second broadcast to attach it.)
    val matched = post.join(broadcast(qterms), Seq("th"))
    // df per (query_id, th) as a partial-aggregating groupBy over the
    // matched rows, broadcast-joined back (both frames are query-term-sized)
    // — measured faster than a count window, whose sort pass the hash
    // aggregate avoids
    val qdf = matched.groupBy("query_id", "th").agg(count(lit(1)).as("df"))

    // fixed-association contribution; every paren mirrored in the oracle SQL
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))

    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    matched
      .join(broadcast(qdf), Seq("query_id", "th"))
      .select(col("query_id"), col("doc_id"),
        contrib.cast("decimal(28,8)").as("w"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("w")).cast("double").as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "score", "rank")
  }

  // --------------------------------------------------------------------
  // STORED postings index — the steady-state shape. Re-tokenizing 100 TB
  // per query batch is the cost the inverted index exists to remove:
  // postings are persisted ONCE, partitioned by a coarse term bucket, and
  // a query batch's bucket set becomes STATIC partition filters — a
  // 5-term query opens ~5/nBuckets of the postings, not the corpus.
  // Layout (the writeIvfPq conventions):
  //   path/_retrieval_meta.json        nBuckets (pruning is WRONG under a
  //                                    different bucket count — rides the index)
  //   path/postings/batch_id=N/tb=B/   (doc_id, dl, th, tf)
  //   path/stats/batch_id=N.json       the batch's (n_docs, sum_dl) — exact
  //                                    longs, summed at query time, so stored
  //                                    avgdl/idf match the in-memory path
  //                                    bit-for-bit; it lands last, so its
  //                                    existence COMMITS the batch
  // The .json records are MetaIO documents, never Spark reads or writes.
  // batch_id=N makes ingest idempotent (a replayed batch OVERWRITES its own
  // subtree and stats); FoldSwap compaction folds the daily small files back
  // to ~one file per bucket.
  // --------------------------------------------------------------------

  private def metaPath(path: String) = s"$path/_retrieval_meta.json"
  private def statsPath(path: String, batchId: Long) = s"$path/stats/batch_id=$batchId.json"
  private val StatsName = """batch_id=\d+\.json""".r

  /** Bucket count persisted with the index by [[writePostingsIndex]]. */
  def readPostingsMeta(path: String): Int =
    MetaIO.forRoot(path).readJson(metaPath(path)).map(_.get("n_buckets").intValue)
      .getOrElse(throw new IllegalStateException(
        s"no retrieval metadata at ${metaPath(path)} — not writePostingsIndex storage " +
          "or an older layout; rebuild with writePostingsIndex (a guessed bucket " +
          "count would silently prune the WRONG partitions)"))

  /** FULL REBUILD of a stored postings index: clears any existing index
    * (prior batches bucketed under a different nBuckets would mis-prune),
    * persists nBuckets, ingests `documents` as batch 0. Grow nBuckets with
    * corpus size — the probe cost of a Q-term query is Q/nBuckets of the
    * postings, the floor is one file set per probed bucket. */
  def writePostingsIndex(documents: DataFrame, path: String,
                         nBuckets: Int = 256): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val io = MetaIO.forRoot(path)
    io.deleteRecursive(path)
    io.overwrite(metaPath(path), s"""{"n_buckets":$nBuckets}""")
    appendPostingsIndex(documents, path, batchId = 0L)
  }

  /** Incremental postings INGEST: tokenize and band the BATCH only — the
    * historical postings are never read or rewritten (per-batch cost is
    * batch-sized forever). Caller contract: doc_ids are globally unique
    * across batches (the appendIvfPq vec_id contract — a re-ingested
    * doc_id would double its term frequencies). IDEMPOTENT per batch id;
    * REFUSES ids at or below the compaction watermark (their overwrite
    * subtree was folded away — a replay would duplicate postings). A crash
    * between the postings write and the stats document leaves the batch's
    * df/tf visible but its docs uncounted in N/avgdl — the recovery
    * contract is the streaming one: REPLAY the interrupted batch id (both
    * writes are overwrites) before trusting query scores, exactly as
    * StreamingDedup replays uncommitted batches. */
  def appendPostingsIndex(documents: DataFrame, path: String,
                          batchId: Long): Unit = {
    val nBuckets = readPostingsMeta(path)
    val w = FoldSwap.compactedThrough(s"$path/postings")
    require(batchId > w,
      s"appendPostingsIndex batch_id=$batchId is already folded into this " +
        s"index by compaction (compacted through $w) — replay under a fresh " +
        "batch id or rebuild with writePostingsIndex")
    postings(documents)
      .withColumn("tb", pmod(col("th"), lit(nBuckets.toLong)).cast("int"))
      // key-aligned shuffle before the partitioned write: ~1 file per
      // bucket per batch, not tasks×buckets (the appendIvfPq finding)
      .repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$path/postings/batch_id=$batchId")
    // stats come from the postings JUST WRITTEN, not a second tokenization
    // scan of the batch text: every doc carries its dl on each of its
    // posting rows (and has >= 1 row — split() never yields an empty
    // array), so one narrow distinct over (doc_id, dl) reproduces the
    // exact same longs at a fraction of the bytes. Explicit schema: an
    // EMPTY batch writes only _SUCCESS and inference would throw.
    val st = documents.sparkSession.read
      .schema("doc_id BIGINT, dl INT, th BIGINT, tf BIGINT, tb INT")
      .parquet(s"$path/postings/batch_id=$batchId")
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)), coalesce(sum(col("dl")).cast("bigint"), lit(0L)))
      .head()
    MetaIO.forRoot(path).overwrite(statsPath(path, batchId),
      s"""{"n_docs":${st.getLong(0)},"sum_dl":${st.getLong(1)}}""")
  }

  /** BM25 top-k over [[writePostingsIndex]] storage: the query batch's
    * distinct term buckets (bounded by min(query terms, nBuckets) — a
    * driver literal is what makes the scan PRUNE instead of post-filter)
    * become static partition filters; document frequency is re-derived
    * from the pruned scan (every posting of a term lives in its one
    * bucket, so pruned df = global df). Scores are EXACTLY [[bm25TopK]]'s
    * on the union of ingested batches. */
  def bm25TopKStored(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, k: Int,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // heal an interrupted-but-committed postings compaction before any scan
    // (FoldSwap.ensureRecovered doc) — stats documents are never folded and
    // need no recovery
    FoldSwap.ensureRecovered(s"$path/postings", "batch_id=")
    val nBuckets = readPostingsMeta(path)
    // a crash between appendPostingsIndex's postings write and its stats
    // document leaves the batch's tf/df visible while its docs are missing
    // from N/avgdl — scores would be silently mis-normalized until the
    // operator replays the batch. Readers HEAL-OR-FAIL here (the
    // FoldSwap.ensureRecovered convention): any live postings batch without
    // its committed stats document fails loudly with the replay remedy.
    val io = MetaIO.forRoot(path)
    FoldSwap.listIds(s"$path/postings", "batch_id=")
      .foreach { id =>
        if (!io.exists(statsPath(path, id)))
          throw new IllegalStateException(
            s"postings batch_id=$id at $path has no committed stats document " +
              "— an interrupted appendPostingsIndex. Replay that batch id " +
              "(both writes are overwrites) before querying, or its docs " +
              "stay uncounted in N/avgdl and every score is mis-normalized")
      }
    val stats = io.list(s"$path/stats").filter(StatsName.matches)
      .flatMap(n => io.readJson(s"$path/stats/$n"))
    val nDocs = stats.map(_.get("n_docs").longValue).sum
    require(nDocs > 0,
      s"postings index at $path holds ZERO documents (every ingested batch " +
        "was empty) — nothing to rank")
    val buckets = queries
      .select(explode(array_distinct(
        split(DedupOps.normText(col("qtext")), " "))).as("term"))
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("tb").isin(buckets: _*))
      .select("doc_id", "dl", "th", "tf")
    scoreTopK(post, queries,
      nDocs = nDocs, sumDl = stats.map(_.get("sum_dl").longValue).sum, k, k1, b)
  }

  /** Steady-state index MAINTENANCE: fold every COMMITTED `batch_id=N`
    * postings subtree into one with ~one file per bucket (after D daily
    * appends a Q-term query opens Q×D file sets; the fold restores Q).
    * Crash safety and the replay-refusal watermark are
    * [[graft.icelite.FoldSwap]]'s contract. Stats documents stay per-batch
    * (one small file each — never the files problem). Returns the watermark.
    *
    * "Committed" = the batch's STATS document exists (it is
    * [[appendPostingsIndex]]'s second and last step). A batch
    * caught in the documented crash window — postings written, stats missing
    * — must stay out of the fold: folding it would bake its tf/df rows into
    * the index while the watermark REFUSES the replay that is its one
    * recovery path (N/avgdl silently wrong forever). The fold therefore
    * takes the maximal committed PREFIX of batch ids, leaving any
    * interrupted batch (and everything above it) replayable. */
  def compactPostings(spark: org.apache.spark.sql.SparkSession, path: String,
                      failAt: Option[String] = None): Long = {
    val io = MetaIO.forRoot(path)
    FoldSwap.compact(s"$path/postings", "batch_id=",
      selectFoldable = ids => ids.sorted.takeWhile(id => io.exists(statsPath(path, id))),
      stage = (tmp, _, target) => {
        spark.read.parquet(s"$path/postings")
          .filter(col("batch_id") <= target).drop("batch_id")
          .repartition(col("tb"))
          .write.partitionBy("tb").parquet(tmp)
      },
      failAt = failAt)
  }

  // --------------------------------------------------------------------
  // HYBRID retrieval: sparse (BM25) + dense (embedding cosine) legs fused
  // by reciprocal-rank fusion. RRF is the standard zero-training fusion
  // (Cormack et al., SIGIR'09): score(d) = Σ_legs 1/(kRrf + rank_leg(d)),
  // docs missing from a leg contribute 0 from it. Fusing on RANKS (not raw
  // scores) is what makes the op oracle-exact: 1/(60+r) from integer ranks
  // is bit-identical on any IEEE engine, while cross-leg score calibration
  // never enters.
  // --------------------------------------------------------------------

  /**
   * Fuse two ranked legs — each (query_id, doc_id, rank) with rank 1-based
   * per query — into the top-k per query by RRF. Both legs arrive already
   * top-pool-cut (#queries × pool rows, human-scale), so the full-outer
   * join and the ranking window are query-sized, never corpus-sized: at
   * 100 TB the cost lives in the legs, and both legs have scale-validated
   * stored paths ([[bm25TopKStored]]; `SimilarityOps.annTopKIvfPqStored`)
   * that produce this exact (query_id, doc_id/vec_id, rank) shape.
   * Ties on the fused score break on doc_id ascending.
   */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, k: Int,
              kRrf: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive (got $k)")
    require(kRrf > 0, s"kRrf must be positive (got $kRrf)")
    val s = sparse.select(col("query_id"), col("doc_id"), col("rank").as("r_sparse"))
    val d = dense.select(col("query_id"), col("doc_id"), col("rank").as("r_dense"))
    // fixed association (sparse term + dense term, each coalesced to 0.0)
    // mirrored in the oracle SQL — two exact double divisions and one add
    val rrf = coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("r_sparse")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("r_dense")), lit(0.0))
    val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id").asc)
    s.join(d, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), rrf.as("rrf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), round(col("rrf"), 6).as("rrf"), col("rank"))
  }

  /**
   * In-memory hybrid top-k: BM25 over `documents(doc_id, text)` + exact
   * cosine over `embeddings(vec_id, embedding)` (vec_id keys the same
   * documents), fused by [[rrfFuse]]. `queries` carries BOTH probe forms:
   * (query_id, qtext, qvec). `poolK` is the per-leg candidate depth — the
   * usual dial: deeper pools cost leg time, not fusion time.
   */
  def hybridTopK(documents: DataFrame, embeddings: DataFrame,
                 queries: DataFrame, k: Int, poolK: Int = 20,
                 kRrf: Int = 60): DataFrame = {
    val sparse = bm25TopK(documents, queries.select("query_id", "qtext"), poolK)
    val dense = SimilarityOps.bruteForceTopK(
        embeddings, queries.select("query_id", "qvec"), poolK)
      .withColumnRenamed("vec_id", "doc_id")
    rrfFuse(sparse, dense, k, kRrf)
  }
}
