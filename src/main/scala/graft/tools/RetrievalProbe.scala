package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, Dials, RetrievalOps}

/**
 * Quantifies what the stored postings index buys at 10× the oracle scale —
 * the claim behind [[RetrievalOps.writePostingsIndex]] ("a Q-term query
 * opens ~Q/nBuckets of the postings instead of re-tokenizing the corpus")
 * as a measured record, not prose:
 *
 *  - corpus: 500k synthetic docs (~50M tokens; SketchDialsProbe generator,
 *    nBuckets from [[Dials.retrievalBuckets]] = 128);
 *  - build: one `writePostingsIndex` + one incremental `appendPostingsIndex`
 *    batch (the daily-drop shape), wall-timed;
 *  - query: a 32-probe batch (first 6 tokens of corpus docs) through the
 *    in-memory path (re-tokenizes 500k docs per batch) and the stored path
 *    (partition-pruned scan), min-of-3 wall each;
 *  - pruning: parquet files under probed `tb=` dirs vs the index total —
 *    the fraction a query actually opens (the plan-level PartitionFilters
 *    pin lives in PipelineSpec; this is the file-count consequence);
 *  - `identical_output`: stored and in-memory results must match EXACTLY,
 *    scores included — at 10×, not just the unit-test corpus.
 *
 * Prints ONE JSON line; recorded in BASELINE.md. Not part of the driver
 * contract.
 */
object RetrievalProbe {

  private def timeMin3(f: () => Unit): Double =
    (0 until 3).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nDocs = sys.env.getOrElse("RETRIEVAL_PROBE_DOCS", "500000").toLong
    val spark = graft.SparkDefaults.builder("graft-retrieval-probe",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val nBuckets = Dials.retrievalBuckets(nDocs)
    val batchSplit = (nDocs * 9) / 10 // last 10% arrives as the daily append
    val allDocs = SketchDialsProbe.syntheticDocs(spark, nDocs, 0).localCheckpoint(true)
    val path = "/dev/shm/graft-spark/retrieval_probe_" + System.nanoTime()

    val t0 = System.nanoTime()
    RetrievalOps.writePostingsIndex(allDocs.filter(col("doc_id") < batchSplit),
      path, nBuckets)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    RetrievalOps.appendPostingsIndex(
      allDocs.filter(col("doc_id") >= batchSplit), path, batchId = 1L)
    val appendSec = (System.nanoTime() - t1) / 1e9

    // 32 probes drawn across the corpus — every query retrieves, none is
    // degenerate (6 mid-frequency tokens each)
    val queries = allDocs.filter(pmod(col("doc_id"), lit(nDocs / 32)) === 7)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ",
          slice(split(DedupOps.normText(col("text")), " "), 1, 6)).as("qtext"))
      .localCheckpoint(true)
    val nQueries = queries.count()

    def key(df: DataFrame): Map[(Long, Int), (Long, Double)] = df.collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    var memRows: Map[(Long, Int), (Long, Double)] = Map.empty
    var storedRows: Map[(Long, Int), (Long, Double)] = Map.empty
    val memSec = timeMin3(() =>
      memRows = key(RetrievalOps.bm25TopK(allDocs, queries, k = 10)))
    val storedSec = timeMin3(() =>
      storedRows = key(RetrievalOps.bm25TopKStored(spark, path, queries, k = 10)))
    val identical = memRows == storedRows && memRows.nonEmpty
    require(identical, "stored top-k diverged from the in-memory path at 10x")

    // file-count pruning: dirs a query set's term buckets touch vs total.
    // The bucket derivation mirrors bm25TopKStored's (same normText,
    // xxhash64, pmod) — one local def so it cannot fork between the two
    // measurements below
    def bucketsOf(qs: DataFrame): Set[Int] = qs
      .select(explode(array_distinct(
        split(DedupOps.normText(col("qtext")), " "))).as("term"))
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int").as("tb"))
      .distinct().collect().map(_.getInt(0)).toSet
    val filesTotal = ProbeFs.parquetFiles(s"$path/postings")
    val filesProbed = ProbeFs.parquetFilesInBuckets(s"$path/postings", bucketsOf(queries))

    // a single query is the pruning story the batch union hides (32 probes
    // × 6 terms cover most of the 128 buckets; one probe touches ≤ 6)
    val q1 = queries.limit(1).localCheckpoint(true)
    val q1Files = ProbeFs.parquetFilesInBuckets(s"$path/postings", bucketsOf(q1))
    val q1Sec = timeMin3(() =>
      { RetrievalOps.bm25TopKStored(spark, path, q1, k = 10).collect(); () })

    // steady-state fold: probe cost after compaction (one file set/bucket)
    val folded = RetrievalOps.compactPostings(spark, path)
    val storedSecFolded = timeMin3(() =>
      storedRows = key(RetrievalOps.bm25TopKStored(spark, path, queries, k = 10)))
    require(memRows == storedRows, "compaction changed stored top-k at 10x")
    val filesFolded = ProbeFs.parquetFiles(s"$path/postings")

    val postingsRows = spark.read.parquet(s"$path/postings").count()
    val json =
      s"""{"probe":"retrieval","n_docs":$nDocs,"n_buckets":$nBuckets,""" +
        s""""postings_rows":$postingsRows,"n_queries":$nQueries,""" +
        f""""build_sec":$buildSec%.2f,"append_sec":$appendSec%.2f,""" +
        f""""query_mem_sec":$memSec%.3f,"query_stored_sec":$storedSec%.3f,""" +
        f""""query_stored_folded_sec":$storedSecFolded%.3f,""" +
        s""""files_total":$filesTotal,"files_probed":$filesProbed,""" +
        f""""query1_stored_sec":$q1Sec%.3f,"query1_files_probed":$q1Files,""" +
        s""""files_after_fold":$filesFolded,"folded_through":$folded,""" +
        s""""identical_output":$identical}"""
    println(json)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    spark.stop()
  }
}
