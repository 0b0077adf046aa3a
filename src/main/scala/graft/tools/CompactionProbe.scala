package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.icelite.{BucketedTables, FoldSwap}
import graft.operators.{DedupOps, SimilarityOps}
import graft.streaming.StreamingDedup

/**
 * Quantifies what steady-state compaction buys at a D-batch horizon — the
 * claim behind [[SimilarityOps.compactIvfPq]] / [[StreamingDedup.compactHistory]]
 * ("after D daily appends, probe cost is files-opened, not bytes") as a
 * measured record, not prose:
 *
 *  - ANN index: D daily `appendIvfPq` batches (quantizers off the sidecar,
 *    as production would), then the same stored composed-tier query timed
 *    before/after the fold, with parquet file counts. Results must be
 *    IDENTICAL pre/post (the fold is pure layout).
 *  - dedup history: D doc_id-bucketed batch dirs, then the verify-stage
 *    shape (union of bucketed reads → candidate-id point fetch) timed
 *    before/after [[StreamingDedup.compactHistory]], same-rows asserted.
 *
 * Timing = min of 3 passes (first pass warms the session; min isolates
 * layout cost from JIT/cache noise). Prints ONE JSON line; recorded in
 * BASELINE.md. Not part of the driver contract.
 */
object CompactionProbe {

  private def timeMin3(f: () => Unit): Double = {
    (0 until 3).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }.min
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val days = sys.env.getOrElse("COMPACT_PROBE_DAYS", "12").toInt
    val perDay = sys.env.getOrElse("COMPACT_PROBE_ROWS", "8000").toLong
    val spark = graft.SparkDefaults.builder("graft-compaction-probe",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("graft_compact_probe").toString

    // ---- ANN index: D daily appends, then the fold ----------------------
    def vecs(day: Int): DataFrame =
      spark.range(day * perDay, (day + 1) * perDay).select(col("id").as("vec_id"),
        array((0 until 16).map(i =>
          (pmod(xxhash64(col("id"), lit(i)), lit(1000)).cast("float") / 500.0f - 1.0f)): _*)
          .as("embedding"))
    val idxDir = s"$base/idx"
    val day0 = vecs(0)
    val index = SimilarityOps.trainIvf(day0, nLists = 16)
    val books = SimilarityOps.trainPq(day0, m = 4, k = 8, dim = 16)
    SimilarityOps.writeIvfPq(day0, index, books, idxDir)
    for (day <- 1 until days) {
      val meta = SimilarityOps.readIndexMeta(idxDir) // the production shape
      SimilarityOps.appendIvfPq(vecs(day), meta.index, meta.codebooks, idxDir,
        batchId = day.toLong)
    }
    val queries = day0.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      .localCheckpoint(true)
    def annRun(): Set[(Long, Long, Int)] =
      SimilarityOps.annTopKIvfPqStored(spark, idxDir, queries, index, books,
        k = 5, nprobe = 4, shortlist = 64)
        .select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val annBefore = annRun()
    val annFilesBefore = ProbeFs.parquetFiles(idxDir)
    val annSecBefore = timeMin3(() => annRun())
    val annFolded = SimilarityOps.compactIvfPq(spark, idxDir)
    val annFilesAfter = ProbeFs.parquetFiles(idxDir)
    val annSecAfter = timeMin3(() => annRun())
    val annIdentical = annRun() == annBefore
    require(annIdentical, "ANN fold changed query results")
    require(annFolded == days - 1L, s"folded through $annFolded, want ${days - 1}")

    // ---- dedup history: D bucketed batch dirs, then the fold ------------
    val histDir = s"$base/hist"
    val docs = SketchDialsProbe.syntheticDocs(spark, days * perDay, 0)
      .localCheckpoint(true)
    for (day <- 0 until days)
      BucketedTables.write(
        docs.filter(col("doc_id") >= day * perDay && col("doc_id") < (day + 1) * perDay),
        s"$histDir/batch_id=$day", StreamingDedup.HistoryBuckets)
    // the verify-stage shape: candidate ids spread over EVERY batch's range
    val candidateIds = spark.range(days * perDay)
      .filter(pmod(col("id"), lit(perDay / 40)) === 3)
      .select(col("id").as("doc_id")).localCheckpoint(true)
    val nCandidates = candidateIds.count()
    def histRun(): Long = {
      val committed = FoldSwap.listIds(histDir, "batch_id=")
        .map(id => s"$histDir/batch_id=$id")
      val history = committed
        .map(dir => BucketedTables.read(spark, dir, StreamingDedup.HistoryBuckets,
          Some(StreamingDedup.docSchema)).select("doc_id", "text"))
        .reduce(_.unionByName(_))
      DedupOps.fetchDocsByIds(history, candidateIds).count()
    }
    val histRowsBefore = histRun()
    val histFilesBefore = ProbeFs.parquetFiles(histDir)
    val histSecBefore = timeMin3(() => histRun())
    val histFolded = StreamingDedup.compactHistory(spark, histDir)
    val histFilesAfter = ProbeFs.parquetFiles(histDir)
    val histSecAfter = timeMin3(() => histRun())
    val histIdentical = histRun() == histRowsBefore
    require(histIdentical, "history fold changed fetched candidate rows")
    require(histFolded == days - 2L, s"folded through $histFolded, want ${days - 2}")

    val json =
      s"""{"probe":"compaction","days":$days,"rows_per_day":$perDay,""" +
        s""""ann":{"files_before":$annFilesBefore,"files_after":$annFilesAfter,""" +
        f""""query_sec_before":$annSecBefore%.3f,"query_sec_after":$annSecAfter%.3f,""" +
        s""""identical":$annIdentical},""" +
        s""""history":{"files_before":$histFilesBefore,"files_after":$histFilesAfter,""" +
        f""""fetch_sec_before":$histSecBefore%.3f,"fetch_sec_after":$histSecAfter%.3f,""" +
        s""""n_candidates":$nCandidates,"identical":$histIdentical}}"""
    println(json)
    spark.stop()
  }
}
