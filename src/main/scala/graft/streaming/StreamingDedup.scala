package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.icelite.{BucketedTables, FoldSwap, Icelite, MetaIO}
import graft.operators.DedupOps

/**
 * Streaming INGEST dedup — the steady-state corpus pipeline as a Structured
 * Streaming stage: each micro-batch of newly-crawled documents is
 * deduplicated (exactly and near — identical texts have identical minhash
 * signatures, so the minhash path subsumes exact dedup at any threshold
 * ≤ 1.0) against the signature store accumulated from every previous batch,
 * survivors append to the retained corpus, and the updated store becomes
 * the next batch's state.
 *
 * State lives in ICELITE SNAPSHOTS, not executor memory: the band-signature
 * store is bands × 16 bytes per retained document
 * ([[DedupOps.bandedSignatures]]), so a crash/restart loses nothing and
 * state never pressures the streaming runtime (contrast
 * `dropDuplicatesWithinWatermark`, whose state must fit the watermark
 * horizon — this stage's horizon is the whole corpus history).
 *
 * Exactly-once by idempotence: foreachBatch is at-least-once, so each batch
 * commits in a replay-safe order —
 *   1. survivors overwrite their own `batch_id=N` output partition (a
 *      replay rewrites, never appends — the [[IncrementalKg.writeBatch]]
 *      pattern);
 *   2. the updated store lands as an icelite snapshot TAGGED with the batch
 *      id, LAST — so a replayed batch whose tag already resolves skips all
 *      recomputation, and a crash before the tag landed recomputes from the
 *      previous store (the output rewrite in step 1 is idempotent).
 */
object StreamingDedup {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  val StoreTable = "dedup_store"

  /** Store snapshots are hash-bucketed on the band join keys, so the
    * per-batch candidate join ([[DedupOps.crossStoreCandidates]]) never
    * shuffles the store — per-batch cost is batch-sized, not corpus-sized.
    * At 100 TB size buckets so one bucket's ~16 B rows fit an executor. */
  val StoreBuckets: BucketedTables.BucketSpec =
    BucketedTables.BucketSpec(8, Seq("band_idx", "band_hash"))

  /** Retained-corpus batch partitions are doc_id-bucketed, so the verify
    * stage's candidate-text fetch ([[DedupOps.fetchDocsByIds]]) bucket-prunes
    * at the scan — point lookups, not a full history-text pass per batch. */
  val HistoryBuckets: BucketedTables.BucketSpec =
    BucketedTables.BucketSpec(8, Seq("doc_id"))

  private def emptyStore(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("band_idx", IntegerType, nullable = false),
        StructField("band_hash", LongType, nullable = false))))

  private def emptyHistory(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema)

  /**
   * Process every not-yet-seen document file under `inputDir`
   * (Trigger.AvailableNow — the cron-driven snapshot-delta shape), appending
   * deduplicated survivors to `outDir` and maintaining the signature store
   * in `ic`. Returns the number of micro-batches run.
   *
   * Doc ids must be unique across the whole ingest history (the crawler's
   * contract; re-crawls carry NEW ids and are dropped by content).
   */
  def processAvailable(spark: SparkSession, inputDir: String, ic: Icelite,
                       outDir: String, checkpointDir: String,
                       threshold: Double = 0.8, k: Int = 16,
                       bands: Int = 4): Long = {
    val stream = spark.readStream.schema(docSchema).parquet(inputDir)
    var batches = 0L
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches += 1
        val tag = s"ingest/batch=$batchId"
        if (ic.findByTag(StoreTable, tag).isEmpty) {
          val store = ic.currentSnapshotId(StoreTable)
            .map(id => ic.readSnapshot(spark, StoreTable, Some(id)))
            .getOrElse(emptyStore(spark))
          // the retained corpus IS the history the verify stage consults
          // (candidate ids only — bucket-pruned point lookups, not a rescan).
          // History = the COMMITTED batch partitions, enumerated explicitly:
          //  - the batch's OWN partition is excluded (a crash-replay would
          //    otherwise read its half-written previous attempt as "history"
          //    and drop the whole batch as duplicates of itself);
          //  - a bare directory-exists check would wedge restarts forever
          //    after a first-batch crash (outDir holds only _temporary, and
          //    schema inference throws on every replay) — enumerating
          //    batch_id= dirs with an explicit schema reads exactly the
          //    completed partitions and nothing else;
          //  - enumeration is FoldSwap.listIds (MetaIO, resolved from
          //    outDir's scheme), NOT java.io.File — a local-only listFiles
          //    returns null for hdfs://-s3a:// outDirs, history silently
          //    becomes empty, and re-crawled near-dups would SURVIVE with
          //    no error (the exact silent-wrong-output this stage guards
          //    against); a stray non-numeric `batch_id=` dir fails loudly
          //    instead of being read as history.
          //  - an interrupted-but-committed history compaction is healed
          //    BEFORE enumerating (FoldSwap.ensureRecovered): a crash in
          //    compactHistory's swap window would otherwise hide every
          //    folded batch from this listing and let their re-crawls
          //    survive as "new" docs
          FoldSwap.ensureRecovered(outDir, "batch_id=")
          val committed = FoldSwap.listIds(outDir, "batch_id=")
            .filter(_ != batchId).map(id => s"$outDir/batch_id=$id")
          // each committed partition reads through its doc_id-bucketed table
          // registration, so the candidate-id IN filter (pushed through the
          // union) prunes bucket files at every scan
          val history = committed
            .map(dir => BucketedTables.read(spark, dir, HistoryBuckets, Some(docSchema))
              .select("doc_id", "text"))
            .reduceOption(_.unionByName(_))
            .getOrElse(emptyHistory(spark))
          val (survivors, updatedStore) = DedupOps.incrementalMinhashDedup(
            batch, store, history, threshold, k, bands)
          // output first (idempotent: BucketedTables.write clears + rewrites
          // the batch's own dir), store tag LAST — see object doc
          BucketedTables.write(survivors.select("doc_id", "text"),
            s"$outDir/batch_id=$batchId", HistoryBuckets)
          ic.writeSnapshot(updatedStore, StoreTable, tag, buckets = Some(StoreBuckets))
          // retention: each batch persists the FULL cumulative store — without
          // expiry a long-running ingest accumulates O(batches) complete
          // copies (quadratic bytes). keepLast=2 is replay-safe: batch N can
          // only replay while its checkpoint is uncommitted, i.e. before
          // batch N+1 ever starts, so an expired older tag is never probed.
          ic.expireSnapshots(StoreTable, keepLast = 2)
          ()
        }
      }
      .start()
    q.awaitTermination()
    batches
  }

  /**
   * Steady-state history MAINTENANCE: fold committed `batch_id=N` retained-
   * corpus partitions into one doc_id-bucketed dir. Without it a year of
   * daily ingest leaves ~365 bucketed dirs and every batch's verify stage
   * pays O(batches) table registrations and O(batches × buckets) file opens
   * — after the fold it's one registration and ≤ `HistoryBuckets` files,
   * with the SAME rows (survivor doc_ids are disjoint across batches) and
   * the SAME bucket-pruned point lookups (the fold rewrites through
   * [[BucketedTables.write]], so the merged dir carries the bucket layout).
   *
   * The HIGHEST batch dir is never folded: it is the only one the streaming
   * checkpoint can still replay (batch N replays only before N+1 starts),
   * and a replay rewrites its own dir — folding it would let that rewrite
   * race the fold. Everything below it is committed by the same argument.
   * The folded dir keeps a `batch_id=` name, so [[processAvailable]]'s
   * history enumeration needs no changes and its own-partition exclusion
   * still works. Crash safety (staging, commit-point watermark, rerun
   * recovery) is [[graft.icelite.FoldSwap]]'s contract; `failAt` is its
   * TEST-ONLY failpoint. Returns the folded-through watermark.
   */
  def compactHistory(spark: SparkSession, outDir: String,
                     failAt: Option[String] = None): Long = {
    val folded = scala.collection.mutable.ArrayBuffer[Long]()
    val w = FoldSwap.compact(outDir, "batch_id=",
      // all but the highest (possibly still-replayable) batch dir
      selectFoldable = ids => if (ids.size <= 1) Seq.empty else ids.sorted.dropRight(1),
      stage = (tmp, foldIds, _) => {
        folded ++= foldIds
        // PLAIN parquet scans of the fold sources, NOT bucketed-table reads:
        // a union of identically-bucketed scans reports a partitioning that
        // lets the write-side repartition be planned away, so every source
        // partition writes its own file (batches × buckets files — the
        // fold's whole point defeated, measured in CompactionProbe). Plain
        // scans keep the shuffle and the staged dir lands at exactly
        // numBuckets files; BucketedTables.write asserts that.
        val merged = spark.read.schema(docSchema)
          .parquet(foldIds.map(id => s"$outDir/batch_id=$id"): _*)
          .select("doc_id", "text")
        BucketedTables.write(merged, tmp, HistoryBuckets)
      },
      failAt = failAt)
    // r7 (ADVICE): best-effort catalog hygiene — folded source dirs were
    // DELETED by the swap, so this session's reader registrations over them
    // now point at dead locations; drop every one whose dir is gone (the
    // fold target keeps a batch_id= name and stays registered). Best-effort
    // by design: a crash before this point leaves stale-but-harmless
    // entries, exactly the pre-r7 behavior.
    val io = MetaIO.forRoot(outDir)
    folded.foreach { id =>
      val dir = s"$outDir/batch_id=$id"
      if (!io.exists(dir)) BucketedTables.dropRegistration(spark, dir, HistoryBuckets)
    }
    w
  }
}
