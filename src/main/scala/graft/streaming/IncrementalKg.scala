package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.ground.MentionDetector
import graft.pipeline.KgPipeline

/**
 * Batch-incremental KG construction (SURVEY §2.8): the reference is strictly
 * batch, and the target's "checkpoint-resumable per snapshot" contract is
 * snapshot-delta processing, not low-latency streaming. Structured Streaming
 * with `Trigger.AvailableNow` reproduces exactly that: each invocation
 * processes ONLY the files that appeared since the last checkpoint, then
 * stops — so a cron-driven run ingests snapshot N+1's delta and nothing else.
 *
 * No watermarks/session windows are needed (mention detection is per-turn
 * stateless); the checkpoint directory carries the processed-files log, which
 * is the streaming analogue of icelite's tag-based resume.
 */
object IncrementalKg {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /**
   * Process every not-yet-seen transcript file under `inputDir`, appending
   * mention triples to `outDir`. Returns the number of micro-batches run.
   */
  def processAvailable(spark: SparkSession,
                       inputDir: String,
                       ctx: KgPipeline.OntologyContext,
                       outDir: String,
                       checkpointDir: String): Long = {
    val stream = spark.readStream.schema(turnSchema).parquet(inputDir)
    var batches = 0L
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batches += 1
        // same fused scan as the batch pipeline — per-turn dedup is exact
        // within a batch; across batches a turn never reappears (snapshot
        // deltas are append-only by conversation turn)
        writeBatch(MentionDetector.detectTriplesIn(batch, ctx.grounder), outDir, batchId)
      }
      .start()
    q.awaitTermination()
    batches
  }

  /**
   * IDEMPOTENT batch sink: foreachBatch is at-least-once — a crash between
   * the write and the streaming checkpoint commit replays the batch. A plain
   * `mode("append")` would duplicate every replayed triple; writing each
   * micro-batch to its own batchId-keyed partition with overwrite makes a
   * replay rewrite the same directory instead (the pattern the foreachBatch
   * docs prescribe). Readers `spark.read.parquet(outDir)` and see `batch_id`
   * as a partition column.
   */
  def writeBatch(triples: org.apache.spark.sql.DataFrame, outDir: String, batchId: Long): Unit = {
    triples.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    ()
  }
}
