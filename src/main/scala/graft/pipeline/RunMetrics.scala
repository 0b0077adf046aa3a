package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/**
 * Run diagnostics (SURVEY S10/A3/A4 — robot.py GETTER_MESSAGES +
 * write_getter_warnings, and the north rule's per-partition lineage +
 * triple-count metrics), flushed to a JSON file next to the outputs. Spark
 * accumulators aggregate across all executors with no extra job.
 *
 * Writers: the detection kernel ([[graft.plans.DetectTriplesExec]]) is the
 * only writer of `turns_processed` (each input turn), `mentions_emitted`
 * (each distinct (turn, concept) row it emits) and `empty_turns`; they count
 * each executed detection pass, so KgPipeline hands them only to its icelite
 * path, whose materialized stage runs once (a resumed run that reuses the
 * mention snapshot reports 0). `dedup_dropped_*` are the session's
 * DedupOps guard counts. `skipped_nodes`, `failed_sources` and `messages`
 * have no writer yet: the reference's lenient skips are not counted here.
 */
final class RunMetrics(spark: SparkSession) extends Serializable {
  val turnsProcessed: LongAccumulator = spark.sparkContext.longAccumulator("graft.turns_processed")
  val mentionsEmitted: LongAccumulator = spark.sparkContext.longAccumulator("graft.mentions_emitted")
  val emptyTurns: LongAccumulator = spark.sparkContext.longAccumulator("graft.empty_turns")
  val skippedNodes: LongAccumulator = spark.sparkContext.longAccumulator("graft.skipped_nodes")
  val failedSources: LongAccumulator = spark.sparkContext.longAccumulator("graft.failed_sources")
  private val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def addMessage(m: String): Unit = messages.add(m)

  def toJson: String = {
    val msgs = new scala.collection.mutable.ArrayBuffer[String]
    messages.forEach(m => msgs += m)
    // dedup mega-bucket guard (no silent caps): session-cumulative counts
    val (gb, gm) = graft.operators.DedupOps.bucketGuardCounts(spark)
    val msgJson = msgs.map(m => "\"" + m.replaceAll("[\"\\\\\\n\\r]", "_") + "\"").mkString("[", ",", "]")
    s"""{"turns_processed":${turnsProcessed.value},"mentions_emitted":${mentionsEmitted.value},""" +
      s""""empty_turns":${emptyTurns.value},"skipped_nodes":${skippedNodes.value},""" +
      s""""failed_sources":${failedSources.value},""" +
      s""""dedup_dropped_buckets":$gb,"dedup_dropped_bucket_members":$gm,""" +
      s""""messages":$msgJson}"""
  }

  /** Flush to a file through [[graft.icelite.MetaIO]], so a URI path lands on
    * its own filesystem (write_getter_warnings analogue, robot.py:371-374). */
  def write(path: String): Unit =
    graft.icelite.MetaIO.forRoot(path).overwrite(path, toJson)
}
