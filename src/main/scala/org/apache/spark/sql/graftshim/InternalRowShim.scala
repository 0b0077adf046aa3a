package org.apache.spark.sql.graftshim

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

/**
 * Bridge for custom-operator plumbing: wrapping an analyzed plan in a custom
 * logical node (graft.plans.DetectTriplesNode) and turning the wrapped plan
 * back into a DataFrame both need `private[sql]` classic-session entry
 * points. This shim (inside the sql package — the public technique Spark's
 * own `functions` uses) re-exports exactly the two the engine needs, plus
 * the bounded collect behind `graft.operators.DriverProbe` and the
 * listener-bus drain `graft.tools.SetupProbe` counts task CPU after.
 */
object InternalRowShim {

  /** Blocks until every listener has seen every event posted so far
    * (`listenerBus` is `private[spark]`). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analyzed logical plan of a DataFrame (for wrapping in custom operators). */
  def logicalPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** DataFrame over a custom logical plan (Dataset.ofRows is private[sql]). */
  def logicalDf(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /**
   * Release the block-manager storage behind a `localCheckpoint`ed Dataset.
   * `Dataset.unpersist` only covers CacheManager-registered `.cache()` entries;
   * a local checkpoint persists its RDD directly, reachable only through the
   * `private[sql]` `LogicalRDD` node. Iterative operators (graft.operators
   * .Closure) call this on superseded iterations so a long loop doesn't pin
   * O(rounds) copies of the edge set in executor memory. No-op on Datasets
   * that aren't checkpoint-backed.
   */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    logicalPlan(df) match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /**
   * `Some(df.collect())` iff `df` has at most `limit` rows, in ONE job under
   * its own SQL execution id, as `Dataset.collect` runs it: each task sends
   * at most `limit + 1` rows. The driver keeps at most `limit` rows plus the
   * task result in hand: once the count passes `limit` it drops every row,
   * cancels the job and answers None. The rows go through `collect()`'s
   * deserializer, in partition order.
   */
  def collectAtMost(df: DataFrame, limit: Int): Option[Array[Row]] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.executedPlan.execute()
      val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
      var held = 0L
      val over = Promise[Unit]()
      // the handler runs on the scheduler's event thread, one task at a time
      val job = ds.sparkSession.sparkContext.submitJob(rdd,
        (it: Iterator[InternalRow]) => it.take(limit + 1).map(_.copy()).toArray,
        parts.indices,
        (i: Int, rows: Array[InternalRow]) =>
          if (!over.isCompleted) {
            held += rows.length
            if (held <= limit) parts(i) = rows
            else { parts.indices.foreach(parts(_) = null); over.success(()) }
          },
        ())
      Await.ready(Future.firstCompletedOf(Seq(job, over.future))(ExecutionContext.parasitic),
        Duration.Inf)
      if (over.isCompleted) {
        if (!job.isCompleted) job.cancel()
        Await.ready(job, Duration.Inf)
        None
      } else {
        job.value.get.get // rethrows the job's failure
        val fromRow = ds.exprEnc
          .resolveAndBind(ds.logicalPlan.output, ds.sparkSession.sessionState.analyzer)
          .createDeserializer()
        Some(parts.iterator.flatMap(_.iterator).map(fromRow).toArray)
      }
    }
  }
}
