package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, LocalRelation}
import org.apache.spark.sql.graftshim.InternalRowShim

/**
 * The bounded driver probe behind every driver cost switch: ONE job, over
 * every partition, in which each partition returns at most `limit + 1` rows,
 * and the row count decides the branch — so the small case gets its whole
 * input from the same job that chose it. A frame whose optimized plan is a
 * local relation (rows the driver already holds) is read without a job.
 *
 * Driver memory: the driver keeps at most `limit` rows plus the task result
 * in hand. Once the running count passes `limit` it drops what it holds and
 * cancels the job, so an over-cap frame costs the tasks that finish before
 * the cancel lands (about one wave), not a scan of every partition.
 */
object DriverProbe {

  /** Forces every probe to answer `None`, so tests can drive the
    * distributed branch of each cost switch on fixture-sized input. Not a
    * user option. */
  private[graft] val forceDistributed = new scala.util.DynamicVariable(false)

  /** `Some(rows)` iff `df` has at most `limit` rows; the rows equal
    * `df.collect()`'s, in the same order. `limit` is clamped to
    * [0, Int.MaxValue - 1] so that `limit + 1` fits Spark's Int limit (an
    * unclamped Int.MaxValue would overflow to a negative limit, which Spark
    * rejects at analysis). */
  def bounded(df: DataFrame, limit: Long): Option[Array[Row]] =
    if (forceDistributed.value) None
    else {
      val n = math.max(0L, math.min(limit, Int.MaxValue - 1L)).toInt
      df.queryExecution.optimizedPlan match {
        // a limit over local rows folds into the relation: no job
        case _: LocalRelation => Some(df.limit(n + 1).collect()).filter(_.length <= n)
        // a per-partition limit lets each task stop at n + 1 rows
        case _ => InternalRowShim.collectAtMost(InternalRowShim.logicalDf(df.sparkSession,
          LocalLimit(Literal(n + 1), InternalRowShim.logicalPlan(df))), n)
      }
    }
}
