package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/**
 * The bounded driver probe behind every driver cost switch: ONE job collects
 * at most `limit + 1` rows, and the row count decides the branch — so the
 * small case gets its whole input from the same job that chose it, and the
 * large case never holds more than `limit + 1` rows on the driver.
 */
object DriverProbe {

  /** `Some(rows)` iff `df` has at most `limit` rows. `limit` is clamped to
    * [0, Int.MaxValue - 1] so that `limit + 1` fits Spark's Int limit (an
    * unclamped Int.MaxValue would overflow to a negative limit, which Spark
    * rejects at analysis). */
  def bounded(df: DataFrame, limit: Long): Option[Array[Row]] = {
    val n = math.max(0L, math.min(limit, Int.MaxValue - 1L)).toInt
    val rows = df.limit(n + 1).collect()
    if (rows.length <= n) Some(rows) else None
  }
}
