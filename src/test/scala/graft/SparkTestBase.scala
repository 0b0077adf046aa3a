package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for every suite (spark_guide.md pattern). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkDefaults.builder("graft-tests", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
