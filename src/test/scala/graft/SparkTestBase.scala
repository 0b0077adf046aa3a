package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for every suite (spark_guide.md pattern). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkDefaults.builder("graft-tests", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` on a fresh `java.io.tmpdir` directory named `prefix…`,
    * deleted recursively afterwards — pass or fail. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally graft.icelite.NioMetaIO.deleteRecursive(dir)
  }
}
