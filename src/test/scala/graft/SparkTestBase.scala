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

/** Counts the Spark jobs a block starts, for job-count regression tests. */
trait JobCounting {
  def spark: SparkSession

  /** `body`'s result and the Spark jobs it started on this thread. */
  def withJobCount[T](body: => T): (T, Int) = {
    val (out, jobs, _) = withJobStats(body)
    (out, jobs)
  }

  /** `body`'s result, the Spark jobs it started on this thread and their
    * tasks that succeeded, counted by a SparkListener. Listener events
    * arrive asynchronously, so a marker job in its own group, seen after
    * `body`, flushes every earlier event. */
  def withJobStats[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val group = s"job_count_${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val succeeded = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet(); j.stageIds.foreach(stages.add)
          case Some(g) if g == s"$group.marker" => marker.countDown()
          case _ =>
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.reason == org.apache.spark.Success)
          succeeded.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "withJobCount")
      val out = body
      sc.setJobGroup(s"$group.marker", "withJobCount marker")
      sc.parallelize(Seq(0), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the marker job")
      (out, jobs.get(), succeeded.get())
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}
