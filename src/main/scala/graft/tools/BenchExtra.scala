package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

import graft.SparkEntry

/**
 * Round-7 optimization measurement harness (guide §1: measure first). NOT
 * part of the frozen driver contract — `graft.Bench` stays the graded
 * artifact; this main exists so per-query iteration doesn't pay the full
 * 20-minute scaling protocol.
 *
 * Methodology matches Bench part B exactly (same session conf, same
 * count() action, min over reps) so numbers are comparable, plus:
 *  - query subset via args (default: all, sorted);
 *  - per-query Spark JOB and STAGE counts (fixed-overhead diagnosis: at
 *    fixture scale a query chaining 8 tiny jobs is paying scheduling, not
 *    compute);
 *  - optional `.explain("formatted")` dump per query to
 *    $SPARK_GRAFT_PLAN_DIR/<query>_$SPARK_GRAFT_PLAN_SUFFIX.txt (the
 *    plans/r07 deliverable).
 *
 * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS (default 2),
 *      SPARK_GRAFT_PLAN_DIR, SPARK_GRAFT_PLAN_SUFFIX (default "before").
 */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")

    val names =
      if (args.isEmpty || args.sameElements(Array("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = graft.SparkDefaults.builder("graft-bench-extra", cpus)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.openCostInBytes", (128L * 1024 * 1024).toString)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // job/stage counters (thread-safe: listener events arrive on the bus thread)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val trace = sys.env.contains("SPARK_GRAFT_TRACE")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (trace) {
          val names = j.stageInfos.map(si => s"${si.name.takeWhile(_ != ' ')}(${si.numTasks})").mkString(", ")
          println(f"    [job ${j.jobId}%4d] stages=${j.stageInfos.size}%2d tasks=${j.stageInfos.map(_.numTasks).sum}%4d  $names")
        }
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
    })

    // session warm-up (same as Bench part B)
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect() catch { case _: Throwable => }

    var total = 0.0
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      planDir.foreach { d =>
        Files.createDirectories(Paths.get(d))
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(d, s"${name}_$planSuffix.txt"), plan.getBytes("UTF-8"))
      }
      spark.sparkContext.setJobDescription(name)
      val samples = (1 to reps).map { _ =>
        val j0 = jobs.get(); val s0 = stages.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, jobs.get() - j0, stages.get() - s0)
      }
      spark.sparkContext.setJobDescription(null)
      val best = samples.map(_._1).min
      total += best
      println(f"$name%-34s min=$best%7.3f  jobs=${samples.head._2}%3d stages=${samples.head._3}%3d  reps=[${samples.map(s => f"${s._1}%.3f").mkString(", ")}]")
    }
    println(f"TOTAL(min-of-$reps%d over ${names.size}%d queries) = $total%.3f s")
    spark.stop()
  }
}
