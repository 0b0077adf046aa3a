package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.curie.Converter
import graft.icelite.Icelite
import graft.sources.{OboGraphReader, SourceResolver}

/**
 * Bulk driver (SURVEY S11 — scripts/from_bioregistry.py): iterate many
 * ontologies, resolve each through the cascading source list, standardize,
 * log the version, and run the corpus pipeline per prefix. Failures are
 * recorded and skipped — one bad ontology never kills the sweep
 * (from_bioregistry.py catches subprocess/ValueError the same way).
 */
object BulkRunner {

  final case class OntologyJob(prefix: String, sources: Seq[SourceResolver.SourceSpec])
  final case class JobReport(prefix: String, ok: Boolean, version: Option[String],
                             triples: Long, messages: Seq[String])

  /** Per-job lifecycle events (progress logging; also how the concurrency
    * test observes overlap without instrumenting Spark internals). The
    * callback runs on the job's worker thread — keep it cheap and thread-safe. */
  sealed trait JobEvent { def prefix: String }
  final case class JobStarted(prefix: String) extends JobEvent
  final case class JobFinished(prefix: String, ok: Boolean) extends JobEvent

  /**
   * @param parallelism max ontology jobs in flight at once. The reference's
   *   sweep is strictly sequential (from_bioregistry.py:27-36) — fine for one
   *   laptop, but at 1.2k prefixes a CLUSTER idles between tiny ontology
   *   jobs: driver-side prep (parse, automaton build) of job k+1 can overlap
   *   job k's corpus stages. Jobs run on a bounded driver thread pool, each
   *   under its own Spark scheduler pool (fair-scheduler deployments get
   *   cross-job fairness; FIFO ignores the property harmlessly). Reports
   *   come back in INPUT order regardless of completion order.
   */
  def run(spark: SparkSession,
          jobs: Seq[OntologyJob],
          transcripts: DataFrame,
          converter: Converter,
          icelite: Option[Icelite] = None,
          parallelism: Int = 1,
          progress: JobEvent => Unit = _ => ()): Seq[JobReport] = {
    require(parallelism >= 1, s"parallelism must be >= 1 (got $parallelism)")

    def runOne(job: OntologyJob): JobReport = {
      progress(JobStarted(job.prefix))
      // P8 canonical-prefix guard (robot.py:132-133): hard, driver-side
      val report = converter.normalizePrefix(job.prefix) match {
        case None =>
          JobReport(job.prefix, ok = false, None, 0L,
            Seq(s"'${job.prefix}' is not a canonical prefix"))
        case Some(canonicalPrefix) =>
          val res = SourceResolver.resolve(spark, job.sources)
          res.graphs match {
            case None =>
              JobReport(canonicalPrefix, ok = false, None, 0L, res.messages)
            case Some(graphs) =>
              try {
                val version = OboGraphReader.squeezeGraph(graphs, Some(canonicalPrefix))
                  .select(OboGraphReader.versionColumn).collect()
                  .headOption.flatMap(r => Option(r.getString(0)))
                val ctx = KgPipeline.prepareGraphs(spark, graphs, converter, Some(canonicalPrefix))
                // per-job context released once counted: a 1.2k-prefix sweep
                // must not accumulate 1.2k cached tables + broadcast automatons
                try {
                  val result = KgPipeline.runPrepared(spark, transcripts, ctx,
                    icelite, runTag = s"bulk/$canonicalPrefix")
                  JobReport(canonicalPrefix, ok = true, version,
                    result.triples.count(), res.messages)
                } finally ctx.release()
              } catch {
                case e: Exception =>
                  JobReport(canonicalPrefix, ok = false, None, 0L,
                    res.messages :+ s"pipeline failed: ${e.getMessage}")
              }
          }
      }
      progress(JobFinished(report.prefix, report.ok))
      report
    }

    if (parallelism == 1) jobs.map(runOne)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        parallelism,
        (r: Runnable) => {
          val t = new Thread(r); t.setDaemon(true); t.setName("graft-bulk"); t
        })
      try {
        val futures = jobs.map { job =>
          pool.submit(new java.util.concurrent.Callable[JobReport] {
            override def call(): JobReport = {
              // per-job scheduler pool: local properties are per-thread, so
              // each job's stages land in their own pool
              spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"bulk-${job.prefix}")
              try runOne(job)
              finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
            }
          })
        }
        futures.map { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              // parity with the sequential path: a failure that escapes
              // runOne (Error, throwing progress callback — pipeline
              // Exceptions are already folded into JobReports) surfaces as
              // its ORIGINAL type, and the remaining jobs are cancelled
              // instead of running on after the caller has unwound
              futures.foreach(_.cancel(true))
              throw Option(e.getCause).getOrElse(e)
          }
        }
      } finally pool.shutdown()
    }
  }
}
