package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.fixtures.MiniOntology
import graft.icelite.Icelite

/**
 * spark-submit entry point (north rule: "run via spark-submit on a
 * multi-executor cluster"):
 *
 *   spark-submit --class graft.pipeline.Main bioontologiesspark.jar \
 *     <transcriptsParquet> <ontologyJson> <iceliteRoot> [prefix]
 *
 * Cluster sizing (master, executors, memory) comes from spark-submit conf —
 * this main only sets semantics-bearing session options. The same binary at
 * N and 4N executors is the two-cluster-size protocol; this sandbox emulates
 * it with local[2]/local[8]/local[32] in graft.Bench.
 */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Main <transcriptsParquet> <ontologyJson> <iceliteRoot> [prefix]")
    val Array(transcriptsPath, ontologyPath, outRoot) = args.take(3)
    val prefix = if (args.length > 3) Some(args(3)) else Some("PATO")

    val builder = SparkSession.builder()
      .appName("graft-kg-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      // applies in BOTH branches: the explode-plan regression the exclusion
      // prevents is independent of how the session got its master
      .config(graft.SparkDefaults.ExcludedRulesKey, graft.SparkDefaults.ExcludedRules)
    // spark-submit injects spark.master; standalone runs fall back to local
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val transcripts = spark.read.parquet(transcriptsPath)
    val ic = new Icelite(outRoot)
    val result = KgPipeline.run(spark, transcripts, ontologyPath,
      converter = MiniOntology.converter, prefix = prefix,
      icelite = Some(ic), runTag = s"submit/${transcriptsPath.hashCode}")

    val snapId = result.snapshotId.getOrElse(-1L)
    // single summary line for the submitting driver to scrape
    println(s"""{"snapshot_id":$snapId,"metrics":${result.metrics.fold("null")(_.toJson)},""" +
      s""""manifest":${ic.manifestJson("kg_edges", snapId)}}""")
    spark.stop()
  }
}
