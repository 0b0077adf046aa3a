package graft.tools


import graft.fixtures.{MiniOntology, Transcripts}
import graft.pipeline.KgPipeline

/** Single-pass uncached stress: generate → detect → dedup → count in ONE job
  * at local[32] (no input materialization — the generator is pure codegen).
  * Diagnostic, not part of the driver contract. */
object StressProbe {
  def main(args: Array[String]): Unit = {
    val nConvs = sys.env.getOrElse("STRESS_CONVS", "1000000").toLong
    val spark = graft.SparkDefaults.builder("graft-stress", 32)
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = KgPipeline.prepare(spark, MiniOntology.writeTo("target/fixtures"),
      extraLexicon = Some(Transcripts.bigLexicon(spark, pairTerms = 250000)))
    val t0 = System.nanoTime()
    val triples = KgPipeline.runPrepared(spark, Transcripts.synthetic(spark, nConvs), ctx,
      inputConvPartitioned = true).triples.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val turns = Transcripts.synthetic(spark, nConvs).count()
    System.err.println(f"STRESS convs=$nConvs turns=$turns triples=$triples sec=$sec%.1f turns_per_sec=${turns / sec}%.0f triples_per_sec=${triples / sec}%.0f")
    spark.stop()
  }
}
