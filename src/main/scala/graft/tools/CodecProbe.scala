package graft.tools

import org.apache.spark.sql.SparkSession

import graft.fixtures.{MiniOntology, Transcripts}
import graft.pipeline.KgPipeline

/**
 * Diagnostic for the 8→32 scaling band (round-2 verdict item 8): in the
 * single-box shared-DRAM regime the pipeline is bandwidth-bound, so the
 * corpus parquet codec trades CPU-per-byte against bytes-moved. This probe
 * times the bucketed zero-shuffle pipeline at local[8]/local[32] over the
 * same corpus written with different codecs. Not part of the driver contract.
 */
object CodecProbe {

  private def newSession(cpus: Int): SparkSession = {
    val s = graft.SparkDefaults.builder(s"graft-codec-$cpus", cpus)
      .config("spark.sql.files.openCostInBytes", (128L * 1024 * 1024).toString)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val nConvs = sys.env.getOrElse("PROBE_CONVS", "300000").toLong
    val reps = sys.env.getOrElse("PROBE_REPS", "3").toInt
    val codecs = sys.env.getOrElse("PROBE_CODECS", "snappy,zstd,uncompressed").split(",").toSeq
    val results = scala.collection.mutable.LinkedHashMap[(String, Int), Double]()

    for (round <- 1 to 2; codec <- codecs) {
      val path = s"/dev/shm/graft-codec-$codec"
      if (round == 1) {
        val s = newSession(32)
        Transcripts.synthetic(s, nConvs)
          .repartition(128, org.apache.spark.sql.functions.col("conv_id"))
          .write.mode("overwrite").option("compression", codec).parquet(path)
        // data files only: the local FS also writes _SUCCESS and .crc
        // sidecars, which would skew the codec-size comparison unevenly
        val bytes = new java.io.File(path).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
        System.err.println(f"CODEC $codec%-12s size=${bytes / 1e6}%.0f MB")
        s.stop()
      }
      for (cpus <- Seq(8, 32)) {
        val spark = newSession(cpus)
        val input = spark.read.parquet(path)
        input.count() // warm page cache
        val ctx = KgPipeline.prepare(spark, MiniOntology.writeTo("target/fixtures"),
          extraLexicon = Some(Transcripts.bigLexicon(spark, pairTerms = 250000)))
        var best = Double.MaxValue
        for (_ <- 1 to reps) {
          val t0 = System.nanoTime()
          KgPipeline.runPrepared(spark, input, ctx, inputConvPartitioned = true)
            .triples.count()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        val key = (codec, cpus)
        results(key) = math.min(results.getOrElse(key, Double.MaxValue), best)
        System.err.println(f"CODEC round=$round $codec%-12s cpus=$cpus%-2d $best%.2f s")
        spark.stop()
      }
    }
    for (codec <- codecs) {
      val e = results((codec, 8)) / results((codec, 32)) / 4.0
      System.err.println(
        f"CODEC SUMMARY $codec%-12s sec8=${results((codec, 8))}%.2f sec32=${results((codec, 32))}%.2f eff_8_32=$e%.3f")
    }
  }
}
