package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.{MiniOntology, Transcripts}
import graft.pipeline.KgPipeline

/**
 * Diagnostic: decompose the north-rule scaling measurement (local[8] vs
 * local[32]) into stage costs, to locate WHERE parallel efficiency is lost:
 *
 *   scan    — read the cached corpus, touch every text byte (memory floor)
 *   shuffle — salted repartition + sortWithinPartitions + touch (exchange cost)
 *   detect  — pre-partitioned fused detection (pure kernel, no exchange)
 *   full    — the real pipeline pass (what Bench times)
 *
 * Prints a stderr table; not part of the driver contract.
 */
object ScalingProbe {

  private def newSession(cpus: Int): SparkSession = {
    val s = graft.SparkDefaults.builder(s"graft-probe-$cpus", cpus)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val nConvs = sys.env.getOrElse("PROBE_CONVS", "300000").toLong
    val reps = sys.env.getOrElse("PROBE_REPS", "4").toInt
    val results = scala.collection.mutable.LinkedHashMap[(String, Int), Double]()

    val levels = sys.env.getOrElse("PROBE_LEVELS", "8,32").split(",").map(_.trim.toInt).toSeq
    for (round <- 1 to 2; cpus <- levels) {
      val spark = newSession(cpus)
      val transcripts = Transcripts.synthetic(spark, nConvs).cache()
      val nTurns = transcripts.count()
      val pairTerms = sys.env.getOrElse("PROBE_PAIR_TERMS", "50000").toInt
      val ctx = KgPipeline.prepare(spark, MiniOntology.writeTo("target/fixtures"),
        extraLexicon = Some(Transcripts.bigLexicon(spark, pairTerms = pairTerms)))

      def bench(label: String)(f: => Any): Unit = {
        var best = Double.MaxValue
        for (_ <- 1 to reps) {
          val t0 = System.nanoTime()
          f
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec < best) best = sec
        }
        val key = (label, cpus)
        results(key) = math.min(results.getOrElse(key, Double.MaxValue), best)
        System.err.println(f"PROBE round=$round cpus=$cpus $label%-8s $best%.3f s")
      }

      bench("scan") {
        transcripts.select(sum(length(col("text")))).collect()
      }
      bench("shuffle") {
        transcripts
          .withColumn("salt", pmod(col("turn_idx"), lit(KgPipeline.SaltBuckets)))
          .repartition(col("conv_id"), col("salt"))
          .sortWithinPartitions(col("conv_id"), col("turn_idx"))
          .select(sum(length(col("text")))).collect()
      }
      bench("detect") {
        KgPipeline.runPrepared(spark, transcripts, ctx,
          inputConvPartitioned = true).triples.count()
      }
      bench("full") {
        KgPipeline.runPrepared(spark, transcripts, ctx).triples.count()
      }
      // bucketed-storage layout: the corpus written ONCE as conv_id-bucketed
      // parquet (the Iceberg layout of the north star) and read per pass —
      // decode is per-thread compute, unlike the in-memory cache whose
      // consumption is pure shared-DRAM bandwidth. One file per bucket, file
      // < maxPartitionBytes, so a conversation never splits across tasks.
      val pqPath = "/dev/shm/graft-probe-pq"
      transcripts.repartition(64, col("conv_id"))
        .write.mode("overwrite").parquet(pqPath)
      val bucketed = spark.read.parquet(pqPath)
      bench("detectpq") {
        KgPipeline.runPrepared(spark, bucketed, ctx,
          inputConvPartitioned = true).triples.count()
      }
      transcripts.unpersist()
      spark.stop()
      System.err.println(s"PROBE n_turns=$nTurns")
    }

    System.err.println("\nPROBE SUMMARY (min over rounds)")
    val lv = levels // same parse as the bench loop — a drift here would throw on lookup
    for (label <- Seq("scan", "shuffle", "detect", "full", "detectpq")) {
      val lo = results((label, lv.head)); val hi = results((label, lv.last))
      val factor = lv.last.toDouble / lv.head
      System.err.println(f"$label%-8s sec${lv.head}=$lo%.3f sec${lv.last}=$hi%.3f speedup=${lo / hi}%.2fx eff=${lo / hi / factor}%.3f")
    }
  }
}
