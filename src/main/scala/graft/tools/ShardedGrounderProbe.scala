package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.fixtures.Transcripts
import graft.ground.{Grounder, MentionDetector}

/**
 * Scale-validation of the SHARDED grounder (round-4 verdict item 5): the
 * bench automaton is a single 250k-term build, but the sharded path
 * (`Grounder.buildSharded` + `detectTriplesSharded`) exists for lexicons
 * past one broadcast's comfort — UMLS-scale, ≥1M terms. This probe runs the
 * fused triple-detection stage with a 1M-pair-term lexicon through shard
 * counts {1, 2, 4} at local[8] and local[32] on one conv_id-bucketed corpus
 * (the Bench storage layout) and reports:
 *
 *  - per (shards × level): min wall seconds and turns/sec;
 *  - the shard-count dial cost: detectTriplesSharded scans the corpus once
 *    PER SHARD, so shards trade broadcast size for scan passes — the
 *    measured slope is the number a deployment picks the dial with;
 *  - identical_output across levels AND shard counts (count + order-
 *    invariant xxhash64 XOR over the distinct triples — the cross-shard
 *    dedup must make every configuration emit the same triple set).
 *
 * Prints ONE JSON line; recorded in BASELINE.md. Not part of the driver
 * contract.
 */
object ShardedGrounderProbe {

  private def newSession(cpus: Int): SparkSession = {
    val s = graft.SparkDefaults.builder(s"graft-shard-probe-$cpus", cpus)
      .config("spark.sql.files.openCostInBytes", (128L * 1024 * 1024).toString)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val CorpusPath = "/dev/shm/graft-shard-probe-corpus"

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val pairTerms = sys.env.getOrElse("PROBE_PAIR_TERMS", "1000000").toInt
    val nConvs = sys.env.getOrElse("PROBE_CONVS", "100000").toLong
    val shardConfigs = sys.env.getOrElse("PROBE_SHARDS", "1,2,4")
      .split(",").map(_.trim.toInt).toSeq
    val levels = sys.env.getOrElse("PROBE_LEVELS", "8,32")
      .split(",").map(_.trim.toInt).toSeq

    // setup session: corpus written ONCE (conv_id-bucketed, the Bench
    // layout); automatons built ONCE per shard config — Grounder values are
    // plain serializable driver objects that outlive the session and
    // re-broadcast into each level's fresh session (building 1M-term
    // automatons per level would dominate the measurement)
    val buildSecs = scala.collection.mutable.LinkedHashMap[Int, Double]()
    val patCounts = scala.collection.mutable.LinkedHashMap[Int, Seq[Int]]()
    val grounders: Map[Int, Seq[Grounder]] = {
      val s = newSession(32)
      try {
        Transcripts.synthetic(s, nConvs)
          .repartition(64, col("conv_id"))
          .write.mode("overwrite").option("compression", "zstd").parquet(CorpusPath)
        val lex = Transcripts.bigLexicon(s, pairTerms = pairTerms)
        shardConfigs.map { n =>
          val t0 = System.nanoTime()
          val gs = Grounder.buildSharded(lex, n)
          buildSecs(n) = (System.nanoTime() - t0) / 1e9
          patCounts(n) = gs.map(_.surfaces.length)
          System.err.println(f"PROBE build shards=$n patterns=${gs.map(_.surfaces.length).sum} sec=${buildSecs(n)}%.1f")
          n -> gs
        }.toMap
      } finally s.stop()
    }

    val times = scala.collection.mutable.Map[(Int, Int), Double]()
    val counts = scala.collection.mutable.Map[(Int, Int), Long]()
    val sigs = scala.collection.mutable.Map[(Int, Int), Long]()
    var nTurns = 0L
    // two interleaved rounds per level (the Bench JIT-bias rule), min of passes
    for (round <- 1 to 2; cpus <- levels) {
      val spark = newSession(cpus)
      val corpus = spark.read.parquet(CorpusPath)
      nTurns = corpus.count() // warm page cache outside timing
      val slim = MentionDetector.slim(corpus)
      for (n <- shardConfigs) {
        val bs = grounders(n).map(g => spark.sparkContext.broadcast(g))
        for (_ <- 1 to 2) {
          val t0 = System.nanoTime()
          val r = MentionDetector.detectTriplesSharded(slim, bs)
            .agg(count(lit(1)).as("n"),
              bit_xor(xxhash64(col("subj"), col("pred"), col("obj"))).as("sig"))
            .collect()(0)
          val sec = (System.nanoTime() - t0) / 1e9
          val key = (n, cpus)
          times(key) = math.min(times.getOrElse(key, Double.MaxValue), sec)
          counts(key) = r.getLong(0)
          sigs(key) = if (r.isNullAt(1)) 0L else r.getLong(1)
          System.err.println(f"PROBE round=$round cpus=$cpus shards=$n sec=$sec%.2f triples=${r.getLong(0)}")
        }
        bs.foreach(_.destroy())
      }
      spark.stop()
    }

    val identical =
      counts.values.toSet.size == 1 && sigs.values.toSet.size == 1
    val lo = levels.head
    val hi = levels.last
    val factor = hi.toDouble / lo
    val perConfig = shardConfigs.map { n =>
      val sLo = times((n, lo)); val sHi = times((n, hi))
      val eff = (sLo / sHi) / factor
      f""""shards$n":{"patterns":${patCounts(n).sum},"build_sec":${buildSecs(n)}%.1f,""" +
        f""""sec_$lo":$sLo%.2f,"sec_$hi":$sHi%.2f,""" +
        f""""turns_per_sec_$hi":${nTurns / sHi}%.0f,"eff_${lo}_$hi":$eff%.3f}"""
    }
    val json =
      s"""{"probe":"sharded-grounder","pair_terms":$pairTerms,"n_turns":$nTurns,""" +
        s""""n_triples":${counts((shardConfigs.head, hi))},""" +
        s"""${perConfig.mkString(",")},"identical_output":$identical}"""
    println(json)
  }
}
