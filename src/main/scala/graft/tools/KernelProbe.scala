package graft.tools

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ground.{AhoCorasick, Grounder}

/**
 * Single-thread microbenchmark of the detection kernel: `Scanner.scan` with a
 * [[Grounder.ConceptCollector]] sink (exactly what `DetectTriplesExec` runs
 * per turn) over generated turn text, in ns per UTF-8 byte, min of N passes.
 *
 * The input has the shape of kgbench's corpus_detect: turns of 40 words, one
 * in 16 a planted lexicon term and the rest drawn from a 20,000-word noise
 * vocabulary (`w<k>`); the lexicon is ~2,700 syllable terms (one and two
 * words, as an ontology's labels and synonyms) plus 10,000 literal mappings,
 * one in ten a single word absent from the noise and the rest two noise
 * words — 12,943 distinct patterns at seed 2. The same text is also scanned by an
 * automaton with an empty lexicon: the decode + normalize floor, which no
 * transition table can go below.
 *
 * The Grounder is built once through a local[1] session, which is stopped
 * before timing; the passes run on the main thread only.
 *
 * {{{
 * SPARK_DRIVER_MEM=2g sbt -batch "runMain graft.tools.KernelProbe"        # defaults
 * PROBE_TURNS=30000 PROBE_PASSES=15 SPARK_DRIVER_MEM=2g sbt -batch "runMain graft.tools.KernelProbe"
 * }}}
 *
 * Prints ONE JSON line: `kernel_ns_per_byte`, `floor_ns_per_byte` (min of
 * the passes), their medians, `patterns`, `turns`, `bytes`, `hits` (the
 * collector's concepts summed over all turns, equal in every pass).
 */
object KernelProbe {

  private val Syllables = Array("ba", "ko", "ri", "te", "lu", "mo", "sa", "ne", "di", "fa",
    "gu", "pi", "zo", "he", "va", "ju", "xe", "qo", "ty", "cy")

  /** A pronounceable word of at least three syllables, distinct per k. */
  private def termWord(k: Int): String = {
    val b = new StringBuilder
    var x = k
    var n = 0
    while (n < 3 || x > 0) { b ++= Syllables(x % 20); x /= 20; n += 1 }
    b.toString
  }

  /** (prefix, id, predicate, text) rows of the probe lexicon. */
  def lexicon(seed: Long, ontologyNodes: Int = 1500, literalMappings: Int = 10000): Seq[Row] = {
    val r = new java.util.SplittableRandom(seed)
    val words = ontologyNodes * 3
    val onto = (0 until ontologyNodes).flatMap { i =>
      val id = f"$i%07d"
      val label = Row("GEN", id, "rdfs:label",
        termWord(r.nextInt(words)) + " " + termWord(r.nextInt(words)))
      val exact = if (r.nextInt(3) > 0)
        Seq(Row("GEN", id, "oboInOwl:hasExactSynonym", termWord(r.nextInt(words)))) else Nil
      val related = if (r.nextInt(3) == 0)
        Seq(Row("GEN", id, "oboInOwl:hasRelatedSynonym",
          termWord(r.nextInt(words)) + " " + termWord(r.nextInt(words)))) else Nil
      label +: (exact ++ related)
    }
    val extra = (0 until literalMappings).map { k =>
      val text = if (k % 10 == 0) "x" + k else s"w${r.nextInt(20000)} w${r.nextInt(20000)}"
      Row("LEX", f"$k%07d", if (k % 3 == 0) "rdfs:label" else "oboInOwl:hasExactSynonym", text)
    }
    onto ++ extra
  }

  /** `n` turns of 40 words, one word in 16 a planted term from `plants`. */
  def turns(n: Int, seed: Long, plants: IndexedSeq[String]): Array[UTF8String] = {
    val r = new java.util.SplittableRandom(seed * 31 + 7)
    Array.fill(n) {
      val b = new StringBuilder
      var w = 0
      while (w < 40) {
        if (w > 0) b += ' '
        if (r.nextInt(16) == 0) b ++= plants(r.nextInt(plants.length))
        else b ++= "w" + r.nextInt(20000)
        w += 1
      }
      UTF8String.fromString(b.toString)
    }
  }

  /** Min and median ns/byte of `passes` timed passes of `pass` over `bytes`. */
  private def time(passes: Int, bytes: Long)(pass: => Unit): (Double, Double) = {
    val ns = Array.fill(passes) {
      val t0 = System.nanoTime()
      pass
      (System.nanoTime() - t0).toDouble / bytes
    }.sorted
    (ns.head, ns(ns.length / 2))
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nTurns = sys.env.getOrElse("PROBE_TURNS", "30000").toInt
    val passes = sys.env.getOrElse("PROBE_PASSES", "15").toInt
    val seed = sys.env.getOrElse("PROBE_SEED", "2").toLong

    val rows = lexicon(seed)
    val spark = graft.SparkDefaults.builder("graft-kernel-probe", 1).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val grounder = try {
      val schema = StructType(Seq("prefix", "id", "predicate", "text").map(StructField(_, StringType)))
      Grounder.build(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .withColumn("name", org.apache.spark.sql.functions.col("text")))
    } finally spark.stop()

    val text = turns(nTurns, seed, rows.map(_.getString(3)).distinct.toIndexedSeq)
    val bytes = text.iterator.map(_.numBytes.toLong).sum
    val scanner = grounder.automaton.newScanner()
    val collector = new Grounder.ConceptCollector(grounder)
    var hits = 0L
    def kernelPass(): Unit = {
      hits = 0L
      var i = 0
      while (i < text.length) {
        collector.reset()
        scanner.scan(text(i), collector)
        hits += collector.n
        i += 1
      }
    }
    val empty = AhoCorasick.build(Seq.empty).newScanner()
    var calls = 0L
    val count: (Int, Int, Int) => Unit = (_, _, _) => calls += 1
    def floorPass(): Unit = {
      var i = 0
      while (i < text.length) { empty.scan(text(i), count); i += 1 }
    }
    // JIT warm-up, untimed
    (0 until 3).foreach { _ => kernelPass(); floorPass() }
    val (kMin, kMed) = time(passes, bytes)(kernelPass())
    val (fMin, fMed) = time(passes, bytes)(floorPass())
    println(f"""{"probe":"kernel","patterns":${grounder.automaton.patterns.length},"turns":$nTurns,""" +
      f""""bytes":$bytes,"passes":$passes,"hits":$hits,"kernel_ns_per_byte":$kMin%.2f,""" +
      f""""kernel_ns_per_byte_median":$kMed%.2f,"floor_ns_per_byte":$fMin%.2f,""" +
      f""""floor_ns_per_byte_median":$fMed%.2f}""")
  }
}
