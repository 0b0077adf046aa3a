package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic synthetic transcripts `(conv_id, turn_idx, role, text, tool,
 * ts)` — the target corpus shape from BASELINE.json `input_hint`. Two
 * generators:
 *
 *  1. [[fromDocuments]] — derives a transcript table from the driver-provided
 *     `documents.parquet` with SQL-expressible arithmetic only, so the exact
 *     same table can be reconstructed inside DuckDB for oracle checks.
 *
 *  2. [[synthetic]] — arbitrary-scale generator built ENTIRELY from Catalyst
 *     expressions over `spark.range` (xxhash64-seeded word choice, sequence +
 *     posexplode for turns), so generation itself is distributed,
 *     deterministic for a fixed seed, and never materializes on the driver.
 *     Includes a heavy-tail conversation-length distribution to exercise
 *     skew (SURVEY J4).
 */
object Transcripts {

  /** Fixed vocabulary; overlaps MiniOntology labels/synonyms (planted mentions). */
  val vocab: Seq[String] = Seq(
    "the", "a", "data", "table", "row", "column", "value", "key", "line",
    "fast", "slow", "small", "big", "quality", "merge", "sort", "join",
    "filter", "scan", "window", "query", "stream", "batch", "group",
    "spark", "hash", "order", "part", "customer", "agg", "vector", "dup",
    "quick", "large", "little", "huge", "trait", "velocity", "noise", "x7")

  /**
   * Bioregistry/GO-scale synthetic lexicon for benchmarking: `extra`
   * single-word terms overlapping the noise vocabulary (controlled hit
   * density) plus 10× two-word terms (exercise multi-token matching and
   * automaton depth). Real ontologies carry 10^5-10^6 literal mappings —
   * a 30-term fixture automaton understates per-byte CPU work by orders of
   * magnitude, making any bench bandwidth-bound instead of compute-bound.
   */
  def bigLexicon(spark: SparkSession, singleTerms: Int = 500, pairTerms: Int = 50000): DataFrame = {
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(7L)
    val rows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]
    (0 until singleTerms).foreach { k =>
      rows += org.apache.spark.sql.Row("SYN", f"$k%07d", s"w$k", "rdfs:label", s"w$k", "SYN", Seq.empty[String])
    }
    (0 until pairTerms).foreach { k =>
      val t = s"w${rng.nextInt(20000)} w${rng.nextInt(20000)}"
      rows += org.apache.spark.sql.Row("SYN", f"${k + singleTerms}%07d", t,
        "oboInOwl:hasExactSynonym", t, "SYN", Seq.empty[String])
    }
    val schema = StructType(Seq(
      StructField("prefix", StringType), StructField("id", StringType),
      StructField("name", StringType), StructField("predicate", StringType),
      StructField("text", StringType), StructField("source", StringType),
      StructField("provenance", ArrayType(StringType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4), schema)
  }

  /**
   * DuckDB-reproducible transcripts from documents:
   *   conv_id  = 'c' || (doc_id % 97)
   *   turn_idx = doc_id // 97
   *   role     = user/assistant/tool by doc_id % 3
   *   tool     = 'search' when role='tool' else NULL
   *   ts       = epoch + doc_id seconds
   */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        concat(lit("c"), (col("doc_id") % 97).cast("string")).as("conv_id"),
        (col("doc_id") / 97).cast("int").as("turn_idx"),
        element_at(array(lit("user"), lit("assistant"), lit("tool")),
          (col("doc_id") % 3).cast("int") + 1).as("role"),
        col("text"),
        when(col("doc_id") % 3 === 2, lit("search")).otherwise(lit(null).cast("string")).as("tool"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"))
  }

  /** Matching DuckDB SQL for [[fromDocuments]] (oracle side). */
  val fromDocumentsSql: String =
    """SELECT 'c' || CAST(doc_id % 97 AS VARCHAR) AS conv_id,
      |       CAST(doc_id // 97 AS INT) AS turn_idx,
      |       CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
      |       text,
      |       CASE WHEN doc_id % 3 = 2 THEN 'search' END AS tool,
      |       to_timestamp(1700000000 + doc_id) AS ts
      |FROM documents""".stripMargin

  /**
   * Distributed deterministic generator. `nConvs` conversations; turns per
   * conversation = 4 + h%12, except every 1000th conversation gets a
   * `skewFactor`× longer tail (a single multi-thousand-turn conversation must
   * not serialize a task — SURVEY §7.5.3).
   */
  def synthetic(spark: SparkSession, nConvs: Long, seed: Long = 42L,
                wordsPerTurn: Int = 40, skewFactor: Int = 50,
                mentionEvery: Int = 16): DataFrame = {
    val vocabArr = array(vocab.map(lit): _*)
    val nWords = vocab.size

    spark.range(nConvs)
      .select(
        concat(lit("conv"), col("id")).as("conv_id"),
        col("id").as("cid"),
        when(col("id") % 1000 === 0,
          (lit(4) + pmod(xxhash64(col("id"), lit(seed)), lit(12))) * skewFactor)
          .otherwise(lit(4) + pmod(xxhash64(col("id"), lit(seed)), lit(12)))
          .cast("int").as("n_turns"))
      .select(col("conv_id"), col("cid"),
        posexplode(sequence(lit(0), col("n_turns") - 1)).as(Seq("turn_idx", "_t")))
      .select(
        col("conv_id"),
        col("turn_idx"),
        element_at(array(lit("user"), lit("assistant"), lit("tool")),
          pmod(col("turn_idx"), lit(3)).cast("int") + 1).as("role"),
        // text: wordsPerTurn words per turn; 1-in-mentionEvery words is a
        // planted lexicon term, the rest draw from a 20k-word noise
        // vocabulary — realistic mention density (~1-3 per turn), so bench
        // output volume tracks real corpora instead of being output-bound
        // hash array staged through an inner transform (project HOF rule:
        // a `val h` spliced into three spots re-evaluates xxhash64 per
        // reference — as a lambda-bound element it computes ONCE per word);
        // same hash values, so the generated corpus is byte-identical
        concat_ws(" ",
          transform(
            transform(sequence(lit(0), lit(wordsPerTurn - 1)),
              i => xxhash64(col("cid"), col("turn_idx"), i, lit(seed))),
            h => when(pmod(h, lit(mentionEvery)) === 0,
                element_at(vocabArr, pmod(h, lit(nWords)).cast("int") + 1))
              .otherwise(concat(lit("w"), pmod(h, lit(20000)).cast("string")))))
          .as("text"),
        when(pmod(col("turn_idx"), lit(3)) === 2, lit("search"))
          .otherwise(lit(null).cast("string")).as("tool"),
        timestamp_seconds(lit(1700000000L) + col("cid") * 10000 + col("turn_idx")).as("ts"))
  }
}
