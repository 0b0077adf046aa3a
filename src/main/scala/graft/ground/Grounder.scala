package graft.ground

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast

import graft.model.{Mention, Triple, Turn, Vocab}
import graft.operators.DriverProbe

/** Slim detection input: only the columns the automaton needs — decoding
  * role/tool/ts (esp. Timestamp) per row measurably slows the scan. */
final case class SlimTurn(conv_id: String, turn_idx: Int, text: String)

/** One lexicon entry attached to a normalized pattern. */
final case class TermEntry(prefix: String, id: String, name: String, predicate: String)

/**
 * Dictionary grounder (SURVEY F5 — ssslm.make_grounder / gilda-family
 * semantics per the contract documented at ner.py:47-64):
 *
 *  - the index is keyed on NORMALIZED text (casefold + whitespace/dash fold);
 *  - `ground(text)` returns candidates ranked by match quality:
 *    exact label > exact synonym > related/broad synonyms, with an
 *    exact-case bonus; deterministic tie-break on CURIE (SURVEY §7.5.4 —
 *    without it P/R flakes across parallelism levels).
 *
 * Built on the driver from the lexicon DataFrame (ontology-sized: ≤ ~1e6
 * rows — tiny vs the corpus), then broadcast once and shared by every
 * partition of the 10^12-turn mention-detection stage.
 */
final class Grounder private (
    val automaton: AhoCorasick,
    val entries: Array[Array[TermEntry]], // per pattern id
    val surfaces: Array[String])          // original (pre-normalization) representative surface
  extends Serializable {

  /** Predicate weight: label beats exact synonym beats everything else. */
  @inline def predicateWeight(pred: String): Double = pred match {
    case Vocab.Label => 10.0
    case Vocab.HasExactSynonym => 9.0
    case Vocab.HasNarrowSynonym => 7.0
    case Vocab.HasBroadSynonym => 6.0
    case Vocab.HasRelatedSynonym => 5.0
    case _ => 4.0
  }

  /** All scored candidates for every word-boundary match in `text`. */
  def findMentions(convId: String, turnIdx: Int, text: String): Iterator[Mention] = {
    if (text == null || text.isEmpty) return Iterator.empty
    val norm = AhoCorasick.normalize(text)
    automaton.findAll(norm).iterator.flatMap { case (start, end, pid) =>
      val surfaceNorm = norm.substring(start, end)
      entries(pid).iterator.map { e =>
        val caseBonus = if (text.contains(surfaces(pid))) 0.5 else 0.0
        Mention(convId, turnIdx, start, end, surfaceNorm,
          e.prefix, e.id, e.name, e.predicate,
          predicateWeight(e.predicate) + caseBonus)
      }
    }
  }

  /**
   * Best candidate per matched span, resolved inline — semantically identical
   * to findMentions + a (score desc, prefix, id, predicate) ranking window,
   * but with ZERO shuffle: all candidates of a span come from the same
   * automaton hit, so the arg-max never needs to leave the partition.
   */
  def findTopMentions(convId: String, turnIdx: Int, text: String): Iterator[Mention] = {
    if (text == null || text.isEmpty) return Iterator.empty
    val norm = AhoCorasick.normalize(text)
    automaton.findAll(norm).iterator.map { case (start, end, pid) =>
      val surfaceNorm = norm.substring(start, end)
      val caseBonus = if (text.contains(surfaces(pid))) 0.5 else 0.0
      var best: TermEntry = null
      var bestScore = Double.MinValue
      val es = entries(pid)
      var i = 0
      while (i < es.length) {
        val e = es(i)
        val sc = predicateWeight(e.predicate) + caseBonus
        // tie-break (prefix, id, predicate) asc — es is pre-sorted that way,
        // so strict > keeps the first (smallest) among equals
        if (sc > bestScore) { bestScore = sc; best = e }
        i += 1
      }
      Mention(convId, turnIdx, start, end, surfaceNorm,
        best.prefix, best.id, best.name, best.predicate, bestScore)
    }
  }

  // ----- precomputed hot-loop tables ---------------------------------------
  // The fused triple kernel never consults surfaces/case bonuses (the
  // predicate-weight argmax depends on the pattern alone), so the span top-1
  // is a pure function of pid — resolved ONCE here, not 10^12 times out there.

  /** Best entry per pattern id by (predicateWeight desc, prefix/id/pred asc). */
  private def bestEntry(pid: Int): TermEntry = {
    val es = entries(pid)
    var best = es(0)
    var bestScore = predicateWeight(es(0).predicate)
    var i = 1
    while (i < es.length) {
      val sc = predicateWeight(es(i).predicate)
      if (sc > bestScore) { bestScore = sc; best = es(i) }
      i += 1
    }
    best
  }

  /** Distinct canonical top-1 CURIEs (concept table for flag-array dedup). */
  val conceptCuries: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashMap[String, Int]()
    entries.indices.foreach { pid =>
      val b = bestEntry(pid)
      seen.getOrElseUpdate(b.prefix + ":" + b.id, seen.size)
    }
    seen.keys.toArray
  }

  /** pattern id → index into [[conceptCuries]]. */
  val pidConcept: Array[Int] = {
    val idx = conceptCuries.zipWithIndex.toMap
    entries.indices.map { pid =>
      val b = bestEntry(pid)
      idx(b.prefix + ":" + b.id)
    }.toArray
  }

  /** Concept CURIEs pre-encoded as UTF8String — built once per executor after
    * broadcast deserialization (transient), shared by all tasks read-only. */
  @transient lazy val conceptUtf8: Array[org.apache.spark.unsafe.types.UTF8String] =
    conceptCuries.map(org.apache.spark.unsafe.types.UTF8String.fromString)

  /** Driver-side single-string grounding (reference: grounder.ground("apoptosis")). */
  def ground(text: String): Seq[Mention] =
    findMentions("", 0, text).toSeq.sortBy(m => (-m.score, m.prefix, m.id))
}

object Grounder {

  /**
   * Per-task span-top-1 + per-turn concept dedup sink: pid → concept index
   * (precomputed in [[Grounder]]), deduped by a flag array + touched list —
   * zero hashing, zero boxing, zero allocation per turn. A class with fields
   * (not a lambda over local vars) so scalac doesn't box the counters.
   */
  final class ConceptCollector(g: Grounder) extends ((Int, Int, Int) => Unit) {
    private val flags = new Array[Boolean](g.conceptCuries.length)
    val hits = new Array[Int](g.conceptCuries.length)
    var n = 0
    override def apply(start: Int, end: Int, pid: Int): Unit = {
      val ci = g.pidConcept(pid)
      if (!flags(ci)) { flags(ci) = true; hits(n) = ci; n += 1 }
    }
    def reset(): Unit = {
      var i = 0
      while (i < n) { flags(hits(i)) = false; i += 1 }
      n = 0
    }
  }

  /** Hard bound on distinct normalized patterns collected to the driver.
    * ~2M pattern rows (with entry structs) is a few GiB of driver heap —
    * within a production driver's budget but a deliberate ceiling: a
    * UMLS-scale (~4M-term) lexicon would otherwise stress driver memory
    * SILENTLY, surfacing as a mid-build OOM instead of a diagnosis. */
  val MaxDriverPatterns = 2000000L

  /**
   * Build from a literal_mappings DataFrame (columns prefix, id, name,
   * predicate, text). The groupBy on NORMALIZED text happens in Spark — the
   * normalize UDF runs distributed (ontology side, never the corpus hot
   * path) and the driver collects one row per DISTINCT normalized pattern,
   * not one per raw lexicon row: a huge lexicon aggregates before it ever
   * touches the driver (round-1 collected raw rows and grouped driver-side).
   *
   * The collect is HARD-BOUNDED at `maxPatterns` via [[DriverProbe]] (one
   * job, at most maxPatterns+1 rows ever reach the driver); an over-cap
   * lexicon fails loudly with a strategy pointer instead of OOMing the driver.
   */
  def build(literalMappings: DataFrame,
            canonical: Map[String, String] = Map.empty,
            maxPatterns: Long = MaxDriverPatterns): Grounder = {
    val normUdf = udf((s: String) => AhoCorasick.normalize(s))
    val byPattern = literalMappings
      .select(col("prefix"), col("id"), coalesce(col("name"), col("text")).as("name"),
        col("predicate"), col("text"))
      .withColumn("norm", normUdf(col("text")))
      .filter(col("norm") =!= "")
      .groupBy(col("norm"))
      .agg(collect_list(struct(col("prefix"), col("id"), col("name"),
        col("predicate"), col("text"))).as("es"))
    val grouped = DriverProbe.bounded(byPattern, maxPatterns).getOrElse(
      throw new IllegalStateException(
        s"lexicon exceeds $maxPatterns distinct normalized patterns — too large " +
          "for one driver-built automaton. Either raise maxPatterns to match the " +
          "driver's actual heap, or use Grounder.buildSharded(lexicon, N): it " +
          "shards the pattern space by hash of the NORMALIZED pattern text (raw " +
          "text would split variant spellings of one pattern across shards and " +
          "corrupt per-span top-1), and the union of the shards' mentions " +
          "(MentionDetector.detectTriplesSharded) equals " +
          "the single-automaton result exactly."))

    // deterministic order regardless of partitioning: patterns sorted, and
    // per-pattern entries sorted by (prefix, id, predicate, text)
    val sorted = grouped.map { r =>
      val norm = r.getString(0)
      val es = r.getSeq[org.apache.spark.sql.Row](1).map { e =>
        (TermEntry(e.getString(0), e.getString(1), e.getString(2), e.getString(3)), e.getString(4))
      }.sortBy { case (t, text) => (t.prefix, t.id, t.predicate, text) }
      norm -> es
    }.sortBy(_._1)

    val patterns = sorted.map(_._1)
    val entries = sorted.map { case (_, es) =>
      es.map { case (t, _) =>
        // fold the xref entity-merge INTO the index: entries are born
        // canonical, so downstream triples need no remap pass at all
        canonical.get(s"${t.prefix}:${t.id}") match {
          case Some(canon) if canon.indexOf(':') > 0 =>
            val i = canon.indexOf(':')
            t.copy(prefix = canon.substring(0, i), id = canon.substring(i + 1))
          case _ => t
        }
      }.distinct.sortBy(e => (e.prefix, e.id, e.predicate)).toArray
    }
    val surfaces = sorted.map(_._2.head._2)
    new Grounder(AhoCorasick.build(patterns.toIndexedSeq), entries, surfaces)
  }

  /**
   * N-way PATTERN-SPACE sharding for lexicons beyond one driver automaton
   * (the strategy [[build]]'s over-cap failure points at): shard by hash of
   * the NORMALIZED pattern text — all raw spellings of one pattern
   * ("Alpha Beta" / "alpha-beta") co-locate, because they normalize
   * identically — and build one [[Grounder]] per shard.
   *
   * EXACTNESS: detection is per-pattern, and a matched span's surface IS its
   * normalized pattern, so any span is matched by exactly one shard's
   * automaton; the union of the shards' mentions equals the single-automaton
   * result, including span-local top-1 (equivalence-tested). Each shard's
   * build pays its own distributed aggregation but collects only its slice.
   */
  def buildSharded(literalMappings: DataFrame, nShards: Int,
                   canonical: Map[String, String] = Map.empty,
                   maxPatterns: Long = MaxDriverPatterns): Seq[Grounder] = {
    require(nShards >= 1, s"nShards must be >= 1 (got $nShards)")
    val normUdf = udf((s: String) => AhoCorasick.normalize(s))
    (0 until nShards).map { i =>
      build(literalMappings.filter(
        pmod(xxhash64(normUdf(col("text"))), lit(nShards)) === i),
        canonical, maxPatterns)
    }
  }
}

/**
 * Per-turn batched mention detection (SURVEY G4) + candidate scoring /
 * top-1 selection (F5).
 */
object MentionDetector {

  /**
   * `mapPartitions`-shaped detection: the broadcast automaton is per-partition
   * state (fetched once per task, not per row). Emits EVERY candidate of
   * every match; resolution happens in [[topCandidates]].
   */
  def detect(turns: Dataset[Turn], grounder: Broadcast[Grounder]): Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.mapPartitions { it =>
      val g = grounder.value
      it.flatMap(t => g.findMentions(t.conv_id, t.turn_idx, t.text))
    }
  }

  /**
   * String-path detection with span-local top-1 fused into the scan (see
   * [[Grounder.findTopMentions]]): same result as detect → topCandidates but
   * with no ranking-window shuffle. A REFERENCE path (tests, kgbench's
   * unfused check): production runs [[detectTriples]].
   */
  def detectTopSlim(turns: Dataset[SlimTurn], grounder: Broadcast[Grounder]): Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.mapPartitions { it =>
      val g = grounder.value
      it.flatMap(t => g.findTopMentions(t.conv_id, t.turn_idx, t.text))
    }
  }

  def slim(transcripts: org.apache.spark.sql.DataFrame): Dataset[SlimTurn] = {
    val spark = transcripts.sparkSession
    import spark.implicits._
    transcripts.select(col("conv_id"), col("turn_idx"), col("text")).as[SlimTurn]
  }

  /**
   * THE scale path, and the only production detection path: detection →
   * span top-1 → per-turn concept dedup, fused into one map-side pass
   * emitting final triples, as a first-class Catalyst operator
   * ([[graft.plans.DetectTriplesNode]]): the fused byte-scan kernel sits
   * inside the single query plan, the corpus exchange below it stays visible
   * to the optimizer, and subj/pred render in whole-stage codegen above it.
   * The kernel is also the only place that counts turns and mentions.
   *
   * Zero-shuffle dedup argument: triple subj embeds (conv_id, turn_idx), so
   * duplicates of a (turn, concept) pair can only originate from the same
   * turn — which lives in exactly one partition. A per-turn dedup therefore
   * yields GLOBALLY distinct mention triples with no exchange; with entries
   * born canonical (Grounder.build canonical map) nothing downstream needs a
   * second pass. Total corpus-wide shuffles in the whole pipeline: one (the
   * conversation-preserving repartition).
   */
  def detectTriples(turns: Dataset[SlimTurn], grounder: Broadcast[Grounder],
                    metrics: Option[graft.pipeline.RunMetrics] = None): org.apache.spark.sql.DataFrame = {
    val spark = turns.sparkSession
    import org.apache.spark.sql.graftshim.InternalRowShim
    graft.plans.DetectTriples.ensureRegistered(spark)
    val node = graft.plans.DetectTriplesNode(
      InternalRowShim.logicalPlan(turns.toDF()), grounder, metrics)
    InternalRowShim.logicalDf(spark, node).select(
      concat(lit("turn:"), col("conv_id"), lit("/"), col("turn_idx")).as("subj"),
      lit(Vocab.Mentions).as("pred"),
      col("obj"))
  }

  /**
   * Sharded-lexicon TRIPLE path: one fused detection pass per shard, then a
   * cross-shard dedup. Unlike mentions (span-disjoint across shards, union
   * is exact), triples are CONCEPT-level: two patterns of the same concept
   * (label vs synonym) can land in different shards and both emit the same
   * (turn, concept) triple — the in-kernel per-turn dedup only sees its own
   * shard. So this variant pays one real distinct exchange; that is the
   * documented price of sharding the automaton, on top of the N corpus
   * scans. (No per-shard metrics: accumulators would count each turn N×.)
   */
  def detectTriplesSharded(turns: Dataset[SlimTurn],
                           grounders: Seq[Broadcast[Grounder]]): org.apache.spark.sql.DataFrame = {
    require(grounders.nonEmpty, "need at least one grounder shard")
    grounders.map(g => detectTriples(turns, g)).reduce(_ unionByName _)
      .dropDuplicates("subj", "pred", "obj")
  }

  /**
   * Top-1 candidate per detected span via a ranking window — deterministic
   * tie-break (score desc, then CURIE asc) so results are stable across
   * parallelism levels (SURVEY §7.5.4).
   */
  def topCandidates(mentions: Dataset[Mention]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy("conv_id", "turn_idx", "start", "end")
      .orderBy(col("score").desc, col("prefix").asc, col("id").asc, col("predicate").asc)
    mentions.toDF()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .drop("rank")
  }

  /**
   * Final mention triples: (turn URI, ex:mentions, concept CURIE),
   * deduplicated (A2 — the "final groupBy-dedup materialization").
   */
  def mentionTriples(topMentions: DataFrame): DataFrame =
    topMentions.select(
      concat(lit("turn:"), col("conv_id"), lit("/"), col("turn_idx")).as("subj"),
      lit(Vocab.Mentions).as("pred"),
      concat(col("prefix"), lit(":"), col("id")).as("obj"))
      .dropDuplicates("subj", "pred", "obj")
}
