package graft.ground

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
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
    val surfaces: Array[String],          // original (pre-normalization) representative surface
    /** Distinct canonical top-1 CURIEs (concept table for flag-array dedup),
      * in order of first appearance over the pattern ids. */
    val conceptCuries: Array[String],
    /** pattern id → index into [[conceptCuries]]. The fused triple kernel
      * never consults surfaces/case bonuses (the predicate-weight argmax
      * depends on the pattern alone), so the span top-1 is a pure function
      * of pid — resolved ONCE at build, not 10^12 times out there. */
    val pidConcept: Array[Int])
  extends Serializable {

  /** Predicate weight: label beats exact synonym beats everything else. */
  @inline def predicateWeight(pred: String): Double = Grounder.predicateWeight(pred)

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

  /** Concept CURIEs' UTF-8 packed end to end in one array, and where each
    * starts (concept c is `[starts(c), starts(c + 1))`). A mention triple
    * copies its obj from here: a UTF8String per concept would cost two
    * dependent loads into scattered objects per triple. Built once per
    * executor after broadcast deserialization (transient), shared by all
    * tasks read-only. */
  @transient lazy val conceptBytes: (Array[Byte], Array[Int]) = {
    val utf8 = conceptCuries.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (utf8.flatten, utf8.scanLeft(0)(_ + _.length))
  }

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

  private def predicateWeight(pred: String): Double = pred match {
    case Vocab.Label => 10.0
    case Vocab.HasExactSynonym => 9.0
    case Vocab.HasNarrowSynonym => 7.0
    case Vocab.HasBroadSynonym => 6.0
    case Vocab.HasRelatedSynonym => 5.0
    case _ => 4.0
  }

  /** Hard bound on the lexicon rows [[build]] collects to the driver (rows
    * whose text normalizes to something; a lexicon never has fewer rows than
    * distinct normalized patterns). ~2M rows is a few GiB of driver heap —
    * within a production driver's budget but a deliberate ceiling: a
    * UMLS-scale (~4M-term) lexicon would otherwise stress driver memory
    * SILENTLY, surfacing as a mid-build OOM instead of a diagnosis. */
  val MaxDriverPatterns = 2000000L

  /** The rows [[build]] collects: (prefix, id, name, predicate, text, norm)
    * per lexicon row whose text normalizes to something, name defaulting to
    * the text. Row-wise (the normalize UDF runs distributed), no exchange. */
  private[graft] def lexiconRows(literalMappings: DataFrame): DataFrame = {
    val normUdf = udf((s: String) => AhoCorasick.normalize(s))
    literalMappings
      .select(col("prefix"), col("id"), coalesce(col("name"), col("text")).as("name"),
        col("predicate"), col("text"))
      .withColumn("norm", normUdf(col("text")))
      .filter(col("norm") =!= "")
  }

  /**
   * Build from a literal_mappings DataFrame (columns prefix, id, name,
   * predicate, text): ONE Spark job collects [[lexiconRows]], and one driver
   * pass groups them by normalized pattern. A groupBy in Spark would save the
   * driver nothing — every raw row rides inside its pattern's group — and
   * costs a shuffle and a second job.
   *
   * The collect is HARD-BOUNDED at `maxPatterns` collected ROWS via
   * [[DriverProbe]] (one job, the driver holds at most maxPatterns rows): the
   * rows, not the distinct patterns, are what the driver heap grows with, so
   * a lexicon of many spellings per pattern hits the cap before its pattern
   * count does. An over-cap lexicon fails loudly with a strategy pointer
   * instead of OOMing the driver.
   */
  def build(literalMappings: DataFrame,
            canonical: Map[String, String] = Map.empty,
            maxPatterns: Long = MaxDriverPatterns): Grounder = {
    val rows = DriverProbe.bounded(lexiconRows(literalMappings), maxPatterns).getOrElse(
      throw new IllegalStateException(
        s"lexicon exceeds $maxPatterns rows with a non-empty normalized text (the cap " +
          "counts collected lexicon rows, which are never fewer than its distinct " +
          "normalized patterns) — too large for one driver-built automaton. Either raise " +
          "maxPatterns to match the driver's actual heap, or use " +
          "Grounder.buildSharded(lexicon, N): it shards the pattern space by hash of the " +
          "NORMALIZED pattern text (raw text would split variant spellings of one pattern " +
          "across shards and corrupt per-span top-1), and the union of the shards' " +
          "mentions (MentionDetector.detectTriplesSharded) equals the single-automaton " +
          "result exactly."))
    fromRows(rows, canonical)
  }

  /**
   * The driver half of [[build]]. One sort of the row indices by (norm,
   * prefix, id, predicate, text) makes the order independent of the input's
   * partitioning; one loop over it then yields, per pattern (sorted): the
   * surface (the first row's text), the entries — folded through the xref
   * canonical map, so they are born canonical and downstream triples need no
   * remap pass, distinct, sorted by (prefix, id, predicate) — and the
   * pattern's top-1 concept. `trie` builds the automaton over the sorted
   * patterns (a seam for timing it apart, [[graft.tools.SetupProbe]]).
   */
  private[graft] def fromRows(rows: Array[org.apache.spark.sql.Row], canonical: Map[String, String],
                              trie: Seq[String] => AhoCorasick = AhoCorasick.build): Grounder = {
    val n = rows.length
    val prefix, id, name, predicate, text, norm = new Array[String](n)
    var r = 0
    while (r < n) {
      val row = rows(r)
      prefix(r) = row.getString(0); id(r) = row.getString(1); name(r) = row.getString(2)
      predicate(r) = row.getString(3); text(r) = row.getString(4); norm(r) = row.getString(5)
      r += 1
    }
    val order = sortedIndices(n, (a, b) => {
      var c = compareNullsFirst(norm(a), norm(b))
      if (c == 0) c = compareNullsFirst(prefix(a), prefix(b))
      if (c == 0) c = compareNullsFirst(id(a), id(b))
      if (c == 0) c = compareNullsFirst(predicate(a), predicate(b))
      if (c == 0) c = compareNullsFirst(text(a), text(b))
      c
    })
    val byKey: java.util.Comparator[TermEntry] = (x, y) => {
      var c = compareNullsFirst(x.prefix, y.prefix)
      if (c == 0) c = compareNullsFirst(x.id, y.id)
      if (c == 0) c = compareNullsFirst(x.predicate, y.predicate)
      c
    }

    val patterns, surfaces = new scala.collection.mutable.ArrayBuffer[String]
    val entries = new scala.collection.mutable.ArrayBuffer[Array[TermEntry]]
    val pidConcept = new scala.collection.mutable.ArrayBuffer[Int]
    val conceptCuries = new scala.collection.mutable.ArrayBuffer[String]
    val conceptOf = new scala.collection.mutable.HashMap[(String, String), Int]
    var group = new Array[TermEntry](16)
    var i = 0
    while (i < n) {
      val pattern = norm(order(i))
      patterns += pattern
      surfaces += text(order(i))
      var k = 0
      while (i < n && norm(order(i)) == pattern) {
        val row = order(i)
        if (k == group.length) group = java.util.Arrays.copyOf(group, 2 * k)
        group(k) = canonicalEntry(TermEntry(prefix(row), id(row), name(row), predicate(row)), canonical)
        k += 1
        i += 1
      }
      // the rows came sorted by the ORIGINAL ids; a stable sort by the
      // canonical ones keeps that order among ties, and an entry equal to
      // one before it can only sit in its own (prefix, id, predicate) run
      java.util.Arrays.sort(group, 0, k, byKey)
      val es = new scala.collection.mutable.ArrayBuffer[TermEntry](k)
      var run = 0
      var j = 0
      while (j < k) {
        val e = group(j)
        if (j > 0 && byKey.compare(group(j - 1), e) != 0) run = es.length
        var dup = false
        var m = run
        while (!dup && m < es.length) { dup = es(m) == e; m += 1 }
        if (!dup) es += e
        j += 1
      }
      // top-1: the first entry of the highest predicate weight
      var best = es(0)
      j = 1
      while (j < es.length) {
        if (predicateWeight(es(j).predicate) > predicateWeight(best.predicate)) best = es(j)
        j += 1
      }
      entries += es.toArray
      pidConcept += conceptOf.getOrElseUpdate((best.prefix, best.id), {
        conceptCuries += best.prefix + ":" + best.id
        conceptCuries.length - 1
      })
    }
    new Grounder(trie(patterns.toIndexedSeq), entries.toArray, surfaces.toArray,
      conceptCuries.toArray, pidConcept.toArray)
  }

  /** `t` with its CURIE replaced through the xref canonical map, if mapped. */
  private def canonicalEntry(t: TermEntry, canonical: Map[String, String]): TermEntry =
    if (canonical.isEmpty) t
    else canonical.get(s"${t.prefix}:${t.id}") match {
      case Some(canon) if canon.indexOf(':') > 0 =>
        val c = canon.indexOf(':')
        t.copy(prefix = canon.substring(0, c), id = canon.substring(c + 1))
      case _ => t
    }

  @inline private def compareNullsFirst(x: String, y: String): Int =
    if (x eq y) 0 else if (x == null) -1 else if (y == null) 1 else x.compareTo(y)

  /** The indices 0 until n, stably sorted by `cmp`: a bottom-up merge sort
    * over Int arrays, so no index is boxed. */
  private def sortedIndices(n: Int, cmp: (Int, Int) => Int): Array[Int] = {
    var a = Array.range(0, n)
    var b = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var i = lo
        var j = mid
        var k = lo
        while (k < hi) {
          if (i < mid && (j >= hi || cmp(a(i), a(j)) <= 0)) { b(k) = a(i); i += 1 }
          else { b(k) = a(j); j += 1 }
          k += 1
        }
        lo = hi
      }
      val t = a; a = b; b = t
      width *= 2
    }
    a
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
   * build pays its own probe job but collects only its slice.
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

  /** Derived once: `spark.implicits` would derive it by reflection per call. */
  private lazy val slimEncoder: Encoder[SlimTurn] = Encoders.product[SlimTurn]

  def slim(transcripts: org.apache.spark.sql.DataFrame): Dataset[SlimTurn] =
    transcripts.select(col("conv_id"), col("turn_idx"), col("text")).as(slimEncoder)

  /**
   * THE scale path, and the only production detection path: detection →
   * span top-1 → per-turn concept dedup, fused into one map-side pass
   * emitting finished (subj, pred, obj) triples, as a first-class Catalyst
   * operator ([[graft.plans.DetectTriplesNode]]): the fused byte-scan kernel
   * sits inside the single query plan, visible to the optimizer, and the exec
   * renders the triples itself. The kernel is also the only place that
   * counts turns and mentions.
   *
   * Zero-shuffle dedup argument: triple subj embeds (conv_id, turn_idx), so
   * duplicates of a (turn, concept) pair can only originate from the same
   * turn — which lives in exactly one partition. A per-turn dedup therefore
   * yields GLOBALLY distinct mention triples with no exchange; with entries
   * born canonical (Grounder.build canonical map) nothing downstream needs a
   * second pass. This holds under ANY partitioning of the turns, so the
   * pipeline shuffles no corpus at all: a pass runs in the input's own
   * partitions.
   */
  def detectTriples(turns: Dataset[SlimTurn], grounder: Broadcast[Grounder],
                    metrics: Option[graft.pipeline.RunMetrics] = None): org.apache.spark.sql.DataFrame =
    detectTriplesIn(turns.toDF(), grounder, metrics)

  /** [[detectTriples]] over the (conv_id, turn_idx, text) columns of any
    * frame: plans the kernel with no typed round trip. */
  def detectTriplesIn(turns: DataFrame, grounder: Broadcast[Grounder],
                      metrics: Option[graft.pipeline.RunMetrics] = None): DataFrame = {
    val spark = turns.sparkSession
    import org.apache.spark.sql.graftshim.InternalRowShim
    graft.plans.DetectTriples.ensureRegistered(spark)
    val node = graft.plans.DetectTriplesNode(InternalRowShim.logicalPlan(
      turns.select(col("conv_id"), col("turn_idx"), col("text"))), grounder, metrics)
    InternalRowShim.logicalDf(spark, node)
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
