package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines, applied to
 * the `documents(doc_id, text, lang, source, n_chars)` table (and transcript
 * turns). All pure Catalyst expressions — codegen'd end to end, no UDFs — so
 * every operator scans at parquet-reader speed and pushes projection/filters
 * down (only `text` + key columns are read).
 */
object TextOps {

  /** Whitespace token count (empty text → 0). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Stopword lists per language — fixed, tiny, inlined as literals. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une"))

  /** Count word-boundary occurrences of any of `words` (non-overlapping regex scan). */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(text, lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))

  /**
   * n-gram-heuristic language ID: argmax of per-language stopword hit counts,
   * deterministic tie-break on language code, "und" (undetermined) when no
   * list hits at all.
   */
  def langId(text: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHits(text, words).as("hits"), lit(lang).as("lang"))
    }
    // struct comparison = (hits, lang) lexicographic → ties break to the
    // lexicographically-LAST language code; deterministic and oracle-replicable
    val top = array_max(array(scored: _*))
    // NULL text → NULL guess (without the guard, every per-language hits
    // field is null, the struct max tie-breaks on lang alone, and the
    // `hits === 0` test is null → the otherwise-branch emits a LANGUAGE)
    when(text.isNull, lit(null).cast("string"))
      .when(top.getField("hits") === 0, lit("und")).otherwise(top.getField("lang"))
  }

  /**
   * Document quality score in [0,1] — length, punctuation-ratio and
   * stopword-ratio components (the standard pretraining-filter trio).
   * Deterministic, SQL-expressible (oracle-checkable in DuckDB).
   */
  def qualityScore(text: Column): Column = {
    val nChars = length(text)
    val nTokens = tokenCount(text)
    val allStops = stopwords.values.flatten.toSeq.distinct
    val stops = stopwordHits(text, allStops)
    val punct = size(regexp_extract_all(text, lit("[\\.,;:!\\?]"), lit(0)))
    val lenScore = least(nChars.cast("double") / lit(500.0), lit(1.0))
    val stopScore = least(stops.cast("double") * lit(5.0) / greatest(nTokens, lit(1)).cast("double"), lit(1.0))
    val punctPenalty = least(punct.cast("double") * lit(10.0) / greatest(nChars, lit(1)).cast("double"), lit(1.0))
    round((lenScore + stopScore + (lit(1.0) - punctPenalty)) / lit(3.0), 4)
  }

  /**
   * Token-count via a BPE-ish regex (word pieces + digits + punctuation
   * runs) — the standard cheap token estimator when no tokenizer model ships
   * with the engine.
   */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /**
   * Deterministic 64-bit document fingerprint: xxhash64 over
   * [[DedupOps.normText]] (whitespace-normalized, casefolded). Content-defined
   * (whitespace runs collapse), so trivial formatting changes don't change
   * the fingerprint. The one fingerprint of exact, incremental-exact and
   * streaming exact dedup.
   */
  def fingerprint(text: Column): Column =
    xxhash64(DedupOps.normText(text))

  /** documents table → per-doc text metrics frame (one scan, all codegen). */
  def metrics(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      bpeishTokenCount(col("text")).as("n_bpeish"),
      langId(col("text")).as("lang_guess"),
      qualityScore(col("text")).as("quality"),
      fingerprint(col("text")).as("fingerprint"))

  // -------------------------------------------------------------------------
  // deterministic stratified sampling (data mixing)
  // -------------------------------------------------------------------------

  /** PORTABLE 60-bit row hash: first 15 hex chars of md5(key ++ salt) — md5
    * exists in both Spark and DuckDB (same trick as the portable simhash),
    * so a sampling decision is bit-exactly recomputable by the SQL oracle.
    * Uniform in [0, 2^60); deterministic in (key, salt) — reruns, retries
    * and different partitionings all select the SAME rows, which is what a
    * training-data mixing stage must guarantee for reproducibility. */
  def portableRowHash(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit(salt))), 1, 15), 16, 10)
      .cast("long")

  /** Integer sampling threshold for `rate` — computed ONCE driver-side and
    * inlined as a literal on BOTH the engine and oracle sides, so no
    * double→long cast semantics (Spark truncates, DuckDB rounds) can
    * diverge. */
  def rateThreshold(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate out of [0,1]: $rate")
    (rate * (1L << 60)).toLong
  }

  /**
   * Deterministic STRATIFIED sampling — the data-mixing primitive of a
   * pretraining pipeline ("keep 50% of en, 25% of de, 10% of the rest").
   * Pure map-side filter (no shuffle, no sampling state, no RNG): a row
   * survives iff its portable hash falls under its stratum's threshold.
   * Per-stratum rates are a broadcast-free literal map lookup; sampling a
   * 100 TB corpus is exactly one codegen'd scan.
   */
  /** @param keyCol the unique-id column the sampling hash keys on (the
    *   sampled subset is a deterministic function of (keyCol, salt) alone) */
  def stratifiedSample(documents: DataFrame, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String = "graft-mix",
                       keyCol: String = "doc_id"): DataFrame = {
    val thr =
      if (rates.isEmpty) lit(rateThreshold(defaultRate))
      else {
        val keys = array(rates.keys.toSeq.sorted.map(lit): _*)
        val vals = array(rates.keys.toSeq.sorted.map(k => lit(rateThreshold(rates(k)))): _*)
        coalesce(element_at(map_from_arrays(keys, vals), col(strataCol)),
          lit(rateThreshold(defaultRate)))
      }
    documents.filter(portableRowHash(col(keyCol), salt) < thr)
  }

  /**
   * Deterministic per-source (domain) CAP — the corpus-balancing primitive
   * ("no domain contributes more than N documents"): keep, per source, the
   * `maxPerSource` docs with the smallest portable row hash (doc_id
   * tie-break) — reproducible, partitioning-invariant, and a uniform random
   * subset of each domain (the hash is uniform in the key, so the kept set
   * is an unbiased sample rather than a crawl-order prefix).
   *
   * 100 TB shape: the ranking window partitions by source, and Spark's
   * WindowGroupLimit pushes a PARTIAL top-N below the exchange — a
   * mega-domain contributes at most N rows per input partition to the
   * shuffle, not its full membership (plan-pinned in tests).
   */
  def perSourceCap(documents: DataFrame, maxPerSource: Int,
                   sourceCol: String = "source", salt: String = "graft-cap",
                   keyCol: String = "doc_id"): DataFrame = {
    require(maxPerSource > 0, s"maxPerSource must be positive: $maxPerSource")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(sourceCol)
      .orderBy(portableRowHash(col(keyCol), salt).asc, col(keyCol).asc)
    documents.withColumn("src_rank", row_number().over(w))
      .filter(col("src_rank") <= maxPerSource).drop("src_rank")
  }

  // -------------------------------------------------------------------------
  // intra-document repetition (Gopher/RefinedWeb-style quality signal)
  // -------------------------------------------------------------------------

  /** Duplicate-token fraction of a STAGED token-array attribute (HOF-lambda
    * CSE rule: pass a real projection column). THE single definition — the
    * q_repetition oracle gates it, and CorpusHygiene's filter stage must
    * stay bit-identical to it (the q_hygiene composition oracle assumes so). */
  def dupTokenFrac(toks: Column): Column =
    lit(1.0) - size(array_distinct(toks)).cast("double") / greatest(size(toks), lit(1))

  /**
   * Within-document repetition metrics: fraction of duplicate tokens and of
   * duplicate token-3-grams — the standard signals for filtering degenerate
   * generations / boilerplate loops out of training data. Token arrays are
   * staged through real projections (HOF-lambda CSE rule); null text is
   * treated as empty. Fractions are 0 for docs too short to repeat.
   */
  def repetitionMetrics(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        split(DedupOps.normText(coalesce(col("text"), lit(""))), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        DedupOps.shinglesFromTokens(col("toks")).as("sh"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        round(dupTokenFrac(col("toks")), 6).as("dup_token_frac"),
        // shinglesFromTokens is already distinct; total 3-gram count is
        // n_tokens - 2 (docs with < 3 tokens produce one whole-text shingle
        // against a denominator of 1 → frac 0, mirrored by the oracle CASE)
        round(lit(1.0) - size(col("sh")).cast("double") /
          greatest(size(col("toks")) - 2, lit(1)), 6).as("dup_shingle_frac"))

  // -------------------------------------------------------------------------
  // sequence packing (training-batch preparation)
  // -------------------------------------------------------------------------

  /** Hard bound on the bucket-totals driver collect in [[packSequences]]:
    * 16M (bucket, total) pairs ≈ a few hundred MB of driver heap. 10^12 docs
    * at the default bucketWidth is 10^7 buckets — well inside; exceeding the
    * bound means bucketWidth is mis-dialed for the corpus, which must be a
    * diagnosis, not an OOM. */
  val MaxDriverBuckets = 16000000L

  /**
   * Concat-then-chunk SEQUENCE PACKING — the final step before a training
   * run: documents are laid out in deterministic doc_id order into one
   * virtual token stream, and each doc is assigned to the fixed-length
   * training sequence containing its first token.
   *
   * The global cumulative token offset is computed with a DISTRIBUTED
   * two-level prefix sum — the scale pattern a naive
   * `Window.orderBy(doc_id)` misses (a global-order window collapses the
   * whole corpus into ONE partition):
   *   1. docs bucket by `doc_id div bucketWidth`; per-bucket token totals
   *      (one row per bucket) collect to the driver, whose running prefix
   *      becomes a broadcast-joined bucket-offset table;
   *   2. the within-bucket cumulative sum is a window PARTITIONED BY bucket
   *      — thousands of independent windows running in parallel.
   * Driver memory is bounded by the bucket count (corpus/bucketWidth), and
   * the only corpus-wide exchange is the bucket-window shuffle. All index
   * arithmetic is INTEGER `div`/`pmod` — a double-divide-then-cast drifts
   * off the exact quotient once offsets pass 2^53, exactly the corpus sizes
   * this operator exists for. Null text counts 0 tokens; null doc_id is
   * rejected loudly (it has no position in the stream).
   *
   * @return (doc_id, n_tokens, offset, seq_id, offset_in_seq) — offset is
   *   the doc's first-token position in the global stream; seq_id =
   *   offset div seqLen; deterministic and partitioning-invariant
   */
  def packSequences(documents: DataFrame, seqLen: Int,
                    bucketWidth: Long = 100000L): DataFrame = {
    require(seqLen > 0 && bucketWidth > 0)
    import org.apache.spark.sql.expressions.Window
    val counted = documents.select(
      col("doc_id"),
      coalesce(tokenCount(col("text")).cast("long"), lit(0L)).as("n_tokens"),
      expr(s"`doc_id` div $bucketWidth").as("bucket"))
    // level 1: bucket totals → driver prefix (rows = corpus/bucketWidth) →
    // broadcast bucket-offset table, read with DriverProbe (the
    // Grounder.build shape): correctness needs the COMPLETE totals, so an
    // over-cap probe means the dial is wrong and the build fails loudly
    val spark = documents.sparkSession
    val probed = DriverProbe.bounded(
        counted.groupBy("bucket").agg(sum("n_tokens").as("total")), MaxDriverBuckets)
      .getOrElse(throw new IllegalStateException(
        s"packSequences: more than $MaxDriverBuckets prefix-sum buckets — raise " +
          s"bucketWidth (currently $bucketWidth) so corpus/bucketWidth fits the driver"))
    val totals = probed.map { r =>
      require(!r.isNullAt(0), "packSequences: null doc_id has no stream position")
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (b, t) => val o = (b, acc); acc += t; o }
    import spark.implicits._
    val bucketOffsets = offsets.toSeq.toDF("bucket", "bucket_offset")
    // level 2: within-bucket running sum — window partitioned by bucket
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counted
      .join(broadcast(bucketOffsets), "bucket")
      .withColumn("offset", col("bucket_offset") + sum("n_tokens").over(w) - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("offset"),
        expr(s"`offset` div $seqLen").as("seq_id"),
        pmod(col("offset"), lit(seqLen.toLong)).as("offset_in_seq"))
  }

  // -------------------------------------------------------------------------
  // incremental dedup (batch vs historical store)
  // -------------------------------------------------------------------------

  /**
   * Incremental EXACT dedup of a new batch against a HISTORICAL fingerprint
   * store — the steady-state shape of corpus ingestion (full-corpus re-dedup
   * per batch would re-shuffle 100 TB for every daily increment):
   *
   *   survivors = batch-internal exact dedup, then anti-join on the store's
   *   fingerprints; the updated store = old store ∪ survivors' fingerprints.
   *
   * The store is (fp: long) — 8 bytes per historical document, the only
   * state the pipeline carries between batches. Returns (survivors,
   * updatedStore); write the store back as the batch's snapshot (icelite)
   * for exactly-once resumability.
   */
  def incrementalExactDedup(batch: DataFrame,
                            store: DataFrame): (DataFrame, DataFrame) = {
    // batch-internal dedup on NARROW (fp, doc_id) rows — the exactDuplicates
    // shape: map-side partial agg collapses duplicates before the exchange
    // and TEXT never rides a shuffle here (a window over full rows would
    // shuffle the batch text by fp); then the store anti-join, also narrow
    val keep = batch
      .select(fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .join(store.select(col("fp")), Seq("fp"), "left_anti")
    // one join re-attaches the text to the surviving ids; dropDuplicates
    // guards the degenerate double-appended-file case (two rows with the
    // same doc_id AND text — the semi-join alone would emit both)
    val survivors = batch
      .join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .dropDuplicates("doc_id")
    // survivor fps are disjoint from the store by construction (left_anti)
    // and internally unique (one per group) — a distinct() here would
    // re-shuffle the ENTIRE historical store on every ingest batch
    val updated = store.select(col("fp")).unionByName(keep.select("fp"))
    (survivors, updated)
  }

  // -------------------------------------------------------------------------
  // Tokenizer vocab induction: BPE pair counting
  // -------------------------------------------------------------------------

  /**
   * The counting step of a BPE merge round (Sennrich et al., ACL'16): the
   * `topN` most frequent ADJACENT CHARACTER PAIRS across the corpus,
   * weighted by occurrence — the statistic a tokenizer-training pipeline
   * computes over the full corpus before each merge. Distinct from the
   * token-level bigram LM ([[graft.operators.NgramLm]]): pairs live INSIDE
   * words.
   *
   * Scale shape: pairs are exploded per word occurrence and aggregated
   * directly — no word-frequency intermediate, so the ONLY exchange carries
   * 2-char keys from a domain bounded by alphabet² with near-total map-side
   * combine (each task emits at most |distinct pairs| rows whatever its
   * input size). The final ranking window is a single sort over that same
   * bounded domain, never corpus-sized. Ties on count break on md5(pair)
   * (the q_domain_cap convention — engine-independent byte ordering, no
   * collation on the rank path).
   */
  def bpePairCounts(documents: DataFrame, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN > 0, s"topN must be positive (got $topN)")
    val pairs = documents
      // staged token array (the HOF-CSE rule), then per-occurrence explode
      .select(split(graft.operators.DedupOps.normText(col("text")), " ").as("toks"))
      .select(explode(col("toks")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, md5(col("pair").cast("binary")).asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("pair"), col("cnt"), col("rank"))
  }

  // -------------------------------------------------------------------------
  // Tokenizer vocab induction: BPE merge application + training
  // -------------------------------------------------------------------------

  /** One learned merge: at `rank`, symbols (`left`,`right`) fuse into
    * `merged` = left+right; `pairCount` is the corpus-weighted adjacency
    * count that won the round. */
  final case class BpeMerge(rank: Int, left: String, right: String,
                            merged: String, pairCount: Long)

  /** Character segmentation of a word — one single-char symbol per position,
    * plus an optional end-of-word marker symbol (the Sennrich ACL'16
    * convention, so merges cannot cross word boundaries when segmentations
    * are later concatenated). `word` must be a plain ATTRIBUTE column, not a
    * computed expression: the transform lambda indexes it per element (the
    * HOF-CSE rule — an attribute re-read is free, a computed expression is
    * re-evaluated once per character). */
  def charSegmentation(word: Column, endOfWord: Option[String]): Column = {
    val chars = transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))
    endOfWord.map(m => concat(chars, array(lit(m)))).getOrElse(chars)
  }

  /** One BPE merge (a,b) → a+b applied greedily LEFT-TO-RIGHT to a symbol
    * array — the fold consumes each occurrence's symbols exactly once, so
    * "b b b" under (b,b) gives [bb, b], never [b, bb] or [bb, bb]. The
    * lambda touches only its own variables and string literals (HOF-CSE
    * safe), and reads the running last symbol with null-safe `get` (empty
    * accumulator → null → no match) so it holds under ANSI semantics. */
  def bpeMergeOnce(seg: Column, a: String, b: String): Column =
    aggregate(
      seg,
      array().cast("array<string>"),
      (acc, x) =>
        when(get(acc, size(acc) - 1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Apply a FIXED merge table in rank order — the production tokenizer
    * shape (train once, segment every corpus with the frozen table). Each
    * merge is one fold; the chain is a single codegen'd expression per row,
    * so segmentation is a pure scan: no shuffle, no state. For merge tables
    * beyond a few dozen entries, loop with staged projections/checkpoints
    * instead of one mega-expression (the [[learnBpeMerges]] round loop is
    * that shape). */
  def applyBpeMerges(seg: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(seg) { case (s, (a, b)) => bpeMergeOnce(s, a, b) }

  /** Word-frequency table of the corpus under [[graft.operators.DedupOps.normText]]
    * tokenization — the ONLY corpus-sized step of BPE training (everything
    * after operates on distinct words). One shuffle on word strings with
    * full map-side combine. */
  def wordFrequencies(documents: DataFrame): DataFrame =
    documents
      .select(explode(split(graft.operators.DedupOps.normText(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Probe bound for the driver-side BPE training cost-switch: vocabularies
    * at or under this many distinct words train in-driver (one
    * [[DriverProbe]]); larger ones run the distributed round loop. */
  val BpeDriverVocabLimit = 200000

  /**
   * BPE tokenizer training (Sennrich et al., ACL'16): `nMerges` rounds of
   * count-adjacent-pairs → merge the winner, over the word-frequency table.
   * Ties on pair count break on md5(left + " " + right) — engine-independent
   * byte ordering (space cannot occur inside a whitespace-split symbol), the
   * same convention as [[bpePairCounts]]' rank.
   *
   * Scale shape: the corpus is touched exactly ONCE ([[wordFrequencies]]);
   * training state is the vocab-bounded `(word, cnt, seg)` table. Cost
   * switch (probed, not assumed): a vocab that fits
   * [[BpeDriverVocabLimit]] collects once and trains in-driver (n merge
   * rounds over an in-memory table — the common case even at 100 TB, since
   * distinct-word counts grow sublinearly); a larger vocab trains
   * distributed — per round, one narrow (l, r, cnt) pair aggregation (domain
   * bounded by the live symbol inventory², near-total map-side combine), a
   * 1-row driver argmax, and one fold projection, with the vocab
   * localCheckpointed each round so plans never nest. Both paths are
   * EQUIVALENT by construction and by test.
   *
   * @return (merges in rank order, final segmented vocab
   *         `(word, cnt, seg: array<string>)`)
   */
  def learnBpeMerges(documents: DataFrame, nMerges: Int,
                     endOfWord: Option[String] = Some("</w>"),
                     driverVocabLimit: Int = BpeDriverVocabLimit): (Seq[BpeMerge], DataFrame) =
    learnBpeMergesFromWords(wordFrequencies(documents).localCheckpoint(true),
      nMerges, endOfWord, driverVocabLimit)

  /** [[learnBpeMerges]] starting from an existing word-frequency table
    * `words(word, cnt)` — for callers that already materialize one (or a
    * probe that synthesizes a large vocab directly). */
  def learnBpeMergesFromWords(words: DataFrame, nMerges: Int,
                              endOfWord: Option[String] = Some("</w>"),
                              driverVocabLimit: Int = BpeDriverVocabLimit): (Seq[BpeMerge], DataFrame) = {
    require(nMerges > 0, s"nMerges must be positive (got $nMerges)")
    DriverProbe.bounded(words.select("word", "cnt"), driverVocabLimit) match {
      case Some(probe) =>
        val merges = trainBpeDriver(
          probe.map(r => (r.getString(0), r.getLong(1))).toSeq, nMerges, endOfWord)
        val vocab = applyBpeMergesStaged(words, merges.map(m => (m.left, m.right)), endOfWord)
          .select("word", "cnt", "seg")
        (merges, vocab)
      case None => trainBpeDistributed(words, nMerges, endOfWord)
    }
  }

  /** How many chained merge folds to collapse into one plan before cutting
    * lineage — CollapseProject inlines each withColumn (single-reference
    * alias), so without a periodic checkpoint a production merge table
    * (thousands of entries) becomes one nMerges-deep nested aggregate()
    * expression that Catalyst cannot analyze or codegen. */
  val BpeApplyStageDepth = 24

  /** Segment `words(word, cnt, ...)` with a fixed merge table, each fold
    * staged through its own projection and the lineage cut every
    * [[BpeApplyStageDepth]] merges (previous checkpoint unpersisted — the
    * trainBpeDistributed pattern). */
  private def applyBpeMergesStaged(words: DataFrame, merges: Seq[(String, String)],
                                   endOfWord: Option[String]): DataFrame = {
    import org.apache.spark.sql.graftshim.InternalRowShim
    var lastCheckpoint: Option[DataFrame] = None
    merges.zipWithIndex.foldLeft(
      words.withColumn("seg", charSegmentation(col("word"), endOfWord))) {
      case (df, ((a, b), i)) =>
        val next = df.withColumn("seg", bpeMergeOnce(col("seg"), a, b))
        if ((i + 1) % BpeApplyStageDepth == 0 && i + 1 < merges.size) {
          val cut = next.localCheckpoint(true)
          lastCheckpoint.foreach(InternalRowShim.unpersistCheckpoint)
          lastCheckpoint = Some(cut)
          cut
        } else next
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** In-driver trainer (vocab fits the probe bound). Same counting, same
    * greedy fold, same md5 tie-break as the distributed path. */
  private[graft] def trainBpeDriver(words: Seq[(String, Long)], nMerges: Int,
                                    endOfWord: Option[String]): Seq[BpeMerge] = {
    var vocab: Seq[(Array[String], Long)] = words.map { case (w, c) =>
      // segment by CODE POINTS, not UTF-16 code units — Spark's
      // length/substr count code points, so splitting a non-BMP char
      // (emoji) into surrogate halves here would diverge from
      // charSegmentation and break the driver≡distributed contract
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        ++ endOfWord.toSeq, c)
    }
    val out = Seq.newBuilder[BpeMerge]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (seg, c) =>
        var i = 0
        while (i < seg.length - 1) {
          val k = (seg(i), seg(i + 1)); counts(k) = counts.getOrElse(k, 0L) + c; i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.minBy { case ((l, rr), cnt) => (-cnt, md5Hex(l + " " + rr)) }
        out += BpeMerge(r, a, b, a + b, c)
        vocab = vocab.map { case (seg, cnt) =>
          val buf = new scala.collection.mutable.ArrayBuffer[String](seg.length)
          var i = 0
          while (i < seg.length) {
            if (i < seg.length - 1 && seg(i) == a && seg(i + 1) == b) { buf += a + b; i += 2 }
            else { buf += seg(i); i += 1 }
          }
          (buf.toArray, cnt)
        }
        r += 1
      }
    }
    out.result()
  }

  /** Distributed trainer: per round one narrow pair aggregation, a 1-row
    * argmax collect (bounded by construction), one fold projection,
    * localCheckpoint to truncate lineage — and the PREVIOUS round's
    * checkpoint explicitly unpersisted (the Closure.descendants pattern:
    * thousands of merge rounds must not accumulate a vocab-sized cached RDD
    * per round waiting for driver GC). */
  private def trainBpeDistributed(words0: DataFrame, nMerges: Int,
                                  endOfWord: Option[String]): (Seq[BpeMerge], DataFrame) = {
    import org.apache.spark.sql.graftshim.InternalRowShim
    var vocab = words0.select(col("word"), col("cnt"),
      charSegmentation(col("word"), endOfWord).as("seg")).localCheckpoint(true)
    val merges = Seq.newBuilder[BpeMerge]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val top = vocab.filter(size(col("seg")) >= 2)
        .select(col("cnt"), explode(
          // seg is an ATTRIBUTE of the checkpointed vocab — per-element
          // indexing inside the lambda is a plain array access (HOF-CSE safe)
          expr("transform(sequence(1, size(seg) - 1), i -> struct(seg[i - 1] AS l, seg[i] AS r))")).as("p"))
        .select(col("p.l").as("l"), col("p.r").as("r"), col("cnt"))
        .groupBy("l", "r").agg(sum(col("cnt")).as("pcnt"))
        .orderBy(col("pcnt").desc,
          md5(concat(col("l"), lit(" "), col("r")).cast("binary")))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += BpeMerge(r, a, b, a + b, c)
        val prev = vocab
        vocab = vocab.select(col("word"), col("cnt"),
          bpeMergeOnce(col("seg"), a, b).as("seg")).localCheckpoint(true)
        InternalRowShim.unpersistCheckpoint(prev)
        r += 1
      }
    }
    (merges.result(), vocab)
  }

  // -------------------------------------------------------------------------
  // PII redaction
  // -------------------------------------------------------------------------

  /** Redaction patterns — deliberately RE2-compatible (no lookarounds, no
    * backrefs) so the DuckDB oracle runs the IDENTICAL expressions: what the
    * engine redacts is value-checked, not assumed. Order matters and is part
    * of the contract: emails first (their local parts contain digits), then
    * IPv4 (dotted digit runs), then phone-like runs over what remains. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+?\\d[\\d -]{7,}\\d"

  /** Replace emails / IPv4s / phone-shaped digit runs with typed tags.
    * Codegen'd regexp_replace chain — redacting a corpus is one scan. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
}
