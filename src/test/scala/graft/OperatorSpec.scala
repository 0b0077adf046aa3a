package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class OperatorSpec extends AnyFunSuite with JobCounting {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // ---------------- TextOps ----------------

  test("tokenCount: empty, single, multi, messy whitespace") {
    val df = Seq("", "one", "a b c", "  x   y  ").toDF("text")
      .select(TextOps.tokenCount(col("text")).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(0, 1, 3, 2))
  }

  test("langId: stopword heuristics with deterministic tie-break") {
    val df = Seq(
      "the cat of the hat",         // en
      "el gato de la casa que",     // es
      "der hund und die katze ist", // de
      "le chat et les chiens",      // fr
      "xyzzy plugh")                // no stopwords -> und
      .toDF("text").select(TextOps.langId(col("text")).as("lang"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "es", "de", "fr", "und"))
    // NULL text → NULL guess (not a language; the oracle's CASE agrees) —
    // without the guard, null hits tie-broke on lang alone and emitted 'fr'
    val nullRow = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
      .select(TextOps.langId(col("text"))).collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("fingerprint: whitespace/case-insensitive, content-sensitive") {
    val df = Seq("Hello  World", "hello world", "hello worlds").toDF("text")
      .select(TextOps.fingerprint(col("text")).as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("stratified sample: rate-accurate, deterministic, partitioning-invariant, salt-sensitive") {
    val df = spark.range(4000).select(col("id").as("doc_id"),
      when(col("id") % 3 === 0, "en").when(col("id") % 3 === 1, "de")
        .otherwise("fr").as("lang"))
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    val got = TextOps.stratifiedSample(df, "lang", rates, 0.1)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ~1333 rows per stratum; tolerances are several binomial sigmas wide
    assert(math.abs(got("en") - 1333 * 0.50) < 100, got.toString)
    assert(math.abs(got("de") - 1333 * 0.25) < 80, got.toString)
    assert(math.abs(got("fr") - 1333 * 0.10) < 60, got.toString)
    // deterministic AND partitioning-invariant (a mixing stage must select
    // the same rows on rerun/retry regardless of physical layout)
    val a = TextOps.stratifiedSample(df, "lang", rates, 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextOps.stratifiedSample(df.repartition(7), "lang", rates, 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // a different salt draws a different (equally deterministic) sample
    val c = TextOps.stratifiedSample(df, "lang", rates, 0.1, salt = "other")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(c != a)
    // NESTED samples: raising a rate only ADDS rows (hash-threshold sampling
    // is monotone in the threshold) — a mixing config can be dialed up
    // between runs without churning the previously selected subset, which
    // is what keeps incremental corpus builds stable
    val lo = TextOps.stratifiedSample(df, "lang", Map("en" -> 0.2), 0.05)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val hi = TextOps.stratifiedSample(df, "lang", Map("en" -> 0.6), 0.15)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi))
  }

  test("repetition metrics: degenerate docs score high, varied docs zero, short/null safe") {
    val df = Seq(
      (1L, "a a a a a a"),                  // one distinct token
      (2L, "one two three four five six"),  // no repetition
      (3L, "x y z x y z x y z"),            // 3-gram loop
      (4L, "ab"),                           // too short to repeat
      (5L, null.asInstanceOf[String]))      // null-safe
      .toDF("doc_id", "text")
    val m = TextOps.repetitionMetrics(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(m(1L) == ((6, 0.833333, 0.75)))
    assert(m(2L) == ((6, 0.0, 0.0)))
    assert(m(3L) == ((9, 0.666667, 0.571429)))
    assert(m(4L) == ((1, 0.0, 0.0)))
    assert(m(5L) == ((1, 0.0, 0.0))) // null → "" → [""]
  }

  test("BPE pair counting: golden corpus-weighted adjacent pairs with md5-tie-broken ranks") {
    import spark.implicits._
    // "ab ab abc x": ab, ab, (ab, bc); x and "a" are sub-pair length;
    // "banana": ba, an, na, an, na — totals ab:3, an:2, na:2, ba:1, bc:1
    val docs = Seq("ab ab abc x", "banana", "a").toDF("text")
    val got = TextOps.bpePairCounts(docs, topN = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sortBy(_._3).toSeq
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = Seq("ab" -> 3L, "an" -> 2L, "na" -> 2L, "ba" -> 1L, "bc" -> 1L)
      .sortBy { case (p, c) => (-c, md5hex(p)) }
      .zipWithIndex.map { case ((p, c), i) => (p, c, i + 1) }
    assert(got == want, s"got $got want $want")
    // topN cuts the ranked list, not the counts
    assert(TextOps.bpePairCounts(docs, topN = 2).collect()
      .map(_.getString(0)).toSet == want.take(2).map(_._1).toSet)
    assertThrows[IllegalArgumentException](TextOps.bpePairCounts(docs, 0))
  }

  test("BPE trainer: greedy fold, md5 tie-break, distributed ≡ driver ≡ apply, exhaustion") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq("aaab aaab", "aaab").toDF("text") // word freq {aaab: 3}
    val (mD, vD) = TextOps.learnBpeMerges(docs, nMerges = 2)
    val (mX, vX) = TextOps.learnBpeMerges(docs, nMerges = 2, driverVocabLimit = 0)
    // an unbounded driver limit must not overflow the probe's limit + 1
    val (mM, vM) = TextOps.learnBpeMerges(docs, nMerges = 2, driverVocabLimit = Int.MaxValue)
    // round 1: (a,a)=6 beats (a,b)=3, (b,</w>)=3; the greedy fold then
    // segments aaab</w> as [aa, a, b, </w>], never [a, aa, ...]
    assert(mD.head == TextOps.BpeMerge(1, "a", "a", "aa", 6L))
    // round 2: three-way tie at 3 — md5(left + " " + right) decides
    val exp2 = Seq(("aa", "a"), ("a", "b"), ("b", "</w>"))
      .minBy { case (l, r) => md5hex(l + " " + r) }
    assert((mD(1).left, mD(1).right) == exp2 && mD(1).pairCount == 3L)
    assert(mX == mD && mM == mD) // cost-switch paths agree on the learned table
    // ...and on the final segmentations: the driver path APPLIES the table,
    // the distributed path folded round-by-round
    def segs(v: org.apache.spark.sql.DataFrame) =
      v.orderBy("word").collect().map(r => (r.getString(0), r.getSeq[String](2).toList)).toList
    assert(segs(vX) == segs(vD) && segs(vM) == segs(vD))
    // applying the learned table from scratch reproduces the trained vocab
    val applied = vD.select(col("word"), col("cnt"),
      TextOps.applyBpeMerges(
        TextOps.charSegmentation(col("word"), Some("</w>")),
        mD.map(m => (m.left, m.right))).as("seg"))
    assert(segs(applied) == segs(vD))
    // exhaustion: "ab" + marker admits exactly 2 merges; asking for 10 stops early
    val (mE, vE) = TextOps.learnBpeMerges(Seq("ab").toDF("text"), nMerges = 10)
    assert(mE.size == 2 && segs(vE) == List(("ab", List("ab</w>"))))
    assertThrows[IllegalArgumentException](TextOps.learnBpeMerges(docs, 0))
  }

  test("BPE trainer: non-BMP text segments by CODE POINTS on both paths (no surrogate-half symbols)") {
    import spark.implicits._
    val smile = new String(Character.toChars(0x1F600)) // 😀 — needs a surrogate pair in UTF-16
    val docs = Seq(s"$smile$smile $smile$smile").toDF("text")
    val (mD, vD) = TextOps.learnBpeMerges(docs, nMerges = 1)
    val (mX, vX) = TextOps.learnBpeMerges(docs, nMerges = 1, driverVocabLimit = 0)
    assert(mD == mX, s"driver $mD vs distributed $mX diverged on non-BMP input")
    // the learned symbols are whole code points — a code-UNIT segmentation
    // would see 4 surrogate-half symbols per word and count the top pair 2×2
    assert(mD.head.pairCount == 2L, s"unexpected pair count ${mD.head}")
    assert(Seq(mD.head.left, mD.head.right).forall(s =>
      s == "</w>" || s == smile), s"surrogate-half symbol in ${mD.head}")
    def segs(v: org.apache.spark.sql.DataFrame) =
      v.orderBy("word").collect().map(r => (r.getString(0), r.getSeq[String](2).toList)).toList
    assert(segs(vD) == segs(vX))
  }

  test("BPE apply with a fixed merge table: chained merge consumes prior output, no-op words untouched") {
    import spark.implicits._
    val merges = Seq(("t", "h"), ("th", "e"), ("i", "n")) // = SparkEntry's q_bpe_apply table
    val words = Seq("the", "thin", "tin", "x").toDF("word")
    val got = words.select(col("word"), concat_ws(" ",
      TextOps.applyBpeMerges(
        TextOps.charSegmentation(col("word"), endOfWord = None), merges)).as("seg"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // the: t h e -> [th, e] -> [the]; thin: [th, i, n] -> [th, in];
    // tin: t i n -> no (t,h) -> [t, in]; x: single symbol untouched
    assert(got == Map("the" -> "the", "thin" -> "th in", "tin" -> "t in", "x" -> "x"))
  }

  test("PII redaction: planted email/ip/phone redacted in order, clean text untouched") {
    val out = Seq(
      "mail me at bob.smith+x@mail.example.com ok",
      "server 192.168.0.1 port",
      "call +1 555 123 4567 now",
      "clean text here, version 1.2")
      .toDF("text").select(TextOps.redactPii(col("text")).as("r"))
      .collect().map(_.getString(0))
    assert(out(0) == "mail me at <EMAIL> ok")
    assert(out(1) == "server <IP> port")
    assert(out(2) == "call <PHONE> now")
    assert(out(3) == "clean text here, version 1.2")
  }

  test("sequence packing: two-level prefix sum == serial layout, partitioning-invariant") {
    val df = (0L until 50L).map(i => (i, ("tok " * ((i % 7) + 1).toInt).trim))
      .toDF("doc_id", "text")
    val got = TextOps.packSequences(df, seqLen = 10, bucketWidth = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // reference: serial walk in doc_id order
    var off = 0L
    (0L until 50L).foreach { i =>
      val n = i % 7 + 1
      assert(got(i) == ((n, off, off / 10, off % 10)), s"doc $i: ${got(i)}")
      off += n
    }
    // the offsets are a pure function of (doc_id, n_tokens) — physical
    // partitioning of the input must not matter
    val got2 = TextOps.packSequences(df.repartition(13), seqLen = 10, bucketWidth = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((0L until 50L).forall(i => got2(i) == got(i)._2))
    // the 100 TB property: NO single-partition exchange anywhere — the
    // within-bucket windows hash-partition by bucket (a global-order window
    // would show Exchange SinglePartition and serialize the corpus)
    val plan = TextOps.packSequences(df, seqLen = 10, bucketWidth = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("incremental dedup: store hits dropped, intra-batch dups collapsed, store grows") {
    val store = Seq("seen before").toDF("text")
      .select(TextOps.fingerprint(col("text")).as("fp"))
    val batch = Seq(
      (10L, "brand new"),
      (11L, "Seen  Before"), // historical hit modulo normalization
      (12L, "another new"),
      (13L, "brand new"))    // intra-batch duplicate of 10
      .toDF("doc_id", "text")
    val (survivors, updated) = TextOps.incrementalExactDedup(batch, store)
    assert(survivors.select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L, 12L))
    assert(updated.count() == 3) // old fp + the two new survivors' fps
  }

  /** The planted-victim hygiene fixture: (documents, benchmark). */
  private def hygieneFixture(): (DataFrame, DataFrame) = {
    val docsDf = Seq(
      (1L, "en", "unique alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "en", "Unique  alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1 (case+ws)
      (3L, "en", "near alpha beta gamma delta epsilon zeta eta theta iota kappa mu"),
      (4L, "en", "near alpha beta gamma delta epsilon zeta eta theta iota kappa mu2"), // near-dup of 3
      (5L, "en", "the benchmark question about spark shuffles and joins here today"), // contaminated
      (6L, "en", "loop loop loop loop loop loop loop loop"),                // degenerate repetition
      (7L, "en", "email me at a.b@example.com please and thanks for the data")) // pii carrier
      .toDF("doc_id", "lang", "text")
    val bench = Seq((100L, "the benchmark question about spark shuffles and joins"))
      .toDF("bench_id", "text")
    (docsDf, bench)
  }

  /** The fixture's dials: r = 1 minhash rows (structural recall). */
  private val hygieneConfig = CorpusHygiene.HygieneConfig(
    nearDupThreshold = Some(0.7), minhashK = 16, minhashBands = 16,
    decontaminateMinFrac = Some(0.8), maxDupTokenFrac = 0.5)

  test("hygiene pipeline: each stage drops its planted victim, survivors pass through redacted") {
    val (docsDf, bench) = hygieneFixture()
    // threshold 0.7: docs 3/4 (J=0.818) merge; docs 1-3/1-4 (J=0.545, the
    // shared 8-token run) stay distinct — verified against the exact pair set
    val out = CorpusHygiene.clean(docsDf, Some(bench), hygieneConfig)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // 2 exact-dup of 1; 4 near-dup of 3; 5 covers the bench item; 6 loops
    assert(out.keySet == Set(1L, 3L, 7L), out.toString)
    assert(out(7L).contains("<EMAIL>") && !out(7L).contains("example.com"))
    assert(out(1L) == "unique alpha beta gamma delta epsilon zeta eta theta") // untouched
  }

  test("plan: hygiene runs exact dedup once and never shuffles corpus text") {
    val (docsDf, bench) = hygieneFixture()
    // plan as on a real corpus, where nothing corpus-sized broadcasts by size
    // estimate (the seven-row fixture fits the default threshold everywhere)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val threshold = spark.conf.getOption(thresholdKey)
    val corpusBytes = docsDf.queryExecution.optimizedPlan.stats.sizeInBytes
    spark.conf.set(thresholdKey, (corpusBytes - 1).toString)
    val out = try {
      val o = CorpusHygiene.clean(docsDf, Some(bench), hygieneConfig)
      assert(o.collect().map(_.getLong(0)).toSet == Set(1L, 3L, 7L))
      o
    } finally threshold.fold(spark.conf.unset(thresholdKey))(spark.conf.set(thresholdKey, _))
    // the final adaptive plan, query stages and subqueries included
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val exchanges = helper.collectWithSubqueries(out.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    // every stage decision reaches the final plan as driver-held data (IN
    // filters, the broadcast gram index), so it reads the pin map-side only
    assert(exchanges.isEmpty, out.queryExecution.executedPlan.treeString)
    val textShuffles = exchanges.filter(_.child.output.exists(_.name == "text"))
    assert(textShuffles.isEmpty,
      s"corpus text crosses an exchange:\n${textShuffles.map(_.treeString.take(1500)).mkString("\n")}")
    // exact dedup is read from the clean's pin, never re-planned
    val fpShuffles = exchanges.filter(_.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.exists(_.references.exists(_.name == "fp"))
      case _ => false
    })
    assert(fpShuffles.isEmpty,
      s"exact-dedup exchange in the plan:\n${fpShuffles.map(_.treeString.take(1500)).mkString("\n")}")
  }

  test("cost switches of the clean: driver and distributed branches give the same output") {
    val (docsDf, bench) = hygieneFixture()
    def run() = (
      CorpusHygiene.clean(docsDf, Some(bench), hygieneConfig).collect().toSet,
      DedupOps.minhashSurvivors(docsDf, 0.7, 16, 16).collect().toSet,
      DedupOps.contamination(docsDf, bench, n = 3, minFrac = 0.1).collect().toSet)
    val driver = run()
    val distributed = DriverProbe.forceDistributed.withValue(true)(run())
    assert(driver._1.map(_.getLong(0)) == Set(1L, 3L, 7L), driver._1)
    assert(driver._2.map(_.getLong(0)) == Set(1L, 3L, 5L, 6L, 7L), driver._2)
    assert(driver._3.map(_.getLong(0)) == Set(5L), driver._3)
    assert(distributed == driver)
  }

  test("DriverProbe.bounded: one job over every partition, none over local rows, None over the cap") {
    val df = spark.range(0, 100, 1, 8).toDF("x")
    val (fits, fitJobs) = withJobCount(DriverProbe.bounded(df, 100))
    assert(fitJobs == 1 && fits.map(_.toSeq) == Some(df.collect().toSeq))
    val (over, overJobs) = withJobCount(DriverProbe.bounded(df, 99))
    assert(overJobs == 1 && over.isEmpty)
    val local = (0L until 5L).toDF("x")
    val (held, heldJobs) = withJobCount(DriverProbe.bounded(local, 5))
    assert(heldJobs == 0 && held.map(_.toSeq) == Some(local.collect().toSeq))
    val (heldOver, heldOverJobs) = withJobCount(DriverProbe.bounded(local, 4))
    assert(heldOverJobs == 0 && heldOver.isEmpty)
  }

  test("DriverProbe.bounded over the cap on many partitions: cancels its job, keeps no rows") {
    // 64 partitions of 50 rows, all but the first slow: the first result
    // alone passes the cap of 10, so the probe cancels while the rest run
    val df = spark.range(0, 64 * 50, 1, 64).as[Long].mapPartitions { it =>
      if (org.apache.spark.TaskContext.getPartitionId() > 0) Thread.sleep(300)
      it
    }.toDF("x")
    val (over, jobs, succeeded) = withJobStats(DriverProbe.bounded(df, 10))
    assert(over.isEmpty && jobs == 1)
    // a scan of every partition would return 64 results of 11 rows each
    assert(succeeded <= 8, s"$succeeded of 64 tasks returned rows to the driver")
  }

  test("CorpusHygiene.clean + one collect runs 7 Spark jobs on the hygiene fixture") {
    val (docsDf, bench) = hygieneFixture()
    // exact-dedup pin 2 (fingerprint shuffle, keep-set broadcast), banding
    // probe 2 (bucket shuffle, probe), verify 1 (one shingle broadcast for
    // both sides), component probe 1, the collect 1. The benchmark is a
    // local relation here, so its gram index costs no job (a cached or
    // scanned benchmark costs one)
    val (ids, jobs) = withJobCount(
      CorpusHygiene.clean(docsDf, Some(bench), hygieneConfig).collect().map(_.getLong(0)).toSet)
    assert(ids == Set(1L, 3L, 7L))
    assert(jobs == 7, s"$jobs jobs")
  }

  // ---------------- DedupOps ----------------

  test("perSourceCap: cap respected, partitioning-invariant, partial top-N below the exchange") {
    val docs = spark.range(500).select(col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(7))).as("source"),
      lit("text").as("text"))
    val capped = TextOps.perSourceCap(docs, maxPerSource = 20)
    val bySource = capped.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bySource.values.forall(_ <= 20) && bySource.size == 7)
    // deterministic + partitioning-invariant: a different physical layout
    // must keep the EXACT same docs (hash order, not row order)
    val a = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextOps.perSourceCap(docs.repartition(13), maxPerSource = 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "per-source cap depends on physical layout")
    // a source under the cap keeps everything
    val small = TextOps.perSourceCap(docs.filter(col("doc_id") < 10), maxPerSource = 20)
    assert(small.count() == 10)
    // scale shape: the rank<=N filter reaches a partial WindowGroupLimit
    // below the exchange, so a mega-domain never shuffles its full membership
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"no partial window-group limit in plan:\n${plan.take(1200)}")
  }

  test("exact dedup: normalized duplicates collapse to min doc_id") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val groups = DedupOps.exactDuplicates(df).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((1L, 2L), (3L, 1L))) // (keep_id, n_dups)
    assert(DedupOps.exactDedup(df).count() == 2)
  }

  test("minhash near-dup finds the planted near-duplicate pair") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val near = base.replace("kappa", "kappa2") // high shingle overlap
    val far = "completely different words entirely unrelated to the others at all here"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = DedupOps.minhashNearDuplicates(df, threshold = 0.3, k = 16, bands = 8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))

    // scan-count pin (round-3 verdict #1): the corpus text pipeline runs ONCE
    // for candidate generation; the verify side shingles only the
    // candidate-semi-joined docs, and both its join sides read a pinned
    // checkpoint — so the FINAL plan must contain no text normalization
    // (regexp_replace is the normText marker) and no re-derived minhash
    // banding at all, only checkpoint scans + joins + the array-Jaccard
    val plan = DedupOps.minhashNearDuplicates(df, threshold = 0.3, k = 16, bands = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("regexp_replace"), "corpus text pipeline recomputed in final plan")
    assert(!plan.toLowerCase.contains("posexplode"), "banding recomputed in final plan")

    // r7: the probe-first driver path must agree with the distributed
    // fallback, which non-long doc ids force (the driver branch would
    // re-type them, so it declines and the previous formulation runs)
    val dfInt = Seq((1, base), (2, near), (3, far)).toDF("doc_id", "text")
    val pairsInt = DedupOps.minhashNearDuplicates(dfInt, threshold = 0.3, k = 16, bands = 8)
      .select("a", "b").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairsInt == Set((1, 2)), "fallback (int-id) path diverged from driver path")
  }

  test("incremental minhash dedup == full-corpus survivors; store update == recomputed signatures") {
    // 400 base docs + 40 mutation twins (twin ids >= 10M, twins of HIST
    // bases 0..39): hist = bases < 200, batch = bases 200..399 + all twins.
    // Historical ids precede batch ids, so the incremental survivor rule
    // must coincide exactly with full-corpus minhashSurvivors ∩ batch.
    val all = graft.tools.SketchDialsProbe.syntheticDocs(spark, 400, 40)
      .localCheckpoint(true)
    val hist = all.filter(col("doc_id") < 200)
    val batch = all.filter(col("doc_id") >= 200)
    val store = DedupOps.bandedSignatures(hist, k = 16, bands = 16)
    val (survivors, updated) = DedupOps.incrementalMinhashDedup(
      batch, store, hist, threshold = 0.7, k = 16, bands = 16)
    val inc = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = DedupOps.minhashSurvivors(all, threshold = 0.7, k = 16, bands = 16)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inc == (full & batchIds),
      s"incremental != full-corpus: only-inc=${(inc -- full).take(5)} only-full=${((full & batchIds) -- inc).take(5)}")
    // planted structure at the UNAMBIGUOUS rates (0.05/0.10 twins sit near
    // the 0.7 threshold and legitimately straddle it per instance): rate-0.02
    // twins of HIST docs (J ≈ 0.89) are recrawls the store must drop;
    // rate-0.20 twins (J ≈ 0.34) are far below threshold and survive
    val off = graft.tools.SketchDialsProbe.DupOffset
    (0L until 40L).foreach { i =>
      if (i % 4 == 0) assert(!inc(i + off), s"rate-0.02 recrawl twin $i survived")
      if (i % 4 == 3) assert(inc(i + off), s"rate-0.20 distinct twin $i dropped")
    }
    // store update = old store ∪ survivor signatures, NOTHING recomputed —
    // must equal a from-scratch signature build over hist ∪ survivors
    def sigSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(sigSet(updated) ==
      sigSet(DedupOps.bandedSignatures(hist.unionByName(survivors), k = 16, bands = 16)))

    // int doc ids: the same inputs re-typed take the minhash tail's
    // distributed branch (the driver branch needs long ids) — identical
    // survivors and store update size
    def asInt(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("doc_id", col("doc_id").cast("int"))
    val (survivorsInt, updatedInt) = DedupOps.incrementalMinhashDedup(asInt(batch),
      asInt(store), asInt(hist), threshold = 0.7, k = 16, bands = 16)
    assert(survivorsInt.select("doc_id").collect().map(_.getInt(0).toLong).toSet == inc)
    assert(updatedInt.count() == updated.count())

    // over-probe stream: 640 identical batch docs at bands = 1 give
    // C(640, 2) = 204,480 intra pairs (+ 640 cross pairs against the
    // history copy), beyond DriverGroupLimit — the distributed fetch,
    // verify and survivor rule. Every copy joins the historical doc's
    // component and is dropped; only the two distinct singles survive. The
    // historical id sits ABOVE the batch ids, so the drop comes from the
    // history rule, not from the min-id representative.
    val dupText = "the same boilerplate page crawled again and again every day"
    val bigHist = Seq((9000L, dupText)).toDF("doc_id", "text")
    val bigBatch = ((1000L until 1640L).map(i => (i, dupText)) ++
      Seq((5000L, "an unrelated single about ontologies and graphs"),
        (5001L, "another lone document on spark shuffles and joins"))).toDF("doc_id", "text")
    assert(640L * 639 / 2 > DedupOps.DriverGroupLimit)
    val (bigSurv, _) = DedupOps.incrementalMinhashDedup(bigBatch,
      DedupOps.bandedSignatures(bigHist, k = 16, bands = 1), bigHist, threshold = 0.7,
      k = 16, bands = 1)
    assert(bigSurv.select("doc_id").collect().map(_.getLong(0)).toSet == Set(5000L, 5001L))
  }

  // ---------------- native shingle + minhash-band kernels ----------------

  /** The higher-order-function shingle chain the native kernel replaced,
    * kept verbatim as the reference the kernel must reproduce. */
  private def hofShingles(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  /** The higher-order-function band chain, verbatim, over a staged shingle
    * array: (id, n, band_idx, band_hash). */
  private def hofBands(shingles: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    shingles
      .select(col("id"), col("n"), transform(col("shingle_arr"), s => xxhash64(s)).as("sh"))
      .select(col("id"), col("n"),
        posexplode(array((0 until bands).map { b =>
          xxhash64(concat_ws(",",
            (b * r until (b + 1) * r).map(i =>
              array_min(transform(col("sh"), h => xxhash64(h, lit(i)))).cast("string")): _*))
        }: _*)))
      .toDF("id", "n", "band_idx", "band_hash")
  }

  /** Edge texts for the kernel equivalence: empty, blank, fewer than n
    * tokens, repeated n-grams, non-ASCII and surrogate pairs, tab/newline,
    * a trailing newline and a null text. */
  private val kernelEdgeTexts: Seq[String] = Seq("", "   ", "a", "a b", "a b c",
    "the cat the cat the cat the cat", "naïve café 日本語 über straße",
    "\uD835\uDD18\uD835\uDD2B \uD83D\uDE00 grin \uD83D\uDE00 grin \uD83D\uDE00",
    "tab\tseparated\twords here", "line\nbreak\nwords\nhere", "ends with a newline\n",
    null, "Mixed CASE words mixed case WORDS", "one two three four five six seven",
    "  leading and trailing  ")

  /** Rows through an RDD, not a local relation: a projection over a local
    * relation is folded on the driver by interpreted eval, which would keep
    * the generated-code path out of the test. */
  private def rddFrame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Generated texts (a small vocabulary, so n-grams repeat, with non-ASCII
    * and astral tokens) ∪ synthetic corpus docs ∪ the edge texts. */
  private def kernelTexts(): DataFrame = {
    val vocab = Array("a", "b", "ab", "é", "\uD83D\uDE00", "x", "", "tab\tx")
    val generated = (0 until 200).map { id =>
      val rng = new scala.util.Random(id)
      Row(id.toLong, Array.fill(rng.nextInt(30))(vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    val edge = kernelEdgeTexts.zipWithIndex.map { case (t, i) => Row(100000L + i, t) }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    rddFrame(generated ++ edge, schema)
      .unionByName(graft.tools.SketchDialsProbe.syntheticDocs(spark, 60, 20))
  }

  /** Raw token arrays the tokenizer never emits: null elements, empty
    * tokens, an empty array and a null array. */
  private def kernelTokenArrays(): DataFrame = {
    val arrays: Seq[Seq[String]] = Seq(Seq("a", null, "b", "c"), Seq(null, null, null),
      Seq(null), Seq(), null, Seq("", "a"), Seq("", ""), Seq("a", "b", null, "a", "b", null),
      Seq(null, "x", "y", "z", "x", "y", "z"), Seq("é", null, "\uD83D\uDE00"))
    rddFrame(arrays.zipWithIndex.map { case (a, i) => Row(i.toLong, a) },
      StructType(Seq(StructField("id", LongType), StructField("toks", ArrayType(StringType)))))
  }

  /** Both directions of exceptAll are empty, and neither side is empty.
    * Each side is computed once, pinned, then compared. */
  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): DataFrame = {
    val (g, w) = (got.localCheckpoint(true), want.localCheckpoint(true))
    val extra = g.exceptAll(w).count()
    val missing = w.exceptAll(g).count()
    assert(extra == 0 && missing == 0, s"$what: $extra extra rows, $missing missing rows")
    assert(w.count() > 0, s"$what: empty reference")
    w
  }

  private def kernelEquivalence(): Unit = {
    val toks = kernelTexts()
      .select(col("doc_id").as("id"), split(DedupOps.normText(col("text")), " ").as("toks"))
      .unionByName(kernelTokenArrays())
    def shingleSets(f: (Column, Int) => Column) = Seq(1, 3, 5)
      .map(n => toks.select(col("id"), lit(n).as("n"), f(col("toks"), n).as("shingle_arr")))
      .reduce(_ unionByName _)
    val shingles = assertSameRows(shingleSets(DedupOps.shinglesFromTokens),
      shingleSets(hofShingles), "shinglesFromTokens")
    // bands over every shingle size, and over raw arrays (n = 0) with null
    // elements and a null array (the null text and the null token array
    // are null shingle arrays too)
    val bandInput = shingles.unionByName(
      kernelTokenArrays().select(col("id"), lit(0).as("n"), col("toks").as("shingle_arr")))
    val configs = Seq((16, 16), (16, 8), (16, 4), (16, 1), (8, 2))
    def perConfig(side: (Int, Int) => DataFrame) = configs
      .map { case (k, b) => side(k, b).withColumn("k", lit(k)).withColumn("b", lit(b)) }
      .reduce(_ unionByName _)
    assertSameRows(
      perConfig((k, b) => bandInput.select(col("id"), col("n"), posexplode(
        graft.functions.Shingles.minhashBands(col("shingle_arr"), k, b)))
        .toDF("id", "n", "band_idx", "band_hash")),
      perConfig((k, b) => hofBands(bandInput, k, b)),
      "minhash bands")
    // the public operator, end to end from text
    val docs = kernelTexts()
    assertSameRows(
      perConfig((k, b) => DedupOps.bandedSignatures(docs, k, b)),
      perConfig((k, b) => hofBands(docs.select(col("doc_id").as("id"), lit(3).as("n"),
        hofShingles(split(DedupOps.normText(col("text")), " "), 3).as("shingle_arr")), k, b)
        .drop("n").withColumnRenamed("id", "doc_id")),
      "bandedSignatures")
  }

  test("native shingle + minhash-band kernels == the HOF chains, generated and interpreted") {
    kernelEquivalence()
    // the generated-code path really ran: the band kernel sits inside a
    // whole-stage-codegen subtree
    val plan = DedupOps.bandedSignatures(kernelTexts(), 16, 4).queryExecution.executedPlan
    assert(plan.collectFirst {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.toString.contains("minhash_bands") => w
    }.isDefined, plan.treeString)
    // and again with eval only: no whole-stage codegen, no generated
    // projections (nullSafeEval / eval)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try kernelEquivalence()
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("minhash bands: a null text keeps its bands rows, each xxhash64(\"\")") {
    val edge = rddFrame(kernelEdgeTexts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) },
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val rows = DedupOps.bandedSignatures(edge, k = 16, bands = 8).collect()
    assert(kernelEdgeTexts.size == 15 && rows.length == 120)
    val nullId = kernelEdgeTexts.indexOf(null).toLong
    val nullRows = rows.filter(_.getLong(0) == nullId)
    assert(nullRows.map(_.getInt(1)).sorted.toSeq == (0 until 8))
    val emptyHash = spark.range(1).select(xxhash64(lit(""))).head().getLong(0)
    assert(emptyHash == EmptyStringXxHash64)
    assert(nullRows.forall(_.getLong(2) == EmptyStringXxHash64))
  }

  /** Spark's `xxhash64("")` (seed 42). */
  private val EmptyStringXxHash64 = -7444071767201028348L

  test("simhash hashString reads UTF8String bytes in place: == FNV-1a over a byte copy") {
    def copyHash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
      var h = 0xCBF29CE484222325L
      s.getBytes.foreach { b => h ^= b & 0xFFL; h *= 0x100000001B3L }
      graft.functions.SimHash64.mix64(h)
    }
    val strs = Seq("", "a", "hello world", "naïve café", "日本語", "\uD83D\uDE00 grin", "tab\tx\n")
    // tokens that live inside an unsafe array, at non-zero offsets into
    // one shared buffer — the way the kernel sees them in a task
    val rowArr = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(Array[org.apache.spark.sql.types.DataType](ArrayType(StringType)))
      .apply(org.apache.spark.sql.catalyst.InternalRow(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          strs.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])))
      .getArray(0)
    (0 until rowArr.numElements()).foreach { i =>
      val slice = rowArr.getUTF8String(i)
      assert(graft.functions.SimHash64.hashString(slice) == copyHash(slice), strs(i))
      val fresh = org.apache.spark.unsafe.types.UTF8String.fromString(strs(i))
      assert(graft.functions.SimHash64.hashString(fresh) == copyHash(fresh), strs(i))
    }
  }

  test("simhash: identical texts distance 0; near texts within small Hamming") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumped over a lazy dog again and again"),
      (4L, "entirely unrelated content about spark partitions and shuffles"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.simhashNearDuplicates(df, maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    val exact = pairs.find(p => p._1 == 1 && p._2 == 2)
    assert(exact.exists(_._3 == 0))
    assert(!pairs.exists(p => p._2 == 4 || p._1 == 4))

    // the signature scan is MATERIALIZED once: none of the three consumers
    // (banding + both verify-join sides) recomputes text→tokens→hash→vote —
    // the executed plan reads the checkpointed (doc_id, sig) rows instead
    val plan = DedupOps.simhashNearDuplicates(df, maxHamming = 12)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("simhash"), "signature subtree recomputed in final plan")
  }

  test("BMP decode: hand-assembled golden bytes (padding, bottom-up, BGR, top-down variant)") {
    // independent byte-level construction — does NOT go through encodeBmp, so
    // a matching encoder/decoder bug pair cannot cancel out
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def bmp(height: Int, rows: Array[Byte]) =
      "BM".getBytes ++ le32(54 + rows.length) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(2) ++ le32(height) ++ le16(1) ++ le16(24) ++ le32(0) ++
        le32(rows.length) ++ new Array[Byte](16) ++ rows
    // 2x2, rowBytes = 8 (2 pad bytes); pixels top-down:
    // (0,0)=R255 (1,0)=G255 / (0,1)=B255 (1,1)=(10,20,30)
    val bottomUpRows = Array[Byte]( // file stores y=1 first
      -1, 0, 0, 30, 20, 10, 0, 0, // y=1: BGR(255,0,0)=blue px, BGR(30,20,10)
      0, 0, -1, 0, -1, 0, 0, 0) // y=0: BGR(0,0,255)=red px, BGR(0,255,0)=green px
    val img = MultimodalOps.decodeBmp(bmp(2, bottomUpRows))
    assert((img.width, img.height) == (2, 2))
    assert(img.rgb.map(_ & 0xFF).toSeq == Seq(
      255, 0, 0, 0, 255, 0, // top row: red, green
      0, 0, 255, 10, 20, 30)) // bottom row: blue, (10,20,30)
    // negative height = top-down storage: same pixels, rows NOT flipped
    val topDownRows = Array[Byte](
      0, 0, -1, 0, -1, 0, 0, 0,
      -1, 0, 0, 30, 20, 10, 0, 0)
    val img2 = MultimodalOps.decodeBmp(bmp(-2, topDownRows))
    assert(img2.rgb.toSeq == img.rgb.toSeq)
    // encoder round-trips through the decoder
    val rt = MultimodalOps.decodeBmp(MultimodalOps.encodeBmp(5, 3,
      (x, y) => (x * 40, y * 70, x + y)))
    assert(rt.width == 5 && rt.height == 3)
    assert((rt.rgb(3 * (1 * 5 + 2)) & 0xFF) == 80) // pixel (2,1).R = 2*40
  }

  test("WAV decode: golden bytes with unknown chunk skipped; sign-extension; round-trip") {
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val data = le16(0) ++ le16(0xFFFF) ++ le16(32767) ++ le16(0x8000) // 0, -1, 32767, -32768
    val golden = "RIFF".getBytes ++ le32(4 + 8 + 3 + 1 + 8 + 16 + 8 + data.length) ++
      "WAVE".getBytes ++
      "LIST".getBytes ++ le32(3) ++ "abc".getBytes ++ Array[Byte](0) ++ // odd size → pad byte
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(22050) ++
      le32(44100) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(data.length) ++ data
    val wav = MultimodalOps.decodeWav(golden)
    assert(wav.sampleRate == 22050)
    assert(wav.samples.toSeq == Seq(0, -1, 32767, -32768))
    val rt = MultimodalOps.decodeWav(
      MultimodalOps.encodeWavPcm16(8000, Array(-2000, 0, 1999, -32768, 32767)))
    assert(rt.sampleRate == 8000 && rt.samples.toSeq == Seq(-2000, 0, 1999, -32768, 32767))
  }

  test("PNG decode: independent golden container; all-filter round-trip; alpha drop") {
    // independent byte-level construction (chunk layout, CRC32, DEFLATE via
    // raw Deflater, filter-0 rows) — does NOT go through encodePng, so a
    // matching encoder/decoder bug pair cannot cancel out
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]) = {
      val crc = new java.util.zip.CRC32()
      val td = typ.getBytes("US-ASCII") ++ data
      crc.update(td)
      be32(data.length) ++ td ++ be32(crc.getValue.toInt)
    }
    def deflate(raw: Array[Byte]) = {
      val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf)); d.end(); out.toByteArray
    }
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    // 2x2 RGB, filter 0 rows: (10,20,30)(40,50,60) / (70,80,90)(200,210,220)
    val raw = Array[Byte](0, 10, 20, 30, 40, 50, 60,
                          0, 70, 80, 90, 200.toByte, 210.toByte, 220.toByte)
    val ihdr = be32(2) ++ be32(2) ++ Array[Byte](8, 2, 0, 0, 0)
    val golden = sig ++ chunk("IHDR", ihdr) ++
      chunk("tEXt", "comment".getBytes) ++ // ancillary chunk must be skipped
      chunk("IDAT", deflate(raw)) ++ chunk("IEND", Array.emptyByteArray)
    val img = MultimodalOps.decodePng(golden)
    assert((img.width, img.height) == (2, 2))
    assert(img.rgb.map(_ & 0xFF).toSeq == Seq(10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220))

    // encoder round-trip, height >= 5 so rows carry ALL filter types 0-4
    val rt = MultimodalOps.decodePng(MultimodalOps.encodePng(7, 6, hasAlpha = false,
      (x, y) => ((x * 41 + y * 13) % 256, (x * 7 + y * 91) % 256, (x + y * 3) % 256, 0)))
    assert(rt.width == 7 && rt.height == 6)
    for (y <- 0 until 6; x <- 0 until 7) {
      assert((rt.rgb((y * 7 + x) * 3) & 0xFF) == (x * 41 + y * 13) % 256, s"R($x,$y)")
      assert((rt.rgb((y * 7 + x) * 3 + 1) & 0xFF) == (x * 7 + y * 91) % 256, s"G($x,$y)")
      assert((rt.rgb((y * 7 + x) * 3 + 2) & 0xFF) == (x + y * 3) % 256, s"B($x,$y)")
    }
    // RGBA round-trip: alpha is carried through filtering but DROPPED by
    // decode — RGB output must be identical to the alpha-free encoding
    val rgbaImg = MultimodalOps.decodePng(MultimodalOps.encodePng(6, 5, hasAlpha = true,
      (x, y) => (x * 17 % 256, y * 29 % 256, (x ^ y) % 256, (x + y) % 256)))
    val rgbImg = MultimodalOps.decodePng(MultimodalOps.encodePng(6, 5, hasAlpha = false,
      (x, y) => (x * 17 % 256, y * 29 % 256, (x ^ y) % 256, 0)))
    assert(rgbaImg.rgb.toSeq == rgbImg.rgb.toSeq)

    // encode-side dimension contract mirrors encodeGif: zero/negative dims
    // and Int-overflowing buffer products are IllegalArgument, not a
    // degenerate container / NegativeArraySizeException
    assertThrows[IllegalArgumentException](
      MultimodalOps.encodePng(0, 4, hasAlpha = false, (_, _) => (0, 0, 0, 0)))
    assertThrows[IllegalArgumentException](
      MultimodalOps.encodePng(4, -1, hasAlpha = false, (_, _) => (0, 0, 0, 0)))
    assertThrows[IllegalArgumentException](
      MultimodalOps.encodePng(1 << 20, 1 << 20, hasAlpha = true, (_, _) => (0, 0, 0, 0)))

    // hostile containers fail fast with a typed error:
    val ok = MultimodalOps.encodePng(4, 4, hasAlpha = false, (x, y) => (x, y, 0, 0))
    // (a) flip one IDAT byte → CRC mismatch
    val crcBad = ok.clone(); crcBad(sig.length + 25 + 8 + 3) = (crcBad(sig.length + 25 + 8 + 3) ^ 1).toByte
    assertThrows[IllegalArgumentException](MultimodalOps.decodePng(crcBad))
    // (b) truncated payload (IEND cut off mid-chunk)
    assertThrows[IllegalArgumentException](MultimodalOps.decodePng(ok.dropRight(6)))
    // (c) chunk length pointing past the payload
    val lenBad = ok.clone(); be32(1 << 20).copyToArray(lenBad, sig.length + 25)
    assertThrows[IllegalArgumentException](MultimodalOps.decodePng(lenBad))
    // (d) IHDR claiming more rows than the DEFLATE stream holds — rebuild
    // with a consistent CRC so the SIZE check (not the CRC) is what fires
    val bigIhdr = be32(4) ++ be32(400) ++ Array[Byte](8, 2, 0, 0, 0)
    val shortStream = sig ++ chunk("IHDR", bigIhdr) ++
      chunk("IDAT", deflate(new Array[Byte](4 * 13))) ++ chunk("IEND", Array.emptyByteArray)
    assertThrows[IllegalArgumentException](MultimodalOps.decodePng(shortStream))
    // (e) interlaced flag unsupported → loud, not garbage pixels
    val interIhdr = be32(2) ++ be32(2) ++ Array[Byte](8, 2, 0, 0, 1)
    val interlaced = sig ++ chunk("IHDR", interIhdr) ++
      chunk("IDAT", deflate(raw)) ++ chunk("IEND", Array.emptyByteArray)
    assertThrows[IllegalArgumentException](MultimodalOps.decodePng(interlaced))
    // (f) hostile dims: no giant allocation before the Long-bounded check
    val hugeIhdr = be32(Int.MaxValue) ++ be32(Int.MaxValue) ++ Array[Byte](8, 2, 0, 0, 0)
    val huge = sig ++ chunk("IHDR", hugeIhdr) ++
      chunk("IDAT", deflate(raw)) ++ chunk("IEND", Array.emptyByteArray)
    assertThrows[IllegalArgumentException](MultimodalOps.decodePng(huge))
    // (g) zlib FDICT flag (header 0x78 0x20, FCHECK-valid): inflate() makes
    // no progress with needsInput() FALSE — a needsInput-only guard spins
    // the decode loop forever on this payload (a hung executor task, which
    // no try/catch can save); must throw instead
    val fdictIdat = Array[Byte](0x78, 0x20, 0, 0, 0, 1)
    val fdict = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", fdictIdat) ++
      chunk("IEND", Array.emptyByteArray)
    assertThrows[IllegalArgumentException](MultimodalOps.decodePng(fdict))
    // (h) complete DEFLATE payload with a corrupted Adler-32 trailer: parsed
    // only AFTER the full output is delivered, so it surfaces in the
    // residual check — must wrap to the contract's IllegalArgumentException,
    // not leak java.util.zip.DataFormatException
    val z = deflate(raw); z(z.length - 1) = (z(z.length - 1) ^ 0x55).toByte
    val adlerBad = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", z) ++
      chunk("IEND", Array.emptyByteArray)
    assertThrows[IllegalArgumentException](MultimodalOps.decodePng(adlerBad))
  }

  test("GIF decode: independent hand-packed LZW golden; dictionary round-trip; hostile inputs") {
    // independent byte-level construction: container AND the LZW code stream
    // are packed by the test's own bit packer (covers width growth at
    // next == 1<<w), so a matching encoder/decoder bug pair cannot cancel
    def pack(codes: Seq[(Int, Int)]): Array[Byte] = { // (code, width), LSB-first
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0; var n = 0
      codes.foreach { case (c, w) =>
        acc |= c << n; n += w
        while (n >= 8) { out.write(acc & 0xFF); acc >>>= 8; n -= 8 }
      }
      if (n > 0) out.write(acc & 0xFF)
      out.toByteArray
    }
    def gif(w: Int, h: Int, gctSizeBits: Int, colors: Seq[(Int, Int, Int)],
            minCode: Int, lzw: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes); out.write(w); out.write(0); out.write(h); out.write(0)
      out.write(0x80 | gctSizeBits); out.write(0); out.write(0)
      colors.foreach { case (r, g, b) => out.write(r); out.write(g); out.write(b) }
      out.write(0x2C); out.write(0); out.write(0); out.write(0); out.write(0)
      out.write(w); out.write(0); out.write(h); out.write(0); out.write(0)
      out.write(minCode); out.write(lzw.length); out.write(lzw, 0, lzw.length)
      out.write(0); out.write(0x3B)
      out.toByteArray
    }
    val colors = Seq((10, 20, 30), (40, 50, 60), (70, 80, 90), (200, 210, 220))
    // 2x2, pixels 0,1,2,3. minCode=2: CLEAR=4, END=5. Width trace: codes
    // 4,0,1,2 at 3 bits (after code 2 the dict hits 8 entries → grow), then
    // 3 and END at 4 bits — exactly the decoder's lag-by-one rule.
    val lzw = pack(Seq((4, 3), (0, 3), (1, 3), (2, 3), (3, 4), (5, 4)))
    val img = MultimodalOps.decodeGif(gif(2, 2, 1, colors, 2, lzw))
    assert((img.width, img.height) == (2, 2))
    assert(img.rgb.map(_ & 0xFF).toSeq == Seq(10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220))

    // encoder round-trip with a 16k-pixel high-entropy pattern: builds
    // thousands of dictionary entries, exercises width growth to 12 bits and
    // the clear-on-full reset; verify every pixel through the palette
    val pal = Array.tabulate(64)(i => (i * 3 % 256, i * 5 % 256, i * 7 % 256))
    val (w2, h2) = (160, 100)
    def idx(x: Int, y: Int) = (x * 31 + y * 17 + (x ^ y)) % 64
    val rt = MultimodalOps.decodeGif(MultimodalOps.encodeGif(w2, h2, pal, idx))
    assert(rt.width == w2 && rt.height == h2)
    for (y <- Seq(0, 1, 37, 99); x <- Seq(0, 1, 63, 159)) {
      val (r, g, b) = pal(idx(x, y))
      val o = (y * w2 + x) * 3
      assert((rt.rgb(o) & 0xFF, rt.rgb(o + 1) & 0xFF, rt.rgb(o + 2) & 0xFF) == ((r, g, b)), s"($x,$y)")
    }
    // KwKwK golden: stream CLEAR,1,6 — code 6 == next ⇒ string(1)+'1' ⇒
    // pixels 1,1,1 on a 3x1 canvas
    val kwk = pack(Seq((4, 3), (1, 3), (6, 3), (5, 3)))
    val kimg = MultimodalOps.decodeGif(gif(3, 1, 1, colors, 2, kwk))
    assert(kimg.rgb.map(_ & 0xFF).toSeq == Seq(40, 50, 60, 40, 50, 60, 40, 50, 60))

    // hostile: first code after clear not a literal
    val badFirst = pack(Seq((4, 3), (6, 3), (5, 3)))
    assertThrows[IllegalArgumentException](MultimodalOps.decodeGif(gif(2, 2, 1, colors, 2, badFirst)))
    // hostile: LZW literal beyond the color table (minCode 3 over a 4-color GCT)
    val overPal = pack(Seq((8, 4), (7, 4), (7, 4), (7, 4), (7, 4), (9, 4)))
    assertThrows[IllegalArgumentException](MultimodalOps.decodeGif(gif(2, 2, 1, colors, 3, overPal)))
    // hostile: stream ends without END code (truncation must throw, not spin)
    val noEnd = pack(Seq((4, 3), (0, 3)))
    assertThrows[IllegalArgumentException](MultimodalOps.decodeGif(gif(2, 2, 1, colors, 2, noEnd)))
    // hostile: more pixels than the dims admit
    val tooMany = pack(Seq((4, 3), (0, 3), (1, 3), (2, 3), (3, 4), (0, 4), (5, 4)))
    assertThrows[IllegalArgumentException](MultimodalOps.decodeGif(gif(2, 2, 1, colors, 2, tooMany)))
    // hostile: minCode beyond the spec cap of 8 — literal codes >= 256 would
    // otherwise truncate mod 256 into WRONG palette entries, silently
    assertThrows[IllegalArgumentException](MultimodalOps.decodeGif(gif(2, 2, 1, colors, 9, lzw)))
    // encoder refuses dims that don't fit the 16-bit header fields
    assertThrows[IllegalArgumentException](MultimodalOps.encodeGif(70000, 10, pal, (_, _) => 0))
  }

  test("resize: nearest-neighbor floor map golden; Dataset stage re-encodes valid BMPs") {
    import MultimodalOps._
    // upscale 2x2 -> 4x4: every output pixel samples source (x*2/4, y*2/4),
    // i.e. 2x2 blocks of the source pixel — checked byte-for-byte
    val src = decodeBmp(encodeBmp(2, 2, (x, y) => (x * 100 + y, y * 50, x + y * 10)))
    val up = resizeNearest(src, 4, 4)
    assert((up.width, up.height) == (4, 4))
    for (y <- 0 until 4; x <- 0 until 4; c <- 0 until 3) {
      val si = ((y / 2) * 2 + (x / 2)) * 3 + c
      assert(up.rgb((y * 4 + x) * 3 + c) == src.rgb(si), s"($x,$y,$c)")
    }
    // downscale 4x4 -> 2x2 keeps source pixels (0,0),(2,0),(0,2),(2,2)
    val down = resizeNearest(decodeBmp(encodeBmp(4, 4, (x, y) => (x * 10 + y, 0, 0))), 2, 2)
    assert(down.rgb.grouped(3).map(_(0) & 0xFF).toSeq == Seq(0, 20, 2, 22))
    // non-square, non-divisible ratios stay in bounds: 3x5 -> 7x2,
    // sx = x*3/7 = 0,0,0,1,1,2,2 and sy = y*5/2 = 0,2
    val odd = resizeNearest(decodeBmp(encodeBmp(3, 5, (x, y) => (x, y, 0))), 7, 2)
    assert(odd.rgb.grouped(3).map(_(0) & 0xFF).toSeq ==
      Seq(0, 0, 0, 1, 1, 2, 2, 0, 0, 0, 1, 1, 2, 2))
    assert(odd.rgb.grouped(3).map(_(1) & 0xFF).toSeq ==
      Seq.fill(7)(0) ++ Seq.fill(7)(2))
    assertThrows[IllegalArgumentException](resizeNearest(src, 0, 4))
    // output allocation is Int-guarded as a Long product: oversized target
    // dims fail the argument check, not NegativeArraySizeException mid-loop
    assertThrows[IllegalArgumentException](resizeNearest(src, 40000, 30000))

    // Dataset stage: GIF inputs decode, resize, re-encode as real BMPs whose
    // stats equal a driver-side resizeNearest of the decoded source; audio
    // rows pass through byte-identical
    val got = imageStats(resizeImages(syntheticGifMedia(spark, 5), 8, 6))
      .collect().map(s => s.media_id -> s).toMap
    syntheticGifMedia(spark, 5).collect().foreach { m =>
      val r = resizeNearest(decodeImage(m.payload), 8, 6)
      val sums = r.rgb.grouped(3).foldLeft((0L, 0L, 0L)) { case ((a, b, c), px) =>
        (a + (px(0) & 0xFF), b + (px(1) & 0xFF), c + (px(2) & 0xFF))
      }
      val s = got(m.media_id)
      assert((s.width, s.height) == (8, 6))
      assert((s.sum_r, s.sum_g, s.sum_b) == sums, s"media ${m.media_id}")
    }
    val audio = syntheticMediaContainers(spark, 6).filter(_.kind == "audio")
    val through = resizeImages(audio, 8, 8).collect().map(m => m.media_id -> m).toMap
    audio.collect().foreach { m =>
      assert(java.util.Arrays.equals(through(m.media_id).payload, m.payload))
    }
  }

  test("corrupt containers fail fast (no hang, no hostile allocation) and degrade to stub") {
    import spark.implicits._
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    // WAV whose first chunk declares size -8: the old walk advanced off by
    // 8 + size + pad = 0 forever — must now throw, not spin the executor
    val stuckWav = "RIFF".getBytes ++ le32(100) ++ "WAVE".getBytes ++
      "junk".getBytes ++ le32(-8) ++ new Array[Byte](40)
    assertThrows[IllegalArgumentException](MultimodalOps.decodeWav(stuckWav))
    // data chunk size larger than the payload must not allocate/read past it
    val overWav = "RIFF".getBytes ++ le32(100) ++ "WAVE".getBytes ++
      "data".getBytes ++ le32(Int.MaxValue) ++ new Array[Byte](40)
    assertThrows[IllegalArgumentException](MultimodalOps.decodeWav(overWav))
    // BMP with negative width / giant dims: no NegativeArraySizeException or OOM
    val negBmp = "BM".getBytes ++ le32(100) ++ le32(0) ++ le32(54) ++ le32(40) ++
      le32(-1) ++ le32(2) ++ Array[Byte](1, 0, 24, 0) ++ le32(0) ++ new Array[Byte](80)
    assertThrows[IllegalArgumentException](MultimodalOps.decodeBmp(negBmp))
    val hugeBmp = "BM".getBytes ++ le32(100) ++ le32(0) ++ le32(54) ++ le32(40) ++
      le32(30000) ++ le32(30000) ++ Array[Byte](1, 0, 24, 0) ++ le32(0) ++ new Array[Byte](80)
    assertThrows[IllegalArgumentException](MultimodalOps.decodeBmp(hugeBmp))
    // width chosen so width*3 WRAPS Int to a tiny positive rowBytes — the
    // bound check must do its arithmetic in Long or this slips through and
    // escapes as ArrayIndexOutOfBounds
    val wrapBmp = "BM".getBytes ++ le32(100) ++ le32(0) ++ le32(54) ++ le32(40) ++
      le32(0x55555557) ++ le32(1) ++ Array[Byte](1, 0, 24, 0) ++ le32(0) ++ new Array[Byte](80)
    assertThrows[IllegalArgumentException](MultimodalOps.decodeBmp(wrapBmp))
    // ...and through extractFeatures every corrupt payload degrades to the
    // stub histogram instead of killing (or hanging) the corpus job
    val rows = Seq(
      MultimodalOps.Media(0L, "audio", stuckWav, 0, 0, 8000, 10),
      MultimodalOps.Media(1L, "audio", overWav, 0, 0, 8000, 10),
      MultimodalOps.Media(2L, "image", negBmp, 2, 2, 0, 0),
      MultimodalOps.Media(3L, "image", hugeBmp, 2, 2, 0, 0))
    val feats = spark.createDataset(rows).transform(m => MultimodalOps.extractFeatures(m))
      .collect().sortBy(_.media_id)
    assert(feats.length == 4)
    feats.foreach { f =>
      assert(f.features.toSeq == MultimodalOps.fakeDecode(rows(f.media_id.toInt).payload).toSeq)
    }
    // a bad dim is a CALLER bug: fails fast, never masquerades as corrupt payloads
    assertThrows[IllegalArgumentException](
      MultimodalOps.extractFeatures(spark.createDataset(rows), dim = 3))
  }

  test("centroid_ids: NaN embedding degrades deterministically, bad type fails analysis") {
    val cents = Array(Array(0.0, 0.0), Array(10.0, 10.0), Array(20.0, 20.0))
    val df = Seq(
      (1L, Array(Float.NaN, 1.0f)), // NaN poisons every distance
      (2L, Array(9.5f, 9.5f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), graft.functions.CentroidIds(col("embedding"), cents, 2).as("ids"))
    val got = df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(2L) == Seq(1, 0)) // nearest-first for a clean vector
    assert(got(1L) == Seq(0, 1)) // NaN row: first-untaken fallback, no crash
    // non-array child must fail at analysis, not ClassCastException at eval
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("x").select(graft.functions.CentroidIds(col("x"), cents, 1)).collect()
    }
    assert(ex.getMessage.contains("centroid_ids") || ex.getMessage.contains("DATATYPE"))
  }

  test("jaccard: exact token-set semantics") {
    def toks(c: String) = array_distinct(split(DedupOps.normText(col(c)), " "))
    val df = Seq(("a b c d", "c d e f")).toDF("x", "y")
      .select(toks("x").as("tx"), toks("y").as("ty"))
      .select(DedupOps.shingleJaccardFromArrays(col("tx"), col("ty")).as("j"))
    assert(math.abs(df.collect()(0).getDouble(0) - 2.0 / 6.0) < 1e-6)
  }

  test("cosine: known vectors") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)), (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)))
      .toDF("a", "b").select(round(DedupOps.cosine(col("a"), col("b")), 6).as("c"))
    val c = df.collect().map(_.getDouble(0))
    assert(c(0) == 0.0 && c(1) == 1.0)
  }

  test("winnowing: shared substring >= k+w-1 guarantees a shared fingerprint") {
    import graft.functions.WinnowingSketch
    val shared = "the quick brown fox jumped over everything in sight today"
    val a = "AAA " + shared + " BBB"
    val b = "CCCCC " + shared + " DDDD"
    val sa = WinnowingSketch.sketch(a.toLowerCase, 8, 4).toSet
    val sb = WinnowingSketch.sketch(b.toLowerCase, 8, 4).toSet
    assert((sa & sb).nonEmpty) // SIGMOD'03 winnowing guarantee
    // no 8-char substring overlap with `shared` (first attempt used
    // "nothing in common", which really does share "hing in " with
    // "everything in sight" — the sketch caught it; that's the feature)
    val unrelated = WinnowingSketch.sketch("zzz qqq www rrr kkk mmm ppp lll", 8, 4).toSet
    assert((sa & unrelated).isEmpty)
    // determinism + short-text path
    assert(WinnowingSketch.sketch("tiny", 8, 4).toSeq == WinnowingSketch.sketch("tiny", 8, 4).toSeq)
  }

  test("winnowing near-dup operator finds the planted overlap pair") {
    val shared = "spark shuffles are dominated by exchange write and read amplification costs"
    val df = Seq(
      (1L, "intro words " + shared + " trailing one"),
      (2L, "other prefix " + shared + " suffix two"),
      (3L, "totally unrelated content about cooking pasta with tomatoes and basil"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.winnowingNearDuplicates(df, minShared = 2)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  // ---------------- plan quality (the 100 TB story) ----------------

  test("simhash: engine pairs == brute-force hamming<=maxH pairs (pigeonhole recall, maxH=8)") {
    val rng = new scala.util.Random(7)
    val words = (0 until 40).map(i => s"tok$i")
    // near-dup clusters: base docs + mutated copies (few token swaps → small hamming)
    val docs = (0 until 30).flatMap { i =>
      val base = Seq.fill(30)(words(rng.nextInt(words.size)))
      val mutated = base.zipWithIndex.map { case (w, j) => if (j % 9 == 0) words(rng.nextInt(words.size)) else w }
      Seq((i * 2L, base.mkString(" ")), (i * 2L + 1, mutated.mkString(" ")))
    }
    val df = docs.toDF("doc_id", "text")
    val got = DedupOps.simhashNearDuplicates(df, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over collected signatures
    val sigs = df.select(col("doc_id"), DedupOps.simhash(col("text")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 8
    } yield (a, b)).toSet
    assert(want.nonEmpty, "fixture must contain close pairs")
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("semantic dedup: candidates are CLUSTER-scoped — a cosine-identical cross-cluster pair is invisible; survivors keep min id") {
    import spark.implicits._
    // c0 = all-ones, c1 = origin: v0, v1 land in cluster 0 (L2), v2 — tiny
    // magnitude, IDENTICAL direction, cosine(v0,v2) = cosine(v1,v2) = 1.0 —
    // lands in cluster 1. SemDeDup's defining semantics: the cross-cluster
    // near-identical pair is NOT a candidate; the within-cluster pair is.
    val emb = Seq(
      (0L, Array(2.0f, 2.0f, 2.0f, 2.0f)),
      (1L, Array(1.9f, 1.9f, 1.9f, 1.9f)),
      (2L, Array(0.1f, 0.1f, 0.1f, 0.1f))).toDF("vec_id", "embedding")
    val index = SimilarityOps.IvfIndex(Array(
      Array(1.0, 1.0, 1.0, 1.0), Array(0.0, 0.0, 0.0, 0.0)))
    val pairs = DedupOps.semanticNearDuplicates(emb, index, threshold = 0.95)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)), s"got $pairs")
    val surv = DedupOps.semanticSurvivors(emb, index, threshold = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(0L, 2L), s"got $surv") // group {0,1} keeps 0; 2 untouched
  }

  test("bucket guard drops mega-buckets LOUDLY (observed metrics)") {
    // 10001 identical vectors → every probed bucket exceeds MaxBucket
    val emb = spark.range(10001).select(col("id").as("vec_id"),
      array(lit(1.0f), lit(0.5f), lit(-0.25f), lit(0.75f)).as("embedding"))
    val (b0, m0) = DedupOps.bucketGuardCounts(spark)
    val cand = DedupOps.embeddingCandidates(emb, planes = 4, dim = 4)
    assert(cand.collect().isEmpty, "guard must suppress the n^2 explosion")
    val (b1, m1) = DedupOps.bucketGuardCounts(spark)
    assert(b1 - b0 >= 1, s"dropped buckets must be visible ($b0 -> $b1)")
    assert(m1 - m0 >= 10001L)
  }

  test("capped_collect_set: == sort_array(collect_set) under cap; bounded over it") {
    import graft.functions.CappedCollectSet
    // 8 partitions force partial buffers through serialize/merge/deserialize
    val df = spark.range(2000).repartition(8)
      .select((col("id") % 37).as("g"), (col("id") % 211).as("v"),
        concat(lit("s"), col("id") % 211).as("sv"))
    val got = df.groupBy("g").agg(CappedCollectSet(col("v"), 1000).as("cs"))
      .select(col("g"), col("cs.n"), col("cs.ids"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).sortBy(_._1)
    val want = df.groupBy("g").agg(sort_array(collect_set(col("v"))).as("ids"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    assert(got.map(x => (x._1, x._3)).toSeq == want.toSeq)
    assert(got.forall { case (_, n, ids) => n == ids.size }) // exact under cap
    // string values exercise the UTF8String copy + Comparable sort path
    val gotStr = df.groupBy("g").agg(CappedCollectSet(col("sv"), 1000).as("cs"))
      .select(col("cs.ids")).collect().map(_.getSeq[String](0))
    assert(gotStr.forall(ids => ids == ids.sorted))
    // over the cap: ids truncated at cap+1, n keeps the over-cap magnitude
    val over = spark.range(5000).repartition(8).select(lit(0L).as("g"), col("id").as("v"))
      .groupBy("g").agg(CappedCollectSet(col("v"), 100).as("cs"))
      .select(col("cs.n"), col("cs.ids")).collect()(0)
    assert(over.getLong(0) == 5000L, s"n = ${over.getLong(0)}")
    assert(over.getSeq[Long](1).size == 101, "membership retention must stop at cap+1")
  }

  test("explode over shingles evaluates the text normalization exactly ONCE (no inferred filter)") {
    // InferFiltersFromGenerate would add size(e)>0 && isnotnull(e) below the
    // explode with the whole shingle expression alias-inlined — re-splitting
    // the text per lambda element, twice per row (measured 8x on sf0.1 gram
    // plans). SparkDefaults.ExcludedRules keeps it out of engine sessions;
    // this pins the resulting single-evaluation plan shape.
    // range source, NOT a literal Seq — a LocalRelation would be constant-
    // folded and the whole expression evaluated at optimization time
    val d = spark.range(5).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta "), col("id")).as("text"))
    val plan = DedupOps.shingleArray(d, 3).select(explode(col("sh")))
      .queryExecution.optimizedPlan.toString
    val regexEvals = "regexp_replace".r.findAllIn(plan).size
    assert(regexEvals == 1, s"normalization must appear once, found $regexEvals:\n${plan.take(1500)}")
  }

  test("decontamination: coverage of the BENCH item's grams; direction matters") {
    val docsDf = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta extra words here now"),
      (2L, "totally different content with no overlap at all whatsoever"),
      (3L, "alpha beta gamma unrelated tail")).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("bench_id", "text")
    // doc 1 contains the full 8-token item → all 6 of ITS 3-grams covered,
    // even though the item covers only a fraction of doc 1 (the asymmetry a
    // Jaccard test would miss)
    val out = DedupOps.contamination(docsDf, bench, n = 3, minFrac = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 100L, 1.0)))
    val loose = DedupOps.contamination(docsDf, bench, n = 3, minFrac = 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(loose == Set(1L, 3L)) // partial leak surfaces, disjoint doc never
  }

  /** Decontamination as it was a broadcast gram join, verbatim: the
    * reference the coverage kernel is checked against. */
  private def contaminationJoinReference(documents: DataFrame, benchmark: DataFrame, n: Int,
                                         minFrac: Double): DataFrame = {
    val docGrams = DedupOps.shingleArray(documents, n)
      .select(col("doc_id"), explode(col("sh")).as("gram"))
    val benchGrams = benchmark
      .select(col("bench_id"), split(DedupOps.normText(col("text")), " ").as("toks"))
      .select(col("bench_id"), DedupOps.shinglesFromTokens(col("toks"), n).as("sh"))
      .select(col("bench_id"), size(col("sh")).cast("long").as("n_bench"),
        explode(col("sh")).as("gram"))
    docGrams.join(broadcast(benchGrams), "gram")
      .groupBy("doc_id", "bench_id", "n_bench")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("frac", round(col("n_shared").cast("double") / col("n_bench"), 6))
      .filter(col("frac") >= minFrac)
      .select("doc_id", "bench_id", "n_shared", "n_bench", "frac")
  }

  /** Eval items over the kernel texts' vocabulary: a row duplicated under
    * its bench_id, one bench_id over two texts of equal gram count and one
    * over two of different counts, texts shorter than n, empty and null
    * texts, a null bench_id and repeated grams. */
  private def decontaminationBench(): DataFrame = {
    val rows = Seq[(java.lang.Long, String)](
      (1L, "a b ab é x a b"), (1L, "a b ab é x a b"),
      (2L, "a b ab é x"), (2L, "b ab é x a"),
      (3L, "x x a"), (3L, "ab ab ab ab b x é"),
      (4L, "a b"), (5L, "a"), (6L, ""), (7L, null), (null, "x a b ab"),
      (8L, "\uD83D\uDE00 a \uD83D\uDE00 a \uD83D\uDE00"),
      (9L, "one two three four five six seven"))
    rddFrame(rows.map { case (id, t) => Row(id, t) },
      StructType(Seq(StructField("bench_id", LongType), StructField("text", StringType))))
  }

  private def decontaminationEquivalence(): Unit = {
    // contamination's precondition: unique doc_ids (the fixture's synthetic
    // docs reuse the generated ids), so the comparison re-keys every row
    val docs = kernelTexts().withColumn("doc_id", monotonically_increasing_id())
    val bench = decontaminationBench()
    def perConfig(side: (Int, Double) => DataFrame) =
      (for (n <- Seq(1, 3, 5); f <- Seq(0.0, 0.5, 1.0)) yield
        side(n, f).withColumn("n", lit(n)).withColumn("min_frac", lit(f)))
        .reduce(_ unionByName _)
    val reference = perConfig(contaminationJoinReference(docs, bench, _, _))
    assertSameRows(perConfig(DedupOps.contamination(docs, bench, _, _)), reference,
      "contamination kernel")
    assertSameRows(DriverProbe.forceDistributed.withValue(true)(
      perConfig(DedupOps.contamination(docs, bench, _, _))), reference, "contamination join")
    val kept = reference.filter(col("n") === 3 && col("min_frac") === 0.5).select("doc_id")
    assertSameRows(DedupOps.decontaminate(docs, bench, 3, 0.5),
      docs.join(kept, Seq("doc_id"), "left_anti"), "decontaminate")
    // an empty benchmark covers nothing and keeps every document
    val empty = bench.filter(lit(false))
    assert(DedupOps.contamination(docs, empty, 3, 0.0).count() == 0)
    assert(contaminationJoinReference(docs, empty, 3, 0.0).count() == 0)
    assert(DedupOps.decontaminate(docs, empty, 3, 0.0).count() == docs.count())
    decontaminationOffContract()
  }

  /** Ids outside the precondition: a doc_id on a covered and a clean row,
    * and a covered row with a null doc_id. The kernel scores each row, so
    * only the covered row of the pair drops; the join scores the doc_id, so
    * both drop. A null doc_id passes either way, as through `left_anti`. */
  private def decontaminationOffContract(): Unit = {
    val item = "the benchmark question about spark shuffles and joins"
    val bench = Seq((100L, item)).toDF("bench_id", "text")
    val docs = rddFrame(Seq(Row(1L, s"$item here"), Row(1L, "an unrelated clean document"),
      Row(null, item)),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    def kept() = DedupOps.decontaminate(docs, bench, 3, 0.8).collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(kept() == Set((Some(1L), "an unrelated clean document"), (None, item)))
    assert(DriverProbe.forceDistributed.withValue(true)(kept()) == Set((None, item)))
    val flagged = Seq((null, 100L, 6L, 6L, 1.0), (1L, 100L, 6L, 6L, 1.0))
    for (force <- Seq(false, true))
      assert(DriverProbe.forceDistributed.withValue(force)(
        DedupOps.contamination(docs, bench, 3, 0.8).collect()
          .map(r => (r.get(0), r.get(1), r.get(2), r.get(3), r.get(4))).toSet) == flagged.toSet,
        s"forced=$force")
  }

  test("decontamination kernel == the broadcast gram join, generated and interpreted") {
    decontaminationEquivalence()
    val plan = DedupOps.contamination(kernelTexts(), decontaminationBench(), 3, 0.5)
      .queryExecution.executedPlan
    assert(plan.collectFirst {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.toString.contains("bench_coverage") => w
    }.isDefined, plan.treeString)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try decontaminationEquivalence()
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("winnowing relative threshold separates real overlap from boilerplate") {
    val shared = (0 until 40).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared alpha beta"),            // near-dup pair: ~all grams shared
      (2L, s"$shared gamma delta"),
      (3L, "tiny overlap only common0 here"), // shares a few grams with 1/2
      (4L, "completely different text body")).toDF("doc_id", "text")
    val rel = DedupOps.winnowingNearDuplicates(docs, minShared = 2, k = 8, w = 4,
      minSharedFrac = Some(0.5)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rel == Set((1L, 2L)), s"got $rel")
    // absolute floor alone would also flag the boilerplate pair(s)
    val abs = DedupOps.winnowingNearDuplicates(docs, minShared = 2, k = 8, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(abs.contains((1L, 2L)))

    // the same relative threshold over the sf0.01 documents table, five
    // times: no task may report to a SQL metric the driver has already
    // dropped (DAGScheduler logs "non-existent accumulator" when one does)
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lost = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("winnow-accumulators", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val text = e.getMessage.getFormattedMessage +
          Option(e.getThrown).fold("")(t => " " + t.getMessage)
        if (text.contains("non-existent accumulator")) lost.add(text)
      }
    }
    appender.start()
    val dag = LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler").asInstanceOf[Logger]
    dag.addAppender(appender)
    try {
      for (_ <- 1 to 5)
        SparkEntry.queries("q_dedup_winnow")(spark, "/root/testdata/sf0.01").collect()
    } finally {
      dag.removeAppender(appender)
      appender.stop()
    }
    assert(lost.isEmpty, s"${lost.size} accumulator errors, first: ${lost.peek()}")
  }

  test("hyperplane bucket: >64 planes is a construction error, not silent bit aliasing") {
    assertThrows[IllegalArgumentException](
      graft.functions.HyperplaneBucket(col("x"), Array.fill(65)(Array(1.0))))
  }

  test("plan: embedding candidate generation never shuffles vectors") {
    // build the physical plan with AQE off so the exchange tree is statically
    // inspectable (under AQE the stages hide behind AdaptiveSparkPlanExec)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = spark.range(200).select(col("id").as("vec_id"),
        array((0 until 8).map(i => (col("id") * (i + 1) % 13).cast("float") - 6.0f): _*).as("embedding"))
      val plan = DedupOps.embeddingCandidates(emb, planes = 8, dim = 8)
        .queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        assert(e.output.forall(a => !a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"vector column crosses an exchange: ${e.output.map(_.name)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("plan: semantic-dedup candidate generation never shuffles vectors") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = spark.range(200).select(col("id").as("vec_id"),
        array((0 until 8).map(i => (col("id") * (i + 1) % 13).cast("float") - 6.0f): _*).as("embedding"))
      val index = SimilarityOps.IvfIndex(
        Array.tabulate(4, 8)((j, i) => ((i + j) % 5 - 2) / 2.0))
      val plan = DedupOps.semanticCandidates(emb, index).queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        assert(e.output.forall(a => !a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"vector column crosses an exchange: ${e.output.map(_.name)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("plan: span dedup shuffles only narrow (doc_id, pos, hash) rows — never text or token arrays") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.range(100).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 20).map(i => concat(lit("w"), col("id") % (i + 2))): _*).as("text"))
      val plan = DedupOps.duplicateSpans(docs, n = 3).queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        e.output.foreach { a =>
          assert(!a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
            !a.dataType.isInstanceOf[org.apache.spark.sql.types.StringType],
            s"text-sized column crosses an exchange: ${e.output.map(o => s"${o.name}:${o.dataType.simpleString}")}")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("grounder build aggregates by normalized pattern BEFORE collect (distributed groupBy)") {
    import graft.ground.Grounder
    // 1000 raw rows but only 3 distinct normalized patterns, spread over partitions
    val rows = (0 until 1000).map { i =>
      val t = Seq("Alpha  Beta", "alpha-beta", "gamma")(i % 3)
      (s"P$i", f"$i%05d", t, "rdfs:label", t, "SYN", Seq.empty[String])
    }
    val df = spark.createDataFrame(rows).toDF(
      "prefix", "id", "name", "predicate", "text", "source", "provenance").repartition(16)
    val g = Grounder.build(df.select("prefix", "id", "name", "predicate", "text"))
    assert(g.automaton.patterns.length == 2) // "alpha beta" + "gamma"
    assert(g.automaton.patterns.toSet == Set("alpha beta", "gamma"))
    // determinism across partitioning layouts
    val g2 = Grounder.build(df.repartition(3).select("prefix", "id", "name", "predicate", "text"))
    assert(g2.automaton.patterns.toSeq == g.automaton.patterns.toSeq)
    assert(g2.ground("alpha beta").map(m => (m.prefix, m.id)) ==
      g.ground("alpha beta").map(m => (m.prefix, m.id)))
  }

  test("sharded grounder: union of shard mentions == single-automaton mentions (exact)") {
    import graft.ground.Grounder
    // lexicon mixing single- and multi-word terms, variant spellings that
    // normalize identically (MUST co-locate in one shard: sharding is by
    // normalized pattern hash), and cross-concept ambiguity for the top-1 rule
    val rows = (0 until 30).map(i =>
      ("P", f"$i%03d", s"term$i alpha", "oboInOwl:hasExactSynonym", s"term$i alpha")) ++ Seq(
      ("P", "100", "beta", "rdfs:label", "Beta"),
      ("P", "100", "beta", "rdfs:label", "beta-"), // same normalized pattern
      ("Q", "200", "beta thing", "oboInOwl:hasRelatedSynonym", "beta"), // ambiguity on "beta"
      ("P", "101", "gamma ray", "rdfs:label", "gamma_ray"))
    val df = spark.createDataFrame(rows).toDF("prefix", "id", "name", "predicate", "text")
    val single = Grounder.build(df)
    val shards = Grounder.buildSharded(df, 3)
    // shard pattern sets partition the single automaton's pattern set
    assert(shards.map(_.automaton.patterns.length).sum == single.automaton.patterns.length)
    assert(shards.flatMap(_.automaton.patterns).toSet == single.automaton.patterns.toSet)
    val text = "term1 alpha, then Beta and gamma-ray; term17 alpha beta term29 alpha"
    def key(ms: Iterator[graft.model.Mention]) =
      ms.map(m => (m.start, m.end, m.prefix, m.id, m.predicate, m.score)).toSet
    val one = key(single.findTopMentions("c", 0, text))
    assert(one.nonEmpty)
    assert(key(shards.iterator.flatMap(_.findTopMentions("c", 0, text))) == one)
  }

  test("grounder build is HARD-BOUNDED: over-cap lexicon fails loudly, never OOMs the driver") {
    import graft.ground.Grounder
    val df = Seq(
      ("PATO", "0000001", "apoptosis", "rdfs:label", "apoptosis"),
      ("PATO", "0000002", "necrosis", "rdfs:label", "necrosis"),
      ("PATO", "0000003", "fibrosis", "rdfs:label", "fibrosis"))
      .toDF("prefix", "id", "name", "predicate", "text")
    // planted over-cap: 3 distinct patterns against a cap of 2 → loud failure
    // with a strategy pointer, not a silent driver collect (round-3 verdict #5)
    val e = intercept[IllegalStateException](Grounder.build(df, maxPatterns = 2))
    assert(e.getMessage.contains("distinct normalized patterns"))
    assert(e.getMessage.contains("Grounder.buildSharded"))
    // the bound is inclusive: exactly-at-cap builds fine and completely
    assert(Grounder.build(df, maxPatterns = 3).automaton.patterns.length == 3)
  }

  test("near-dup groups + survivors: components collapse to numeric-min doc, others untouched") {
    // pairs: {1,5,9} chained, {20,30} direct; 7 is in no pair
    val pairs = Seq((1L, 5L), (5L, 9L), (20L, 30L)).toDF("a", "b")
    val groups = DedupOps.nearDupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 20L -> 20L, 30L -> 20L))
    // hash-derived doc_ids are negative half the time: the representative
    // must be the NUMERIC min (zero-padded decimal would sort -999 > -42)
    val negGroups = DedupOps.nearDupGroups(Seq((-42L, -999L), (-999L, 7L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(negGroups == Map(-42L -> -999L, -999L -> -999L, 7L -> -999L), negGroups.toString)
    // the distributed branch (forced via driverLimit = 0) must agree exactly
    // with the driver branch, on ids across the sign bit and at both ends of
    // the long range (numeric order, never the order of an encoding)
    val mixed = Seq((-42L, -999L), (-999L, 7L), (1L, 5L), (5L, 9L),
      (Long.MaxValue, -1L), (0L, Long.MaxValue), (3L, Long.MinValue)).toDF("a", "b")
    val wantMixed = Map(-42L -> -999L, -999L -> -999L, 7L -> -999L,
      1L -> 1L, 5L -> 1L, 9L -> 1L, Long.MaxValue -> -1L, -1L -> -1L, 0L -> -1L,
      3L -> Long.MinValue, Long.MinValue -> Long.MinValue)
    for (limit <- Seq(DedupOps.DriverGroupLimit, 0L)) {
      val got = DedupOps.nearDupGroups(mixed, driverLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == wantMixed, s"driverLimit=$limit: $got")
    }
    // a pair with a null id: both branches return the same rows, neither throws
    val withNull = Seq((Some(1L), Some(5L)), (None, Some(5L))).toDF("a", "b")
    val nullDrv = DedupOps.nearDupGroups(withNull).collect().toSet
    val nullDst = DedupOps.nearDupGroups(withNull, driverLimit = 0).collect().toSet
    assert(nullDrv == nullDst, s"null pair: driver $nullDrv vs distributed $nullDst")
    assert(nullDrv.filterNot(_.isNullAt(0)).map(r => r.getLong(0) -> r.getLong(1)) ==
      Set(1L -> 1L, 5L -> 1L), nullDrv.toString)

    val base = (0 until 40).map(i => s"tok$i")
    val docs = Seq(
      (9L, base.mkString(" ")),            // near-dup of 10 (numeric 9 < 10, but
      (10L, base.mkString(" ")),           //  "10" < "9" lexicographically — pin numeric)
      (7L, "completely different text right here")).toDF("doc_id", "text")
    val surv = DedupOps.minhashSurvivors(docs, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(9L, 7L), surv.toString)
  }

  test("span dedup: cross-doc spans merge (overlap + adjacency), intra-doc repeats invisible") {
    val docs = Seq(
      // doc1 shares "p q r s t" (pos 2..6) and "x y z" (pos 9..11) with doc2
      (1L, "a0 a1 p q r s t a7 a8 x y z a12"),
      // doc2 carries them back-to-back: islands [0,2] and [3,7] are ADJACENT
      // (pos 3 <= 0 + 3) and must merge to one maximal span [0,7]
      (2L, "x y z p q r s t b8"),
      // doc3 repeats "u v w" twice WITHIN itself only: min==max doc -> invisible
      (3L, "u v w c3 u v w"),
      // doc4 is shorter than n: contributes no grams, must not crash
      (4L, "only two")).toDF("doc_id", "text")
    val spans = DedupOps.duplicateSpans(docs, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 2L, 6L), (1L, 9L, 11L), (2L, 0L, 7L)), spans.toString)
    // a one-token hole keeps islands apart: doc5/doc6 share two grams whose
    // coverage has a gap at pos 3 (pos 4 > 0 + 3) -> two spans, not one
    val holed = Seq(
      (5L, "h0 h1 h2 zz h4 h5 h6"),
      (6L, "h0 h1 h2 qq h4 h5 h6")).toDF("doc_id", "text")
    val holedSpans = DedupOps.duplicateSpans(holed, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(holedSpans == Set((5L, 0L, 2L), (5L, 4L, 6L), (6L, 0L, 2L), (6L, 4L, 6L)),
      holedSpans.toString)
  }

  test("bm25: matches a first-principles recomputation; self-retrieval ranks first; k cutoff") {
    val corpus = Seq(
      (0L, "spark shuffles narrow keys across the cluster"),
      (1L, "the cluster shuffles data and the cluster scales"),
      (2L, "narrow keys win at scale"),
      (3L, "completely unrelated prose about gardening roses"),
      (4L, "spark spark spark keys"))
    val docs = corpus.toDF("doc_id", "text")
    val queries = Seq((100L, "spark narrow keys"), (200L, "the cluster")).toDF("query_id", "qtext")
    val got = RetrievalOps.bm25TopK(docs, queries, k = 3).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap

    // first-principles recomputation with the operator's exact conventions:
    // distinct query terms, positive idf, DECIMAL(28,8) HALF_UP per-term
    // rounding before the sum (Spark's double->decimal cast mode)
    val toks = corpus.map { case (id, t) => id -> t.toLowerCase.trim.split("\\s+").toSeq }.toMap
    val n = corpus.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / corpus.size
    def df(term: String) = toks.values.count(_.contains(term)).toLong
    def score(qterms: Seq[String], d: Long): Double =
      qterms.distinct.flatMap { t =>
        val tf = toks(d).count(_ == t).toLong
        if (tf == 0 || df(t) == 0) None
        else {
          val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
          val c = idf * (tf * (1.2 + 1.0)) /
            (tf + 1.2 * ((1.0 - 0.75) + 0.75 * toks(d).size / avgdl))
          Some(BigDecimal(c).setScale(8, BigDecimal.RoundingMode.HALF_UP))
        }
      }.sum.toDouble
    def expectTop(qid: Long, qt: Seq[String]): Seq[(Long, Double)] =
      corpus.map(_._1).map(d => d -> score(qt, d)).filter(_._2 > 0)
        .sortBy { case (d, s) => (-s, d) }.take(3)
    expectTop(100L, Seq("spark", "narrow", "keys")).zipWithIndex.foreach { case ((d, s), i) =>
      assert(got((100L, i + 1)) == ((d, s)), s"q100 rank ${i + 1}: got ${got((100L, i + 1))} want ($d,$s)")
    }
    expectTop(200L, Seq("the", "cluster")).zipWithIndex.foreach { case ((d, s), i) =>
      assert(got((200L, i + 1)) == ((d, s)), s"q200 rank ${i + 1}: got ${got((200L, i + 1))} want ($d,$s)")
    }
    // a verbatim document used as the query retrieves itself at rank 1
    val self = RetrievalOps.bm25TopK(docs,
        Seq((9L, corpus(3)._2)).toDF("query_id", "qtext"), k = 2)
      .filter(col("rank") === 1).collect()
    assert(self.length == 1 && self(0).getLong(1) == 3L)
    // k bounds the output per query
    assert(RetrievalOps.bm25TopK(docs, queries, k = 1).collect().length == 2)
    // an empty corpus fails loudly (avgdl would be 0/0), never NPEs
    val ex = intercept[IllegalArgumentException] {
      RetrievalOps.bm25TopK(docs.filter(col("doc_id") < 0), queries, k = 1)
    }
    assert(ex.getMessage.contains("EMPTY corpus"), ex.getMessage)
  }

  test("plan: bm25 broadcasts only the query side; no strings cross any exchange") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.range(300).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 15).map(i => concat(lit("t"), col("id") % (i + 2))): _*).as("text"))
      val queries = Seq((1L, "t0 t1 t2")).toDF("query_id", "qtext")
      val plan = RetrievalOps.bm25TopK(docs, queries, k = 5).queryExecution.executedPlan
      val bhj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
      val smj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      // r7: the broadcast query-term probe runs FIRST and df is aggregated
      // from the MATCHED rows (query-term-sized), broadcast back — the old
      // vocabulary-wide groupBy (a corpus-scale exchange) is gone. The
      // matched subtree appears twice (df aggregation + scoring; the term
      // broadcast itself is a ReusedExchange), so 3 BHJ nodes: two term
      // probes sharing one broadcast + the df attach
      assert(bhj.size == 3 && smj.isEmpty,
        s"expected 3 broadcast joins (term probe x2 shared + df attach), got bhj=${bhj.size} smj=${smj.size}")
      // and no corpus-scale exchange remains: every hash-partitioning in the
      // plan is query_id-keyed (the old plan had a vocabulary-wide
      // hashpartitioning(th) feeding the df aggregate)
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      exchanges.foreach { e =>
        val keys = e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.map(_.toString)
          case _ => Nil
        }
        assert(keys.exists(_.contains("query_id")),
          s"non-query-keyed exchange survives: $keys")
      }
      // terms are hashed BEFORE any exchange: corpus-sized shuffles and the
      // broadcast sides alike carry only fixed-width columns
      plan.foreach {
        case e: org.apache.spark.sql.execution.exchange.Exchange =>
          e.output.foreach(a =>
            assert(!a.dataType.isInstanceOf[org.apache.spark.sql.types.StringType],
              s"string crosses ${e.getClass.getSimpleName}: ${e.output.map(_.name)}"))
        case _ =>
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bigram LM: matches a first-principles recomputation; short docs excluded; degenerate doc is an outlier") {
    val corpus = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat on the cat"),
      (2L, "zz zz zz zz zz zz"),
      (3L, "one"),
      (4L, "assorted tokens never repeat anywhere sat"))
    val got = graft.operators.NgramLm.bigramLogProb(corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!got.contains(3L), "single-token doc must have no transitions")

    // first-principles: same conventions (add-0.5, DECIMAL(28,8) HALF_UP
    // per transition before the sum, double division by n at the end)
    val toks = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val all = toks.values.flatten.toSeq
    val c1 = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocab = all.distinct.size.toDouble
    val c2 = toks.values.flatMap(ts => ts.zip(ts.tail)).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def expect(d: Long): (Long, Double) = {
      val trans = toks(d).zip(toks(d).tail)
      val s = trans.map { case (w1, w2) =>
        val c = math.log((c2((w1, w2)) + 0.5) / (c1(w1) + 0.5 * vocab))
        BigDecimal(c).setScale(8, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      (trans.size.toLong, s.toDouble / trans.size)
    }
    for (d <- Seq(0L, 1L, 2L, 4L))
      assert(got(d) == expect(d), s"doc $d: got ${got(d)} want ${expect(d)}")
    // self-trained model memorizes the repeated-token doc: far above the rest
    assert(got(2L)._2 > got(0L)._2 && got(2L)._2 > got(4L)._2)
  }

  test("bigram LM vs reference: self≡Vs on the same corpus; unseen transitions hit the smoothing floor") {
    import graft.operators.NgramLm
    val ref = Seq(
      (0L, "alpha beta gamma alpha beta"),
      (1L, "beta gamma delta")).toDF("doc_id", "text")
    // target eq reference: the left joins never miss, identical output
    val self = NgramLm.bigramLogProb(ref).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val vs = NgramLm.bigramLogProbVs(ref, ref).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(self == vs)

    // a fully-unseen target: every transition has c2=0 and unseen w1 ⇒
    // c1=0 too — the uniform floor ln(0.5/(0.5·V)) = −ln V, per transition
    val target = Seq((9L, "zeta eta theta")).toDF("doc_id", "text")
    val got = NgramLm.bigramLogProbVs(target, ref).collect()
    assert(got.length == 1 && got(0).getLong(1) == 2L)
    val vocab = 4.0 // alpha beta gamma delta
    val floor = BigDecimal(math.log(0.5 / (0.5 * vocab)))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getDouble(2) == floor, s"${got(0).getDouble(2)} vs $floor")
    // seen predecessor + unseen bigram: c1 attested, c2=0
    val t2 = Seq((8L, "beta zeta")).toDF("doc_id", "text")
    val g2 = NgramLm.bigramLogProbVs(t2, ref).collect()(0).getDouble(2)
    val w2 = BigDecimal(math.log(0.5 / (3L + 0.5 * vocab)))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(g2 == w2, s"$g2 vs $w2")
    // an empty reference fails loudly (every probability divides by zero)
    val ex = intercept[IllegalArgumentException] {
      NgramLm.bigramLogProbVs(t2, ref.filter(col("doc_id") < 0))
    }
    assert(ex.getMessage.contains("EMPTY reference"), ex.getMessage)
  }

  test("plan: bigram LM — tokens leave the scan hashed, no strings cross any exchange") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.range(200).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 10).map(i => concat(lit("t"), col("id") % (i + 2))): _*).as("text"))
      val plan = graft.operators.NgramLm.bigramLogProb(docs)
        .queryExecution.executedPlan
      plan.foreach {
        case e: org.apache.spark.sql.execution.exchange.Exchange =>
          e.output.foreach(a =>
            assert(!a.dataType.isInstanceOf[org.apache.spark.sql.types.StringType],
              s"string crosses ${e.getClass.getSimpleName}: ${e.output.map(_.name)}"))
        case _ =>
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("hybrid retrieval: RRF golden (one-leg docs, tie rule); self-retrieval tops the fused list") {
    import spark.implicits._
    // golden fusion: doc11 in both legs, doc10 sparse-only, doc12 dense-only
    val sparse = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 11L, 1), (1L, 12L, 2), (2L, 20L, 1))
      .toDF("query_id", "doc_id", "rank")
    val fused = RetrievalOps.rrfFuse(sparse, dense, k = 3).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q1: doc11 = 1/62 + 1/61 beats doc10 = 1/61 beats doc12 = 1/62;
    // q2: doc20 scores from both rank-1 legs
    assert(fused((1L, 1)) == ((11L, r6(1.0 / 62 + 1.0 / 61))))
    assert(fused((1L, 2)) == ((10L, r6(1.0 / 61))))
    assert(fused((1L, 3)) == ((12L, r6(1.0 / 62))))
    assert(fused((2L, 1)) == ((20L, r6(2.0 / 61))))
    // equal fused scores break on doc_id ascending (both docs rank 1 in
    // exactly one leg)
    val tied = RetrievalOps.rrfFuse(
      Seq((7L, 5L, 1)).toDF("query_id", "doc_id", "rank"),
      Seq((7L, 3L, 1)).toDF("query_id", "doc_id", "rank"), k = 2).collect()
      .sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
    assert(tied == Seq(3L, 5L))

    // end-to-end: a doc queried with its own text AND its own embedding tops
    // the fused list (rank 1 in both legs by construction)
    val docs = Seq(
      (0L, "alpha beta gamma delta"), (1L, "epsilon zeta eta theta"),
      (2L, "alpha beta other words"), (3L, "totally different prose here"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)),
      (2L, Array(0.9, 0.1)), (3L, Array(0.5, 0.5))).toDF("vec_id", "embedding")
    val queries = Seq((0L, "alpha beta gamma delta", Array(1.0, 0.0)))
      .toDF("query_id", "qtext", "qvec")
    val top = RetrievalOps.hybridTopK(docs, emb, queries, k = 3, poolK = 3)
      .orderBy("rank").collect()
    assert(top.head.getLong(1) == 0L, top.mkString("; "))
    assert(top.length == 3)
  }

  test("plan: hybrid composition keeps both legs' broadcast shapes; fusion is the only SMJ") {
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.range(300).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 15).map(i => concat(lit("t"), col("id") % (i + 2))): _*).as("text"))
      val emb = spark.range(300).select(col("id").as("vec_id"),
        array((0 until 4).map(i => (col("id") % (i + 3)).cast("double")): _*).as("embedding"))
      val queries = Seq((1L, "t0 t1 t2", Array(1.0, 0.0, 1.0, 0.0)))
        .toDF("query_id", "qtext", "qvec")
      val plan = RetrievalOps.hybridTopK(docs, emb, queries, k = 3, poolK = 5)
        .queryExecution.executedPlan
      val bhj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
      val bnlj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j }
      val smj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      // composition must not re-plan the legs: BM25's term probes +
      // matched-df attach stay broadcast (3 BHJ — see the bm25 plan test),
      // the dense leg stays a broadcast cross join, and the ONLY sort-merge
      // join is the query-sized full-outer fusion
      assert(bhj.size == 3, s"bm25 leg lost a broadcast join: ${bhj.size}")
      assert(bnlj.size == 1, s"dense leg lost its broadcast cross join: ${bnlj.size}")
      assert(smj.size == 1 && smj.head.joinType.sql == "FULL OUTER",
        s"fusion join shape changed: ${smj.map(_.joinType)}")
      plan.foreach {
        case e: org.apache.spark.sql.execution.exchange.Exchange =>
          e.output.foreach(a =>
            assert(!a.dataType.isInstanceOf[org.apache.spark.sql.types.StringType],
              s"string crosses ${e.getClass.getSimpleName}: ${e.output.map(_.name)}"))
        case _ =>
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("guessVersion: quiet None on absent/broken documents, Some on the fixture") {
    import graft.sources.OboGraphReader
    val ont = graft.fixtures.MiniOntology.writeTo("target/fixtures")
    assert(OboGraphReader.guessVersion(spark, ont, Some("pato"))
      .contains("http://purl.obolibrary.org/obo/pato/releases/2026-01-01/pato.owl"))
    assert(OboGraphReader.guessVersion(spark, "/nonexistent/missing.json").isEmpty)
  }

  test("stratified sample scans only key + stratum columns (the 100 TB property)") {
    // the sampling decision is a function of (doc_id, lang) alone — at corpus
    // scale the mixing stage must NOT read the text bytes it throws away
    val plan = TextOps.stratifiedSample(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "lang", Map("en" -> 0.5), 0.1)
      .select("doc_id", "lang")
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty, plan)
    assert(readSchema.contains("doc_id") && readSchema.contains("lang"), readSchema)
    assert(!readSchema.contains("text"), readSchema)
  }

  test("parquet scan prunes columns and pushes filters for text metrics") {
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("lang") === "en")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), plan)
    // ReadSchema must NOT include source/n_chars — only needed columns
    assert(plan.contains("doc_id") && plan.contains("text"))
    assert(!plan.contains("n_chars"))
  }

  test("mention token join broadcasts the lexicon (no corpus-side shuffle)") {
    val q = SparkEntry.queries("q_mention_tokens")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("curie expressions stay inside whole-stage codegen") {
    val q = SparkEntry.queries("q_compress_iri")(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // "*(n)" prefix = WholeStageCodegen span
    // and produce correct values through the generated path
    val row = q.filter(col("doc_id") === 4).collect()(0)
    assert(row.getString(1) == "EXD:4")
  }

  // ---------------- Multimodal ----------------

  test("multimodal: deterministic features, schema and frame sampling") {
    val media = MultimodalOps.syntheticMedia(spark, 60)
    val feats = MultimodalOps.extractFeatures(media).collect()
    assert(feats.length == 60)
    assert(feats.forall(_.features.length == 16))
    // unit-ish norm
    assert(feats.forall(f => math.abs(f.features.map(x => x * x).sum - 1.0f) < 1e-3))
  }

  // ---------------- dial derivation ----------------

  test("deriveDials: 50k-doc outputs pin to the BASELINE-validated probe records") {
    import graft.operators.Dials
    // minhash banding ladder — exactly the measured SketchDialsProbe rungs:
    // r=1 (oracle, recall 1.0 structural), r=2 (production, measured
    // 0.9983 at J>=0.7), r=4 (aggressive, J>=0.85 only)
    assert(Dials.minhash(0.5) == Dials.MinhashDials(16, 16))
    assert(Dials.minhash(0.7) == Dials.MinhashDials(16, 8))
    assert(Dials.minhash(0.8) == Dials.MinhashDials(16, 8)) // the HygieneConfig default
    assert(Dials.minhash(0.85) == Dials.MinhashDials(16, 4))
    // theory recall at each selected rung clears the floor AT its threshold
    for (j <- Seq(0.5, 0.7, 0.8, 0.85)) {
      val d = Dials.minhash(j)
      assert(Dials.minhashTheoryRecall(j, d.r, d.bands) >= Dials.MinhashRecallFloor)
    }
    // simhash: every recorded point, incl. the REFUSED failure configuration
    assert(Dials.simhashMaxHamming(55000L, requested = 6) == 3,
      "maxH=6 at 50k docs is the measured executor-OOM configuration — must cap to 3")
    assert(Dials.simhashMaxHamming(5000L, requested = 6) == 4) // sf0.1 gate dial
    assert(Dials.simhashMaxHamming(500L, requested = 4) == 4)  // q_dedup_simhash uncapped
    assert(Dials.simhashCap(500L) == 7)
    // block width at the cap stays >= log2(corpus) - 1 across six decades
    for (n <- Seq(1000L, 10000L, 100000L, 1000000L, 100000000L, 10000000000L)) {
      val blocks = Dials.simhashCap(n) + 1
      val need = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt - 1
      assert(64 / blocks >= need, s"n=$n blocks=$blocks width=${64 / blocks} need=$need")
    }
    // winnowing: 50k record (k=16, w=8, frac 0.35); k grows with log2(corpus)
    assert(Dials.winnowing(55000L) == Dials.WinnowDials(16, 8, 0.35))
    assert(Dials.winnowing(1000L) == Dials.WinnowDials(10, 5, 0.35))
    assert(Dials.winnowing(1000000000L).k == 30)
    // embedding LSH: 50k record planes=20 (log2 + 4 slack, the measured
    // 7.4x-fewer-candidates dial); monotone in corpus size
    assert(Dials.embeddingPlanes(55000L) == 20)
    assert(Dials.embeddingPlanes(500L) == 13)
    assert(Dials.embeddingPlanes(1000000000L) == 34)
    // stored-postings buckets: power-of-two ladder between the 16 floor
    // (pruning below one row group saves nothing) and the 4096 directory cap
    assert(Dials.retrievalBuckets(1000L) == 16)
    assert(Dials.retrievalBuckets(50000L) == 16)
    assert(Dials.retrievalBuckets(500000L) == 128) // the RetrievalProbe corpus
    assert(Dials.retrievalBuckets(1000000000000L) == 4096)
  }

  // ---------------- incremental-dedup store layout ----------------

  test("bucketed signature store: per-batch band join adds NO store-side exchange") { SparkTestBase.withTempDir("graft_store_plan") { root =>
    import graft.icelite.{BucketedTables, Icelite}
    val ic = new Icelite(root)
    val hist = (0L until 60L).map(i => (i, s"history document $i body ${i % 7} tail")).toDF("doc_id", "text")
    val batch = (100L until 130L).map(i => (i, s"history document ${i - 100} body ${(i - 100) % 7} tail")).toDF("doc_id", "text")
    val spec = graft.streaming.StreamingDedup.StoreBuckets
    val id = ic.writeSnapshot(DedupOps.bandedSignatures(hist, k = 16, bands = 4),
      "store", tag = "t", buckets = Some(spec))
    assert(ic.bucketSpec("store", id).contains(spec)) // manifest records the layout
    val store = ic.readSnapshot(spark, "store", Some(id))
    val batchBands = DedupOps.bandedSignatures(batch, k = 16, bands = 4).localCheckpoint(true)
    // static plan: AQE off so the exchange tree is inspectable, broadcast off
    // so the pin holds for the at-scale join strategy (store >> batch: a
    // broadcast of the STORE side would itself be a store-side exchange)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cand = DedupOps.crossStoreCandidates(batchBands, store)
      val plan = cand.queryExecution.executedPlan
      // the invariant lives at the BAND JOIN: its store-side subtree (scan →
      // guard groupBy → join input) must be exchange-free — the bucketed scan
      // already satisfies both the aggregation and the join distribution.
      // (The batch side below it DOES shuffle; that's batch-sized, not
      // store-sized.)
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec    => j: org.apache.spark.sql.execution.SparkPlan
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j: org.apache.spark.sql.execution.SparkPlan
      }
      assert(joins.size == 1, plan.treeString.take(2000))
      val storeSides = joins.head.children.filter(c => c.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.nonEmpty)
      assert(storeSides.size == 1, joins.head.treeString.take(2000))
      val storeExchanges = storeSides.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(storeExchanges.isEmpty,
        s"store-side exchange in the band join:\n${storeSides.head.treeString.take(1500)}")
      val batchSide = joins.head.children.filterNot(storeSides.contains)
      assert(batchSide.exists(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.nonEmpty)) // sanity: ONLY the batch side shuffles, not neither
      // and the store IS read as a bucketed scan, not a plain parquet read
      assert(plan.toString.contains("Bucketed: true"), plan.toString.take(2000))
      // correctness of the layout-aware formulation: identical candidate set
      // to the same computation over a plain in-memory store
      val got = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plain = DedupOps.crossStoreCandidates(batchBands,
        DedupOps.bandedSignatures(hist, k = 16, bands = 4))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == plain && got.nonEmpty, s"bucketed=${got.size} plain=${plain.size}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }}

  test("store-side mega-bucket guard: degenerate store bucket dropped LOUDLY") {
    // a band bucket accumulated in the HISTORICAL store beyond MaxBucket
    // (boilerplate kept forever) must not explode |batch|×|store| — it is
    // dropped through the SAME accumulators as the intra-batch guard
    val degenerate = spark.range(DedupOps.MaxBucket + 5L).select(
      col("id").as("doc_id"), lit(0).as("band_idx"), lit(42L).as("band_hash"))
    val normal = Seq((900000L, 1, 7L), (900001L, 1, 7L)).toDF("doc_id", "band_idx", "band_hash")
    val store = degenerate.unionByName(normal)
    val batchBands = Seq((5555L, 0, 42L), (5556L, 1, 7L)).toDF("doc_id", "band_idx", "band_hash")
    val (b0, m0) = DedupOps.bucketGuardCounts(spark)
    val pairs = DedupOps.crossStoreCandidates(batchBands, store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (b1, m1) = DedupOps.bucketGuardCounts(spark)
    // the normal bucket's cross candidates survive — including a SINGLE-member
    // store bucket (minMembers=1 on the cross path: one retained copy is a
    // valid duplicate source, unlike intra-batch pairing which needs 2)
    assert(pairs == Set((5556L, 900000L), (5556L, 900001L)), s"got $pairs")
    assert(b1 > b0, "degenerate store bucket dropped silently (no guard count)")
    assert(m1 - m0 >= DedupOps.MaxBucket, s"dropped-members delta ${m1 - m0}")
  }

  test("history fetch: candidate ids bucket-prune a doc_id-bucketed corpus (point lookups)") { SparkTestBase.withTempDir("graft_hist_bkt") { dir =>
    import graft.icelite.BucketedTables
    val docs = (0L until 400L).map(i => (i, s"retained doc $i")).toDF("doc_id", "text")
    val spec = graft.streaming.StreamingDedup.HistoryBuckets
    BucketedTables.write(docs, dir, spec)
    val history = BucketedTables.read(spark, dir, spec)
    val ids = Seq(3L, 17L).toDF("doc_id")
    val fetched = DedupOps.fetchDocsByIds(history, ids)
    assert(fetched.collect().map(_.getLong(0)).toSet == Set(3L, 17L))
    // the IN filter must reach the scan as bucket pruning: strictly fewer
    // bucket FILES read than the table has buckets. Asserted on the scan
    // node's optionalBucketSet (the pruning bitmap) — pruning applies even
    // when DisableUnnecessaryBucketedScan turns off the scan's OUTPUT
    // partitioning (no join here to exploit it), in which case the plan
    // text shows neither "Bucketed: true" nor SelectedBucketsCount.
    val scan = fetched.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail(fetched.queryExecution.executedPlan.toString.take(2000)))
    val pruned = scan.optionalBucketSet
    assert(pruned.isDefined, s"no bucket pruning at the scan: $scan")
    assert(pruned.get.cardinality() < spec.numBuckets,
      s"IN(2 ids) selected ${pruned.get.cardinality()}/${spec.numBuckets} buckets")
    // over-limit id sets fall back to the semi-join path and stay correct
    val manyIds = spark.range(0, DedupOps.FetchProbeLimit + 100L).select(col("id").as("doc_id"))
    assert(DedupOps.fetchDocsByIds(history, manyIds).count() == 400L)
  }}

  // ---------------- mention-triple rendering ----------------

  test("DetectTriplesExec's rendered triples == the concat projection, through an exchange and icelite") {
    SparkTestBase.withTempDir("graft_render") { root =>
      import graft.ground.MentionDetector
      import graft.model.Vocab
      val ctx = graft.pipeline.KgPipeline.prepare(spark,
        graft.fixtures.MiniOntology.writeTo("target/fixtures"))
      // conv_ids with non-ASCII letters, a '/', the empty string; turn_idx
      // 0, -1 and Int.MaxValue; each text matches several concepts
      val convs = Seq("c1", "Größe-ß", "中文会话", "a/b", "", "conv/7/x")
      val idxs = Seq(0, -1, Int.MaxValue, 42)
      val turns = (for (c <- convs; t <- idxs) yield (c, t,
        s"the big quality of $c is a slow and huge trait, turn $t")).toDF("conv_id", "turn_idx", "text")
      val slim = MentionDetector.slim(turns)
      // the reference: the string-path detection, and the projection the
      // detection pass rendered its subj with before the exec rendered it
      val reference = MentionDetector.detectTopSlim(slim, ctx.grounder).toDF().select(
        concat(lit("turn:"), col("conv_id"), lit("/"), col("turn_idx")).as("subj"),
        lit(Vocab.Mentions).as("pred"),
        concat(col("prefix"), lit(":"), col("id")).as("obj")).distinct()
      def sameAsReference(df: DataFrame): Unit = {
        assert(df.columns.toSeq == Seq("subj", "pred", "obj"))
        assert(df.exceptAll(reference).isEmpty, df.exceptAll(reference).collect().mkString("\n"))
        assert(reference.exceptAll(df).isEmpty, reference.exceptAll(df).collect().mkString("\n"))
      }
      val fused = MentionDetector.detectTriples(slim, ctx.grounder)
      assert(reference.count() >= convs.size * idxs.size * 3)
      sameAsReference(fused)
      assert(fused.count() == reference.count()) // already distinct per turn
      // an exchange above the exec (UnsafeRow serialization), and a write
      // and read-back of its rows
      sameAsReference(MentionDetector.detectTriplesSharded(slim, Seq(ctx.grounder)))
      sameAsReference(new graft.icelite.Icelite(root).materialize(spark, "mentions", "t")(fused))
      // a spot check, independent of any projection
      assert(fused.filter(col("subj") === s"turn:Größe-ß/${Int.MaxValue}").collect()
        .map(r => (r.getString(1), r.getString(2))).toSet.contains((Vocab.Mentions, "PATO:0000118")))
    }
  }
}
