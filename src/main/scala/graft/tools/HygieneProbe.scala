package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CorpusHygiene, DedupOps, TextOps}

/**
 * Composed-hygiene validation at 10× the oracle scale (round-4 verdict item
 * 6): `CorpusHygiene.clean` is oracle-exact at sf0.1 (~2k docs, minhash
 * stage skipped there), but stage-dial INTERACTIONS (minhash threshold ×
 * repetition filter × sampling) first break at scale. This probe builds a
 * ~57k-doc corpus with PLANTED victims for every stage:
 *
 *  - exact-dup victims: byte-identical copies of 2k base docs;
 *  - near-dup victims: SketchDialsProbe's mutation twins (rates .02/.05/.10/
 *    .20 spanning the 0.7 threshold) — expected set = exact shingle-Jaccard
 *    on the planted pairs, a bounded computation;
 *  - contamination victims: docs embedding an eval item's full token stream
 *    verbatim (+ unique padding so no other stage wants them);
 *  - repetition victims: one token repeated 150× (dup_token_frac ≈ 0.993);
 *  - PII plants: unique docs carrying an email address.
 *
 * It replays the stage chain with the SAME operator calls in clean()'s
 * order, recording per-stage survivor counts and per-stage planted-victim
 * recall, then runs `CorpusHygiene.clean` end-to-end with the same dials
 * and asserts the composed output matches the stepwise replay doc-for-doc
 * (count + order-invariant content signature).
 *
 * Prints ONE JSON line; recorded in BASELINE.md. Not part of the driver
 * contract.
 */
object HygieneProbe {

  val ExactOffset = 20000000L
  val ContamOffset = 30000000L
  val RepOffset = 40000000L
  val PiiOffset = 50000000L

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nBase = sys.env.getOrElse("HYGIENE_PROBE_DOCS", "50000").toLong
    val nDup = nBase / 10
    val threshold = 0.7
    val spark = graft.SparkDefaults.builder("graft-hygiene-probe",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ---- corpus with planted per-stage victims ---------------------------
    val base = SketchDialsProbe.syntheticDocs(spark, nBase, nDup) // + twins ≥ DupOffset
    val exactCopies = base.filter(col("doc_id") < 2000)
      .select((col("doc_id") + ExactOffset).as("doc_id"), col("text"))
    val bench = base.filter(col("doc_id") % 41 === 0 && col("doc_id") < nBase)
      .select(col("doc_id").as("bench_id"),
        concat_ws(" ", slice(split(DedupOps.normText(col("text")), " "), 1, 12)).as("text"))
      .localCheckpoint(true) // consumed by victims, the stage, and clean()
    // bench ids are the multiples of 41, so < 41*1000 selects 1000 items —
    // the planted count is COUNTED below anyway (the recall denominator must
    // never be a hardcoded guess of a filter's selectivity)
    val contamVictims = bench.filter(col("bench_id") < 41L * 1000)
      .select((col("bench_id") + ContamOffset).as("doc_id"),
        concat(col("text"), lit(" "), concat_ws(" ",
          (0 until 30).map(j => concat(lit(s"pad${j}x"), col("bench_id"))): _*)).as("text"))
      .localCheckpoint(true)
    val nContam = contamVictims.count()
    val repVictims = spark.range(1000)
      .select((col("id") + RepOffset).as("doc_id"),
        concat_ws(" ", array_repeat(concat(lit("rep"), col("id")), 150)).as("text"))
    val piiPlants = spark.range(1000)
      .select((col("id") + PiiOffset).as("doc_id"),
        concat(lit("unique pii document "), col("id"),
          lit(" with ordinary filler words contact user"), col("id"),
          lit("@example.org for details")).as("text"))
    val corpus = base.unionByName(exactCopies).unionByName(contamVictims)
      .unionByName(repVictims).unionByName(piiPlants)
      .withColumn("lang", element_at(
        array(lit("en"), lit("de"), lit("fr")), (pmod(col("doc_id"), lit(3)) + 1).cast("int")))
      .select("doc_id", "lang", "text")
      .localCheckpoint(true)
    val n0 = corpus.count()

    // expected near-dup victims: exact shingle-Jaccard on the PLANTED pairs
    val sh = DedupOps.shingleArray(base).localCheckpoint(true)
    val planted = spark.range(nDup)
      .select(col("id").as("a"), (col("id") + SketchDialsProbe.DupOffset).as("b"))
    val expectedNearDrop = planted
      .join(sh.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sh_a"), "a")
      .join(sh.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "sh_b"), "b")
      .filter(DedupOps.shingleJaccardFromArrays(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("b").as("doc_id")).localCheckpoint(true)
    val nNearExpected = expectedNearDrop.count()

    // ---- stepwise replay: the SAME operator calls in clean()'s order -----
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    def ids(df: DataFrame): DataFrame = df.select("doc_id")
    val t0 = System.nanoTime()
    val s1 = DedupOps.exactDedup(corpus).localCheckpoint(true)
    val n1 = s1.count()
    val mh = graft.operators.Dials.minhash(threshold) // r=2 production dial at J=0.7
    val s2 = DedupOps.minhashSurvivors(s1, threshold, k = mh.k, bands = mh.bands).localCheckpoint(true)
    val n2 = s2.count()
    val flagged = DedupOps.contamination(s2, bench, n = 3, minFrac = 0.8)
      .select("doc_id").distinct()
    val s3 = s2.join(flagged, Seq("doc_id"), "left_anti").localCheckpoint(true)
    val n3 = s3.count()
    val s4 = s3
      .withColumn("toks", split(DedupOps.normText(coalesce(col("text"), lit(""))), " "))
      .filter(TextOps.dupTokenFrac(col("toks")) <= 0.68).drop("toks")
      .localCheckpoint(true)
    val n4 = s4.count()
    val s5 = TextOps.stratifiedSample(s4, "lang", rates, defaultRate = 0.1)
      .localCheckpoint(true)
    val n5 = s5.count()
    val s6 = s5.withColumn("text", TextOps.redactPii(col("text"))).localCheckpoint(true)
    val n6 = s6.count()
    val stepSec = (System.nanoTime() - t0) / 1e9

    // ---- per-stage planted-victim recall ---------------------------------
    def survivors(stage: DataFrame, planted: DataFrame): Long =
      ids(stage).join(planted, Seq("doc_id"), "left_semi").count()
    val exactLeft = survivors(s1, ids(exactCopies))
    val nearLeft = survivors(s2, expectedNearDrop)
    val contamLeft = survivors(s3, ids(contamVictims))
    val repLeft = survivors(s4, ids(repVictims))
    val exactRecall = 1.0 - exactLeft.toDouble / 2000
    val nearRecall = if (nNearExpected == 0) 1.0 else 1.0 - nearLeft.toDouble / nNearExpected
    val contamRecall = if (nContam == 0) 1.0 else 1.0 - contamLeft.toDouble / nContam
    val repRecall = 1.0 - repLeft.toDouble / 1000
    // redaction: NO surviving doc carries a raw email; surviving plants carry the tag
    val rawEmails = s6.filter(col("text").rlike(TextOps.EmailRe)).count()
    val piiSurvived = survivors(s6, ids(piiPlants))
    val piiTagged = s6.join(ids(piiPlants), Seq("doc_id"), "left_semi")
      .filter(col("text").contains("<EMAIL>")).count()

    // ---- composition check: clean() end-to-end == stepwise replay --------
    val cleaned = CorpusHygiene.clean(corpus, Some(bench),
      CorpusHygiene.HygieneConfig(
        nearDupThreshold = Some(threshold), minhashK = mh.k, minhashBands = mh.bands,
        decontaminateMinFrac = Some(0.8), maxDupTokenFrac = 0.68,
        sampleRates = rates, sampleDefaultRate = 0.1, redact = true))
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        bit_xor(xxhash64(col("doc_id"), col("lang"), col("text")))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val stepSig = sig(s6)
    val cleanSig = sig(cleaned)
    val compositionIdentical = stepSig == cleanSig

    val (droppedBuckets, droppedMembers) = DedupOps.bucketGuardCounts(spark)
    val json =
      s"""{"probe":"hygiene-composition","n_docs":$n0,"threshold":$threshold,""" +
        s""""stage_survivors":{"exact":$n1,"near_dup":$n2,"decontaminate":$n3,""" +
        s""""repetition":$n4,"sample":$n5,"redact":$n6},""" +
        f""""planted_recall":{"exact":$exactRecall%.4f,"n_exact_planted":2000,""" +
        f""""near_dup_at_$threshold":$nearRecall%.4f,"n_near_expected":$nNearExpected,""" +
        f""""decontaminate":$contamRecall%.4f,"n_contam_planted":$nContam,""" +
        f""""repetition":$repRecall%.4f,"n_rep_planted":1000},""" +
        s""""raw_emails_after_redact":$rawEmails,""" +
        s""""pii_plants_survived":$piiSurvived,"pii_plants_tagged":$piiTagged,""" +
        f""""stepwise_sec":$stepSec%.1f,""" +
        s""""composition_identical":$compositionIdentical,""" +
        s""""dropped_buckets":$droppedBuckets,"dropped_members":$droppedMembers}"""
    println(json)
    spark.stop()
  }
}
