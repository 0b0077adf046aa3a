package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Composed corpus-hygiene pipeline — the end-to-end cleaning pass a
 * pretraining data pipeline runs over a raw 100 TB corpus:
 *
 *   exact dedup → near-dup dedup (minhash survivors) → benchmark
 *   decontamination → repetition filter → stratified down-sampling →
 *   PII redaction
 *
 * Every stage is an individually oracle-verified operator (see
 * IMPLEMENTATION.md "training-data operators"); this object fixes the
 * COMPOSITION: stage order (redaction last — it rewrites the text other
 * stages key on), the id-only join discipline (corpus text never shuffles —
 * stage decisions travel as doc_id sets through semi/anti joins or map-side
 * filters), and the dials ([[HygieneConfig]]). The q_hygiene oracle replays
 * the exact-dedup → decontaminate → repetition → sample → redact chain in
 * DuckDB, and q_hygiene_full replays all SIX stages (minhash survivors
 * included) on a smaller subset — so the composition itself is
 * value-checked, not just the parts.
 */
object CorpusHygiene {

  /**
   * Stage dials. `None` on an Option dial skips its stage entirely — the
   * skip is part of the contract (e.g. the q_hygiene oracle configuration
   * skips the minhash stage on its larger corpus; the full six-stage
   * composition including it is value-checked by q_hygiene_full on the
   * q_dedup_minhash-sized subset).
   *
   * @param maxDupTokenFrac drop docs whose duplicate-token fraction exceeds
   *   this (degenerate/looping text); 1.0 disables the filter
   * @param sampleDefaultRate 1.0 + empty `sampleRates` keeps everything
   */
  final case class HygieneConfig(
      nearDupThreshold: Option[Double] = Some(0.8),
      minhashK: Int = 16,
      minhashBands: Int = 8,
      decontaminateMinFrac: Option[Double] = Some(0.8),
      decontaminateGram: Int = 3,
      maxDupTokenFrac: Double = 1.0,
      sampleRates: Map[String, Double] = Map.empty,
      sampleDefaultRate: Double = 1.0,
      redact: Boolean = true)

  /**
   * Run the hygiene chain over `documents(doc_id, lang, text, ...)`.
   * One DataFrame out; callers count stage effects themselves if they want a
   * report (each count is a corpus job, so the engine does not force six of
   * them on every run).
   *
   * Exact dedup runs ONCE per clean: its survivors are pinned with a lazy
   * `localCheckpoint(false)` that the minhash banding, the candidate fetch,
   * the contamination scan and the final chain all read, instead of each
   * re-running the fingerprint shuffle. The pin stores one lineage-truncated
   * copy of the exact-dedup survivors (memory and disk); it is not
   * recoverable on executor loss, so a lost executor fails the job, which
   * reruns — every stage is deterministic, so a rerun is correctness-safe,
   * just not incremental.
   *
   * NOT fully lazy: under AQE, building a lazy pin runs its plan's shuffle
   * stages, so construction runs the exact-dedup fingerprint shuffle and,
   * with `nearDupThreshold` set, the minhash stage's banding probe and
   * verify probe ([[DriverProbe]] jobs over the pinned survivors).
   *
   * @param benchmark optional (bench_id, text) eval items for the
   *   decontamination stage (skipped when absent)
   */
  def clean(documents: DataFrame, benchmark: Option[DataFrame] = None,
            cfg: HygieneConfig = HygieneConfig()): DataFrame = {
    // 1. exact dedup: survivors keep the min doc_id of each normalized-text
    //    group, pinned once for every later stage
    var d = DedupOps.exactDedup(documents).localCheckpoint(false)

    // 2. near-dup dedup: LSH candidates → verify → components → survivors
    cfg.nearDupThreshold.foreach { t =>
      d = DedupOps.minhashSurvivors(d, t, cfg.minhashK, cfg.minhashBands)
    }

    // 3. decontamination: drop docs covering >= minFrac of any eval item's
    //    gram set. The flagged id set is contamination-sized, so it is
    //    broadcast; a broadcast anti-join ignores duplicate build keys, so it
    //    needs no distinct, and the corpus side never shuffles
    (benchmark, cfg.decontaminateMinFrac) match {
      case (Some(bench), Some(frac)) =>
        val flagged = DedupOps
          .contamination(d, bench, cfg.decontaminateGram, frac)
          .select("doc_id")
        d = d.join(broadcast(flagged), Seq("doc_id"), "left_anti")
      case _ => ()
    }

    // 4. repetition filter: pure map-side (staged token array, no join);
    //    the SHARED TextOps.dupTokenFrac definition — identical to the
    //    q_repetition-gated metric by construction
    if (cfg.maxDupTokenFrac < 1.0) {
      d = d
        .withColumn("toks", split(DedupOps.normText(coalesce(col("text"), lit(""))), " "))
        .filter(TextOps.dupTokenFrac(col("toks")) <= cfg.maxDupTokenFrac)
        .drop("toks")
    }

    // 5. stratified down-sampling (deterministic, partitioning-invariant)
    if (cfg.sampleRates.nonEmpty || cfg.sampleDefaultRate < 1.0)
      d = TextOps.stratifiedSample(d, "lang", cfg.sampleRates, cfg.sampleDefaultRate)

    // 6. redaction LAST: earlier stages key on the original text
    if (cfg.redact) d.withColumn("text", TextOps.redactPii(col("text"))) else d
  }
}
