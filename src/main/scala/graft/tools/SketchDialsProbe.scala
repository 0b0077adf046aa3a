package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, Dials}

/**
 * Scale-validation of the sketch dials (round-3 verdict item 2): every
 * LSH/banding parameter was tuned at sf ≤ 0.1 (≤ 5k docs), where the oracle
 * checks exactness but says nothing about RECALL at production dials on a
 * bigger corpus. This probe:
 *
 *  1. generates a deterministic documents table at ~10× the sf0.1 scale
 *     (default 50k base docs + planted near-duplicates), with the planted
 *     pairs' similarity CONTROLLED by a per-pair token-mutation rate — so
 *     ground truth is a bounded exact computation on the planted pairs, not
 *     an all-pairs scan;
 *  2. runs minhash candidate generation at the production dial ladder
 *     r = 1 / 2 / 4 (k=16 with bands 16/8/4) and reports candidate recall
 *     against the exact shingle-Jaccard predicate, plus candidate volume
 *     (the efficiency side of the dial);
 *  3. runs embedding LSH at planes = 16 vs 20 on planted cosine near-dups
 *     and reports the same recall/volume trade.
 *
 * Prints ONE JSON line; results are recorded in BASELINE.md. Theory says
 * P[candidate | J] = 1 − (1 − J^r)^b for minhash — the probe's measured
 * recall is checked against that curve by eye in BASELINE.md, not asserted
 * here (this is an experiment artifact, not a unit test).
 */
object SketchDialsProbe {

  /** Deterministic corpus with planted near-duplicates. Base doc `id` draws
    * `len(id)` tokens from a 5k-word vocabulary (per-id seeded RNG →
    * partition-order independent). For id < nDup, a twin with doc_id =
    * id + DupOffset replaces each token independently with probability
    * p(id) ∈ {0.02, 0.05, 0.1, 0.2} — spanning shingle-Jaccard ≈ 0.89 /
    * 0.75 / 0.57 / 0.34, i.e. both sides of every interesting threshold. */
  val DupOffset = 10000000L
  val MutationRates = Array(0.02, 0.05, 0.10, 0.20)

  def syntheticDocs(spark: SparkSession, nBase: Long, nDup: Long): DataFrame = {
    import spark.implicits._
    require(nDup <= nBase)
    spark.range(nBase).mapPartitions { it =>
      it.flatMap { boxed =>
        val id: Long = boxed // spark.range yields java.lang.Long; unify early
        val rng = new scala.util.Random(7700 + id)
        val len = 80 + rng.nextInt(120)
        val toks = Array.fill(len)(f"w${rng.nextInt(5000)}%05d")
        val base = (id, toks.mkString(" "))
        if (id < nDup) {
          val p = MutationRates((id % MutationRates.length).toInt)
          val rng2 = new scala.util.Random(8800 + id)
          val mut = toks.map(t => if (rng2.nextDouble() < p) f"m${rng2.nextInt(5000)}%05d" else t)
          Seq(base, (id + DupOffset, mut.mkString(" ")))
        } else Seq(base)
      }
    }.toDF("doc_id", "text")
  }

  /** Deterministic embeddings with planted cosine near-dups: twin = base +
    * noise·scale, scale ∈ {0.15, 0.3, 0.45} → cos ≈ 0.989 / 0.957 / 0.912
    * (the last is a planted NEGATIVE for threshold 0.95). */
  val NoiseScales = Array(0.15, 0.30, 0.45)

  def syntheticEmbeddings(spark: SparkSession, nBase: Long, nDup: Long,
                          dim: Int = 64): DataFrame = {
    import spark.implicits._
    spark.range(nBase).mapPartitions { it =>
      it.flatMap { boxed =>
        val id: Long = boxed
        val rng = new scala.util.Random(9900 + id)
        val v = Array.fill(dim)(rng.nextGaussian().toFloat)
        if (id < nDup) {
          val s = NoiseScales((id % NoiseScales.length).toInt)
          val w = v.map(x => (x + s * rng.nextGaussian()).toFloat)
          Seq((id, v.toSeq), (id + DupOffset, w.toSeq))
        } else Seq((id, v.toSeq))
      }
    }.toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nBase = sys.env.getOrElse("SKETCH_PROBE_DOCS", "50000").toLong
    val nDup = nBase / 10
    val threshold = 0.7
    val spark = graft.SparkDefaults.builder("graft-sketch-dials",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // ---- minhash ----------------------------------------------------------
    val docs = syntheticDocs(spark, nBase, nDup).localCheckpoint(true)
    // exact ground truth on the PLANTED pairs only (bounded: nDup rows)
    val sh = DedupOps.shingleArray(docs).localCheckpoint(true)
    val planted = spark.range(nDup)
      .select(col("id").as("a"), (col("id") + DupOffset).as("b"))
    val exact = planted
      .join(sh.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sh_a"), "a")
      .join(sh.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "sh_b"), "b")
      .select(col("a"), col("b"),
        DedupOps.shingleJaccardFromArrays(col("sh_a"), col("sh_b")).as("j"))
      .localCheckpoint(true)
    val positives = exact.filter(col("j") >= threshold).localCheckpoint(true)
    val nPos = positives.count()

    // the dial LADDER comes from the executable derivation: each rung is
    // Dials.minhash at the Jaccard threshold that selects it (0.5 -> r=1
    // oracle dial, 0.7 -> r=2 production dial, 0.85 -> r=4 aggressive) —
    // the probe measures what the derivation promises
    val dialCands = Seq(0.5, 0.7, 0.85)
      .map(j => Dials.minhash(j))
      .map(d => (d.k, d.bands))
      .map { case (k, bands) =>
      val t0 = System.nanoTime()
      val cand = DedupOps.minhashCandidates(docs, k, bands).localCheckpoint(true)
      val nCand = cand.count()
      (k, bands, cand, nCand, (System.nanoTime() - t0) / 1e9)
    }
    val minhashResults = dialCands.map { case (k, bands, cand, nCand, sec) =>
      val hit = positives.join(cand, Seq("a", "b"), "left_semi").count()
      val recall = if (nPos == 0) 1.0 else hit.toDouble / nPos
      // theory: planted pair at J is a candidate w.p. 1-(1-J^r)^bands
      val r = k / bands
      f""""r$r":{"k":$k,"bands":$bands,"candidates":$nCand,""" +
        f""""recall_at_${threshold}":$recall%.4f,"sec":$sec%.1f}"""
    }

    // per-mutation-rate recall at the r=2 production dial (the dial the
    // BASELINE.md record centers on): shows WHERE the recall curve bends —
    // reusing the checkpointed candidate set from the ladder above
    val cand2 = dialCands.collectFirst { case (16, 8, cand, _, _) => cand }.get
    val byRate = exact
      .withColumn("rate", element_at(
        lit(MutationRates.map(r => f"$r%.2f")), (pmod(col("a"), lit(4)) + 1).cast("int")))
      .groupBy("rate")
      .agg(count(lit(1)).as("n"), round(avg("j"), 4).as("mean_j"))
      .join(
        exact.join(cand2, Seq("a", "b"), "left_semi")
          .withColumn("rate", element_at(
            lit(MutationRates.map(r => f"$r%.2f")), (pmod(col("a"), lit(4)) + 1).cast("int")))
          .groupBy("rate").agg(count(lit(1)).as("n_cand")),
        Seq("rate"), "left")
      .na.fill(0L, Seq("n_cand"))
      .orderBy("rate")
      .collect()
      .map(r => f""""${r.getString(0)}":{"mean_j":${r.getDouble(2)}%.4f,""" +
        f""""candidate_frac":${r.getLong(3).toDouble / r.getLong(1)}%.4f}""")

    // ---- simhash at 10×: pigeonhole recall is STRUCTURAL — the things to
    // validate at scale are (a) the block-width ⇔ corpus-size relation and
    // (b) that the mega-bucket guard doesn't silently eat recall. maxH = 3
    // (16-bit blocks) is the 50k-doc-scale dial: maxH = 6 gives 7 blocks of
    // ~9 bits = 512 values, and 50k docs over 512 buckets is a pair
    // explosion (measured: executor OOM) — block width must stay well above
    // log2(corpus), exactly the scaling rule IMPLEMENTATION.md documents
    val sigs = docs.select(col("doc_id"), DedupOps.simhash(col("text")).as("sig"))
      .localCheckpoint(true)
    val maxH = Dials.simhashMaxHamming(nBase + nDup) // 3 at the 50k scale
    val simExact = planted
      .join(sigs.withColumnRenamed("doc_id", "a").withColumnRenamed("sig", "sig_a"), "a")
      .join(sigs.withColumnRenamed("doc_id", "b").withColumnRenamed("sig", "sig_b"), "b")
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("h"))
    val simPos = simExact.filter(col("h") <= maxH).localCheckpoint(true)
    val nSimPos = simPos.count()
    val tSim = System.nanoTime()
    val simPairs = DedupOps.simhashNearDuplicates(docs, maxH).localCheckpoint(true)
    val nSimPairs = simPairs.count()
    val simSec = (System.nanoTime() - tSim) / 1e9
    val simHit = simPos.join(simPairs.select("a", "b"), Seq("a", "b"), "left_semi").count()
    val simRecall = if (nSimPos == 0) 1.0 else simHit.toDouble / nSimPos

    // ---- winnowing at 10×: exact shared-distinct-fingerprint predicate on
    // the planted pairs vs the operator's realized pair set. k = 16 (not the
    // sf0.1 default 8): 8-char windows over a 5k-word vocabulary repeat
    // across most of a 50k-doc corpus — hot-fingerprint buckets, another
    // instance of the same grow-the-dial-with-the-corpus rule
    val winDials = Dials.winnowing(nBase + nDup) // (16, 8, 0.35) at 50k
    val winK = winDials.k; val winW = winDials.w
    val fps = docs.select(col("doc_id"),
      array_distinct(DedupOps.winnowingSketch(col("text"), winK, winW)).as("fp"))
      .localCheckpoint(true)
    val winExact = planted
      .join(fps.withColumnRenamed("doc_id", "a").withColumnRenamed("fp", "fp_a"), "a")
      .join(fps.withColumnRenamed("doc_id", "b").withColumnRenamed("fp", "fp_b"), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("fp_a"), col("fp_b"))).as("shared"),
        least(size(col("fp_a")), size(col("fp_b"))).as("min_fp"))
      .filter(col("shared") >= greatest(lit(3), ceil(col("min_fp") * winDials.minSharedFrac)))
      .localCheckpoint(true)
    val nWinPos = winExact.count()
    val tWin = System.nanoTime()
    val winPairs = DedupOps.winnowingNearDuplicates(docs, minShared = 3, k = winK, w = winW,
      minSharedFrac = Some(winDials.minSharedFrac)).localCheckpoint(true)
    val nWinPairs = winPairs.count()
    val winSec = (System.nanoTime() - tWin) / 1e9
    val winHit = winExact.join(winPairs.select("a", "b"), Seq("a", "b"), "left_semi").count()
    val winRecall = if (nWinPos == 0) 1.0 else winHit.toDouble / nWinPos

    // ---- embedding LSH ----------------------------------------------------
    val nVec = nBase
    val nVecDup = nVec / 10
    val emb = syntheticEmbeddings(spark, nVec, nVecDup).localCheckpoint(true)
    val vPlanted = spark.range(nVecDup)
      .select(col("id").as("a"), (col("id") + DupOffset).as("b"))
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val vExact = vPlanted
      .join(vecs.withColumnRenamed("vec_id", "a").withColumnRenamed("embedding", "va"), "a")
      .join(vecs.withColumnRenamed("vec_id", "b").withColumnRenamed("embedding", "vb"), "b")
      .select(col("a"), col("b"), DedupOps.cosine(col("va"), col("vb")).as("cos"))
      .localCheckpoint(true)
    val vPos = vExact.filter(col("cos") >= 0.95).localCheckpoint(true)
    val nVPos = vPos.count()
    // derived dial (log2+4 slack = 20 at 50k) measured against the
    // base-log2 rung below it, quantifying what the slack buys
    val embResults = Seq(Dials.embeddingPlanes(nVec) - 4, Dials.embeddingPlanes(nVec)).map { planes =>
      val t0 = System.nanoTime()
      val cand = DedupOps.embeddingCandidates(emb, planes).localCheckpoint(true)
      val nCand = cand.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val hit = vPos.join(cand, Seq("a", "b"), "left_semi").count()
      val recall = if (nVPos == 0) 1.0 else hit.toDouble / nVPos
      f""""planes$planes":{"candidates":$nCand,"recall_at_0.95":$recall%.4f,"sec":$sec%.1f}"""
    }

    // ---- composed IVF→PQ→exact ANN tier at 50k vectors: recall@10 vs the
    // (nprobe, shortlist) dials against exact brute-force ground truth on
    // 100 queries. Isotropic vectors are the worst case for ANY coarse
    // quantizer (no cluster structure to prune by) — these numbers are the
    // dial's FLOOR; clustered-corpus recall is pinned ≥0.8 in PipelineSpec.
    import graft.operators.SimilarityOps
    val tierQueries = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      .localCheckpoint(true)
    val truth = SimilarityOps.bruteForceTopK(emb, tierQueries, k = 10)
      .select("query_id", "vec_id").localCheckpoint(true)
    val nTruth = truth.count()
    val ivfIndex = SimilarityOps.trainIvf(emb, nLists = 64)
    val pq4x8 = SimilarityOps.trainPq(emb)
    // the CODEBOOK dial: on structure-less data the ADC shortlist, not the
    // probe count, bounds recall — m8×k16 (8 bytes/vector vs 4) measures how
    // much finer quantization buys back
    val pq8x16 = SimilarityOps.trainPq(emb, m = 8, k = 16)
    val tierResults = Seq(
      ("pq4x8", pq4x8, 4, 200), ("pq4x8", pq4x8, 8, 200),
      ("pq4x8", pq4x8, 16, 200), ("pq4x8", pq4x8, 8, 50),
      ("pq8x16", pq8x16, 8, 200), ("pq8x16", pq8x16, 8, 50)).map {
      case (tag, books, nprobe, shortlist) =>
        val t0 = System.nanoTime()
        val got = SimilarityOps.annTopKIvfPqExact(emb, tierQueries, ivfIndex, books,
          k = 10, nprobe = nprobe, shortlist = shortlist)
          .select("query_id", "vec_id").localCheckpoint(true)
        got.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val hit = truth.join(got, Seq("query_id", "vec_id"), "left_semi").count()
        f""""${tag}_np${nprobe}_sl$shortlist":{"recall_at_10":${hit.toDouble / nTruth}%.4f,""" +
          f""""scan_frac":${nprobe / 64.0}%.3f,"sec":$sec%.1f}"""
    }

    val (droppedBuckets, droppedMembers) = DedupOps.bucketGuardCounts(spark)
    val json =
      s"""{"probe":"sketch-dials","n_base_docs":$nBase,"n_planted":$nDup,""" +
        s""""threshold":$threshold,"n_exact_positives":$nPos,""" +
        s""""minhash":{${minhashResults.mkString(",")}},""" +
        s""""minhash_r2_by_mutation_rate":{${byRate.mkString(",")}},""" +
        f""""simhash":{"maxHamming":$maxH,"pairs":$nSimPairs,"n_exact_positives":$nSimPos,"planted_recall":$simRecall%.4f,"sec":$simSec%.1f},""" +
        f""""winnowing":{"pairs":$nWinPairs,"n_exact_positives":$nWinPos,"planted_recall":$winRecall%.4f,"sec":$winSec%.1f},""" +
        s""""n_vec_positives":$nVPos,"embedding":{${embResults.mkString(",")}},""" +
        s""""ann_tier":{${tierResults.mkString(",")}},""" +
        s""""dropped_buckets":$droppedBuckets,"dropped_members":$droppedMembers}"""
    println(json)
    spark.stop()
  }
}
