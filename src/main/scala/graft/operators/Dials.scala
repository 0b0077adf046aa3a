package graft.operators

/**
 * Executable dial derivation for the sketch/LSH families — the scaling
 * rules IMPLEMENTATION.md states in prose, as code the probes and a
 * production deployment call instead of hand-set constants. Each formula is
 * CALIBRATED against the measured 10×-scale records in BASELINE.md
 * ("Round-4 sketch-dial scale validation", 50k-doc SketchDialsProbe runs):
 * the unit tests pin the 50k-doc outputs to exactly the validated values,
 * so a formula drift that would silently change a production dial fails a
 * test instead.
 *
 * The shared shape of every rule: sketch bucket width must grow with
 * log₂(corpus) to hold expected bucket size constant — a dial tuned at 5k
 * docs reused verbatim at 50k is a pair explosion (measured: executor OOM
 * on the simhash maxH=6 / 9-bit-block configuration, BASELINE.md round-4
 * addendum), and at 10^12 docs it is the whole shuffle bill.
 */
object Dials {

  /** Minhash-LSH banding: `k` hashes split into `bands` bands of `r = k /
    * bands` rows. */
  final case class MinhashDials(k: Int, bands: Int) {
    def r: Int = k / bands
  }

  /** Theoretical LSH candidate recall of a pair at Jaccard `j` under
    * (r, bands) banding: 1 − (1 − j^r)^bands. The 10× probe measured
    * realized recall ABOVE this curve at every dial (0.9983 vs 0.995 at
    * r=2, J≥0.7), so a floor on the theory bound is conservative. */
  def minhashTheoryRecall(j: Double, r: Int, bands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, r), bands)

  /** Recall floor the derived banding must satisfy AT the target Jaccard.
    * 0.94 reproduces the full validated ladder: r=1 for J≥0.5 (the oracle
    * configuration — r=2's theory recall at J=0.5 is 0.900), r=2 for J≥0.7
    * (measured 0.9983 at 10×), r=4 only from J≥0.85 (theory 0.948; the
    * BASELINE verdict: "use only when J-threshold ≥ 0.85"). */
  val MinhashRecallFloor = 0.94

  /**
   * Derive minhash banding from the target Jaccard threshold: the LARGEST
   * r (fewest candidates — r is the candidate-economy lever: each step up
   * the validated ladder cut candidates ~1.2–1.7× at 10×) whose theory
   * recall at `targetJaccard` still clears [[MinhashRecallFloor]].
   * k stays 16: signatures are 16 longs regardless of banding, and every
   * measured record is on the k=16 ladder.
   */
  def minhash(targetJaccard: Double, k: Int = 16): MinhashDials = {
    require(targetJaccard > 0.0 && targetJaccard <= 1.0, s"bad threshold $targetJaccard")
    val r = Seq(8, 4, 2, 1).find { r =>
      k % r == 0 && minhashTheoryRecall(targetJaccard, r, k / r) >= MinhashRecallFloor
    }.getOrElse(1)
    MinhashDials(k, k / r)
  }

  /**
   * Largest simhash `maxHamming` the corpus size supports: the pigeonhole
   * split is `maxHamming + 1` blocks of a 64-bit signature, and block width
   * `⌊64/(maxHamming+1)⌋` must stay ≥ log₂(corpus) − 1 (expected block
   * bucket ≤ 2 docs). Reproduces every recorded point: 50k docs → 3
   * (16-bit blocks, measured recall 1.0, zero guard drops), 5k → 4 (the
   * sf0.1 gate dial), 500 → 7; and REFUSES the measured failure (maxH=6 at
   * 50k = 9-bit blocks = 512 values over 50k docs → pair explosion/OOM).
   * Callers pass their desired radius through [[simhashMaxHamming]]'s
   * `requested` and get `min(requested, cap)` — recall within the returned
   * radius stays structural (pigeonhole), only the radius itself shrinks.
   */
  def simhashCap(corpusSize: Long): Int = {
    require(corpusSize >= 1, s"bad corpus size $corpusSize")
    val needBits = math.max(1,
      math.ceil(math.log(math.max(corpusSize, 2).toDouble) / math.log(2.0)).toInt - 1)
    val blocks = 64 / needBits // floor: blocks such that width >= needBits
    math.max(0, math.min(63, blocks - 1))
  }

  def simhashMaxHamming(corpusSize: Long, requested: Int = 3): Int =
    math.min(requested, simhashCap(corpusSize))

  /** Winnowing dials: character-k-gram width, window, and the RELATIVE
    * shared-fingerprint threshold (length-invariant by construction). */
  final case class WinnowDials(k: Int, w: Int, minSharedFrac: Double)

  /**
   * Gram width grows with log₂(corpus) — k=8 over a 5k-word vocabulary
   * repeats across most of a 50k-doc corpus (hot-fingerprint buckets, the
   * round-4 measured explosion); k=16/w=8 at 50k keeps structural recall
   * 1.0 with 4,969 = exact-predicate pairs. Window = k/2 keeps the
   * winnowing guarantee's detectable-match length 2k−w−1 proportional to k;
   * frac 0.35 is the validated relative threshold.
   */
  def winnowing(corpusSize: Long): WinnowDials = {
    val k = math.max(8,
      math.ceil(math.log(math.max(corpusSize, 2).toDouble) / math.log(2.0)).toInt)
    WinnowDials(k, math.max(4, k / 2), 0.35)
  }

  /**
   * Embedding-LSH hyperplane count: `⌈log₂ corpus⌉ + 4`. Base log₂ holds
   * expected bucket size ~1 (buckets = n/2^planes); the +4 slack is the
   * MEASURED 10× trade (BASELINE.md: planes 16→20 at 50k = 7.4× fewer
   * candidate pairs for −6% raw recall, recovered by the exact verify
   * tier) — at corpus scale the candidate count is the shuffle bill, so
   * the dial sits on the cheap side and lets the verify stage pay recall.
   */
  def embeddingPlanes(corpusSize: Long): Int =
    math.min(62,
      math.ceil(math.log(math.max(corpusSize, 2).toDouble) / math.log(2.0)).toInt + 4)

  /** Next power of two of `want`, clamped to [floorVal, 1 << capPow] — the
    * shared bucket/list sizing idiom (ONE definition: the ceil-log2 form
    * has a known float edge at exact powers of two; a fix must not fork). */
  private def pow2Clamp(want: Double, floorVal: Int, capPow: Int): Int = {
    val pow = math.ceil(math.log(math.max(1.0, want)) / math.log(2.0)).toInt
    math.min(1 << capPow, math.max(floorVal, 1 << math.min(capPow, math.max(0, pow))))
  }

  /**
   * Stored-postings bucket count (`RetrievalOps.writePostingsIndex`): the
   * next power of two of corpusDocs/4000, floored at 16 (below that the
   * per-bucket file sets are smaller than one parquet row group — pruning
   * saves nothing) and capped at 4096 (partition-DIRECTORY count is a
   * listing cost every query pays; past the cap, buckets grow with the
   * corpus instead, and the splits inside a probed bucket parallelize
   * across executors — probe cost per term stays ~corpus/4096 reads, which
   * is the scan's floor anyway once a bucket exceeds one split).
   */
  def retrievalBuckets(corpusDocs: Long): Int = {
    require(corpusDocs >= 1, s"bad corpus size $corpusDocs")
    pow2Clamp(corpusDocs.toDouble / 4000.0, floorVal = 16, capPow = 12)
  }
}
