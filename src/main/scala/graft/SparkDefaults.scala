package graft

import org.apache.spark.sql.SparkSession

/**
 * Session conf the engine's own entry points (Bench/Verify/Demo/probes/tests)
 * apply uniformly. Library users building their own sessions should apply
 * [[ExcludedRules]] too — documented in README.
 */
object SparkDefaults {

  /** The common local session: `local[cores]`, one shuffle partition per
    * core, AQE on, UTC, UI off, [[ExcludedRules]]. Call sites chain only
    * what they need on top (a local dir, a file open cost) before
    * `getOrCreate()`. */
  def builder(app: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(ExcludedRulesKey, ExcludedRules)

  val ExcludedRulesKey = "spark.sql.optimizer.excludedRules"

  /**
   * `InferFiltersFromGenerate` is EXCLUDED: for every `explode(e)` it infers
   * a `size(e) > 0 AND isnotnull(e)` filter and predicate pushdown then
   * substitutes `e`'s aliases all the way down — so the filter re-evaluates
   * the ENTIRE array expression up to twice per row, with any expensive
   * subexpression re-inlined INSIDE HOF lambdas (re-evaluated per element,
   * the documented CSE trap in optimizer-made form). Measured on the shingle
   * gram plans: 3.9 s → 0.3 s for a 2000-doc explode (the inferred filter
   * re-split every text per lambda element, twice). The rule's benefit —
   * pruning empty/null arrays before the generate — is nil here: every
   * sketch/shingle array the engine explodes is non-null and non-empty by
   * construction.
   */
  val ExcludedRules = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
}
