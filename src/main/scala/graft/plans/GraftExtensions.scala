package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.curie.Converter
import graft.fixtures.MiniOntology
import graft.functions._

/**
 * SparkSessionExtensions hook: registers the engine's scalar family in the
 * SQL function registry, so every operator is reachable from plain SQL —
 *
 *   spark.sql("SELECT compress_iri(iri_col) FROM t")
 *
 * Register via `.withExtensions(new GraftExtensions(converter))` or
 * `spark.sql.extensions=graft.plans.GraftExtensions` (no-arg form uses the
 * fixture converter; production swaps in a Bioregistry-scale prefix map via
 * [[GraftExtensions.converterOverride]] before session build).
 *
 * Also injects [[DetectTriplesStrategy]] so the custom mention-detection
 * operator plans in extension-built sessions without the
 * `experimental.extraStrategies` call (the engine-API path,
 * [[DetectTriples.ensureRegistered]], keeps working for plain sessions).
 */
class GraftExtensions(private val conv: Converter) extends (SparkSessionExtensions => Unit) {

  /** No-arg form for `spark.sql.extensions` class-name loading: resolves the
    * process-wide override (set BEFORE session build) or the fixture
    * converter. The converter is captured PER INSTANCE at construction —
    * building a second extensions object (or writing the override later)
    * cannot silently swap the converter under an already-built session's
    * registered functions. */
  def this() = this(GraftExtensions.converterOverride.getOrElse(MiniOntology.converter))

  override def apply(ext: SparkSessionExtensions): Unit = {
    def register(name: String, build: Expression => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        (children: Seq[Expression]) => {
          if (children.size != 1) throw new IllegalArgumentException(
            s"$name expects exactly 1 argument, got ${children.size}")
          build(children.head)
        }))

    register("compress_iri", CompressIri(_, conv))
    register("expand_curie", ExpandCurie(_, conv))
    register("normalize_prefix", NormalizePrefix(_, conv))
    register("normalize_predicate", NormalizePredicate(_, conv))
    register("standardize_id", StandardizeId(_, conv))
    register("simhash64", SimHash64(_))
    register("simhash64_from_hashes", SimHash64FromHashes(_))
    // winnowing_sketch(text[, k, w]) — k/w must be foldable int literals
    ext.injectFunction((
      FunctionIdentifier("winnowing_sketch"),
      new ExpressionInfo("graft.functions", "winnowing_sketch"),
      (children: Seq[Expression]) => {
        if (children.isEmpty || children.size > 3) throw new IllegalArgumentException(
          s"winnowing_sketch expects (text[, k, w]), got ${children.size} arguments")
        def intArg(i: Int, dflt: Int): Int =
          if (children.size <= i) dflt
          else children(i) match {
            case e if e.foldable => e.eval() match {
              case n: Number => n.intValue
              case other => throw new IllegalArgumentException(
                s"winnowing_sketch argument ${i + 1} must be an int literal, got $other")
            }
            case _ => throw new IllegalArgumentException(
              s"winnowing_sketch argument ${i + 1} must be a foldable int literal")
          }
        WinnowingSketch(children.head, intArg(1, 8), intArg(2, 4))
      }))
    ext.injectPlannerStrategy(_ => DetectTriplesStrategy)
  }
}

object GraftExtensions {
  @volatile var converterOverride: Option[Converter] = None
}
