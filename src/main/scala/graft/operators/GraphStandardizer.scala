package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.curie.Converter
import graft.functions.CurieFunctions._

/**
 * Graph standardization (SURVEY §2: G1 flatten, F2 IRI→CURIE, F4 predicate
 * normalization, P6 node gatekeeping, P7 edge filter, A2 edge dedup).
 *
 * Reference semantics: obographs `squeeze(standardize=True, prefix=...)`
 * invoked at robot.py:60-69 / ner.py:130, with the lenient-skip rules of
 * ner.py:71-73 (unparseable node → skipped, never a failure) and ner.py:86-90
 * (foreign-namespace nodes dropped).
 *
 * Everything here is pure Catalyst — explode/select/filter with native
 * expressions — so column pruning and whole-stage codegen apply end to end.
 */
object GraphStandardizer {

  /**
   * graphs DF (OboGraphReader.readGraphs output) → flat standardized node
   * table: (prefix, id, curie, label, deprecated, synonyms, xrefs).
   *
   * Lenient skips (each a filter, not an exception):
   *  - node id fails CURIE compression → dropped (ner.py:72-73);
   *  - `prefix` given and node's prefix differs → dropped (ner.py:86-90).
   */
  def standardizeNodes(graphs: DataFrame, converter: Converter, prefix: Option[String] = None): DataFrame = {
    val exploded = graphs
      .select(explode(col("nodes")).as("node"))
      .select(
        compress_iri(col("node.id"), converter).as("curie"),
        col("node.lbl").as("label"),
        col("node.type").as("node_type"),
        coalesce(col("node.meta.deprecated"), lit(false)).as("deprecated"),
        // P5 corrections folded in: synonym text = coalesce(val, lbl);
        // synonymType carried through into the standardized struct
        transform(coalesce(col("node.meta.synonyms"), array()), s => struct(
          coalesce(s.getField("val"), s.getField("lbl")).as("text"),
          normalize_predicate(coalesce(s.getField("pred"), lit("hasRelatedSynonym")), converter).as("predicate"),
          s.getField("synonymType").as("synonymType"),
          coalesce(s.getField("xrefs"), array().cast("array<string>")).as("xrefs"))).as("synonyms"),
        // P5: xref value spelled `val` or `value` in the wild
        transform(coalesce(col("node.meta.xrefs"), array()),
          x => standardize_id(graft.sources.OboGraphReader.propertyValue(x), converter))
          .as("xrefs"))
      .filter(col("curie").isNotNull)
      .withColumn("prefix", substring_index(col("curie"), ":", 1))
      .withColumn("id", expr("substring(curie, length(substring_index(curie, ':', 1)) + 2)"))

    prefix.fold(exploded)(p => exploded.filter(col("prefix") === lit(p)))
  }

  /**
   * graphs DF → standardized, DEDUPLICATED edge table (subj, pred, obj) as
   * CURIE strings: [[standardizedEdgeRows]], distinct. Normalization can
   * collapse distinct raw edges (`is_a` vs the subClassOf IRI) →
   * dropDuplicates is part of the semantics (A2), not an optimization.
   */
  def standardizeEdges(graphs: DataFrame, converter: Converter): DataFrame =
    standardizedEdgeRows(graphs, converter).dropDuplicates("subj", "pred", "obj")

  /**
   * graphs DF → standardized edge rows (subj, pred, obj), NOT deduplicated:
   * for a caller that dedups later, after its own rewrite (KgPipeline's
   * ontology triples dedup once, inside their one partition). Rows whose
   * endpoints fail standardization are dropped leniently (P7 requires
   * non-null subj/pred/obj — ner.py:133-138).
   */
  def standardizedEdgeRows(graphs: DataFrame, converter: Converter): DataFrame =
    graphs
      .select(explode(col("edges")).as("edge"))
      .select(
        standardize_id(col("edge.sub"), converter).as("subj"),
        normalize_predicate(col("edge.pred"), converter).as("pred"),
        standardize_id(col("edge.obj"), converter).as("obj"))
      .filter(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull)

  /**
   * equivalentNodesSets → undirected merge edges (OBO Graph JSON's second
   * entity-equivalence signal; [dep: obographs] in SURVEY §1.1). Each set
   * {a, b, c} contributes a chain a-b, a-c — enough for connected
   * components to collapse the set.
   */
  def equivalentNodeEdges(graphs: DataFrame, converter: Converter): DataFrame = {
    graphs
      .select(explode(coalesce(col("equivalentNodesSets"),
        array().cast("array<struct<nodeIds:array<string>>>"))).as("ens"))
      .select(transform(col("ens.nodeIds"), id => standardize_id(id, converter)).as("ids"))
      .select(filter(col("ids"), _.isNotNull).as("ids"))
      .filter(size(col("ids")) >= 2)
      // star topology: one edge per non-first member — LINEAR in set size, so
      // no cap is needed (a cap here would silently leave members unmerged)
      .select(element_at(col("ids"), 1).as("a"),
        explode(slice(col("ids"), lit(2), size(col("ids")) - 1)).as("b"))
  }

  /**
   * `strict` mode (ner.py:32 `from_obograph_raw(..., strict=strict)` parity):
   * instead of the lenient null-and-skip, surface every raw value that fails
   * standardization as a typed errors Dataset — (kind, raw) rows with kind ∈
   * {node_id, edge_subj, edge_pred, edge_obj} — and a driver assertion that
   * fails the run when any exist. Foreign-prefix node drops are NOT errors
   * (they are gatekeeping, ner.py:86-90), only unparseable values are;
   * for predicates "unparseable" means an IRI the converter cannot compress
   * (shorthand like `is_a` passes through leniently in both modes).
   */
  def standardizationErrors(graphs: DataFrame, converter: Converter): DataFrame = {
    val nodeErrs = graphs
      .select(explode(col("nodes")).as("node"))
      .select(col("node.id").as("raw"), compress_iri(col("node.id"), converter).as("std"))
      .filter(col("std").isNull && col("raw").isNotNull)
      .select(lit("node_id").as("kind"), col("raw"))
    val edges = graphs.select(explode(col("edges")).as("edge"))
    def edgeErr(kind: String, raw: Column, std: Column): DataFrame = edges
      .select(raw.as("raw"), std.as("std"))
      .filter(col("std").isNull && col("raw").isNotNull)
      .select(lit(kind).as("kind"), col("raw"))
    // predicates never standardize to null (normalize_predicate passes
    // unknown values through), so their strict-mode failure condition is an
    // IRI the converter could NOT compress — neither the predicate table nor
    // prefix compression touched it
    val predErrs = edges
      .select(col("edge.pred").as("raw"),
        normalize_predicate(col("edge.pred"), converter).as("std"))
      .filter(col("raw").isNotNull &&
        (col("raw").startsWith("http://") || col("raw").startsWith("https://")) &&
        col("std") === col("raw"))
      .select(lit("edge_pred").as("kind"), col("raw"))
    nodeErrs
      .unionByName(edgeErr("edge_subj", col("edge.sub"), standardize_id(col("edge.sub"), converter)))
      .unionByName(predErrs)
      .unionByName(edgeErr("edge_obj", col("edge.obj"), standardize_id(col("edge.obj"), converter)))
      .distinct()
  }

  /** Driver assertion for strict mode: throws with a sample of offending raw
    * values when the document is not fully standardizable. */
  def assertStandardizable(graphs: DataFrame, converter: Converter, sample: Int = 10): Unit = {
    val errs = standardizationErrors(graphs, converter).limit(sample + 1).collect()
    if (errs.nonEmpty) {
      val shown = errs.take(sample).map(r => s"${r.getString(0)}=${r.getString(1)}").mkString(", ")
      val more = if (errs.length > sample) ", ..." else ""
      throw new IllegalStateException(
        s"strict standardization failed (ner.py:32 strict=True semantics): $shown$more")
    }
  }

  /** P7: the subClassOf DAG (T1) — child → parent edges. */
  def subClassOfEdges(stdEdges: DataFrame): DataFrame =
    stdEdges.filter(col("pred") === graft.model.Vocab.SubClassOf).select("subj", "obj")

  /**
   * T3 roots: nodes that never appear as the subject of a hierarchy edge.
   * left_anti join; the edge side is ontology-sized → broadcast.
   */
  def roots(stdNodes: DataFrame, stdEdges: DataFrame): DataFrame = {
    val subs = subClassOfEdges(stdEdges).select(col("subj").as("curie"))
    stdNodes.join(broadcast(subs), Seq("curie"), "left_anti")
  }
}
