package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.curie.Converter
import graft.fixtures.{MiniOntology, Transcripts}
import graft.functions.CurieFunctions._
import graft.ground.{Grounder, MentionDetector}
import graft.model.Turn
import graft.operators._
import graft.pipeline.KgPipeline
import graft.sources.OboGraphReader

/**
 * Driver contract (see SURVEY.md §7 + builder prompt): one `queries` entry
 * per implemented operator family, with a DuckDB-equivalent `oracleSql` for
 * every SQL-expressible one. Column names/types are aligned on BOTH sides
 * (the driver hashes values under name-sorted columns).
 */
object SparkEntry {

  private def conv: Converter = MiniOntology.converter
  private def ontologyPath: String = MiniOntology.writeTo("target/fixtures")

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Transcripts CTE shared by every transcript-shaped oracle. */
  private val T = Transcripts.fromDocumentsSql

  /** Fixed BPE merge table for q_bpe_apply — inlined as literals on BOTH the
    * engine and oracle sides (the driver-computed-constant convention); the
    * rank-2 merge consumes rank-1's output symbol, exercising chaining. */
  private val BpeApplyMerges = Seq(("t", "h"), ("th", "e"), ("i", "n"))

  /** Fixed 8-centroid quantizer for q_dedup_semantic — DRIVER-CHOSEN (not
    * trained, so the oracle inlines the identical values; a trained index
    * would differ per scale factor; Double.toString round-trips make the
    * inlined literals bit-exact, the `planes` precedent). Rows are
    * UNIT-NORMALIZED: the fixture embeddings are ~unit vectors, so L2
    * nearest-centroid is dominated by centroid NORMS unless the centroids
    * sit on the same sphere (two earlier cuts of this fixture left a
    * cluster unreachable — first `% 7` made rows 0/7 coincide, then the
    * distinct-but-unnormalized rows put centroid norms at 4.9–6.0 vs
    * unit embeddings, starving cluster 7 and piling 60% on one list). The
    * population of ALL 8 clusters on the driver fixtures is test-pinned. */
  private[graft] val SemanticCentroids: Array[Array[Double]] =
    Array.tabulate(8, 64)((j, i) => ((i * (j + 2) + j) % 9 - 4) / 4.0).map { row =>
      val n = math.sqrt(row.map(x => x * x).sum)
      row.map(_ / n)
    }
  private val SemanticIndex = SimilarityOps.IvfIndex(SemanticCentroids)

  // ---------------------------------------------------------------------
  // flagship
  // ---------------------------------------------------------------------

  /** Flagship: full KG pipeline on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val transcripts = Transcripts.fromDocuments(spark, "/root/testdata/sf0.001")
    KgPipeline.run(spark, transcripts, ontologyPath).triples
  }

  // ---------------------------------------------------------------------
  // queries
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- F2: IRI → CURIE via native Catalyst expression, longest-prefix wins
    "q_compress_iri" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        compress_iri(
          concat(lit("http://example.org/e/"),
            when(col("doc_id") % 2 === 0, lit("d/")).otherwise(lit("")),
            col("doc_id")), conv).as("curie"))
    }),

    // --- F3: CURIE → IRI
    "q_expand_curie" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        expand_curie(concat(lit("PATO:"), col("doc_id")), conv).as("iri"))
    }),

    // --- F1: prefix-spelling canonicalization
    "q_normalize_prefix" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        normalize_prefix(
          element_at(array(lit("PATO"), lit("pato"), lit("PaTo"), lit("chebi"), lit("xyz")),
            (col("doc_id") % 5).cast("int") + 1), conv).as("canonical"))
    }),

    // --- F4: predicate normalization
    "q_normalize_predicate" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        normalize_predicate(
          element_at(array(
            lit("is_a"),
            lit("http://www.w3.org/2000/01/rdf-schema#subClassOf"),
            lit("http://purl.obolibrary.org/obo/BFO_0000050"),
            lit("hasExactSynonym"),
            lit("custom_pred")),
            (col("doc_id") % 5).cast("int") + 1), conv).as("pred"))
    }),

    // --- F2+F4+A2: edge standardization + dedup over a synthesized raw edge
    // table. r7 optimization (guide §1.2/§2.3 — don't compute what you throw
    // away; aggregate before expensive per-row work): subj/pred/obj are
    // deterministic functions of the NARROW key triple (l_partkey%100,
    // l_linenumber%2, l_suppkey%50), so dedup the ≤10k distinct int keys
    // FIRST (map-side partial agg collapses the 6M-row scan before any
    // exchange) and run the standardization expressions once per distinct
    // key instead of once per corpus row. Output set is identical:
    // key-dedup → f → value-dedup ≡ f → value-dedup for deterministic f.
    "q_standardize_edges" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.select(
          (col("l_partkey") % 100).as("ka"),
          (col("l_linenumber") % 2 === 0).as("kb"),
          (col("l_suppkey") % 50).as("kc"))
        .dropDuplicates("ka", "kb", "kc")
        // lazy-checkpoint BARRIER (no extra job): without it
        // RemoveRedundantAggregates erases the key-level dedup and filter
        // pushdown re-inlines standardize_id into a scan-level Filter —
        // the expressions run 2x per CORPUS row again (plan-verified)
        .localCheckpoint(false)
        .select(
          standardize_id(concat(lit("http://purl.obolibrary.org/obo/PATO_"),
            col("ka")), conv).as("subj"),
          normalize_predicate(
            when(col("kb"), lit("is_a"))
              .otherwise(lit("http://www.w3.org/2000/01/rdf-schema#subClassOf")), conv).as("pred"),
          standardize_id(concat(lit("http://purl.obolibrary.org/obo/PATO_"),
            col("kc")), conv).as("obj"))
        .filter(col("subj").isNotNull && col("pred").isNotNull && col("obj").isNotNull)
        .dropDuplicates("subj", "pred", "obj")
    }),

    // --- T2: iterative descendant closure (binary-tree DAG from `part`)
    "q_closure" -> ((s, dir) => {
      val edges = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_partkey").between(2, 200))
        .select(concat(lit("N"), col("p_partkey")).as("subj"),
          concat(lit("N"), floor(col("p_partkey") / 2).cast("long")).as("obj"))
      val seeds = s.createDataFrame(Seq(Tuple1("N1"))).toDF("curie")
      Closure.descendants(edges, seeds)
    }),

    // --- T3: roots = nodes never a child in the DAG
    "q_roots" -> ((s, dir) => {
      val part = s.read.parquet(s"$dir/part.parquet")
        .filter(col("p_partkey").between(2, 200))
      val children = part.select(concat(lit("N"), col("p_partkey")).as("curie"))
      val parents = part.select(concat(lit("N"), floor(col("p_partkey") / 2).cast("long")).as("curie"))
      parents.unionByName(children).distinct()
        .join(children, Seq("curie"), "left_anti")
    }),

    // --- J3: connected components (star graphs from `customer`)
    "q_connected_components" -> ((s, dir) => {
      val edges = s.read.parquet(s"$dir/customer.parquet")
        .select(concat(lit("U"), col("c_custkey")).as("a"),
          concat(lit("G"), col("c_custkey") % 20).as("b"))
      Closure.connectedComponents(edges)
    }),

    // --- J2 relational formulation: token-grain lexicon join over documents
    "q_mention_tokens" -> ((s, dir) => {
      val lexicon = ontologyLexicon(s).filter(!col("text").contains(" "))
        .select(col("text").as("term")).distinct()
      docs(s, dir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
        .join(broadcast(lexicon), "term")
        .groupBy("doc_id", "term").agg(count(lit(1)).as("n"))
    }),

    // --- G4/F5: trie-based mention detection, SPAN-LEVEL oracle: every
    // word-boundary match span on normalized text is recomputed positionally
    // in DuckDB (top-1/curie resolution is oracle-checked via
    // q_pipeline_triples; the window formulation via q_window_topk)
    "q_mention_detect" -> ((s, dir) => {
      import s.implicits._
      val turns = Transcripts.fromDocuments(s, dir).as[Turn]
      val grounder = s.sparkContext.broadcast(Grounder.build(ontologyLexiconFull(s)))
      MentionDetector.detect(turns, grounder).toDF()
        .select(col("conv_id"), col("turn_idx"), col("start"), col("end"), col("surface"))
        .distinct()
    }),

    // --- north_star: FULL pipeline → deduplicated (subj, pred, obj) triples
    "q_pipeline_triples" -> ((s, dir) => {
      val transcripts = Transcripts.fromDocuments(s, dir)
      KgPipeline.run(s, transcripts, ontologyPath).triples
    }),

    // --- input-invariant: per-turn text equality under stable turn ordering
    "q_turns_sorted" -> ((s, dir) => {
      Transcripts.fromDocuments(s, dir)
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"))
    }),

    // --- dedup: exact (hash-groupBy)
    "q_dedup_exact" -> ((s, dir) => {
      DedupOps.exactDuplicates(docs(s, dir)).select(col("keep_id"), col("n_dups"))
    }),

    // --- dedup: minhash LSH near-dup, oracle-checked. r=1 bands make the
    // candidate recall structural (P[miss | J>=0.5] = 0.5^16 ≈ 1.5e-5, and
    // the corpus's qualifying pairs all sit at J>=0.8 where it is ~1e-11),
    // so the realized output equals the exact shingle-Jaccard predicate,
    // which DuckDB recomputes pairwise over the bounded doc set.
    "q_dedup_minhash" -> ((s, dir) => {
      DedupOps.minhashNearDuplicates(docs(s, dir).filter(col("doc_id") < 500),
        threshold = 0.5, k = 16, bands = 16)
    }),

    // --- dedup: simhash near-dup, oracle-checked: the PORTABLE md5-derived
    // token hash lets DuckDB recompute every 60-bit signature bit-exactly,
    // and maxHamming-derived blocks make candidate recall structural — so
    // the realized output equals the exact pairwise-Hamming predicate.
    "q_dedup_simhash" -> ((s, dir) => {
      DedupOps.simhashNearDuplicates(docs(s, dir).filter(col("doc_id") < 500),
        maxHamming = 4, portableHash = true)
    }),

    // --- decontamination: eval items = first 12 tokens of every 41st doc
    // (simulated benchmark leakage); flag docs covering >= 80% of an item's
    // 3-gram set. The source doc always covers its own item at frac 1.0.
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 2000).select("doc_id", "text")
      val bench = d.filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"),
          concat_ws(" ", slice(split(DedupOps.normText(col("text")), " "), 1, 12)).as("text"))
      DedupOps.contamination(d, bench, n = 3, minFrac = 0.8)
    }),

    // --- dedup: exact n-gram Jaccard on a bounded pair set (oracle-checked).
    // r7: the distinct-token arrays are staged per DOC before the
    // inequality self-join (the shingleJaccardFromArrays rule) — the
    // text-to-text form re-split/deduped both texts per PAIR row (~n²/2
    // tokenizations instead of n), scored by the shared array Jaccard.
    "q_ngram_jaccard" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          array_distinct(split(DedupOps.normText(col("text")), " ")).as("ta"))
      d.alias("x").join(d.alias("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          DedupOps.shingleJaccardFromArrays(col("x.ta"), col("y.ta")).as("jac"))
        .filter(col("jac") >= 0.5)
    }),

    // --- dedup end-state: near-dup pairs → connected-component groups →
    // per-doc survivor decision (oracle: recursive-CTE reachability in DuckDB)
    "q_dedup_groups" -> ((s, dir) => {
      DedupOps.nearDupGroups(
        DedupOps.minhashNearDuplicates(docs(s, dir).filter(col("doc_id") < 500),
          threshold = 0.5, k = 16, bands = 16))
    }),

    // --- similarity: brute-force cosine top-k (exact baseline)
    "q_ann_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      SimilarityOps.bruteForceTopK(emb, queries, k = 5)
        .select("query_id", "vec_id", "cos", "rank")
    }),

    // --- similarity: LSH-bucketed ANN (scale path; rows-only, recall-checked in tests)
    "q_ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      SimilarityOps.annTopK(emb, queries, k = 5)
        .select("query_id", "vec_id", "cos", "rank")
    }),

    // --- similarity: IVF (k-means coarse quantizer). Probing ALL lists makes
    // the result provably equal to exact brute-force top-k REGARDLESS of the
    // trained centroids — an exact oracle for the full IVF machinery
    // (assignment, probe expansion, in-list re-rank); partial-probe recall is
    // covered by the clustered-data test in PipelineSpec.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val index = SimilarityOps.trainIvf(emb, nLists = 8)
      SimilarityOps.annTopKIvf(emb, queries, index, k = 5, nprobe = 8)
        .select("query_id", "vec_id", "cos", "rank")
    }),

    // --- text analysis: token counts, lang-id, quality (oracle-checked)
    "q_text_metrics" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        TextOps.langId(col("text")).as("lang_guess"),
        TextOps.qualityScore(col("text")).as("quality"))
    }),

    // --- tokenizer vocab induction: the counting step of a BPE merge round —
    // top-40 adjacent char pairs across the corpus. Oracle replays the same
    // tokenize → per-occurrence pair explode → count → md5-tie-broken rank.
    "q_bpe_pairs" -> ((s, dir) => // scan-parallelism floor: q_dedup_spans note
      TextOps.bpePairCounts(docs(s, dir).select("doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")), topN = 40)),

    // --- tokenizer application: segment the corpus vocabulary with a FIXED
    // merge table (train once, apply everywhere — the production shape; the
    // chained rank-2 merge consumes rank-1's output symbol). Oracle replays
    // the identical greedy left-to-right folds via DuckDB list_reduce.
    "q_bpe_apply" -> ((s, dir) => {
      val words = TextOps.wordFrequencies(docs(s, dir).select("text"))
      words.select(col("word"), col("cnt"),
        concat_ws(" ", TextOps.applyBpeMerges(
          TextOps.charSegmentation(col("word"), endOfWord = None),
          BpeApplyMerges)).as("seg"))
    }),

    // --- text analysis: fingerprint GROUP STRUCTURE (oracle-checked: xxhash64
    // itself is not in DuckDB, but fingerprint-equality groups must equal
    // normalized-text-equality groups as long as the hash is collision-free)
    "q_fingerprint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .withColumn("group_rep", min("doc_id").over(Window.partitionBy("fp")))
        .select(col("doc_id"), col("group_rep"))
    }),

    // --- relational: TPC-H Q1-shaped aggregate (decimal-exact, then double)
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }),

    // --- relational: broadcast join + aggregate
    "q_join_agg" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
          count(lit(1)).as("n_orders"))
    }),

    // --- relational: ranking window top-3 per group
    "q_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").cast("decimal(18,2)").desc, col("o_orderkey").asc)
      o.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("rank"))
    }),

    // --- events: hourly tumbling-window aggregation (batch form of the streaming op)
    "q_events_hourly" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).cast("long").as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    }),

    // --- G2: full lexicon extraction on the fixture ontology (golden oracle)
    "q_literal_mappings" -> ((s, _) => {
      ontologyLexiconFull(s)
        .select(col("text"), concat(col("prefix"), lit(":"), col("id")).as("curie"))
        .distinct()
    }),

    // --- J1+T2: structure-filtered lexicon subset under ancestor PATO:0000117
    "q_subset" -> ((s, _) => {
      val (nodes, edges) = KgPipeline.standardizeGraphs(
        OboGraphReader.readGraphs(s, ontologyPath), conv, Some("PATO"))
      val dag = graft.operators.GraphStandardizer.subClassOfEdges(edges)
      val seeds = s.createDataFrame(Seq(Tuple1("PATO:0000117"))).toDF("curie")
      val closure = Closure.descendants(dag, seeds)
        .withColumn("prefix", lit("PATO"))
        .withColumn("id", expr("substring(curie, 6)"))
      LiteralMappings.subset(LiteralMappings.fromNodes(nodes, "PATO"), closure)
        .select(col("text"), concat(col("prefix"), lit(":"), col("id")).as("curie"))
    }),

    // --- J3: xref + equivalentNodesSets entity merge map on the fixture ontology
    "q_xref_merge" -> ((s, _) => {
      val ctx = KgPipeline.prepare(s, ontologyPath, conv, Some("PATO"))
      s.createDataFrame(ctx.canonical.toSeq).toDF("curie", "canonical")
    }),

    // --- P1/P2/P3: squeeze + golden header + version projection
    "q_graph_header" -> ((s, _) => {
      val graphs = graft.sources.OboGraphReader.readGraphs(s, ontologyPath)
      graft.sources.OboGraphReader.squeezeGraph(graphs, Some("pato"))
        .select(col("graph_lbl"),
          graft.sources.OboGraphReader.versionColumn.as("version"),
          graft.sources.OboGraphReader.propertyValue(
            element_at(filter(col("meta.basicPropertyValues"),
              b => b.getField("pred").contains("hasDefaultNamespace")), 1))
            .as("default_namespace"))
    }),

    // --- S6: cascading source resolution with recorded diagnostics
    "q_source_resolution" -> ((s, _) => {
      val res = graft.sources.SourceResolver.resolve(s, Seq(
        graft.sources.SourceResolver.UnsupportedSource("/nonexistent/onto.owl", "owl"),
        graft.sources.SourceResolver.JsonSource("/nonexistent/missing.json"),
        graft.sources.SourceResolver.JsonSource(ontologyPath)))
      val nGraphs = res.graphs.map(_.count()).getOrElse(0L)
      s.createDataFrame(Seq((
        res.resolvedFrom.map(_.kind).getOrElse("none"),
        res.messages.size.toLong, nGraphs)))
        .toDF("resolved_kind", "n_messages", "n_graphs")
    }),

    // --- embedding near-dup: multiprobed LSH candidates + exact cosine verify.
    // Oracle-checked: DuckDB replicates the exact hyperplane buckets (plane
    // literals inlined) and the hamming<=2 candidate predicate. Isotropic
    // test data → low threshold so output is non-empty.
    "q_dedup_embedding" -> ((s, dir) => {
      // threshold applied on the ROUNDED cosine (single boundary on both the
      // Spark and DuckDB side); the op-internal filter is left non-binding
      DedupOps.embeddingNearDuplicates(
        s.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.0, planes = 16)
        .filter(round(col("cos"), 6) >= 0.15)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
    }),

    // --- semantic dedup (SemDeDup): IVF-cluster-scoped candidates + exact
    // cosine verify. Oracle replays the identical argmin-centroid assignment
    // (fixed centroids inlined) and the same-cluster pair + rounded-cosine
    // predicate. Same rounded single-boundary convention as q_dedup_embedding.
    "q_dedup_semantic" -> ((s, dir) => {
      // vec_id < 500: the full sf0.001 set; at larger SFs a fixed-size
      // subset keeps the oracle's candidate count (and the interpreted-HOF
      // cosine verify it feeds) bounded — the machinery exercised is identical
      val emb = s.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < 500)
      DedupOps.semanticNearDuplicates(emb, SemanticIndex, threshold = 0.0)
        .filter(round(col("cos"), 6) >= 0.15)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
    }),

    // --- dedup: rolling-hash fingerprint near-dups with the RELATIVE
    // threshold (n_shared >= ceil(0.35 * min sketch size)). w=1 makes the
    // sketch the full k-gram hash set, so the output equals the exact
    // shared-distinct-8-gram predicate — oracle-checked in DuckDB. (w>1
    // winnowing selection is pinned by the SIGMOD'03 guarantee property test.)
    "q_dedup_winnow" -> ((s, dir) => {
      DedupOps.winnowingNearDuplicates(docs(s, dir).filter(col("doc_id") < 300),
        minShared = 3, k = 8, w = 1, minSharedFrac = Some(0.35))
    }),

    // --- dedup: SPAN-level substring dedup over the FULL documents table —
    // maximal token intervals covered by 8-grams occurring in >= 2 distinct
    // docs (the repeated-passage family doc-level minhash/simhash cannot
    // see). Oracle: DuckDB rebuilds the gram-position inverted index on gram
    // STRINGS and replays the same gaps-and-islands merge; gram-hash equality
    // standing in for gram equality is the fingerprint collision-freeness
    // convention (q_fingerprint).
    // r7: the fixture corpus is ONE parquet file -> a 1-task scan serializes
    // all gram hashing (the operator's "text never leaves the scan" design
    // assumes file-level scan parallelism, which any real corpus layout
    // provides). The wrapper restores it with a deterministic doc_id
    // repartition of the narrow (doc_id, text) rows — parallelism derived
    // from the session, not a constant; the operator itself is unchanged.
    "q_dedup_spans" -> ((s, dir) =>
      DedupOps.duplicateSpans(docs(s, dir).select("doc_id", "text")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")), n = 8)),

    // --- retrieval: inverted-index BM25 top-5 for probes drawn from the
    // corpus (first 6 normalized tokens of docs 0..4 — a probe always finds
    // its own source doc). Oracle: DuckDB rebuilds postings/df on term
    // STRINGS and mirrors the fixed-association double contribution with the
    // same DECIMAL(28,8)-before-sum rounding, so aggregation order can never
    // flip a rank on either side.
    "q_bm25_topk" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val queries = d.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ",
            slice(split(DedupOps.normText(col("text")), " "), 1, 6)).as("qtext"))
      graft.operators.RetrievalOps.bm25TopK(d, queries, k = 5)
    }),

    // --- retrieval: HYBRID sparse+dense — BM25 and exact-cosine legs (each
    // top-10) fused by reciprocal-rank fusion, top-5 per query. Fusing on
    // RANKS makes the oracle exact: DuckDB replays both legs (the q_bm25_topk
    // and q_ann_topk oracles verbatim at pool depth 10) and the same
    // fixed-association 1/(60+r) sum — no cross-engine score calibration on
    // the value path.
    "q_retrieval_hybrid" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = d.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ",
            slice(split(DedupOps.normText(col("text")), " "), 1, 6)).as("qtext"))
        .join(emb.select(col("vec_id").as("query_id"),
          col("embedding").as("qvec")), Seq("query_id"))
      graft.operators.RetrievalOps.hybridTopK(d, emb, queries, k = 5, poolK = 10)
    }),

    // --- quality: add-0.5-smoothed bigram LM average log-prob per doc
    // (CCNet-style perplexity feature). Oracle: DuckDB retrains the same
    // counts on term STRINGS and mirrors the fixed-association transition
    // expression with the same DECIMAL(28,8)-before-sum rounding.
    "q_lm_bigram" -> ((s, dir) =>
      graft.operators.NgramLm.bigramLogProb(docs(s, dir).select("doc_id", "text"))),

    // --- multimodal plumbing: synthetic media → stub-decoded feature vectors
    "q_media_features" -> ((s, _) => {
      graft.operators.MultimodalOps.extractFeatures(
        graft.operators.MultimodalOps.syntheticMedia(s, 200)).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"))
    }),

    // --- REAL container decode (round-2 verdict item 2): per-channel pixel
    // sums of DECODED 24-bit BMPs / sample stats of DECODED PCM16 WAVs. The
    // oracle recomputes the sums from the generation formulas, so padding,
    // bottom-up row order, BGR order, header offsets and chunk walking are
    // all value-checked; exact integer sums → hash-exact compare.
    "q_media_bmp" -> ((s, _) =>
      graft.operators.MultimodalOps.imageStats(
        graft.operators.MultimodalOps.syntheticMediaContainers(s, 120)).toDF()),
    "q_media_wav" -> ((s, _) =>
      graft.operators.MultimodalOps.audioStats(
        graft.operators.MultimodalOps.syntheticMediaContainers(s, 120)).toDF()),

    // --- REAL ENTROPY-CODED container (round-3 verdict item 3): channel sums
    // of DECODED 8-bit PNGs — chunk CRC32s, the DEFLATE stream
    // (java.util.zip.Inflater), all five scanline filters (row y carries
    // filter y%5) and the RGBA alpha-drop are all on the value path; the
    // oracle recomputes the sums from the generation formulas.
    "q_media_png" -> ((s, _) =>
      graft.operators.MultimodalOps.imageStats(
        graft.operators.MultimodalOps.syntheticPngMedia(s, 100)).toDF()),

    // --- second REAL entropy coding (LZW): decoded channel sums of GIF89a
    // containers — dictionary build/growth/KwKwK and the palette mapping are
    // all on the value path; lossless, so the oracle recomputes the sums
    // from the pixel/palette formulas exactly
    "q_media_gif" -> ((s, _) =>
      graft.operators.MultimodalOps.imageStats(
        graft.operators.MultimodalOps.syntheticGifMedia(s, 100)).toDF()),

    // --- multimodal RESIZE stage: decode real PNGs → nearest-neighbor
    // resize to 16×12 (a mix of up- and down-scaling across ids) →
    // re-encode as BMP → decode again for the stats. The oracle recomputes
    // the resized sums from the generation formulas through the same
    // floor-division source-pixel map, so the whole
    // decode→resize→encode→decode chain is value-checked.
    "q_media_resize" -> ((s, _) =>
      graft.operators.MultimodalOps.imageStats(
        graft.operators.MultimodalOps.resizeImages(
          graft.operators.MultimodalOps.syntheticPngMedia(s, 100), 16, 12)).toDF()),

    // --- int8-quantized ANN: the embedding STORAGE dial (4× fewer vector
    // bytes through every scan/cache/shuffle). Rounding is floor(x+0.5) —
    // round()'s half-way semantics differ across engines, floor doesn't —
    // so the oracle recomputes quantize→dequantize→cosine EXACTLY.
    "q_ann_quantized" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qvec"))
      SimilarityOps.bruteForceTopKQuantized(SimilarityOps.quantizeInt8(emb), queries, k = 5)
        .select("query_id", "vec_id", "cos", "rank")
    }),

    // --- int8 SCALE-FOLDED scorer (the production path: the per-vector
    // scale cancels out of the cosine, so no per-pair dequantize). The
    // oracle scores the raw quantized vectors directly — cos(q8, q) ≡
    // cos(q8·s/127, q) — recomputing the same floor(x+0.5) quantization.
    "q_ann_quantized_fold" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qvec"))
      SimilarityOps.bruteForceTopKQuantizedFolded(
        SimilarityOps.quantizeInt8(emb), queries, k = 5)
        .select("query_id", "vec_id", "cos", "rank")
    }),

    // --- product quantization (PQ4×8 on dim 64 → 4 bytes/vector, 64×):
    // per-subspace assignment via the native CentroidIds kernel over
    // DETERMINISTIC codebooks, reconstruction + cosine top-k. The oracle
    // inlines the same codebook literals and mirrors the kernel's exact
    // dim-order double arithmetic and first-min tie rule.
    "q_ann_pq" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qvec"))
      val books = SimilarityOps.pqCodebooks()
      SimilarityOps.bruteForceTopKPq(
        SimilarityOps.pqEncode(emb, books), books, queries, k = 5)
        .select("query_id", "vec_id", "cos", "rank")
    }),

    // --- PQ ADC scoring (the production PQ path): per-query subspace LUTs,
    // 2m table lookups per corpus row, nothing reconstructed. The oracle
    // mirrors the ADC decomposition itself (per-subspace dot CASEs + norm²
    // literals + left-assoc sums), so the lookup-table arithmetic is
    // value-checked, not just the ranking.
    "q_ann_pq_adc" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qvec"))
      val books = SimilarityOps.pqCodebooks()
      SimilarityOps.adcTopKPq(SimilarityOps.pqEncode(emb, books), books, queries, k = 5)
        .select("query_id", "vec_id", "cos", "rank")
    }),

    // --- composed production ANN: IVF probe → PQ-ADC shortlist → exact
    // re-rank. All-lists probing + unbounded shortlist makes the output
    // provably equal to exact brute force REGARDLESS of centroids/codebooks —
    // an exact oracle for the whole composition (assignment, probe expansion,
    // ADC ranking, shortlist cut, vector fetch, exact re-rank); partial-dial
    // recall is measured in tests and at 50k scale in SketchDialsProbe.
    "q_ann_ivf_pq" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val index = SimilarityOps.trainIvf(emb, nLists = 8)
      val books = SimilarityOps.pqCodebooks()
      SimilarityOps.annTopKIvfPqExact(emb, queries, index, books, k = 5,
        nprobe = 8, shortlist = Int.MaxValue)
        .select("query_id", "vec_id", "cos", "rank")
    }),

    // --- IVF index DRIFT signal ("retrain only when drift warrants" as an
    // executable per-row frame, not prose): nearest-centroid assignment plus
    // the exact squared-L2 distance to it, against DETERMINISTIC oracle
    // centroids ([[SimilarityOps.ivfCentroidsOracle]]). The oracle inlines
    // the same centroid literals and mirrors the CentroidIds kernel's
    // dim-order left-assoc double sums and first-min tie rule, so every
    // distance is value-checked. ivfDrift's mean/p95 over these rows (and
    // the rebuild dial) is covered by PipelineSpec's drift tests.
    "q_ann_drift" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      SimilarityOps.assignDistances(emb,
        SimilarityOps.IvfIndex(SimilarityOps.ivfCentroidsOracle()))
    }),

    // --- data mixing: deterministic stratified sampling — the oracle
    // recomputes the EXACT sample (portable md5-derived row hash + integer
    // thresholds inlined on both sides; no RNG, no double→long divergence)
    "q_sample_mix" -> ((s, dir) =>
      TextOps.stratifiedSample(docs(s, dir), "lang",
        Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))),

    // --- corpus balancing: deterministic per-source cap (keep the 10 docs
    // per source with the smallest portable hash — an unbiased per-domain
    // sample, not a crawl-order prefix). Oracle recomputes the identical
    // md5-derived ordering, so the exact kept set is value-checked.
    "q_domain_cap" -> ((s, dir) =>
      TextOps.perSourceCap(docs(s, dir), maxPerSource = 10)
        .select(col("doc_id"), col("source"))),

    // --- intra-document repetition (Gopher-style quality signal)
    "q_repetition" -> ((s, dir) =>
      TextOps.repetitionMetrics(docs(s, dir))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("dup_token_frac"), col("dup_shingle_frac"))),

    // --- PII redaction: pii PLANTED from doc_id is appended to every doc,
    // then redacted; DuckDB runs the IDENTICAL RE2-compatible regex chain,
    // so the redacted strings compare hash-exact
    "q_redact_pii" -> ((s, dir) =>
      docs(s, dir).filter(col("doc_id") < 300).select(
        col("doc_id"),
        TextOps.redactPii(concat(
          coalesce(col("text"), lit("")),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.org or 10.7."), (col("doc_id") % 200).cast("string"),
          lit(".99 tel +1 555 123 4567"))).as("redacted"))),

    // --- sequence packing: concat-then-chunk layout of the corpus into
    // fixed-length training sequences via a DISTRIBUTED two-level prefix sum
    // (bucket totals → driver prefix → per-bucket windows; a global-order
    // window would collapse the corpus into one partition). bucketWidth 100
    // forces multiple buckets at every SF, so the cross-bucket offset
    // arithmetic is on the oracle path.
    "q_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(docs(s, dir), seqLen = 2048, bucketWidth = 100L)),

    // --- incremental dedup: new batch vs the HISTORICAL fingerprint store
    // (the steady-state ingestion shape). Planted: 21 re-crawled docs whose
    // text the store has seen (dropped by the anti-join) and 11 intra-batch
    // duplicates (collapsed to the min doc_id). Group-structure oracle on
    // normalized text (q_fingerprint precedent: xxhash64 isn't in DuckDB,
    // but fingerprint-equality ≡ normalized-text-equality sans collisions).
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val store0 = d.filter(col("doc_id") < 250)
        .select(TextOps.fingerprint(col("text")).as("fp")).distinct()
      val batch = d.filter(col("doc_id") >= 250 && col("doc_id") < 500)
        .unionByName(d.filter(col("doc_id").between(100, 120))
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionByName(d.filter(col("doc_id").between(250, 260))
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val (survivors, _) = TextOps.incrementalExactDedup(batch, store0)
      survivors.select("doc_id")
    }),

    // --- incremental NEAR-dup dedup: new batch vs the historical minhash
    // SIGNATURE store (steady-state ingest; the near-dup twin of
    // q_dedup_incremental). r=1 bands make candidate recall structural (see
    // q_dedup_minhash), so the realized survivor set equals the exact
    // component rule DuckDB recomputes: batch docs connected to history are
    // dropped (hist ids < batch ids ⇒ min-reach < own id), min batch id
    // survives history-free components, singletons survive.
    "q_dedup_minhash_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val hist = d.filter(col("doc_id") < 250)
      val store = DedupOps.bandedSignatures(hist, k = 16, bands = 16)
      val batch = d.filter(col("doc_id") >= 250 && col("doc_id") < 500)
        .unionByName(d.filter(col("doc_id").between(100, 120))
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionByName(d.filter(col("doc_id").between(250, 260))
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val (survivors, _) = DedupOps.incrementalMinhashDedup(batch, store, hist,
        threshold = 0.5, k = 16, bands = 16)
      survivors.select("doc_id")
    }),

    // --- COMPOSED hygiene pipeline: exact dedup → decontaminate →
    // repetition filter → stratified sample → redact, end to end — the
    // oracle replays the whole chain in DuckDB, value-checking the
    // COMPOSITION (stage order, survivor sets, per-stage semantics), not
    // just the parts. (The minhash stage is skipped HERE because its
    // recursive-CTE oracle is quadratic in this corpus size — the full
    // six-stage composition including it is gated by q_hygiene_full below
    // on the q_dedup_minhash-sized subset.)
    "q_hygiene" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 2000).select("doc_id", "lang", "text")
      val bench = d.filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"),
          concat_ws(" ", slice(split(DedupOps.normText(col("text")), " "), 1, 12)).as("text"))
      graft.operators.CorpusHygiene.clean(d, Some(bench),
        graft.operators.CorpusHygiene.HygieneConfig(
          nearDupThreshold = None,
          maxDupTokenFrac = 0.68,
          sampleRates = Map("en" -> 0.5, "de" -> 0.25), sampleDefaultRate = 0.1))
        .select(col("doc_id"), col("lang"), col("text").as("redacted"))
    }),

    // --- COMPOSED hygiene WITH the minhash survivor stage — the full chain
    // exact dedup → minhash survivors → decontaminate → repetition →
    // sample → redact, value-checked end to end. Subset doc_id < 500 (the
    // q_dedup_minhash bound): the oracle's pairwise-Jaccard + recursive-CTE
    // reachability replay is quadratic in docs, and at threshold 0.5 with
    // k=16/bands=16 (r=1) candidate recall is structural (P[miss | J>=0.5]
    // = 0.5^16), so the realized survivor set equals the exact predicate
    // DuckDB recomputes. q_hygiene keeps the larger-corpus composition gate
    // for the other five stages.
    "q_hygiene_full" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 500).select("doc_id", "lang", "text")
      val bench = d.filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"),
          concat_ws(" ", slice(split(DedupOps.normText(col("text")), " "), 1, 12)).as("text"))
      graft.operators.CorpusHygiene.clean(d, Some(bench),
        graft.operators.CorpusHygiene.HygieneConfig(
          nearDupThreshold = Some(0.5), minhashK = 16, minhashBands = 16,
          maxDupTokenFrac = 0.68,
          sampleRates = Map("en" -> 0.5, "de" -> 0.25), sampleDefaultRate = 0.1))
        .select(col("doc_id"), col("lang"), col("text").as("redacted"))
    }))

  // ---------------------------------------------------------------------
  // oracle SQL (DuckDB dialect) — one per SQL-expressible query above
  // ---------------------------------------------------------------------

  /** DuckDB expression computing the EXACT engine hyperplane bucket of a
    * DOUBLE[] column: same deterministic planes (literals round-trip via
    * Double.toString), same sequential double dot, same `> 0` sign bit. */
  private def bucketSql(vexpr: String, nPlanes: Int, dim: Int = 64): String =
    SimilarityOps.planes(nPlanes, dim).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($vexpr, [${p.mkString(",")}]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB SELECT items `d0..d7`: euclidean distances from `vexpr` to the
    * inlined q_dedup_semantic centroids. list_distance's sqrt is strictly
    * monotone, so the argmin below equals CentroidIds' squared-distance
    * argmin. */
  private def semanticDistSql(vexpr: String): String =
    SemanticCentroids.zipWithIndex.map { case (c, j) =>
      s"list_distance($vexpr, [${c.mkString(",")}]) AS d$j"
    }.mkString(", ")

  /** DuckDB argmin over d0..d7 with the CentroidIds tie rule (strict `<`
    * keeps the FIRST minimum): branch j fires iff d_j <= every LATER
    * distance, which selects exactly the lowest-index minimum. */
  private val semanticArgminSql: String = {
    val n = SemanticCentroids.length
    (0 until n).map { j =>
      val later = ((j + 1) until n).map(k => s"d$j <= d$k")
      if (later.isEmpty) s"ELSE $j" else s"WHEN ${later.mkString(" AND ")} THEN $j"
    }.mkString("CASE ", " ", " END")
  }

  private def lexiconValuesSql(singleWordOnly: Boolean): String =
    MiniOntology.expectedLexicon
      .filter { case (t, _) => !singleWordOnly || !t.contains(" ") }
      .map { case (t, c) => s"('$t','$c')" }.mkString(", ")

  private def ontologyTriplesValuesSql: String =
    MiniOntology.expectedOntologyTriples
      .map { case (a, b, c) => s"('$a','$b','$c')" }.mkString(", ")

  /** Exact cosine top-k reference, shared by q_ann_topk AND q_ann_ivf
    * (all-lists IVF probing is definitionally equal to brute force). */
  private val bruteForceTopKSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
      |           FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec), 6) AS cos
      |  FROM embeddings e CROSS JOIN q),
      |ranked AS (
      |  SELECT query_id, vec_id, cos,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 5""".stripMargin

  /** BM25 scoring CTE chain (tokenize → postings → df → query terms →
    * DECIMAL(28,8) contributions → per-(query, doc) score), shared by
    * q_bm25_topk and the q_retrieval_hybrid sparse leg — one definition so
    * the legs can never drift from the gated scorer. Mirrors
    * RetrievalOps.bm25TopK exactly (association, casts, rounding). */
  private val bm25AggCtes: String =
    """d AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |stats AS (
      |  SELECT count(*) AS n_docs,
      |         CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
      |  FROM d),
      |post AS (
      |  SELECT doc_id, len(toks) AS dl, t AS term, count(*) AS tf
      |  FROM d, LATERAL (SELECT unnest(toks) AS t)
      |  GROUP BY doc_id, len(toks), t),
      |dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
      |q AS (
      |  SELECT doc_id AS query_id, unnest(list_distinct(toks[1:6])) AS term
      |  FROM d WHERE doc_id < 5),
      |scored AS (
      |  SELECT q.query_id, p.doc_id,
      |    CAST(
      |      ln(CAST(1.0 AS DOUBLE) +
      |         (CAST(s.n_docs AS DOUBLE) - f.df + CAST(0.5 AS DOUBLE))
      |         / (f.df + CAST(0.5 AS DOUBLE)))
      |      * (p.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
      |      / (p.tf + CAST(1.2 AS DOUBLE) *
      |         ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
      |          + CAST(0.75 AS DOUBLE) * p.dl / s.avgdl))
      |    AS DECIMAL(28,8)) AS w
      |  FROM q
      |  JOIN dfreq f ON f.term = q.term
      |  JOIN post p ON p.term = q.term
      |  CROSS JOIN stats s),
      |agg AS (
      |  SELECT query_id, doc_id, CAST(sum(w) AS DOUBLE) AS score
      |  FROM scored GROUP BY query_id, doc_id)""".stripMargin

  /** Shared PQ-assignment CTE prefix (e → a → c): per-subspace squared-L2
    * distance lists (the SAME left-assoc dim-order addition as
    * CentroidIds.kernel) and first-min assignment via
    * list_position(list_min). Codebooks are [[SimilarityOps.pqCodebooks]] —
    * the exact literals the engine queries bind. */
  private def pqAssignCtes(books: Array[Array[Array[Double]]]): String = {
    val m = books.length
    val subDim = books(0)(0).length
    def distList(s: Int): String =
      books(s).map { cen =>
        cen.zipWithIndex.map { case (c, i) =>
          val idx = s * subDim + i + 1
          s"((v[$idx]::DOUBLE - $c) * (v[$idx]::DOUBLE - $c))"
        }.mkString("(", " + ", ")")
      }.mkString("[", ", ", "]")
    val dCols = (0 until m).map(s => s"${distList(s)} AS d$s").mkString(",\n        ")
    val cCols = (0 until m)
      .map(s => s"CAST(list_position(d$s, list_min(d$s)) - 1 AS INT) AS c$s")
      .mkString(",\n        ")
    s"""e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |a AS (SELECT vec_id, v,
       |        $dCols
       |      FROM e),
       |c AS (SELECT vec_id, v,
       |        $cCols
       |      FROM a)""".stripMargin
  }

  /** PQ reconstruction-path oracle: codebook-lookup reconstruction by CASE
    * over the inlined literals, then exact cosine top-k. */
  private def pqOracleSql: String = {
    val books = SimilarityOps.pqCodebooks()
    val m = books.length
    def reconCase(s: Int): String =
      s"CASE c$s " + books(s).zipWithIndex.map { case (cen, ci) =>
        s"WHEN $ci THEN [${cen.mkString(",")}]"
      }.mkString(" ") + " END"
    val recon = (0 until m).map(reconCase).reduce((a, b) => s"list_concat($a, $b)")
    s"""WITH ${pqAssignCtes(books)},
       |r AS (SELECT vec_id, $recon AS dv FROM c),
       |q AS (SELECT vec_id AS query_id, v::DOUBLE[] AS qvec FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, r.vec_id,
       |         round(list_cosine_similarity(r.dv, q.qvec), 6) AS cos
       |  FROM r CROSS JOIN q),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** PQ ADC oracle: the SAME assignment CTEs, then the ADC decomposition —
    * per-subspace dot(centroid, query-slice) CASEs (centroid×query product
    * order, left-assoc dim sums — mirroring the engine's zip_with/aggregate),
    * query-independent norm² literals from [[SimilarityOps.pqNorm2]], and
    * cos = (dot0+..+dot3) / (sqrt(n0+..+n3) · qnorm) with every sum
    * left-assoc exactly as the engine's reduce(_ + _). */
  private def pqAdcOracleSql: String = {
    val books = SimilarityOps.pqCodebooks()
    val norm2 = SimilarityOps.pqNorm2(books)
    val m = books.length
    val subDim = books(0)(0).length
    def dotCase(s: Int): String =
      s"CASE c.c$s " + books(s).zipWithIndex.map { case (cen, ci) =>
        val terms = cen.zipWithIndex.map { case (cc, i) =>
          s"($cc * q.qvec[${s * subDim + i + 1}])"
        }.mkString("(", " + ", ")")
        s"WHEN $ci THEN $terms"
      }.mkString(" ") + " END"
    def n2Case(s: Int): String =
      s"CASE c.c$s " + norm2(s).zipWithIndex.map { case (n, ci) =>
        s"WHEN $ci THEN $n"
      }.mkString(" ") + " END"
    val dots = (0 until m).map(dotCase).mkString("(", " + ", ")")
    val n2s = (0 until m).map(n2Case).mkString("(", " + ", ")")
    val qnorm = (1 to m * subDim).map(i => s"(v[$i]::DOUBLE * v[$i]::DOUBLE)")
      .mkString("sqrt((", " + ", "))")
    s"""WITH ${pqAssignCtes(books)},
       |q AS (SELECT vec_id AS query_id, v::DOUBLE[] AS qvec, $qnorm AS qnorm
       |      FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, c.vec_id,
       |         round($dots / (sqrt($n2s) * q.qnorm), 6) AS cos
       |  FROM c CROSS JOIN q),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** q_ann_drift oracle: squared-L2 distances to the EXACT
    * [[SimilarityOps.ivfCentroidsOracle]] literals (Scala Double.toString
    * round-trips bit-exact through DuckDB's parser), summed in the kernel's
    * left-assoc dim order; first-min assignment via
    * list_position(list_min) — the same tie rule as CentroidIds. */
  private def annDriftSql: String = {
    val dList = graft.operators.SimilarityOps.ivfCentroidsOracle().map { cen =>
      cen.zipWithIndex.map { case (c, i) =>
        s"((v[${i + 1}]::DOUBLE - $c) * (v[${i + 1}]::DOUBLE - $c))"
      }.mkString("(", " + ", ")")
    }.mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |a AS (SELECT vec_id, $dList AS d FROM e)
       |SELECT vec_id,
       |       CAST(list_position(d, list_min(d)) - 1 AS INT) AS list_id,
       |       round(d[list_position(d, list_min(d))], 6) AS dist
       |FROM a""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_ann_pq" -> pqOracleSql,
    "q_ann_pq_adc" -> pqAdcOracleSql,

    // all-lists + unbounded-shortlist composition ≡ exact brute force (see
    // the query comment) — the SAME reference SQL by construction
    "q_ann_ivf_pq" -> bruteForceTopKSql,

    "q_ann_drift" -> annDriftSql,
    "q_compress_iri" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'EXD:' || CAST(doc_id AS VARCHAR)
        |      ELSE 'EX:' || CAST(doc_id AS VARCHAR) END AS curie
        |FROM documents""".stripMargin,

    "q_expand_curie" ->
      """SELECT doc_id,
        | 'http://purl.obolibrary.org/obo/PATO_' || CAST(doc_id AS VARCHAR) AS iri
        |FROM documents""".stripMargin,

    "q_normalize_prefix" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'PATO' WHEN 1 THEN 'PATO'
        |   WHEN 2 THEN 'PATO' WHEN 3 THEN 'CHEBI' ELSE NULL END AS canonical
        |FROM documents""".stripMargin,

    "q_normalize_predicate" ->
      """SELECT doc_id,
        | CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'rdfs:subClassOf'
        |   WHEN 1 THEN 'rdfs:subClassOf' WHEN 2 THEN 'BFO:0000050'
        |   WHEN 3 THEN 'oboInOwl:hasExactSynonym' ELSE 'custom_pred' END AS pred
        |FROM documents""".stripMargin,

    "q_standardize_edges" ->
      """SELECT DISTINCT
        | 'PATO:' || CAST(l_partkey % 100 AS VARCHAR) AS subj,
        | 'rdfs:subClassOf' AS pred,
        | 'PATO:' || CAST(l_suppkey % 50 AS VARCHAR) AS obj
        |FROM lineitem""".stripMargin,

    "q_closure" ->
      """WITH RECURSIVE e AS (
        |  SELECT 'N' || CAST(p_partkey AS VARCHAR) AS child,
        |         'N' || CAST(p_partkey // 2 AS VARCHAR) AS parent
        |  FROM part WHERE p_partkey BETWEEN 2 AND 200),
        |d AS (
        |  SELECT child AS curie FROM e WHERE parent = 'N1'
        |  UNION
        |  SELECT e.child FROM e JOIN d ON e.parent = d.curie)
        |SELECT curie FROM d""".stripMargin,

    "q_roots" ->
      """WITH e AS (
        |  SELECT 'N' || CAST(p_partkey AS VARCHAR) AS child,
        |         'N' || CAST(p_partkey // 2 AS VARCHAR) AS parent
        |  FROM part WHERE p_partkey BETWEEN 2 AND 200)
        |SELECT DISTINCT curie FROM (
        |  SELECT parent AS curie FROM e UNION SELECT child FROM e)
        |WHERE curie NOT IN (SELECT child FROM e)""".stripMargin,

    "q_connected_components" ->
      """SELECT 'U' || CAST(c_custkey AS VARCHAR) AS curie,
        |       'G' || CAST(c_custkey % 20 AS VARCHAR) AS component
        |FROM customer
        |UNION
        |SELECT DISTINCT 'G' || CAST(c_custkey % 20 AS VARCHAR),
        |       'G' || CAST(c_custkey % 20 AS VARCHAR)
        |FROM customer""".stripMargin,

    "q_mention_tokens" ->
      s"""SELECT s.doc_id, s.term, count(*) AS n
         |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |      FROM documents) s
         |JOIN (VALUES ${lexiconValuesSql(singleWordOnly = true)}) lex(term, curie)
         |  ON s.term = lex.term
         |GROUP BY s.doc_id, s.term""".stripMargin,

    // positional word-boundary matching on engine-normalized text (NOT a
    // regex on raw text: that neither folds [-_\s]+ runs like the engine nor
    // survives regex metacharacters in lexicon terms).
    //
    // Boundary class: [\p{L}\p{Nd}] — RE2's Unicode letter/decimal-digit
    // categories, matching the engine's Character.isLetterOrDigit for the
    // whole BMP (supplementary-plane codepoints differ and are out of the
    // fixtures' scope). The oracle's lex CTE emits ALL (term, curie) pairs
    // while the engine grounds top-1 per pattern — equivalent ONLY because
    // the fixture lexicon has no cross-concept normalized-text collisions,
    // asserted by PipelineSpec "oracle soundness".
    "q_pipeline_triples" ->
      s"""WITH transcripts AS ($T),
         |t AS (SELECT conv_id, turn_idx,
         |        trim(regexp_replace(lower(text), '[-_\\s]+', ' ', 'g')) AS norm
         |      FROM transcripts),
         |lex AS (SELECT DISTINCT
         |          trim(regexp_replace(lower(term), '[-_\\s]+', ' ', 'g')) AS term, curie
         |        FROM (VALUES ${lexiconValuesSql(singleWordOnly = false)}) v(term, curie)),
         |ont(subj, pred, obj) AS (SELECT * FROM (VALUES $ontologyTriplesValuesSql)),
         |mentions AS (
         |  SELECT DISTINCT conv_id, turn_idx, curie
         |  FROM t, lex,
         |       LATERAL (SELECT unnest(range(1, length(t.norm) - length(lex.term) + 2)) AS i) gs
         |  WHERE substr(t.norm, i, length(term)) = term
         |    AND (i = 1 OR NOT regexp_matches(substr(t.norm, i - 1, 1), '[\\p{L}\\p{Nd}]'))
         |    AND (i + length(term) > length(t.norm)
         |         OR NOT regexp_matches(substr(t.norm, i + length(term), 1), '[\\p{L}\\p{Nd}]')))
         |SELECT DISTINCT 'turn:' || conv_id || '/' || CAST(turn_idx AS VARCHAR) AS subj,
         |       'ex:mentions' AS pred, curie AS obj
         |FROM mentions
         |UNION SELECT subj, pred, obj FROM ont""".stripMargin,

    "q_turns_sorted" ->
      s"""WITH transcripts AS ($T)
         |SELECT conv_id, turn_idx, role, text, tool FROM transcripts""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')""".stripMargin,

    // coverage = |grams(bench) ∩ grams(doc)| / |grams(bench)|, 3-gram sets
    // built with the exact shingle rule the engine uses (short text → one
    // whole-text shingle); bench items = first 12 normalized tokens of every
    // 41st doc
    "q_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE doc_id < 2000),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks)-1),
        |                i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        |  FROM d),
        |b0 AS (SELECT doc_id AS bench_id, toks[1:12] AS btoks FROM d WHERE doc_id % 41 = 0),
        |b AS (
        |  SELECT bench_id,
        |    CASE WHEN len(btoks) < 3 THEN [array_to_string(btoks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(btoks)-1),
        |                i -> array_to_string(btoks[i:i+2], ' '))) END AS sh
        |  FROM b0),
        |j AS (
        |  SELECT s.doc_id, b.bench_id,
        |         CAST(len(list_intersect(s.sh, b.sh)) AS BIGINT) AS n_shared,
        |         CAST(len(b.sh) AS BIGINT) AS n_bench
        |  FROM s CROSS JOIN b)
        |SELECT doc_id, bench_id, n_shared, n_bench,
        |       round(CAST(n_shared AS DOUBLE) / n_bench, 6) AS frac
        |FROM j
        |WHERE n_shared > 0 AND round(CAST(n_shared AS DOUBLE) / n_bench, 6) >= 0.8""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS toks
        |  FROM documents WHERE doc_id < 100)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  round(CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(x.toks, y.toks))), 6) AS jac
        |FROM d x JOIN d y ON x.doc_id < y.doc_id
        |WHERE round(CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(x.toks, y.toks))), 6) >= 0.5""".stripMargin,

    "q_ann_topk" -> bruteForceTopKSql,

    // all-lists IVF ≡ exact brute force (see the query comment) — the SAME
    // reference SQL by construction, shared so the two cannot drift apart
    "q_ann_ivf" -> bruteForceTopKSql,

    // identical double arithmetic order to the engine on both the quantize
    // and dequantize sides: (x*127)/scale + 0.5 floored, then (q*scale)/127.
    // Zero vectors score the engine's -2.0 sentinel on BOTH sides (Spark's
    // 0/0 cosine is NaN and ranks FIRST under DESC; DuckDB's
    // list_cosine_similarity returns -1 and ranks last — neither is the
    // other, so the undefined case is pinned explicitly).
    "q_ann_quantized" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |dq AS (SELECT vec_id, scale,
        |         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v,
        |                x -> CAST(floor(x * 127 / scale + 0.5) AS BIGINT) * scale / 127.0)
        |         END AS dv
        |       FROM sc),
        |q AS (SELECT vec_id AS query_id, v AS qvec,
        |        list_max(list_transform(v, x -> abs(x))) AS qmax
        |      FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, dq.vec_id,
        |         CASE WHEN dq.scale = 0 OR q.qmax = 0 THEN -2.0
        |              ELSE round(list_cosine_similarity(dq.dv, q.qvec), 6) END AS cos
        |  FROM dq CROSS JOIN q),
        |ranked AS (
        |  SELECT query_id, vec_id, cos,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // scale cancellation makes the folded cosine the cosine OF the raw
    // integer vectors — the oracle recomputes the same floor(x+0.5) codes
    // and scores them directly (no dequantize on either side). Zero vectors
    // score the engine's -2.0 sentinel on both sides (see q_ann_quantized).
    "q_ann_quantized_fold" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |dq AS (SELECT vec_id, scale,
        |         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v,
        |                x -> CAST(floor(x * 127 / scale + 0.5) AS BIGINT) * 1.0)
        |         END AS q8
        |       FROM sc),
        |q AS (SELECT vec_id AS query_id, v AS qvec,
        |        list_max(list_transform(v, x -> abs(x))) AS qmax
        |      FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, dq.vec_id,
        |         CASE WHEN dq.scale = 0 OR q.qmax = 0 THEN -2.0
        |              ELSE round(list_cosine_similarity(dq.q8, q.qvec), 6) END AS cos
        |  FROM dq CROSS JOIN q),
        |ranked AS (
        |  SELECT query_id, vec_id, cos,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "q_text_metrics" ->
      """SELECT doc_id,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish,
        | CASE WHEN text IS NULL THEN NULL
        |      WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
        |      WHEN h_fr = greatest(h_en, h_es, h_de, h_fr) THEN 'fr'
        |      WHEN h_es = greatest(h_en, h_es, h_de) THEN 'es'
        |      WHEN h_en = greatest(h_en, h_de) THEN 'en'
        |      ELSE 'de' END AS lang_guess,
        | round((least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |   + least(CAST(h_all AS DOUBLE) * 5.0 / greatest(n_tok, 1), 1.0)
        |   + (1.0 - least(CAST(n_punct AS DOUBLE) * 10.0 / greatest(length(text), 1), 1.0))) / 3.0,
        |   4) AS quality
        |FROM (
        |  SELECT doc_id, text,
        |    len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS h_en,
        |    len(regexp_extract_all(text, '\b(el|la|de|y|que|en|un)\b')) AS h_es,
        |    len(regexp_extract_all(text, '\b(der|die|das|und|ist|von|ein)\b')) AS h_de,
        |    len(regexp_extract_all(text, '\b(le|la|et|les|des|un|une)\b')) AS h_fr,
        |    len(regexp_extract_all(text,
        |      '\b(the|a|of|and|to|in|is|el|la|de|y|que|en|un|der|die|das|und|ist|von|ein|le|et|les|des|une)\b')) AS h_all,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
        |    len(regexp_extract_all(text, '[\.,;:!\?]')) AS n_punct
        |  FROM documents)""".stripMargin,

    // BPE pair counting: the same tokenize → per-word-occurrence adjacent
    // char-pair explode → count, ranked with the md5 tie-break (byte
    // ordering, no collation on the rank path — the q_domain_cap convention)
    "q_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT substring(w, CAST(i AS INT), 2) AS pair
        |  FROM toks, LATERAL (SELECT unnest(range(1, length(w))) AS i)
        |  WHERE length(w) >= 2),
        |agg AS (SELECT pair, count(*) AS cnt FROM pairs GROUP BY pair)
        |SELECT pair, cnt, CAST(rank AS INT) AS rank FROM (
        |  SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, md5(pair)) AS rank
        |  FROM agg)
        |WHERE rank <= 40""".stripMargin,

    // BPE merge application: each merge is the IDENTICAL greedy left-to-right
    // fold as the engine's bpeMergeOnce — list_reduce carries the running
    // segmentation as a space-joined string (symbols are whitespace-split, so
    // space is a safe separator), the anchored regex reads/replaces the last
    // symbol, and the next fold re-splits. Merges inlined on both sides.
    "q_bpe_apply" ->
      """WITH words AS (
        |  SELECT w AS word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0
        |  GROUP BY w),
        |seg0 AS (SELECT word, cnt,
        |  list_transform(range(1, length(word) + 1), i -> substring(word, CAST(i AS INT), 1)) AS seg
        |  FROM words),
        |seg1 AS (SELECT word, cnt, string_split(list_reduce(seg, (acc, x) ->
        |  CASE WHEN regexp_extract(acc, '[^ ]+$') = 't' AND x = 'h'
        |       THEN regexp_replace(acc, '[^ ]+$', 'th') ELSE acc || ' ' || x END), ' ') AS seg
        |  FROM seg0),
        |seg2 AS (SELECT word, cnt, string_split(list_reduce(seg, (acc, x) ->
        |  CASE WHEN regexp_extract(acc, '[^ ]+$') = 'th' AND x = 'e'
        |       THEN regexp_replace(acc, '[^ ]+$', 'the') ELSE acc || ' ' || x END), ' ') AS seg
        |  FROM seg1),
        |seg3 AS (SELECT word, cnt, string_split(list_reduce(seg, (acc, x) ->
        |  CASE WHEN regexp_extract(acc, '[^ ]+$') = 'i' AND x = 'n'
        |       THEN regexp_replace(acc, '[^ ]+$', 'in') ELSE acc || ' ' || x END), ' ') AS seg
        |  FROM seg2)
        |SELECT word, cnt, array_to_string(seg, ' ') AS seg FROM seg3""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_agg" ->
      """SELECT c_mktsegment,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q_window_topk" ->
      """SELECT o_orderpriority, o_orderkey, CAST(rank AS INT) AS rank FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey ASC) AS rank
        |  FROM orders) WHERE rank <= 3""".stripMargin,

    "q_events_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // golden-VALUES oracles: the expected sets are hand-derived from reference
    // semantics (FIXTURES.md / SURVEY §5.4) and double-asserted in unit tests
    "q_literal_mappings" ->
      s"""SELECT * FROM (VALUES ${lexiconValuesSql(singleWordOnly = false)}) t(text, curie)""",

    "q_subset" ->
      """SELECT * FROM (VALUES
        | ('big','PATO:0000118'), ('large','PATO:0000118'), ('huge','PATO:0000118'),
        | ('small','PATO:0000119'), ('little','PATO:0000119')) t(text, curie)""".stripMargin,

    "q_xref_merge" ->
      """SELECT * FROM (VALUES
        | ('CHEBI:0000118', 'PATO:0000118'),
        | ('CHEBI:0000777', 'PATO:0000120')) t(curie, canonical)""".stripMargin,

    "q_graph_header" ->
      """SELECT 'PATO - the Phenotype And Trait Ontology' AS graph_lbl,
        | 'http://purl.obolibrary.org/obo/pato/releases/2026-01-01/pato.owl' AS version,
        | 'quality' AS default_namespace""".stripMargin,

    "q_source_resolution" ->
      """SELECT 'obograph-json' AS resolved_kind, CAST(2 AS BIGINT) AS n_messages,
        | CAST(1 AS BIGINT) AS n_graphs""".stripMargin,

    // exact-predicate oracles for the sketch family: the engine's candidate
    // generation has structural recall at these parameters, so its realized
    // output equals a predicate DuckDB can recompute exactly.
    "q_dedup_minhash" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE doc_id < 500),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks)-1),
        |                i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        |  FROM d)
        |SELECT a, b, jaccard FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |          / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
        |  FROM s x JOIN s y ON x.doc_id < y.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin,

    "q_dedup_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents WHERE doc_id < 300),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN length(t) < 8 THEN [t]
        |         ELSE list_distinct(list_transform(range(1, length(t)-6),
        |                i -> substr(t, i, 8))) END AS grams
        |  FROM d)
        |SELECT a, b, n_shared FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    CAST(len(list_intersect(x.grams, y.grams)) AS BIGINT) AS n_shared,
        |    least(len(x.grams), len(y.grams)) AS min_fp
        |  FROM g x JOIN g y ON x.doc_id < y.doc_id)
        |WHERE n_shared >= greatest(3, CAST(ceil(0.35 * min_fp) AS BIGINT))""".stripMargin,

    "q_dedup_spans" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(toks[i+1:i+8], ' ') AS gram
        |  FROM d, LATERAL (SELECT unnest(range(0, len(toks)-7)) AS i)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        |hits AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
        |brks AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos <= lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |         THEN 0 ELSE 1 END AS brk
        |  FROM hits),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM brks)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |       CAST(max(pos) + 7 AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, isl""".stripMargin,

    // Every double op mirrors the Spark expression's association exactly;
    // non-representable constants (k1+1) are COMPUTED identically on both
    // sides rather than written as literals (1.2+1.0 may round differently
    // than the literal 2.2).
    "q_bm25_topk" ->
      s"""WITH $bm25AggCtes
        |SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank FROM (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM agg)
        |WHERE rank <= 5""".stripMargin,

    // Hybrid RRF fusion: both legs replayed verbatim (the q_bm25_topk CTEs
    // and the q_ann_topk brute-force shape, each cut at pool depth 10), then
    // the same fixed-association 1/(60+r) sum over the full-outer rank join.
    "q_retrieval_hybrid" ->
      s"""WITH $bm25AggCtes,
        |sparse AS (
        |  SELECT query_id, doc_id, r FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
        |    FROM agg) WHERE r <= 10),
        |qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
        |       FROM embeddings WHERE vec_id < 5),
        |dsc AS (
        |  SELECT qv.query_id, e.vec_id AS doc_id,
        |         round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qvec), 6) AS cos
        |  FROM embeddings e CROSS JOIN qv),
        |dense AS (
        |  SELECT query_id, doc_id, r FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS r
        |    FROM dsc) WHERE r <= 10),
        |fused AS (
        |  SELECT coalesce(s.query_id, dn.query_id) AS query_id,
        |         coalesce(s.doc_id, dn.doc_id) AS doc_id,
        |         coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + s.r),
        |                  CAST(0.0 AS DOUBLE))
        |       + coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + dn.r),
        |                  CAST(0.0 AS DOUBLE)) AS rrf
        |  FROM sparse s FULL OUTER JOIN dense dn
        |    ON s.query_id = dn.query_id AND s.doc_id = dn.doc_id)
        |SELECT query_id, doc_id, round(rrf, 6) AS rrf, CAST(rank AS INT) AS rank FROM (
        |  SELECT query_id, doc_id, rrf,
        |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
        |  FROM fused) WHERE rank <= 5""".stripMargin,

    // Mirrors NgramLm.bigramLogProb: counts retrained on term strings,
    // V from a subquery (the engine inlines the same integer), transition
    // expression association identical, DECIMAL(28,8) before the sum.
    "q_lm_bigram" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |uni AS (SELECT t AS term FROM d, LATERAL (SELECT unnest(toks) AS t)),
        |c1 AS (SELECT term, count(*) AS c FROM uni GROUP BY term),
        |vocab AS (SELECT count(DISTINCT term) AS v FROM uni),
        |big AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
        |  WHERE len(toks) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
        |scored AS (
        |  SELECT big.doc_id,
        |    CAST(ln((c2.c + CAST(0.5 AS DOUBLE))
        |             / (c1.c + CAST(0.5 AS DOUBLE) * s.v))
        |      AS DECIMAL(28,8)) AS w
        |  FROM big
        |  JOIN c2 ON big.w1 = c2.w1 AND big.w2 = c2.w2
        |  JOIN c1 ON big.w1 = c1.term
        |  CROSS JOIN vocab s)
        |SELECT doc_id, count(*) AS n_trans,
        |       CAST(sum(w) AS DOUBLE) / count(*) AS avg_logprob
        |FROM scored GROUP BY doc_id""".stripMargin,

    "q_dedup_simhash" -> {
      // 60-bit signature reassembled from per-bit vote sums; bits 60-63 of
      // the 15-hex-char hash are structurally 0 on both sides
      val sigBits = (0 until 60).map(j =>
        s"(CASE WHEN SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString("(", " + ", ")")
      s"""WITH d AS (
         |  SELECT doc_id,
         |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM documents WHERE doc_id < 500),
         |tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
         |h AS (
         |  SELECT doc_id,
         |    list_reduce(list_transform(range(1, 16),
         |        i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
         |      (acc, x) -> acc * 16 + x) AS h
         |  FROM tok),
         |sig AS (SELECT doc_id, $sigBits AS sig FROM h GROUP BY doc_id)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |       CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
         |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sig, y.sig)) <= 4""".stripMargin
    },

    "q_dedup_groups" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE doc_id < 500),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks)-1),
        |                i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        |  FROM d),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |      round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |            / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
        |    FROM s x JOIN s y ON x.doc_id < y.doc_id)
        |  WHERE jaccard >= 0.5),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
        |        UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
        |reach(doc_id, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.doc_id, sym.b FROM reach JOIN sym ON reach.r = sym.a)
        |SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (
        |    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS group_rep
        |FROM documents""".stripMargin,

    // portable row hash reassembled hex-digit-by-hex-digit (same technique
    // as the simhash oracle); thresholds are the SAME Scala-computed longs
    // the engine filter uses — inlined, so cast semantics cannot diverge
    "q_sample_mix" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    list_reduce(list_transform(range(1, 16),
         |        i -> CAST(strpos('0123456789abcdef',
         |               substr(md5(CAST(doc_id AS VARCHAR) || 'graft-mix'), i, 1)) - 1 AS BIGINT)),
         |      (acc, x) -> acc * 16 + x) AS h
         |  FROM documents)
         |SELECT doc_id, lang FROM h
         |WHERE h < CASE lang WHEN 'en' THEN ${TextOps.rateThreshold(0.5)}
         |                    WHEN 'de' THEN ${TextOps.rateThreshold(0.25)}
         |                    ELSE ${TextOps.rateThreshold(0.1)} END""".stripMargin,

    // same 60-bit md5-derived hash as q_sample_mix, different salt; the
    // window ordering (hash asc, doc_id asc) is replicated exactly
    "q_domain_cap" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef',
        |               substr(md5(CAST(doc_id AS VARCHAR) || 'graft-cap'), i, 1)) - 1 AS BIGINT)),
        |      (acc, x) -> acc * 16 + x) AS h
        |  FROM documents)
        |SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC) AS r
        |  FROM h)
        |WHERE r <= 10""".stripMargin,

    "q_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks)-1),
        |                i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        |  FROM d)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS dup_token_frac,
        |  round(1.0 - CAST(len(sh) AS DOUBLE) / greatest(len(toks) - 2, 1), 6) AS dup_shingle_frac
        |FROM s""".stripMargin,

    // the regex chain is shared verbatim with the engine (TextOps.EmailRe &
    // co are RE2-compatible by design); order is part of the contract
    "q_redact_pii" ->
      s"""SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(
         |        coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
         |          || '@example.org or 10.7.' || CAST(doc_id % 200 AS VARCHAR)
         |          || '.99 tel +1 555 123 4567',
         |        '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |      '${TextOps.Ipv4Re}', '<IP>', 'g'),
         |    '${TextOps.PhoneRe}', '<PHONE>', 'g') AS redacted
         |FROM documents WHERE doc_id < 300""".stripMargin,

    // token counts mirror q_text_metrics' n_tokens; the oracle's single
    // global-order window IS the semantics the engine's two-level prefix sum
    // must reproduce exactly
    // the windowed SUM must be CAST back: DuckDB widens SUM(BIGINT) to
    // HUGEINT, which `//`/`%` propagate — a schema mismatch against the
    // engine's long columns even when every value is equal
    "q_pack_sequences" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |        CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS "offset"
        |      FROM c)
        |SELECT doc_id, n_tokens, "offset",
        |       "offset" // 2048 AS seq_id,
        |       "offset" % 2048 AS offset_in_seq
        |FROM o""".stripMargin,

    "q_dedup_incremental" ->
      """WITH norm AS (SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n FROM documents),
        |hist AS (SELECT DISTINCT n FROM norm WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, n FROM norm WHERE doc_id >= 250 AND doc_id < 500
        |  UNION ALL SELECT doc_id + 10000, n FROM norm WHERE doc_id BETWEEN 100 AND 120
        |  UNION ALL SELECT doc_id + 20000, n FROM norm WHERE doc_id BETWEEN 250 AND 260),
        |keep AS (SELECT n, min(doc_id) AS doc_id FROM batch GROUP BY n)
        |SELECT k.doc_id FROM keep k
        |WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.n = k.n)""".stripMargin,

    // survivors = batch ids whose exact-Jaccard component (over hist∪batch)
    // has no smaller-id member: hist ids (<250) sort below every batch id,
    // so "min reachable < own id" covers BOTH the history-connected drop and
    // the non-representative drop; singletons (no pair) survive. Same
    // shingle/Jaccard CTEs as q_dedup_minhash, same reachability as
    // q_dedup_groups.
    "q_dedup_minhash_incremental" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE doc_id < 500),
        |u AS (
        |  SELECT doc_id, toks FROM d0
        |  UNION ALL SELECT doc_id + 10000, toks FROM d0 WHERE doc_id BETWEEN 100 AND 120
        |  UNION ALL SELECT doc_id + 20000, toks FROM d0 WHERE doc_id BETWEEN 250 AND 260),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks)-1),
        |                i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        |  FROM u),
        |pairs AS (
        |  SELECT a, b FROM (
        |    SELECT x.doc_id AS a, y.doc_id AS b,
        |      round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |            / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
        |    FROM s x JOIN s y ON x.doc_id < y.doc_id)
        |  WHERE jaccard >= 0.5),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
        |        UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
        |reach(doc_id, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.doc_id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        |dropped AS (SELECT doc_id FROM reach GROUP BY doc_id HAVING min(r) < doc_id)
        |SELECT doc_id FROM u
        |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,

    // the per-stage CTEs are the SAME SQL as q_dedup_exact / q_decontaminate
    // / q_repetition / q_sample_mix / q_redact_pii — composed in the engine's
    // stage order so any drift in the composition fails the gate
    "q_hygiene" ->
      s"""WITH raw AS (SELECT doc_id, lang, text FROM documents WHERE doc_id < 2000),
         |keep0 AS (SELECT min(doc_id) AS doc_id FROM raw
         |          GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')),
         |d0 AS (SELECT raw.* FROM raw JOIN keep0 USING (doc_id)),
         |tok AS (SELECT doc_id,
         |          string_split(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g'), ' ') AS toks
         |        FROM raw),
         |dsh AS (SELECT tok.doc_id,
         |          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |               ELSE list_distinct(list_transform(range(1, len(toks)-1),
         |                      i -> array_to_string(toks[i:i+2], ' '))) END AS sh
         |        FROM tok JOIN d0 ON tok.doc_id = d0.doc_id),
         |b0 AS (SELECT doc_id AS bench_id, toks[1:12] AS btoks FROM tok WHERE doc_id % 41 = 0),
         |bsh AS (SELECT bench_id,
         |          CASE WHEN len(btoks) < 3 THEN [array_to_string(btoks, ' ')]
         |               ELSE list_distinct(list_transform(range(1, len(btoks)-1),
         |                      i -> array_to_string(btoks[i:i+2], ' '))) END AS sh
         |        FROM b0),
         |flagged AS (
         |  SELECT DISTINCT d.doc_id
         |  FROM dsh d CROSS JOIN bsh b
         |  WHERE len(list_intersect(d.sh, b.sh)) > 0
         |    AND round(CAST(len(list_intersect(d.sh, b.sh)) AS DOUBLE) / len(b.sh), 6) >= 0.8),
         |d1 AS (SELECT * FROM d0 WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
         |d2 AS (SELECT d1.* FROM d1 JOIN tok ON d1.doc_id = tok.doc_id
         |       WHERE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) <= 0.68),
         |h AS (SELECT doc_id, lang, text,
         |        list_reduce(list_transform(range(1, 16),
         |            i -> CAST(strpos('0123456789abcdef',
         |                   substr(md5(CAST(doc_id AS VARCHAR) || 'graft-mix'), i, 1)) - 1 AS BIGINT)),
         |          (acc, x) -> acc * 16 + x) AS h
         |      FROM d2),
         |d3 AS (SELECT doc_id, lang, text FROM h
         |       WHERE h < CASE lang WHEN 'en' THEN ${TextOps.rateThreshold(0.5)}
         |                           WHEN 'de' THEN ${TextOps.rateThreshold(0.25)}
         |                           ELSE ${TextOps.rateThreshold(0.1)} END)
         |SELECT doc_id, lang,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |      '${TextOps.Ipv4Re}', '<IP>', 'g'),
         |    '${TextOps.PhoneRe}', '<PHONE>', 'g') AS redacted
         |FROM d3""".stripMargin,

    // full hygiene chain INCLUDING the minhash survivor stage: same CTEs as
    // q_hygiene plus the q_dedup_minhash pairwise-Jaccard predicate and the
    // q_dedup_groups recursive reachability, replayed in ENGINE stage order
    // (exact → minhash → decontaminate → repetition → sample → redact)
    "q_hygiene_full" ->
      s"""WITH RECURSIVE raw AS (SELECT doc_id, lang, text FROM documents WHERE doc_id < 500),
         |keep0 AS (SELECT min(doc_id) AS doc_id FROM raw
         |          GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')),
         |d0 AS (SELECT raw.* FROM raw JOIN keep0 USING (doc_id)),
         |tok AS (SELECT doc_id,
         |          string_split(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g'), ' ') AS toks
         |        FROM raw),
         |sh0 AS (SELECT tok.doc_id,
         |          CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |               ELSE list_distinct(list_transform(range(1, len(toks)-1),
         |                      i -> array_to_string(toks[i:i+2], ' '))) END AS sh
         |        FROM tok),
         |s0 AS (SELECT sh0.* FROM sh0 JOIN d0 ON sh0.doc_id = d0.doc_id),
         |pairs AS (
         |  SELECT a, b FROM (
         |    SELECT x.doc_id AS a, y.doc_id AS b,
         |      round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
         |            / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
         |    FROM s0 x JOIN s0 y ON x.doc_id < y.doc_id)
         |  WHERE jaccard >= 0.5),
         |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
         |        UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
         |reach(doc_id, r) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT reach.doc_id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
         |nd_dropped AS (
         |  SELECT doc_id FROM (SELECT doc_id, min(r) AS keep_id FROM reach GROUP BY doc_id)
         |  WHERE doc_id <> keep_id),
         |d1 AS (SELECT * FROM d0 WHERE doc_id NOT IN (SELECT doc_id FROM nd_dropped)),
         |dsh AS (SELECT sh0.* FROM sh0 JOIN d1 ON sh0.doc_id = d1.doc_id),
         |b0 AS (SELECT doc_id AS bench_id, toks[1:12] AS btoks FROM tok WHERE doc_id % 41 = 0),
         |bsh AS (SELECT bench_id,
         |          CASE WHEN len(btoks) < 3 THEN [array_to_string(btoks, ' ')]
         |               ELSE list_distinct(list_transform(range(1, len(btoks)-1),
         |                      i -> array_to_string(btoks[i:i+2], ' '))) END AS sh
         |        FROM b0),
         |flagged AS (
         |  SELECT DISTINCT d.doc_id
         |  FROM dsh d CROSS JOIN bsh b
         |  WHERE len(list_intersect(d.sh, b.sh)) > 0
         |    AND round(CAST(len(list_intersect(d.sh, b.sh)) AS DOUBLE) / len(b.sh), 6) >= 0.8),
         |d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
         |d3 AS (SELECT d2.* FROM d2 JOIN tok ON d2.doc_id = tok.doc_id
         |       WHERE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) <= 0.68),
         |h AS (SELECT doc_id, lang, text,
         |        list_reduce(list_transform(range(1, 16),
         |            i -> CAST(strpos('0123456789abcdef',
         |                   substr(md5(CAST(doc_id AS VARCHAR) || 'graft-mix'), i, 1)) - 1 AS BIGINT)),
         |          (acc, x) -> acc * 16 + x) AS h
         |      FROM d3),
         |d4 AS (SELECT doc_id, lang, text FROM h
         |       WHERE h < CASE lang WHEN 'en' THEN ${TextOps.rateThreshold(0.5)}
         |                           WHEN 'de' THEN ${TextOps.rateThreshold(0.25)}
         |                           ELSE ${TextOps.rateThreshold(0.1)} END)
         |SELECT doc_id, lang,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |      '${TextOps.Ipv4Re}', '<IP>', 'g'),
         |    '${TextOps.PhoneRe}', '<PHONE>', 'g') AS redacted
         |FROM d4""".stripMargin,

    "q_mention_detect" ->
      s"""WITH transcripts AS ($T),
         |t AS (SELECT conv_id, turn_idx,
         |        trim(regexp_replace(lower(text), '[-_\\s]+', ' ', 'g')) AS norm
         |      FROM transcripts),
         |lex AS (SELECT DISTINCT
         |          trim(regexp_replace(lower(term), '[-_\\s]+', ' ', 'g')) AS term
         |        FROM (VALUES ${lexiconValuesSql(singleWordOnly = false)}) v(term, curie))
         |SELECT DISTINCT conv_id, turn_idx, CAST(i - 1 AS INT) AS start,
         |       CAST(i - 1 + length(term) AS INT) AS "end", term AS surface
         |FROM t, lex,
         |     LATERAL (SELECT unnest(range(1, length(t.norm) - length(lex.term) + 2)) AS i) gs
         |WHERE substr(t.norm, i, length(term)) = term
         |  AND (i = 1 OR NOT regexp_matches(substr(t.norm, i - 1, 1), '[\\p{L}\\p{Nd}]'))
         |  AND (i + length(term) > length(t.norm)
         |       OR NOT regexp_matches(substr(t.norm, i + length(term), 1), '[\\p{L}\\p{Nd}]'))""".stripMargin,

    "q_media_features" ->
      """SELECT CAST(i AS BIGINT) AS media_id,
        |  CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  CAST(4096 AS INT) AS n_bytes
        |FROM range(0, 200) t(i)""".stripMargin,

    // formulas mirrored from MultimodalOps.syntheticMediaContainers — the
    // engine side encodes the BMP/WAV container and decodes it back; the
    // oracle derives the decoded sums directly, pinning the codec round-trip
    "q_media_bmp" ->
      """SELECT CAST(id AS BIGINT) AS media_id,
        |       CAST(13 + (id % 7) * 5 AS INT) AS width,
        |       CAST(8 + (id % 5) * 6 AS INT) AS height,
        |       CAST(SUM((x * 7 + y * 3 + id) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((x * 5 + y * 11 + 2 * id) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((x + y + 3 * id) % 256) AS BIGINT) AS sum_b
        |FROM range(0, 120) t(id)
        |CROSS JOIN range(0, 43) xs(x)
        |CROSS JOIN range(0, 32) ys(y)
        |WHERE id % 3 = 0
        |  AND x < 13 + (id % 7) * 5 AND y < 8 + (id % 5) * 6
        |GROUP BY id""".stripMargin,

    "q_media_wav" ->
      """SELECT CAST(id AS BIGINT) AS media_id,
        |       CAST(8000 + (id % 5) * 2000 AS INT) AS sample_rate,
        |       CAST(50 + (id % 10) * 25 AS INT) AS n_samples,
        |       CAST(SUM((i * 37 + id * 101) % 4001 - 2000) AS BIGINT) AS sum_samples,
        |       CAST(MAX((i * 37 + id * 101) % 4001 - 2000) AS INT) AS max_sample
        |FROM range(0, 120) t(id)
        |CROSS JOIN range(0, 275) ii(i)
        |WHERE id % 3 = 1 AND i < 50 + (id % 10) * 25
        |GROUP BY id""".stripMargin,

    // formulas mirrored from MultimodalOps.syntheticPngMedia — the engine
    // encodes real PNGs (DEFLATE + per-row filters + CRCs) and decodes them
    // back; the oracle derives the decoded sums directly, pinning the whole
    // entropy-coded round-trip (alpha is dropped by decode, so id%2==1 RGBA
    // rows must produce the same sums as the RGB formula alone)
    "q_media_png" ->
      """SELECT CAST(id AS BIGINT) AS media_id,
        |       CAST(9 + (id % 6) * 7 AS INT) AS width,
        |       CAST(7 + (id % 4) * 9 AS INT) AS height,
        |       CAST(SUM((x * 11 + y * 5 + id) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((x * 3 + y * 13 + 5 * id) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((x * 2 + y * 7 + 11 * id) % 256) AS BIGINT) AS sum_b
        |FROM range(0, 100) t(id)
        |CROSS JOIN range(0, 44) xs(x)
        |CROSS JOIN range(0, 34) ys(y)
        |WHERE x < 9 + (id % 6) * 7 AND y < 7 + (id % 4) * 9
        |GROUP BY id""".stripMargin,

    // formulas mirrored from MultimodalOps.syntheticGifMedia: palette entry
    // i = (x*7+y*11+id)%64 is looked up per pixel — the oracle composes the
    // palette and pixel formulas directly
    "q_media_gif" ->
      """SELECT CAST(id AS BIGINT) AS media_id,
        |       CAST(11 + (id % 5) * 6 AS INT) AS width,
        |       CAST(9 + (id % 7) * 4 AS INT) AS height,
        |       CAST(SUM((3 * ((x * 7 + y * 11 + id) % 64) + id) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((5 * ((x * 7 + y * 11 + id) % 64) + 2 * id) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((7 * ((x * 7 + y * 11 + id) % 64) + 3 * id) % 256) AS BIGINT) AS sum_b
        |FROM range(0, 100) t(id)
        |CROSS JOIN range(0, 35) xs(x)
        |CROSS JOIN range(0, 33) ys(y)
        |WHERE x < 11 + (id % 5) * 6 AND y < 9 + (id % 7) * 4
        |GROUP BY id""".stripMargin,

    // resizeNearest's source-pixel map (x*srcW/outW with floor division) over
    // the q_media_png generation formulas: the oracle reads the SOURCE pixel
    // each output pixel samples, so the decode→resize→encode→decode chain
    // must reproduce it exactly
    "q_media_resize" ->
      """SELECT CAST(id AS BIGINT) AS media_id,
        |       CAST(16 AS INT) AS width,
        |       CAST(12 AS INT) AS height,
        |       CAST(SUM((sx * 11 + sy * 5 + id) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((sx * 3 + sy * 13 + 5 * id) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((sx * 2 + sy * 7 + 11 * id) % 256) AS BIGINT) AS sum_b
        |FROM range(0, 100) t(id)
        |CROSS JOIN range(0, 16) xs(x)
        |CROSS JOIN range(0, 12) ys(y),
        |LATERAL (SELECT (x * (9 + (id % 6) * 7)) // 16 AS sx,
        |                (y * (7 + (id % 4) * 9)) // 12 AS sy) m
        |GROUP BY id""".stripMargin,

    // LSH oracles: DuckDB recomputes the engine's deterministic hyperplane
    // buckets from inlined plane literals, then applies the same candidate
    // predicate + exact cosine — a full value-level check of the LSH path.
    "q_dedup_semantic" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM embeddings WHERE vec_id < 500),
         |d AS (SELECT vec_id, v, ${semanticDistSql("v")} FROM e),
         |a AS (SELECT vec_id, v, $semanticArgminSql AS list_id FROM d)
         |SELECT x.vec_id AS a, y.vec_id AS b,
         |       round(list_cosine_similarity(x.v, y.v), 6) AS cos
         |FROM a x JOIN a y ON x.list_id = y.list_id AND x.vec_id < y.vec_id
         |WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.15""".stripMargin,

    "q_dedup_embedding" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         ${bucketSql("embedding::DOUBLE[]", 16)} AS bucket
         |  FROM embeddings)
         |SELECT x.vec_id AS a, y.vec_id AS b,
         |       round(list_cosine_similarity(x.v, y.v), 6) AS cos
         |FROM b x JOIN b y ON x.vec_id < y.vec_id
         |WHERE bit_count(xor(x.bucket, y.bucket)) <= 2
         |  AND round(list_cosine_similarity(x.v, y.v), 6) >= 0.15""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         ${bucketSql("embedding::DOUBLE[]", 6)} AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM b WHERE vec_id < 5),
         |probes AS (
         |  SELECT query_id, qv,
         |         unnest([qb, xor(qb,1::BIGINT), xor(qb,2::BIGINT), xor(qb,4::BIGINT),
         |                 xor(qb,8::BIGINT), xor(qb,16::BIGINT), xor(qb,32::BIGINT)]) AS bucket
         |  FROM q),
         |scored AS (
         |  SELECT DISTINCT p.query_id, c.vec_id,
         |         round(list_cosine_similarity(c.v, p.qv), 6) AS cos
         |  FROM b c JOIN probes p ON c.bucket = p.bucket),
         |ranked AS (
         |  SELECT query_id, vec_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin)

  // ---------------------------------------------------------------------
  // shared lexicon builders (run the real operator chain on the fixture)
  // ---------------------------------------------------------------------

  private def ontologyLexiconFull(s: SparkSession): DataFrame = {
    val (nodes, _) = KgPipeline.standardizeGraphs(
      OboGraphReader.readGraphs(s, ontologyPath), conv, Some("PATO"))
    LiteralMappings.fromNodes(nodes, "PATO")
  }

  private def ontologyLexicon(s: SparkSession): DataFrame =
    ontologyLexiconFull(s).select("text").distinct()
}
