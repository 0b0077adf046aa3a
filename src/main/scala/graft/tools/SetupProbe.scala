package graft.tools

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftshim.InternalRowShim
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.curie.Converter
import graft.ground.{AhoCorasick, Grounder}
import graft.model.PrefixRecord
import graft.operators.{DriverProbe, GraphStandardizer, LiteralMappings}
import graft.pipeline.KgPipeline
import graft.sources.OboGraphReader

/**
 * Where a fresh-session `KgPipeline.prepare` spends its critical path, step
 * by step: the steps of `prepareGraphs`, run one at a time, on an ontology
 * and extra lexicon of kgbench corpus_detect's shape (1,500 nodes with
 * labels, synonyms, xrefs, is_a edges and equivalence sets; 10,000 literal
 * mappings).
 *
 * A step's critical path is counted as kgbench counts `setup_s`: the CPU of
 * every Java thread outside Spark tasks plus the collectors' time (serial),
 * plus, per stage, the larger of its task CPU over the cores and its longest
 * task. The steps:
 *  - `session`: a new SparkSession (the previous one stopped);
 *  - `read_graphs`: `OboGraphReader.readGraphs` (its probe job);
 *  - `nodes_xref`: standardized nodes (cached), their literal mappings and
 *    the xref canonical map (its probe job);
 *  - `grounder_probe`: the one job collecting `Grounder.lexiconRows`;
 *  - `driver_build`: the driver half of `Grounder.build` without the trie;
 *  - `trie`: `AhoCorasick.build`;
 *  - `broadcast`: broadcasting the grounder;
 *  - `edges`: the ontology triples, cached and counted.
 * One untimed set-up warms the JIT, then `PROBE_SESSIONS` timed ones each
 * start from a new session, as kgbench's do.
 *
 * {{{
 * sbt -batch "runMain graft.tools.SetupProbe"
 * PROBE_SESSIONS=7 PROBE_SEED=2 PROBE_CORES=4 sbt -batch "runMain graft.tools.SetupProbe"
 * }}}
 *
 * Prints ONE JSON line: per step its min and median critical-path seconds,
 * their sum (`total`), `sessions`, `patterns` and `edges` (equal in every
 * session).
 */
object SetupProbe {

  val Steps = Seq("session", "read_graphs", "nodes_xref", "grounder_probe", "driver_build",
    "trie", "broadcast", "edges")

  private val Prefix = "GEN"
  private val GenUri = "http://example.org/obo/GEN_"
  private val XrefUri = "http://example.org/xr/"

  val converter = new Converter(Seq(
    PrefixRecord(Prefix, GenUri, Seq("gen")),
    PrefixRecord("XR", XrefUri),
    PrefixRecord("LEX", "http://example.org/lex/"),
    PrefixRecord("BFO", "http://purl.obolibrary.org/obo/BFO_"),
    PrefixRecord("oboInOwl", "http://www.geneontology.org/formats/oboInOwl#"),
    PrefixRecord("rdfs", "http://www.w3.org/2000/01/rdf-schema#")))

  /** An OBO Graph JSON document of `nNodes` GEN classes: a two-word label
    * each, an exact synonym for two in three, a related synonym for one in
    * three, an XR xref for one in four, a parent edge (`is_a`, or the
    * subClassOf IRI for one in seven) for every node but the first, a
    * part-of edge for one in eleven, and an equivalence set for one in 97. */
  def ontologyJson(nNodes: Int, seed: Long): String = {
    val r = new java.util.SplittableRandom(seed)
    val words = nNodes * 3
    def term(): String = KernelProbe.termWord(r.nextInt(words))
    def id(i: Int): String = f"$GenUri$i%07d"
    val nodes, edges, sets = new mutable.ArrayBuffer[String]
    for (i <- 0 until nNodes) {
      val syns = mutable.ArrayBuffer[String]()
      if (r.nextInt(3) > 0) syns += s"""{"val":"${term()}","pred":"hasExactSynonym"}"""
      if (r.nextInt(3) == 0) syns += s"""{"val":"${term()} ${term()}","pred":"hasRelatedSynonym"}"""
      val xrefs = if (r.nextInt(4) == 0) s"""{"val":"XR:${r.nextInt(nNodes / 2 + 1)}"}""" else ""
      nodes += s"""{"id":"${id(i)}","lbl":"${term()} ${term()}","type":"CLASS",""" +
        s""""meta":{"synonyms":${syns.mkString("[", ",", "]")},"xrefs":[$xrefs]}}"""
      if (i > 0) {
        val pred = if (i % 7 == 0) "http://www.w3.org/2000/01/rdf-schema#subClassOf" else "is_a"
        edges += s"""{"sub":"${id(i)}","pred":"$pred","obj":"${id(r.nextInt(i))}"}"""
        if (i % 11 == 0) edges +=
          s"""{"sub":"${id(i)}","pred":"http://purl.obolibrary.org/obo/BFO_0000050","obj":"${id(r.nextInt(i))}"}"""
      }
      if (i % 97 == 13) sets += s"""{"nodeIds":["${id(i)}","${id(i - 1)}","$XrefUri${r.nextInt(nNodes / 2 + 1)}"]}"""
    }
    s"""{"graphs":[{"id":"http://example.org/obo/gen.owl","lbl":"GEN probe ontology",""" +
      s""""nodes":${nodes.mkString("[", ",", "]")},"edges":${edges.mkString("[", ",", "]")},""" +
      s""""equivalentNodesSets":${sets.mkString("[", ",", "]")}}]}"""
  }

  private val lexiconSchema = StructType(Seq("prefix", "id", "predicate", "text", "name", "source")
    .map(StructField(_, StringType)) :+ StructField("provenance", ArrayType(StringType)))

  /** Task CPU per stage attempt, summed and at its longest. */
  private final class StageCpu extends SparkListener {
    private val stages = mutable.Map[(Int, Int), (Long, Long)]()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val k = (e.stageId, e.stageAttemptId)
        val ns = m.executorDeserializeCpuTime + m.executorCpuTime
        val (sum, longest) = stages.getOrElse(k, (0L, 0L))
        stages(k) = (sum + ns, math.max(longest, ns))
      }
    }
    /** Task CPU ns since the last call, and the stages' critical path. */
    def take(cores: Int): (Long, Long) = synchronized {
      val r = (stages.values.map(_._1).sum,
        stages.values.iterator.map { case (sum, longest) => math.max(sum / cores, longest) }.sum)
      stages.clear()
      r
    }
  }

  private val threads = ManagementFactory.getThreadMXBean
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** CPU ns of every live Java thread, by id, and the collectors' ms. */
  private def cpuNow(): (Map[Long, Long], Long) =
    (threads.getAllThreadIds.iterator.map(t => t -> threads.getThreadCpuTime(t))
      .filter(_._2 >= 0).toMap, collectors.map(_.getCollectionTime).filter(_ >= 0).sum)

  /** One set-up's critical path per step, in seconds. */
  private def setUp(path: String, lexicon: Seq[Row], cores: Int,
                    stop: Option[SparkSession]): (Map[String, Double], SparkSession, Int, Long) = {
    val times = mutable.LinkedHashMap[String, Double]()
    val stageCpu = new StageCpu
    var sc: org.apache.spark.SparkContext = null
    var mark = cpuNow()
    // driver-side ns to leave out of the step being closed (the trie's, out
    // of driver_build) and to add to another
    def close(step: String, excludeNs: Long = 0L): Unit = {
      if (sc != null) InternalRowShim.drainListeners(sc)
      val now = cpuNow()
      val cpuNs = now._1.iterator.map { case (t, ns) => ns - mark._1.getOrElse(t, 0L) }.sum +
        (now._2 - mark._2) * 1000000L
      val (taskNs, pathNs) = stageCpu.take(cores)
      times(step) = (cpuNs - taskNs + pathNs - excludeNs) / 1e9
      mark = cpuNow()
    }
    stop.foreach(_.stop())
    System.gc()
    mark = cpuNow()

    val spark = graft.SparkDefaults.builder("graft-setup-probe", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    sc.addSparkListener(stageCpu)
    close("session")

    val graphs = OboGraphReader.readGraphs(spark, path)
    close("read_graphs")

    val nodes = GraphStandardizer.standardizeNodes(graphs, converter, Some(Prefix)).cache()
    val canonical = KgPipeline.xrefCanonicalMap(nodes, Some(Prefix),
      Some(GraphStandardizer.equivalentNodeEdges(graphs, converter)))
    close("nodes_xref")

    val extra = spark.createDataFrame(sc.parallelize(lexicon, cores), lexiconSchema)
    val all = LiteralMappings.fromNodes(nodes, Prefix).unionByName(extra)
    val rows = DriverProbe.bounded(Grounder.lexiconRows(all), Grounder.MaxDriverPatterns).get
    close("grounder_probe")

    var trieNs = 0L
    val grounder = Grounder.fromRows(rows, canonical, patterns => {
      val t0 = threads.getCurrentThreadCpuTime
      val a = AhoCorasick.build(patterns)
      trieNs = threads.getCurrentThreadCpuTime - t0
      a
    })
    close("driver_build", excludeNs = trieNs)
    times("trie") = trieNs / 1e9

    val bc = sc.broadcast(grounder)
    close("broadcast")

    val edges = KgPipeline.ontologyTriples(graphs, converter, canonical)
    val nEdges = edges.count()
    close("edges")

    KgPipeline.OntologyContext(nodes, edges, bc, canonical).release()
    (Steps.map(s => s -> times(s)).toMap, spark, grounder.automaton.patterns.length, nEdges)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sessions = sys.env.getOrElse("PROBE_SESSIONS", "5").toInt
    val seed = sys.env.getOrElse("PROBE_SEED", "2").toLong
    val cores = sys.env.getOrElse("PROBE_CORES", "4").toInt

    val dir = java.nio.file.Files.createTempDirectory("graft_setup_probe")
    try {
      val path = dir.resolve("ontology.json")
      java.nio.file.Files.write(path, ontologyJson(1500, seed).getBytes("UTF-8"))
      // the literal-mapping half of KernelProbe's lexicon, as kgbench's rows
      val lexicon = KernelProbe.lexicon(seed, ontologyNodes = 0).map(r =>
        Row(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(3),
          r.getString(0), Seq.empty[String]))

      var (_, spark, patterns, edges) = setUp(path.toString, lexicon, cores, None) // JIT warm-up
      val runs = (0 until sessions).map { _ =>
        val (t, s, p, e) = setUp(path.toString, lexicon, cores, Some(spark))
        spark = s
        require(p == patterns && e == edges, s"set-ups disagree: $p/$e patterns/edges vs $patterns/$edges")
        t
      }
      spark.stop()
      def stat(xs: Seq[Double]): String = {
        val s = xs.sorted
        f"""{"min":${s.head}%.4f,"median":${s(s.length / 2)}%.4f}"""
      }
      val steps = (Steps.map(s => s -> runs.map(_(s))) :+ ("total" -> runs.map(_.values.sum)))
        .map { case (k, xs) => s""""$k":${stat(xs)}""" }
      println(s"""{"probe":"setup","sessions":$sessions,"cores":$cores,"patterns":$patterns,""" +
        s""""edges":$edges,${steps.mkString(",")}}""")
    } finally graft.icelite.NioMetaIO.deleteRecursive(dir.toString)
  }
}
