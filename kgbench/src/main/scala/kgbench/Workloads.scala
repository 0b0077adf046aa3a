package kgbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.curie.Converter
import graft.ground.{Grounder, MentionDetector}
import graft.icelite.Icelite
import graft.model.PrefixRecord
import graft.operators.{CorpusHygiene, DedupOps, GraphStandardizer, LiteralMappings}
import graft.pipeline.{BulkRunner, KgPipeline, RunMetrics}
import graft.sources.{OboGraphReader, SourceResolver}
import graft.streaming.IncrementalKg

/** Output checks of one run; the run fails if any check fails. */
final class Checks {
  val results: mutable.ArrayBuffer[(String, Boolean, String)] = mutable.ArrayBuffer()
  def apply(name: String, ok: Boolean, detail: => String = ""): Unit =
    results += ((name, ok, if (ok) "" else detail))
  def ok: Boolean = results.nonEmpty && results.forall(_._2)
}

/** What one workload needs to know about its run. */
final case class Ctx(spark: SparkSession, inputs: Path, out: Path, seed: Long,
                     sizes: JsonNode, cores: Int) {
  def size(key: String): Int = {
    val n = sizes.path(key)
    require(n.isInt, s"workloads.json: missing size '$key'")
    n.asInt()
  }
}

/** A workload after set-up: closed-loop operations, checks and the traced
  * decomposition into layer calls. */
trait State {
  /** Work items (turns, graph nodes, documents) one operation handles. */
  def items: Double
  /** Runs operation `i`; returns the seconds of its timed part. */
  def op(i: Int): Double
  def check(c: Checks): Unit
  /** count + signature of the output the checks verified, pinned per seed. */
  def outputSignature: (Long, Long)
  def layers(l: Layers): Unit
  /** Extra figures for the printed summary and the trace file. */
  def report: Seq[(String, Any)] = Nil
  def release(): Unit = ()
}

trait Workload {
  def name: String
  /** What one operation handles (`turns`, `docs`) and its printed name. */
  def itemName: String
  def opName: String
  type In
  /** Writes the seeded inputs under `c.inputs` unless already there; outside
    * every metric. */
  def generate(c: Ctx): In
  /** Everything between a fresh session and the first timed operation. */
  def setup(c: Ctx, in: In): State
}

/** Spans plus the listener's job attribution, for the per-layer metrics. */
final class Layers(val spark: SparkSession, val tracer: Tracer, val listener: SpanListener) {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def update(name: String, v: Double): Unit = values(name) = v

  /** Runs `body` in a span; records its duration as `<name>_s`. */
  def timed[T](name: String)(body: => T): (T, Int) = {
    var id = -1
    val r = tracer.span(name) { id = tracer.currentId; body }
    values(name + "_s") = tracer.all(id).seconds
    (r, id)
  }

  def jobs(span: Int): Seq[JobStats] = listener.jobsIn(spark.sparkContext, tracer.subtree(span))
  def cpuSeconds(span: Int): Double = jobs(span).map(_.cpuNs).sum / 1e9
}

object Workloads {

  val all: Seq[Workload] = Seq(CorpusDetect, Curation)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"unknown workload $n"))

  // ---------------------------------------------------------------------------
  // shared helpers
  // ---------------------------------------------------------------------------

  /** count + xor of a 64-bit hash per row: an order-free signature. */
  def signature(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
  def tripleSig(df: DataFrame): (Long, Long) = signature(df, "subj", "pred", "obj")

  /** The benchmark's prefix map: generated ontologies, the shared xref
    * namespace, the foreign prefix, the extra lexicon and public vocabulary. */
  def converter(prefixes: Seq[String]): Converter = new Converter(
    prefixes.map(p => PrefixRecord(p, Gen.uriPrefix(p), Seq(p.toLowerCase))) ++ Seq(
      PrefixRecord(Gen.XrefPrefix, Gen.XrefUri),
      PrefixRecord(Gen.ForeignPrefix, Gen.uriPrefix(Gen.ForeignPrefix)),
      PrefixRecord(Gen.LexiconPrefix, "http://example.org/lex/"),
      PrefixRecord("BFO", "http://purl.obolibrary.org/obo/BFO_"),
      PrefixRecord("RO", "http://purl.obolibrary.org/obo/RO_"),
      PrefixRecord("oboInOwl", "http://www.geneontology.org/formats/oboInOwl#"),
      PrefixRecord("rdfs", "http://www.w3.org/2000/01/rdf-schema#")))

  val lexiconSchema: StructType = StructType(Seq(
    StructField("prefix", StringType), StructField("id", StringType),
    StructField("name", StringType), StructField("predicate", StringType),
    StructField("text", StringType), StructField("source", StringType),
    StructField("provenance", ArrayType(StringType))))

  def lexiconDf(spark: SparkSession, lex: Seq[Gen.Lexeme], parts: Int): DataFrame = {
    val rows = lex.map(l => Row(Gen.LexiconPrefix, l.id, l.text, l.predicate, l.text,
      Gen.LexiconPrefix, Seq.empty[String]))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), lexiconSchema)
  }

  /** Generation is cached per seed: a finished input directory holds this
    * file with the generator's figures. */
  private val Done = "_kgbench_inputs.properties"

  /** Returns the figures of `dir`'s finished inputs; if it has none, deletes
    * what an interrupted generation left there and runs `write`. The marker
    * is written last, through an atomic rename. */
  def cached(dir: Path)(write: => Map[String, String]): Map[String, String] = {
    val f = dir.resolve(Done)
    if (!Files.exists(f)) {
      deleteTree(dir)
      Files.createDirectories(dir)
      val props = new java.util.Properties()
      write.foreach { case (k, v) => props.setProperty(k, v) }
      val tmp = dir.resolve(Done + ".tmp")
      val w = Files.newBufferedWriter(tmp)
      try props.store(w, null) finally w.close()
      Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val props = new java.util.Properties()
    val r = Files.newBufferedReader(f)
    try props.load(r) finally r.close()
    props.asScala.toMap
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  /** Parquet data files under `p` (Spark's part files), with their sizes. */
  def dataFiles(p: Path): Seq[(Path, Long)] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && n.startsWith("part-") && n.endsWith(".parquet")
      }.map(f => (f, Files.size(f))).toList
      finally s.close()
    }

  /** Writes conversations [from, until) as conv_id-bucketed zstd parquet:
    * every conversation lies whole in one file. */
  def writeTranscripts(spark: SparkSession, dir: Path, from: Long, until: Long, seed: Long,
                       plants: Array[String], files: Int): Unit = {
    import spark.implicits._
    spark.range(from, until, 1, files).as[Long]
      .flatMap(i => Gen.conversation(i, seed, plants))
      .repartition(files, col("conv_id"))
      .sortWithinPartitions("conv_id", "turn_idx")
      .write.option("compression", "zstd").parquet(dir.toString)
  }

  def transcriptFigures(spark: SparkSession, dir: Path): Map[String, String] = {
    val r = spark.read.parquet(dir.toString).agg(count(lit(1)), sum(octet_length(col("text")))).head()
    Map("turns" -> r.getLong(0).toString, "text_bytes" -> r.getLong(1).toString)
  }

  // ---------------------------------------------------------------------------
  // KG context of corpus_detect: one generated ontology (prefix GEN) plus a
  // generated extra lexicon
  // ---------------------------------------------------------------------------

  val KgPrefix = "GEN"

  final case class KgInputs(ontology: Path, lexicon: Seq[Gen.Lexeme], plants: Array[String],
                            skipped: Int)

  /** The ontology and lexicon, generated in memory; `writeOntology` puts the
    * document under `c.inputs` (inside a [[cached]] block). */
  def kgInputs(c: Ctx): (KgInputs, () => Unit) = {
    val ont = Gen.ontology(KgPrefix, c.size("ontology_nodes"), c.seed)
    val lex = Gen.lexicon(c.size("lexicon_terms"), c.seed)
    val path = c.inputs.resolve("ontology.json")
    (KgInputs(path, lex, (ont.surfaces ++ lex.map(_.text)).toArray, ont.skipped),
      () => Files.write(path, ont.json.getBytes("UTF-8")))
  }

  /** The forced `KgPipeline.prepare` every KG workload's set-up pays. */
  def prepareKg(c: Ctx, kg: KgInputs): KgPipeline.OntologyContext = {
    val ctx = KgPipeline.prepare(c.spark, kg.ontology.toString, converter(Seq(KgPrefix)),
      Some(KgPrefix), Some(lexiconDf(c.spark, kg.lexicon, c.cores)))
    ctx.edges.count()
    ctx
  }

  /**
   * The calls `KgPipeline.prepare` makes, one span each: resolve, read,
   * standardize, literal mappings, xref merge, grounder build; then one whole
   * `prepare` for the number of passes over the graph document, and the
   * ontology-edge canonicalize + dedup.
   */
  def ontologyLayers(l: Layers, path: Path, prefix: String, conv: Converter,
                     extra: Option[DataFrame], plantedSkips: Int): Unit = {
    val spark = l.spark
    l.timed("sources.resolve") {
      SourceResolver.resolve(spark, Seq(SourceResolver.JsonSource(path.toString)))
    }
    val (graphs, _) = l.timed("sources.read_graphs") {
      val g = OboGraphReader.readGraphs(spark, path.toString)
      g.select(size(col("nodes")), size(col("edges"))).collect()
      g
    }
    val rawNodes = graphs.select(explode(col("nodes"))).count()
    val ((nodes, edges), _) = l.timed("operators.standardize") {
      val (n, e) = KgPipeline.standardizeGraphs(graphs, conv, Some(prefix))
      n.count(); e.count()
      (n, e)
    }
    l("operators.skipped_nodes") = (rawNodes - nodes.count()).toDouble
    val (lexicon, _) = l.timed("operators.literal_mappings") {
      val lm = LiteralMappings.fromNodes(nodes, prefix)
      l("operators.literal_mappings_rows") = lm.count().toDouble
      extra.fold(lm)(x => lm.unionByName(x))
    }
    val ens = GraphStandardizer.equivalentNodeEdges(graphs, conv)
    val xrefEdges = nodes.select(explode(col("xrefs")).as("b")).filter(col("b").isNotNull).count() +
      ens.count()
    l("pipeline.xref_edges") = xrefEdges.toDouble
    l("pipeline.xref_branch") = if (xrefEdges <= KgPipeline.DriverUnionFindLimit) 1.0 else 0.0
    val (canonical, _) = l.timed("pipeline.xref_map") {
      KgPipeline.xrefCanonicalMap(nodes, Some(prefix), Some(ens))
    }
    val (grounder, _) = l.timed("ground.build") { Grounder.build(lexicon, canonical) }
    l("ground.patterns") = grounder.entries.length.toDouble
    l("ground.broadcast_bytes") = org.apache.spark.SparkEnv.get.serializer.newInstance()
      .serialize(grounder).remaining().toDouble
    l.timed("pipeline.ontology_triples") {
      KgPipeline.canonicalize(edges.select("subj", "pred", "obj"), canonical)
        .dropDuplicates("subj", "pred", "obj").count()
    }
    val (ctx, prepSpan) = l.timed("pipeline.prepare") {
      KgPipeline.prepare(spark, path.toString, conv, Some(prefix), extra)
    }
    ctx.release()
    nodes.unpersist(); edges.unpersist()
    l("sources.json_reads") = l.jobs(prepSpan).map(_.inputBytes).sum.toDouble / Files.size(path)
    l("kgbench.planted_skipped_nodes") = plantedSkips.toDouble
  }

  // ---------------------------------------------------------------------------
  // corpus_detect
  // ---------------------------------------------------------------------------

  object CorpusDetect extends Workload {
    val name = "corpus_detect"
    val itemName = "turns"
    val opName = "pass_s"
    type In = (KgInputs, Map[String, String])

    def generate(c: Ctx): In = {
      val (kg, writeOntology) = kgInputs(c)
      val corpus = c.inputs.resolve("corpus")
      (kg, cached(c.inputs) {
        writeOntology()
        writeTranscripts(c.spark, corpus, 0, c.size("conversations"), c.seed, kg.plants,
          c.size("files"))
        transcriptFigures(c.spark, corpus)
      })
    }

    def setup(c: Ctx, in: In): State = new CorpusState(c, in._1, in._2)
  }

  final class CorpusState(c: Ctx, kg: KgInputs, figures: Map[String, String]) extends State {
    private val spark = c.spark
    private val ctx = prepareKg(c, kg)
    private val transcripts = spark.read.parquet(c.inputs.resolve("corpus").toString)
    private val passes = mutable.ArrayBuffer[(Long, Long)]()
    private val turns = figures("turns").toLong
    private val textBytes = figures("text_bytes").toDouble
    val items: Double = turns.toDouble

    private def pass(): (Long, Long) = tripleSig(
      KgPipeline.runPrepared(spark, transcripts, ctx, inputConvPartitioned = true).triples)

    def op(i: Int): Double = {
      val t0 = System.nanoTime()
      passes += pass()
      (System.nanoTime() - t0) / 1e9
    }

    def check(ch: Checks): Unit = {
      ch("every pass has the same count and signature", passes.distinct.size == 1, passes.distinct.mkString(" "))
      val unfused = MentionDetector.mentionTriples(
        MentionDetector.detectTopSlim(MentionDetector.slim(transcripts), ctx.grounder).toDF())
        .unionByName(KgPipeline.canonicalize(ctx.edges.select("subj", "pred", "obj"), ctx.canonical))
        .dropDuplicates("subj", "pred", "obj")
      val expected = tripleSig(unfused)
      ch("fused pass equals detectTop -> mentionTriples + ontology triples",
        passes.headOption.contains(expected), s"pass ${passes.headOption} unfused $expected")
      sweeper.foreach(_.check(ch))
      ingest.foreach(_.check(ch))
    }

    def outputSignature: (Long, Long) = passes.headOption.getOrElse((0L, 0L))

    def layers(l: Layers): Unit = {
      ontologyLayers(l, kg.ontology, KgPrefix, converter(Seq(KgPrefix)),
        Some(lexiconDf(spark, kg.lexicon, c.cores)), kg.skipped)
      val (_, scan) = l.timed("sources.scan") {
        signature(transcripts, "text")
      }
      l("sources.scan_bytes_per_cpu_s") = textBytes / l.cpuSeconds(scan)
      val m = new RunMetrics(spark)
      val (sig, detect) = l.timed("ground.detect") {
        tripleSig(MentionDetector.detectTriples(MentionDetector.slim(transcripts), ctx.grounder, Some(m)))
      }
      l("ground.detect_cpu_s") = l.cpuSeconds(detect)
      l("ground.bytes_per_cpu_s") = textBytes / l.cpuSeconds(detect)
      l("ground.task_skew") = l.listener.skew(l.jobs(detect))
      l("ground.mentions") = m.mentionsEmitted.value.toDouble
      l("ground.triples") = sig._1.toDouble
      l("ground.empty_turns") = m.emptyTurns.value.toDouble
      val (_, run) = l.timed("pipeline.run") { pass() }
      val js = l.jobs(run)
      l("pipeline.jobs_per_pass") = js.size.toDouble
      l("pipeline.shuffle_bytes_per_pass") = js.map(_.shuffleWrite).sum.toDouble
      // the bulk path with icelite on, over this workload's ontology
      val sw = new Sweeper(spark, Seq(KgPrefix -> kg.ontology), transcripts, converter(Seq(KgPrefix)),
        c.out.resolve("sweep"))
      sw.traced(l)
      sweeper = Some(sw)
      // the incremental path: two corpus files landed one after the other
      val in = new Ingest(spark, ctx, dataFiles(c.inputs.resolve("corpus")).map(_._1).sorted.take(2),
        c.out.resolve("ingest"))
      in.traced(l)
      ingest = Some(in)
    }

    private var sweeper: Option[Sweeper] = None
    private var ingest: Option[Ingest] = None

    override def report: Seq[(String, Any)] =
      Seq("turns" -> turns, "text_bytes" -> textBytes.toLong) ++ sweeper.toSeq.flatMap(_.report)
    override def release(): Unit = ctx.release()
  }

  /**
   * One `BulkRunner.run` over a fixed list of ontologies with icelite on,
   * traced: per-ontology job times from BulkRunner's progress events and the
   * icelite writes by call site. Keeps the reports for the checks.
   */
  final class Sweeper(spark: SparkSession, docs: Seq[(String, Path)], transcripts: DataFrame,
                      conv: Converter, root: Path) {
    private var reports: Seq[BulkRunner.JobReport] = Nil
    private var jobSeconds: Seq[(String, Double)] = Nil

    def traced(l: Layers): Unit = {
      deleteTree(root)
      val jobs = docs.map { case (p, path) => BulkRunner.OntologyJob(p, Seq(SourceResolver.JsonSource(path.toString))) }
      val started = mutable.Map[String, Long]()
      val times = mutable.ArrayBuffer[(String, Double)]()
      val (_, span) = l.timed("pipeline.sweep") {
        reports = BulkRunner.run(spark, jobs, transcripts, conv, Some(new Icelite(root.toString)),
          parallelism = 1, progress = {
            case BulkRunner.JobStarted(q) => started(q) = System.nanoTime()
            case BulkRunner.JobFinished(q, _) => times += q -> (System.nanoTime() - started(q)) / 1e9
          })
      }
      jobSeconds = times.toSeq
      l("pipeline.bulk_job_s") = Stats.median(jobSeconds.map(_._2))
      val icelite = l.jobs(span).filter(j => Main.layerOf(j.file) == "icelite")
      l("icelite.write_s") = icelite.map(_.seconds).sum
      val files = dataFiles(root)
      l("icelite.files_written") = files.size.toDouble
      l("icelite.bytes_written") = files.map(_._2).sum.toDouble
    }

    def check(ch: Checks): Unit = {
      ch("every ontology job reports ok", reports.size == docs.size && reports.forall(_.ok),
        reports.filterNot(_.ok).map(r => s"${r.prefix}: ${r.messages.mkString("; ")}").take(3).mkString(" | "))
      val ic = new Icelite(root.toString)
      val readBack = reports.map(r => ic.findByTag("kg_edges", s"bulk/${r.prefix}/edges")
        .map(id => ic.readSnapshot(spark, "kg_edges", Some(id)).count()).getOrElse(-1L))
      ch("icelite snapshot read-back equals the counted triples", readBack == reports.map(_.triples),
        s"read-back $readBack counted ${reports.map(_.triples)}")
    }

    def report: Seq[(String, Any)] =
      if (jobSeconds.isEmpty) Nil
      else Seq("bulk_job_s" -> jobSeconds.map { case (p, s) => Json.obj("prefix" -> p, "s" -> s) })
  }

  /**
   * Lands parquet files one at a time into a watched directory, runs
   * `IncrementalKg.processAvailable` after each landing and reads the
   * accumulated output back. Landing position 0 starts from empty output.
   */
  final class Ingest(spark: SparkSession, ctx: KgPipeline.OntologyContext, staged: Seq[Path], root: Path) {
    private val in = root.resolve("in")
    private val outDir = root.resolve("out")
    private val cp = root.resolve("checkpoint")
    /** (landing position, rows read back, distinct rows read back) */
    private val readBacks = mutable.ArrayBuffer[(Int, Long, Long)]()

    def land(p: Int): Unit = {
      if (p == 0) { deleteTree(root); Files.createDirectories(in) }
      // a dot-file is invisible to the file source until the atomic rename
      val tmp = in.resolve(s".delta-$p.parquet")
      Files.copy(staged(p), tmp)
      Files.move(tmp, in.resolve(s"delta-$p.parquet"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    def process(): Unit =
      IncrementalKg.processAvailable(spark, in.toString, ctx, outDir.toString, cp.toString)

    def readBack(p: Int): Unit = {
      val r = spark.read.parquet(outDir.toString)
        .agg(count(lit(1)), countDistinct(col("subj"), col("pred"), col("obj"))).head()
      readBacks += ((p, r.getLong(0), r.getLong(1)))
    }

    /** Checks the output of the last complete round. */
    def check(ch: Checks): Unit = {
      val all = spark.read.parquet(staged.map(_.toString): _*)
      val expected = tripleSig(MentionDetector.detectTriples(MentionDetector.slim(all), ctx.grounder))
      val got = tripleSig(spark.read.parquet(outDir.toString))
      ch("union of the deltas equals one detectTriples pass over all deltas", got == expected,
        s"union $got one pass $expected")
      val perDelta = staged.map(f => MentionDetector.detectTriples(
        MentionDetector.slim(spark.read.parquet(f.toString)), ctx.grounder).count())
      val cumulative = perDelta.scanLeft(0L)(_ + _).tail
      val bad = readBacks.filterNot { case (p, rows, distinct) => rows == cumulative(p) && distinct == rows }
      ch("every read-back matches the cumulative count", readBacks.nonEmpty && bad.isEmpty,
        s"${bad.take(3)} expected ${cumulative.mkString(",")}")
    }

    /** One round, each commit and read-back in its own span. */
    def traced(l: Layers): Unit = {
      val process = mutable.ArrayBuffer[Int]()
      val read = mutable.ArrayBuffer[Int]()
      staged.indices.foreach { p =>
        land(p)
        process += l.timed("streaming.process")(this.process())._2
        read += l.timed("streaming.read")(readBack(p))._2
      }
      def median(ids: Seq[Int]) = Stats.median(ids.map(l.tracer.all(_).seconds))
      l("streaming.process_s") = median(process.toSeq)
      l("streaming.read_s") = median(read.toSeq)
      l("streaming.jobs_per_delta") = process.map(l.jobs(_).size).sum.toDouble / staged.size
      val files = dataFiles(outDir)
      l("streaming.output_files") = files.size.toDouble
      l("streaming.output_bytes") = files.map(_._2).sum.toDouble
    }
  }

  // ---------------------------------------------------------------------------
  // curation
  // ---------------------------------------------------------------------------

  object Curation extends Workload {
    val name = "curation"
    val itemName = "docs"
    val opName = "clean_s"
    type In = Gen.Documents

    def generate(c: Ctx): In = {
      val g = Gen.documents(c.size("documents"), c.seed)
      cached(c.inputs) {
        val spark = c.spark
        import spark.implicits._
        g.docs.toDS().repartition(c.cores).write.option("compression", "zstd")
          .parquet(c.inputs.resolve("docs").toString)
        Map("documents" -> g.docs.size.toString)
      }
      g
    }

    def setup(c: Ctx, in: In): State = new CurationState(c, in)
  }

  final class CurationState(c: Ctx, g: Gen.Documents) extends State {
    private val spark = c.spark
    import spark.implicits._
    // the corpus is loaded into memory once per session, so operations time
    // the hygiene operators rather than the parquet read
    private val docs = spark.read.parquet(c.inputs.resolve("docs").toString).cache()
    private val evalItems = g.evalItems.toDF().cache()
    docs.count(); evalItems.count()
    private val cfg = CorpusHygiene.HygieneConfig(
      nearDupThreshold = Some(0.8), minhashK = 16, minhashBands = 8,
      decontaminateMinFrac = Some(0.8), maxDupTokenFrac = 0.5,
      sampleRates = Map("fr" -> 0.5), redact = true)
    private val passes = mutable.ArrayBuffer[(Long, Long)]()
    val items: Double = g.docs.size.toDouble

    private def clean(): DataFrame = CorpusHygiene.clean(docs, Some(evalItems), cfg)

    def op(i: Int): Double = {
      val t0 = System.nanoTime()
      passes += signature(clean(), "doc_id", "text")
      (System.nanoTime() - t0) / 1e9
    }

    private def ids(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet

    def check(ch: Checks): Unit = {
      ch("every clean has the same count and signature", passes.distinct.size == 1, passes.distinct.mkString(" "))
      val survivors = ids(DedupOps.minhashSurvivors(DedupOps.exactDedup(docs),
        cfg.nearDupThreshold.get, cfg.minhashK, cfg.minhashBands))
      ch("dedup removes every planted exact duplicate", (g.exactDupIds & survivors).isEmpty,
        (g.exactDupIds & survivors).take(5).mkString(","))
      ch("dedup removes every planted near duplicate", (g.nearDupIds & survivors).isEmpty,
        (g.nearDupIds & survivors).take(5).mkString(","))
      ch("every planted unique document survives dedup", g.uniqueIds.subsetOf(survivors),
        (g.uniqueIds -- survivors).take(5).mkString(","))
      val out = clean()
      val kept = ids(out)
      ch("decontamination and the repetition filter remove their planted documents",
        (kept & (g.contaminatedIds ++ g.repetitiveIds)).isEmpty,
        (kept & (g.contaminatedIds ++ g.repetitiveIds)).take(5).mkString(","))
      ch("no e-mail address survives redaction", out.filter(col("text").contains("@example.com")).count() == 0)
    }

    def outputSignature: (Long, Long) = passes.headOption.getOrElse((0L, 0L))

    def layers(l: Layers): Unit = {
      val (exact, _) = l.timed("operators.exact_dedup") {
        val e = DedupOps.exactDedup(docs).cache()
        e.count(); e
      }
      l.timed("operators.minhash_survivors") {
        DedupOps.minhashSurvivors(exact, 0.8, cfg.minhashK, cfg.minhashBands).count()
      }
      l.timed("operators.decontaminate") {
        DedupOps.contamination(exact, evalItems, cfg.decontaminateGram, 0.8).select("doc_id").distinct().count()
      }
      val candidates = DedupOps.minhashCandidates(exact, cfg.minhashK, cfg.minhashBands).distinct().count()
      val pairs = DedupOps.minhashNearDuplicates(exact, 0.8, cfg.minhashK, cfg.minhashBands).count()
      l("operators.minhash_candidates") = candidates.toDouble
      l("operators.minhash_pairs") = pairs.toDouble
      l("operators.minhash_yield") = if (candidates == 0) 0.0 else pairs.toDouble / candidates
      exact.unpersist()
      val (_, hygiene) = l.timed("operators.hygiene") { signature(clean(), "doc_id", "text") }
      l("operators.hygiene_jobs") = l.jobs(hygiene).size.toDouble
      l("operators.guard_dropped_buckets") = DedupOps.bucketGuardCounts(spark)._1.toDouble
    }

    override def report: Seq[(String, Any)] = Seq("documents" -> g.docs.size)
    override def release(): Unit = { docs.unpersist(); evalItems.unpersist() }
  }
}
