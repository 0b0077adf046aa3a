package kgbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work: Path = Paths.get("target", "bench-spec").toAbsolutePath
  private val mapper = new ObjectMapper()

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("kgbench-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  override def beforeAll(): Unit = {
    Workloads.deleteTree(work)
    Files.createDirectories(work)
  }

  override def afterAll(): Unit = spark.stop()

  // ---------------------------------------------------------------------------
  // generators
  // ---------------------------------------------------------------------------

  test("generators give identical inputs for a seed and different ones for another") {
    assert(Gen.ontology("ONT0", 500, 7).json == Gen.ontology("ONT0", 500, 7).json)
    assert(Gen.ontology("ONT0", 500, 7).json != Gen.ontology("ONT0", 500, 8).json)
    assert(Gen.lexicon(300, 7) == Gen.lexicon(300, 7))
    assert(Gen.lexicon(300, 7) != Gen.lexicon(300, 8))
    assert(Gen.documents(200, 7) == Gen.documents(200, 7))
    assert(Gen.documents(200, 7).docs != Gen.documents(200, 8).docs)
    val plants = Array("bakori", "tesa lumo")
    assert(Gen.conversation(1000, 7, plants) == Gen.conversation(1000, 7, plants))
    assert(Gen.conversation(5, 7, plants) != Gen.conversation(5, 8, plants))
  }

  test("generated ontologies carry every planted feature") {
    val o = Gen.ontology("ONT0", 1000, 3)
    val doc = mapper.readTree(o.json).path("graphs").path(0)
    val nodes = doc.path("nodes")
    assert(nodes.size() == 1000)
    val ids = (0 until nodes.size()).map(nodes.get(_).path("id").asText())
    assert(ids.count(_.startsWith("urn:")) + ids.count(_.contains(Gen.ForeignPrefix)) == o.skipped)
    assert((0 until nodes.size()).exists(i => !nodes.get(i).has("lbl")))
    assert((0 until nodes.size()).exists(i => !nodes.get(i).has("meta")))
    assert(doc.path("equivalentNodesSets").size() > 0)
    assert(o.json.contains("\"XR:") && o.json.contains("\"is_a\"") && o.json.contains("rdf-schema#subClassOf"))
  }

  test("the written corpus is identical for a seed") {
    val plants = Array("bakori", "tesa lumo")
    def written(dir: String, seed: Long) = {
      val p = work.resolve(dir)
      Workloads.writeTranscripts(spark, p, 0, 300, seed, plants, 3)
      Workloads.signature(spark.read.parquet(p.toString), "conv_id", "turn_idx", "role", "text", "tool", "ts")
    }
    assert(written("corpus-a", 5) == written("corpus-b", 5))
    assert(written("corpus-a2", 5) != written("corpus-c", 6))
  }

  test("documents plant duplicates of originals under higher ids") {
    val g = Gen.documents(400, 11)
    val byId = g.docs.map(d => d.doc_id -> d.text).toMap
    assert(g.exactDupIds.nonEmpty && g.nearDupIds.nonEmpty && g.contaminatedIds.nonEmpty)
    assert(g.exactDupIds.forall(_ >= 400) && g.nearDupIds.forall(_ >= 400))
    val norm = (s: String) => s.trim.toLowerCase.split("\\s+").mkString(" ")
    assert(g.exactDupIds.forall(id => g.uniqueIds.exists(u => norm(byId(u)) == norm(byId(id)))))
  }

  test("an input directory left without its marker is generated again") {
    val dir = work.resolve("cache")
    Files.createDirectories(dir.resolve("corpus"))
    Files.write(dir.resolve("corpus").resolve("part-0.parquet"), Array[Byte](1, 2))
    var writes = 0
    def gen() = Workloads.cached(dir) { writes += 1; Files.write(dir.resolve("data"), Array[Byte](3)); Map("n" -> "1") }
    assert(gen() == Map("n" -> "1") && writes == 1)
    assert(!Files.exists(dir.resolve("corpus")) && Files.exists(dir.resolve("data")))
    // a finished directory is reused as it is
    assert(gen() == Map("n" -> "1") && writes == 1)
  }

  // ---------------------------------------------------------------------------
  // statistics and spans
  // ---------------------------------------------------------------------------

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)).contains(Stats.Tail(50, 10.0, 20)))
    assert(Stats.tail((1 to 100).map(_.toDouble)).contains(Stats.Tail(90, 90.0, 100)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)).contains(Stats.Tail(99, 990.0, 1000)))
    for (n <- 20 to 400) {
      val t = Stats.tail((1 to n).map(_.toDouble)).get
      assert(n - t.value >= 10, s"n=$n: fewer than ten samples beyond p${t.p}")
      // one percentile higher would leave fewer than ten beyond
      val rank = math.ceil((t.p + 1) * n / 100.0).toInt
      assert(t.p == 99 || n - rank < 10, s"n=$n: p${t.p + 1} still has ten beyond")
    }
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time is the span minus the union of its children") {
    assert(Tracer.selfNs(0, 100, Nil) == 100)
    assert(Tracer.selfNs(0, 100, Seq((10, 20), (30, 50))) == 70)
    // overlapping children count once
    assert(Tracer.selfNs(0, 100, Seq((10, 40), (30, 60))) == 50)
    // children reaching outside the parent are clipped to it
    assert(Tracer.selfNs(10, 100, Seq((0, 20), (90, 120))) == 70)
    assert(Tracer.selfNs(0, 100, Seq((20, 30), (0, 100))) == 0)
  }

  test("spans nest, tag the current span and report self time") {
    val entered = scala.collection.mutable.ArrayBuffer[Option[Int]]()
    val t = new Tracer("r", entered += _)
    t.span("outer") {
      t.span("a")(Thread.sleep(20))
      t.span("b")(t.span("c")(Thread.sleep(5)))
    }
    val Seq(outer, a, b, c) = t.all
    assert(outer.parent == -1 && a.parent == outer.id && b.parent == outer.id && c.parent == b.id)
    assert(entered.toSeq == Seq(Some(0), Some(1), Some(0), Some(2), Some(3), Some(2), Some(0), None))
    assert(t.subtree(outer.id) == Set(0, 1, 2, 3) && t.subtree(b.id) == Set(2, 3))
    val childNs = (a.endNs - a.startNs) + (b.endNs - b.startNs)
    assert(math.abs(t.selfSeconds(outer.id) - (outer.seconds - childNs / 1e9)) < 1e-9)
  }

  test("the critical path spreads a stage over the cores unless one task is longer") {
    assert(StageCpu.path(Seq((400L, 100L)), 4) == 100)
    assert(StageCpu.path(Seq((400L, 250L)), 4) == 250)
    assert(StageCpu.path(Seq((400L, 100L), (90L, 90L)), 2) == 290)
    val stages = new StageCpu
    spark.sparkContext.addSparkListener(stages)
    try {
      stages.take(spark.sparkContext, 2)
      spark.range(0, 2000000, 1, 1).selectExpr("sum(hash(id))").collect()
      val (one, onePath) = stages.take(spark.sparkContext, 2)
      // a single task is its stage's whole path
      assert(one > 0 && onePath == one)
      spark.range(0, 2000000, 1, 4).selectExpr("sum(hash(id))").collect()
      val (four, fourPath) = stages.take(spark.sparkContext, 2)
      assert(four > 0 && fourPath < four)
    } finally spark.sparkContext.removeSparkListener(stages)
  }

  // ---------------------------------------------------------------------------
  // the benchmark's own contract
  // ---------------------------------------------------------------------------

  test("BENCHMARK.json names exactly the metrics kgbench.Main emits") {
    val b = mapper.readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def names(key: String) = (0 until b.path(key).size()).map(i =>
      b.path(key).get(i).path("name").asText() -> b.path(key).get(i).path("unit").asText())
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.PerLayer)
    val spec = mapper.readTree(Paths.get("workloads.json").toFile)
    val benched = (0 until b.path("workloads").size()).map(b.path("workloads").get(_))
    benched.foreach { w =>
      assert(spec.path("workloads").path(w.path("name").asText()).path("why").asText() == w.path("why").asText())
    }
    assert(benched.map(_.path("name").asText()) == Workloads.all.map(_.name))
    // workloads.json documents the driver's fixed settings
    assert(spec.path("warmup_operations").asInt(-1) == Main.WarmupOperations)
    assert(spec.path("setup_repeats").asInt(-1) == Main.SetupRepeats)
  }

  private def runCuration(pins: String): Int = {
    val spec = work.resolve("spec.json")
    Files.write(spec, ("""{"session": {"spark.master": "local[${cores}]", "spark.ui.enabled": "false",""" +
      """ "spark.sql.shuffle.partitions": "2"},""" +
      """ "workloads": {"curation": {"sizes": {"documents": 120}, "min_operations": 3}}}""").getBytes("UTF-8"))
    val pinFile = work.resolve("pins.json")
    Files.write(pinFile, pins.getBytes("UTF-8"))
    spark.stop()
    Main.run(Main.Opts("curation", 4, 1, trace = false, 2, work.resolve("run"), spec, pinFile,
      Paths.get("..", "src", "main", "scala")))
  }

  test("a run fails when its output does not match") {
    // a pin that no output of seed 4 has: the run must report failure
    assert(runCuration("""{"curation": {"4": [1, 2]}}""") == 1)
    // and without the corrupt pin the same run passes
    assert(runCuration("{}") == 0)
  }

  test("a corrupted incremental output fails the ingest checks") {
    val sizes = mapper.readTree("""{"ontology_nodes": 200, "lexicon_terms": 300}""")
    val s = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", work.resolve("spark-local").toString).getOrCreate()
    try {
      val c = Ctx(s, work.resolve("ingest-in"), work.resolve("ingest-out"), 9, sizes, 2)
      Files.createDirectories(c.inputs)
      val (kg, writeOntology) = Workloads.kgInputs(c)
      writeOntology()
      val staged = (0 until 2).map { p =>
        val dir = c.inputs.resolve(s"delta-$p")
        Workloads.writeTranscripts(s, dir, p * 20L, (p + 1) * 20L, c.seed, kg.plants, 1)
        Workloads.dataFiles(dir).head._1
      }
      val ctx = Workloads.prepareKg(c, kg)
      val ingest = new Workloads.Ingest(s, ctx, staged, c.out)
      staged.indices.foreach { p => ingest.land(p); ingest.process(); ingest.readBack(p) }
      val good = new Checks
      ingest.check(good)
      assert(good.ok, good.results)
      val (victim, _) = Workloads.dataFiles(c.out.resolve("out")).head
      Files.delete(victim)
      val bad = new Checks
      ingest.check(bad)
      assert(!bad.ok)
      ctx.release()
    } finally s.stop()
  }
}
