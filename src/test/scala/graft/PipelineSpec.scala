package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.{MiniOntology, Transcripts}
import graft.ground.{Grounder, MentionDetector}
import graft.icelite.Icelite
import graft.pipeline.KgPipeline

class PipelineSpec extends AnyFunSuite with JobCounting {
  lazy val spark = SparkTestBase.spark
  lazy val ontPath = MiniOntology.writeTo("target/fixtures")

  test("fused detectTriples == detect -> topCandidates -> mentionTriples -> canonicalize") {
    import spark.implicits._
    val tr = Transcripts.synthetic(spark, 300)
    val ctx = KgPipeline.prepare(spark, ontPath)
    val slim = MentionDetector.slim(tr)

    val fused = MentionDetector.detectTriples(slim, ctx.grounder)
      .select("subj", "pred", "obj").collect().map(_.toSeq).toSet

    // reference formulation: window top-1 then dedup, then canonical remap
    val grounderRaw = spark.sparkContext.broadcast(
      Grounder.build(graft.operators.LiteralMappings.fromNodes(ctx.nodes, "PATO")))
    val windowed = KgPipeline.canonicalize(
      MentionDetector.mentionTriples(
        MentionDetector.topCandidates(
          MentionDetector.detect(tr.as[graft.model.Turn], grounderRaw))), ctx.canonical)
      .collect().map(_.toSeq).toSet

    assert(fused == windowed)
    assert(fused.nonEmpty)
  }

  test("a turn with a null conv_id or turn_idx emits no triples; the pass goes on") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("text", StringType)))
    val turns = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(null, 1, "a big quality"),   // used to fail the pass (NullPointerException)
      Row("c1", null, "a big quality"), // used to emit turn 0's URI, turn:c1/0
      Row("c1", 2, "a big quality")), 1), schema)
    val ctx = KgPipeline.prepare(spark, ontPath)
    val m = new graft.pipeline.RunMetrics(spark)
    val mentions = MentionDetector.detectTriplesIn(turns, ctx.grounder, Some(m))
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(mentions == Set(("turn:c1/2", "PATO:0000118"), ("turn:c1/2", "PATO:0000001")), mentions)
    assert((m.turnsProcessed.value, m.emptyTurns.value, m.mentionsEmitted.value) == ((3L, 2L, 2L)))
    val pass = KgPipeline.runPrepared(spark, turns, ctx, inputConvPartitioned = true).triples
      .filter(col("pred") === graft.model.Vocab.Mentions)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(pass == mentions)
  }

  test("the detection pass rejects a turn_idx, conv_id or text of the wrong type") {
    val turns = Transcripts.synthetic(spark, 5)
    val ctx = KgPipeline.prepare(spark, ontPath)
    for ((name, to) <- Seq("turn_idx" -> "bigint", "turn_idx" -> "string", "conv_id" -> "int",
                           "text" -> "binary")) {
      val mistyped = turns.withColumn(name, col(name).cast(to))
      val e = intercept[IllegalArgumentException](
        MentionDetector.detectTriplesIn(mistyped, ctx.grounder))
      assert(e.getMessage.contains(s"$name: $to"), e.getMessage)
      intercept[IllegalArgumentException](
        KgPipeline.runPrepared(spark, mistyped, ctx, inputConvPartitioned = true).triples.count())
    }
  }

  test("sharded detection over the ontology lexicon == single-automaton detection") {
    val tr = Transcripts.synthetic(spark, 60)
    val ctx = KgPipeline.prepare(spark, ontPath)
    val lex = graft.operators.LiteralMappings.fromNodes(ctx.nodes, "PATO")
    val slim = MentionDetector.slim(tr)
    val single = spark.sparkContext.broadcast(Grounder.build(lex, ctx.canonical))
    val shards = Grounder.buildSharded(lex, 3, ctx.canonical)
      .map(spark.sparkContext.broadcast(_))
    val one = MentionDetector.detectTopSlim(slim, single).collect().toSet
    val sharded = shards.map(MentionDetector.detectTopSlim(slim, _)).reduce(_ union _)
      .collect().toSet
    assert(one.nonEmpty)
    assert(sharded == one)
    // fused TRIPLE path too: cross-shard concept dedup must make the union
    // exactly the single-automaton triple set (label + synonym of one
    // concept can land in different shards and double-emit without it)
    val oneTriples = MentionDetector.detectTriples(slim, single)
      .collect().map(_.toSeq).toSet
    val shardedTriples = MentionDetector.detectTriplesSharded(slim, shards)
      .collect().map(_.toSeq).toSet
    assert(shardedTriples == oneTriples)
  }

  test("pipeline P/R == 1.0 vs hand-derived golden on a tiny planted corpus") {
    import spark.implicits._
    // three turns with known planted mentions (incl. a multi-word term and
    // a synonym); golden derived by hand from MiniOntology.expectedLexicon
    val rows = Seq(
      ("c1", 0, "user", "the hash join was slow", null.asInstanceOf[String],
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      ("c1", 1, "assistant", "try a merge instead of a join", null.asInstanceOf[String],
        java.sql.Timestamp.valueOf("2026-01-01 00:00:01")),
      ("c2", 0, "user", "velocity matters more than size here", null.asInstanceOf[String],
        java.sql.Timestamp.valueOf("2026-01-01 00:00:02")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

    val got = KgPipeline.run(spark, rows, ontPath).triples
      .filter(col("pred") === "ex:mentions")
      .collect().map(r => (r.getString(0), r.getString(2))).toSet

    val expected = Set(
      ("turn:c1/0", "PATO:0000202"), // "hash join" AND nested "join" -> same concept, deduped
      ("turn:c1/0", "PATO:0000121"), // "slow"
      ("turn:c1/1", "PATO:0000124"), // "merge"
      ("turn:c1/1", "PATO:0000202"), // "join"
      ("turn:c2/0", "PATO:0000122"), // "velocity" (synonym)
      ("turn:c2/0", "PATO:0000117")) // "size"
    assert(got == expected) // precision AND recall both 1.0
  }

  test("resume: killing after the mention snapshot yields identical final tables") {
    import java.nio.file.{Files, Paths}
    val root = "target/icelite_resume_" + System.nanoTime()
    val tr = Transcripts.synthetic(spark, 100)
    def metric(ic: Icelite, id: Long, key: String): Long = {
      val json = new String(Files.readAllBytes(
        Paths.get(ic.root, "kg_edges", "metrics", s"$id.json")), "UTF-8")
      s""""$key":(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
        .getOrElse(fail(s"$key missing from $json"))
    }

    // full run #1 (fresh)
    val ic1 = new Icelite(root + "_fresh")
    val freshRun = KgPipeline.run(spark, tr, ontPath, icelite = Some(ic1), runTag = "r1")
    val freshId = freshRun.snapshotId.get
    val fresh = ic1.readSnapshot(spark, "kg_edges").collect().map(_.toSeq).toSet

    // the detection kernel counts each input turn once and each distinct
    // (turn, concept) row it emits
    assert(metric(ic1, freshId, "turns_processed") == tr.count())
    assert(metric(ic1, freshId, "mentions_emitted") ==
      ic1.readSnapshot(spark, "mention_triples").count())
    // ... and only once: actions over the result read the materialized stage
    assert(freshRun.triples.count() == fresh.size)
    assert(freshRun.triples.collect().map(_.toSeq).toSet == fresh)
    assert(freshRun.metrics.get.turnsProcessed.value == tr.count())

    // mode agreement: the icelite path builds the same KG as the in-memory
    // one, which counts nothing (each action there re-runs the kernel)
    val inMemory = KgPipeline.run(spark, tr, ontPath)
    assert(inMemory.metrics.isEmpty)
    assert(fresh == inMemory.triples.collect().map(_.toSeq).toSet)

    // simulated crash: mentions snapshot landed, final tables did not
    val ic2 = new Icelite(root + "_resumed")
    val ctx = KgPipeline.prepare(spark, ontPath)
    // the pass's own input layout: the input's partitions, sorted within
    val turns = tr.sortWithinPartitions(col("conv_id"), col("turn_idx"))
    ic2.materialize(spark, "mention_triples", "r1/mentions")(
      MentionDetector.detectTriples(MentionDetector.slim(turns), ctx.grounder))
    assert(ic2.currentSnapshotId("mention_triples").contains(1L))
    assert(ic2.currentSnapshotId("kg_edges").isEmpty) // "crashed" before finishing

    // resume: full run against the same icelite root reuses the snapshot
    val resumedId = KgPipeline.run(spark, tr, ontPath, icelite = Some(ic2), runTag = "r1")
      .snapshotId.get
    assert(ic2.currentSnapshotId("mention_triples").contains(1L)) // NOT recomputed
    assert(metric(ic2, resumedId, "turns_processed") == 0L) // the kernel never ran
    val resumed = ic2.readSnapshot(spark, "kg_edges").collect().map(_.toSeq).toSet
    assert(resumed == fresh)

    // lineage metrics present in the manifest
    val manifest = ic2.manifestJson("kg_edges", ic2.currentSnapshotId("kg_edges").get)
    assert(manifest.contains("partition_counts"))
    assert(manifest.contains("row_count"))
  }

  test("icelite expiry: expired data gone, current + tagged snapshots survive, resume intact") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val ic = new Icelite("target/icelite_expire_" + System.nanoTime())
    val ids = (1 to 4).map { i =>
      ic.writeSnapshot(Seq((i, s"v$i")).toDF("k", "v"), "t", tag = s"tag$i")
    }
    assert(ids == Seq(1L, 2L, 3L, 4L))
    val expired = ic.expireSnapshots("t", keepLast = 1, keepTags = Seq("tag2"))
    assert(expired == Seq(1L, 3L))
    Seq(1L, 3L).foreach { id =>
      assert(!Files.exists(Paths.get(ic.root, "t", "data", s"snap-$id")), s"snap-$id data survived")
      assert(!Files.exists(Paths.get(ic.root, "t", "snapshots", s"$id.json")), s"$id manifest survived")
    }
    // current (4) still readable; tag-kept snapshot (2) still resolvable + readable
    assert(ic.currentSnapshotId("t").contains(4L))
    assert(ic.readSnapshot(spark, "t").collect().map(_.getString(1)).toSeq == Seq("v4"))
    assert(ic.findByTag("t", "tag2").contains(2L))
    assert(ic.readSnapshot(spark, "t", Some(2L)).collect().map(_.getString(1)).toSeq == Seq("v2"))
    // resume contract: a kept tag REUSES without recompute...
    var computed = false
    val re = ic.materialize(spark, "t", "tag2") {
      computed = true; Seq((9, "recomputed")).toDF("k", "v")
    }
    assert(!computed, "kept tag was recomputed")
    assert(re.collect().map(_.getString(1)).toSeq == Seq("v2"))
    // ...and an EXPIRED tag recomputes into a FRESH id (id allocation reads
    // max of manifests AND pointer, so the new snapshot cannot collide)
    val re3 = ic.materialize(spark, "t", "tag3") {
      computed = true; Seq((9, "recomputed")).toDF("k", "v")
    }
    assert(computed && re3.collect().map(_.getString(1)).toSeq == Seq("recomputed"))
    assert(ic.currentSnapshotId("t").contains(5L))
    // orphan sweep: a crash between a vacuum's manifest delete and its data
    // delete strands a manifest-less data dir, invisible to id enumeration —
    // the next vacuum must reclaim it even when no manifest expires
    val orphan = Paths.get(ic.root, "t", "data", "snap-99")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    assert(ic.expireSnapshots("t", keepLast = 10).isEmpty) // nothing expirable
    assert(!Files.exists(orphan), "orphaned data dir not reclaimed")
    // live data untouched by the orphan sweep
    assert(ic.readSnapshot(spark, "t").collect().nonEmpty)
  }

  test("icelite cross-instance claims: racing writer pair never collides; claims shield in-flight data from the vacuum") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = "target/icelite_claims_" + System.nanoTime()
    // TWO independent instances on one root (the multi-writer shape the
    // per-instance pendingIds set cannot cover), racing from 6 threads
    val icA = new Icelite(root)
    val icB = new Icelite(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val ids =
      try {
        val futs = (0 until 6).map { t =>
          val ic = if (t % 2 == 0) icA else icB
          pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
            def call(): Seq[Long] =
              (0 until 2).map(i => ic.writeSnapshot(Seq((t, i)).toDF("t", "i"), "t", tag = s"w$t-$i"))
          })
        }
        futs.flatMap(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
    // no snapshot-id collision, no lost manifest, pointer at the max id
    assert(ids.size == 12 && ids.distinct.size == 12, s"id collision: $ids")
    ids.foreach { id =>
      assert(Files.exists(Paths.get(root, "t", "snapshots", s"$id.json")), s"manifest $id lost")
    }
    assert(icA.currentSnapshotId("t").contains(ids.max))
    // every tag resolves to a readable snapshot with its own row
    (0 until 6).foreach { t =>
      val sid = icA.findByTag("t", s"w$t-0")
      assert(sid.isDefined, s"tag w$t-0 unresolvable")
      assert(icB.readSnapshot(spark, "t", sid).collect().map(_.getInt(0)).toSeq == Seq(t))
    }
    // all claims were released by the committed writes
    val claims = {
      val s = Files.list(Paths.get(root, "t", "snapshots"))
      try s.filter(_.toString.endsWith(".claim")).count() finally s.close()
    }
    assert(claims == 0, s"$claims claim files leaked past committed writes")

    // claim shield: simulate ANOTHER PROCESS mid-write — data dir + claim
    // present, manifest not yet landed. A vacuum from this process must not
    // reclaim the data dir while the claim stands.
    val inflight = Paths.get(root, "t", "data", "snap-500")
    Files.createDirectories(inflight)
    Files.write(inflight.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    Files.createFile(Paths.get(root, "t", "snapshots", "500.claim"))
    icA.expireSnapshots("t", keepLast = 100)
    assert(Files.exists(inflight), "claimed in-flight data dir was vacuumed")
    // the writer crashed (claim released, manifest never landed) → the data
    // dir is a true orphan and the next sweep reclaims it
    Files.delete(Paths.get(root, "t", "snapshots", "500.claim"))
    icA.expireSnapshots("t", keepLast = 100)
    assert(!Files.exists(inflight), "orphaned data dir not reclaimed after claim release")
  }

  test("icelite stale-claim GC: dead writer's claim + data swept in one pass, live claim shields") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = "target/icelite_staleclaim_" + System.nanoTime()
    val ic = new Icelite(root)
    ic.writeSnapshot(Seq((1, 1)).toDF("a", "b"), "t", tag = "live")
    // dead writer (crashed in another process): claim + data dir, no
    // manifest, mtime two days old — provably past DefaultStaleClaimMs
    val deadData = Paths.get(root, "t", "data", "snap-700")
    Files.createDirectories(deadData)
    Files.write(deadData.resolve("part-0.parquet"), Array[Byte](1))
    val deadClaim = Paths.get(root, "t", "snapshots", "700.claim")
    Files.createFile(deadClaim)
    Files.setLastModifiedTime(deadClaim,
      FileTime.fromMillis(System.currentTimeMillis() - 48L * 3600 * 1000))
    // live writer mid-flight in another process: fresh claim, no manifest yet
    val liveData = Paths.get(root, "t", "data", "snap-701")
    Files.createDirectories(liveData)
    Files.write(liveData.resolve("part-0.parquet"), Array[Byte](1))
    val liveClaim = Paths.get(root, "t", "snapshots", "701.claim")
    Files.createFile(liveClaim)
    ic.expireSnapshots("t", keepLast = 100)
    // the stale claim AND its orphaned data dir are reclaimed in THIS pass
    assert(!Files.exists(deadClaim), "stale claim not GC'd")
    assert(!Files.exists(deadData), "dead writer's orphan data dir not swept")
    // the fresh claim still shields its in-flight data (no interference)
    assert(Files.exists(liveClaim), "live claim GC'd")
    assert(Files.exists(liveData), "live writer's in-flight data vacuumed")
    // committed snapshots untouched
    assert(ic.readSnapshot(spark, "t").collect().nonEmpty)
  }

  test("icelite over a Hadoop FileSystem URI (file://): lifecycle, claim CAS, expiry + orphan sweep, bucketed snapshots") {
    import spark.implicits._
    import org.apache.hadoop.fs.{Path => HPath}
    // scheme'd root → the HadoopMetaIO path (hdfs:// and s3a:// take the
    // same code path; file:// is what this sandbox can actually mount)
    val local = new java.io.File(
      "target/icelite_hadoopfs_" + System.nanoTime()).getAbsolutePath
    val root = "file://" + local
    val fs = new HPath(root).getFileSystem(spark.sessionState.newHadoopConf())
    val ic = new Icelite(root)
    // lifecycle: write → pointer → tag resolve → read
    assert(ic.writeSnapshot(Seq((1, "a")).toDF("k", "v"), "t", tag = "first") == 1L)
    assert(ic.writeSnapshot(Seq((2, "b")).toDF("k", "v"), "t", tag = "second") == 2L)
    assert(ic.currentSnapshotId("t").contains(2L))
    assert(ic.findByTag("t", "first").contains(1L))
    assert(ic.readSnapshot(spark, "t").collect().map(_.getString(1)).toSeq == Seq("b"))
    // resume contract through the URI root: tag hit reuses, no recompute
    var computed = false
    val re = ic.materialize(spark, "t", "first") {
      computed = true; Seq((9, "x")).toDF("k", "v")
    }
    assert(!computed && re.collect().map(_.getString(1)).toSeq == Seq("a"))
    // claim CAS via FileSystem.create(overwrite=false): a claim held by a
    // FOREIGN process (taken here with the same MetaIO claim it would run)
    // forces allocation past it — id 3 is skipped, not shared
    graft.icelite.MetaIO.forRoot(root).createNew(s"$root/t/snapshots/3.claim")
    assert(ic.writeSnapshot(Seq((4, "d")).toDF("k", "v"), "t", tag = "fourth") == 4L,
      "foreign claim on id 3 was not skipped")
    fs.delete(new HPath(s"$root/t/snapshots/3.claim"), false)
    // expiry + orphan sweep through the Hadoop path: snap-2 expires (1 is
    // tag-kept, 4 is current), and a manifest-less orphan dir is reclaimed
    val orphanFile = new HPath(s"$root/t/data/snap-99/part-0.parquet")
    val out = fs.create(orphanFile, true); out.write(1); out.close()
    assert(ic.expireSnapshots("t", keepLast = 1, keepTags = Seq("first")) == Seq(2L))
    assert(!fs.exists(new HPath(s"$root/t/data/snap-2")), "expired data survived")
    assert(!fs.exists(new HPath(s"$root/t/data/snap-99")), "orphan dir not swept")
    assert(ic.readSnapshot(spark, "t", Some(1L)).collect()
      .map(_.getString(1)).toSeq == Seq("a"))
    // bucketed snapshot over the URI root: spec round-trips via the manifest
    // and the read keeps the hash layout (catalog LOCATION takes the URI)
    val spec = graft.icelite.BucketedTables.BucketSpec(4, Seq("k"))
    val bid = ic.writeSnapshot((1 to 100).map(i => (i, s"v$i")).toDF("k", "v"),
      "bt", tag = "bulk", buckets = Some(spec))
    assert(ic.bucketSpec("bt", bid).contains(spec))
    val back = ic.readSnapshot(spark, "bt", Some(bid))
    assert(back.count() == 100)
    // a groupBy on the bucket key CONSUMES the hash layout: the planner keeps
    // the bucketed scan and needs no exchange below the aggregate (a bare
    // scan would report "Bucketed: false (disabled by query planner)")
    val agg = back.groupBy("k").count()
    assert(agg.count() == 100)
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(aggPlan.contains("Bucketed: true"),
      s"URI-root bucketed snapshot fell back to a plain parquet scan:\n${aggPlan.take(1500)}")
    // a pipeline run over the URI root keeps its run metrics under that
    // root — never at a relative local `file:/…` path in the working dir
    val tr = Transcripts.synthetic(spark, 20)
    val kgId = KgPipeline.run(spark, tr, ontPath, icelite = Some(ic), runTag = "uri")
      .snapshotId.get
    val metricsJson = s"$root/kg_edges/metrics/$kgId.json"
    assert(fs.exists(new HPath(metricsJson)), s"run metrics missing at $metricsJson")
    assert(graft.icelite.MetaIO.forRoot(root).readString(metricsJson)
      .contains(s""""turns_processed":${tr.count()}"""))
    val cwd = new java.io.File(".").list().toSeq
    assert(!cwd.exists(_.startsWith("file:")), s"metrics landed in the working dir: $cwd")
  }

  test("int8 quantization: bounded codes, extremes hit ±127, top-k recall vs full precision") {
    import graft.operators.SimilarityOps
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qvec"))
    val exact = SimilarityOps.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SimilarityOps.bruteForceTopKQuantized(
      SimilarityOps.quantizeInt8(emb), queries, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.85, s"int8 top-k recall $recall below the dial's published floor")
    // codes bounded in [-127, 127] (symmetric — -128 never appears) and the
    // max-magnitude component quantizes to exactly ±127
    val row = SimilarityOps.quantizeInt8(emb).select("qvec").head.getSeq[Byte](0)
    assert(row.forall(b => b >= -127 && b <= 127))
    assert(row.exists(b => b == 127 || b == -127))

    // scale-folded scorer (production path: no per-pair dequantize) must
    // reproduce the dequantized path's ranking; cosines agree to fp drift
    def asMap(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "cos", "rank").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getInt(3)))).toMap
    val deq = asMap(SimilarityOps.bruteForceTopKQuantized(
      SimilarityOps.quantizeInt8(emb), queries, k = 5))
    val folded = asMap(SimilarityOps.bruteForceTopKQuantizedFolded(
      SimilarityOps.quantizeInt8(emb), queries, k = 5))
    assert(folded.keySet == deq.keySet, "folded and dequantized top-k sets differ")
    folded.foreach { case (key, (cosF, rankF)) =>
      val (cosD, rankD) = deq(key)
      assert(rankF == rankD, s"rank drift at $key")
      assert(math.abs(cosF - cosD) <= 2e-6, s"cos drift at $key: $cosF vs $cosD")
    }
  }

  test("PQ: 4-byte codes; trained codebooks beat random, both far above the scan baseline") {
    import graft.operators.SimilarityOps
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qvec"))
    val exact = SimilarityOps.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(books: Array[Array[Array[Double]]]): Double = {
      val codes = SimilarityOps.pqEncode(emb, books)
      assert(codes.select("codes").head.getSeq[Byte](0).length == 4) // 64× vs float64
      val pq = SimilarityOps.bruteForceTopKPq(codes, books, queries, k = 5)
        .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & pq).size.toDouble / exact.size
    }
    // isotropic driver embeddings are PQ's worst case; measured: trained 0.30,
    // random 0.10, random-scan baseline 5/500 = 0.01 — floors leave drift room
    val books = SimilarityOps.trainPq(emb)
    val trained = recallOf(books)
    val random = recallOf(SimilarityOps.pqCodebooks())
    assert(trained >= 0.18, s"trained-PQ recall $trained")
    assert(random >= 0.05, s"random-PQ recall $random")
    assert(trained > random, s"training must beat random codebooks ($trained vs $random)")
    // codebooks are a function of the rows, not of their partitioning
    def asSeq(b: Array[Array[Array[Double]]]) = b.map(_.map(_.toSeq).toSeq).toSeq
    assert(asSeq(SimilarityOps.trainPq(emb.repartition(7))) == asSeq(books),
      "trainPq depends on the input's partitioning")

    // a mis-dialed embedding dim (!= m·subDim) must fail LOUDLY per row, not
    // silently encode a prefix whose reconstruction nulls out downstream
    import spark.implicits._
    val wrongDim = Seq((1L, Seq.fill(60)(0.5f))).toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      SimilarityOps.pqEncode(wrongDim, SimilarityOps.pqCodebooks()).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(err).exists(_.contains("pqEncode")), s"unexpected error: $err")
    // training on the same mis-dialed rows fails too, rather than clustering
    // truncated slices
    val trainErr = intercept[Exception] { SimilarityOps.trainPq(wrongDim) }
    assert(rootMessages(trainErr).exists(_.contains("trainPq")), s"unexpected error: $trainErr")
  }

  test("ANN LSH: beats random-scan baseline on isotropic data, near-exact on clustered data") {
    import spark.implicits._
    // (a) driver-provided embeddings are ISOTROPIC random (top-5 cosine ≈0.32,
    // no label structure) — the worst case for any ANN index. The multiprobe
    // 6-plane index scans ~11% of the corpus; recall must clearly beat that
    // random baseline (measured ~0.35 ≈ 3×).
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = graft.operators.SimilarityOps.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.operators.SimilarityOps.annTopK(emb, queries, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.22, s"ANN recall $recall no better than random scan fraction")
    // plan pin: the re-rank shuffles ONCE (the ranking window) — candidates
    // are (query_id, vec_id)-unique by construction (one bucket per vector ×
    // distinct probes), so no dedup exchange belongs in the plan
    val annPlan = graft.operators.SimilarityOps.annTopK(emb, queries, k = 5)
      .queryExecution.executedPlan.toString
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(annPlan).size
    assert(nExchanges == 1, s"ANN plan carries $nExchanges hash exchanges (want 1):\n${annPlan.take(1500)}")

    // (b) clustered data (the real-corpus shape): 10 clusters, strong
    // direction + noise → LSH recall must be near-exact.
    val rng = new scala.util.Random(5)
    val centers = Array.fill(10)(Array.fill(64)(rng.nextGaussian()))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.zipWithIndex.map { case (v, j) => (v + 0.15 * rng.nextGaussian()).toFloat }.toSeq)
    }
    val cemb = rows.toDF("vec_id", "embedding")
    val cq = cemb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cExact = graft.operators.SimilarityOps.bruteForceTopK(cemb, cq, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cApprox = graft.operators.SimilarityOps.annTopK(cemb, cq, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cRecall = (cExact & cApprox).size.toDouble / cExact.size
    assert(cRecall >= 0.9, s"clustered ANN recall $cRecall too low")
  }

  test("ANN IVF: k-means lists give near-exact recall on clustered data, better than LSH probes scan share") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val centers = Array.fill(10)(Array.fill(64)(rng.nextGaussian()))
    val rows = (0 until 500).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(v => (v + 0.15 * rng.nextGaussian()).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val index = graft.operators.SimilarityOps.trainIvf(emb, nLists = 10, seed = 7)
    assert(index.centroids.length == 10)
    val exact = graft.operators.SimilarityOps.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.operators.SimilarityOps.annTopKIvf(emb, queries, index, k = 5, nprobe = 2)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall too low on clustered data")
    // determinism: retraining with the same seed reproduces the index
    val index2 = graft.operators.SimilarityOps.trainIvf(emb, nLists = 10, seed = 7)
    assert(index2.centroids.map(_.toSeq).toSeq == index.centroids.map(_.toSeq).toSeq)
    // ... and so does the same rows under another partitioning
    val index7 = graft.operators.SimilarityOps.trainIvf(emb.repartition(7), nLists = 10, seed = 7)
    assert(index7.centroids.map(_.toSeq).toSeq == index.centroids.map(_.toSeq).toSeq)
    // capped-training path: a deterministic hash-sample (uniform in vec_id,
    // not a storage-order limit) still yields a usable, deterministic index
    val capped = graft.operators.SimilarityOps.trainIvf(
      emb, nLists = 10, seed = 7, maxTrainRows = 100)
    assert(capped.centroids.length == 10)
    val cappedIvf = graft.operators.SimilarityOps
      .annTopKIvf(emb, queries, capped, k = 5, nprobe = 3)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & cappedIvf).size.toDouble / exact.size >= 0.8,
      "sample-trained quantizer must retain recall on clustered data")
    val capped2 = graft.operators.SimilarityOps.trainIvf(
      emb, nLists = 10, seed = 7, maxTrainRows = 100)
    assert(capped2.centroids.map(_.toSeq).toSeq == capped.centroids.map(_.toSeq).toSeq)
    val capped7 = graft.operators.SimilarityOps.trainIvf(
      emb.repartition(7), nLists = 10, seed = 7, maxTrainRows = 100)
    assert(capped7.centroids.map(_.toSeq).toSeq == capped.centroids.map(_.toSeq).toSeq)
  }

  test("PQ ADC == reconstruction ranking; composed IVF+PQ+exact: all-dials exact, partial dials recall") {
    import spark.implicits._
    import graft.operators.SimilarityOps
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qvec"))
    val books = SimilarityOps.pqCodebooks()
    val codes = SimilarityOps.pqEncode(emb, books)
    // ADC must reproduce the reconstruction path's ranking AND its rounded
    // cosines (both paths round to 6 digits; the decomposed sums may differ
    // below that only by summation order)
    def asMap(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "cos", "rank").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getInt(3)))).toMap
    val recon = asMap(SimilarityOps.bruteForceTopKPq(codes, books, queries, k = 5))
    val adc = asMap(SimilarityOps.adcTopKPq(codes, books, queries, k = 5))
    assert(adc.keySet == recon.keySet, "ADC and reconstruction top-k sets differ")
    adc.foreach { case (key, (cosA, rankA)) =>
      val (cosR, rankR) = recon(key)
      assert(rankA == rankR, s"rank drift at $key: $rankA vs $rankR")
      assert(math.abs(cosA - cosR) <= 1e-9, s"cos drift at $key: $cosA vs $cosR")
    }

    // composed tier, exact dials (all lists + unbounded shortlist) ≡ brute
    // force — the q_ann_ivf_pq oracle configuration, checked here in-process
    val qRaw = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val index = SimilarityOps.trainIvf(emb, nLists = 8, seed = 7)
    val exact = SimilarityOps.bruteForceTopK(emb, qRaw, k = 5)
      .select("query_id", "vec_id", "cos", "rank").collect().map(_.toSeq).toSet
    val composedAll = SimilarityOps.annTopKIvfPqExact(emb, qRaw, index, books,
      k = 5, nprobe = 8, shortlist = Int.MaxValue)
      .select("query_id", "vec_id", "cos", "rank").collect().map(_.toSeq).toSet
    assert(composedAll == exact, "all-dials composition must equal brute force")

    // partial dials on CLUSTERED data (the real-corpus shape): trained
    // quantizers, 3/10 lists probed, shortlist 40 → high recall
    val rng = new scala.util.Random(11)
    val centers = Array.fill(10)(Array.fill(64)(rng.nextGaussian()))
    val cEmb = (0 until 500).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(v => (v + 0.15 * rng.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cQueries = cEmb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cIndex = SimilarityOps.trainIvf(cEmb, nLists = 10, seed = 7)
    val cBooks = SimilarityOps.trainPq(cEmb)
    val cExact = SimilarityOps.bruteForceTopK(cEmb, cQueries, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cComposed = SimilarityOps.annTopKIvfPqExact(cEmb, cQueries, cIndex, cBooks,
      k = 5, nprobe = 3, shortlist = 40)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (cExact & cComposed).size.toDouble / cExact.size
    assert(recall >= 0.8, s"composed-tier recall $recall too low on clustered data")
  }

  test("J3 at scale: join-path canonicalization == driver-map path on >1e5 merge edges") {
    import spark.implicits._
    // 120k xref edges: 30k components of 4 members each (E:4k .. E:4k+3,
    // chained), ids zero-padded so lexicographic min == numeric min
    val nGroups = 30000
    val edges = spark.range(nGroups).select(col("id"))
      .select(explode(array((0 until 3).map(j =>
        struct(format_string("E:%07d", col("id") * 4 + j).as("a"),
          format_string("E:%07d", col("id") * 4 + j + 1).as("b"))): _*)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val emptyNodes = spark.createDataFrame(Seq.empty[(String, Seq[String])])
      .toDF("curie", "xrefs")

    // 120k < 200k limit, so this is Closure's driver union-find branch
    val m = KgPipeline.xrefCanonicalMap(emptyNodes, None, Some(edges))
    assert(m.size == nGroups * 3) // every non-rep member remapped
    // each chain's min curie is its representative
    assert(m == (0 until nGroups).flatMap(g =>
      (1 to 3).map(j => f"E:${g * 4 + j}%07d" -> f"E:${g * 4}%07d")).toMap)

    // canonicalize through the 90k-entry map must agree with an independent
    // driver-side rewrite of the same triples through m
    val triples = spark.range(5000).select(
      format_string("E:%07d", col("id") * 24 % (nGroups * 4)).as("subj"),
      lit("rel").as("pred"),
      format_string("E:%07d", (col("id") * 24 + 17) % (nGroups * 4)).as("obj"))
    val expected = triples.collect()
      .map(r => Seq(m.getOrElse(r.getString(0), r.getString(0)), r.getString(1),
        m.getOrElse(r.getString(2), r.getString(2))))
      .sortBy(_.toString)
    val viaMap = KgPipeline.canonicalize(triples, m)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(viaMap.toSeq == expected.toSeq)
  }

  test("plan: no pass exchanges the corpus, through run or through BulkRunner") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.pipeline.BulkRunner
    import graft.sources.SourceResolver.JsonSource
    // every operator of a plan: final adaptive stages (or, before
    // execution, the initial plan), subqueries, write commands and the plans
    // a snapshot write persists its input with (a sweep's pass runs inside one)
    val helper = new AdaptiveSparkPlanHelper {}
    def operators(p: SparkPlan): Seq[SparkPlan] = helper.collectWithSubqueries(p) {
      case c: CommandResultExec => operators(c.commandPhysicalPlan)
      case m: InMemoryTableScanExec => m +: operators(m.relation.cachedPlan)
      case o => Seq(o)
    }.flatten

    // plain input runs in its own partitions, and the ontology branch is the
    // context's finished, cached triples
    val tr = Transcripts.synthetic(spark, 200)
    val plan = KgPipeline.run(spark, tr, ontPath).triples.queryExecution.executedPlan
    val exchanges = operators(plan).collect { case e: Exchange => e }
    assert(exchanges.isEmpty, s"the pass shuffles:\n${plan.treeString}")
    // detection is a first-class operator in the SAME plan (no opaque RDD break)
    assert(plan.treeString.contains("DetectTriples"), plan.treeString)

    // a bulk sweep writing icelite snapshots, under a listener
    val marker = "graft_plan_marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) flushed.countDown()
        else operators(qe.executedPlan).foreach(seen.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val reports = try SparkTestBase.withTempDir("graft_bulk_plan") { root =>
      val r = BulkRunner.run(spark, Seq(BulkRunner.OntologyJob("PATO", Seq(JsonSource(ontPath)))),
        tr, MiniOntology.converter, icelite = Some(new Icelite(root)))
      // listener events arrive asynchronously: a marker query flushes them
      spark.range(1).toDF(marker).collect()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker never seen")
      r
    } finally spark.listenerManager.unregister(listener)
    assert(reports.map(_.ok) == Seq(true), reports)
    import scala.jdk.CollectionConverters._
    val ops = seen.asScala.toSeq
    assert(ops.exists(_.nodeName.contains("DetectTriples")), "the sweep's pass was not observed")
    val convShuffles = ops.collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case k: Expression => k.references.exists(_.name == "conv_id")
        case _ => false
      }) => e
    }
    assert(convShuffles.isEmpty,
      s"conv_id-keyed exchange:\n${convShuffles.map(_.treeString.take(1500)).mkString("\n")}")
  }

  test("skew: the pass gives the same triples under any layout of a hot conversation") {
    import org.apache.spark.sql.functions.spark_partition_id
    val ctx = KgPipeline.prepare(spark, ontPath)
    // conv0 is the generator's long-tail conversation: skewFactor 90 makes it
    // about a fifth of all turns
    val tr = Transcripts.synthetic(spark, 300, skewFactor = 90).cache()
    val hot = col("conv_id") === "conv0"
    val share = tr.filter(hot).count().toDouble / tr.count()
    assert(share > 0.15 && share < 0.25, s"hot share $share")

    // reference: string-path detection, raw grounder, then the canonical remap
    val grounderRaw = spark.sparkContext.broadcast(
      Grounder.build(graft.operators.LiteralMappings.fromNodes(ctx.nodes, "PATO")))
    val reference = KgPipeline.canonicalize(
      MentionDetector.mentionTriples(
        MentionDetector.detectTopSlim(MentionDetector.slim(tr), grounderRaw).toDF()),
      ctx.canonical).unionByName(ctx.edges).collect().map(_.toSeq).toSet
    assert(reference.exists(_.head.toString.startsWith("turn:conv0/")))

    // round-robin spreads the hot conversation over every task
    val roundRobin = tr.repartition(4)
    assert(roundRobin.filter(hot).select(spark_partition_id()).distinct().count() == 4)
    val layouts = Seq("round-robin" -> roundRobin, "one partition" -> tr.coalesce(1),
      "by conv_id" -> tr.repartition(col("conv_id")))
    for ((name, input) <- layouts) {
      val got = KgPipeline.runPrepared(spark, input, ctx).triples.collect().map(_.toSeq).toSet
      assert(got == reference, s"$name: ${(got diff reference).take(3)} / ${(reference diff got).take(3)}")
    }
    tr.unpersist()
  }

  test("plan: a pass over conv_id-partitioned input has no exchange; ontology side is cached") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val tr = Transcripts.synthetic(spark, 200)
    val ctx = KgPipeline.prepare(spark, ontPath)
    val triples = KgPipeline.runPrepared(spark, tr, ctx, inputConvPartitioned = true).triples
    // the pass's own operators (the cached frame's plan is not walked), as
    // planned before execution: exchanges inserted, no query stages yet
    val pass = triples.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(pass.collect { case e: Exchange => e }.isEmpty, pass.treeString)
    assert(pass.treeString.contains("DetectTriples"), pass.treeString)
    // the ontology side is the context's cached frame, read as prepared
    val scans = pass.collect { case m: InMemoryTableScanExec => m.relation.cacheBuilder }
    val prepared = ctx.edges.queryExecution.optimizedPlan.collect {
      case m: InMemoryRelation => m.cacheBuilder
    }
    assert(prepared.size == 1 && scans == prepared, pass.treeString)
  }

  test("Grounder.build: ONE job and no exchange on a multi-partition lexicon") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val lex = spark.range(0, 400, 1, 4).select(lit("P").as("prefix"),
      format_string("%04d", col("id")).as("id"), lit(null).cast("string").as("name"),
      lit(graft.model.Vocab.Label).as("predicate"),
      concat(lit("term "), (col("id") % 150).cast("string")).as("text"))
    assert(lex.rdd.getNumPartitions == 4)
    val (g, jobs) = withJobCount(Grounder.build(lex))
    assert(jobs == 1, s"$jobs jobs")
    assert(g.automaton.patterns.length == 150)
    val plan = Grounder.lexiconRows(lex).queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty, plan.treeString)
  }

  test("prepare: ontology triples dedup once in one partition, no exchange, == the old chain") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.operators.GraphStandardizer
    import graft.sources.{OboGraphReader, SourceResolver}
    SparkTestBase.withTempDir("graft_two_docs") { dir =>
      // two documents of one source: every edge comes twice
      val json = Files.readAllBytes(Paths.get(ontPath))
      Files.write(Paths.get(dir, "a.json"), json)
      Files.write(Paths.get(dir, "b.json"), json)
      val twoDocs = SourceResolver.resolve(spark, Seq(SourceResolver.JsonSource(dir))).graphs.get
      assert(twoDocs.count() == 2)
      Seq(OboGraphReader.readGraphs(spark, ontPath), twoDocs).foreach { graphs =>
        val ctx = KgPipeline.prepareGraphs(spark, graphs, MiniOntology.converter, Some("PATO"))
        // the chain before the dedup moved into the partition
        val old = KgPipeline.canonicalize(GraphStandardizer.standardizeEdges(graphs, MiniOntology.converter),
          ctx.canonical).dropDuplicates("subj", "pred", "obj").coalesce(1)
        assert(ctx.edges.count() == old.count() && ctx.edges.count() > 0)
        assert(ctx.edges.exceptAll(old).isEmpty && old.exceptAll(ctx.edges).isEmpty)
        assert(ctx.edges.rdd.getNumPartitions == 1)
        def physical(p: org.apache.spark.sql.execution.SparkPlan) = p match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val plan = physical(physical(ctx.edges.queryExecution.executedPlan).collectFirst {
          case m: InMemoryTableScanExec => m.relation.cachedPlan
        }.get)
        assert(plan.collect { case e: Exchange => e }.isEmpty, plan.treeString)
        ctx.release()
      }
    }
  }

  test("bulk runner: canonical-prefix guard, failure recording, per-prefix run") {
    import graft.pipeline.BulkRunner
    import graft.sources.SourceResolver._
    val tr = Transcripts.synthetic(spark, 50)
    val reports = BulkRunner.run(spark, Seq(
      BulkRunner.OntologyJob("nonsense_prefix", Seq(JsonSource(ontPath))),
      BulkRunner.OntologyJob("pato", Seq(
        JsonSource("/nonexistent.json"), JsonSource(ontPath))),
      BulkRunner.OntologyJob("PATO", Seq(JsonSource("/also/nonexistent.json")))),
      tr, MiniOntology.converter)
    assert(!reports(0).ok && reports(0).messages.head.contains("not a canonical prefix"))
    assert(reports(1).ok && reports(1).prefix == "PATO") // synonym spelling canonicalized
    assert(reports(1).version.exists(_.contains("2026-01-01")))
    assert(reports(1).triples > 0)
    assert(reports(1).messages.nonEmpty) // the failed first source was recorded
    assert(!reports(2).ok && reports(2).messages.nonEmpty)
  }

  test("bulk runner: malformed OBO Graph JSON fails its own job only") {
    import graft.pipeline.BulkRunner
    import graft.sources.SourceResolver._
    import java.nio.file.{Files, Paths}
    val fixtureJson = new String(Files.readAllBytes(Paths.get(ontPath)), "UTF-8")
    val truncated = Paths.get("target/fixtures/bulk_truncated.json")
    Files.write(truncated, fixtureJson.take(fixtureJson.length / 2).getBytes("UTF-8"))
    val stringNodes = Paths.get("target/fixtures/bulk_string_nodes.json")
    Files.write(stringNodes,
      """{"graphs":[{"id":"http://purl.obolibrary.org/obo/pato.owl","nodes":"not a list","edges":[]}]}"""
        .getBytes("UTF-8"))
    val tr = Transcripts.synthetic(spark, 30)
    val reports = BulkRunner.run(spark, Seq(
      BulkRunner.OntologyJob("PATO", Seq(JsonSource(ontPath))),
      BulkRunner.OntologyJob("PATO", Seq(JsonSource(truncated.toString))),
      BulkRunner.OntologyJob("PATO", Seq(JsonSource(stringNodes.toString))),
      BulkRunner.OntologyJob("PATO", Seq(JsonSource(ontPath)))),
      tr, MiniOntology.converter)
    for (bad <- Seq(reports(1), reports(2))) {
      assert(!bad.ok, bad)
      assert(bad.messages.nonEmpty, bad)
    }
    val usual = KgPipeline.run(spark, tr, ontPath).triples.count()
    for (good <- Seq(reports(0), reports(3))) {
      assert(good.ok, good.messages.mkString("; "))
      assert(good.triples == usual)
    }
  }

  test("bulk runner: a ConvertedSource job pipelines the converter OUTPUT, not the raw source") {
    import graft.pipeline.BulkRunner
    import graft.sources.SourceResolver._
    val script = java.nio.file.Paths.get("target/fixtures/bulk_convert.sh")
    java.nio.file.Files.write(script, "#!/bin/sh\ncp \"$1\" \"$2\"\n".getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    // the "owl" input deliberately does NOT parse as OBO Graph JSON — only
    // the converter's output does; the pipeline must run on the graphs the
    // resolution parsed, never re-read the raw path
    val rawOwl = java.nio.file.Paths.get("target/fixtures/bulk_raw.owl")
    java.nio.file.Files.write(rawOwl,
      "<rdf:RDF>this is not json</rdf:RDF>".getBytes("UTF-8"))
    val fixtureJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ontPath)), "UTF-8")
    val convScript = java.nio.file.Paths.get("target/fixtures/bulk_convert2.sh")
    java.nio.file.Files.write(convScript,
      s"#!/bin/sh\ncp '$ontPath' \"$$2\"\n".getBytes("UTF-8"))
    convScript.toFile.setExecutable(true)
    assert(fixtureJson.nonEmpty)
    val out = "target/fixtures/bulk_conv_out.json"
    new java.io.File(out).delete()
    val reports = BulkRunner.run(spark, Seq(
      BulkRunner.OntologyJob("PATO", Seq(
        ConvertedSource(rawOwl.toString, "owl",
          Seq("sh", convScript.toString, "{in}", "{out}"), out)))),
      Transcripts.synthetic(spark, 30), MiniOntology.converter)
    assert(reports(0).ok, reports(0).messages.mkString("; "))
    assert(reports(0).triples > 0)
  }

  test("bulk runner parallel: >=2 jobs in flight at once; reports identical to sequential") {
    import graft.pipeline.BulkRunner
    import graft.sources.SourceResolver._
    val tr = Transcripts.synthetic(spark, 40)
    val jobs = Seq(
      BulkRunner.OntologyJob("pato", Seq(JsonSource(ontPath))),
      BulkRunner.OntologyJob("PATO", Seq(JsonSource(ontPath))),
      BulkRunner.OntologyJob("nonsense_prefix", Seq(JsonSource(ontPath))),
      BulkRunner.OntologyJob("pato", Seq(JsonSource(ontPath))))
    val seq = BulkRunner.run(spark, jobs, tr, MiniOntology.converter)
    // concurrency proof, DETERMINISTIC: every job's start blocks until TWO
    // jobs have started (bounded await). Under real parallelism both worker
    // threads enter JobStarted almost immediately and release each other; a
    // sequential implementation can never have two starts outstanding, so
    // the await times out and the flag records the failure.
    val started = new java.util.concurrent.CountDownLatch(2)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(true)
    val par = BulkRunner.run(spark, jobs, tr, MiniOntology.converter, icelite = None,
      parallelism = 2, progress = {
        case BulkRunner.JobStarted(_) =>
          started.countDown()
          if (!started.await(60, java.util.concurrent.TimeUnit.SECONDS)) overlapped.set(false)
        case _ => ()
      })
    assert(overlapped.get(), "two bulk jobs never ran concurrently")
    // completion order may differ; REPORTED order and content must not
    assert(par == seq)

    // failure parity with the sequential path: an exception ESCAPING runOne
    // (here: a throwing progress callback) must surface with its original
    // type — not wrapped in ExecutionException — and cancel the sweep
    val boom = new RuntimeException("progress exploded")
    val thrown = intercept[RuntimeException](
      BulkRunner.run(spark, jobs, tr, MiniOntology.converter, icelite = None,
        parallelism = 2, progress = {
          case BulkRunner.JobStarted(_) => throw boom
          case _ => ()
        }))
    assert(thrown eq boom)
  }

  test("bulk runner parallel + icelite: concurrent snapshot writers never collide") {
    import graft.pipeline.BulkRunner
    import graft.sources.SourceResolver._
    import java.nio.file.{Files, Paths}
    val tr = Transcripts.synthetic(spark, 40)
    val ic = new Icelite("target/icelite_bulkpar_" + System.nanoTime())
    val jobs = (1 to 4).map(_ => BulkRunner.OntologyJob("PATO", Seq(JsonSource(ontPath))))
    val reports = BulkRunner.run(spark, jobs, tr, MiniOntology.converter, Some(ic),
      parallelism = 2)
    assert(reports.forall(_.ok), reports.map(_.messages).mkString("; "))
    // identical inputs → identical triple counts from every job
    assert(reports.map(_.triples).distinct.size == 1)
    for (table <- Seq("mention_triples", "kg_nodes", "kg_edges")) {
      val snaps = Paths.get(ic.root, table, "snapshots")
      val ids = Files.list(snaps).iterator()
      val manifests = new scala.collection.mutable.ArrayBuffer[Long]()
      while (ids.hasNext) {
        val p = ids.next()
        if (p.toString.endsWith(".json")) {
          val id = p.getFileName.toString.stripSuffix(".json").toLong
          manifests += id
          // every committed manifest's data dir must exist (an id collision
          // under concurrency would have one writer overwrite the other's)
          val m = ic.manifestJson(table, id)
          assert(m.contains(s""""snapshot_id":$id"""), m.take(120))
          assert(Files.exists(Paths.get(ic.root, table, s"data/snap-$id")), s"$table snap-$id data missing")
        }
      }
      assert(manifests.distinct.size == manifests.size)
      // pointer lands on the max committed id; the snapshot it names reads back
      assert(ic.currentSnapshotId(table).contains(manifests.max))
      assert(ic.readSnapshot(spark, table).count() > 0)
    }
  }

  test("S3-S5: ConvertedSource runs an external converter, caches, and resolves") {
    import graft.sources.SourceResolver
    import graft.sources.SourceResolver._
    val script = java.nio.file.Paths.get("target/fixtures/fake_convert.sh")
    java.nio.file.Files.write(script, "#!/bin/sh\ncp \"$1\" \"$2\"\n".getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    val src = ConvertedSource.cached(ontPath, "owl",
      Seq("sh", script.toString, "{in}", "{out}"), "target/fixtures/convcache")
    val out = src.outPath
    assert(out.endsWith("/" + java.nio.file.Paths.get(ontPath).getFileName.toString + ".json"),
      s"cache key must come from nameFromUrl: $out")
    new java.io.File(out).delete()
    new java.io.File("target/fixtures/convcache").mkdirs()
    val res = SourceResolver.resolve(spark, Seq(src))
    assert(res.resolvedFrom.exists(_.kind == "owl+convert"))
    assert(res.graphs.exists(_.count() > 0))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out)), "conversion output cached")
    // missing converter binary → recorded skip, cascade falls through to JSON
    val res2 = SourceResolver.resolve(spark, Seq(
      ConvertedSource("/x.owl", "owl", Seq("/nonexistent/robot", "{in}", "{out}"),
        "target/fixtures/never_written.json"),
      JsonSource(ontPath)))
    assert(res2.resolvedFrom.exists(_.kind == "obograph-json"))
    assert(res2.messages.exists(_.contains("conversion failed")))
  }

  test("S4/S5 flags: local/remote default asymmetry rendered into the argv (robot.py:191-260)") {
    import graft.sources.SourceResolver._
    val cmd = Seq("robot-convert", "-i", "{in}", "{flags}", "-o", "{out}")
    val local = ConvertedSource("/o.owl", "owl", cmd, "/tmp/o.json") // default = Local
    assert(local.renderedCommand() ==
      Seq("robot-convert", "-i", "/o.owl", "--check", "true", "-o", "/tmp/o.json"))
    val remote = ConvertedSource("/o.owl", "owl", cmd, "/tmp/o.json", ConvertFlags.Remote)
    assert(remote.renderedCommand() ==
      Seq("robot-convert", "-i", "/o.owl", "--check", "true", "--reason", "--merge",
        "-o", "/tmp/o.json"))
    // ner.py:55-64 escape hatch: structure checks off, everything else kept
    assert(remote.unchecked.renderedCommand() ==
      Seq("robot-convert", "-i", "/o.owl", "--check", "false", "--reason", "--merge",
        "-o", "/tmp/o.json"))
    // a command without {flags} ignores them (non-ROBOT converters)
    assert(ConvertedSource("/a", "owl", Seq("cp", "{in}", "{out}"), "/tmp/b").renderedCommand()
      == Seq("cp", "/a", "/tmp/b"))
    // debug renders the reference's -vvv; extra_args pass through verbatim
    val dbg = ConvertedSource("/o.owl", "owl", cmd, "/tmp/o.json",
      ConvertFlags(debug = true, extraArgs = Seq("--strict", "-x")))
    assert(dbg.renderedCommand() ==
      Seq("robot-convert", "-i", "/o.owl", "--check", "true", "-vvv", "--strict", "-x",
        "-o", "/tmp/o.json"))
  }

  test("S4 failure hygiene: partial output never cached, hung converter times out") {
    import graft.sources.SourceResolver
    import graft.sources.SourceResolver._
    val dir = java.nio.file.Paths.get("target/fixtures/convfail")
    java.nio.file.Files.createDirectories(dir)
    // converter that writes garbage THEN fails: outPath must stay absent so a
    // later (fixed) run reconverts instead of resolving from the poisoned cache
    val bad = dir.resolve("bad_convert.sh")
    java.nio.file.Files.write(bad, "#!/bin/sh\necho garbage > \"$2\"\nexit 3\n".getBytes("UTF-8"))
    bad.toFile.setExecutable(true)
    val out = dir.resolve("cached.json").toString
    new java.io.File(out).delete()
    val src = ConvertedSource(ontPath, "owl", Seq("sh", bad.toString, "{in}", "{out}"), out)
    val res = SourceResolver.resolve(spark, Seq(src))
    assert(res.graphs.isEmpty)
    assert(res.messages.exists(_.contains("exited 3")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out)),
      "failed conversion must not populate the cache")
    // same slot, converter fixed → reconverts fine (cache was not poisoned)
    val good = dir.resolve("good_convert.sh")
    java.nio.file.Files.write(good, "#!/bin/sh\ncp \"$1\" \"$2\"\n".getBytes("UTF-8"))
    good.toFile.setExecutable(true)
    val res2 = SourceResolver.resolve(spark,
      Seq(ConvertedSource(ontPath, "owl", Seq("sh", good.toString, "{in}", "{out}"), out)))
    assert(res2.graphs.exists(_.count() > 0))
    // hung converter: killed at timeoutSec, recorded, no cache entry
    val hang = dir.resolve("hang_convert.sh")
    java.nio.file.Files.write(hang, "#!/bin/sh\nsleep 60\n".getBytes("UTF-8"))
    hang.toFile.setExecutable(true)
    val out2 = dir.resolve("hung.json").toString
    val t0 = System.nanoTime()
    val res3 = SourceResolver.resolve(spark, Seq(
      ConvertedSource(ontPath, "owl", Seq("sh", hang.toString, "{in}", "{out}"), out2,
        timeoutSec = 1L)))
    assert((System.nanoTime() - t0) / 1e9 < 30, "timeout must cut the wait")
    assert(res3.messages.exists(_.contains("timed out")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out2)))

    // a converter exiting 0 WITHOUT writing {out} (misconfigured command) is
    // a RECORDED skip, not a silent one
    val noop = dir.resolve("noop_convert.sh")
    java.nio.file.Files.write(noop, "#!/bin/sh\nexit 0\n".getBytes("UTF-8"))
    noop.toFile.setExecutable(true)
    val out3 = dir.resolve("nooutput.json").toString
    val res4 = SourceResolver.resolve(spark, Seq(
      ConvertedSource(ontPath, "owl", Seq("sh", noop.toString, "{in}"), out3)))
    assert(res4.graphs.isEmpty)
    assert(res4.messages.exists(_.contains("wrote no output")), res4.messages)
  }

  test("composed IVF+PQ storage: partition-pruned ADC scan, same results as in-memory path") {
    import graft.operators.SimilarityOps
    val emb = spark.range(400).select(col("id").as("vec_id"),
      array((0 until 16).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(1000)).cast("float") / 500.0f - 1.0f)): _*)
        .as("embedding"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val index = SimilarityOps.trainIvf(emb, nLists = 8)
    val books = SimilarityOps.trainPq(emb, m = 4, k = 8, dim = 16)
    val path = "target/fixtures/ann_ivfpq_stored_" + System.nanoTime()
    SimilarityOps.writeIvfPq(emb, index, books, path)
    val got = SimilarityOps.annTopKIvfPqStored(spark, path, queries, index, books,
      k = 3, nprobe = 3, shortlist = 20)
    val want = SimilarityOps.annTopKIvfPqExact(emb, queries, index, books,
      k = 3, nprobe = 3, shortlist = 20)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(got) == key(want))
    // the ADC scan must prune at the partition level, not post-filter
    val planTxt = got.queryExecution.executedPlan.toString
    assert(planTxt.contains("PartitionFilters: [list_id"), planTxt.take(2000))

    // incremental index ingest: a new batch appends into the SAME list
    // partitions; the stored composed tier over old∪new equals the
    // in-memory path over the union corpus
    val more = spark.range(400, 500).select(col("id").as("vec_id"),
      array((0 until 16).map(i =>
        (pmod(xxhash64(col("id"), lit(i + 7)), lit(1000)).cast("float") / 500.0f - 1.0f)): _*)
        .as("embedding"))
    SimilarityOps.appendIvfPq(more, index, books, path, batchId = 1)
    // replayed ingest of the SAME batch must rewrite, not duplicate — a
    // doubled vec_id would crowd a genuine neighbor out of the top-k
    SimilarityOps.appendIvfPq(more, index, books, path, batchId = 1)
    val gotAll = SimilarityOps.annTopKIvfPqStored(spark, path, queries, index, books,
      k = 3, nprobe = 3, shortlist = 20)
    val wantAll = SimilarityOps.annTopKIvfPqExact(emb.unionByName(more), queries, index, books,
      k = 3, nprobe = 3, shortlist = 20)
    assert(key(gotAll) == key(wantAll), "appended index diverges from union corpus")
    assert(spark.read.parquet(path).count() == 500, "replayed batch duplicated index rows")
  }

  test("stored index metadata: fresh session queries writeIvfPq storage without retraining") {
    import graft.operators.SimilarityOps
    val emb = spark.range(300).select(col("id").as("vec_id"),
      array((0 until 16).map(i =>
        (pmod(xxhash64(col("id"), lit(i + 3)), lit(1000)).cast("float") / 500.0f - 1.0f)): _*)
        .as("embedding"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val index = SimilarityOps.trainIvf(emb, nLists = 6)
    val books = SimilarityOps.trainPq(emb, m = 4, k = 8, dim = 16)
    val path = "target/fixtures/ann_ivfpq_meta_" + System.nanoTime()
    SimilarityOps.writeIvfPq(emb, index, books, path)
    // what the stored index must reproduce (computed with the TRAINING
    // session's in-memory quantizers)
    val want = SimilarityOps.annTopKIvfPqExact(emb, queries, index, books,
      k = 3, nprobe = 3, shortlist = 20)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val qRows = queries.collect()

    // FRESH session (new session state/catalog — the new-process shape):
    // everything needed to query comes off disk, nothing is retrained
    val fresh = spark.newSession()
    val (meta, metaJobs) = withJobCount(SimilarityOps.readIndexMeta(path))
    assert(metaJobs == 0, s"readIndexMeta ran $metaJobs Spark jobs")
    // quantizers round-trip BIT-exact (Double.toString into the JSON
    // sidecar, Double.parseDouble back)
    assert(meta.version == SimilarityOps.indexVersion(index, books))
    assert(meta.index.centroids.length == index.centroids.length &&
      meta.index.centroids.zip(index.centroids).forall { case (a, b) => a.sameElements(b) })
    assert(meta.codebooks.length == books.length &&
      meta.codebooks.zip(books).forall { case (a, b) =>
        a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    val freshQueries = fresh.createDataFrame(
      fresh.sparkContext.parallelize(qRows.toSeq), queries.schema)
    val got = SimilarityOps.annTopKIvfPqStored(fresh, path, freshQueries,
      meta.index, meta.codebooks, k = 3, nprobe = 3, shortlist = 20)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, "fresh-session stored query diverges from training-session results")

    // append under the WRONG quantizers fails LOUDLY (interleaved
    // incomparable codes would silently corrupt every subsequent top-k)
    val retrained = SimilarityOps.pqCodebooks(m = 4, k = 8, subDim = 4, seed = 99L)
    val more = spark.range(300, 320).select(col("id").as("vec_id"),
      array((0 until 16).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(1000)).cast("float") / 500.0f - 1.0f)): _*)
        .as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.appendIvfPq(more, index, retrained, path, batchId = 1)
    }
    assert(ex.getMessage.contains("WRONG quantizers"), ex.getMessage)
    // same-version append (quantizers loaded from the sidecar) still works
    SimilarityOps.appendIvfPq(more, meta.index, meta.codebooks, path, batchId = 1)
    assert(spark.read.parquet(path).count() == 320)
    // and an append into a path with NO metadata is an explicit error, not
    // a silent unversioned write
    intercept[IllegalStateException] {
      SimilarityOps.appendIvfPq(more, index, books,
        "target/fixtures/ann_no_meta_" + System.nanoTime(), batchId = 0)
    }
    // an index in the older layout (an `_index_meta/` parquet directory, no
    // `_index_meta.json`) fails loudly with the rebuild call
    val oldLayout = "target/fixtures/ann_old_meta_" + System.nanoTime()
    spark.range(1).write.parquet(s"$oldLayout/_index_meta")
    val exOld = intercept[IllegalStateException](SimilarityOps.readIndexMeta(oldLayout))
    assert(exOld.getMessage.contains("rebuild with writeIvfPq"), exOld.getMessage)
  }

  test("index drift: sidecar stats round-trip; same-distribution batch passes, shifted batch trips") {
    import graft.operators.SimilarityOps
    def mkEmb(from: Int, until: Int, shift: Float) =
      spark.range(from, until).select(col("id").as("vec_id"),
        array((0 until 16).map(i =>
          (pmod(xxhash64(col("id"), lit(i + 5)), lit(1000)).cast("float") / 500.0f - 1.0f
            + lit(shift))): _*).as("embedding"))
    val emb = mkEmb(0, 300, 0.0f)
    val index = SimilarityOps.trainIvf(emb, nLists = 6)
    val books = SimilarityOps.trainPq(emb, m = 4, k = 8, dim = 16)
    val path = "target/fixtures/ann_drift_" + System.nanoTime()
    SimilarityOps.writeIvfPq(emb, index, books, path)

    // training stats ride the sidecar and round-trip
    val meta = SimilarityOps.readIndexMeta(path)
    val want = SimilarityOps.assignStats(emb, index)
    assert(meta.trainStats.contains(want),
      s"sidecar stats ${meta.trainStats} != recomputed $want")

    // a batch FROM the training distribution: ratios ~1, no rebuild signal
    val same = SimilarityOps.ivfDrift(mkEmb(300, 500, 0.0f), meta)
    assert(!same.rebuildRecommended, same.toString)
    assert(same.meanRatio > 0.5 && same.meanRatio < 1.25, same.toString)

    // a SHIFTED batch the quantizer no longer fits: rebuild recommended
    val shifted = SimilarityOps.ivfDrift(mkEmb(300, 500, 2.5f), meta)
    assert(shifted.rebuildRecommended, shifted.toString)
    assert(shifted.meanRatio > same.meanRatio, s"$shifted vs $same")

    // DEGENERATE training stats (every training vector ON its centroid →
    // meanDist = p95 = 0) must not poison the ratios with NaN: a real batch
    // against a zero baseline is unbounded drift (∞ ⇒ rebuild), never a
    // NaN that compares false against every threshold
    val metaZero = meta.copy(trainStats =
      Some(SimilarityOps.AssignStats(0.0, 0.0, 10L)))
    val degen = SimilarityOps.ivfDrift(mkEmb(300, 400, 0.0f), metaZero)
    assert(degen.rebuildRecommended, degen.toString)
    assert(!degen.meanRatio.isNaN && !degen.p95Ratio.isNaN, degen.toString)
    assert(degen.meanRatio.isPosInfinity, degen.toString)

    // an index written before drift detection existed fails LOUDLY, not
    // with a fabricated baseline
    val legacy = "target/fixtures/ann_drift_legacy_" + System.nanoTime()
    SimilarityOps.writeIndexMeta(legacy, index, books)
    val ex = intercept[IllegalStateException] {
      SimilarityOps.ivfDrift(emb, SimilarityOps.readIndexMeta(legacy))
    }
    assert(ex.getMessage.contains("no training assignment stats"), ex.getMessage)
  }

  test("index compaction: folds batches into one subtree per list, identical results, folded replay refused") {
    import graft.operators.SimilarityOps
    def mkEmb(from: Int, until: Int, salt: Int) =
      spark.range(from, until).select(col("id").as("vec_id"),
        array((0 until 16).map(i =>
          (pmod(xxhash64(col("id"), lit(i + salt)), lit(1000)).cast("float") / 500.0f - 1.0f)): _*)
          .as("embedding"))
    val emb = mkEmb(0, 300, 0)
    val index = SimilarityOps.trainIvf(emb, nLists = 6)
    val books = SimilarityOps.trainPq(emb, m = 4, k = 8, dim = 16)
    val path = "target/fixtures/ann_compact_" + System.nanoTime()
    SimilarityOps.writeIvfPq(emb, index, books, path)                       // batch 0
    SimilarityOps.appendIvfPq(mkEmb(300, 400, 7), index, books, path, batchId = 1)
    SimilarityOps.appendIvfPq(mkEmb(400, 450, 11), index, books, path, batchId = 2)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def key() = SimilarityOps.annTopKIvfPqStored(spark, path, queries, index, books,
      k = 3, nprobe = 3, shortlist = 20)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def dataFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    def batchDirs() = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    val want = key()
    val filesBefore = dataFiles()
    assert(batchDirs() == 3)

    assert(SimilarityOps.compactIvfPq(spark, path) == 2L)
    assert(batchDirs() == 1, "compaction left multiple batch subtrees")
    assert(dataFiles() < filesBefore,
      s"compaction did not reduce file count ($filesBefore -> ${dataFiles()})")
    // ~one file per list — the fold's whole point (the _index_meta.json
    // sidecar is not a parquet file)
    assert(dataFiles() <= 6, s"${dataFiles()} files after folding 6 lists")
    assert(key() == want, "compaction changed stored-index query results")
    assert(spark.read.parquet(path).count() == 450, "compaction lost/duplicated rows")

    // a replay of a FOLDED batch id must fail loudly — its per-batch
    // overwrite no longer covers the folded subtree, so a silent accept
    // would duplicate every row of that batch
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.appendIvfPq(mkEmb(400, 450, 11), index, books, path, batchId = 2)
    }
    assert(ex.getMessage.contains("already folded"), ex.getMessage)

    // appends ABOVE the watermark continue; a second compaction folds them
    SimilarityOps.appendIvfPq(mkEmb(450, 500, 13), index, books, path, batchId = 3)
    assert(SimilarityOps.compactIvfPq(spark, path) == 3L)
    assert(batchDirs() == 1 && spark.read.parquet(path).count() == 500)
    // compacting an already-compact index is a no-op that keeps the watermark
    assert(SimilarityOps.compactIvfPq(spark, path) == 3L)
  }

  test("index compaction crash safety: pre-commit failure discards staging, post-commit rerun finishes the swap") {
    import graft.operators.SimilarityOps
    def mkEmb(from: Int, until: Int, salt: Int) =
      spark.range(from, until).select(col("id").as("vec_id"),
        array((0 until 16).map(i =>
          (pmod(xxhash64(col("id"), lit(i + salt)), lit(1000)).cast("float") / 500.0f - 1.0f)): _*)
          .as("embedding"))
    val emb = mkEmb(0, 200, 1)
    val index = SimilarityOps.trainIvf(emb, nLists = 4)
    val books = SimilarityOps.trainPq(emb, m = 4, k = 8, dim = 16)
    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def build(): String = {
      val p = "target/fixtures/ann_compact_crash_" + System.nanoTime()
      SimilarityOps.writeIvfPq(emb, index, books, p)
      SimilarityOps.appendIvfPq(mkEmb(200, 260, 5), index, books, p, batchId = 1)
      p
    }
    def key(p: String) = SimilarityOps.annTopKIvfPqStored(spark, p, queries, index, books,
      k = 3, nprobe = 2, shortlist = 20)
      .select("query_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fs = new org.apache.hadoop.fs.Path("target").getFileSystem(
      spark.sessionState.newHadoopConf())

    // crash BEFORE the watermark commit: nothing visible changed — batch
    // dirs intact, watermark unset, the rerun discards staging and redoes
    // the fold from the intact sources
    val p1 = build()
    val want1 = key(p1)
    intercept[RuntimeException] {
      SimilarityOps.compactIvfPq(spark, p1, failAt = Some("before-commit"))
    }
    assert(graft.icelite.FoldSwap.compactedThrough(p1) == -1L, "uncommitted crash moved the watermark")
    assert(key(p1) == want1, "pre-commit crash changed visible results")
    assert(SimilarityOps.compactIvfPq(spark, p1) == 1L)
    assert(key(p1) == want1)
    assert(spark.read.parquet(p1).count() == 260)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p1/_compact_tmp")), "staging leaked")

    // crash AFTER the commit: the watermark is in, sources still intact so
    // readers between crash and rerun see correct data; the rerun FINISHES
    // the swap instead of redoing (or discarding) the fold
    val p2 = build()
    val want2 = key(p2)
    intercept[RuntimeException] {
      SimilarityOps.compactIvfPq(spark, p2, failAt = Some("after-commit"))
    }
    assert(graft.icelite.FoldSwap.compactedThrough(p2) == 1L)
    assert(key(p2) == want2, "post-commit crash window shows wrong results")
    assert(SimilarityOps.compactIvfPq(spark, p2) == 1L)
    assert(key(p2) == want2)
    assert(spark.read.parquet(p2).count() == 260)
    val dirs2 = new java.io.File(p2).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(dirs2 == 1, s"rerun did not finish the swap: $dirs2 batch dirs")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p2/_compact_tmp")), "staging leaked")

    // crash INSIDE the swap (watermark committed, source dirs already
    // deleted, staging not yet renamed — the one window where partition
    // discovery would miss every folded row): the stored READER must heal
    // the committed fold via FoldSwap.ensureRecovered and serve complete
    // results, not silently return a shrunken top-k until the next
    // maintenance compact
    val p3 = build()
    val want3 = key(p3)
    intercept[RuntimeException] {
      SimilarityOps.compactIvfPq(spark, p3, failAt = Some("after-commit"))
    }
    Seq(0, 1).foreach(id => // simulate finishSwap's deletes having run
      fs.delete(new org.apache.hadoop.fs.Path(s"$p3/batch_id=$id"), true))
    assert(key(p3) == want3, "reader served partial results from the swap-crash window")
    assert(spark.read.parquet(p3).count() == 260)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p3/_compact_tmp")),
      "reader healing did not finish the swap")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p3/batch_id=1")))
  }

  test("BM25 stored postings: partition-pruned probe, scores exactly equal the in-memory path across batches") {
    import spark.implicits._
    import graft.operators.RetrievalOps
    def mkDocs(from: Int, until: Int) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("w"), pmod(col("id") * (i + 3) + i, lit(40)))): _*).as("text"))
    val path = "target/fixtures/bm25_stored_" + System.nanoTime()
    RetrievalOps.writePostingsIndex(mkDocs(0, 150), path, nBuckets = 32)
    RetrievalOps.appendPostingsIndex(mkDocs(150, 200), path, batchId = 1)
    val queries = Seq((1L, "w3 w17 w5"), (2L, "w0 w1 w1")).toDF("query_id", "qtext")
    val got = RetrievalOps.bm25TopKStored(spark, path, queries, k = 4)
    // EXACT equality incl. the double score: the stored path must reproduce
    // the in-memory math bit-for-bit (same decimal rounding, same avgdl)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    assert(key(got) == key(RetrievalOps.bm25TopK(mkDocs(0, 200), queries, k = 4)))
    // the postings scan PRUNES to the query terms' buckets — storage-level
    // pruning, not a post-scan filter
    val planTxt = got.queryExecution.executedPlan.toString
    assert(planTxt.contains("PartitionFilters: [tb"), planTxt.take(2000))
    // querying a non-index path fails loudly, not with guessed pruning
    val ex = intercept[IllegalStateException] {
      RetrievalOps.bm25TopKStored(spark, path + "_nope", queries, k = 4)
    }
    assert(ex.getMessage.contains("no retrieval metadata"), ex.getMessage)
    // the bucket count is a MetaIO document: reading it runs no Spark job
    val (nBuckets, metaJobs) = withJobCount(RetrievalOps.readPostingsMeta(path))
    assert(nBuckets == 32 && metaJobs == 0, s"nBuckets=$nBuckets, $metaJobs Spark jobs")
    // an index in the older layout (an `_retrieval_meta/` parquet directory,
    // no `_retrieval_meta.json`) fails loudly with the rebuild call
    Seq(32).toDF("n_buckets").write.parquet(s"${path}_old/_retrieval_meta")
    val exOld = intercept[IllegalStateException] {
      RetrievalOps.bm25TopKStored(spark, s"${path}_old", queries, k = 4)
    }
    assert(exOld.getMessage.contains("rebuild with writePostingsIndex"), exOld.getMessage)
    // an index whose every ingested batch was empty also fails loudly
    RetrievalOps.writePostingsIndex(
      mkDocs(0, 150).filter(col("doc_id") < 0), path + "_empty", nBuckets = 8)
    val exEmpty = intercept[IllegalArgumentException] {
      RetrievalOps.bm25TopKStored(spark, path + "_empty", queries, k = 4)
    }
    assert(exEmpty.getMessage.contains("ZERO documents"), exEmpty.getMessage)
    // an interrupted appendPostingsIndex (postings written, stats document
    // missing) must fail the READ loudly with the replay remedy — not serve
    // silently mis-normalized scores
    RetrievalOps.appendPostingsIndex(mkDocs(200, 220), path, batchId = 2)
    val statsDoc = java.nio.file.Paths.get(s"$path/stats/batch_id=2.json")
    java.nio.file.Files.delete(statsDoc)
    val exStats = intercept[IllegalStateException] {
      RetrievalOps.bm25TopKStored(spark, path, queries, k = 4)
    }
    assert(exStats.getMessage.contains("batch_id=2") &&
      exStats.getMessage.contains("Replay"), exStats.getMessage)
    // replaying the batch (both writes are overwrites) heals the index
    RetrievalOps.appendPostingsIndex(mkDocs(200, 220), path, batchId = 2)
    assert(key(RetrievalOps.bm25TopKStored(spark, path, queries, k = 4)) ==
      key(RetrievalOps.bm25TopK(mkDocs(0, 220), queries, k = 4)))
  }

  test("BM25 postings compaction: idempotent re-append, fold keeps scores, folded replay refused") {
    import spark.implicits._
    import graft.operators.RetrievalOps
    def mkDocs(from: Int, until: Int) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("w"), pmod(col("id") * (i + 3) + i, lit(40)))): _*).as("text"))
    val path = "target/fixtures/bm25_compact_" + System.nanoTime()
    RetrievalOps.writePostingsIndex(mkDocs(0, 120), path, nBuckets = 16)
    RetrievalOps.appendPostingsIndex(mkDocs(120, 160), path, batchId = 1)
    // a retried ingest job OVERWRITES its own batch subtree — no row dup
    RetrievalOps.appendPostingsIndex(mkDocs(120, 160), path, batchId = 1)
    val queries = Seq((1L, "w7 w21"), (2L, "w2 w30 w11")).toDF("query_id", "qtext")
    def key() = RetrievalOps.bm25TopKStored(spark, path, queries, k = 3).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    val want = key()
    assert(want == RetrievalOps.bm25TopK(mkDocs(0, 160), queries, k = 3).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap,
      "replayed append duplicated postings")
    val rowsBefore = spark.read.parquet(s"$path/postings").count()
    def dataFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path, "postings"))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    def batchDirs() = new java.io.File(s"$path/postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    val filesBefore = dataFiles()
    assert(batchDirs() == 2)

    assert(RetrievalOps.compactPostings(spark, path) == 1L)
    assert(batchDirs() == 1, "fold left multiple batch subtrees")
    assert(dataFiles() < filesBefore, s"fold did not reduce files ($filesBefore -> ${dataFiles()})")
    assert(spark.read.parquet(s"$path/postings").count() == rowsBefore,
      "fold lost/duplicated postings rows")
    assert(key() == want, "fold changed stored scores")

    // replaying a FOLDED batch would duplicate its postings — refused loudly
    val ex = intercept[IllegalArgumentException] {
      RetrievalOps.appendPostingsIndex(mkDocs(120, 160), path, batchId = 1)
    }
    assert(ex.getMessage.contains("already folded"), ex.getMessage)

    // ingest continues above the watermark; a later fold picks it up
    RetrievalOps.appendPostingsIndex(mkDocs(160, 180), path, batchId = 2)
    assert(key() == RetrievalOps.bm25TopK(mkDocs(0, 180), queries, k = 3).collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap)
    assert(RetrievalOps.compactPostings(spark, path) == 2L)
    assert(batchDirs() == 1)
  }

  test("BM25 postings compaction crash safety: pre-commit discards staging, post-commit rerun finishes") {
    import spark.implicits._
    import graft.operators.RetrievalOps
    def mkDocs(from: Int, until: Int) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("w"), pmod(col("id") * (i + 3) + i, lit(40)))): _*).as("text"))
    val queries = Seq((1L, "w7 w21")).toDF("query_id", "qtext")
    def build(): String = {
      val p = "target/fixtures/bm25_crash_" + System.nanoTime()
      RetrievalOps.writePostingsIndex(mkDocs(0, 100), p, nBuckets = 8)
      RetrievalOps.appendPostingsIndex(mkDocs(100, 140), p, batchId = 1)
      p
    }
    def key(p: String) = RetrievalOps.bm25TopKStored(spark, p, queries, k = 3)
      .collect().map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toSet
    val fs = new org.apache.hadoop.fs.Path("target").getFileSystem(
      spark.sessionState.newHadoopConf())

    // crash BEFORE the watermark commit: sources intact, rerun redoes the fold
    val p1 = build()
    val want1 = key(p1)
    intercept[RuntimeException] {
      RetrievalOps.compactPostings(spark, p1, failAt = Some("before-commit"))
    }
    assert(graft.icelite.FoldSwap.compactedThrough(s"$p1/postings") == -1L)
    assert(key(p1) == want1, "pre-commit crash changed visible scores")
    assert(RetrievalOps.compactPostings(spark, p1) == 1L)
    assert(key(p1) == want1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p1/postings/_compact_tmp")))

    // crash AFTER the commit: watermark in, rerun finishes the swap
    val p2 = build()
    val want2 = key(p2)
    intercept[RuntimeException] {
      RetrievalOps.compactPostings(spark, p2, failAt = Some("after-commit"))
    }
    assert(graft.icelite.FoldSwap.compactedThrough(s"$p2/postings") == 1L)
    assert(key(p2) == want2, "post-commit crash window shows wrong scores")
    assert(RetrievalOps.compactPostings(spark, p2) == 1L)
    assert(key(p2) == want2)
    val dirs2 = new java.io.File(s"$p2/postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(dirs2 == 1, s"rerun did not finish the swap: $dirs2 batch dirs")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p2/postings/_compact_tmp")))

    // crash INSIDE the swap (sources deleted, staging not renamed): the
    // stored reader heals the committed fold and scores stay exact — a
    // shrunken postings set would silently change df/avgdl, not just drop docs
    val p3 = build()
    val want3 = key(p3)
    intercept[RuntimeException] {
      RetrievalOps.compactPostings(spark, p3, failAt = Some("after-commit"))
    }
    Seq(0, 1).foreach(id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$p3/postings/batch_id=$id"), true))
    assert(key(p3) == want3, "reader served scores from a half-swapped postings set")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p3/postings/_compact_tmp")),
      "reader healing did not finish the swap")
  }

  test("swap finish is CLAIM-serialized: a stale claim fails readers loudly; the maintenance compact takes it over") {
    import spark.implicits._
    import graft.operators.RetrievalOps
    import graft.icelite.FoldSwap
    def mkDocs(from: Int, until: Int) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("w"), pmod(col("id") * (i + 3) + i, lit(40)))): _*).as("text"))
    val queries = Seq((1L, "w7 w21")).toDF("query_id", "qtext")
    val p = "target/fixtures/bm25_claim_" + System.nanoTime()
    RetrievalOps.writePostingsIndex(mkDocs(0, 100), p, nBuckets = 8)
    RetrievalOps.appendPostingsIndex(mkDocs(100, 140), p, batchId = 1)
    def key() = RetrievalOps.bm25TopKStored(spark, p, queries, k = 3)
      .collect().map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toSet
    val want = key()
    val fs = new org.apache.hadoop.fs.Path("target").getFileSystem(
      spark.sessionState.newHadoopConf())
    intercept[RuntimeException] {
      RetrievalOps.compactPostings(spark, p, failAt = Some("after-commit"))
    }
    // simulate a finisher that died HOLDING the claim (the only crash that
    // leaves one — the claim is taken after the commit point)
    graft.icelite.MetaIO.forRoot(p).createNew(s"$p/postings/${FoldSwap.ClaimName}")
    val saved = FoldSwap.FinishWaitMs
    FoldSwap.FinishWaitMs = 300L
    try {
      // a reader must NOT heal around someone else's claim (two concurrent
      // finishers is the data-loss race) — it waits, then fails LOUDLY
      val ex = intercept[IllegalStateException](key())
      assert(ex.getMessage.contains(FoldSwap.ClaimName), ex.getMessage)
      // the maintenance compact presumes the holder dead after the same
      // wait, takes the claim over, and finishes the committed swap
      assert(RetrievalOps.compactPostings(spark, p) == 1L)
    } finally FoldSwap.FinishWaitMs = saved
    assert(key() == want, "takeover changed visible scores")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/postings/_compact_tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/postings/${FoldSwap.ClaimName}")),
      "takeover leaked the claim")
  }

  test("compaction folds only COMMITTED batches: a half-committed batch stays out and stays replayable") {
    import spark.implicits._
    import graft.operators.RetrievalOps
    def mkDocs(from: Int, until: Int) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("w"), pmod(col("id") * (i + 3) + i, lit(40)))): _*).as("text"))
    val path = "target/fixtures/bm25_halfcommit_" + System.nanoTime()
    RetrievalOps.writePostingsIndex(mkDocs(0, 100), path, nBuckets = 8)
    RetrievalOps.appendPostingsIndex(mkDocs(100, 140), path, batchId = 1)
    RetrievalOps.appendPostingsIndex(mkDocs(140, 170), path, batchId = 2)
    // simulate the documented ingest crash window for batch 2: postings
    // written, the stats write never ran
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/stats/batch_id=2.json"), true)
    // the fold must stop BELOW the interrupted batch — folding it would
    // bake its tf/df into the index while the watermark refuses the replay
    // that is its only recovery path
    assert(RetrievalOps.compactPostings(spark, path) == 1L)
    // the recovery the append scaladoc promises still works: replay it
    RetrievalOps.appendPostingsIndex(mkDocs(140, 170), path, batchId = 2)
    val queries = Seq((1L, "w7 w21"), (2L, "w2 w30")).toDF("query_id", "qtext")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toMap
    assert(key(RetrievalOps.bm25TopKStored(spark, path, queries, k = 3)) ==
      key(RetrievalOps.bm25TopK(mkDocs(0, 170), queries, k = 3)),
      "replayed batch did not restore exact scores")
    // once committed, the next maintenance fold picks everything up
    assert(RetrievalOps.compactPostings(spark, path) == 2L)
  }

  test("FoldSwap guards: gappy fold set refused before staging; corrupt watermark fails with remedy") {
    val base = "target/fixtures/foldswap_guard_" + System.nanoTime()
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (0 to 2).foreach(i => fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/batch_id=$i")))
    // a selector skipping an id below its target is refused up front:
    // recovery's delete-everything-<=-watermark would delete the skipped
    // dir's only copy after a post-commit crash
    val exGap = intercept[IllegalArgumentException] {
      graft.icelite.FoldSwap.compact(base, "batch_id=",
        selectFoldable = _ => Seq(0L, 2L),
        stage = (_, _, _) => fail("stage must not run for a gappy fold set"))
    }
    assert(exGap.getMessage.contains("downward-closed"), exGap.getMessage)
    // external corruption of the (atomically written) watermark is loud,
    // names the file, and states the remedy — not a bare NumberFormatException
    // out of every subsequent ingest
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$base/_compacted_through"), true)
    out.write("garbage".getBytes("UTF-8")); out.close()
    val exCorrupt = intercept[IllegalStateException] {
      graft.icelite.FoldSwap.compactedThrough(base)
    }
    assert(exCorrupt.getMessage.contains("corrupt compaction marker"), exCorrupt.getMessage)
  }

  test("MetaIO contract on a scheme-less path and a file:// URI: createNew keeps the first writer, rename refuses an existing target, writeAtomic(replace) overwrites") {
    import graft.icelite.MetaIO
    SparkTestBase.withTempDir("graft_metaio") { dir =>
      val abs = new java.io.File(dir).getAbsolutePath
      Seq(s"$abs/nio", s"file://$abs/hadoop").foreach { root =>
        val io = MetaIO.forRoot(root)
        io.mkdirs(root)
        // the claim CAS: the loser gets false and the winner's bytes stay
        val claim = io.join(root, "x.claim")
        assert(io.createNew(claim, "first"), root)
        assert(!io.createNew(claim, "second"), s"$root: a second createNew won the claim")
        assert(io.readString(claim) == "first", s"$root: the losing createNew wrote")
        // rename never replaces an existing target — file or directory
        val a = io.join(root, "a"); val b = io.join(root, "b")
        io.writeAtomic(a + "._tmp", a, "A", replace = true)
        io.writeAtomic(b + "._tmp", b, "B", replace = true)
        intercept[java.io.IOException](io.rename(a, b))
        assert(io.readString(a) == "A" && io.readString(b) == "B", root)
        val d1 = io.join(root, "d1"); val d2 = io.join(root, "d2")
        io.mkdirs(d1); assert(io.createNew(io.join(d1, "f"), "in d1")); io.mkdirs(d2)
        intercept[java.io.IOException](io.rename(d1, d2))
        io.deleteRecursive(d2)
        io.rename(d1, d2)
        assert(!io.exists(d1) && io.readString(io.join(d2, "f")) == "in d1", root)
        // writeAtomic(replace = true) overwrites, repeatedly
        io.writeAtomic(b + "._tmp", b, "B2", replace = true)
        io.writeAtomic(b + "._tmp", b, "B3", replace = true)
        assert(io.readString(b) == "B3", root)
        assert(io.readIfExists(io.join(root, "absent")).isEmpty, root)
      }
    }
  }

  test("MetaIO: a scheme-less root under a non-local fs.defaultFS resolves through Hadoop, never local disk") {
    import graft.icelite.{FoldSwap, MetaIO, NioMetaIO}
    val rel = "target/fixtures/defaultfs_" + System.nanoTime()
    assert(MetaIO.forRoot(rel) eq NioMetaIO, "a local defaultFS keeps the O_EXCL claims")
    // an unregistered scheme: resolution reaches it and fails there, so no
    // host is ever contacted — and a -1 read off local disk would mean the
    // watermark came from the wrong filesystem
    spark.conf.set("fs.defaultFS", "graftmock://nn/")
    try {
      assert(!(MetaIO.forRoot(rel) eq NioMetaIO), "scheme-less metadata left the default filesystem")
      val ex = intercept[java.io.IOException](FoldSwap.compactedThrough(rel))
      assert(ex.getMessage.contains("graftmock"), ex.getMessage)
    } finally spark.conf.unset("fs.defaultFS")
    assert(MetaIO.forRoot(rel) eq NioMetaIO)
  }

  test("MetaIO: NIO replace and delete drop Hadoop's checksum sidecar, so the same base still opens as a file:// URI") {
    import graft.icelite.{MetaIO, NioMetaIO}
    SparkTestBase.withTempDir("graft_crc") { dir =>
      val abs = new java.io.File(dir).getAbsolutePath
      val hadoop = MetaIO.forRoot(s"file://$abs")
      // Hadoop's checksummed local filesystem leaves `.<name>.crc` sidecars
      hadoop.writeAtomic(s"file://$abs/m._tmp", s"file://$abs/m", "1", replace = true)
      assert(hadoop.createNew(s"file://$abs/c", "tok-a"))
      assert(new java.io.File(s"$abs/.m.crc").exists && new java.io.File(s"$abs/.c.crc").exists)
      NioMetaIO.writeAtomic(s"$abs/m._tmp", s"$abs/m", "22", replace = true)
      NioMetaIO.deleteIfExists(s"$abs/c")
      assert(NioMetaIO.createNew(s"$abs/c", "tok-b"))
      assert(hadoop.readString(s"file://$abs/m") == "22")
      assert(hadoop.readString(s"file://$abs/c") == "tok-b")
    }
  }

  test("FoldSwap race: concurrent ensureRecovered/compact after a committed swap all return; the stored read equals the pre-fold read") {
    import spark.implicits._
    import graft.operators.RetrievalOps
    import graft.icelite.FoldSwap
    def mkDocs(from: Int, until: Int) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("w"), pmod(col("id") * (i + 3) + i, lit(40)))): _*).as("text"))
    val queries = Seq((1L, "w7 w21"), (2L, "w2 w30")).toDF("query_id", "qtext")
    val p = "target/fixtures/bm25_race_" + System.nanoTime()
    RetrievalOps.writePostingsIndex(mkDocs(0, 100), p, nBuckets = 8)
    RetrievalOps.appendPostingsIndex(mkDocs(100, 140), p, batchId = 1)
    def key() = RetrievalOps.bm25TopKStored(spark, p, queries, k = 3)
      .collect().map(r => ((r.getLong(0), r.getInt(3)), (r.getLong(1), r.getDouble(2)))).toSet
    val want = key()
    intercept[RuntimeException] {
      RetrievalOps.compactPostings(spark, p, failAt = Some("after-commit"))
    }
    // six parties race to finish the committed swap: readers heal, the
    // maintenance compacts finish or wait; exactly one may hold the claim
    val base = s"$p/postings"
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val got = try {
      val calls = (0 until 6).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            start.await()
            if (i % 2 == 0) { FoldSwap.ensureRecovered(base, "batch_id="); 1L }
            else RetrievalOps.compactPostings(spark, p)
          }
        })
      }
      start.countDown()
      calls.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(got.forall(_ == 1L), s"watermarks returned: $got")
    assert(key() == want, "racing finishers changed visible scores")
    val dirs = new java.io.File(base).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(dirs == 1, s"racing finishers left $dirs batch dirs")
    assert(!new java.io.File(s"$base/${FoldSwap.TmpName}").exists(), "staging leaked")
    assert(!new java.io.File(s"$base/${FoldSwap.ClaimName}").exists(), "claim leaked")
  }

  test("icelite: a ZERO-ROW bucketed snapshot reads back through its recorded schema") {
    import spark.implicits._
    // a legitimate steady-state shape: an ingest whose first batch was all
    // duplicates commits an empty signature store — it must stay readable
    // (no parquet files exist, so inference alone would throw and wedge
    // every later batch behind an advanced checkpoint)
    val ic = new Icelite("target/icelite_emptybkt_" + System.nanoTime())
    val spec = graft.icelite.BucketedTables.BucketSpec(4, Seq("band_idx", "band_hash"))
    val id = ic.writeSnapshot(
      Seq.empty[(Long, Int, Long)].toDF("doc_id", "band_idx", "band_hash"),
      "store", tag = "day0", buckets = Some(spec))
    val back = ic.readSnapshot(spark, "store", Some(id))
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("doc_id", "band_idx", "band_hash"))
    // non-empty snapshots over the same table still round-trip
    val id2 = ic.writeSnapshot(Seq((1L, 0, 42L)).toDF("doc_id", "band_idx", "band_hash"),
      "store", tag = "day1", buckets = Some(spec))
    assert(ic.readSnapshot(spark, "store", Some(id2))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("oracle soundness: embeddings fixtures carry no zero vectors at any SF") {
    // Spark's cosine of a zero vector is NaN (ranks FIRST under DESC) while
    // DuckDB's list_cosine_similarity returns -1 (ranks last) — the quantized
    // oracles pin the undefined case with a -2.0 sentinel, but the rest of
    // the ANN family (q_ann_topk/lsh/ivf/pq) relies on the driver fixtures
    // containing none. Pin that assumption so a refreshed fixture fails HERE
    // with a pointer, not in the gate with a bare hash mismatch.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val zeroes = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
        .filter(aggregate(col("embedding").cast("array<double>"), lit(0.0d),
          (acc, x) => greatest(acc, abs(x))) === 0.0d)
        .count()
      assert(zeroes == 0, s"$sf has $zeroes zero embedding vectors — extend the " +
        "-2.0 sentinel convention (q_ann_quantized/_fold) to the whole ANN family first")
    }
    // ...and no NaN components: CentroidIds' documented NaN fallback assigns
    // the FIRST untaken list while q_dedup_semantic's oracle CASE chain falls
    // through to the LAST — a NaN in a refreshed fixture would flip the
    // cluster assignment silently. Pin the invariant here, with the pointer.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val nans = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
        .filter(exists(col("embedding"), x => isnan(x)))
        .count()
      assert(nans == 0, s"$sf has $nans NaN-bearing embeddings — kernel NaN " +
        "fallback (first list) and the q_dedup_semantic oracle CASE (last list) diverge")
    }
  }

  test("oracle soundness: q_dedup_semantic's quantizer populates ALL 8 clusters on the fixtures") {
    // two earlier cuts of this fixture were silently degenerate with a GREEN
    // gate: `% 7` made rows 0/7 coincide (permanent tie to cluster 0), and
    // the distinct-but-unnormalized successor starved cluster 7 outright
    // (centroid norms 4.9–6.0 vs unit embeddings — L2 argmin became a
    // norm contest). Distinctness is the wrong property; pin the one that
    // matters: every cluster receives vectors on the actual driver fixtures.
    val rows = SparkEntry.SemanticCentroids.map(_.toSeq)
    assert(rows.distinct.length == 8, "duplicate centroid rows")
    assert(rows.forall(r => math.abs(r.map(x => x * x).sum - 1.0) < 1e-9),
      "centroids must be unit-norm (L2 argmin otherwise degenerates to a norm contest)")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val hist = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
        .filter(col("vec_id") < 500)
        .select(element_at(graft.functions.CentroidIds(
          col("embedding"), SparkEntry.SemanticCentroids, 1), 1).as("list_id"))
        .groupBy("list_id").count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert((0 until 8).forall(hist.getOrElse(_, 0L) > 0L),
        s"$sf cluster histogram $hist leaves a cluster empty — degenerate quantizer")
    }
  }

  test("oracle soundness: fixture lexicon has no cross-concept normalized-text collisions") {
    // q_pipeline_triples' oracle emits ALL distinct (normalized term, curie)
    // rows while the engine grounds top-1 per pattern; the two agree only
    // while no two lexicon entries normalize to the same text but different
    // CURIEs — pin that property so a fixture edit can't silently break the
    // equivalence (ADVICE round-2)
    val norm = MiniOntology.expectedLexicon.map { case (t, c) =>
      (t.toLowerCase.replaceAll("[-_\\s]+", " ").trim, c)
    }
    val collisions = norm.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1)
    assert(collisions.isEmpty, s"colliding lexicon texts: $collisions")
  }

  test("driver contract: every query has an oracle, every oracle names a real query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without queries: ${o -- q}")
    assert((q -- o).isEmpty, s"queries without oracles (would grade as rows-only): ${q -- o}")
    // the driver smoke-checks entry() rows > 0 — pin it here so a flagship
    // regression surfaces in the suite, not first in the driver's smoke
    assert(SparkEntry.entry(spark).count() > 0, "flagship entry() produced no rows")
  }

  test("F6 nameFromUrl: last segment, query/fragment stripped, decoded (pystow semantics)") {
    import graft.sources.SourceResolver.nameFromUrl
    assert(nameFromUrl("http://purl.obolibrary.org/obo/pato.owl") == "pato.owl")
    assert(nameFromUrl("https://x.org/a/b/onto.json?version=3#frag") == "onto.json")
    assert(nameFromUrl("https://x.org/my%20file.obo") == "my file.obo")
    // path decoding, not form decoding: '+' stays literal; malformed '%' is total
    assert(nameFromUrl("https://x.org/onto+v2.owl") == "onto+v2.owl")
    assert(nameFromUrl("https://x.org/file%2.owl") == "file%2.owl")
    assert(nameFromUrl("https://x.org/%C3%A9.owl") == "é.owl")
  }

  test("S8 JSON sink round-trips the graph document (nulls dropped)") { SparkTestBase.withTempDir("graft_json") { dir =>
    val graphs = graft.sources.OboGraphReader.readGraphs(spark, ontPath)
    val out = dir + "/doc"
    graft.sources.OboGraphReader.writeGraphDocument(graphs, out)
    val txt = spark.read.text(out).collect().map(_.getString(0)).mkString("\n")
    assert(txt.contains("\"lbl\":\"PATO - the Phenotype And Trait Ontology\""))
    assert(!txt.contains("null")) // exclude_none semantics (robot.py:90-92)
  }}

  test("grounder.ground API parity: scored matches ranked by quality") {
    val ctx = KgPipeline.prepare(spark, ontPath)
    val m = ctx.grounder.value.ground("trait")
    assert(m.nonEmpty)
    assert(m.head.prefix == "PATO" && m.head.id == "0000001")
    assert(ctx.grounder.value.ground("zzz-unknown-zzz").isEmpty)
  }
}
