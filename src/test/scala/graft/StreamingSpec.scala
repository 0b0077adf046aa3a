package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.withTempDir
import graft.fixtures.{MiniOntology, Transcripts}
import graft.pipeline.KgPipeline
import graft.streaming.IncrementalKg

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("Trigger.AvailableNow processes only new snapshot deltas; restart is incremental") { withTempDir("graft_stream") { base =>
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val ctx = KgPipeline.prepare(spark, MiniOntology.writeTo("target/fixtures"))

    // snapshot delta #1: conversations 0..99
    Transcripts.synthetic(spark, 100).write.mode("append").parquet(in)
    val b1 = IncrementalKg.processAvailable(spark, in, ctx, out, cp)
    assert(b1 >= 1)
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst > 0)

    // no new data: re-run must process nothing new (output unchanged)
    IncrementalKg.processAvailable(spark, in, ctx, out, cp)
    assert(spark.read.parquet(out).count() == afterFirst)

    // snapshot delta #2: different conversations (ids offset via filter trick)
    Transcripts.synthetic(spark, 140)
      .filter(col("conv_id").isin((100 until 140).map("conv" + _): _*))
      .write.mode("append").parquet(in)
    IncrementalKg.processAvailable(spark, in, ctx, out, cp)
    val afterSecond = spark.read.parquet(out)

    // delta-1 triples appear exactly once (no reprocessing), delta-2 added
    assert(afterSecond.count() > afterFirst)
    val dupCheck = afterSecond.groupBy("subj", "pred", "obj").count()
      .filter(col("count") > 1).count()
    assert(dupCheck == 0, "incremental restart reprocessed old files")
  }}

  test("streaming ingest dedup: cross-batch near-dups dropped via the icelite store; restart incremental") { withTempDir("graft_sdedup") { base =>
    import graft.streaming.StreamingDedup
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val ic = new graft.icelite.Icelite(s"$base/ic")
    val docs = graft.tools.SketchDialsProbe.syntheticDocs(spark, 120, 0).localCheckpoint(true)
    val textOf = docs.filter(col("doc_id").isin(1L, 5L)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // wave 1: docs 0..49 + one intra-batch exact duplicate (new id, doc 1's text)
    import spark.implicits._
    docs.filter(col("doc_id") < 50)
      .unionByName(Seq((500L, textOf(1L))).toDF("doc_id", "text"))
      .write.mode("append").parquet(in)
    val b1 = StreamingDedup.processAvailable(spark, in, ic, out, cp)
    assert(b1 >= 1)
    val after1 = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after1 == (0L until 50L).toSet, s"wave-1 survivors wrong: ${after1.size}")
    val storeAfter1 = ic.readSnapshot(spark, StreamingDedup.StoreTable).count()
    assert(storeAfter1 == 50L * 4, "store must carry bands rows per survivor")

    // no new files: nothing reprocessed, store untouched
    StreamingDedup.processAvailable(spark, in, ic, out, cp)
    assert(spark.read.parquet(out).count() == 50)

    // wave 2: 20 re-crawls of wave-1 docs (new ids, same text), 20 genuinely
    // new docs, and one NEAR-duplicate of doc 5 (two tokens mutated)
    val nearDup = textOf(5L).split(" ").zipWithIndex
      .map { case (t, i) => if (i == 0 || i == 1) s"mut$i" else t }.mkString(" ")
    docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id").between(100, 119)))
      .unionByName(Seq((1200L, nearDup)).toDF("doc_id", "text"))
      .write.mode("append").parquet(in)
    StreamingDedup.processAvailable(spark, in, ic, out, cp)
    val after2 = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    // re-crawls and the near-dup are gone; the 20 new docs survive
    assert(after2 == (0L until 50L).toSet ++ (100L to 119L).toSet,
      s"wave-2 survivors wrong: ${(after2 -- (0L until 50L) -- (100L to 119L)).take(5)}")
    assert(ic.readSnapshot(spark, StreamingDedup.StoreTable).count() == 70L * 4)
    // every retained text is unique (the whole point of the stage)
    val texts = spark.read.parquet(out)
      .groupBy(graft.operators.DedupOps.normText(col("text"))).count()
      .filter(col("count") > 1).count()
    assert(texts == 0, "duplicate texts survived streaming ingest dedup")
  }}

  test("streaming ingest dedup: an ALL-duplicate batch (zero survivors) doesn't wedge history") { withTempDir("graft_sdedup_empty") { base =>
    import graft.streaming.StreamingDedup
    import spark.implicits._
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val ic = new graft.icelite.Icelite(s"$base/ic")
    val docs = graft.tools.SketchDialsProbe.syntheticDocs(spark, 60, 0).localCheckpoint(true)

    docs.filter(col("doc_id") < 30).write.mode("append").parquet(in)
    StreamingDedup.processAvailable(spark, in, ic, out, cp)

    // wave 2 is ENTIRELY re-crawls: every doc dies against history, its
    // batch_id= partition is a zero-row bucketed table — the corner where a
    // naive history read (schema inference over an empty dir) would throw
    // on every later batch and wedge the ingest permanently
    docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 2000).as("doc_id"), col("text"))
      .write.mode("append").parquet(in)
    StreamingDedup.processAvailable(spark, in, ic, out, cp)
    assert(spark.read.schema(StreamingDedup.docSchema).parquet(out).count() == 30,
      "all-duplicate batch must add zero survivors")
    // store unchanged: zero survivors contribute zero band rows
    assert(ic.readSnapshot(spark, StreamingDedup.StoreTable).count() == 30L * 4)

    // wave 3 reads history INCLUDING the empty batch partition: new docs
    // survive, re-crawls still die — nothing wedged, nothing resurrected
    docs.filter(col("doc_id").between(40, 49))
      .unionByName(Seq((3000L, docs.filter(col("doc_id") === 3L)
        .collect().head.getString(1))).toDF("doc_id", "text"))
      .write.mode("append").parquet(in)
    StreamingDedup.processAvailable(spark, in, ic, out, cp)
    val finalIds = spark.read.schema(StreamingDedup.docSchema).parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(finalIds == (0L until 30L).toSet ++ (40L to 49L).toSet, s"got ${finalIds.size} ids")
  }}

  test("history compaction: folds committed batch dirs; dedup against folded history intact; crash-safe") { withTempDir("graft_sdedup_compact") { base =>
    import graft.streaming.StreamingDedup
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val ic = new graft.icelite.Icelite(s"$base/ic")
    val docs = graft.tools.SketchDialsProbe.syntheticDocs(spark, 120, 0).localCheckpoint(true)

    // three waves of disjoint fresh docs -> committed batch dirs 0,1,2
    docs.filter(col("doc_id") < 30).write.mode("append").parquet(in)
    StreamingDedup.processAvailable(spark, in, ic, out, cp)
    docs.filter(col("doc_id").between(30, 59)).write.mode("append").parquet(in)
    StreamingDedup.processAvailable(spark, in, ic, out, cp)
    docs.filter(col("doc_id").between(60, 89)).write.mode("append").parquet(in)
    StreamingDedup.processAvailable(spark, in, ic, out, cp)
    def dirs() = new java.io.File(out).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(dirs() == 3)

    // crash BEFORE the commit point: nothing visible changed, and the rerun
    // redoes the fold from the intact sources
    intercept[RuntimeException] {
      StreamingDedup.compactHistory(spark, out, failAt = Some("before-commit"))
    }
    assert(dirs() == 3, "pre-commit crash changed visible history")
    assert(StreamingDedup.compactHistory(spark, out) == 1L)
    // batches 0+1 folded into batch_id=1; the HIGHEST (still-replayable)
    // batch dir is never folded
    assert(dirs() == 2, s"want folded+highest, got ${dirs()} dirs")
    assert(spark.read.schema(StreamingDedup.docSchema).parquet(out).count() == 90,
      "fold lost or duplicated retained docs")
    // the folded dir still reads as a doc_id-bucketed table (same bucket
    // spec -> same shuffle-free joins and bucket-pruned point lookups)
    val folded = graft.icelite.BucketedTables.read(spark, s"$out/batch_id=1",
      StreamingDedup.HistoryBuckets, Some(StreamingDedup.docSchema))
    assert(folded.count() == 60)
    // and it actually IS compact: ≤ one file per bucket, not one per source
    // partition (the union-of-bucketed-scans elision CompactionProbe caught)
    val foldedFiles = new java.io.File(s"$out/batch_id=1").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(foldedFiles <= StreamingDedup.HistoryBuckets.numBuckets,
      s"folded dir holds $foldedFiles files for ${StreamingDedup.HistoryBuckets.numBuckets} buckets")

    // wave 4: re-crawls of texts that now live ONLY in the folded dir must
    // still die against history; genuinely new docs survive
    docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 5000).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id").between(100, 109)))
      .write.mode("append").parquet(in)
    StreamingDedup.processAvailable(spark, in, ic, out, cp)
    val ids = spark.read.schema(StreamingDedup.docSchema).parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 90L).toSet ++ (100L to 109L).toSet,
      s"folded-history dedup broke: ${ids.size} survivors")

    // repeated compaction folds the newly-committed dirs and keeps going
    assert(StreamingDedup.compactHistory(spark, out) == 2L)
    assert(dirs() == 2)
    assert(spark.read.schema(StreamingDedup.docSchema).parquet(out).count() == 100)
  }}

  test("history compaction drops reader registrations over folded-away dirs (r7 ADVICE)") { withTempDir("graft_sdedup_catalog") { out =>
    import graft.streaming.StreamingDedup
    import graft.icelite.BucketedTables
    import spark.implicits._
    def mk(from: Int, until: Int) = (from until until)
      .map(i => (i.toLong, s"text body $i")).toDF("doc_id", "text")
    (0 to 2).foreach(b => BucketedTables.write(mk(b * 10, b * 10 + 10),
      s"$out/batch_id=$b", StreamingDedup.HistoryBuckets))
    def nRegs() = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_bkt_")).count()
    val before = nRegs()
    (0 to 2).foreach(b => BucketedTables.read(spark, s"$out/batch_id=$b",
      StreamingDedup.HistoryBuckets, Some(StreamingDedup.docSchema)).count())
    assert(nRegs() == before + 3)
    // fold 0+1 into batch_id=1: dir 0 is deleted -> its registration must go;
    // the fold target (1) and the un-folded highest (2) stay registered
    assert(StreamingDedup.compactHistory(spark, out) == 1L)
    assert(nRegs() == before + 2,
      "registration over the deleted batch_id=0 dir was not dropped")
    val folded = BucketedTables.read(spark, s"$out/batch_id=1",
      StreamingDedup.HistoryBuckets, Some(StreamingDedup.docSchema))
    assert(folded.count() == 20, "fold target must stay readable post-cleanup")
  }}

  test("FoldSwap.listIds: a stray non-numeric dir fails loudly with the path (r7 ADVICE)") { withTempDir("graft_foldswap_stray") { base =>
    Files.createDirectories(java.nio.file.Paths.get(s"$base/batch_id=0"))
    Files.createDirectories(java.nio.file.Paths.get(s"$base/batch_id=bak"))
    val ex = intercept[IllegalStateException] {
      graft.icelite.FoldSwap.listIds(base, "batch_id=")
    }
    assert(ex.getMessage.contains("batch_id=bak"), ex.getMessage)
    assert(ex.getMessage.contains("Remove or rename"), ex.getMessage)
  }}

  test("incremental sink is idempotent under batch REPLAY (at-least-once foreachBatch)") { withTempDir("graft-replay") { out =>
    import org.apache.spark.sql.functions.lit
    val triples = spark.createDataFrame(Seq(("turn:c/0", "graft:mentions", "PATO:1"),
      ("turn:c/1", "graft:mentions", "PATO:2"))).toDF("subj", "pred", "obj")
    IncrementalKg.writeBatch(triples, out, batchId = 7L)
    // crash-replay of the SAME batch id must rewrite, not duplicate
    IncrementalKg.writeBatch(triples, out, batchId = 7L)
    IncrementalKg.writeBatch(triples.withColumn("obj", lit("PATO:9")), out, batchId = 8L)
    val back = spark.read.parquet(out)
    assert(back.count() == 4, "replayed batch must not append duplicates")
    assert(back.groupBy("subj", "pred", "obj").count().filter(col("count") > 1).count() == 0)
  }}
}
