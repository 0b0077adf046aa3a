package graft.icelite

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * `icelite` — a minimal Iceberg-shaped snapshot/manifest table layer over
 * partitioned Parquet (SURVEY §7.1: no Iceberg runtime jar exists in this
 * sandbox, so the engine implements the subset of table-format semantics the
 * north rule needs: snapshot isolation, per-partition lineage + triple-count
 * metrics, and checkpoint-resume). The API is shaped so a real Iceberg
 * catalog (`df.writeTo(...)`) can be swapped in without touching pipeline
 * code.
 *
 * Layout:
 *   root/<table>/data/snap-<id>/part-*.parquet    immutable snapshot data
 *   root/<table>/snapshots/<id>.json              manifest: row count, per-partition counts, parent, tag
 *   root/<table>/current                          pointer file: latest snapshot id
 *
 * The root may be a plain local path OR any Hadoop FileSystem URI
 * (`file://`, `hdfs://`, …): data files always go through Spark (Hadoop FS
 * natively), and every metadata operation goes through the [[MetaIO]] seam,
 * dispatched on where the root resolves (plain paths under a local
 * fs.defaultFS keep POSIX `O_EXCL` claim atomicity; URIs and plain paths
 * under a non-local fs.defaultFS get `FileSystem.create(overwrite=false)` +
 * `FileContext` renames — atomic on HDFS, best-effort on stores without conditional
 * writes, as documented on [[MetaIO]]).
 *
 * Writes are atomic-enough for a single driver: data first, manifest second
 * (temp + atomic rename — a concurrent findByTag can never read a
 * half-written manifest), pointer last — a crashed write leaves the previous
 * snapshot current, which is exactly the resume contract (kill after stage k
 * → rerun reuses every stage whose manifest landed; BASELINE.md
 * resumability row).
 *
 * Concurrency: snapshot ids are claimed CAS-style — `snapshots/<id>.claim`
 * is created atomically-if-absent (O_EXCL on POSIX, namenode-atomic create
 * on HDFS), so two writers can never share an id even across INSTANCES or
 * PROCESSES on one root; the claim also shields the in-flight snapshot's
 * data dir from another instance's [[expireSnapshots]] orphan sweep, and is
 * removed once the write commits (or fails — a failed write's unreferenced
 * data dir becomes sweepable). The `current` pointer only ever advances, but
 * the pointer's check-then-advance runs under a PROCESS-WIDE lock
 * ([[Icelite.pointerLock]] — a per-instance lock would let two instances on
 * one root roll the pointer back), so within one JVM `current` only ever
 * advances; across PROCESSES the check-then-write is not atomic and
 * `current` may transiently lag the true max by one write — manifests
 * remain the source of truth and [[maxSnapshotId]] prefers them. Crash
 * hygiene: a writer that dies mid-write leaves its `.claim` behind, which
 * shields that one id's data dir from the orphan sweep; [[expireSnapshots]]
 * GCs such claims automatically once they are provably dead — no matching
 * manifest AND mtime older than `staleClaimMs` (a LIVE writer's claim is
 * always younger than any sane threshold: the claim is created at id
 * allocation and released when its write returns).
 */
final class Icelite(rootDir: String) extends Serializable {

  def root: String = rootDir

  private val io: MetaIO = MetaIO.forRoot(rootDir)

  private def tableDir(table: String): String = io.join(rootDir, table)
  private def snapsDir(table: String): String = io.join(tableDir(table), "snapshots")

  def currentSnapshotId(table: String): Option[Long] =
    io.readIfExists(io.join(tableDir(table), "current")).map(_.trim.toLong)

  /** Per-table id counter (lazy so deserialized copies re-seed from disk). */
  @transient private lazy val idCounters =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Snapshot ids allocated but whose writeSnapshot has not returned yet —
    * [[expireSnapshots]] must never vacuum these: a concurrent vacuum
    * running between an OLD-id manifest commit and writeSnapshot's return
    * would otherwise hand the caller a freshly-deleted snapshot id. Keyed
    * "table/id" (ids are only unique per table). */
  @transient private lazy val pendingIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Highest id known on disk: manifests win over the pointer (expiry can
    * leave `current` behind a tagged-but-newer snapshot; a crashed write can
    * leave a manifest above `current`). */
  private def maxSnapshotId(table: String): Long = {
    val fromManifests = io.list(snapsDir(table))
      .filter(_.endsWith(".json"))
      .flatMap(n => n.stripSuffix(".json").toLongOption)
      .foldLeft(0L)(math.max)
    math.max(fromManifests, currentSnapshotId(table).getOrElse(0L))
  }

  /** Allocate the next snapshot id — unique across concurrent writers,
    * instances AND processes: the candidate is claimed by atomically creating
    * `snapshots/<id>.claim` (create-if-absent fails if another writer got
    * there first → bump and retry). The claim outlives this call until
    * [[writeSnapshot]] commits or fails, shielding the id from every
    * instance's orphan sweep in between. */
  private def allocateId(table: String): Long = this.synchronized {
    val snaps = snapsDir(table)
    io.mkdirs(snaps)
    // -1 sentinel seed: the disk max is read ONCE per call below (seeding
    // with maxSnapshotId would scan the snapshots dir twice under the lock)
    val c = idCounters.computeIfAbsent(table,
      _ => new java.util.concurrent.atomic.AtomicLong(-1L))
    val disk = maxSnapshotId(table)
    if (c.get() < disk) c.set(disk)
    var id = c.incrementAndGet()
    while (!io.createNew(io.join(snaps, s"$id.claim"))) { // atomic CAS on the id
      id = c.incrementAndGet()
    }
    pendingIds.add(s"$table/$id")
    id
  }

  private def releaseClaim(table: String, id: Long): Unit =
    io.deleteIfExists(io.join(snapsDir(table), s"$id.claim"))

  /** Ids currently claimed by an in-flight writer (any instance/process). */
  private def claimedIds(table: String): Set[Long] =
    io.list(snapsDir(table))
      .filter(_.endsWith(".claim"))
      .flatMap(n => n.stripSuffix(".claim").toLongOption)
      .toSet

  /** Tags are stored JSON-safe; probe and store MUST sanitize identically or
    * a tag containing a quote/backslash/newline would never resume. */
  private def sanitizeTag(tag: String): String = tag.replaceAll("[\"\\\\\\n\\r]", "_")

  /** Find an existing snapshot carrying `tag` (tag = content key for resume). */
  def findByTag(table: String, tag: String): Option[Long] = {
    val snaps = snapsDir(table)
    io.list(snaps)
      .filter(_.endsWith(".json"))
      .flatMap { name =>
        val txt = io.readString(io.join(snaps, name))
        // manifest is flat JSON written by us; a contains-check on the exact
        // (sanitized, like writeSnapshot stores it) tag field is safe
        if (txt.contains(s""""tag":"${sanitizeTag(tag)}"""")) {
          Some(name.stripSuffix(".json").toLong)
        } else None
      }.sorted.lastOption
  }

  /**
   * Write `df` as the next snapshot of `table`. Collects per-partition row
   * counts (lineage metrics, north-rule requirement) in the same pass via a
   * pre-shuffle `spark_partition_id` aggregation.
   *
   * @param tag content key for checkpoint-resume (e.g. "stage=dedup/input=snap-3")
   * @return snapshot id
   */
  def writeSnapshot(df: DataFrame, table: String, tag: String = "",
                    partitionBy: Seq[String] = Nil,
                    buckets: Option[BucketedTables.BucketSpec] = None): Long = {
    require(partitionBy.isEmpty || buckets.isEmpty,
      "a snapshot is partitioned OR bucketed, not both")
    val dir = tableDir(table)
    io.mkdirs(io.join(dir, "snapshots"))
    val id = allocateId(table)
    val dataPath = io.join(dir, s"data/snap-$id")

    val persisted = df.persist()
    try {
      buckets match {
        case Some(spec) =>
          // hash-bucketed layout (recorded in the manifest, honored by
          // readSnapshot): a reader joining/grouping on the bucket columns
          // pays NO exchange on this snapshot's side — the signature-store
          // contract ([[graft.operators.DedupOps.incrementalMinhashDedup]])
          BucketedTables.write(persisted, dataPath, spec)
        case None =>
          // partition-aligned shuffle before a partitioned write: one file
          // per partition value, not one per task × value
          val aligned =
            if (partitionBy.nonEmpty)
              persisted.repartition(partitionBy.map(persisted.col): _*)
            else persisted
          val writer = aligned.write.mode("overwrite")
          (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
            .parquet(dataPath)
      }

      val partCounts = persisted
        .groupBy(spark_partition_id().as("partition_id")).count()
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val rowCount = partCounts.map(_._2).sum

      val safeTag = sanitizeTag(tag)
      // bucketed snapshots also record the SCHEMA: a zero-row bucketed
      // snapshot (a legitimate state — e.g. an ingest whose first batch was
      // all-duplicates) has no parquet data files, so readSnapshot cannot
      // infer the schema and must be handed it explicitly
      val bucketJson = buckets
        .map(s => s""""bucket_n":${s.numBuckets},"bucket_cols":"${s.cols.mkString(",")}",""" +
          s""""schema_ddl":"${escapeJson(persisted.schema.toDDL)}",""")
        .getOrElse("")
      val manifest =
        s"""{"snapshot_id":$id,"parent_id":${currentSnapshotId(table).getOrElse(-1L)},""" +
          s""""row_count":$rowCount,"tag":"$safeTag",$bucketJson"data_path":"$dataPath",""" +
          s""""partition_counts":{${partCounts.map { case (p, c) => s""""$p":$c""" }.mkString(",")}}}"""
      // manifest lands ATOMICALLY: a concurrent findByTag either sees the
      // complete manifest or no manifest — never a prefix that would parse
      // as "tag absent" and trigger a duplicate computation's write
      io.writeAtomic(io.join(dir, s"snapshots/$id.json.tmp"),
        io.join(dir, s"snapshots/$id.json"), manifest, replace = false)
      // the pointer only ADVANCES: with concurrent writers, a slower write
      // of an older id must not roll `current` back past a committed newer
      // one. The check-then-write must serialize across INSTANCES too (two
      // Icelite objects on one root race exactly like two threads), so the
      // lock is process-wide, not per-instance. The pointer lands via temp
      // + atomic rename: an in-place truncate-and-write lets a concurrent
      // reader observe an EMPTY pointer file mid-rewrite ("".toLong —
      // surfaced by the racing-writer-pair test); rename is all-or-nothing.
      Icelite.pointerLock.synchronized {
        if (currentSnapshotId(table).forall(_ < id)) {
          io.writeAtomic(io.join(dir, s"current.tmp-$id"), io.join(dir, "current"),
            id.toString, replace = true)
        }
      }
      id
    } finally {
      // pending/claim cover ends only AFTER the pointer update: from here on
      // the snapshot is either fully committed (vacuumable by the normal
      // rules) or failed (its manifest never landed, so its data dir is a
      // sweepable orphan — exactly what releasing the claim allows)
      pendingIds.remove(s"$table/$id")
      releaseClaim(table, id)
      persisted.unpersist()
    }
  }

  /**
   * Snapshot EXPIRY (retention vacuum): delete all snapshots except the
   * newest `keepLast`, any carrying a tag in `keepTags`, and the `current`
   * pointer target. Without this, a long-running incremental deployment
   * accumulates every snapshot's data dir forever.
   *
   * Deletion order preserves the resume contract under a crash mid-vacuum:
   * the manifest goes FIRST (so findByTag can never resolve a snapshot whose
   * data is half-deleted — it recomputes instead), then the data directory.
   *
   * Sidecar files written NEXT TO the table by other components (e.g.
   * KgPipeline's `metrics/<id>.json` diagnostics) are deliberately not
   * touched: they are byte-sized run logs whose value outlives the data,
   * and deleting files Icelite didn't write would be overreach.
   *
   * @return ids actually expired
   */
  def expireSnapshots(table: String, keepLast: Int, keepTags: Seq[String] = Nil,
                      staleClaimMs: Long = Icelite.DefaultStaleClaimMs): Seq[Long] =
    this.synchronized {
      require(keepLast >= 1, s"keepLast must be >= 1 (got $keepLast)")
      val snaps = snapsDir(table)
      if (!io.exists(snaps)) return Nil
      // stale-claim GC first, so a crashed writer's orphaned data dir becomes
      // sweepable in THIS pass: a claim with no manifest and an mtime older
      // than the threshold belongs to a dead writer (a live one created its
      // claim this run and still holds it; one that committed has a manifest
      // and keeps its id via the normal rules). pendingIds double-guards
      // this instance's own in-flight writes whatever the threshold.
      claimedIds(table).foreach { id =>
        val claim = io.join(snaps, s"$id.claim")
        // a cross-process writer may release its claim between the exists
        // check and the mtime read — a vanished claim is a LIVE writer
        // finishing, never a dead one, so treat it as not-stale (skip)
        // rather than letting the missing-file read fail the whole vacuum
        def mtimeOrLive(p: String): Long =
          try io.lastModifiedMs(p) catch { case _: java.io.IOException => Long.MaxValue }
        val dead = !io.exists(io.join(snaps, s"$id.json")) &&
          !pendingIds.contains(s"$table/$id") &&
          io.exists(claim) &&
          mtimeOrLive(claim) < System.currentTimeMillis() - staleClaimMs
        if (dead) io.deleteIfExists(claim)
      }
      val ids = io.list(snaps)
        .filter(_.endsWith(".json"))
        .flatMap(n => n.stripSuffix(".json").toLongOption)
        .sorted
      val keepByTag = keepTags.flatMap(t => findByTag(table, t)).toSet
      // never vacuum an id whose writeSnapshot is still in flight: in THIS
      // instance via pendingIds, in any OTHER instance/process via its held
      // claim (a manifest can be committed while the id has not yet been
      // returned to its caller — expiring it would hand that caller a
      // freshly-deleted snapshot id)
      val pending = ids.filter(id => pendingIds.contains(s"$table/$id")).toSet
      val current = currentSnapshotId(table) // one pointer read for keep + orphan sweep
      val keep = ids.takeRight(keepLast).toSet ++ keepByTag ++ current ++ pending ++
        claimedIds(table)
      val expired = ids.filterNot(keep)
      def deleteDataDir(id: Long): Unit =
        io.deleteRecursive(io.join(tableDir(table), s"data/snap-$id"))
      expired.foreach { id =>
        io.deleteIfExists(io.join(snaps, s"$id.json"))
        deleteDataDir(id)
      }
      // orphan sweep: a crash between a previous vacuum's manifest delete and
      // its data delete leaves a data dir no manifest references — invisible
      // to the id enumeration above forever. Reclaim any snap-* data dir
      // with no manifest and not pending/current/CLAIMED. The claim check is
      // re-done PER ORPHAN immediately before its delete: the candidate list
      // was built from reads that can be stale against a concurrent writer
      // (data dirs appear after claims, manifests land before claim release),
      // and at re-check time "no claim AND no manifest" can only mean a
      // crashed writer — an in-flight one still holds its claim (taken before
      // the data dir existed) and a finished one's manifest landed before its
      // claim release.
      val candidates = io.list(io.join(tableDir(table), "data"))
        .filter(_.startsWith("snap-"))
        .flatMap(n => n.stripPrefix("snap-").toLongOption)
        .filter(id => !ids.contains(id) && !pendingIds.contains(s"$table/$id") &&
          !current.contains(id))
      candidates.foreach { id =>
        val stillUnowned = !io.exists(io.join(snaps, s"$id.claim")) &&
          !io.exists(io.join(snaps, s"$id.json"))
        if (stillUnowned) deleteDataDir(id)
      }
      expired
    }

  private val BucketSpecRe =
    """"bucket_n":(\d+),"bucket_cols":"([^"]*)"""".r
  private val SchemaDdlRe =
    """"schema_ddl":"((?:[^"\\]|\\.)*)"""".r

  private def escapeJson(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def unescapeJson(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** Bucket spec recorded in a snapshot's manifest, if any. */
  def bucketSpec(table: String, id: Long): Option[BucketedTables.BucketSpec] =
    io.readIfExists(io.join(snapsDir(table), s"$id.json"))
      .flatMap(BucketSpecRe.findFirstMatchIn(_))
      .map(m => BucketedTables.BucketSpec(m.group(1).toInt, m.group(2).split(",").toSeq))

  /** Schema recorded with a bucketed snapshot (absent on pre-schema
    * manifests, whose non-empty data dirs infer fine). */
  private def storedSchema(table: String, id: Long): Option[org.apache.spark.sql.types.StructType] =
    io.readIfExists(io.join(snapsDir(table), s"$id.json"))
      .flatMap(SchemaDdlRe.findFirstMatchIn(_))
      .map(m => org.apache.spark.sql.types.StructType.fromDDL(unescapeJson(m.group(1))))

  def readSnapshot(spark: SparkSession, table: String, id: Option[Long] = None): DataFrame = {
    val sid = id.orElse(currentSnapshotId(table))
      .getOrElse(throw new IllegalStateException(s"icelite table $table has no snapshots"))
    val dataDir = io.join(tableDir(table), s"data/snap-$sid")
    bucketSpec(table, sid) match {
      // bucketed snapshots read through the catalog so the scan KEEPS the
      // hash partitioning (a plain parquet read would be correct but would
      // re-shuffle this side of every keyed join — the layout's whole point)
      case Some(spec) => BucketedTables.read(spark, dataDir, spec, storedSchema(table, sid))
      case None       => spark.read.parquet(dataDir)
    }
  }

  /**
   * Checkpoint-resume helper: if a snapshot tagged `tag` already exists,
   * read it back; otherwise compute, write, and read back. Reading back (not
   * reusing the in-memory df) guarantees a resumed run and a fresh run see
   * byte-identical inputs for every downstream stage.
   */
  def materialize(spark: SparkSession, table: String, tag: String)(compute: => DataFrame): DataFrame =
    findByTag(table, tag) match {
      case Some(id) => readSnapshot(spark, table, Some(id))
      case None =>
        val id = writeSnapshot(compute, table, tag)
        readSnapshot(spark, table, Some(id))
    }

  def manifestJson(table: String, id: Long): String =
    io.readString(io.join(snapsDir(table), s"$id.json"))
}

object Icelite {
  /** Process-wide lock for the `current` pointer's check-then-advance: two
    * Icelite INSTANCES on one root race exactly like two threads of one
    * instance, so a per-instance lock cannot keep the pointer monotonic. */
  private[icelite] val pointerLock = new Object

  /** A `.claim` older than this with no manifest is a dead writer's (24 h —
    * orders of magnitude beyond any single snapshot write). */
  val DefaultStaleClaimMs: Long = 24L * 60 * 60 * 1000
}
