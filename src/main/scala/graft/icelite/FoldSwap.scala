package graft.icelite

/**
 * Crash-safe FOLD of sibling `prefix<id>` directories into one — the shared
 * mechanism behind steady-state compaction (ANN index batches, dedup-history
 * batches). After D incremental appends a reader opens ≥D file sets per
 * probe; folding restores ~one file set without changing a single row.
 *
 * Safe WITHOUT multi-directory atomic rename (object stores have none):
 *
 *  1. the merged copy is staged under `base/_compact_tmp` — underscore
 *     paths are invisible both to parquet partition discovery and to any
 *     enumeration that filters on `prefix`;
 *  2. a `_covers` marker (the folded-through id) is written INSIDE the
 *     staging dir;
 *  3. the `base/_compacted_through` watermark write is the COMMIT POINT;
 *  4. the swap deletes the folded source dirs and renames staging into
 *     `prefix<target>`. The marker RIDES the rename — deleting it before
 *     the rename would open a window (sources deleted, marker gone,
 *     staging still underscore-named) where a rerun discards the only
 *     surviving copy as "uncommitted". After the rename it is pure
 *     cleanup: a crash leaves only an ignored underscore file.
 *
 * A rerun after a crash compares marker to watermark: equal ⇒ committed,
 * FINISH the swap (source deletes are idempotent); unequal or missing ⇒
 * uncommitted, discard staging — the sources are still intact. Readers call
 * [[ensureRecovered]] before enumerating `prefix` dirs, so a crash INSIDE
 * the swap (sources deleted, staging not yet renamed — the one window where
 * enumeration would miss folded rows) is healed by the first stored read,
 * not only by the next maintenance compact(). The swap is still not atomic
 * w.r.t. a reader running CONCURRENTLY with the fold itself — compaction is
 * a maintenance operation and runs in the ingest loop's quiet slot (the
 * Demo steady-state shape), like every metadata-less table format.
 *
 * Appends racing the fold are safe as long as they land ABOVE the folded
 * ids — both callers guarantee that (appendIvfPq refuses ids at or below
 * the watermark; streaming batch ids are checkpoint-monotone).
 *
 * Every metadata operation — markers, claim, listing, deletes, the staging
 * rename — goes through [[MetaIO.forRoot]]`(base)`: a scheme-less base keeps
 * the POSIX `O_EXCL` claim, a URI base resolves the session's Hadoop conf.
 */
object FoldSwap {

  val TmpName = "_compact_tmp"
  val WatermarkName = "_compacted_through"

  /** Highest id folded into `base` by compaction (-1 = none). */
  def compactedThrough(base: String): Long = watermark(MetaIO.forRoot(base), base)

  /** Ids of existing `prefix<id>` entries directly under `base`. */
  def listIds(base: String, prefix: String): Seq[Long] =
    listIds(MetaIO.forRoot(base), base, prefix)

  private def watermark(io: MetaIO, base: String): Long =
    readMarker(io, s"$base/$WatermarkName")

  private def listIds(io: MetaIO, base: String, prefix: String): Seq[Long] =
    io.list(base).filter(_.startsWith(prefix)).map { name =>
      // r7 (ADVICE): a stray non-numeric dir (a manual 'batch_id=bak'
      // copy) must fail with the offending path and remedy, matching
      // readMarker's loud-with-remedy convention — a bare
      // NumberFormatException here wedged every stored read and compact
      name.stripPrefix(prefix).toLongOption.getOrElse(throw new IllegalStateException(
        s"non-numeric ${prefix}<id> directory $base/$name under $base — " +
          "not FoldSwap layout. Remove or rename the stray directory " +
          "(ids must be plain longs for watermark ordering)"))
    }

  private def readMarker(io: MetaIO, p: String): Long =
    io.readIfExists(p).fold(-1L) { raw =>
      val txt = raw.trim
      // writes are atomic (temp + rename-overwrite below), so a non-long here
      // is EXTERNAL corruption — fail with the remedy, not a bare
      // NumberFormatException that wedges every ingest with no context
      txt.toLongOption.getOrElse(throw new IllegalStateException(
        s"corrupt compaction marker $p (content ${txt.take(40)}'): not a " +
          "long. This file is written atomically — corruption is external. " +
          "Restore it from backup or, if the fold state is known-good, " +
          "delete it (deleting the watermark loses folded-batch replay " +
          "REFUSAL: replays of folded ids would then duplicate rows)."))
    }

  /** Marker writes are ATOMIC (temp + rename-overwrite): the watermark is
    * the COMMIT POINT, and a crash mid-write must leave either the old
    * value or the new one — never a zero-length/partial file that wedges
    * every later `compactedThrough` (ingest calls it before appending). */
  private def writeMarker(io: MetaIO, p: String, v: Long): Unit = io.overwrite(p, v.toString)

  /** Swap-finish CLAIM file, taken through the one claim CAS
    * ([[MetaIO.createNew]], shared with icelite's snapshot-id claims):
    * whoever creates it owns the three finish steps. Without
    * it, two racing finishers lose data — the delete set includes the very
    * path the winner renames staging into, so the loser's delete destroys
    * the only surviving copy of every folded batch. The claim carries an
    * OWNER TOKEN: release verifies it, so no party can delete another's
    * live claim (an unowned delete re-enables the two-finishers race
    * through release/sweep interleavings). Takeover after [[FinishWaitMs]]
    * is the lease-less trade: a finisher legitimately slower than the wait
    * (pathological object-store delete stalls) would be raced — deployments
    * where that is possible must raise the wait; true fencing needs a
    * coordination service, a declared boundary. */
  val ClaimName = "_recover.claim"

  /** Bounded wait for another party's finish (tests shrink it). */
  private[graft] var FinishWaitMs: Long = 60000L

  private def claimPath(base: String) = s"$base/$ClaimName"

  /** Create the claim with a fresh owner token in the same exclusive
    * create. Returns the token, or None when the claim is already held;
    * other IO faults propagate (swallowing them would misreport an FS
    * outage as "claim held" and block reads for the wait). */
  private def tryClaim(io: MetaIO, base: String): Option[String] = {
    val token = java.util.UUID.randomUUID().toString
    if (io.createNew(claimPath(base), token)) Some(token) else None
  }

  /** Delete the claim ONLY if `token` still owns it — read-verify-delete
    * (the residual TOCTOU needs a takeover to interleave between the two
    * steps, orders of magnitude narrower than the unowned delete it
    * replaces, and survivable: the next compact sweeps or takes over). */
  private def releaseClaim(io: MetaIO, base: String, token: String): Unit =
    if (io.readIfExists(claimPath(base)).contains(token)) io.deleteIfExists(claimPath(base))

  /** Maintenance-only: delete regardless of owner (presumed-dead takeover). */
  private def breakClaim(io: MetaIO, base: String): Unit = io.deleteIfExists(claimPath(base))

  /** The three finish steps — ONE definition shared by [[compact]] and
    * [[ensureRecovered]] so the delete-set rule can never fork between
    * writer recovery and reader healing. MUST be called holding the claim. */
  private def finishSwap(io: MetaIO, base: String, prefix: String, w: Long): Unit = {
    listIds(io, base, prefix).filter(_ <= w).foreach(id => io.deleteRecursive(s"$base/$prefix$id"))
    io.rename(s"$base/$TmpName", s"$base/$prefix$w")
    io.deleteIfExists(s"$base/$prefix$w/_covers")
  }

  /** Finish the committed swap under the claim, if `tmp` still holds one.
    * Re-derives EVERYTHING from the fresh watermark — a pre-claim peek may
    * be stale (another finisher completed and a NEW fold committed in
    * between; finishing to the stale target would rename the new staging
    * over an old dir and leave its sources as duplicates). */
  private def finishIfCommitted(io: MetaIO, base: String, prefix: String,
                                token: String): Unit =
    try committedTarget(io, base).foreach(finishSwap(io, base, prefix, _))
    finally releaseClaim(io, base, token)

  /** Wait (bounded) for the claim holder's finish; loud failure names the
    * remedy — a stale claim is a crash-mid-finish artifact only compact()
    * (the single maintenance writer) may take over. */
  private def awaitFinished(io: MetaIO, base: String): Unit = {
    val tmp = s"$base/$TmpName"
    val deadline = System.nanoTime() + FinishWaitMs * 1000000L
    while (io.exists(tmp) && System.nanoTime() < deadline) Thread.sleep(100L)
    if (io.exists(tmp)) throw new IllegalStateException(
      s"committed compaction swap at $base still unfinished after $FinishWaitMs ms " +
        s"while another party holds $ClaimName — if that process is dead, run the " +
        "table's maintenance compact() (it takes over stale claims after the same wait)")
  }

  /** The watermark, when staging holds the swap it committed (`_covers`
    * equals it). No staging reads `_covers` as -1, which never matches —
    * so the common no-swap case costs one failed read. */
  private def committedTarget(io: MetaIO, base: String): Option[Long] = {
    val covers = readMarker(io, s"$base/$TmpName/_covers")
    Some(covers).filter(c => c >= 0 && c == watermark(io, base))
  }

  /**
   * Finish an interrupted but COMMITTED swap, if any — called by stored
   * READERS before enumerating `prefix` dirs, closing the post-crash window
   * (watermark committed, sources deleted, staging still underscore-named)
   * where enumeration would silently miss every folded row until the next
   * maintenance compact(). Uncommitted staging needs nothing: the sources
   * are intact and the underscore dir is invisible to discovery. A fold
   * running concurrently in its pre-commit phase is left alone (its
   * `_covers` cannot equal the current watermark — targets are strictly
   * above it). Finishing is CLAIM-serialized; a reader that loses the claim
   * waits for the holder and fails LOUDLY on timeout (a reader never takes
   * over a stale claim — presumed-dead judgements belong to the single
   * maintenance writer, not to N concurrent readers).
   */
  def ensureRecovered(base: String, prefix: String): Unit = {
    val io = MetaIO.forRoot(base)
    if (committedTarget(io, base).isEmpty) return
    tryClaim(io, base) match {
      case Some(token) => finishIfCommitted(io, base, prefix, token)
      case None => awaitFinished(io, base)
    }
  }

  /**
   * Fold the dirs `selectFoldable` picks (from the current listing) into
   * `prefix<max(foldable)>`. `stage(tmpPath, foldIds, target)` writes the
   * merged copy to `tmpPath` — it must read ONLY the foldable sources (a
   * caller whose reader sees every dir filters to `foldIds` itself).
   * No-op (returns the current watermark) when fewer than 2 dirs are
   * foldable. `failAt` ("before-commit" | "after-commit") is a TEST-ONLY
   * failpoint. Returns the new watermark.
   */
  def compact(base: String, prefix: String,
              selectFoldable: Seq[Long] => Seq[Long],
              stage: (String, Seq[Long], Long) => Unit,
              failAt: Option[String] = None): Long = {
    val io = MetaIO.forRoot(base)
    val tmp = s"$base/$TmpName"
    // claim-or-take-over, then finish a COMMITTED swap: compact IS the
    // single maintenance writer, so a claim that outlives [[FinishWaitMs]]
    // is a crash-mid-finish artifact (or a wedged finisher — the lease-less
    // trade documented on [[ClaimName]]); readers only wait, compact may
    // break it. A live holder that finishes within the wait leaves nothing
    // to do.
    def finishCommittedClaimed(): Unit =
      tryClaim(io, base) match {
        case Some(token) => finishIfCommitted(io, base, prefix, token)
        case None =>
          try awaitFinished(io, base) // live holder finished
          catch {
            case _: IllegalStateException => // presumed dead: take over
              breakClaim(io, base)
              finishIfCommitted(io, base, prefix, tryClaim(io, base).getOrElse(
                throw new IllegalStateException(
                  s"could not take over the stale $ClaimName at $base")))
          }
      }
    // crash recovery from a previous run
    if (committedTarget(io, base).isDefined) {
      // committed: finish. Deleting every remaining source dir at or
      // below the watermark is exactly the interrupted swap's delete set
      // (fold sets are always "all selected ids ≤ target").
      finishCommittedClaimed()
      return watermark(io, base)
    } else if (io.exists(tmp)) io.deleteRecursive(tmp) // uncommitted: sources intact, discard staging
    // any claim with NO staging behind it is stale (a finisher crashed after
    // its rename but before releasing; a live one's remaining work — the
    // _covers cleanup and its token-checked self-release — cannot race a
    // later claim) — sweep so it cannot wedge readers
    breakClaim(io, base)
    val ids = listIds(io, base, prefix)
    val foldable = selectFoldable(ids)
    if (foldable.size <= 1) return watermark(io, base)
    val target = foldable.max
    // recovery's delete-everything-<=-watermark is the interrupted swap's
    // delete set ONLY for a downward-closed fold set; a selector that skips
    // an id below target would make recovery delete the skipped dir — rows
    // that exist nowhere else. Enforce the invariant instead of trusting it.
    require(foldable.toSet == ids.filter(_ <= target).toSet,
      s"fold set must be downward-closed (every existing id <= $target): " +
        s"selected ${foldable.sorted} of ${ids.sorted} — a crash after commit " +
        "would make recovery delete the skipped dirs' only copy")
    stage(tmp, foldable, target)
    writeMarker(io, s"$tmp/_covers", target)
    if (failAt.contains("before-commit"))
      throw new RuntimeException("failpoint: before-commit")
    writeMarker(io, s"$base/$WatermarkName", target) // COMMIT POINT
    if (failAt.contains("after-commit"))
      throw new RuntimeException("failpoint: after-commit")
    // the claim is taken AFTER the commit point: a crash here leaves no
    // claim, so reader healing stays immediate for the common crash; only a
    // crash INSIDE finishSwap leaves a stale claim (readers fail loudly,
    // the next compact takes it over after the wait). If a reader claimed
    // first and then DIED mid-finish, this — the maintenance writer — takes
    // the claim over right here instead of throwing the reader-oriented
    // "run compact()" advice at itself.
    finishCommittedClaimed()
    target
  }
}
