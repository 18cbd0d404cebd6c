package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

// The store's PATH LAYER (graft.store.StoreIO): StoreFiles/StorePath/
// StorePaths mirror the java.nio.file subset this protocol uses, so the
// protocol below reads exactly as written — but every call dispatches
// per path: local paths keep byte-identical java.nio semantics (O_EXCL
// claim create, rename(2) pointer swap), scheme'd paths (hdfs://,
// s3a://, …) route through org.apache.hadoop.fs.FileSystem with the
// documented CAS analogues. Missing files still surface as
// java.nio.file.NoSuchFileException and occupied claims as
// FileAlreadyExistsException from both backends, so every catch site
// below is backend-blind.
import graft.store.{StoreFileStatus, StoreFiles => Files, StorePath => Path, StorePaths => Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, pmod, when, xxhash64}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}

import graft.operators.Snapshot

/** ST10 — streaming MERGE sink: each micro-batch of CDC rows
  * (key, op ∈ {upsert, delete}, version, values…) applies to a keyed
  * parquet snapshot via [[Snapshot.applyChanges]] — the LIVE form of
  * T8, turning a changelog stream into an always-current store the way
  * a table format's MERGE INTO would, built from primitives.
  *
  * Durability protocol (exactly-once effect under replay): every batch
  * writes a FULL new snapshot to `storeDir/v<version>` and then swaps
  * the `_latest` pointer (atomic move of a one-line file). Store
  * versions are allocated as `parent + 1` from the `_latest` the
  * writer derived from — they are the STORE's commit counter, not the
  * stream's batchId (so maintenance commits — [[compactBucketedStore]],
  * [[rebucketStore]] — share the same linear history). Whether a
  * streaming batchId has already been applied is tracked separately in
  * `_lastBatch` (written after the swap; batchIds from one checkpoint
  * are monotone, so "max applied" decides replay). A crash between
  * snapshot write and swap replays the batch against the OLD snapshot —
  * same output; a crash between swap and the `_lastBatch` write
  * replays it against the NEW one — and [[Snapshot.applyChanges]] is
  * IDEMPOTENT (re-upserting identical values and re-deleting absent
  * keys are both no-ops), so the store converges either way. SinkSpec
  * replays both interleavings.
  *
  * Schema evolution: each version records its snapshot schema in
  * `_schemas/<version>`. A batch may ADD value columns (old versions
  * read back NULL-filled); dropping a column or changing a column's
  * type is refused with a clear error — rewrite the store (e.g. via
  * [[compactBucketedStore]] after a manual migration) for destructive
  * changes.
  *
  * Scale posture: snapshot-replace is the local-parquet stand-in for a
  * table format's transactional MERGE; the operator underneath (winner
  * reduction + one co-partitioned full outer join) is exactly what a
  * partition-aware writer would keep, rewriting only touched
  * partitions instead of `v<n>` directories.
  */
object MergeSink {

  /** Measurement hook (guide §1): GRAFT_PROBE_PHASES=1 prints each
    * commit phase's wall to stderr. Zero cost when unset. */
  private val probePhases = sys.env.contains("GRAFT_PROBE_PHASES")
  @inline private def phase[T](name: String)(body: => T): T =
    if (!probePhases) body
    else {
      val t0 = System.nanoTime()
      try body
      finally System.err.println(
        f"[phase] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

  private def latestPath(storeDir: String) = Paths.get(storeDir, "_latest")
  /** Registry metadata key marking a column ADDED by [[addColumns]]
    * (optional in writes — see applyBucketedBatch's write-old path). */
  private val EvolvedMark = "graft.evolved"

  private def lastBatchPath(storeDir: String) = Paths.get(storeDir, "_lastBatch")
  private def commitsDir(storeDir: String) = Paths.get(storeDir, "_commits")
  private def schemasDir(storeDir: String) = Paths.get(storeDir, "_schemas")
  private def nBucketsPath(storeDir: String) = Paths.get(storeDir, "_nbuckets")

  /** How many trailing `_commits` markers each commit retains; older
    * markers fold into the `_commits/_horizon` watermark (see
    * [[claimCommit]]) so marker count stays O(1) over an unbounded
    * stream instead of one file per batch forever. */
  private val RetainMarkers = 16

  /** How long an unswapped commit marker must sit before a later
    * writer may treat it as abandoned and take it over (see
    * [[claimCommit]]). Long enough that no live writer holds a claim
    * open this long between CAS and swap; specs age markers with
    * `Files.setLastModifiedTime` instead of waiting. */
  private val TakeoverLeaseMs: Long = 10L * 60 * 1000

  /** ATOMIC takeover of an abandoned commit marker. A bare
    * `deleteIfExists` after a staleness read is a TOCTOU: the marker
    * can be deleted-and-re-created by a FASTER recoverer between the
    * read and the delete, so the delete kills the fresh claim and TWO
    * claimants pass the gate — both then write the SAME version dir
    * (the mid-write clobber the claim protocol exists to prevent).
    * Instead: move the marker aside (ATOMIC_MOVE — exactly one mover
    * wins), re-verify on the CAPTURED file that the claim really is
    * lease-expired (move preserves mtime; a live writer's heartbeat
    * keeps refreshing it), and only then free the slot. A captured
    * claim that turns out fresh is moved back (or, if the slot was
    * re-claimed meanwhile, dropped — its holder's pre-swap verify then
    * aborts LOUDLY; a spurious abort, never a silent clobber).
    * Returns true iff the slot was freed for the caller to re-claim. */
  /** A marker's lease-clock token: claims stamp `hb<millis>` into the
    * marker CONTENT at creation, and the heartbeat rewrites it — so the
    * clock survives capture/restore round trips EXACTLY on every
    * backend (VERDICT r15 #6: object stores cannot move an mtime
    * backward, so the pre-token restore granted the restored claim one
    * fresh lease; the token restores with the bytes). */
  private def hbToken(t: String): Option[Long] =
    if (t.length > 2 && t.startsWith("hb") && t.drop(2).forall(_.isDigit))
      t.drop(2).toLongOption
    else None

  /** The claim's identity — its content with any lease-clock token
    * stripped: (parent, batchId, nonce[, w=, b=]). The nonce decides
    * ours-vs-usurper; the clock token is MUTABLE (heartbeats advance
    * it), so ownership checks must ignore it. */
  private def claimIdentity(content: String): String =
    content.split("\\s+").filterNot(t => hbToken(t).isDefined).mkString(" ")

  /** The marker's effective lease clock: min(mtime, content hb token).
    * min is the conservative direction — every life-granting event
    * (creation, heartbeat) moves BOTH (a content write stamps mtime
    * too); a restore-after-capture moves only the mtime (CREATE_NEW
    * stamps "now" and object stores refuse backward setTimes), and min
    * keeps the token's exact original clock there. Specs that age a
    * marker by mtime alone keep working for the same reason. Legacy
    * markers (no token) read their mtime. Throws NoSuchFileException
    * like the raw mtime read — callers keep their existing handling. */
  private[graft] def markerClockMillis(marker: Path): Long = {
    val mtime = Files.getLastModifiedTime(marker).toMillis
    val hb =
      try new String(Files.readAllBytes(marker), StandardCharsets.UTF_8)
        .trim.split("\\s+").flatMap(hbToken).lastOption
      catch {
        case _: java.nio.file.NoSuchFileException => None
        case _: java.io.IOException => None
      }
    hb.fold(mtime)(math.min(mtime, _))
  }

  /** Lease check tolerant of the marker vanishing between the exists
    * probe and the clock read (a concurrent takeover/prune): a gone
    * marker reads as NOT expired — the caller re-observes and retries. */
  private def markerLeaseExpired(marker: Path): Boolean =
    try Files.exists(marker) && (System.currentTimeMillis() -
      markerClockMillis(marker)) >= TakeoverLeaseMs
    catch { case _: java.nio.file.NoSuchFileException => false }

  private[graft] def captureStaleMarker(marker: Path): Boolean = {
    val captured = marker.resolveSibling(
      s".takeover_${marker.getFileName}_" +
        (java.util.concurrent.ThreadLocalRandom.current().nextLong()
          & Long.MaxValue))
    try Files.move(marker, captured, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.io.IOException => return false }
    val fresh = (System.currentTimeMillis() -
      markerClockMillis(captured)) < TakeoverLeaseMs
    if (fresh) {
      // restore via EXCLUSIVE create of the same content — NOT a move:
      // rename(2) silently REPLACES an existing destination on Linux,
      // so a claim re-created between our capture and this restore
      // would be clobbered by the restored one (two claimants, one
      // slot — the exact clobber this protocol exists to prevent). If
      // the slot was re-claimed meanwhile, the captured claim is
      // dropped; its holder's pre-swap verify then aborts LOUDLY.
      try {
        val body = Files.readAllBytes(captured)
        val mtime = Files.getLastModifiedTime(captured)
        try {
          Files.write(marker, body, StandardOpenOption.CREATE_NEW)
          // the lease clock must survive the capture/restore round
          // trip: CREATE_NEW stamps "now", which would otherwise hand
          // the restored claim a FULL fresh lease on every failed
          // takeover probe — and probes cluster exactly when the
          // marker is near-stale, so a dead writer's claim could be
          // deferred indefinitely. For token-bearing claims (every
          // claim since the hb-token protocol) the restore is EXACT on
          // ALL backends: the `hb<millis>` token travels with the
          // bytes and [[markerClockMillis]]'s min() ignores the fresh
          // mtime. The mtime restore below now only serves LEGACY
          // markers (no token) — where it stays exact on local/HDFS
          // and forward-only on object stores (bounded: this branch
          // needs a live-moments-ago heartbeat, so the one extra lease
          // goes to a live writer once per capture-vs-heartbeat race).
          try Files.setLastModifiedTime(marker, mtime)
          catch { case _: java.io.IOException => () }
        }
        catch { case _: FileAlreadyExistsException => () } // re-claimed: drop
      } catch { case _: java.io.IOException => () }
      Files.deleteIfExists(captured)
      false
    } else {
      Files.deleteIfExists(captured)
      true
    }
  }

  /** A missing pointer file is an absent state; an EXISTING but
    * unparsable one is damage — fail loudly rather than read the store
    * as empty (a truncated `_latest` must never look like "no store").
    * The read races pointer swaps: on a delete-then-rename backend the
    * file can vanish BETWEEN the exists probe and the read, so a
    * NoSuchFileException from the read IS the absent state (the
    * [[readHead]] retry then covers the swap window). */
  private def readLong(p: Path): Option[Long] =
    try {
      if (!Files.exists(p)) None
      else {
        val body = new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim
        Some(body.toLongOption.getOrElse(throw new IllegalStateException(
          s"MergeSink: pointer file $p is corrupted (content: '$body') — " +
            "restore it from the highest _commits marker / version dir " +
            "before using this store")))
      }
    } catch { case _: java.nio.file.NoSuchFileException => None }

  private def writeLongAtomic(p: Path, v: Long): Unit = {
    // tmp name carries a nonce: CONCURRENT writers of the same pointer
    // (e.g. two OCC first-writers both recording `_nbuckets`, or two
    // publishers racing `_latest`) must not collide on one tmp path —
    // a shared name let one writer move the file away mid-way through
    // the other's write-then-move (NoSuchFileException). Each writer
    // stages privately; the ATOMIC_MOVE linearizes the publishes.
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp." +
      (java.util.concurrent.ThreadLocalRandom.current().nextLong()
        & Long.MaxValue))
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The head pointer (`_latest`) with the MISSING-POINTER READER
    * RETRY the path layer's CAS table documents
    * ([[graft.store.StorePath]]): on a backend whose overwrite-rename
    * is delete-then-rename (no `AbstractFileSystem` binding — the S3A
    * shape), every pointer swap has a sub-millisecond window where
    * `_latest` does not exist. A store that demonstrably committed
    * before (see [[committedEvidence]]) therefore re-polls a missing
    * pointer briefly instead of reading as "no store" — and if the
    * pointer stays gone past the window, fails LOUDLY naming the
    * repair (a crashed mid-swap writer or a deleted file, never a
    * silently empty store). A store with no commit evidence keeps the
    * plain semantics: missing pointer = not yet committed. */
  private def readHead(storeDir: String): Option[Long] =
    readLong(latestPath(storeDir)) match {
      case s @ Some(_) => s
      case None if !committedEvidence(storeDir) => None
      case None =>
        var r: Option[Long] = None
        var i = 0
        while (r.isEmpty && i < 25) {
          Thread.sleep(20L)
          r = readLong(latestPath(storeDir))
          i += 1
        }
        if (r.isEmpty)
          throw new IllegalStateException(
            s"MergeSink: $storeDir has committed history (replay guards / " +
              "commit horizon / subscribers exist) but no `_latest` pointer " +
              "— a non-atomic pointer swap crashed mid-window or the file " +
              "was deleted; restore `_latest` from the highest _commits " +
              "marker / manifest before using this store")
        r
    }

  /** Proof a store committed at least once, readable WITHOUT the head
    * pointer — every artifact here is only ever written AFTER a
    * successful `_latest` swap: the serialized replay guard
    * (`_lastBatch`), any per-writer OCC lineage (`_lastBatch.<w>`),
    * the pruning horizon, a subscriber offset. Only consulted when the
    * pointer is missing (never on the hot path). */
  private def committedEvidence(storeDir: String): Boolean =
    Files.exists(lastBatchPath(storeDir)) ||
      Files.exists(commitsDir(storeDir).resolve("_horizon")) ||
      Files.exists(Paths.get(storeDir, "_subscribers")) || {
        val dir = Paths.get(storeDir)
        Files.exists(dir) && {
          val s0 = Files.list(dir)
          try s0.iterator().asScala
            .exists(_.getFileName.toString.startsWith("_lastBatch."))
          finally s0.close()
        }
      }

  /** A held commit claim: the marker path plus the EXACT content this
    * writer wrote (or adopted, for a streaming crash-replay). The
    * content carries a per-claim nonce, so the pre-swap [[verifyClaim]]
    * can tell OUR claim from a taken-over one even when the usurper
    * wrote the same (parent, batchId) pair — two maintenance writers
    * both carry batchId −1, content alone cannot distinguish them. */
  private final case class Claim(marker: Path, content: String,
      version: Long, storeDir: String)

  /** Thrown by [[applyBucketedBatchOcc]] when the caller's declared
    * snapshot read point (`readVersion`) no longer owns every touched
    * bucket — the batch's VALUES were derived from reads another commit
    * has since superseded, so committing would be a lost update. The
    * caller must RECOMPUTE the batch from the new head and retry
    * (GraftDml and sqlDelete do exactly that); no internal retry can
    * help because the batch itself is what's stale. */
  final class StaleReadException(msg: String)
      extends java.util.ConcurrentModificationException(msg)

  /** Release a claim WE hold on an UNPUBLISHED slot, so a failed
    * attempt never wedges overlapping writers for a takeover lease.
    * Verified on content (the nonce decides ours vs a usurper's) and
    * refused once `_latest` reached the version — a published commit's
    * marker is history and only [[pruneCommitMarkers]] may fold it into
    * the horizon (a bare delete would let a stale writer re-claim a
    * committed slot). */
  private def releaseOwnClaim(claim: Claim): Unit =
    try {
      // raw pointer read, NOT readHead: this is failure-path cleanup —
      // a missing-pointer IllegalStateException here would mask the
      // original error; an unreleased claim merely waits out its lease
      if (readLong(latestPath(claim.storeDir)).getOrElse(-1L) < claim.version &&
        Files.exists(claim.marker) &&
        claimIdentity(new String(Files.readAllBytes(claim.marker),
          StandardCharsets.UTF_8).trim) == claimIdentity(claim.content))
        Files.deleteIfExists(claim.marker)
    } catch { case _: java.io.IOException => () }

  /** Concurrent-writer guard (CAS via exclusive marker creation): a
    * version is only allowed to swap `_latest` after durably claiming
    * `_commits/<version>` (content = "<parent> <batchId> <nonce>";
    * `Files.write(CREATE_NEW)` is atomic-exclusive) and then verifying
    * no OTHER writer committed a version past that parent. Linearize on
    * marker-creation order: the later creator always sees the earlier
    * marker and fails; the earlier creator either passes (winner) or —
    * if its check ran after the later marker appeared — also fails
    * (zero winners, both loud, retry-able). A silent lost update (two
    * writers deriving from the same parent, the second swap clobbering
    * the first's changes) is thereby impossible. Markers are immutable
    * history; a marker matching our (version, parent, batchId) with
    * batchId ≥ 0 is OUR streaming crash-replay (the checkpoint
    * guarantees one live writer per batchId) and passes through. A
    * matching MAINTENANCE claim (batchId −1) is NOT assumed ours —
    * an interrupted maintenance op re-runs as a new claim and must
    * wait out the takeover lease like any recoverer (eraseKeys
    * documents exactly this). An EMPTY or unparsable marker (crash
    * between CREATE_NEW and the bytes reaching disk) is treated as a
    * detected race/corruption with a recovery hint, never a
    * NumberFormatException. A parent older than the pruning horizon
    * (`_commits/_horizon` = highest marker version ever pruned) is
    * refused outright: some version ≤ horizon > parent certainly
    * committed after that parent, the evidence just aged out.
    * Maintenance commits carry batchId −1. Throws
    * [[java.util.ConcurrentModificationException]] on a detected race.
    * Returns the held [[Claim]] for [[withClaimHeartbeat]] /
    * [[verifyClaim]]. */
  private def claimCommit(storeDir: String, version: Long, parent: Long,
      batchId: Long): Claim = {
    val dir = commitsDir(storeDir)
    Files.createDirectories(dir)
    readLong(dir.resolve("_horizon")).foreach { h =>
      if (parent < h)
        throw new java.util.ConcurrentModificationException(
          s"MergeSink: this writer derived v$version of $storeDir from " +
            s"parent v$parent, but commit history up to v$h has been " +
            "pruned — other writers committed long past that parent; " +
            "re-read the store and retry")
    }
    val marker = dir.resolve(version.toString)
    val nonce =
      java.util.concurrent.ThreadLocalRandom.current().nextLong() & Long.MaxValue
    // the trailing hb token is the claim's lease clock (see
    // [[markerClockMillis]]); heartbeats rewrite it, identity ignores it
    val content = s"$parent $batchId $nonce hb${System.currentTimeMillis()}"
    def create(): Option[Claim] =
      try {
        Files.write(marker, content.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE_NEW)
        Some(Claim(marker, content, version, storeDir))
      } catch { case _: FileAlreadyExistsException => None }
    def vanished(): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"MergeSink: the claim marker on v$version of $storeDir vanished " +
          "while this writer inspected it — a takeover or prune is in " +
          "progress; re-read the store and retry")
    val claim = create().getOrElse {
      val body =
        try new String(Files.readAllBytes(marker), StandardCharsets.UTF_8).trim
        catch { case _: java.nio.file.NoSuchFileException => vanished() }
      val parsed = body.split("\\s+").toSeq match {
        case Seq(p, b, _*) => for { pv <- p.toLongOption; bv <- b.toLongOption } yield (pv, bv)
        case Seq(p) => p.toLongOption.map(pv => (pv, batchId)) // legacy marker
        case _ => None
      }
      parsed match {
        case None =>
          throw new java.util.ConcurrentModificationException(
            s"MergeSink: commit marker $marker is empty or corrupted " +
              s"(content: '$body') — a writer crashed mid-claim or the " +
              "file was damaged; verify no other writer is live, delete " +
              "the marker, and retry")
        case Some((prevParent, prevBatch))
            if prevParent == parent && prevBatch == batchId && batchId >= 0 =>
          // our streaming crash-replay: adopt the existing marker as-is
          // (its nonce, if any, is the one the pre-swap verify checks)
          Claim(marker, body, version, storeDir)
        case Some((prevParent, prevBatch)) =>
          // A claim whose writer died between claimCommit and the
          // `_latest` swap would otherwise wedge the store forever:
          // every later writer derives the SAME parent+1, hits this
          // marker, and fails — while `_latest` never advances (a
          // crashed compaction blocking the stream, or a crashed
          // batch blocking a later compaction). Such a claim is
          // recognizably ABANDONED when (a) it was derived from our
          // parent, (b) `_latest` still points at that parent (the
          // claimant never swapped), and (c) the marker has aged
          // past the takeover lease — a LIVE racing writer's marker
          // is fresh (long rewrites heartbeat-refresh it, see
          // [[withClaimHeartbeat]]), so genuine two-writer races
          // stay loud.
          val stale = prevParent == parent &&
            readHead(storeDir).getOrElse(-1L) == parent &&
            (System.currentTimeMillis() -
              (try markerClockMillis(marker)
               catch { case _: java.nio.file.NoSuchFileException => vanished() })
              ) >= TakeoverLeaseMs
          if (stale) {
            // CAS takeover via ATOMIC capture (see captureStaleMarker:
            // a bare delete here could kill a claim re-created between
            // our staleness read and the delete, letting two claimants
            // write the same v-dir). The winner then re-enters the
            // CREATE_NEW race, where a concurrent fresh claimant can
            // still beat it — loudly.
            if (!captureStaleMarker(marker))
              throw new java.util.ConcurrentModificationException(
                s"MergeSink: another recoverer took over the abandoned " +
                  s"claim on v$version of $storeDir first (or its writer " +
                  "is live again) — re-read the store and retry")
            create().getOrElse(
              throw new java.util.ConcurrentModificationException(
                s"MergeSink: another writer re-claimed v$version of " +
                  s"$storeDir during the takeover — re-read the store " +
                  "and retry"))
          } else
            throw new java.util.ConcurrentModificationException(
              s"MergeSink: version $version of $storeDir was already " +
                s"committed against parent v$prevParent by batch $prevBatch, " +
                s"but this writer derived it from v$parent as batch $batchId " +
                "— a second writer is racing on this store; refusing the " +
                "lost update; re-read the store and retry. If that writer " +
                "is known dead (crashed between claim and swap), its claim " +
                s"expires ${TakeoverLeaseMs / 60000} min after the marker's " +
                s"mtime; to recover immediately, verify _latest still reads " +
                s"v$parent and delete _commits/$version")
      }
    }
    val others = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .flatMap(n => n.toLongOption).filter(v => v > parent && v != version)
        .toList.sorted
      finally s.close()
    }
    if (others.nonEmpty) {
      Files.deleteIfExists(marker) // withdraw so the racing winner can proceed
      throw new java.util.ConcurrentModificationException(
        s"MergeSink: version${if (others.size > 1) "s" else ""} " +
          s"${others.mkString(", ")} committed to $storeDir after this " +
          s"writer read parent v$parent — refusing to swap v$version over " +
          "changes it never saw (lost update); re-read the store and retry")
    }
    claim
  }

  /** Keep a held claim visibly ALIVE across a long rewrite: rewrite
    * the marker's `hb<millis>` lease-clock token on a schedule (4× per
    * lease) so compaction / optimize / erasure holding the claim for
    * longer than the takeover lease — routine at the 100 TB scale the
    * store targets — never looks abandoned to a concurrent writer's
    * staleness check. The rewrite is IDENTITY-GUARDED: the current
    * marker must still be OURS (nonce decides) — a writer waking from
    * a stall after its claim was taken over must not restore its own
    * content over the usurper's (the pre-token setTimes refresh was
    * naturally harmless there; a content write is not). The write also
    * stamps a fresh mtime, so legacy readers agree. */
  private def withClaimHeartbeat[T](claim: Claim)(body: => T): T = {
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "mergesink-claim-heartbeat")
        t.setDaemon(true); t
      })
    exec.scheduleAtFixedRate(new Runnable {
      def run(): Unit =
        try {
          val body = new String(Files.readAllBytes(claim.marker),
            StandardCharsets.UTF_8).trim
          if (claimIdentity(body) == claimIdentity(claim.content))
            Files.write(claim.marker,
              (claimIdentity(claim.content) +
                s" hb${System.currentTimeMillis()}")
                .getBytes(StandardCharsets.UTF_8))
        } catch { case _: Throwable => () } // marker gone → verifyClaim refuses the swap
    }, TakeoverLeaseMs / 4, TakeoverLeaseMs / 4,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    try body finally exec.shutdownNow()
  }

  /** The last line of defense against a stalled writer resuming after
    * its claim was taken over (GC pause / VM freeze past the lease
    * despite the heartbeat): immediately before the `_latest` swap,
    * re-read the marker and require it to still be EXACTLY ours (the
    * nonce makes that decidable). On mismatch the swap is refused —
    * the usurper's commit stands, our work is abandoned un-pointed-at,
    * and no two writers ever publish the same version. */
  private def verifyClaim(claim: Claim): Unit = {
    // identity comparison (nonce-bearing, hb-token-blind): our own
    // heartbeat legitimately advances the clock token, so an exact
    // content match would refuse our own live claim
    val ok = Files.exists(claim.marker) &&
      claimIdentity(new String(Files.readAllBytes(claim.marker),
        StandardCharsets.UTF_8).trim) == claimIdentity(claim.content)
    if (!ok)
      throw new java.util.ConcurrentModificationException(
        s"MergeSink: the commit claim on v${claim.version} of " +
          s"${claim.storeDir} was taken over before this writer's _latest " +
          "swap (the writer stalled past the takeover lease); abandoning " +
          "the swap — no pointer moved, the takeover's commit stands; " +
          "re-read the store and retry")
  }

  /** STAGE-THEN-EXCLUSIVE-RENAME publish of one version DATA dir: the
    * merge job writes into a private `.stage_v<version>_<nonce>` dir,
    * the claim is re-verified, and the stage RENAMES into
    * `v<version>` — a rename that FAILS if the destination exists
    * (rename(2) on a non-empty dir locally; FileSystem.rename on
    * HDFS). This closes the residual the pre-swap [[verifyClaim]]
    * alone could not: a writer stalled past its takeover lease used
    * to run its `mode("overwrite")` parquet write IN PLACE, so on
    * resume it could interleave files into a version dir a usurper
    * had already published — verifyClaim only refused the POINTER
    * swap, after the data was already clobbered. With staging, the
    * stalled writer's resume lands in its own stage dir and its
    * publish rename is refused by the existing destination; the
    * verify then aborts loudly and the usurper's files are untouched.
    *
    * A destination that exists under OUR OWN verified claim is stale
    * un-pointed-at data this claim now owns — our crash replay's
    * earlier publish, or an abandoned (rebased/released) attempt's
    * orphan — and is REPLACED with the freshly re-derived content
    * (claims serialize the slot, so nobody else can be publishing this
    * version while our lease-fresh claim stands; a USURPER's takeover
    * fails the verify before anything is deleted). `list` runs against
    * the STAGE (callers read survivors/buckets before publication).
    * Orphaned stage dirs (a writer crashed between write and rename)
    * are swept by [[pruneCommitMarkers]] once lease-stale. */
  private def publishVersionDir[T](storeDir: String, version: Long,
      claim: Claim)(write: String => T): T = {
    val stage = Paths.get(storeDir, s".stage_v${version}_" +
      (java.util.concurrent.ThreadLocalRandom.current().nextLong()
        & Long.MaxValue))
    try {
      val result = phase("publish.write") { write(stage.toString) }
      // DATA-SKIPPING STATS, recorded at the single choke point every
      // version-dir writer publishes through: footer-read exactly the
      // files this commit wrote (metadata-only — no data re-read) into
      // the `_stats/<version>` sidecar the scan path prunes by
      // ([[FileStats]]). ADVISORY: a failure here loses skipping for
      // this version, never the commit.
      try phase("publish.stats") { writeFileStatsSidecar(storeDir, version, stage) }
      catch { case scala.util.control.NonFatal(_) => () }
      val dst = Paths.get(storeDir, s"v$version")
      verifyClaim(claim)
      try Files.move(stage, dst, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.io.IOException =>
          verifyClaim(claim) // a usurper's publish aborts loudly HERE
          if (!Files.exists(dst)) throw e // genuine IO failure
          Files.deleteTree(dst) // stale owned data: replace it
          Files.move(stage, dst, StandardCopyOption.ATOMIC_MOVE)
      }
      result
    } finally if (Files.exists(stage)) Files.deleteTree(stage)
  }

  /** Fold markers older than the last [[RetainMarkers]] into the
    * `_horizon` watermark. Run by the committed writer after its swap;
    * keeps `_commits` O(1) for an unbounded stream (the plain sink
    * previously accumulated one marker per batch forever). */
  private[graft] def pruneCommitMarkers(storeDir: String): Unit = {
    val dir = commitsDir(storeDir)
    if (!Files.exists(dir)) return
    // sweep orphaned takeover captures (a recoverer that crashed
    // between capture and cleanup): past the lease they are garbage —
    // their original claims were already stale when captured
    locally {
      val s0 = Files.list(dir)
      try s0.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".takeover_"))
        .filter(p => System.currentTimeMillis() -
          Files.getLastModifiedTime(p).toMillis >= TakeoverLeaseMs)
        .foreach(Files.deleteIfExists(_))
      catch { case _: java.io.IOException => () }
      finally s0.close()
    }
    // sweep orphaned STAGE dirs (a writer that crashed between its
    // merge-job write and the publish rename). LIVENESS IS THE CLAIM,
    // not the stage mtime: a long merge job touches the stage's top
    // level only at job start/commit, so a >lease rewrite (routine at
    // scale — withClaimHeartbeat exists for exactly that) has a stale-
    // looking stage while its heartbeated claim marker is perfectly
    // fresh. A stage is garbage only when BOTH its mtime is lease-old
    // AND the claim on its version is gone or lease-stale.
    locally {
      val s0 = Files.list(Paths.get(storeDir))
      try s0.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith(".stage_v") || n.startsWith(".stage_dv")
        }
        .filter(p =>
          try System.currentTimeMillis() -
            Files.getLastModifiedTime(p).toMillis >= TakeoverLeaseMs
          catch { case _: java.nio.file.NoSuchFileException => false })
        .filter { p =>
          val v = p.getFileName.toString
            .stripPrefix(".stage_dv").stripPrefix(".stage_v")
            .takeWhile(_.isDigit).toLongOption
          v.forall { version =>
            val m = dir.resolve(version.toString)
            !Files.exists(m) || markerLeaseExpired(m)
          }
        }
        .foreach(Files.deleteTree(_))
      catch { case _: java.io.IOException => () }
      finally s0.close()
    }
    // only COMMITTED history (versions at or below the published head)
    // is prunable: markers beyond the head are LIVE in-flight OCC
    // claims — deleting one would abort its writer at verifyClaim,
    // free the slot for a second claimant mid-write, and fold a
    // never-committed version into the horizon (head < horizon wedges
    // every later writer's parent check until manual repair).
    val head = readHead(storeDir).getOrElse(return)
    val versions = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .flatMap(_.toLongOption).filter(_ <= head).toList.sorted
      finally s.close()
    }
    val prune = versions.dropRight(RetainMarkers)
    if (prune.isEmpty) return
    val horizon = math.max(prune.max, readLong(dir.resolve("_horizon")).getOrElse(Long.MinValue))
    writeLongAtomic(dir.resolve("_horizon"), horizon)
    prune.foreach(v => Files.deleteIfExists(dir.resolve(v.toString)))
  }

  // ------------------------------------------------------------------
  // Per-version schema registry (evolution support)
  // ------------------------------------------------------------------

  private def writeSchema(storeDir: String, version: Long, schema: StructType): Unit = {
    Files.createDirectories(schemasDir(storeDir))
    val tmp = schemasDir(storeDir).resolve(s".$version.tmp." +
      (java.util.concurrent.ThreadLocalRandom.current().nextLong()
        & Long.MaxValue))
    Files.write(tmp, schema.json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, schemasDir(storeDir).resolve(version.toString),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def readSchema(storeDir: String, version: Long): Option[StructType] = {
    val p = schemasDir(storeDir).resolve(version.toString)
    if (Files.exists(p))
      Some(org.apache.spark.sql.types.DataType.fromJson(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).asInstanceOf[StructType])
    else None
  }

  /** Evolution gate: every column of the parent snapshot must survive
    * into the next one with an identical type — new columns may
    * appear, nothing may vanish or mutate. Returns unit or throws an
    * [[IllegalArgumentException]] naming every offending column. */
  private def requireCompatible(parent: StructType, next: StructType,
      storeDir: String): Unit = {
    val nextByName = next.fields.map(f => f.name -> f.dataType).toMap
    val dropped = parent.fields.filterNot(f => nextByName.contains(f.name)).map(_.name)
    val retyped = parent.fields.flatMap { f =>
      nextByName.get(f.name).filter(_ != f.dataType)
        .map(t => s"${f.name}: ${f.dataType.simpleString} -> ${t.simpleString}")
    }
    if (dropped.nonEmpty || retyped.nonEmpty)
      throw new IllegalArgumentException(
        s"MergeSink: incompatible schema change on $storeDir — " +
          (if (dropped.nonEmpty) s"dropped column(s) ${dropped.mkString(", ")}" else "") +
          (if (dropped.nonEmpty && retyped.nonEmpty) "; " else "") +
          (if (retyped.nonEmpty) s"changed type(s) ${retyped.mkString(", ")}" else "") +
          ". Only ADDING value columns evolves in place; rewrite the " +
          "store explicitly for destructive changes.")
  }

  /** NULL-fill any `target` columns a stored file predates (added by a
    * later evolution step); types of shared columns are guaranteed
    * identical by [[requireCompatible]] across the whole history. */
  // ----- COLUMN MAPPING (metadata-only RENAME, VERDICT r14 #4) -----
  // Delta's column-mapping pattern: every field of a recorded snapshot
  // schema may carry a `graft.physical` metadata entry naming the
  // column AS IT LIVES IN PARQUET FILES. Physical names are STABLE
  // IDENTITIES — assigned at a column's first appearance (= its then-
  // logical name) and never changed; a RENAME is one metadata-only
  // schema commit that moves the LOGICAL name while the physical name
  // (and every data file) stays put. Writers always write files under
  // physical names; readers project physical → logical through the
  // read point's schema. Pre-mapping stores have no metadata and
  // physical == logical everywhere, so every path below degenerates to
  // the old by-name behavior.

  private[graft] val PhysicalMark = "graft.physical"

  /** The parquet-file column name backing a logical field. */
  private[graft] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalMark)) f.metadata.getString(PhysicalMark)
    else f.name

  /** The recorded (logical) schema re-keyed to its file names — what
    * parquet readers and writers of a version dir speak. */
  private def physicalize(sc: StructType): StructType =
    StructType(sc.fields.map(f => f.copy(name = physicalName(f))))

  /** logical → physical for the fields where they differ. */
  private[graft] def renameMap(sc: StructType): Map[String, String] =
    sc.fields.iterator.filter(f => physicalName(f) != f.name)
      .map(f => f.name -> physicalName(f)).toMap

  /** Align a PHYSICALLY-named version-dir read to the read point's
    * logical schema: match by PHYSICAL name (the stable identity — a
    * rename between the dir's commit and the read point moves only
    * the logical name), null-fill columns the dir predates, output
    * logical names. */
  private def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(target.fields.toSeq.map { f =>
      val phys = physicalName(f)
      if (have(phys)) col(phys).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** [[alignTo]] plus a `_bucket` column (an expression over the raw
    * physically-named read — the identity `col("_bucket")` or a
    * rebucket re-hash) — the rewrite paths' logical view, so sort and
    * ZORDER expressions keep speaking logical names. */
  private def alignToWith(df: DataFrame, target: StructType,
      bucket: Column): DataFrame = {
    val have = df.columns.toSet
    df.select(target.fields.toSeq.map { f =>
      val phys = physicalName(f)
      if (have(phys)) col(phys).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } :+ bucket.cast("long").as("_bucket"): _*)
  }

  /** Logical → physical projection for a fresh write plan whose
    * columns carry logical names (the merge writers' output). A single
    * select, so even a swap-rename (a↔b) maps correctly. */
  private def toPhysical(df: DataFrame, target: StructType,
      extra: Seq[String] = Seq("_bucket")): DataFrame =
    df.select(target.fields.toSeq.map(f =>
      col(f.name).as(physicalName(f))) ++ extra.map(col): _*)

  /** The store's current contents (empty-but-typed before any batch). */
  def currentSnapshot(spark: SparkSession,
      storeDir: String, key: String, valueCols: Seq[String]): Option[DataFrame] = {
    readHead(storeDir).map { v =>
      spark.read.parquet(s"$storeDir/v$v")
    }
  }

  /** Replay guard: the store's own commit counter is `_latest`; the
    * highest APPLIED streaming batch is `_lastBatch`. Only
    * pre-evolution stores (no `_schemas` registry) may fall back to
    * `_latest` — there versions WERE batchIds by construction. On a
    * registry store the counters diverge once maintenance commits
    * exist, so a missing `_lastBatch` must read as "not applied":
    * re-application is idempotent (the documented
    * crash-between-swap-and-`_lastBatch` interleaving), silently
    * SKIPPING a never-applied batch is not. */
  private def alreadyApplied(storeDir: String, batchId: Long): Boolean =
    readLong(lastBatchPath(storeDir)) match {
      case Some(last) => last >= batchId
      case None =>
        if (Files.exists(schemasDir(storeDir))) false
        else readHead(storeDir).exists(_ >= batchId)
    }

  /** The batchId a version's commit marker records (markers are
    * "<parent> <batchId> <nonce>"); None when the marker has been
    * pruned or is unparsable. */
  private def markerBatchId(storeDir: String, version: Long): Option[Long] = {
    val marker = commitsDir(storeDir).resolve(version.toString)
    if (!Files.exists(marker)) None
    else new String(Files.readAllBytes(marker), StandardCharsets.UTF_8)
      .trim.split("\\s+").toSeq match {
        case Seq(_, b, _*) => b.toLongOption
        case _ => None
      }
  }

  /** One batch of the protocol — public so replay interleavings are
    * directly testable. A version dir is IMMUTABLE once `_latest` has
    * passed it: a replay of an already-swapped batch is a pure no-op
    * (never a rewrite of the dir the store currently reads — no
    * read-overwrite-same-path hazard), and a replay after a crash
    * BEFORE the swap re-derives `parent + 1` from the old snapshot it
    * was derived from the first time — same bytes, then the swap. */
  def applyBatch(batch: DataFrame, batchId: Long, storeDir: String,
      key: String, opCol: String, verCol: String,
      valueCols: Seq[String]): Unit = {
    if (alreadyApplied(storeDir, batchId)) return
    applyBatchFrom(readHead(storeDir), batch, batchId, storeDir,
      key, opCol, verCol, valueCols)
  }

  /** The body of [[applyBatch]] with the parent-version read made
    * explicit — `parent` is the `_latest` value this writer derived
    * its snapshot from. Package-private so SinkSpec can reproduce the
    * two-writer race deterministically (a stale `parent` next to a
    * newer committed version), which [[claimCommit]] must refuse. */
  private[graft] def applyBatchFrom(parent: Option[Long], batch: DataFrame,
      batchId: Long, storeDir: String, key: String, opCol: String,
      verCol: String, valueCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val target = batch.select((keyCols(key) ++ valueCols).map(col): _*).schema
    parent.foreach { pv =>
      readSchema(storeDir, pv).foreach(requireCompatible(_, target, storeDir))
    }
    val version = parent.getOrElse(-1L) + 1
    // CAS guard BEFORE the write: versions are parent+1, so two writers
    // racing from one parent would target the SAME v-dir — the loser
    // must be refused before it can clobber the winner's files, not
    // merely before the swap. A marker matching our (parent, batchId)
    // is our own crash-replay and passes through to rewrite the same
    // bytes.
    val claim = claimCommit(storeDir, version, parent.getOrElse(-1L), batchId)
    val base = parent.map(v => alignTo(spark.read.parquet(s"$storeDir/v$v"), target))
      .getOrElse(batch.select((keyCols(key) ++ valueCols).map(col): _*).limit(0))
    val next = Snapshot.applyChanges(base, batch, key, opCol, verCol, valueCols)
    withClaimHeartbeat(claim) {
      publishVersionDir(storeDir, version, claim) { stage =>
        next.write.mode("overwrite").parquet(stage)
      }
    }
    writeSchema(storeDir, version, target)
    verifyClaim(claim)
    writeLongAtomic(latestPath(storeDir), version)
    writeLongAtomic(lastBatchPath(storeDir), batchId)
    pruneCommitMarkers(storeDir)
  }

  /** The sink: wire to `.start()`. `changes` is the streaming CDC
    * frame; the checkpoint gives batchId stability across restarts
    * (the replay key of the protocol above). */
  def mergeSink(changes: DataFrame, storeDir: String, checkpoint: String,
      key: String, opCol: String, verCol: String,
      valueCols: Seq[String]): DataStreamWriter[Row] = {
    Files.createDirectories(Paths.get(storeDir))
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, storeDir, key, opCol, verCol, valueCols)
      }
  }

  // ------------------------------------------------------------------
  // Bucketed store: partial-partition rewrites (the 100 TB shape)
  // ------------------------------------------------------------------
  //
  // [[applyBatch]] rewrites the FULL snapshot per batch — O(store) I/O
  // per micro-batch, the documented limitation a continuous-CDC user
  // hits first. The bucketed protocol keeps the store hash-partitioned
  // into `nBuckets` by key and rewrites ONLY the buckets the changeset
  // touches: per batch the cost is O(touched buckets), not O(store) —
  // exactly the partition-level rewrite a table format's MERGE does.
  //
  // Layout:  storeDir/v<version>/_bucket=<b>/…parquet   (immutable)
  //          storeDir/_manifests/<version>              "b v" lines
  //          storeDir/_schemas/<version>                snapshot schema
  //          storeDir/_commits/<version>                CAS markers
  //          storeDir/_latest                           current version
  //          storeDir/_lastBatch                        replay guard
  //          storeDir/_nbuckets                         bucket count
  //
  // The manifest maps every bucket to the VERSION whose v-dir holds
  // its current file; untouched buckets keep their old mapping, so old
  // v-dirs stay live until every bucket has moved past them. Replay
  // safety is the same argument as applyBatch: v-dirs and manifests
  // are immutable once written, a replay re-derives them from the same
  // parent manifest (same bytes), and the CAS guard refuses a swap
  // over a version it never saw.

  private def manifestsDir(storeDir: String) = Paths.get(storeDir, "_manifests")
  private def originPath(storeDir: String) = Paths.get(storeDir, "_origin")
  private def clonesDir(storeDir: String) = Paths.get(storeDir, "_clones")
  private def statsDir(storeDir: String) = Paths.get(storeDir, "_stats")

  /** Record the data-skipping sidecar for a version dir about to
    * publish (see [[FileStats]]): footer-read the staged files, write
    * `_stats/<version>` atomically (REPLACE_EXISTING — a re-claimed
    * slot's re-publish replaces the stale sidecar with its own). */
  private def writeFileStatsSidecar(storeDir: String, version: Long,
      dataRoot: Path): Unit = {
    val entries = FileStats.collect(dataRoot)
    Files.createDirectories(statsDir(storeDir))
    val tmp = statsDir(storeDir).resolve(s".$version.tmp." +
      (java.util.concurrent.ThreadLocalRandom.current().nextLong()
        & Long.MaxValue))
    FileStats.write(statsDir(storeDir).resolve(version.toString), tmp, entries)
  }

  /** `_stats/<v>` up the origin chain, keyed by file path relative to
    * the version dir. The sidecar lives WHERE THE DIR LIVES (a clone's
    * origin-referenced dirs keep their stats in the source store);
    * None = no sidecar, no skipping. */
  private def resolveFileStats(storeDir: String,
      v: Long): Option[Map[String, FileStats.FileEntry]] = {
    var dir = storeDir
    var hops = 0
    while (hops < 64) {
      if (Files.exists(Paths.get(dir, s"v$v")))
        return FileStats.read(statsDir(dir).resolve(v.toString))
          .map(_.map(e => e.rel -> e).toMap)
      val o = originPath(dir)
      if (!Files.exists(o)) return None
      dir = new String(Files.readAllBytes(o), StandardCharsets.UTF_8).trim
      hops += 1
    }
    None
  }

  /** Resolve version dir `v` for possibly-CLONED stores: the local dir
    * when it exists, else up the `_origin` chain (a clone references
    * its source's immutable dirs by number — zero copies; local dirs
    * SHADOW origin ones, so post-clone commits and localizing rewrites
    * win automatically). None when no link in the chain has it. */
  private def resolveDataDir(storeDir: String, v: Long): Option[Path] = {
    var dir = storeDir
    var hops = 0
    while (hops < 64) { // cycle guard; clone chains are shallow in practice
      val p = Paths.get(dir, s"v$v")
      if (Files.exists(p)) return Some(p)
      val o = originPath(dir)
      if (!Files.exists(o)) return None
      dir = new String(Files.readAllBytes(o), StandardCharsets.UTF_8).trim
      hops += 1
    }
    None
  }

  /** [[readSchema]] up the origin chain — pre-clone version dirs keep
    * their recorded schemas in the SOURCE's registry. */
  private def resolveSchema(storeDir: String, v: Long): Option[StructType] = {
    var dir = storeDir
    var hops = 0
    while (hops < 64) {
      val s = readSchema(dir, v)
      if (s.isDefined) return s
      val o = originPath(dir)
      if (!Files.exists(o)) return None
      dir = new String(Files.readAllBytes(o), StandardCharsets.UTF_8).trim
      hops += 1
    }
    None
  }

  // ----- DELETION VECTORS (VERDICT r15 #4) -----
  // A point retraction on a fat bucket used to pay O(bucket): the
  // delete-CDC commit rewrote the whole owning bucket's version dir.
  // With deletion vectors a DELETE-ONLY commit moves O(metadata): it
  // writes the retracted keys into `_dv/<version>/_bucket=<b>` (tiny
  // parquet, one spark write for the whole batch), keeps every owner
  // dir untouched, and records a `d<version>` token on the bucket's
  // manifest line. Every reader anti-joins the bucket's owner scan
  // against its recorded DV (the Delta deletion-vector analogue, keyed
  // by the store's row identity instead of file/row-position — the
  // natural form for a keyed store). DVs are CUMULATIVE per bucket
  // (each new DV carries the prior one's keys too, so exactly ONE DV
  // applies per bucket per read point); any REWRITE of the bucket
  // (upsert merge, compaction, optimize, rebucket) materializes
  // through the DV and clears the token — compaction absorbs the
  // debt. Erasure stays the physical path (a DV is retraction, not
  // erasure) and additionally scrubs the subject's keys from retained
  // DV files (the key itself may be the PII). Vacuum reclaims `_dv`
  // dirs by the same liveness rule as data dirs; a read point whose
  // DV aged out fails LOUDLY, never silently resurrects deleted rows.

  private def dvRootDir(storeDir: String) = Paths.get(storeDir, "_dv")

  /** `_dv/<w>` up the origin chain (clones reference their source's
    * immutable DV dirs exactly like its data dirs). */
  private def resolveDvDir(storeDir: String, w: Long): Option[Path] = {
    var dir = storeDir
    var hops = 0
    while (hops < 64) {
      val p = Paths.get(dir, "_dv", w.toString)
      if (Files.exists(p)) return Some(p)
      val o = originPath(dir)
      if (!Files.exists(o)) return None
      dir = new String(Files.readAllBytes(o), StandardCharsets.UTF_8).trim
      hops += 1
    }
    None
  }

  /** The retracted-key frame for `entries` (bucket → dv version):
    * (physKey, _bucket), one partition-pruned scan per referenced DV
    * dir. Read with an EXPLICIT schema so an erased-to-empty DV dir
    * still types as an empty frame. A reclaimed DV dir fails loudly
    * (the read point is no longer materializable — same contract as a
    * vacuumed data dir). */
  private def dvKeysFrame(spark: SparkSession, storeDir: String,
      entries: Map[Long, Long],
      keyFields: Seq[StructField]): Option[DataFrame] =
    if (entries.isEmpty) None
    else Some(entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (w, bm) =>
      val d = resolveDvDir(storeDir, w).getOrElse(
        throw new IllegalStateException(
          s"MergeSink: deletion-vector dir _dv/$w of $storeDir has been " +
            "reclaimed by vacuum — this read point is no longer " +
            "materializable"))
      spark.read.schema(StructType(
          keyFields.map(f => StructField(physicalName(f), f.dataType)) :+
          StructField("_bucket", org.apache.spark.sql.types.LongType)))
        .parquet(d.toString)
        .filter(col("_bucket").isin(bm.keys.toSeq: _*))
    }.reduce(_ unionByName _))

  /** Anti-join a PHYSICALLY-named owner-dir scan against its retracted
    * keys — on the FULL key tuple for compound keys. The DV side is
    * tiny by construction (point retractions), so the planner
    * broadcasts it from its file size. */
  private def applyDv(df: DataFrame, dvKeys: Option[DataFrame],
      physKeys: Seq[String]): DataFrame =
    dvKeys.fold(df)(k =>
      df.join(k.select(physKeys.map(col): _*), physKeys, "left_anti"))

  /** Stage-then-exclusive-rename publish of one `_dv/<version>` dir —
    * the DV twin of [[publishVersionDir]], same claim discipline, same
    * orphan replacement, swept by the same stage-dir GC. */
  private def publishDvDir[T](storeDir: String, version: Long,
      claim: Claim)(write: String => T): T = {
    val stage = Paths.get(storeDir, s".stage_dv${version}_" +
      (java.util.concurrent.ThreadLocalRandom.current().nextLong()
        & Long.MaxValue))
    try {
      val result = write(stage.toString)
      Files.createDirectories(dvRootDir(storeDir))
      val dst = dvRootDir(storeDir).resolve(version.toString)
      verifyClaim(claim)
      try Files.move(stage, dst, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.io.IOException =>
          verifyClaim(claim) // a usurper's publish aborts loudly HERE
          if (!Files.exists(dst)) throw e // genuine IO failure
          Files.deleteTree(dst) // stale owned data: replace it
          Files.move(stage, dst, StandardCopyOption.ATOMIC_MOVE)
      }
      result
    } finally if (Files.exists(stage)) Files.deleteTree(stage)
  }

  /** The DELETE-ONLY commit's data half: write `_dv/<version>` holding,
    * per touched LIVE bucket, the cumulative retracted keys (parent DV
    * ∪ this batch's delete keys). Returns the new (bucket → version)
    * DV entries; empty when no touched bucket is live (deletes of
    * absent keys retract nothing). */
  private def writeDvForDeletes(spark: SparkSession, storeDir: String,
      version: Long, claim: Claim, batchEff: DataFrame, key: String,
      opCol: String, target: StructType, baseManifest: Map[Long, Long],
      baseDv: Map[Long, Long], touched: Seq[Long],
      nBuckets: Int): Map[Long, Long] = {
    // the deleteOnly contract is load-bearing: an upsert row silently
    // dropped here would be a lost update — refuse loudly instead
    val stray = batchEff.filter(col(opCol) =!= "delete").limit(1).collect()
    require(stray.isEmpty,
      s"MergeSink: deleteOnly commit on $storeDir carries a non-delete " +
        s"row ${stray.headOption.getOrElse("")} — the deletion-vector " +
        "path accepts pure retraction batches only")
    val live = touched.filter(baseManifest.contains)
    if (live.isEmpty) return Map.empty
    val keyFields = storedKeyFields(storeDir, target)
    val newKeys = batchEff
      .select(keyFields.map(f =>
          col(f.name).cast(f.dataType).as(physicalName(f))) :+
        bucketOf(key, nBuckets).as("_bucket"): _*)
      .filter(col("_bucket").isin(live: _*))
    val prior = dvKeysFrame(spark, storeDir,
      baseDv.view.filterKeys(live.toSet).toMap, keyFields)
    val all = prior.fold(newKeys)(_ unionByName newKeys).distinct()
    publishDvDir(storeDir, version, claim) { stage =>
      all.write.mode("overwrite").partitionBy("_bucket").parquet(stage)
    }
    live.map(_ -> version).toMap
  }

  private def readManifest(storeDir: String, version: Long): Map[Long, Long] = {
    val p = manifestsDir(storeDir).resolve(version.toString)
    // tolerate trailing per-line tokens: `b v [d<dvv>]` — the r16
    // deletion-vector reference rides as a third token (a manifest
    // format bump like r14's #nbuckets header; forward-only compat)
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val t = l.split(' '); (t(0).toLong, t(1).toLong)
      }.toMap
  }

  /** The DELETION-VECTOR references a manifest records: bucket → the
    * commit whose `_dv/<v>` dir holds the bucket's retracted keys
    * (applied on top of the bucket's owner dir by every reader).
    * Buckets without a `d<dvv>` token have no retractions pending. */
  private[graft] def readManifestDv(storeDir: String,
      version: Long): Map[Long, Long] = {
    val p = manifestsDir(storeDir).resolve(version.toString)
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        val t = l.split(' ')
        if (t.length >= 3 && t(2).startsWith("d"))
          t(2).drop(1).toLongOption.map(t(0).toLong -> _)
        else None
      }.toMap
  }

  /** The LAYOUT SIGNATURE a version's manifest records: the bucket
    * count its commit routed by (`#nbuckets <n>` header — a comment
    * line, which THIS parser and every r14+ reader skip;
    * compatibility is FORWARD-ONLY: a pre-r14 binary's readManifest
    * split every non-empty line into `bucket version` and would crash
    * on the header, so a downgrade cannot read post-r14 manifests —
    * r14 is a manifest format bump, noted in SURVEY §2 ST10z).
    * This is what makes every
    * version dir's layout self-describing: erasure prunes each
    * historical dir with the modulus IT was written under, restore
    * across a rebucket reverts the layout coherently, and the
    * usurped-rebucket registry window closes (the manifest and the
    * data publish atomically with the version — the `_nbuckets`
    * registry file is a convenience cache the published head heals).
    * None on pre-signature manifests (legacy stores) — their layout is
    * UNKNOWN and consumers must stay conservative. */
  def manifestNBuckets(storeDir: String, version: Long): Option[Long] = {
    val p = manifestsDir(storeDir).resolve(version.toString)
    if (!Files.exists(p)) return None
    try new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.collectFirst {
        case l if l.startsWith("#nbuckets ") =>
          l.stripPrefix("#nbuckets ").trim.toLongOption
      }.flatten
    catch { case _: java.nio.file.NoSuchFileException => None }
  }

  /** `dv` (bucket → dv version) rides as a per-line `d<dvv>` token —
    * REQUIRED at every call site (no default) so a manifest-copying
    * commit can never silently drop its parent's pending retractions. */
  private def writeManifest(storeDir: String, version: Long,
      m: Map[Long, Long], nBuckets: Option[Long],
      dv: Map[Long, Long]): Unit = {
    Files.createDirectories(manifestsDir(storeDir))
    val header = nBuckets.map(n => s"#nbuckets $n\n").getOrElse("")
    val body = header +
      m.toSeq.sorted.map { case (b, v) =>
        s"$b $v" + dv.get(b).map(w => s" d$w").getOrElse("")
      }.mkString("\n")
    val tmp = manifestsDir(storeDir).resolve(s".$version.tmp." +
      (java.util.concurrent.ThreadLocalRandom.current().nextLong()
        & Long.MaxValue))
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestsDir(storeDir).resolve(version.toString),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** A writer-declared key may be COMPOUND: a comma-joined column list
    * (`"sensor_id,mac"` — VERDICT r15 #3). ONE definition of the split
    * everywhere a key name is consumed; a plain name splits to itself,
    * so every single-key path is byte-identical to before. */
  def keyCols(key: String): Seq[String] =
    key.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The store's key FIELDS at a read point: the registry's recorded
    * (possibly compound) key resolved against the schema; pre-registry
    * stores keep the first-field convention. A recorded component
    * missing from the schema falls back to first-field — the
    * pre-registry semantics, never a partial tuple. */
  private def storedKeyFields(storeDir: String,
      target: StructType): Seq[StructField] = {
    val names = storedKeyName(storeDir).map(keyCols)
      .getOrElse(Seq(target.fields.head.name))
    val found = names.flatMap(n => target.fields.find(_.name == n))
    if (found.size == names.size) found else Seq(target.fields.head)
  }

  /** The writers' routing hash — over the FULL key tuple for compound
    * keys (Catalyst's XxHash64 left-folds its children, exactly what
    * the literal twins replay). */
  private def bucketOf(key: String, nBuckets: Int) =
    pmod(xxhash64(keyCols(key).map(col): _*), lit(nBuckets.toLong))

  /** The commit's touched-bucket set in ONE single-stage job: the
    * bucket-id domain is ≤ nBuckets, so each task folds its partition
    * into a tiny Long set and the driver unions them — no exchange, no
    * AQE stage round (r17; the previous `.distinct().collect()` paid
    * an exchange plus a stage-materialization round per micro-batch
    * for a ≤nBuckets-row answer). Strictly better at any scale: the
    * per-task result is bounded by the bucket count, not the data.
    * This is also the action that materializes the commit-scoped
    * persist, exactly as the distinct was. */
  private def collectTouched(batch: DataFrame, key: String,
      nBuckets: Int): Seq[Long] =
    batch.select(bucketOf(key, nBuckets).as("_bucket")).rdd
      .mapPartitions { it =>
        val s = scala.collection.mutable.LongMap.empty[Unit]
        it.foreach(r => s(r.getLong(0)) = ())
        Iterator(s.keys.toArray)
      }.collect().flatten.distinct.sorted.toSeq

  /** The store's bucket count as the PUBLISHED HEAD records it: the
    * head manifest's layout signature when present (the count and the
    * data commit atomically — a version is only live once `_latest`
    * reaches it), falling back to the `_nbuckets` registry file for
    * pre-signature stores. Readers prefer the published value but
    * never write; [[requireNBuckets]] (a writer path) HEALS a
    * disagreeing registry — the residual the old protocol documented,
    * where a usurped rebucket could leave `_nbuckets` recorded against
    * a layout that never published. */
  private def effectiveNBuckets(storeDir: String): Option[Long] = {
    val published = for {
      h <- readHead(storeDir)
      c <- manifestNBuckets(storeDir, h)
    } yield c
    published.orElse(readNBucketsRegistry(storeDir))
  }

  /** `_nbuckets` through the created-but-empty-tolerant registry read
    * ([[readRegistry]]); unparsable non-empty content stays the loud
    * corruption error. */
  private def readNBucketsRegistry(storeDir: String): Option[Long] =
    readRegistry(nBucketsPath(storeDir)).map(b => b.toLongOption.getOrElse(
      throw new IllegalStateException(
        s"MergeSink: registry file ${nBucketsPath(storeDir)} is corrupted " +
          s"(content: '$b') — restore it from the head manifest's layout " +
          "signature before using this store")))

  /** The store's recorded bucket count. Persisted on the first batch;
    * every later writer must agree (a mismatched writer would route
    * keys to the wrong buckets and silently corrupt merges — refuse
    * loudly instead). [[rebucketStore]] is the one sanctioned way to
    * change it. The PUBLISHED head manifest's layout signature
    * outranks the `_nbuckets` registry file (see
    * [[effectiveNBuckets]]); a stale registry heals here. */
  private def requireNBuckets(storeDir: String, nBuckets: Int): Unit = {
    def refuse(stored: Long): Nothing =
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir is bucketed into $stored buckets but this " +
          s"writer was configured with nBuckets=$nBuckets — a mismatched " +
          "writer would route keys to the wrong buckets; pass the stored " +
          "count, or migrate with rebucketStore first")
    val published = for {
      h <- readHead(storeDir); c <- manifestNBuckets(storeDir, h)
    } yield c
    published.foreach { p =>
      // heal the registry cache toward the published value — an empty
      // or corrupt cache heals too (the published head is authoritative)
      val cached =
        try readNBucketsRegistry(storeDir)
        catch { case _: IllegalStateException => None }
      if (!cached.contains(p)) writeLongAtomic(nBucketsPath(storeDir), p)
      if (p != nBuckets) refuse(p)
    }
    if (published.isEmpty) readNBucketsRegistry(storeDir) match {
      case Some(stored) if stored != nBuckets => refuse(stored)
      case Some(_) => ()
      case None =>
        // FIRST-WRITER-WINS CAS: two differently-configured first
        // writers racing here must not leave the LOSER's count
        // recorded (a replacing write lets writer B overwrite A's
        // registration, then pass this gate and route against A's
        // layout with B's modulus — silent key duplication). Exclusive
        // create decides one winner; the loser re-reads and must match.
        try Files.createExclusive(nBucketsPath(storeDir),
          nBuckets.toLong.toString.getBytes(StandardCharsets.UTF_8))
        catch { case _: FileAlreadyExistsException => () }
        readNBucketsRegistry(storeDir)
          .filter(_ != nBuckets.toLong).foreach(refuse)
    }
  }

  private def keyNamePath(storeDir: String) = Paths.get(storeDir, "_key")

  /** Read a CAS-created registry file (`_key` / `_nbuckets`) tolerant
    * of the created-but-empty window: HDFS exposes the file at create
    * and the content at close, so a reader racing the winning
    * creator's close can observe EMPTY content — which must read as
    * "in flight, re-poll", never as a recorded empty value (a
    * `_key`='' would refuse every writer forever) and never as
    * corruption while the window is plausibly open. Still-empty past
    * the retries IS damage and fails loudly. None = file absent. */
  private def readRegistry(p: Path): Option[String] = {
    var attempt = 0
    while (true) {
      val body =
        try {
          if (!Files.exists(p)) return None
          Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
        } catch { case _: java.nio.file.NoSuchFileException => return None }
      body match {
        case Some(b) if b.nonEmpty => return Some(b)
        case _ if attempt < 5 => attempt += 1; Thread.sleep(20L)
        case _ => throw new IllegalStateException(
          s"MergeSink: registry file $p is EMPTY — its creator crashed " +
            "between create and close, or the file was truncated; verify " +
            "no writer is live, delete the file, and let the next writer " +
            "re-register it")
      }
    }
    None // unreachable
  }

  /** The store's recorded KEY COLUMN NAME. Persisted on the first
    * batch, like `_nbuckets`: every consumer that routes or prunes by
    * key (the scan builder's bucket pruning, the DML rewrites) reads
    * THIS name instead of assuming "the schema's first field" — an
    * implicit convention that was true by construction but enforced
    * three files away; recording it makes a future schema reordering
    * unable to silently mis-prune. A writer declaring a different key
    * is refused loudly (it would route every row to the wrong bucket).
    * Stores created before this registry entry fall back to the
    * first-field convention (their schemas do lead with the key). */
  def storedKeyName(storeDir: String): Option[String] =
    readRegistry(keyNamePath(storeDir))

  private def requireKeyName(storeDir: String, key: String): Unit = {
    def refuse(stored: String): Nothing =
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir is keyed by column '$stored' but this " +
          s"writer declared key '$key' — a mismatched writer would " +
          "route every row to the wrong bucket; pass the recorded key")
    storedKeyName(storeDir) match {
      case Some(stored) if stored != key => refuse(stored)
      case Some(_) => ()
      case None =>
        // first-writer-wins CAS, same argument as requireNBuckets
        try Files.createExclusive(keyNamePath(storeDir),
          key.getBytes(StandardCharsets.UTF_8))
        catch { case _: FileAlreadyExistsException => () }
        storedKeyName(storeDir).filter(_ != key).foreach(refuse)
    }
  }

  /** The store's current contents under the bucketed protocol. Buckets
    * are grouped by owning version, so the read costs one pruned scan
    * per LIVE version (old versions age out as their buckets move).
    * Older versions NULL-fill columns added after they were written;
    * the internal `_bucket` partition column is dropped. An existing
    * store whose every key has been deleted reads as an EMPTY frame
    * typed by its recorded schema, not an error. */
  def currentBucketedSnapshot(spark: SparkSession,
      storeDir: String): Option[DataFrame] = {
    readHead(storeDir).map { latest =>
      val manifest = readManifest(storeDir, latest)
      val target = readSchema(storeDir, latest).getOrElse {
        // pre-schema-registry store: recover the shape from a live dir
        require(manifest.nonEmpty,
          s"MergeSink: $storeDir has no recorded schema and no live bucket " +
            "— cannot type an empty snapshot")
        StructType(spark.read.parquet(s"$storeDir/v${manifest.values.max}")
          .schema.fields.filterNot(_.name == "_bucket"))
      }
      snapshotFromManifest(spark, storeDir, manifest, target)
    }
  }

  /** THE store scan: `buckets` of version dir `v`, read from files
    * listed on the driver ([[listBucketFiles]], through the store I/O
    * layer) and handed to Spark as a fixed [[BucketFileIndex]] with
    * `_bucket` as the partition column. Every read of a version dir —
    * snapshot reads, a commit's base read, compaction, rewrites — is
    * built here. `spark.read.parquet(<v dir>)` would list all of the
    * dir's bucket dirs while planning, and above 32 paths Spark runs
    * that listing as a job ("Listing leaf files and directories for 64
    * paths", 150–300 ms each on a 64-bucket store); handing Spark an
    * explicit file list instead runs a listing job over the files.
    * Fails loudly when the dir is gone (reclaimed by vacuum). */
  private def scanBuckets(spark: SparkSession, storeDir: String, v: Long,
      buckets: Seq[Long]): DataFrame = {
    val dataDir = requireDataDir(storeDir, v)
    scanFiles(spark, storeDir, v, dataDir, listBucketFiles(dataDir, buckets))
  }

  private def requireDataDir(storeDir: String, v: Long): Path =
    resolveDataDir(storeDir, v).getOrElse(throw new IllegalStateException(
      s"MergeSink: data dir v$v of $storeDir is gone (reclaimed by vacuum)"))

  /** [[scanBuckets]] over an already-listed (possibly file-pruned) set.
    * Typed by the RECORDED schema when the registry has it: spares a
    * footer-inference pass per scan and — decisive after a full-bucket
    * erasure — types a dir whose every part file was erased away. Every
    * column reads nullable, as Spark's file sources read: a value a file
    * lacks is NULL. Files speak PHYSICAL names (column mapping);
    * [[alignTo]] translates. */
  private def scanFiles(spark: SparkSession, storeDir: String, v: Long,
      dataDir: Path, files: Seq[(Long, Seq[StoreFileStatus])]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dataDir.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val index = BucketFileIndex(fs.makeQualified(root), files.map {
      case (b, fl) => b -> fl.map(f => new org.apache.hadoop.fs.FileStatus(
        f.length, false, 0, 0L, f.modificationTime,
        fs.makeQualified(new org.apache.hadoop.fs.Path(f.path.toString))))
    })
    val format = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat()
    val dataSchema = resolveSchema(storeDir, v).map(physicalize).getOrElse(
      // pre-registry store: infer from the files' footers
      format.inferSchema(spark, Map.empty, index.buckets.flatMap(_._2))
        .getOrElse(StructType(Nil)))
    spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
        index.partitionSchema, org.apache.spark.sql.graft.Bridge.asNullable(dataSchema),
        None, format, Map.empty)(spark))
  }

  /** The manifest fold both snapshot readers share: buckets grouped by
    * owning version → one partition-pruned scan per referenced dir.
    * With `filters` given (the SQL front door's pushed predicates),
    * each dir's scan is additionally FILE-PRUNED through its
    * `_stats` sidecar ([[FileStats]]) — files whose recorded ranges
    * provably exclude the predicates never reach the reader, so not
    * even their footers are fetched. */
  private def snapshotFromManifest(spark: SparkSession, storeDir: String,
      manifest: Map[Long, Long], target: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
      dv: Map[Long, Long] = Map.empty): DataFrame = {
    // buckets group by (owner, dv): one partition-pruned scan per
    // referenced dir per DV generation, each anti-joined against its
    // retracted keys before projecting to the read point's schema
    val byGroup = manifest.groupBy { case (b, o) => (o, dv.get(b)) }
    // pushed predicates name LOGICAL columns; sidecars record PHYSICAL
    // file columns — translate through the read point's mapping
    val logicalToPhysical = renameMap(target)
    lazy val keyFields = storedKeyFields(storeDir, target)
    lazy val physKeys = keyFields.map(physicalName)
    byGroup.toSeq.sortBy { case ((v, w), _) => (v, w.getOrElse(-1L)) }
      .flatMap { case ((v, dvv), entries) =>
        val buckets = entries.keys.toSeq
        versionDirScan(spark, storeDir, v, buckets, filters, logicalToPhysical)
          .map { df0 =>
            val df = dvv.fold(df0)(w => applyDv(df0,
              dvKeysFrame(spark, storeDir, buckets.map(_ -> w).toMap,
                keyFields), physKeys))
            alignTo(df, target)
          }
      }.foldLeft(spark.createDataFrame(
        new java.util.ArrayList[Row](), target))(_ unionByName _)
  }

  /** One referenced dir's scan: the selected buckets' files and — when
    * predicates and a `_stats` sidecar exist — only the files whose
    * recorded ranges may match (a file the sidecar does not know is
    * always scanned: erasure rewrites bucket dirs in place with new
    * names). The kept files go straight into [[scanFiles]]. None =
    * nothing left to read (no file, or every file provably
    * predicate-free): the dir contributes nothing. */
  private def versionDirScan(spark: SparkSession, storeDir: String,
      v: Long, buckets: Seq[Long],
      filters: Seq[org.apache.spark.sql.sources.Filter],
      logicalToPhysical: Map[String, String] = Map.empty): Option[DataFrame] = {
    val dataDir = requireDataDir(storeDir, v)
    val listed = listBucketFiles(dataDir, buckets)
    // skipping is BEST-EFFORT: an unreadable sidecar skips nothing
    val stats =
      if (filters.isEmpty) None
      else try resolveFileStats(storeDir, v)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => None }
    val kept = stats.fold(listed)(st => listed.map { case (b, files) =>
      b -> files.filterNot(f =>
        st.get(s"_bucket=$b/${f.path.getFileName}").exists(e =>
          filters.exists(FileStats.canSkip(e, _, logicalToPhysical))))
    })
    if (kept.forall(_._2.isEmpty)) None
    else Some(scanFiles(spark, storeDir, v, dataDir, kept))
  }

  /** TIME TRAVEL — the store AS OF `version` (a table format's
    * `VERSION AS OF`): every commit retains its manifest and schema, so
    * any un-vacuumed history point reads back exactly as it was —
    * including its THEN-current schema (columns added later don't
    * exist at the old version, by design; evolution is part of the
    * history). Retention is bounded by [[vacuumBucketedStore]]: a
    * pruned read point (its manifest dropped with its dir) or a
    * surviving manifest referencing a vacuumed dir both fail LOUDLY
    * naming what aged out, never silently return a partial store. */
  def bucketedSnapshotAt(spark: SparkSession, storeDir: String,
      version: Long): DataFrame =
    snapshotPruned(spark, storeDir, Some(version), None)

  /** [[bucketedSnapshotAt]] with FILE-SKIPPING evidence — the Scala-API
    * twin of the SQL front door's pushed-filter pruning (the r15
    * asymmetry: `format("graft")` reads pruned, the Scala snapshot
    * readers did not). `filters` are conjunctive V1 predicates used
    * ONLY to skip files whose `_stats` ranges provably exclude them —
    * the caller still applies its full predicate on the returned frame
    * (pruning shrinks the scan, it never stands in for a filter). */
  def bucketedSnapshotAt(spark: SparkSession, storeDir: String,
      version: Long,
      filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame =
    snapshotPruned(spark, storeDir, Some(version), None, filters)

  /** The HEAD snapshot restricted to `buckets` — the scan builder's
    * bucket-pruned read, exposed for the DML rewrites (which live
    * outside this package tree): a MERGE/UPDATE whose key evidence
    * names the touched buckets reads O(those buckets), not the whole
    * store. Pruning only SHRINKS the scan; the caller still applies
    * its full predicate. */
  def prunedSnapshot(spark: SparkSession, storeDir: String,
      buckets: Set[Long]): DataFrame =
    snapshotPruned(spark, storeDir, None, Some(buckets))

  /** [[prunedSnapshot]] with FILE-SKIPPING evidence: translated V1
    * predicates prune individual files through the `_stats` sidecars
    * before any footer read — so a DML victim scan (DELETE/UPDATE/
    * MERGE) prunes files exactly like a SELECT through the SQL front
    * door does. Conjunctive; pruning only ever SHRINKS the scan. */
  def prunedSnapshot(spark: SparkSession, storeDir: String,
      buckets: Set[Long],
      filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame =
    snapshotPruned(spark, storeDir, None, Some(buckets), filters)

  // ------------------------------------------------------------------
  // SQL front door hooks — the store behind spark.read.format("graft")
  // ------------------------------------------------------------------
  // [[graft.sources.GraftDataSource]] exposes the store as a DSv2
  // table; these package-private entry points are its scan body and
  // metadata reads, kept here so the connector never touches store
  // internals directly.

  /** Head version, if any commit exists. */
  private[graft] def headVersion(storeDir: String): Option[Long] =
    readHead(storeDir)

  /** The store's recorded bucket count (None = plain-protocol store),
    * preferring the PUBLISHED head manifest's layout signature over
    * the `_nbuckets` registry cache (see [[effectiveNBuckets]]).
    * Public: the DML extension rules (org.apache.spark.sql.graft —
    * outside this package tree) commit through it. */
  def storedNBuckets(storeDir: String): Option[Long] =
    effectiveNBuckets(storeDir)

  /** The snapshot schema at `version` (head when None) — what the
    * table reports to the catalog. Key column = first field. */
  def snapshotSchemaAt(storeDir: String,
      version: Option[Long]): StructType = {
    val latest = headVersion(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir has no committed version to read"))
    val v = version.getOrElse(latest)
    require(v >= 0 && v <= latest,
      s"version $v outside this store's history [0, $latest]")
    resolveSchema(storeDir, v).getOrElse(throw new IllegalStateException(
      s"MergeSink: no recorded schema for v$v of $storeDir — only " +
        "schema-registry stores are readable through the SQL front door"))
  }

  /** The change feed's row shape for the store's CURRENT schema:
    * (key, change, <c>_old, <c>_new per value column) — must stay in
    * lockstep with [[storeChangesBetween]]'s select. */
  private[graft] def changeFeedSchemaAt(storeDir: String): StructType = {
    val sc = snapshotSchemaAt(storeDir, None)
    val keyFields = storedKeyFields(storeDir, sc)
    val keyNames = keyFields.map(_.name).toSet
    StructType(keyFields.map(_.copy(nullable = true)) ++
      (org.apache.spark.sql.types.StructField("change",
        org.apache.spark.sql.types.StringType, nullable = false) +:
      sc.fields.filterNot(f => keyNames(f.name)).flatMap(f => Seq(
        org.apache.spark.sql.types.StructField(
          s"${f.name}_old", f.dataType, nullable = true),
        org.apache.spark.sql.types.StructField(
          s"${f.name}_new", f.dataType, nullable = true)))))
  }

  /** Driver-side twin of [[bucketOf]] for ONE key literal: the bucket a
    * pushed key-equality filter prunes to. Evaluates the same
    * `pmod(xxhash64(key), nBuckets)` the writers route by (Catalyst's
    * XxHash64 with its default seed), so pruning can never disagree
    * with placement. `value` is an external-type literal from a pushed
    * [[org.apache.spark.sql.sources.Filter]]. */
  private[graft] def bucketForKeyLiteral(value: Any,
      keyType: org.apache.spark.sql.types.DataType, nBuckets: Long): Long =
    bucketForKeyTuple(Seq(value -> keyType), nBuckets)

  /** [[bucketForKeyLiteral]] over a FULL compound-key tuple (one
    * external-typed literal per component, in key order) — XxHash64
    * left-folds children exactly like the writers' `xxhash64(c1, c2)`. */
  private[graft] def bucketForKeyTuple(
      values: Seq[(Any, org.apache.spark.sql.types.DataType)],
      nBuckets: Long): Long =
    bucketOfHash(new org.apache.spark.sql.catalyst.expressions.XxHash64(
      values.map { case (v, dt) =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt) })
      .eval(null).asInstanceOf[Long], nBuckets)

  /** [[bucketForKeyLiteral]]'s INTERNAL-typed twin — for values
    * obtained by eval'ing foldable catalyst expressions (the DML
    * rewrites' literal walk): `Literal(value, dt)` takes the internal
    * form as-is where `Literal.create` converts from external. One
    * shared hash+mod so routing and pruning can never diverge. */
  def bucketForInternalLiteral(value: Any,
      dt: org.apache.spark.sql.types.DataType, nBuckets: Long): Long =
    bucketForInternalTuple(Seq(value -> dt), nBuckets)

  /** [[bucketForInternalLiteral]] over a FULL compound-key tuple. */
  def bucketForInternalTuple(
      values: Seq[(Any, org.apache.spark.sql.types.DataType)],
      nBuckets: Long): Long =
    bucketOfHash(new org.apache.spark.sql.catalyst.expressions.XxHash64(
      values.map { case (v, dt) =>
        org.apache.spark.sql.catalyst.expressions.Literal(v, dt) })
      .eval(null).asInstanceOf[Long], nBuckets)

  /** The writers' modular routing step, shared by both literal twins
    * (Catalyst's XxHash64 with its default seed = [[bucketOf]]). */
  private def bucketOfHash(h: Long, nBuckets: Long): Long =
    ((h % nBuckets) + nBuckets) % nBuckets

  /** TIMESTAMP AS OF resolution: the newest version committed at or
    * before `millis` — commit time = the manifest file's mtime, the
    * same clock [[vacuumBucketedStore]]'s retainMillis window reads.
    * Bounded by retention like every historical read: a timestamp
    * before the oldest RETAINED commit refuses loudly. */
  def versionAtTimestamp(storeDir: String, millis: Long): Long = {
    val latest = headVersion(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir has no committed version to time-travel to"))
    val md = manifestsDir(storeDir)
    if (!Files.exists(md))
      throw new IllegalStateException(
        s"MergeSink: $storeDir has no manifests — timestamp time travel " +
          "needs the bucketed protocol")
    val s0 = Files.list(md)
    val stamped = try s0.iterator().asScala.map(_.getFileName.toString)
      .flatMap(_.toLongOption).filter(_ <= latest).toList.sorted
      .map(v => v -> Files.getLastModifiedTime(md.resolve(v.toString)).toMillis)
    finally s0.close()
    val at = stamped.filter(_._2 <= millis)
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"MergeSink: no retained commit of $storeDir at or before " +
          s"timestamp $millis (oldest retained: " +
          s"${stamped.headOption.map(_._2).getOrElse(-1L)}) — " +
          "timestamp time travel is bounded by vacuum retention")
    at.map(_._1).max
  }

  /** The on-disk bytes a [[snapshotPruned]] scan will read — the SQL
    * front door's COST ESTIMATE (BaseRelation.sizeInBytes), so a small
    * store (or a bucket-pruned point read) sits UNDER the broadcast
    * threshold and joins hash-broadcast instead of shuffling both
    * sides. Driver-side file metadata, O(scanned buckets) listings —
    * the same planning-time cost class as Spark's own file index on a
    * parquet relation. None when the estimate cannot be computed (the
    * caller keeps the conservative default — never a too-small guess
    * from a half-readable store). */
  private[graft] def scanBytes(storeDir: String, version: Option[Long],
      buckets: Option[Set[Long]]): Option[Long] =
    try {
      val latest = headVersion(storeDir).getOrElse(return None)
      val v = version.getOrElse(latest)
      if (Files.exists(manifestsDir(storeDir).resolve(v.toString))) {
        val manifest0 = readManifest(storeDir, v)
        val manifest = buckets match {
          case Some(bs) => manifest0.view.filterKeys(bs).toMap
          case None => manifest0
        }
        Some(manifest.toSeq.map { case (b, owner) =>
          resolveDataDir(storeDir, owner)
            .map(_.resolve(s"_bucket=$b")).filter(Files.exists(_))
            .map(parquetBytesIn).getOrElse(0L)
        }.sum)
      } else resolveDataDir(storeDir, v).map(parquetBytesIn)
    } catch { case _: Exception => None }

  private def parquetBytesIn(dir: Path): Long = {
    val s0 = Files.list(dir)
    try s0.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size(_)).sum
    finally s0.close()
  }

  /** Planner row-count estimate from the `_stats` sidecars: the summed
    * recorded row counts of exactly the LIVE files this scan resolves
    * (version- and bucket-pruning-aware) — the CBO companion of
    * [[scanBytes]]. None unless EVERY live file has a recorded count
    * (a partial sum would understate and mis-broadcast); a count can
    * only overstate after in-place erasure (deletes rows, dir names
    * refresh the sidecar), which is the safe direction for a planner
    * estimate. */
  private[graft] def scanRows(storeDir: String, version: Option[Long],
      buckets: Option[Set[Long]]): Option[Long] =
    scanEstimate(storeDir, version, buckets)._2

  /** (bytes, rows) in ONE metadata pass — every live bucket dir is
    * listed exactly once per planning, not once per statistic (at
    * thousands of buckets that is the difference between one and two
    * full rounds of driver-side list calls per query plan). Bytes
    * degrade independently of rows: an unrecorded file loses the row
    * count (None) but its on-disk size still sums. */
  private[graft] def scanEstimate(storeDir: String, version: Option[Long],
      buckets: Option[Set[Long]]): (Option[Long], Option[Long]) =
    try {
      val latest = headVersion(storeDir).getOrElse(return (None, None))
      val v = version.getOrElse(latest)
      if (!Files.exists(manifestsDir(storeDir).resolve(v.toString)))
        return (resolveDataDir(storeDir, v).map(parquetBytesIn), None)
      val manifest0 = readManifest(storeDir, v)
      val manifest = buckets match {
        case Some(bs) => manifest0.view.filterKeys(bs).toMap
        case None => manifest0
      }
      var bytes = 0L
      var rows = 0L
      var rowsKnown = true
      manifest.groupBy(_._2).foreach { case (owner, entries) =>
        val stats =
          if (rowsKnown) resolveFileStats(storeDir, owner) else None
        if (stats.isEmpty) rowsKnown = false
        resolveDataDir(storeDir, owner) match {
          case None => rowsKnown = false // bytes: dir gone counts zero
          case Some(dataDir) =>
            listBucketFiles(dataDir, entries.keys.toSeq).foreach {
              case (b, files) => files.foreach { f =>
                bytes += f.length
                if (rowsKnown)
                  stats.flatMap(_.get(s"_bucket=$b/${f.path.getFileName}")) match {
                    case Some(e) => rows += e.rows
                    case None => rowsKnown = false // unknown file: no partial count
                  }
              }
            }
        }
      }
      (Some(bytes), if (rowsKnown) Some(rows) else None)
    } catch { case _: Exception => (None, None) }

  /** The selected buckets' parquet files, one listing per bucket dir —
    * listings go PARALLEL past a threshold: they are independent
    * metadata calls at ~tens of ms each on an object store, and a
    * thousand-bucket scan would otherwise serialize minutes of pure
    * list latency on the driver. Missing dirs yield empty lists; names
    * Spark treats as hidden (`_…`, `.…`) are not data files. */
  private def listBucketFiles(dataDir: Path,
      buckets: Seq[Long]): Seq[(Long, Seq[StoreFileStatus])] = {
    def one(b: Long): (Long, Seq[StoreFileStatus]) = {
      val bd = dataDir.resolve(s"_bucket=$b")
      val files =
        try Files.listFiles(bd)
        catch { case _: java.nio.file.NoSuchFileException => Nil }
      (b, files.filter { f =>
        val n = f.path.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      })
    }
    val sorted = buckets.sorted
    if (sorted.size <= 32) sorted.map(one)
    else sorted.map(b => listPool.submit(
      new java.util.concurrent.Callable[(Long, Seq[StoreFileStatus])] {
        def call(): (Long, Seq[StoreFileStatus]) = one(b)
      })).map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
  }

  /** [[listBucketFiles]]' workers: one pool for the JVM, shared by every
    * concurrent scan (listings never submit nested work, so sharing
    * cannot deadlock). Bounded at 16 daemon threads that exit when
    * idle. */
  private lazy val listPool = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val pool = new java.util.concurrent.ThreadPoolExecutor(16, 16,
      30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"mergesink-list-${n.incrementAndGet()}")
        t.setDaemon(true); t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** One bucket's recorded row count: the sidecar sum over the files
    * ACTUALLY on disk. None when any listed file lacks a recorded
    * count (a partial sum would understate). */
  private def bucketRowCount(stats: Map[String, FileStats.FileEntry],
      dataDir: Path, b: Long): Option[Long] = {
    val bd = dataDir.resolve(s"_bucket=$b")
    if (!Files.exists(bd)) return Some(0L)
    var sum = 0L
    val s0 = Files.list(bd)
    try s0.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach { f =>
        stats.get(s"_bucket=$b/${f.getFileName}") match {
          case Some(e) => sum += e.rows
          case None => return None // unknown file: refuse a partial count
        }
      }
    finally s0.close()
    Some(sum)
  }

  /** Snapshot read with OPTIONAL version pin and OPTIONAL bucket
    * pruning — the SQL front door's scan body. With `buckets` given,
    * only those buckets' manifest entries are resolved and scanned: a
    * key-equality read costs one partition-pruned dir scan regardless
    * of store size, and (like the change feed) only the SCANNED
    * buckets' dirs must still be materializable. Plain-protocol stores
    * (no manifest — every version dir is the full state) read their
    * version dir directly; bucket pruning needs the bucketed layout. */
  private[graft] def snapshotPruned(spark: SparkSession, storeDir: String,
      version: Option[Long], buckets: Option[Set[Long]],
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil): DataFrame = {
    val latest = headVersion(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir has no committed version to read"))
    val v = version.getOrElse(latest)
    require(v >= 0 && v <= latest,
      s"version $v outside this store's history [0, $latest]")
    if (Files.exists(manifestsDir(storeDir).resolve(v.toString))) {
      val manifest0 = readManifest(storeDir, v)
      val target = readSchema(storeDir, v).getOrElse(
        throw new IllegalStateException(
          s"MergeSink: no recorded schema for v$v of $storeDir"))
      val manifest = buckets match {
        case Some(bs) => manifest0.view.filterKeys(bs).toMap
        case None => manifest0
      }
      manifest.values.toSeq.distinct.sorted.foreach { dv =>
        if (resolveDataDir(storeDir, dv).isEmpty)
          throw new IllegalStateException(
            s"MergeSink: v$v of $storeDir references data dir v$dv, " +
              "which vacuum has reclaimed — this read point is no longer " +
              "materializable")
      }
      val dvm = readManifestDv(storeDir, v).view
        .filterKeys(manifest.keySet).toMap
      dvm.values.toSeq.distinct.sorted.foreach { w =>
        if (resolveDvDir(storeDir, w).isEmpty)
          throw new IllegalStateException(
            s"MergeSink: v$v of $storeDir references deletion-vector dir " +
              s"_dv/$w, which vacuum has reclaimed — this read point is " +
              "no longer materializable")
      }
      snapshotFromManifest(spark, storeDir, manifest, target, filters, dvm)
    } else if (Files.exists(Paths.get(storeDir, s"v$v"))) {
      // plain-protocol store: the version dir IS the full state
      readSchema(storeDir, v) match {
        case Some(sc) => spark.read.schema(sc).parquet(s"$storeDir/v$v")
        case None => spark.read.parquet(s"$storeDir/v$v")
      }
    } else throw new IllegalStateException(
      s"MergeSink: no manifest for v$v of $storeDir — the read " +
        "point was pruned by vacuum (or the store predates the " +
        "bucketed protocol); time travel is bounded by vacuum retention")
  }

  /** CHANGE DATA FEED — the typed row-level changes between two
    * retained read points (a table format's `table_changes(v1, v2)`),
    * computed with MANIFEST PRUNING: version dirs are immutable behind
    * the pointer, so a bucket whose owning version is the SAME in both
    * manifests is bit-identical at both read points and is never read
    * (the one sanctioned in-place rewrite, erasure, rewrites every
    * retained dir at once, so identical owner ⇒ identical content
    * survives it). Cost is O(buckets whose owner changed), never a
    * full-store diff — on a 100 TB store where a day's batches touch a
    * few hot buckets, the feed reads only those.
    *
    * Returns one row per key whose value changed between the two
    * states: (key, change ∈ insert|update|delete, <c>_old, <c>_new per
    * value column of `toVersion`'s schema — `fromVersion` rows
    * NULL-fill columns added between the two, exactly as time travel
    * types them). Keys living in rewritten buckets with UNchanged
    * values are filtered out (a bucket rewrite is not a row change).
    * Both read points must still be materializable (same vacuum bound
    * as [[bucketedSnapshotAt]] — but only the CHANGED buckets' dirs
    * are required, so a diff can outlive a vacuum that a full
    * time-travel read would not). */
  def storeChangesBetween(spark: SparkSession, storeDir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val latest = readHead(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir has no committed version to diff"))
    require(fromVersion >= 0 && fromVersion < toVersion && toVersion <= latest,
      s"need 0 <= fromVersion < toVersion <= $latest " +
        s"(got $fromVersion, $toVersion)")
    Seq(fromVersion, toVersion).foreach { v =>
      if (!Files.exists(manifestsDir(storeDir).resolve(v.toString)))
        throw new IllegalStateException(
          s"MergeSink: no manifest for v$v of $storeDir — the read point " +
            "was pruned by vacuum (or the store predates the bucketed " +
            "protocol); the change feed is bounded by vacuum retention")
    }
    val m1 = readManifest(storeDir, fromVersion)
    val m2 = readManifest(storeDir, toVersion)
    val d1 = readManifestDv(storeDir, fromVersion)
    val d2 = readManifestDv(storeDir, toVersion)
    val target = readSchema(storeDir, toVersion).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: no recorded schema for v$toVersion of $storeDir"))
    // key may be COMPOUND: the diff joins on the full tuple (packed as
    // one struct so null-handling mirrors the single-key shape)
    val keyNames = storedKeyFields(storeDir, target).map(_.name)
    val valueCols = target.fields.map(_.name).filterNot(keyNames.contains).toSeq
    // the prune: identical (owner, dv) ⇒ identical logical content ⇒
    // no possible change (a new deletion vector IS a row change even
    // when the owner dir never moved)
    val changed = (m1.keySet ++ m2.keySet)
      .filter(b => m1.get(b) != m2.get(b) || d1.get(b) != d2.get(b))
    val p1 = m1.filter { case (b, _) => changed(b) }
    val p2 = m2.filter { case (b, _) => changed(b) }
    (p1.values.toSeq ++ p2.values.toSeq).distinct.sorted.foreach { v =>
      if (resolveDataDir(storeDir, v).isEmpty)
        throw new IllegalStateException(
          s"MergeSink: the change feed v$fromVersion→v$toVersion of " +
            s"$storeDir needs data dir v$v, which vacuum has reclaimed")
    }
    val s1 = snapshotFromManifest(spark, storeDir, p1, target,
      dv = d1.view.filterKeys(changed).toMap)
    val s2 = snapshotFromManifest(spark, storeDir, p2, target,
      dv = d2.view.filterKeys(changed).toMap)
    val o = s1.select(
      org.apache.spark.sql.functions.struct(keyNames.map(col): _*).as("_k") +:
      valueCols.map(c => col(c).as(s"_o_$c")): _*)
    val n = s2.select(
      org.apache.spark.sql.functions.struct(keyNames.map(col): _*).as("_k2") +:
      valueCols.map(c => col(c).as(s"_n_$c")): _*)
    val same = valueCols.map(c => col(s"_o_$c") <=> col(s"_n_$c"))
      .reduce(_ && _)
    o.join(n, col("_k") === col("_k2"), "full_outer")
      .withColumn("change",
        when(col("_k").isNull, lit("insert"))
          .when(col("_k2").isNull, lit("delete"))
          .otherwise(lit("update")))
      // a rewritten bucket's untouched keys are not changes
      .filter(col("_k").isNull || col("_k2").isNull || !same)
      .select(keyNames.map(k =>
          coalesce(col(s"_k.$k"), col(s"_k2.$k")).as(k)) ++
        (col("change") +:
        valueCols.flatMap(c => Seq(
          col(s"_o_$c").as(s"${c}_old"), col(s"_n_$c").as(s"${c}_new")))): _*)
  }

  /** RESTORE — roll the store's head back to `version` (a table
    * format's `RESTORE TABLE ... TO VERSION AS OF`): a new maintenance
    * commit whose manifest and schema are COPIES of the restore
    * point's, so no data moves at all — the old version dirs are
    * simply referenced again, and the rolled-back-over history stays
    * readable (the restore is itself a commit; time travel and the
    * change feed see it like any other, so `storeChangesBetween(head,
    * restored)` is exactly the rollback delta). Bounded by vacuum
    * retention like every historical read; refuses a restore point
    * whose manifest or referenced dirs are gone. Returns the new
    * version. */
  def restoreStore(spark: SparkSession, storeDir: String,
      version: Long): Long = {
    val latest = readHead(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir has no committed version to restore"))
    require(version >= 0 && version <= latest,
      s"restore point $version outside this store's history [0, $latest]")
    if (!Files.exists(manifestsDir(storeDir).resolve(version.toString)))
      throw new IllegalStateException(
        s"MergeSink: no manifest for v$version of $storeDir — the restore " +
          "point was pruned by vacuum")
    val manifest = readManifest(storeDir, version)
    val target = readSchema(storeDir, version).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: no recorded schema for v$version of $storeDir"))
    manifest.values.toSeq.distinct.sorted.foreach { v =>
      if (resolveDataDir(storeDir, v).isEmpty)
        throw new IllegalStateException(
          s"MergeSink: restoring v$version of $storeDir needs data dir " +
            s"v$v, which vacuum has reclaimed")
    }
    val newVersion = latest + 1
    val claim = claimCommit(storeDir, newVersion, latest, -1L) // maintenance commit
    // CHECK-constraint state travels with the restore (versioned-
    // history stores only): enforcement resets to exactly the gates in
    // force at the restore point, so a rolled-back-over ADD/DROP
    // CONSTRAINT rolls its enforcement back too. Stores whose gates all
    // predate the versioned history keep the singleton untouched.
    val priorConstraints = readConstraints(storeDir)
    val restoredConstraints = constraintsAt(storeDir, version)
    var gateMoved = false
    try {
      // the restore point's LAYOUT travels with its manifest: restoring
      // across a rebucket reverts the bucket count too (the old dirs are
      // old-modulus dirs — publishing them under the new count would
      // mis-route every later writer and mis-prune every key lookup)
      val restoredLayout = manifestNBuckets(storeDir, version)
        .orElse(effectiveNBuckets(storeDir))
      writeManifest(storeDir, newVersion, manifest, restoredLayout,
        readManifestDv(storeDir, version))
      writeSchema(storeDir, newVersion, target)
      restoredConstraints.filter(_ != priorConstraints).foreach { cs =>
        writeConstraints(storeDir, cs)
        gateMoved = true
        writeConstraintsAt(storeDir, newVersion, cs, priorConstraints)
      }
      verifyClaim(claim)
      restoredLayout.foreach { c =>
        // heal through the empty-tolerant registry read: a
        // created-but-still-closing `_nbuckets` (another writer's
        // in-flight writeLongAtomic on a non-atomic backend) reads as
        // None — heal proceeds — rather than tripping readLong's
        // "pointer file is corrupted" mid-commit and wedging the slot
        // for a full lease
        val cached =
          try readNBucketsRegistry(storeDir)
          catch { case _: IllegalStateException => None }
        if (!cached.contains(c))
          writeLongAtomic(nBucketsPath(storeDir), c) // heal the registry cache
      }
      writeLongAtomic(latestPath(storeDir), newVersion)
    } catch {
      case e: Throwable =>
        if (gateMoved) { // unpublished gate reset: roll enforcement back
          try writeConstraints(storeDir, priorConstraints)
          catch { case _: java.io.IOException => () }
          try Files.deleteIfExists(
            constraintsVersionsDir(storeDir).resolve(newVersion.toString))
          catch { case _: java.io.IOException => () }
        }
        releaseOwnClaim(claim); throw e
    }
    pruneCommitMarkers(storeDir)
    newVersion
  }

  /** The store's current commit counter — the newest version readers
    * resolve and the upper bound of [[bucketedSnapshotAt]]'s history.
    * None before the first commit. */
  def latestVersion(storeDir: String): Option[Long] =
    readHead(storeDir)

  /** SHALLOW CLONE — zero-copy branch of a bucketed store (a table
    * format's `CREATE TABLE ... SHALLOW CLONE`): `dstDir` starts life
    * as a new store whose head equals `srcDir`'s CURRENT snapshot,
    * referencing the source's immutable version dirs by number through
    * an `_origin` link — no data moves at all. Branch and source then
    * evolve independently: the branch's post-clone commits write LOCAL
    * dirs, which SHADOW same-numbered origin dirs in resolution order,
    * and the source's later commits are invisible to the branch (its
    * manifests never name them). Branch history starts at the clone
    * point — earlier read points were deliberately not copied.
    *
    * The registration under the source's `_clones/` pins every dir the
    * clone point references against the SOURCE's vacuum until
    * [[releaseClone]] (the cross-store analogue of the liveness rule);
    * the branch's own vacuum reclaims origin-referencing read points
    * once outside retention, so compact-then-vacuum fully LOCALIZES a
    * branch — which [[eraseKeys]] requires before erasing on one.
    * Returns the branch head version (= the source's clone point). */
  def cloneStore(spark: SparkSession, srcDir: String, dstDir: String): Long = {
    val latest = readHead(srcDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $srcDir has no committed version to clone"))
    if (!Files.exists(manifestsDir(srcDir).resolve(latest.toString)))
      throw new IllegalStateException(
        s"MergeSink: $srcDir@v$latest has no manifest — only bucketed " +
          "stores support shallow clones")
    // A clone of a STILL-ORIGIN-BACKED clone would reference the
    // grandparent's dirs through the chain while registering only with
    // the immediate source — the grandparent's vacuum could then
    // reclaim dirs the grandchild needs. Refuse until the source is
    // localized (compact + vacuum), which both bounds chains to one
    // hop and keeps every pin's reference set self-contained.
    if (Files.exists(originPath(srcDir)) &&
        readManifest(srcDir, latest).values.toSeq.distinct
          .exists(v => !Files.exists(Paths.get(srcDir, s"v$v"))))
      throw new IllegalStateException(
        s"MergeSink: $srcDir is itself a shallow clone still reading " +
          "through its origin — localize it first (compactBucketedStore " +
          "+ vacuumBucketedStore) before cloning it again, so vacuum " +
          "pins stay self-contained")
    val dst = Paths.get(dstDir)
    if (Files.exists(dst)) {
      val s0 = Files.list(dst)
      val nonEmpty = try s0.iterator().hasNext finally s0.close()
      require(!nonEmpty, s"MergeSink: clone target $dstDir is not empty")
    }
    Files.createDirectories(dst)
    // Register the pin with the source BEFORE reading the clone-point
    // manifest, then re-validate `_latest` is still the pinned version
    // (TOCTOU guard). Any vacuum whose scan starts AFTER the pin is
    // durable sees it in cloneKeep; any vacuum whose scan started
    // BEFORE it must have read `_latest` = our clone point (the
    // re-validation proves no newer commit existed yet), so every dir
    // the clone point references was head-live to that vacuum. Either
    // way nothing we reference is reclaimable. On a concurrent commit
    // the pin is released and the caller retries against the new head.
    Files.createDirectories(clonesDir(srcDir))
    writeLongAtomic(clonesDir(srcDir).resolve(cloneId(dstDir)), latest)
    if (!readHead(srcDir).contains(latest)) {
      Files.deleteIfExists(clonesDir(srcDir).resolve(cloneId(dstDir)))
      throw new java.util.ConcurrentModificationException(
        s"MergeSink: $srcDir committed past v$latest while cloneStore was " +
          "pinning the clone point; nothing was cloned — retry to branch " +
          "from the new head")
    }
    val srcAbs = Paths.get(srcDir).toAbsolutePath.normalize.toString
    Files.write(originPath(dstDir), srcAbs.getBytes(StandardCharsets.UTF_8))
    writeManifest(dstDir, latest, readManifest(srcDir, latest),
      manifestNBuckets(srcDir, latest).orElse(readLong(nBucketsPath(srcDir))),
      readManifestDv(srcDir, latest))
    readSchema(srcDir, latest).foreach(writeSchema(dstDir, latest, _))
    readLong(nBucketsPath(srcDir)).foreach(writeLongAtomic(nBucketsPath(dstDir), _))
    // the clone lands in the branch's own history as a maintenance
    // commit, so storeHistory reads sensibly from the first moment
    Files.createDirectories(commitsDir(dstDir))
    val nonce =
      java.util.concurrent.ThreadLocalRandom.current().nextLong() & Long.MaxValue
    Files.write(commitsDir(dstDir).resolve(latest.toString),
      s"${latest - 1} -1 $nonce".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW)
    writeLongAtomic(latestPath(dstDir), latest)
    latest
  }

  /** Deterministic registration id for a clone target (md5 of its
    * absolute path) — re-cloning the same target re-registers instead
    * of leaking a second pin. */
  def cloneId(dstDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(Paths.get(dstDir).toAbsolutePath.normalize.toString
        .getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  /** Release a branch's pin on its source's vacuum — run once the
    * branch is localized (compact + vacuum) or deleted. Returns
    * whether a registration existed. */
  def releaseClone(srcDir: String, dstDir: String): Boolean =
    Files.deleteIfExists(clonesDir(srcDir).resolve(cloneId(dstDir)))

  /** DESCRIBE HISTORY — one row per commit still materializable (its
    * manifest survives vacuum), newest first: the version, its kind
    * (`batch` for streaming commits, `maintenance` for compaction /
    * re-bucketing / erasure, `unknown` once the commit marker has
    * aged past the retention horizon), the streaming batch id where
    * known, live bucket count, and whether this version owns a data
    * dir. The listing a [[bucketedSnapshotAt]] caller consults to
    * pick a read point. Driver-side file metadata — rows are bounded
    * by retained history, never by data. */
  def storeHistory(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    val latest = readHead(storeDir).getOrElse(-1L)
    val bucketed = Files.exists(manifestsDir(storeDir))
    val versions =
      if (bucketed) {
        val s0 = Files.list(manifestsDir(storeDir))
        try s0.iterator().asScala.map(_.getFileName.toString)
          .flatMap(_.toLongOption).toList.sorted
        finally s0.close()
      } else if (latest >= 0) {
        // PLAIN-protocol store (full snapshot per version, no
        // manifests — the IVM view shape): history = the surviving
        // version dirs; bucket count reads 0 (there are no buckets)
        val s0 = Files.list(Paths.get(storeDir))
        try s0.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("v")).flatMap(_.drop(1).toLongOption)
          .toList.sorted
        finally s0.close()
      } else Seq.empty[Long]
    versions.map { v =>
      val marker = commitsDir(storeDir).resolve(v.toString)
      val (kind, batchId) =
        if (!Files.exists(marker)) ("unknown", None)
        else new String(Files.readAllBytes(marker), StandardCharsets.UTF_8)
          .trim.split("\\s+").toSeq match {
            // markers are "parent batchId [nonce]"; a batch field that
            // fails to parse is DAMAGE and must read as unknown, never
            // masquerade as a legitimate batch commit with a null id
            case Seq(_, b, _*) => b.toLongOption match {
              case Some(-1L) => ("maintenance", None)
              case Some(x)   => ("batch", Some(x))
              case None      => ("unknown", None)
            }
            case _ => ("unknown", None)
          }
      (v, kind, batchId,
        if (bucketed) readManifest(storeDir, v).size.toLong else 0L,
        Files.exists(Paths.get(storeDir, s"v$v")), v == latest)
    }.sortBy(-_._1)
      .toDF("version", "kind", "batch_id", "n_live_buckets",
        "has_data_dir", "is_latest")
  }

  /** DESCRIBE DETAIL / maintenance advisor — one row per LIVE bucket
    * of the current snapshot: its owning version, file count and bytes.
    * The report a store operator consults BEFORE paying for
    * maintenance (the q8/q9 discipline, applied to the store itself):
    * many files per bucket → fragmentation, run
    * [[compactBucketedStore]]; bytes skewed across buckets → one hot
    * key range, consider [[rebucketStore]]; owner versions spread wide
    * → read amplification (one pruned scan per distinct owner), also
    * compaction's job. Pair with `vacuumBucketedStore(dryRun = true)`
    * for the reclaimable-bytes side. Driver-side file metadata,
    * O(live buckets), no data read. */
  def storeStats(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    // sidecars memoized PER OWNER VERSION — a naive per-bucket read
    // re-parses the same sidecar once per bucket (O(buckets) metadata
    // reads where O(live versions) suffice)
    val statsByOwner = scala.collection.mutable.Map
      .empty[Long, Option[Map[String, FileStats.FileEntry]]]
    val dirByOwner = scala.collection.mutable.Map.empty[Long, Option[Path]]
    bucketFileStats(storeDir).map { case (b, v, n, bytes) =>
      // recorded rows from the `_stats` sidecar — NULL when any of the
      // bucket's files lacks a count (pre-stats store, failed refresh)
      val rows = try statsByOwner.getOrElseUpdate(v,
          resolveFileStats(storeDir, v)).flatMap(st =>
        dirByOwner.getOrElseUpdate(v, resolveDataDir(storeDir, v))
          .flatMap(d => bucketRowCount(st, d, b)))
      catch { case scala.util.control.NonFatal(_) => None }
      (b, v, n, bytes, rows)
    }.toDF("bucket", "owner_version", "n_files", "bytes", "rows")
  }

  /** Driver-side core of [[storeStats]]: per live bucket, its owner
    * version, parquet part-file count and bytes. Shared with the
    * [[maintainStore]] policy so the advisor and the actor can never
    * disagree on the numbers. */
  private def bucketFileStats(storeDir: String): Seq[(Long, Long, Long, Long)] = {
    val latest = readHead(storeDir).getOrElse(-1L)
    val manifest = if (latest < 0) Map.empty[Long, Long]
      else readManifest(storeDir, latest)
    manifest.toSeq.sorted.map { case (b, v) =>
      val dir = resolveDataDir(storeDir, v)
        .map(_.resolve(s"_bucket=$b")).filter(Files.exists(_))
      val parts = dir.map { d =>
        val s0 = Files.list(d)
        try s0.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => Files.size(p)).toList
        finally s0.close()
      }.getOrElse(Nil)
      (b, v, parts.size.toLong, parts.sum)
    }
  }

  /** Declarative maintenance thresholds for [[maintainStore]] — the
    * policy half of the [[storeStats]] advisor (VERDICT r11 #5). A
    * store violating EITHER bound gets one compaction pass:
    * `maxFilesPerBucket` bounds small-file accumulation inside a
    * bucket (a commit writes one file per bucket, but an erasure
    * rewrite, or a store written before commits were clustered, can
    * leave several);
    * `maxLiveVersions` bounds manifest fan-out (each snapshot read
    * costs one pruned scan PER live version). `retainLast`/
    * `retainMillis` pass through to [[vacuumBucketedStore]]. */
  case class MaintenancePolicy(maxFilesPerBucket: Int = 8,
      maxLiveVersions: Int = 8, retainLast: Int = 0, retainMillis: Long = 0L)

  /** What one [[maintainStore]] pass did (and why). */
  case class MaintenanceReport(triggered: Boolean, reason: String,
      compactedVersion: Option[Long], vacuumed: Seq[Long])

  /** AUTO-OPTIMIZE — one policy-driven maintenance pass: measure
    * ([[bucketFileStats]]), compact if a threshold is violated
    * (key-clustered rewrite when fragmentation is WITHIN one version —
    * plain compaction would no-op there), then — on a TRIGGERED pass
    * only — vacuum past the policy's retention (a within-policy pass
    * touches nothing, so the default zero retention cannot silently
    * destroy history). REFUSES under a live claim: an in-flight
    * writer (lease-fresh commit marker beyond the head — heartbeats
    * keep a long rewrite fresh) owns the store right now, and a
    * maintenance job barging in would only lose the CAS after doing
    * work; stale claims are left to the normal takeover paths. The
    * scheduled-job face of the store: run it from cron against every
    * store dir and fragmentation self-heals, history stays bounded. */
  def maintainStore(spark: SparkSession, storeDir: String,
      policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    require(policy.maxFilesPerBucket >= 1 && policy.maxLiveVersions >= 1,
      "policy thresholds must be >= 1")
    val latest = readHead(storeDir).getOrElse(
      return MaintenanceReport(triggered = false, "empty store", None, Nil))
    val liveClaims = {
      val dir = commitsDir(storeDir)
      if (!Files.exists(dir)) List.empty[Long]
      else {
        val s0 = Files.list(dir)
        try s0.iterator().asScala.map(_.getFileName.toString)
          .flatMap(_.toLongOption).filter(_ > latest).toList.sorted
          .filter { v =>
            val m = dir.resolve(v.toString)
            try Files.exists(m) && (System.currentTimeMillis() -
              Files.getLastModifiedTime(m).toMillis) < TakeoverLeaseMs
            catch { case _: java.nio.file.NoSuchFileException => false }
          }
        finally s0.close()
      }
    }
    if (liveClaims.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"MergeSink: maintainStore refused on $storeDir — live writer " +
          s"claim(s) v${liveClaims.mkString(", v")} in flight (lease-fresh); " +
          "re-run after they publish or expire")
    val stats = bucketFileStats(storeDir)
    val fragmented = stats.filter(_._3 > policy.maxFilesPerBucket)
    val liveVersions = stats.map(_._2).distinct
    val fanout = liveVersions.size > policy.maxLiveVersions
    val triggered = fragmented.nonEmpty || fanout
    val compacted =
      if (!triggered) None
      else if (!fanout) {
        // fragmentation WITHOUT manifest fan-out: one hot bucket's
        // small files are the problem, not the version spread — the
        // BUCKET-SCOPED rewrite pays O(fragmented buckets), not
        // O(store), and key-sorts the rewritten files (row-group
        // prunable) — at fleet scale this is the difference between a
        // minutes-long maintenance pass and a full-store rewrite
        compactBuckets(spark, storeDir, fragmented.map(_._1).toSet)
      } else compactBucketedStore(spark, storeDir)
    // vacuum ONLY on a triggered pass: the default policy retains
    // nothing (retainLast=0/retainMillis=0), so an unconditional vacuum
    // on a within-policy store would reclaim every historical version —
    // destroying time travel and lagging feed subscribers — while the
    // report said "triggered=false". A cron-friendly no-op must be a
    // REAL no-op; reclaim history explicitly via vacuumBucketedStore
    // when that is what you mean.
    val vacuumed =
      if (!triggered) Seq.empty[Long]
      else vacuumBucketedStore(storeDir, policy.retainLast,
        policy.retainMillis)
    val reason =
      if (!triggered) "within policy"
      else if (fragmented.nonEmpty)
        s"bucket(s) ${fragmented.map(_._1).mkString(", ")} over " +
          s"${policy.maxFilesPerBucket} files" +
          (if (fanout) s"; ${liveVersions.size} live versions" else "")
      else s"${liveVersions.size} live versions over ${policy.maxLiveVersions}"
    MaintenanceReport(triggered, reason, compacted, vacuumed)
  }

  /** ERASURE (right-to-be-forgotten) — physically remove every row of
    * `keys` from EVERY version dir still on disk, current, historical
    * and vacuum-dead alike: the one sanctioned breach of version-dir
    * immutability, because retention law outranks time travel. After
    * erasure, [[currentBucketedSnapshot]] AND [[bucketedSnapshotAt]]
    * at every retained read point return the store WITHOUT the erased
    * keys — history keeps its shape (versions, manifests, schemas,
    * commit markers all survive) but not the subject's data.
    *
    * `keys` is one column, named and typed as the store's key column
    * (the erasure request list — model-sized, broadcast into the
    * per-bucket anti joins). Cost: the request's keys hash to a
    * bounded set of buckets; only those buckets' files rewrite, in
    * every version dir that has them — O(affected buckets × retained
    * versions), never a full-store scan when the request is narrow.
    *
    * Protocol: the erasure claims the next version as a maintenance
    * commit (batchId −1), so concurrent writers are excluded by the
    * same CAS as batches and compaction, and the request itself lands
    * in the version history as an auditable commit whose manifest
    * equals its parent's. Per-bucket rewrites are crash-safe by
    * RE-RUN: each follows write-tmp → backup-move → swap-in → drop
    * backup, with `_SUCCESS` marking a complete tmp; a crashed run
    * leaves a state this method detects and rolls forward or back on
    * retry (and the abandoned claim expires via the takeover lease).
    * Filtering is idempotent, so re-running an interrupted erasure
    * always converges. Returns the audit version, or None on a store
    * with no commits.
    *
    * REBUCKET HISTORY: dirs below `_rebucket_floor` (recorded by
    * [[rebucketStore]]) — and any dir holding bucket ids outside the
    * current count, the shrink-migration signature — rewrite EVERY
    * bucket they have, since the current modulus does not locate the
    * subject in an old layout. KNOWN RESIDUAL: a store GROW-rebucketed
    * by a build that predates the floor file has old-layout dirs this
    * scoping cannot detect (all their ids are inside the new count
    * too); run one [[compactBucketedStore]] + [[vacuumBucketedStore]]
    * on such a store first — that rewrites history onto the current
    * layout — or re-run [[rebucketStore]] once, which records the
    * floor. */
  def eraseKeys(spark: SparkSession, storeDir: String,
      keys: DataFrame): Option[Long] = {
    val latest = readHead(storeDir).getOrElse(return None)
    val target = readSchema(storeDir, latest).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: $storeDir has no recorded schema — only schema-registry " +
          "stores support erasure"))
    val keyFields = storedKeyFields(storeDir, target)
    val nB = readLong(nBucketsPath(storeDir)).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: $storeDir is not a bucketed store — erasure needs the " +
          "bucketed layout to locate the subject's files"))
    require(keys.columns.toSeq == keyFields.map(_.name) &&
      keys.schema.fields.map(_.dataType).toSeq == keyFields.map(_.dataType),
      s"MergeSink: erasure keys must be the store's key column(s) " +
        s"${keyFields.map(f => s"${f.name}: ${f.dataType.simpleString}")
          .mkString("(", ", ", ")")} in order (got " +
        s"${keys.schema.fields.map(f => s"${f.name}: ${f.dataType.simpleString}")
          .mkString(", ")})")
    // A CLONE references its SOURCE's dirs by number; erasure must not
    // rewrite another store's files, and silently skipping them would
    // leave the subject's data readable through this store's history.
    // Refuse until the clone is localized: optimizeStore/compact (one
    // local rewrite) + vacuum (drops the origin-referencing manifests).
    if (Files.exists(originPath(storeDir))) {
      val foreign = {
        val s0 = Files.list(manifestsDir(storeDir))
        try s0.iterator().asScala.map(_.getFileName.toString)
          .flatMap(_.toLongOption).toList.sorted
          .flatMap(m => readManifest(storeDir, m).values.toSeq.distinct
            .filterNot(v => Files.exists(Paths.get(storeDir, s"v$v")))
            .map(v => s"v$m -> v$v"))
        finally s0.close()
      }
      if (foreign.nonEmpty)
        throw new IllegalStateException(
          s"MergeSink: $storeDir is a shallow clone whose history still " +
            s"references its origin's data (${foreign.take(4).mkString(", ")}" +
            s"${if (foreign.size > 4) ", …" else ""}) — erasure cannot " +
            "rewrite another store's files; localize first (optimizeStore " +
            "or compactBucketedStore, then vacuumBucketedStore) and retry, " +
            "and erase in the origin store as well if the subject predates " +
            "the clone")
    }
    val version = latest + 1
    val claim = claimCommit(storeDir, version, latest, -1L) // maintenance commit
    // the request's buckets UNDER ONE LAYOUT: bounded by
    // min(|request|, count). Computed lazily per DISTINCT historical
    // count (one model-sized job per rebucket the history retains —
    // a handful over a store's lifetime), so each version dir is
    // pruned with the modulus IT was written under.
    val affectedUnder = scala.collection.mutable.Map.empty[Long, Set[Long]]
    def affectedFor(count: Long): Set[Long] =
      affectedUnder.getOrElseUpdate(count,
        keys.select(bucketOf(keyFields.map(_.name).mkString(","),
            count.toInt).as("_b"))
          .distinct().collect().map(_.getLong(0)).toSet)
    val versionDirs = {
      val s0 = Files.list(Paths.get(storeDir))
      try s0.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v")).flatMap(_.drop(1).toLongOption).toList.sorted
      finally s0.close()
    }
    // LAYOUT-AWARE scope: a version dir written under a DIFFERENT
    // bucket count routes the subject's keys to different bucket ids —
    // pruning those dirs with the CURRENT modulus would leave the
    // subject's rows in history (a silent retention-law violation).
    // Each version's manifest records its layout signature
    // ([[manifestNBuckets]]), so every dir is pruned with ITS OWN
    // modulus — grow- and shrink-rebucketed history alike, with or
    // without the legacy `_rebucket_floor` file. A dir whose layout is
    // UNKNOWN (pre-signature manifest, or manifest gone) rewrites
    // EVERY bucket it has: the only scope that can never leave the
    // subject readable. Scope includes the crash artifacts
    // (`.erase_old_b*`/`.erase_tmp_b*`) of an interrupted previous
    // run, so its recovery steps still execute.
    val rebucketFloor = readLong(Paths.get(storeDir, "_rebucket_floor"))
    def bucketScope(v: Long): Set[Long] = {
      val d = Paths.get(storeDir, s"v$v")
      if (!Files.exists(d)) return Set.empty
      val names = {
        val s0 = Files.list(d)
        try s0.iterator().asScala.map(_.getFileName.toString).toList
        finally s0.close()
      }
      val buckets = names.flatMap(n =>
        if (n.startsWith("_bucket=")) n.stripPrefix("_bucket=").toLongOption
        else None).toSet
      // an interrupted PREVIOUS erasure's artifacts join the scope
      // UNCONDITIONALLY — their recovery steps (restore the backup /
      // roll the tmp forward) must run even when the current request's
      // keys hash elsewhere, or the crashed bucket stays invisible
      val artifacts = names.flatMap(n =>
        if (n.startsWith(".erase_old_b"))
          n.stripPrefix(".erase_old_b").toLongOption
        else if (n.startsWith(".erase_tmp_b"))
          n.stripPrefix(".erase_tmp_b").toLongOption
        else None).toSet
      val scoped = manifestNBuckets(storeDir, v) match {
        case Some(count) => buckets.intersect(affectedFor(count))
        case None =>
          // legacy dir with no recorded layout: the floor file and the
          // out-of-range-id signature catch what they can; a dir that
          // passes both under an UNRECORDED layout still rewrites in
          // full only when the floor proves it pre-dates a rebucket —
          // the residual the layout signature exists to close forward
          if (rebucketFloor.exists(v < _) || buckets.exists(_ >= nB)) buckets
          else buckets.intersect(affectedFor(nB))
      }
      scoped ++ artifacts
    }
    def rmTree(path: Path): Unit =
      if (Files.exists(path)) Files.deleteTree(path)
    val erased = org.apache.spark.sql.functions.broadcast(keys)
    // per-version RECORDED schemas, read once up front: a bucket whose
    // every row was erased by a previous (possibly interrupted) run
    // holds no part files, and schema INFERENCE on it would throw
    // ("Unable to infer schema") instead of converging — the explicit
    // schema types it as an empty frame. Pre-registry versions fall
    // back to inference, guarded by the part-file check below.
    val schemaByVersion: Map[Long, Option[StructType]] =
      versionDirs.map(v => v -> readSchema(storeDir, v)).toMap
    // Every (version, bucket) rewrite owns a disjoint set of dirs and
    // is crash-safe in isolation, so they run CONCURRENTLY from a
    // bounded driver pool: on a cluster that is the standard
    // maintenance-fleet shape (many small independent jobs in flight),
    // and it collapses the per-job scheduling round trips that would
    // otherwise serialize versions × buckets tiny rewrites.
    val tasks = for (v <- versionDirs; b <- bucketScope(v).toSeq.sorted)
      yield (v, b)
    // DELETION-VECTOR dirs hold the subject's KEY VALUES (a MAC/user
    // id IS the PII) — retained `_dv/<w>` bucket files scrub with the
    // same crash-safe rewrite, scoped by the dv commit's own recorded
    // layout. The surviving dv keys still retract only rows erasure
    // leaves behind, so read semantics are unchanged.
    val dvDirsOnDisk: List[Long] =
      if (!Files.exists(dvRootDir(storeDir))) Nil
      else {
        val s0 = Files.list(dvRootDir(storeDir))
        try s0.iterator().asScala.map(_.getFileName.toString)
          .flatMap(_.toLongOption).toList.sorted
        finally s0.close()
      }
    val dvTasks = dvDirsOnDisk.flatMap { w =>
      val d = dvRootDir(storeDir).resolve(w.toString)
      val names = {
        val s0 = Files.list(d)
        try s0.iterator().asScala.map(_.getFileName.toString).toList
        finally s0.close()
      }
      val present = names.flatMap(n =>
        if (n.startsWith("_bucket=")) n.stripPrefix("_bucket=").toLongOption
        else None).toSet
      val artifacts = names.flatMap(n =>
        if (n.startsWith(".erase_old_b")) n.stripPrefix(".erase_old_b").toLongOption
        else if (n.startsWith(".erase_tmp_b")) n.stripPrefix(".erase_tmp_b").toLongOption
        else None).toSet
      val scoped = manifestNBuckets(storeDir, w) match {
        case Some(count) => present.intersect(affectedFor(count))
        case None => present // unknown layout: scrub everything it has
      }
      (scoped ++ artifacts).toSeq.sorted.map(b => (w, b))
    }
    val dvSchema = StructType(
      keyFields.map(f => f.copy(name = physicalName(f))))
    // Crash recovery from a previous interrupted run, per bucket —
    // pure file moves, run BEFORE any rewrite so the batched read
    // below sees every bucket's true current content. The artifact
    // contract (.erase_tmp_b<b> with _SUCCESS / .erase_old_b<b>) is
    // unchanged from the per-bucket rewrite era: crash at any point
    // still recovers with exactly these steps.
    def recoverBucket(container: Path, b: Long): Unit = {
      val bucketDir = container.resolve(s"_bucket=$b")
      val tmp = container.resolve(s".erase_tmp_b$b")
      val backup = container.resolve(s".erase_old_b$b")
      if (Files.exists(tmp) && !Files.exists(tmp.resolve("_SUCCESS"))) rmTree(tmp)
      if (!Files.exists(bucketDir) && Files.exists(backup))
        Files.move(backup, bucketDir, StandardCopyOption.ATOMIC_MOVE)
      else if (!Files.exists(bucketDir) && Files.exists(tmp))
        Files.move(tmp, bucketDir, StandardCopyOption.ATOMIC_MOVE)
      if (Files.exists(bucketDir)) {
        if (Files.exists(backup)) rmTree(backup)
        if (Files.exists(tmp)) rmTree(tmp)
      }
    }
    def hasParts(dir: Path): Boolean = {
      val s0 = Files.list(dir)
      try s0.iterator().asScala
        .exists(_.getFileName.toString.endsWith(".parquet"))
      finally s0.close()
    }
    // ONE Spark job per container (version dir / dv dir) instead of one
    // per (container, bucket) — r16, guide §1.2/§2.6: the per-bucket
    // rewrites were dozens of tiny anti-join jobs whose scheduling and
    // planning round trips dominated the erasure (the erased-capstone
    // build spent more driver time sequencing jobs than erasing). The
    // batched job reads the affected bucket dirs THROUGH the partition
    // column (basePath), anti-joins the broadcast key set once, and
    // writes all buckets' survivors partitioned by _bucket to one
    // staging dir; the crash-safe swap then proceeds per bucket with
    // the exact artifact sequence of the old path (tmp+_SUCCESS →
    // backup → move → cleanup), so interruption at any bucket recovers
    // identically. An all-rows-erased bucket gets an EMPTY tmp dir
    // with _SUCCESS — byte-equivalent to the old empty-frame write.
    def eraseContainer(container: Path, bs: Seq[Long],
        schema: Option[StructType]): Unit = {
      // a previous run's crashed staging dir is garbage by definition
      // (per-bucket tmp/backup artifacts carry ALL recovery state)
      locally {
        val s0 = Files.list(container)
        try s0.iterator().asScala
          .filter(_.getFileName.toString.startsWith(".erase_stage_"))
          .toList.foreach(rmTree)
        finally s0.close()
      }
      bs.foreach(recoverBucket(container, _))
      val live = bs.filter { b =>
        val d = container.resolve(s"_bucket=$b")
        Files.exists(d) && hasParts(d)
      }
      if (live.isEmpty) return
      val staging = container.resolve(".erase_stage_" +
        (java.util.concurrent.ThreadLocalRandom.current().nextLong()
          & Long.MaxValue))
      try {
        val paths = live.map(b => container.resolve(s"_bucket=$b").toString)
        val rd = spark.read.option("basePath", container.toString)
        val src = schema match {
          case Some(sc) => rd.schema(sc.add(StructField("_bucket",
            org.apache.spark.sql.types.LongType))).parquet(paths: _*)
          case None => rd.parquet(paths: _*)
        }
        val kept = src.join(erased, keyFields.map(_.name), "left_anti")
        kept.write.mode("overwrite").partitionBy("_bucket")
          .parquet(staging.toString)
        live.foreach { b =>
          val bucketDir = container.resolve(s"_bucket=$b")
          val tmp = container.resolve(s".erase_tmp_b$b")
          val backup = container.resolve(s".erase_old_b$b")
          val stagedBucket = staging.resolve(s"_bucket=$b")
          if (Files.exists(stagedBucket))
            Files.move(stagedBucket, tmp, StandardCopyOption.ATOMIC_MOVE)
          else Files.createDirectories(tmp) // every row erased
          // the per-bucket completeness marker the recovery step keys on
          val m = tmp.resolve("_SUCCESS")
          if (!Files.exists(m)) Files.write(m, Array.emptyByteArray)
          Files.move(bucketDir, backup, StandardCopyOption.ATOMIC_MOVE)
          Files.move(tmp, bucketDir, StandardCopyOption.ATOMIC_MOVE)
          rmTree(backup)
        }
      } finally rmTree(staging)
    }
    if (tasks.nonEmpty || dvTasks.nonEmpty) withClaimHeartbeat(claim) {
      val byContainer =
        tasks.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, vb) =>
          (Paths.get(storeDir, s"v$v"), vb.map(_._2),
            schemaByVersion(v).map(physicalize))
        } ++ dvTasks.groupBy(_._1).toSeq.sortBy(_._1).map { case (w, wb) =>
          (dvRootDir(storeDir).resolve(w.toString), wb.map(_._2),
            Some(dvSchema))
        }
      // containers are disjoint dir trees — rewrite them concurrently
      // from a bounded pool (the maintenance-fleet shape, now one job
      // per container instead of per bucket)
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(byContainer.size, 8).max(1))
      try {
        val submitted = byContainer.map { case (dir, bs, sc) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = eraseContainer(dir, bs.sorted, sc)
          })
        }
        submitted.foreach(_.get()) // propagate the first failure
      } finally pool.shutdown()
    }
    // refresh the rewritten buckets' DATA-SKIPPING sidecars: the
    // in-place rewrite gave surviving rows NEW file names, so the old
    // entries are dead and the new files unknown (= never skipped —
    // correct but skipping-blind). Advisory like all stats: a failure
    // here loses skipping for those buckets, never the erasure.
    try tasks.groupBy(_._1).foreach { case (v, vb) =>
      val statsPath = statsDir(storeDir).resolve(v.toString)
      FileStats.read(statsPath).foreach { entries =>
        val rewritten = vb.map(_._2).toSet
        val kept = entries.filterNot(e =>
          rewritten.exists(b => e.rel.startsWith(s"_bucket=$b/")))
        val fresh = rewritten.toSeq.sorted.flatMap { b =>
          val bd = Paths.get(storeDir, s"v$v", s"_bucket=$b")
          if (!Files.exists(bd)) Nil
          else FileStats.collect(bd)
            .map(e => e.copy(rel = s"_bucket=$b/${e.rel}"))
        }
        val tmp = statsDir(storeDir).resolve(s".$v.tmp." +
          (java.util.concurrent.ThreadLocalRandom.current().nextLong()
            & Long.MaxValue))
        FileStats.write(statsPath, tmp, kept ++ fresh)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    // audit commit: same data layout as the parent (files rewrote in
    // place), so the manifest — and its layout signature — carry over
    writeManifest(storeDir, version, readManifest(storeDir, latest),
      manifestNBuckets(storeDir, latest).orElse(Some(nB)),
      readManifestDv(storeDir, latest))
    writeSchema(storeDir, version, target)
    verifyClaim(claim)
    writeLongAtomic(latestPath(storeDir), version)
    pruneCommitMarkers(storeDir)
    Some(version)
  }

  /** One bucketed batch: read ONLY the touched buckets' current files,
    * merge, write them under the next store version, publish the
    * remapped manifest, CAS, swap. Touched-bucket discovery is a
    * distinct-aggregate collect bounded by `nBuckets` (a model-sized
    * collect, like the IVF codebooks), never by changeset or store
    * size. */
  def applyBucketedBatch(batch: DataFrame, batchId: Long, storeDir: String,
      key: String, opCol: String, verCol: String, valueCols: Seq[String],
      nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    Files.createDirectories(Paths.get(storeDir))
    requireNBuckets(storeDir, nBuckets)
    requireKeyName(storeDir, key)
    if (alreadyApplied(storeDir, batchId)) return
    val spark = batch.sparkSession
    // the batch plan executes at least twice (touched-bucket collect,
    // then the merge) — for a streaming micro-batch that plan includes
    // the whole parse pipeline, so persist for the commit's scope
    // (r16; commit-scoped, not a cross-run cache)
    batch.persist()
    try {
      val latest = readHead(storeDir)
      val parent = latest.getOrElse(-1L)
      val version = parent + 1
      val manifest = latest.map(readManifest(storeDir, _)).getOrElse(Map.empty)
      val (batchEff, effValueCols, target) = phase("evolutionPlan") {
        evolutionPlan(batch, key, valueCols,
          latest.flatMap(readSchema(storeDir, _)), storeDir)
      }
      // the CHECK gate fires BEFORE the claim: a violating batch leaves
      // no marker, no files, no replay-state advance
      phase("constraints") { enforceConstraints(batchEff, opCol, storeDir) }
      // claim-first, for the same same-parent-same-dir reason as
      // applyBatchFrom: refuse a racing writer before any file moves
      val claim = claimCommit(storeDir, version, parent, batchId)
      val touched = phase("touched") { collectTouched(batch, key, nBuckets) }
      val parentDv = latest.map(readManifestDv(storeDir, _)).getOrElse(Map.empty)
      val survivors =
        if (touched.isEmpty) Seq.empty[Long]
        else withClaimHeartbeat(claim) { phase("merge") {
          mergeTouched(spark, batchEff, key, opCol, verCol, effValueCols,
            target, manifest, touched, nBuckets, storeDir, version, claim,
            parentDv)
        } }
      // untouched buckets keep their old version; a touched bucket whose
      // merged content is EMPTY (all keys deleted) leaves the manifest.
      // Rewritten buckets materialized through their deletion vectors,
      // so their dv tokens clear; untouched buckets keep theirs.
      val merged = manifest -- touched ++ survivors.map(b => b -> version)
      phase("bookkeeping") {
        writeManifest(storeDir, version, merged, Some(nBuckets.toLong),
          parentDv -- touched)
        writeSchema(storeDir, version, target)
        verifyClaim(claim)
        writeLongAtomic(latestPath(storeDir), version)
        writeLongAtomic(lastBatchPath(storeDir), batchId)
        pruneCommitMarkers(storeDir)
      }
    } finally batch.unpersist()
  }

  /** The SQL front door's WRITE half ([[graft.sources.GraftDataSource]]
    * — `INSERT INTO obs …` / `df.write.format("graft").mode("append")`):
    * an INSERT into a keyed store is a MERGE UPSERT — each row replaces
    * its key's current row (the store is last-writer-wins full-row, the
    * same contract every stream batch follows). Commits through the OCC
    * protocol (writer "sql"), so ad-hoc inserts coexist with live
    * streams and other SQL writers, serializing only on bucket overlap.
    * Duplicate keys WITHIN one INSERT are refused loudly (the standard
    * MERGE multiple-source-rows error — silently picking one would hide
    * a user bug); INSERT OVERWRITE is refused (RESTORE and eraseKeys
    * are the sanctioned destructive paths). The batch's `ver` is
    * constant: winner-per-ver ordering only arbitrates WITHIN a batch,
    * and the duplicate check already guarantees one row per key. */
  private[graft] def sqlInsert(data: DataFrame, storeDir: String): Unit = {
    val nB = storedNBuckets(storeDir).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: $storeDir is not a bucketed store — only bucketed " +
          "stores accept SQL writes")).toInt
    val schema = snapshotSchemaAt(storeDir, None)
    val keyName = storedKeyName(storeDir).getOrElse(schema.fields.head.name)
    val keyNames = keyCols(keyName)
    val valueCols =
      schema.fields.map(_.name).filterNot(keyNames.contains).toSeq
    val missing = (keyNames ++ valueCols).filterNot(data.columns.contains)
    require(missing.isEmpty,
      s"MergeSink: INSERT into $storeDir is missing column(s) " +
        s"${missing.mkString(", ")}")
    val dup = data.groupBy(keyNames.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"MergeSink: INSERT into $storeDir carries key " +
          s"'${dup.head.toSeq.dropRight(1).mkString(",")}' more than once " +
          "— a keyed store upserts one row per key; deduplicate the " +
          "source first")
    val batch = data.select(keyNames.map(col) ++ (lit("upsert").as("_op") +:
      lit(0L).as("_ver") +: valueCols.map(col)): _*)
    applyBucketedBatchOcc(batch, batchId = statementId(), storeDir, keyName,
      "_op", "_ver", valueCols, nBuckets = nB, writer = "sql",
      replayGuard = false)
  }

  /** A fresh identity for one ad-hoc SQL statement's commit: with no
    * replay lineage (replayGuard=false), two concurrent statements
    * sharing a batchId would look like each other's crash replay to
    * the OCC claim/conflict checks — the clobber the claim protocol
    * exists to prevent. A random 63-bit id keeps every statement
    * distinct. Public: the DML rewrite commands (org.apache.spark.sql
    * .graft) share this one definition. */
  def statementId(): Long =
    java.util.concurrent.ThreadLocalRandom.current().nextLong() & Long.MaxValue

  /** The SQL door's DELETE half (`DELETE FROM obs WHERE …`): a HEAD
    * delete — the matching keys are retracted by ONE CDC delete commit
    * through the OCC protocol, so history keeps them (time travel and
    * the change feed see the retraction as a normal change; the
    * history-destroying path stays [[eraseKeys]]). The predicate
    * evaluates against the head snapshot; only (key) columns shuffle.
    * No-op (no commit) when nothing matches. */
  private[graft] def sqlDelete(storeDir: String,
      predicates: Seq[Column], buckets: Option[Set[Long]] = None,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Unit = {
    val spark = SparkSession.active
    val nB = storedNBuckets(storeDir).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: $storeDir is not a bucketed store — only bucketed " +
          "stores accept SQL deletes")).toInt
    // RECOMPUTE-ON-STALE loop: the victim set is derived from a head
    // snapshot read; if a concurrent commit moves any touched bucket
    // between that read and the claim, the OCC read-set check (keyed on
    // readVersion) refuses the commit and the predicate re-evaluates
    // against the new head — a retracted or re-valued row is never
    // deleted on stale evidence (a statement-level serializable retry,
    // not just a manifest re-read).
    var attempt = 0
    while (true) {
      attempt += 1
      val readV = readHead(storeDir).getOrElse(-1L)
      val pin = if (readV >= 0) Some(readV) else None // empty store: the
      // unpinned read throws the store's own "nothing to read" error
      val schema = snapshotSchemaAt(storeDir, pin)
      val keyName = storedKeyName(storeDir).getOrElse(schema.fields.head.name)
      val keyNames = keyCols(keyName)
      // key-literal predicates prune the victim scan to the owning
      // buckets (derived by the caller via the scan builder's own
      // mapping), and the caller's translated V1 filters prune FILES
      // through the `_stats` sidecars — a time-range DELETE opens only
      // the footers a SELECT with the same predicate would. The full
      // predicate still applies on top.
      val victims = predicates
        .foldLeft(snapshotPruned(spark, storeDir, pin, buckets, filters))(
          _ filter _)
        .select(keyNames.map(col): _*)
      if (victims.limit(1).collect().isEmpty) return // nothing matches
      val valueFields =
        schema.fields.filterNot(f => keyNames.contains(f.name)).toSeq
      val batch = victims.select(keyNames.map(col) ++
        (lit("delete").as("_op") +: lit(0L).as("_ver") +:
        valueFields.map(f => lit(null).cast(f.dataType).as(f.name))): _*)
      try {
        // deleteOnly: the commit lands as a DELETION-VECTOR sidecar —
        // O(metadata) — instead of rewriting the owning buckets
        applyBucketedBatchOcc(batch, batchId = statementId(), storeDir,
          keyName, "_op", "_ver", valueFields.map(_.name), nBuckets = nB,
          writer = "sql", replayGuard = false, readVersion = Some(readV),
          deleteOnly = true)
        return
      } catch {
        case e: StaleReadException => if (attempt >= 8) throw e
      }
    }
  }

  /** The evolution-aware write plan shared by the serialized and OCC
    * writers. WRITE-OLD under an evolved store: columns [[addColumns]]
    * ADDED (stamped `graft.evolved` in the registry) are OPTIONAL in
    * writes — a batch missing them null-fills (batch rows are FULL-ROW
    * upserts, so an old writer replacing a key states the evolved
    * columns are null). Original columns stay mandatory —
    * requireCompatible still refuses their absence loudly. Returns
    * (widened batch, effective value columns, target schema). */
  private def evolutionPlan(batch: DataFrame, key: String,
      valueCols: Seq[String], parentSchema: Option[StructType],
      storeDir: String): (DataFrame, Seq[String], StructType) = {
    val declared = batch.select((keyCols(key) ++ valueCols).map(col): _*).schema
    val evolvedMissing: Seq[StructField] =
      parentSchema.toSeq.flatMap(_.fields.filter(f =>
        !declared.fieldNames.contains(f.name) &&
          f.metadata.contains(EvolvedMark)))
    val target = parentSchema match {
      case Some(ps) =>
        // carry evolution marks, column-mapping physical names (and
        // widened nullability) through writers that DO supply the
        // column, so the registry never forgets either
        val pByName = ps.fields.map(f => f.name -> f).toMap
        // a batch-added column re-using a PHYSICAL name a rename freed
        // — or one a DROP retired — would collide in (or resolve to)
        // old data files — refuse with the metadata-commit remedy
        // (addColumns stamps a fresh physical). This is also the gate
        // that refuses an old writer still supplying a DROPPED column.
        val freedPhysical = ps.fields.filter(f => physicalName(f) != f.name)
          .map(physicalName).toSet ++ readDroppedPhysical(storeDir)
        val clash = declared.fields.map(_.name)
          .filter(n => !pByName.contains(n) && freedPhysical.contains(n))
        require(clash.isEmpty,
          s"MergeSink: batch column(s) ${clash.mkString(", ")} collide " +
            s"with PHYSICAL file names freed by a rename or retired by a " +
            s"drop on $storeDir — add them with addColumns (ALTER TABLE " +
            "… ADD COLUMNS), which assigns a non-colliding physical " +
            "name, then retry the batch")
        StructType(declared.fields.map(f => pByName.get(f.name)
          .map(pf => f.copy(nullable = f.nullable || pf.nullable,
            metadata = pf.metadata)).getOrElse(f)) ++ evolvedMissing)
      case None => declared
    }
    parentSchema.foreach(requireCompatible(_, target, storeDir))
    val effValueCols = valueCols ++ evolvedMissing.map(_.name)
    val batchEff = evolvedMissing.foldLeft(batch)((b, f) =>
      b.withColumn(f.name, lit(null).cast(f.dataType)))
    (batchEff, effValueCols, target)
  }

  /** The touched-bucket merge job both writers share: read the touched
    * buckets' CURRENT rows per `manifest` (grouped by owning version,
    * one partition-pruned scan each), apply the batch, write
    * `v<version>`. Returns the touched buckets that SURVIVED the merge
    * (post-merge non-empty — a bucket whose every key was deleted
    * leaves the manifest). */
  private def mergeTouched(spark: SparkSession, batchEff: DataFrame,
      key: String, opCol: String, verCol: String, effValueCols: Seq[String],
      target: StructType, manifest: Map[Long, Long], touched: Seq[Long],
      nBuckets: Int, storeDir: String, version: Long,
      claim: Claim, dv: Map[Long, Long] = Map.empty): Seq[Long] = {
    val emptyBase =
      batchEff.select((keyCols(key) ++ effValueCols).map(col): _*).limit(0)
    lazy val keyFields = storedKeyFields(storeDir, target)
    lazy val physKeys = keyFields.map(physicalName)
    // base reads go THROUGH the deletion vectors: a merge from a
    // DV-retracted row would silently resurrect it in the rewrite
    val base = phase("merge.base") {
      touched.flatMap(b => manifest.get(b).map(v => (v, b)))
        .groupBy { case (v, b) => (v, dv.get(b)) }.toSeq
        .sortBy { case ((v, w), _) => (v, w.getOrElse(-1L)) }
        .map { case ((v, dvv), vb) =>
          val bs = vb.map(_._2)
          val df0 = scanBuckets(spark, storeDir, v, bs)
          val df = dvv.fold(df0)(w => applyDv(df0,
            dvKeysFrame(spark, storeDir, bs.map(_ -> w).toMap,
              keyFields), physKeys))
          alignTo(df, target)
        }
        .foldLeft(emptyBase)(_ unionByName _)
    }
    // CLUSTERED write: each `_bucket` goes to one task, so each surviving
    // bucket lands as ONE file, and the numbered repartition (AQE does
    // not coalesce it) keeps every core writing. Unclustered, AQE ran
    // the join on 1–2 tasks that each wrote a file per touched bucket,
    // one after another. Measured on fleetbench `fleet_ingest` (seed 7,
    // 4 cores, both sides listing on the driver): a 64-bucket backlog
    // commit took 1,495 ms clustered against 1,722 ms unclustered, and
    // the store held 64 files instead of 192. The exchange is one more
    // stage: a one-upload commit of 8 buckets took 563 ms against 388.
    val next = toPhysical(
      Snapshot.applyChanges(base, batchEff, key, opCol, verCol, effValueCols)
        .withColumn("_bucket", bucketOf(key, nBuckets))
        .repartition(spark.sparkContext.defaultParallelism, col("_bucket")),
      target) // files speak physical names (column mapping)
    publishVersionDir(storeDir, version, claim) { stage =>
      next.write.mode("overwrite").partitionBy("_bucket").parquet(stage)
      // survivors read from the STAGE (pre-publication): a touched
      // bucket whose merged content is empty writes no dir
      touched.filter(b =>
        Files.exists(Paths.get(stage, s"_bucket=$b")))
    }
  }

  // ------------------------------------------------------------------
  // OCC: disjoint-bucket CONCURRENT writers (VERDICT r11 #3)
  // ------------------------------------------------------------------
  //
  // [[applyBucketedBatch]] serializes every writer on one `_latest`
  // CAS — at 100 TB with per-sensor upload streams that single claim
  // is the first throughput wall. The OCC protocol removes it for
  // commits whose TOUCHED-BUCKET sets are disjoint (Delta-style
  // optimistic concurrency, bucket-granular):
  //
  //   1. CLAIM CARRIES THE BUCKET SET. An OCC commit marker records
  //      `w=<writer>` and `b=<b1,b2,…>` alongside parent/batch/nonce.
  //   2. VERSION SLOTS EXTEND PAST `_latest`. A writer lists all
  //      markers beyond the committed head (in-flight claims), checks
  //      its bucket set against each (a marker without `b=` — a
  //      serialized or maintenance claim — conflicts with everything),
  //      and claims the next free slot. Disjoint writers therefore
  //      hold claims on v(n+1), v(n+2), … SIMULTANEOUSLY and run
  //      their merge jobs — the expensive part — CONCURRENTLY.
  //   3. PUBLICATION LINEARIZES. Manifests compose sequentially
  //      (manifest(v) = manifest(v−1) minus touched plus survivors),
  //      so each claimant waits for `_latest` to reach its parent,
  //      re-validates that ITS buckets' owners are unchanged since its
  //      read (the OCC read-set check — a takeover could have slipped
  //      an overlapping commit in), then publishes and swaps. The wait
  //      monitors the parent claim's heartbeat: a live parent is
  //      waited out, a dead one (marker gone or lease-stale) aborts
  //      this commit loudly for a clean retry.
  //   4. REPLAY IS PER-WRITER. Each writer's exactly-once guard is its
  //      own `_lastBatch.<writer>` file — two checkpoints' batchIds
  //      never collide, and a marker is only adopted as "our crash
  //      replay" when parent, batchId AND writer all match.
  //
  // Overlapping writers still both land — the loser's claim attempt
  // sees the conflict, backs off, re-reads the new head and rebases —
  // they just serialize, exactly as the single-claim protocol forced
  // everyone to.

  private def occLastBatchPath(storeDir: String, writer: String) =
    Paths.get(storeDir, s"_lastBatch.$writer")

  /** Parse an OCC-aware marker: (parent, batchId, writer, buckets).
    * Markers written by the serialized protocol have no `w=`/`b=`
    * tokens → (writer = None, buckets = None = "conflicts with all". */
  private def markerClaimInfo(storeDir: String, version: Long)
      : Option[(Long, Long, Option[String], Option[Set[Long]])] = {
    val marker = commitsDir(storeDir).resolve(version.toString)
    if (!Files.exists(marker)) return None
    val toks =
      try new String(Files.readAllBytes(marker), StandardCharsets.UTF_8)
        .trim.split("\\s+").toSeq
      catch { case _: java.nio.file.NoSuchFileException => return None }
    toks match {
      case Seq(p, b, rest @ _*) =>
        for { pv <- p.toLongOption; bv <- b.toLongOption } yield {
          val w = rest.collectFirst { case t if t.startsWith("w=") => t.drop(2) }
          val bs = rest.collectFirst { case t if t.startsWith("b=") =>
            t.drop(2).split(',').filter(_.nonEmpty).flatMap(_.toLongOption).toSet }
          (pv, bv, w, bs)
        }
      case _ => None
    }
  }

  /** CREATE_NEW claim for an OCC slot. Adopts an existing marker only
    * on a FULL identity match (parent, batchId, writer) AND only for a
    * REPLAYABLE caller (a streaming checkpoint lineage — exactly one
    * live writer per (writer, batchId) by the checkpoint contract, so
    * a matching marker can only be this writer's own crashed attempt).
    * A replayable=false caller (ad-hoc SQL — no replay lineage, each
    * statement carries a fresh random batchId) NEVER adopts: before
    * this guard two concurrent statements sharing writer="sql" each
    * treated the other's live claim as their own crash replay, both
    * passed the gate, and both overwrote the SAME version dir — the
    * mid-write clobber the claim protocol exists to prevent. Any other
    * occupant throws; the caller's retry loop re-reads and rebases. */
  private def claimOcc(storeDir: String, version: Long, parent: Long,
      batchId: Long, writer: String, buckets: Seq[Long],
      replayable: Boolean): Claim = {
    val dir = commitsDir(storeDir)
    Files.createDirectories(dir)
    readLong(dir.resolve("_horizon")).foreach { h =>
      if (parent < h)
        throw new java.util.ConcurrentModificationException(
          s"MergeSink: OCC writer '$writer' derived v$version of $storeDir " +
            s"from parent v$parent, but commit history up to v$h has been " +
            "pruned — re-read the store and retry")
    }
    val marker = dir.resolve(version.toString)
    val nonce =
      java.util.concurrent.ThreadLocalRandom.current().nextLong() & Long.MaxValue
    val content =
      s"$parent $batchId $nonce w=$writer b=${buckets.sorted.mkString(",")} " +
        s"hb${System.currentTimeMillis()}"
    try {
      Files.write(marker, content.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE_NEW)
      Claim(marker, content, version, storeDir)
    } catch {
      case _: FileAlreadyExistsException =>
        markerClaimInfo(storeDir, version) match {
          case Some((pv, bv, Some(w), _))
              if replayable && pv == parent && bv == batchId && w == writer =>
            // our own crash replay: adopt the surviving marker
            val body = new String(Files.readAllBytes(marker),
              StandardCharsets.UTF_8).trim
            Claim(marker, body, version, storeDir)
          case _
              if readHead(storeDir).getOrElse(-1L) < version &&
                markerLeaseExpired(marker) =>
            // abandoned in-flight claim (writer died; a live one
            // heartbeats): ATOMIC capture-takeover, as claimCommit
            if (!captureStaleMarker(marker))
              throw new java.util.ConcurrentModificationException(
                s"MergeSink: another recoverer took over the abandoned OCC " +
                  s"claim on v$version of $storeDir first (or its writer " +
                  "is live again) — retry")
            claimOcc(storeDir, version, parent, batchId, writer, buckets,
              replayable)
          case _ =>
            throw new java.util.ConcurrentModificationException(
              s"MergeSink: v$version of $storeDir is already claimed — " +
                "another writer holds the slot; re-read and rebase")
        }
    }
  }

  /** [[applyBucketedBatch]] for CONCURRENT writers: same semantics,
    * exactly-once per (writer, batchId), but commits whose touched
    * buckets are disjoint proceed in parallel (see the OCC protocol
    * notes above). `writer` names this writer's replay lineage — one
    * per streaming checkpoint. CAS losses (claim races, read-set
    * rebases) retry up to `maxRetries` with short backoff; WAITING on
    * a live contender's in-flight claim is bounded by TIME instead —
    * the takeover lease — because a hot bucket's winning merge may
    * legitimately run for minutes while a dead contender's claim
    * lease-expires and is captured within exactly that window. */
  def applyBucketedBatchOcc(batch: DataFrame, batchId: Long, storeDir: String,
      key: String, opCol: String, verCol: String, valueCols: Seq[String],
      nBuckets: Int = 64, writer: String = "w0",
      maxRetries: Int = 32, replayGuard: Boolean = true,
      readVersion: Option[Long] = None,
      conflictWaitMs: Long = TakeoverLeaseMs,
      deleteOnly: Boolean = false): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    require(writer.nonEmpty && !writer.startsWith("_") &&
      !writer.exists(c => c == '/' || c == '\\' || c.isWhitespace),
      s"writer must be a plain name (got '$writer')")
    Files.createDirectories(Paths.get(storeDir))
    requireNBuckets(storeDir, nBuckets)
    requireKeyName(storeDir, key)
    // replayGuard=false: one-shot callers with no replay lineage (the
    // SQL INSERT path) — no checkpoint redelivers them, and a monotone-
    // batchId assumption would make two ad-hoc INSERTs silently no-op
    if (replayGuard &&
      readLong(occLastBatchPath(storeDir, writer)).exists(_ >= batchId)) return
    val spark = batch.sparkSession
    // commit-scoped persist (r16), as in applyBucketedBatch: the batch
    // plan executes for the touched collect, per-attempt evolution/
    // constraint checks, and the merge itself — and a streaming batch's
    // plan includes its whole parse pipeline
    batch.persist()
    try {
    val touched = phase("occ.touched") { collectTouched(batch, key, nBuckets) }
    var attempt = 0
    var backoffMs = 20L
    // Waiting on a LIVE contender is bounded by TIME (the lease
    // clock), not the CAS-loss attempt budget: a contended bucket's
    // in-flight merge legitimately runs for minutes at scale (and
    // under an overcommitted test host), while a DEAD contender's
    // claim lease-expires and is captured within TakeoverLeaseMs —
    // so the lease is exactly the longest a healthy wait can need.
    // Attempt-counting the wait (the pre-r15 behavior) declared
    // livelock after ~15 s of 500 ms backoffs, killing writers that
    // were merely queued behind a slow-but-alive peer.
    val conflictDeadline = System.currentTimeMillis() + conflictWaitMs
    while (true) {
      attempt += 1
      val latest = readHead(storeDir)
      val baseManifest = latest.map(readManifest(storeDir, _)).getOrElse(Map.empty)
      val baseDv = latest.map(readManifestDv(storeDir, _))
        .getOrElse(Map.empty[Long, Long])
      // OCC READ-SET vs the SNAPSHOT THE BATCH VALUES CAME FROM: a
      // caller that derived its CDC rows from a store read (SQL
      // UPDATE/DELETE/MERGE) passes the version it read; if any bucket
      // this batch touches changed owners since, the batch's VALUES are
      // stale — validating against the re-read head alone would commit
      // a lost update. The batch itself must be recomputed, so this is
      // the caller's retry, not ours.
      readVersion.foreach { rv =>
        val readM =
          if (rv < 0) Map.empty[Long, Long] else readManifest(storeDir, rv)
        val readD =
          if (rv < 0) Map.empty[Long, Long] else readManifestDv(storeDir, rv)
        // a changed DELETION VECTOR is a row change too: victim rows /
        // assignment values derived before it may include keys a
        // concurrent delete-only commit has since retracted
        val movedSinceRead = touched.filter(b =>
          baseManifest.get(b) != readM.get(b) || baseDv.get(b) != readD.get(b))
        if (movedSinceRead.nonEmpty)
          throw new StaleReadException(
            s"MergeSink: bucket(s) ${movedSinceRead.mkString(", ")} of " +
              s"$storeDir changed owners or deletion vectors since this " +
              s"statement's snapshot read at v$rv — recompute the batch " +
              "from the new head and retry")
      }
      val readParentSchema = latest.flatMap(readSchema(storeDir, _))
      val (batchEff, effValueCols, target) = phase("occ.evolutionPlan") {
        evolutionPlan(batch, key, valueCols, readParentSchema, storeDir)
      }
      // the CHECK gate fires BEFORE any claim (every attempt re-reads
      // the registry — a constraint added between retries enforces)
      phase("occ.constraints") { enforceConstraints(batchEff, opCol, storeDir) }
      // in-flight claims beyond the committed head; abandoned ones
      // (writer died between claim and publish — live writers
      // heartbeat) are lease-expired and CAS-swept here so the slot
      // chain never wedges on a dead parent
      val head = latest.getOrElse(-1L)
      val inflight = {
        val dir = commitsDir(storeDir)
        if (!Files.exists(dir)) List.empty[Long]
        else {
          val s0 = Files.list(dir)
          val all = try s0.iterator().asScala.map(_.getFileName.toString)
            .flatMap(_.toLongOption).filter(_ > head).toList.sorted
          finally s0.close()
          all.filterNot { v =>
            val m = commitsDir(storeDir).resolve(v.toString)
            // atomic capture: a bare delete could kill a claim whose
            // writer heartbeat-refreshed between our read and the
            // delete — and freeing a LIVE slot would let us claim the
            // version its writer is mid-writing
            if (markerLeaseExpired(m)) captureStaleMarker(m)
            else !Files.exists(m)
          }
        }
      }
      val conflicts = inflight.filter { v =>
        markerClaimInfo(storeDir, v) match {
          case Some((_, bv, Some(w), _))
              if replayGuard && w == writer && bv == batchId =>
            false // our own crash-replay slot: claimOcc will adopt it
            // (replayGuard=false callers have no replay lineage — a
            // matching marker is ANOTHER statement's live claim)
          case Some((_, _, _, Some(bs))) => bs.exists(touched.contains)
          case _ => true // unparsable / serialized claim: assume overlap
        }
      }
      if (conflicts.nonEmpty) {
        if (System.currentTimeMillis() > conflictDeadline)
          throw new java.util.ConcurrentModificationException(
            s"MergeSink: OCC writer '$writer' batch $batchId on $storeDir " +
              s"kept conflicting with in-flight claims ${conflicts.mkString(", ")} " +
              s"for longer than the configured conflict wait " +
              s"($conflictWaitMs ms; default = the takeover lease) — the " +
              "contending claim is still heartbeat-fresh; investigate the " +
              "slow writer or raise conflictWaitMs")
        attempt -= 1 // waiting on a live peer spends time, not CAS budget
        Thread.sleep(backoffMs); backoffMs = math.min(backoffMs * 2, 2000L)
      } else {
        val version = (head :: inflight).max + 1
        val parent = version - 1
        val claim =
          try claimOcc(storeDir, version, parent, batchId, writer, touched,
            replayable = replayGuard)
          catch {
            case e: java.util.ConcurrentModificationException =>
              if (attempt >= maxRetries) throw e
              Thread.sleep(backoffMs); backoffMs = math.min(backoffMs * 2, 500L)
              null
          }
        if (claim != null) {
          try {
            phase("occ.publish") {
              occPublish(spark, storeDir, claim, version, parent, batchId,
                writer, batchEff, key, opCol, verCol, effValueCols, target,
                baseManifest, baseDv, readParentSchema, touched, nBuckets,
                replayGuard, deleteOnly)
            }
            return
          } catch {
            case _: OccRebase =>
              // parent chain resolved differently than our read —
              // clean up this slot and rebase from the new head
              releaseOwnClaim(claim)
              if (attempt >= maxRetries)
                throw new java.util.ConcurrentModificationException(
                  s"MergeSink: OCC writer '$writer' batch $batchId on " +
                    s"$storeDir could not validate its read set after " +
                    s"$attempt attempts")
              Thread.sleep(backoffMs); backoffMs = math.min(backoffMs * 2, 500L)
            case e: java.util.ConcurrentModificationException =>
              // a USURPED claim (verifyClaim's pre-swap refusal — this
              // writer looked abandoned to a recoverer, or lost a
              // first-slot race): nothing published, the usurper's
              // commit stands, and this batch is still VALID against
              // whatever head emerges — rebase and retry like any
              // other conflict instead of killing the hosting stream.
              // (The claim is already not ours; releaseOwnClaim's
              // content check makes the cleanup a safe no-op.)
              releaseOwnClaim(claim)
              if (attempt >= maxRetries) throw e
              Thread.sleep(backoffMs); backoffMs = math.min(backoffMs * 2, 500L)
            case e: Throwable =>
              // a failed merge job (or anything else) must not leave
              // the claim wedging overlapping writers for a full
              // takeover lease — the slot holds no published state yet,
              // so releasing OUR OWN marker (content-verified; a
              // usurper's claim is left alone) is always safe
              releaseOwnClaim(claim)
              throw e
          }
        }
      }
    }
    } finally batch.unpersist()
  }

  /** Internal: a committed-chain shape forcing an OCC rebase (parent
    * claim died, or our buckets' owners moved since our read). */
  private final class OccRebase(msg: String) extends RuntimeException(msg)

  /** The publish half of one OCC attempt: merge job (concurrent with
    * other claimants), wait for the parent to commit, re-validate the
    * read set, publish manifest+schema, swap. Throws [[OccRebase]]
    * when the attempt must be redone from a fresh read. */
  private def occPublish(spark: SparkSession, storeDir: String, claim: Claim,
      version: Long, parent: Long, batchId: Long, writer: String,
      batchEff: DataFrame, key: String, opCol: String, verCol: String,
      effValueCols: Seq[String], target: StructType,
      baseManifest: Map[Long, Long], baseDv: Map[Long, Long],
      readParentSchema: Option[StructType],
      touched: Seq[Long], nBuckets: Int, replayGuard: Boolean,
      deleteOnly: Boolean): Unit =
    withClaimHeartbeat(claim) {
      // the DELETION-VECTOR fast path: a delete-only commit writes the
      // retracted keys as a `_dv/<version>` sidecar — O(metadata) —
      // and every owner dir stays put; anything with an upsert rewrites
      val dvNew =
        if (deleteOnly && touched.nonEmpty)
          writeDvForDeletes(spark, storeDir, version, claim, batchEff, key,
            opCol, target, baseManifest, baseDv, touched, nBuckets)
        else Map.empty[Long, Long]
      val survivors =
        if (touched.isEmpty || deleteOnly) Seq.empty[Long]
        else mergeTouched(spark, batchEff, key, opCol, verCol, effValueCols,
          target, baseManifest, touched, nBuckets, storeDir, version, claim,
          baseDv)
      // wait for the parent slot to publish (it may still be merging —
      // its heartbeat keeps its marker fresh; a stale or vanished
      // parent claim means its writer died → rebase cleanly)
      while (readHead(storeDir).getOrElse(-1L) < parent) {
        val pm = commitsDir(storeDir).resolve(parent.toString)
        val parentAlive =
          try Files.exists(pm) && (System.currentTimeMillis() -
            markerClockMillis(pm)) < TakeoverLeaseMs
          catch { case _: java.nio.file.NoSuchFileException => false }
        if (!parentAlive)
          throw new OccRebase(s"parent claim v$parent of $storeDir died " +
            "before publishing")
        Thread.sleep(20L)
      }
      val parentManifest =
        if (parent >= 0) readManifest(storeDir, parent) else Map.empty[Long, Long]
      val parentDv =
        if (parent >= 0) readManifestDv(storeDir, parent)
        else Map.empty[Long, Long]
      // OCC read-set validation: every bucket WE touched must still be
      // owned by the version we read it from — an overlapping commit
      // could only have slipped in through a takeover chain. The
      // DELETION-VECTOR reference is part of the read set too: a new
      // DV on our bucket with an unchanged owner still means our merge
      // base (or cumulative DV) is stale — rewriting from it would
      // resurrect the retracted rows.
      val moved = touched.filter(b =>
        parentManifest.get(b) != baseManifest.get(b) ||
          parentDv.get(b) != baseDv.get(b))
      if (moved.nonEmpty)
        throw new OccRebase(s"buckets ${moved.mkString(", ")} of $storeDir " +
          "changed owners (or deletion vectors) since this writer's read")
      // SCHEMA re-validation: a concurrent disjoint writer (or an
      // addColumns that slipped past a takeover) may have WIDENED the
      // schema since our read — publishing our narrower target would
      // make the new column vanish from head reads. Rebase so
      // evolutionPlan recomputes against the actual parent schema.
      val parentSchemaNow =
        if (parent >= 0) readSchema(storeDir, parent) else None
      def shape(o: Option[StructType]) =
        o.map(_.fields.map(f => (f.name, f.dataType)).toSeq)
      if (shape(parentSchemaNow) != shape(readParentSchema))
        throw new OccRebase(s"the schema of $storeDir evolved since this " +
          "writer's read")
      // deleteOnly: owners stay put, the new DV references land;
      // rewrite: touched buckets move to this version and their DV
      // tokens clear (the rewrite materialized through them)
      val merged =
        if (deleteOnly) parentManifest
        else parentManifest -- touched ++ survivors.map(b => b -> version)
      val mergedDv =
        if (deleteOnly) parentDv ++ dvNew
        else parentDv -- touched
      writeManifest(storeDir, version, merged, Some(nBuckets.toLong), mergedDv)
      writeSchema(storeDir, version, target)
      verifyClaim(claim)
      writeLongAtomic(latestPath(storeDir), version)
      // ad-hoc statements (replayGuard=false) carry a random per-
      // statement batchId and no replay lineage — recording it in
      // `_lastBatch.<writer>` would be meaningless and misleading
      if (replayGuard)
        writeLongAtomic(occLastBatchPath(storeDir, writer), batchId)
      pruneCommitMarkers(storeDir)
    }

  /** CREATE TABLE's store bootstrap: commit an EMPTY v0 (empty
    * manifest + recorded schema/key/nBuckets) through the NORMAL claim
    * protocol, so a SQL-only user can `CREATE TABLE … USING graft`
    * (and CTAS) without ever touching the Scala API — the one
    * previously-missing step in the store's SQL lifecycle. The key
    * must be the schema's FIRST column (the snapshot convention every
    * reader shares); two racing creators serialize on the v0 claim
    * like any other commit. */
  def createEmptyStore(storeDir: String, schema: StructType, key: String,
      nBuckets: Int): Unit = {
    require(schema.fields.nonEmpty, "createEmptyStore needs a schema")
    val ks = keyCols(key)
    val missingKey = ks.filterNot(schema.fieldNames.contains)
    require(missingKey.isEmpty,
      s"MergeSink: key column(s) ${missingKey.mkString(", ")} not in the " +
        s"schema (${schema.fieldNames.mkString(", ")})")
    require(schema.fields.take(ks.size).map(_.name).toSeq == ks,
      s"MergeSink: declare the key column(s) '$key' FIRST (in key order) " +
        "— a store's snapshot schema leads with its key")
    require(schema.fields.length >= ks.size + 1,
      s"MergeSink: a store needs at least one value column besides '$key'")
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    if (readHead(storeDir).isDefined)
      throw new IllegalStateException(
        s"MergeSink: $storeDir is already a committed store — CREATE " +
          "TABLE adopts it instead")
    Files.createDirectories(Paths.get(storeDir))
    requireNBuckets(storeDir, nBuckets)
    requireKeyName(storeDir, key)
    val claim = claimCommit(storeDir, 0L, -1L, -1L)
    // release our own claim on any failure before the pointer lands —
    // a crashed CREATE TABLE must not wedge the retried CREATE (or the
    // first write) behind the takeover lease (same discipline as the
    // OCC writer's failure path)
    try {
      writeManifest(storeDir, 0L, Map.empty, Some(nBuckets.toLong),
        Map.empty)
      writeSchema(storeDir, 0L, schema)
      verifyClaim(claim)
      writeLongAtomic(latestPath(storeDir), 0L)
    } catch { case e: Throwable => releaseOwnClaim(claim); throw e }
    pruneCommitMarkers(storeDir)
  }

  /** CONVERT TO GRAFT — adopt an existing plain-parquet directory IN
    * PLACE as a v0 store commit (the reference's own planned
    * migration of its ad-hoc obs table, ssidentity.c:25-26; the
    * lakehouse `CONVERT TO DELTA` analogue). One rewrite through the
    * NORMAL claim protocol: the directory's rows re-cluster into the
    * bucketed layout under `v0`, the manifest/schema/key/nBuckets
    * registries land, `_latest` swaps, and the original loose part
    * files are swept — after which every store verb (DML, time
    * travel, CDF, maintenance, erasure) works on the directory.
    *
    * Contract: `key` must exist and be UNIQUE (a keyed store holds
    * one row per key — duplicates refuse loudly with a sample key);
    * the key lands as the snapshot's FIRST column regardless of its
    * source position. Refuses a directory that is already a store.
    * CRASH-SAFE by breadcrumb: the original file list is recorded in
    * `_convert` BEFORE any write. A conversion that crashed AFTER the
    * pointer swap but before the sweep finishes the sweep on re-run
    * (and returns the committed head); one that crashed BEFORE the
    * swap (breadcrumb present, no head) RESUMES — the breadcrumb is
    * the originals list, the crashed attempt's own residue (`v0`,
    * manifest/schema 0) is excluded from the flat-directory refusal
    * and re-published over under a fresh claim.
    * Returns the store's head version (0 for a fresh conversion). */
  def convertToStore(spark: SparkSession, storeDir: String, key: String,
      nBuckets: Int = 64): Long = {
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    val dir = Paths.get(storeDir)
    val convertMark = dir.resolve("_convert")
    def sweep(): Unit = {
      if (!Files.exists(convertMark)) return
      new String(Files.readAllBytes(convertMark), StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty)
        .foreach(name => Files.deleteIfExists(dir.resolve(name)))
      Files.deleteIfExists(convertMark)
    }
    readHead(storeDir) match {
      case Some(head) =>
        if (Files.exists(convertMark)) { sweep(); return head } // finish a crashed sweep
        throw new IllegalStateException(
          s"MergeSink: $storeDir is already a committed store — CONVERT " +
            "adopts plain parquet directories only")
      case None => ()
    }
    // `_convert` present with NO head = a conversion crashed BETWEEN
    // writing the breadcrumb and the `_latest` swap (the post-swap
    // crash is the sweep-resume branch above). The breadcrumb is the
    // authoritative originals list — recorded before anything was
    // written — so RESUME from it: the crashed attempt's own residue
    // (a published-but-unswapped `v0`, `_manifests/0`, `_schemas/0`)
    // is excluded from the flat-directory refusal and simply
    // re-published over (every conversion write below is
    // REPLACE_EXISTING-safe under the re-acquired claim).
    val resuming = Files.exists(convertMark)
    // the ORIGINAL data files, recorded BEFORE anything is written:
    // only these are swept after the commit (metadata written by the
    // conversion itself is never deleted by its own cleanup)
    val (originals, subdirs) =
      if (resuming) {
        val names = new String(Files.readAllBytes(convertMark),
          StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty)
          .toList.sorted
        (names.filterNot(n => Files.isDirectory(dir.resolve(n))), Nil)
      } else {
        val s0 = Files.list(dir)
        try {
          val names = s0.iterator().asScala.map(_.getFileName.toString)
            .filter(n => (!n.startsWith("_") && !n.startsWith(".")) ||
              // the source JOB's own markers are original data-job
              // residue, not store metadata — sweep them with the data
              // (they are listed BEFORE the conversion writes anything)
              n == "_SUCCESS" || n.startsWith("_started_") ||
              n.startsWith("_committed_"))
            .toList.sorted
          names.partition(n => !Files.isDirectory(dir.resolve(n)))
        } finally s0.close()
      }
    // a hive-partitioned source (subdirectories) would be READ by the
    // conversion but its files live outside the top-level sweep —
    // refuse rather than leave duplicate loose data behind
    require(subdirs.isEmpty,
      s"MergeSink: $storeDir contains subdirectories " +
        s"(${subdirs.take(3).mkString(", ")}…) — CONVERT adopts FLAT " +
        "parquet directories; for a partitioned source, read it and " +
        "write a fresh store through the session instead")
    require(originals.nonEmpty,
      s"MergeSink: $storeDir holds no data files to convert")
    // on resume, read EXACTLY the breadcrumb's files — the directory
    // now also holds the crashed attempt's v0 dir, which a whole-dir
    // read would misparse as a partition column
    val dataFiles = originals.filter(n =>
      !(n == "_SUCCESS" || n.startsWith("_started_") ||
        n.startsWith("_committed_")))
    val src0 =
      if (resuming)
        spark.read.parquet(dataFiles.map(n => dir.resolve(n).toString): _*)
      else spark.read.parquet(storeDir)
    val convKeys = keyCols(key)
    val missingKey = convKeys.filterNot(src0.columns.contains)
    require(missingKey.isEmpty,
      s"MergeSink: convert key column(s) ${missingKey.mkString(", ")} not " +
        s"in $storeDir (${src0.columns.mkString(", ")})")
    require(src0.columns.length >= convKeys.size + 1,
      s"MergeSink: a store needs at least one value column besides '$key'")
    // key first — the snapshot convention every reader shares
    val valueCols = src0.columns.filterNot(convKeys.contains).toSeq
    val src = src0.select((convKeys ++ valueCols).map(col): _*)
    val dup = src.groupBy(convKeys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir carries key '${dup.head.get(0)}' more than " +
          "once — a keyed store holds one row per key; deduplicate before " +
          "converting")
    requireNBuckets(storeDir, nBuckets)
    requireKeyName(storeDir, key)
    Files.write(convertMark,
      originals.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val claim = claimCommit(storeDir, 0L, -1L, -1L)
    try {
      val target = src.schema
      val clustered = src.withColumn("_bucket", bucketOf(key, nBuckets))
        .repartition(col("_bucket"))
      val buckets = withClaimHeartbeat(claim) {
        publishVersionDir(storeDir, 0L, claim) { stage =>
          clustered.write.mode("overwrite").partitionBy("_bucket").parquet(stage)
          val s0 = Files.list(Paths.get(stage))
          try s0.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("_bucket="))
            .map(_.stripPrefix("_bucket=").toLong).toList.sorted
          finally s0.close()
        }
      }
      writeManifest(storeDir, 0L, buckets.map(_ -> 0L).toMap,
        Some(nBuckets.toLong), Map.empty)
      writeSchema(storeDir, 0L, target)
      verifyClaim(claim)
      writeLongAtomic(latestPath(storeDir), 0L)
    } catch { case e: Throwable => releaseOwnClaim(claim); throw e }
    pruneCommitMarkers(storeDir)
    sweep()
    0L
  }

  /** True iff `storeDir` is a created-but-never-written store (head is
    * the empty v0 bootstrap commit) — the only state CREATE TABLE's
    * failure cleanup (CTAS write failed after create) may drop. */
  def isEmptyCreatedStore(storeDir: String): Boolean =
    readHead(storeDir).contains(0L) &&
      Files.exists(manifestsDir(storeDir).resolve("0")) &&
      readManifest(storeDir, 0L).isEmpty

  /** DROP TABLE's deletion, serialized against first writes through
    * the claim protocol: a bare check-then-delete is a TOCTOU — a
    * writer can publish v1 between the emptiness check and the
    * recursive delete, and the delete would destroy committed data
    * (exactly what DROP promises can never happen). Claiming the v1
    * slot FIRST excludes any such commit (the writer's own claim
    * fails loudly), the emptiness re-check under the claim is then
    * stable, and the tree delete takes the marker down with the rest.
    * Returns false (nothing deleted) when the store is not in the
    * empty-created state or the v1 slot is contested. */
  def dropEmptyCreatedStore(storeDir: String): Boolean = {
    if (!isEmptyCreatedStore(storeDir)) return false
    val claim =
      try claimCommit(storeDir, 1L, 0L, -1L)
      catch { case _: java.util.ConcurrentModificationException => return false }
    try {
      if (!isEmptyCreatedStore(storeDir)) { releaseOwnClaim(claim); false }
      else { Files.deleteTree(Paths.get(storeDir)); true }
    } catch { case e: Throwable => releaseOwnClaim(claim); throw e }
  }

  /** SCHEMA EVOLUTION — ADD COLUMNS as a METADATA-ONLY maintenance
    * commit (a table format's `ALTER TABLE ... ADD COLUMNS`; the
    * reference's own TODO — migrating `obs` timestamps and re-keying
    * by MAC, ssidentity.c:25-26 — is precisely such a migration): one
    * CAS-claimed commit whose manifest is a COPY of the parent's, so
    * NO data moves at any store size. Version dirs keep the schema
    * they were written with; reads at or after the evolution
    * null-backfill the new columns (alignTo), time travel before it
    * shows the then-current schema (evolution is part of history), the
    * change feed across the boundary carries the WIDENED schema with
    * old values null-filled, and clones inherit their clone point's
    * schema. Added columns are stamped OPTIONAL (`graft.evolved`):
    * writers predating the evolution keep committing without them —
    * their upserts null-fill (batch rows are full-row replacements).
    * DROP COLUMN is the sibling metadata commit ([[dropColumn]]);
    * retyping stays refused — a type change rewrites the store
    * explicitly. Returns the evolution commit's version. */
  def addColumns(storeDir: String, newFields: Seq[StructField]): Long = {
    require(newFields.nonEmpty, "addColumns needs at least one new column")
    val latest = readHead(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir has no committed version to evolve"))
    if (!Files.exists(manifestsDir(storeDir).resolve(latest.toString)))
      throw new IllegalStateException(
        s"MergeSink: $storeDir@v$latest has no manifest — only bucketed " +
          "stores support metadata-only evolution")
    val parent = readSchema(storeDir, latest).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: no recorded schema for v$latest of $storeDir"))
    val dup = newFields.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    require(dup.isEmpty, s"duplicate new column(s): ${dup.mkString(", ")}")
    val clash = newFields.map(_.name).filter(parent.fieldNames.contains)
    require(clash.isEmpty,
      s"column(s) already exist on $storeDir: ${clash.mkString(", ")}")
    val version = latest + 1
    // PHYSICAL-collision guard (column mapping): a rename frees a
    // LOGICAL name but its files keep the physical one — and a DROP
    // retires its physical name forever (old files still carry the
    // orphan's data). A new column re-using either would collide in or
    // resolve to old data files. Stamp such a column with a fresh
    // unique physical name instead.
    val parentPhysical =
      parent.fields.map(physicalName).toSet ++ readDroppedPhysical(storeDir)
    val marked = newFields.map { f =>
      val mb = new MetadataBuilder()
        .withMetadata(f.metadata).putBoolean(EvolvedMark, true)
      if (parentPhysical.contains(f.name))
        mb.putString(PhysicalMark, s"${f.name}__c$version")
      f.copy(nullable = true, metadata = mb.build())
    }
    val next = StructType(parent.fields ++ marked)
    val claim = claimCommit(storeDir, version, latest, -1L)
    writeManifest(storeDir, version, readManifest(storeDir, latest),
      manifestNBuckets(storeDir, latest).orElse(effectiveNBuckets(storeDir)),
      readManifestDv(storeDir, latest))
    writeSchema(storeDir, version, next)
    verifyClaim(claim)
    writeLongAtomic(latestPath(storeDir), version)
    pruneCommitMarkers(storeDir)
    version
  }

  /** COLUMN MAPPING — metadata-only RENAME (a table format's
    * `ALTER TABLE … RENAME COLUMN`, the Delta column-mapping pattern;
    * VERDICT r14 #4): one CAS-claimed commit whose manifest is a COPY
    * of the parent's and whose schema moves the LOGICAL name while the
    * field's `graft.physical` metadata pins the name its data files
    * keep — so NO data moves at any store size. Time travel before the
    * rename shows the then-current name (the old schemas are
    * untouched); every read at or after it projects the stable
    * physical column to the new logical name ([[alignTo]]); the change
    * feed's row shape follows the read point's schema, and a RUNNING
    * feed subscriber keeps its stream-start shape until restart (the
    * ST10f evolution-grace pattern — the renamed column reads as the
    * withheld new name only after re-resolution). Writers at or after
    * the rename speak the new logical name; version dirs written
    * before it keep reading through their own schemas.
    *
    * Refused: renaming the KEY column (the bucketing contract and the
    * `_key` registry are keyed on it — rewrite the store explicitly
    * for that migration), renaming to an existing logical name, and
    * renaming a column that does not exist. DROP COLUMN is the sibling
    * metadata-only commit ([[dropColumn]]).
    * Returns the rename commit's version. */
  def renameColumn(storeDir: String, oldName: String, newName: String): Long = {
    require(oldName != newName, "rename needs two different names")
    val latest = readHead(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir has no committed version to evolve"))
    if (!Files.exists(manifestsDir(storeDir).resolve(latest.toString)))
      throw new IllegalStateException(
        s"MergeSink: $storeDir@v$latest has no manifest — only bucketed " +
          "stores support metadata-only evolution")
    val parent = readSchema(storeDir, latest).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: no recorded schema for v$latest of $storeDir"))
    require(parent.fieldNames.contains(oldName),
      s"MergeSink: no column '$oldName' on $storeDir " +
        s"(${parent.fieldNames.mkString(", ")})")
    require(!parent.fieldNames.contains(newName),
      s"MergeSink: column '$newName' already exists on $storeDir")
    val keyName = storedKeyName(storeDir).getOrElse(parent.fields.head.name)
    require(!keyCols(keyName).contains(oldName),
      s"MergeSink: '$oldName' is the store's KEY column — bucketing and " +
        "the key registry are keyed on it; a key migration is a rewrite " +
        "(read, re-key, write a fresh store), not a metadata commit")
    val next = StructType(parent.fields.map { f =>
      if (f.name != oldName) f
      else f.copy(name = newName, metadata = new MetadataBuilder()
        .withMetadata(f.metadata)
        .putString(PhysicalMark, physicalName(f)).build())
    })
    // a CHECK constraint's expression text references logical names —
    // a rename underneath it would silently disarm (or break) the
    // gate; refuse with the order-of-operations remedy
    val constrained = readConstraints(storeDir).filter { case (_, expr) =>
      try exprColumnNames(expr).contains(oldName)
      catch { case scala.util.control.NonFatal(_) => true } // unparsable: conservative
    }
    require(constrained.isEmpty,
      s"MergeSink: column '$oldName' is referenced by CHECK constraint(s) " +
        s"${constrained.map(_._1).mkString(", ")} on $storeDir — drop the " +
        "constraint, rename, then re-add it against the new name")
    val version = latest + 1
    val claim = claimCommit(storeDir, version, latest, -1L)
    try {
      writeManifest(storeDir, version, readManifest(storeDir, latest),
        manifestNBuckets(storeDir, latest).orElse(effectiveNBuckets(storeDir)),
        readManifestDv(storeDir, latest))
      writeSchema(storeDir, version, next)
      verifyClaim(claim)
      writeLongAtomic(latestPath(storeDir), version)
    } catch { case e: Throwable => releaseOwnClaim(claim); throw e }
    pruneCommitMarkers(storeDir)
    version
  }

  // ----- DROP COLUMN (VERDICT r15 #2) -----
  // With column mapping in place, physical names are stable identities
  // — so a DROP is metadata-only, exactly like Delta's column-mapping
  // drop: remove the field from the schema, keep every data file. The
  // orphaned PHYSICAL column is simply never projected again (alignTo
  // selects by the read point's schema); time travel before the drop
  // still shows it (old schemas are untouched, the data never moved);
  // compaction/erasure rewrites materialize the narrower schema and so
  // absorb the debt over time. The one global invariant: an orphaned
  // physical name may NEVER be reused — retained dirs still carry its
  // data, and a new column under that file name would read the
  // orphan's values. `_dropped` records every such name forever.

  private def droppedPath(storeDir: String) = Paths.get(storeDir, "_dropped")

  /** Physical file-column names orphaned by [[dropColumn]] — permanently
    * retired (see the invariant above). Append-only, tiny: one line per
    * drop over the store's lifetime. */
  private[graft] def readDroppedPhysical(storeDir: String): Set[String] = {
    val p = droppedPath(storeDir)
    if (!Files.exists(p)) return Set.empty
    try new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(decTok).toSet
    catch { case _: java.nio.file.NoSuchFileException => Set.empty }
  }

  private def appendDroppedPhysical(storeDir: String, name: String): Unit = {
    val next = readDroppedPhysical(storeDir) + name
    val body = "#dropped 1\n" + next.toSeq.sorted.map(encTok).mkString("\n")
    val tmp = droppedPath(storeDir).resolveSibling(".dropped.tmp." +
      (java.util.concurrent.ThreadLocalRandom.current().nextLong()
        & Long.MaxValue))
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, droppedPath(storeDir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** COLUMN MAPPING — metadata-only DROP COLUMN (`ALTER TABLE … DROP
    * COLUMN`; the reference's own planned obs reshape, ssidentity.c:
    * 25-26, is a drop-and-re-add migration): one CAS-claimed commit
    * whose manifest is a COPY of the parent's and whose schema omits
    * the field — NO data moves at any store size. Readers at or after
    * the drop never project the orphaned physical column; time travel
    * before it still shows the column with its data; the change feed's
    * row shape follows the read point's schema. The freed LOGICAL name
    * is immediately re-addable — [[addColumns]] assigns a fresh
    * physical name because the orphaned one is retired in `_dropped`
    * (readers of old files must never resolve a NEW column to OLD
    * data). Old writers still supplying the dropped column are refused
    * with the re-add remedy (the batch-evolution collision guard).
    *
    * Refused: dropping the KEY column (row identity — rewrite the
    * store for that migration), dropping a column a CHECK constraint
    * references (drop the constraint first), and unknown columns.
    * Returns the drop commit's version. */
  def dropColumn(storeDir: String, name: String): Long = {
    val latest = readHead(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir has no committed version to evolve"))
    if (!Files.exists(manifestsDir(storeDir).resolve(latest.toString)))
      throw new IllegalStateException(
        s"MergeSink: $storeDir@v$latest has no manifest — only bucketed " +
          "stores support metadata-only evolution")
    val parent = readSchema(storeDir, latest).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: no recorded schema for v$latest of $storeDir"))
    require(parent.fieldNames.contains(name),
      s"MergeSink: no column '$name' on $storeDir " +
        s"(${parent.fieldNames.mkString(", ")})")
    val keyName = storedKeyName(storeDir).getOrElse(parent.fields.head.name)
    require(!keyCols(keyName).contains(name),
      s"MergeSink: '$name' is the store's KEY column — row identity is " +
        "immutable; a key migration is a rewrite (read, re-key, write a " +
        "fresh store), not a metadata commit")
    val constrained = readConstraints(storeDir).filter { case (_, expr) =>
      try exprColumnNames(expr).contains(name)
      catch { case scala.util.control.NonFatal(_) => true } // unparsable: conservative
    }
    require(constrained.isEmpty,
      s"MergeSink: column '$name' is referenced by CHECK constraint(s) " +
        s"${constrained.map(_._1).mkString(", ")} on $storeDir — drop the " +
        "constraint(s) first, then the column")
    val dropee = parent.fields.find(_.name == name).get
    val next = StructType(parent.fields.filterNot(_.name == name))
    val version = latest + 1
    val claim = claimCommit(storeDir, version, latest, -1L)
    try {
      // retire the orphaned physical name BEFORE the commit publishes:
      // a crash between the append and the swap leaves a retired-but-
      // live name — conservative (a future add gets a fresh physical
      // where none was strictly needed), never the reverse
      appendDroppedPhysical(storeDir, physicalName(dropee))
      writeManifest(storeDir, version, readManifest(storeDir, latest),
        manifestNBuckets(storeDir, latest).orElse(effectiveNBuckets(storeDir)),
        readManifestDv(storeDir, latest))
      writeSchema(storeDir, version, next)
      verifyClaim(claim)
      writeLongAtomic(latestPath(storeDir), version)
    } catch { case e: Throwable => releaseOwnClaim(claim); throw e }
    pruneCommitMarkers(storeDir)
    version
  }

  // ----- WRITE-PATH CONSTRAINTS (VERDICT r14 #5) -----
  // The reference enforces P5 validity AT INGEST (rssi/range gates,
  // ssidentity.c:155-156); the store promotes that to a declared,
  // registry-recorded CHECK gate VALIDATED INSIDE EVERY COMMIT: a
  // violating batch refuses atomically — no claim survives, nothing
  // publishes, the first offending row is named. SQL standard NULL
  // semantics: a CHECK is violated only when its expression is FALSE
  // (NULL passes — state NOT NULL explicitly: CHECK (c IS NOT NULL)).
  // Delete rows are exempt (their value columns are tombstone nulls by
  // protocol; a delete stores nothing). ADD CONSTRAINT is itself a
  // CAS-claimed commit that first proves the EXISTING data satisfies
  // the gate under the claim — so a concurrent batch either landed
  // before (the scan sees it) or claims after (the gate enforces it);
  // there is no window where a violating row slips past activation.

  private def constraintsPath(storeDir: String) =
    Paths.get(storeDir, "_constraints")
  private def constraintsVersionsDir(storeDir: String) =
    Paths.get(storeDir, "_constraintsv")

  private def encTok(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def decTok(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** (name, CHECK expression SQL text), in declaration order. */
  def readConstraints(storeDir: String): Seq[(String, String)] = {
    val p = constraintsPath(storeDir)
    if (!Files.exists(p)) return Nil
    try new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, e) = l.split(' ')
        (decTok(n), decTok(e))
      }.toSeq
    catch { case _: java.nio.file.NoSuchFileException => Nil }
  }

  private def writeConstraints(storeDir: String,
      cs: Seq[(String, String)]): Unit = {
    val body = "#constraints 1\n" + cs.map { case (n, e) =>
      s"${encTok(n)} ${encTok(e)}" }.mkString("\n")
    val tmp = constraintsPath(storeDir).resolveSibling(".constraints.tmp." +
      (java.util.concurrent.ThreadLocalRandom.current().nextLong()
        & Long.MaxValue))
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, constraintsPath(storeDir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** VERSIONED constraint state — `_constraintsv/<version>` records the
    * full gate list as of each constraint-CHANGING commit, so RESTORE
    * can reset enforcement to exactly what history shows at the restore
    * point (a table format keeps constraints in versioned table
    * metadata; the singleton `_constraints` alone made the gate
    * invisible to time travel). Records are written only when the list
    * changes — the state at any version v is the newest record ≤ v.
    * LEGACY BACKFILL: the first versioned record on a store that
    * already carries singleton constraints also writes their list at
    * version 0 ("always present") — conservative in the armed
    * direction, since their true add-version predates the history. */
  private def writeConstraintsAt(storeDir: String, version: Long,
      cs: Seq[(String, String)], legacyExisting: Seq[(String, String)]): Unit = {
    val dir = constraintsVersionsDir(storeDir)
    val first = !Files.exists(dir)
    Files.createDirectories(dir)
    if (first && legacyExisting.nonEmpty && version > 0)
      Files.write(dir.resolve("0"), constraintsBody(legacyExisting))
    val tmp = dir.resolve(s".${version}.tmp." +
      (java.util.concurrent.ThreadLocalRandom.current().nextLong()
        & Long.MaxValue))
    Files.write(tmp, constraintsBody(cs))
    Files.move(tmp, dir.resolve(version.toString),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def constraintsBody(cs: Seq[(String, String)]): Array[Byte] =
    ("#constraints 1\n" + cs.map { case (n, e) =>
      s"${encTok(n)} ${encTok(e)}" }.mkString("\n"))
      .getBytes(StandardCharsets.UTF_8)

  /** The constraint list in force AT `version`: the newest versioned
    * record at or before it (Nil = records exist but none that early —
    * the store provably had no gates then). None = the store has no
    * versioned constraint history at all (every gate predates it);
    * callers leave the singleton untouched. */
  private[graft] def constraintsAt(storeDir: String,
      version: Long): Option[Seq[(String, String)]] = {
    val dir = constraintsVersionsDir(storeDir)
    if (!Files.exists(dir)) return None
    val s0 = Files.list(dir)
    val at = try s0.iterator().asScala.map(_.getFileName.toString)
      .flatMap(_.toLongOption).filter(_ <= version).maxOption
    finally s0.close()
    Some(at match {
      case None => Nil
      case Some(v) =>
        new String(Files.readAllBytes(dir.resolve(v.toString)),
          StandardCharsets.UTF_8)
          .linesIterator.filter(l => l.nonEmpty && !l.startsWith("#"))
          .map { l =>
            val Array(n, e) = l.split(' ')
            (decTok(n), decTok(e))
          }.toSeq
    })
  }

  /** Violated iff the expression is FALSE (SQL constraint semantics). */
  private def violationCond(expr: String): Column =
    !coalesce(org.apache.spark.sql.functions.expr(expr), lit(true))

  /** Top-level column names an expression text references. */
  private def exprColumnNames(expr: String): Set[String] =
    SparkSession.active.sessionState.sqlParser.parseExpression(expr)
      .collect { case a: org.apache.spark.sql.catalyst.analysis
        .UnresolvedAttribute => a.nameParts.head }.toSet

  /** `ALTER TABLE … ADD CONSTRAINT <name> CHECK (<expr>)`: validate
    * the head snapshot under a CAS claim, record the gate, publish a
    * metadata commit (visible in history like any evolution). Refuses
    * when existing data violates (first offending row named), when the
    * name is taken, or when the expression does not parse/resolve. */
  def addConstraint(spark: SparkSession, storeDir: String, name: String,
      checkExpr: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be a plain identifier (got '$name')")
    val existing = readConstraints(storeDir)
    require(!existing.exists(_._1 == name),
      s"MergeSink: constraint '$name' already exists on $storeDir")
    val latest = readHead(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir has no committed version to constrain"))
    if (!Files.exists(manifestsDir(storeDir).resolve(latest.toString)))
      throw new IllegalStateException(
        s"MergeSink: $storeDir@v$latest has no manifest — only bucketed " +
          "stores support constraints")
    val version = latest + 1
    val claim = claimCommit(storeDir, version, latest, -1L)
    var registryMoved = false
    try {
      // the validation scan can exceed the takeover lease on a large
      // store — HEARTBEAT like every other long-holding commit, so the
      // slot is never captured out from under a live adder
      withClaimHeartbeat(claim) {
        // the EXISTING data must already satisfy the gate — scanned
        // under the claim, so no concurrent commit can slip a violating
        // row between this proof and the activation
        val bad = snapshotPruned(spark, storeDir, Some(latest), None)
          .filter(violationCond(checkExpr)).limit(1).collect()
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"MergeSink: existing row ${bad.head} of $storeDir violates " +
              s"CHECK ($checkExpr) — constraint '$name' not added; clean " +
              "the data (or state a weaker gate) first")
        // re-verify BEFORE any REPLACE_EXISTING metadata write: a scan
        // stalled past the lease despite the heartbeat (GC/VM freeze)
        // must not overwrite a usurper's already-published
        // _manifests/<v> and _schemas/<v> with the parent's content
        verifyClaim(claim)
        val next = existing :+ (name -> checkExpr)
        writeConstraints(storeDir, next)
        registryMoved = true
        writeConstraintsAt(storeDir, version, next, existing)
        writeManifest(storeDir, version, readManifest(storeDir, latest),
          manifestNBuckets(storeDir, latest).orElse(effectiveNBuckets(storeDir)),
          readManifestDv(storeDir, latest))
        writeSchema(storeDir, version, readSchema(storeDir, latest).getOrElse(
          throw new IllegalStateException(
            s"MergeSink: no recorded schema for v$latest of $storeDir")))
        verifyClaim(claim)
        writeLongAtomic(latestPath(storeDir), version)
      }
    } catch {
      case e: Throwable =>
        // a failed activation must not leave the gate armed with no
        // published commit — restore the prior registry state (and the
        // unpublished versioned record) before rethrowing
        if (registryMoved) {
          try writeConstraints(storeDir, existing)
          catch { case _: java.io.IOException => () }
          try Files.deleteIfExists(
            constraintsVersionsDir(storeDir).resolve(version.toString))
          catch { case _: java.io.IOException => () }
        }
        releaseOwnClaim(claim); throw e
    }
    pruneCommitMarkers(storeDir)
    version
  }

  /** `ALTER TABLE … DROP CONSTRAINT <name>` — a metadata commit (the
    * deactivation is part of history). Refuses an unknown name. */
  def dropConstraint(storeDir: String, name: String): Long = {
    val existing = readConstraints(storeDir)
    require(existing.exists(_._1 == name),
      s"MergeSink: no constraint '$name' on $storeDir " +
        s"(have: ${existing.map(_._1).mkString(", ")})")
    val latest = readHead(storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir has no committed version"))
    val version = latest + 1
    val claim = claimCommit(storeDir, version, latest, -1L)
    var registryMoved = false
    try {
      val next = existing.filterNot(_._1 == name)
      writeConstraints(storeDir, next)
      registryMoved = true
      writeConstraintsAt(storeDir, version, next, existing)
      writeManifest(storeDir, version, readManifest(storeDir, latest),
        manifestNBuckets(storeDir, latest).orElse(effectiveNBuckets(storeDir)),
        readManifestDv(storeDir, latest))
      writeSchema(storeDir, version, readSchema(storeDir, latest).getOrElse(
        throw new IllegalStateException(
          s"MergeSink: no recorded schema for v$latest of $storeDir")))
      verifyClaim(claim)
      writeLongAtomic(latestPath(storeDir), version)
    } catch {
      case e: Throwable =>
        // a drop whose commit failed must not leave the gate DISARMED
        // while history still shows the constraint — restore the prior
        // registry state before rethrowing
        if (registryMoved) {
          try writeConstraints(storeDir, existing)
          catch { case _: java.io.IOException => () }
          try Files.deleteIfExists(
            constraintsVersionsDir(storeDir).resolve(version.toString))
          catch { case _: java.io.IOException => () }
        }
        releaseOwnClaim(claim); throw e
    }
    pruneCommitMarkers(storeDir)
    version
  }

  /** The commit-side gate: refuse a batch whose UPSERT rows violate
    * any recorded constraint — BEFORE any claim, so nothing publishes
    * and replay state is untouched. One combined O(batch) pass on the
    * no-violation path; the per-constraint walk to NAME the offender
    * runs only on failure. */
  private def enforceConstraints(batchEff: DataFrame, opCol: String,
      storeDir: String): Unit = {
    val cs = readConstraints(storeDir)
    if (cs.isEmpty) return
    val upserts = batchEff.filter(col(opCol) === "upsert")
    val combined = cs.map(c => violationCond(c._2)).reduce(_ || _)
    if (upserts.filter(combined).limit(1).collect().nonEmpty) {
      cs.foreach { case (n, e) =>
        val bad = upserts.filter(violationCond(e)).limit(1).collect()
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"MergeSink: batch row ${bad.head} violates constraint " +
              s"'$n' (CHECK ($e)) on $storeDir — the commit was refused " +
              "atomically; nothing was published")
      }
    }
  }

  /** Maintenance: rewrite every live bucket into ONE new version, so
    * the read path goes back to a single pruned scan regardless of how
    * many small batches fragmented the manifest (a table format's
    * compaction / rewrite-data-files). Content is bit-identical; the
    * old versions become dead and a following [[vacuumBucketedStore]]
    * reclaims them. A no-op (returns None) when zero or one version is
    * live. Runs from the single writer — the CAS refuses it if a batch
    * lands concurrently, and refuses the batch if compaction wins. */
  def compactBucketedStore(spark: SparkSession, storeDir: String): Option[Long] =
    rewriteAll(spark, storeDir, None)

  /** BUCKET-SCOPED compaction — rewrite ONLY `buckets` into one new
    * version (each to a single key-sorted file), leaving every other
    * bucket on its current owner: the 100 TB answer to ONE hot bucket
    * accumulating small files while ten thousand cold ones are
    * perfectly compact. [[compactBucketedStore]] pays O(store) for
    * that; this pays O(selected buckets) — the same partial-rewrite
    * economics as the batch path itself, and what [[maintainStore]]
    * now uses when fragmentation (not manifest fan-out) is the
    * trigger. Rows sort by the key within each rewritten bucket, so
    * parquet row-group min/max statistics prune key ranges inside the
    * new file. Content is bit-identical; a normal CAS-claimed
    * maintenance commit. Returns the new version, or None when no
    * selected bucket is live. */
  def compactBuckets(spark: SparkSession, storeDir: String,
      buckets: Set[Long]): Option[Long] = {
    require(buckets.nonEmpty, "compactBuckets needs at least one bucket")
    val latest = readHead(storeDir).getOrElse(return None)
    val manifest = readManifest(storeDir, latest)
    val selected = buckets.intersect(manifest.keySet)
    if (selected.isEmpty) return None
    val target = readSchema(storeDir, latest).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: $storeDir has no recorded schema — only stores written " +
          "by the schema-registry protocol can be compacted"))
    val keyNames = storedKeyFields(storeDir, target).map(_.name)
    val version = latest + 1
    val claim = claimCommit(storeDir, version, latest, -1L) // maintenance commit
    try {
      val dvm = readManifestDv(storeDir, latest)
      val keyFields = storedKeyFields(storeDir, target)
      val physKeys = keyFields.map(physicalName)
      val byGroup = manifest.view.filterKeys(selected).toMap
        .groupBy { case (b, o) => (o, dvm.get(b)) }
      // bucket membership is hash-determined and UNCHANGED — rows keep
      // the `_bucket` their dir assigned (pure compaction, like
      // rewriteAll's newNBuckets=None path; no per-row re-hash). The
      // read goes THROUGH the deletion vectors — compaction is exactly
      // where the DV debt materializes and clears.
      val current = byGroup.toSeq
        .sortBy { case ((v, w), _) => (v, w.getOrElse(-1L)) }
        .map { case ((v, dvv), entries) =>
          val bs = entries.keys.toSeq
          val df0 = scanBuckets(spark, storeDir, v, bs)
          val df = dvv.fold(df0)(w => applyDv(df0,
            dvKeysFrame(spark, storeDir, bs.map(_ -> w).toMap,
              keyFields), physKeys))
          alignToWith(df, target, col("_bucket"))
        }.reduce(_ unionByName _)
      // one file per rewritten bucket, key-clustered inside it
      val out = toPhysical(current.repartition(col("_bucket"))
        .sortWithinPartitions(col("_bucket") +: keyNames.map(col): _*),
        target)
      val survivors = withClaimHeartbeat(claim) {
        publishVersionDir(storeDir, version, claim) { stage =>
          out.write.mode("overwrite").partitionBy("_bucket").parquet(stage)
          val s0 = Files.list(Paths.get(stage))
          try s0.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("_bucket="))
            .map(_.stripPrefix("_bucket=").toLong).toList.sorted
          finally s0.close()
        }
      }
      writeManifest(storeDir, version,
        manifest -- selected ++ survivors.map(_ -> version),
        manifestNBuckets(storeDir, latest).orElse(effectiveNBuckets(storeDir)),
        dvm -- selected) // rewritten buckets materialized through their DVs
      writeSchema(storeDir, version, target)
      verifyClaim(claim)
      writeLongAtomic(latestPath(storeDir), version)
    } catch { case e: Throwable => releaseOwnClaim(claim); throw e }
    pruneCommitMarkers(storeDir)
    Some(version)
  }

  /** Maintenance: re-hash every key into `newNBuckets` buckets and
    * rewrite the store as one new version — the sanctioned migration
    * when a store outgrows its creation-time bucket count. Readers are
    * oblivious (the manifest names whatever buckets exist); writers
    * must switch to the new count (enforced by the `_nbuckets` check).
    * Returns the new version, or None on an empty/missing store with
    * nothing to move (the recorded count still updates so the next
    * writer adopts it). */
  def rebucketStore(spark: SparkSession, storeDir: String,
      newNBuckets: Int): Option[Long] = {
    require(newNBuckets >= 1, s"newNBuckets must be >= 1 (got $newNBuckets)")
    rewriteAll(spark, storeDir, Some(newNBuckets))
  }

  /** Maintenance: OPTIMIZE ... ZORDER BY — compact the store AND sort
    * each bucket's rows by `orderBy` (pass `ZOrder.zValue`/
    * `hilbertIndex` of the hot filter columns for multi-dimensional
    * locality, or plain columns for single-key clustering). Bucket
    * membership is hash-determined and unchanged; the win is INSIDE
    * each rewritten file: parquet writes column-chunk min/max over
    * row groups, so a clustered file's statistics prune at row-group
    * granularity and range scans touch contiguous bytes. Unlike
    * [[compactBucketedStore]] this never no-ops on an already-compact
    * store — re-sorting is the point. Content is bit-identical
    * (sorting is a permutation); one new CAS-claimed maintenance
    * commit, dead versions reclaimed by the next vacuum. */
  def optimizeStore(spark: SparkSession, storeDir: String,
      orderBy: Seq[Column]): Option[Long] = {
    require(orderBy.nonEmpty, "optimizeStore needs at least one order column")
    rewriteAll(spark, storeDir, None, orderBy)
  }

  /** Shared body of compaction and re-bucketing: one full-store read,
    * one partitioned write, one commit. `newNBuckets = None` keeps the
    * existing bucket assignment (pure compaction — no hashing, rows
    * move dirs, not buckets); `Some(n)` re-derives `_bucket` from the
    * key column recorded in the schema's FIRST field. */
  private def rewriteAll(spark: SparkSession, storeDir: String,
      newNBuckets: Option[Int], sortCols: Seq[Column] = Nil): Option[Long] = {
    val latest = readHead(storeDir).getOrElse {
      newNBuckets.foreach(n => writeLongAtomic(nBucketsPath(storeDir), n.toLong))
      return None
    }
    val manifest = readManifest(storeDir, latest)
    val liveVersions = manifest.values.toSet
    // plain compaction no-ops when already compact; an OPTIMIZE (sort)
    // rewrite never does — re-clustering compact files is its job.
    // Pending DELETION VECTORS also force the rewrite: materializing
    // (and clearing) them is exactly the debt compaction absorbs.
    if (newNBuckets.isEmpty && sortCols.isEmpty && liveVersions.size <= 1 &&
        readManifestDv(storeDir, latest).isEmpty)
      return None
    val target = readSchema(storeDir, latest).getOrElse(
      throw new IllegalStateException(
        s"MergeSink: $storeDir has no recorded schema — only stores written " +
          "by the schema-registry protocol can be compacted/rebucketed"))
    // the REBUCKET hash must cover the full (possibly compound) key
    // tuple — the registry records it; pre-registry stores are
    // first-field single-key by construction
    val keyCol = storedKeyName(storeDir)
      .getOrElse(target.fields.head.name)
    if (manifest.isEmpty) {
      newNBuckets.foreach(n => writeLongAtomic(nBucketsPath(storeDir), n.toLong))
      return None
    }
    val version = latest + 1
    val claim = claimCommit(storeDir, version, latest, -1L) // maintenance commit
    val dvm = readManifestDv(storeDir, latest)
    val keyFields = storedKeyFields(storeDir, target)
    val physKeys = keyFields.map(physicalName)
    val byGroup = manifest.groupBy { case (b, o) => (o, dvm.get(b)) }
    val current = byGroup.toSeq
      .sortBy { case ((v, w), _) => (v, w.getOrElse(-1L)) }
      .map { case ((v, dvv), entries) =>
        val buckets = entries.keys.toSeq
        // keyCol == its physical name (key renames refused), so the
        // rebucket hash reads it off the raw physical frame directly.
        // The read goes THROUGH the deletion vectors (the rewrite
        // materializes them; the new manifest carries none).
        val bucket = newNBuckets.map(n => bucketOf(keyCol, n)).getOrElse(col("_bucket"))
        val df0 = scanBuckets(spark, storeDir, v, buckets)
        val df = dvv.fold(df0)(w => applyDv(df0,
          dvKeysFrame(spark, storeDir, buckets.map(_ -> w).toMap,
            keyFields), physKeys))
        alignToWith(df, target, bucket)
      }.reduce(_ unionByName _)
    // cluster by `_bucket` so the rewrite lands as ONE file per bucket
    // — defragmenting is the point of compaction, and rebucketing's
    // re-derived `_bucket` is uncorrelated with the input file layout.
    // Sort expressions speak LOGICAL names (the user's OPTIMIZE ZORDER
    // columns); the physical projection happens at the write boundary.
    val clustered = current.repartition(col("_bucket"))
    val out = toPhysical(if (sortCols.isEmpty) clustered
      else clustered.sortWithinPartitions(col("_bucket") +: sortCols: _*),
      target)
    val buckets = withClaimHeartbeat(claim) {
      publishVersionDir(storeDir, version, claim) { stage =>
        out.write.mode("overwrite").partitionBy("_bucket").parquet(stage)
        val s = Files.list(Paths.get(stage))
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_bucket=")).map(_.stripPrefix("_bucket=").toLong)
          .toList.sorted
        finally s.close()
      }
    }
    writeManifest(storeDir, version, buckets.map(_ -> version).toMap,
      newNBuckets.map(_.toLong).orElse(effectiveNBuckets(storeDir)),
      Map.empty) // the full rewrite materialized every deletion vector
    writeSchema(storeDir, version, target)
    // registry writes sit BETWEEN the verify and the swap: writing the
    // new bucket count before the verify left a usurped rebucket's
    // registry on the NEW count while `_latest` stayed on the OLD
    // layout. The residual window this once carried is CLOSED by the
    // layout signature: the manifest written above records the new
    // count and publishes atomically with the version, readers and
    // writers prefer the PUBLISHED head's signature over `_nbuckets`
    // (effectiveNBuckets), and requireNBuckets heals a registry the
    // swap outran — `_nbuckets` is now a cache, not an authority.
    verifyClaim(claim)
    newNBuckets.foreach { n =>
      writeLongAtomic(nBucketsPath(storeDir), n.toLong)
      // erasure's rebucket-aware scope: dirs BELOW this version were
      // written under the old bucket count and must rewrite every
      // bucket they have (monotone max — floors never move back)
      val fl = Paths.get(storeDir, "_rebucket_floor")
      if (readLong(fl).forall(_ < version)) writeLongAtomic(fl, version)
    }
    writeLongAtomic(latestPath(storeDir), version)
    pruneCommitMarkers(storeDir)
    Some(version)
  }

  /** Vacuum: delete version dirs no LIVE bucket references (a table
    * format's expire-snapshots). Only versions strictly BEFORE the
    * current one are candidates — the current version dir stays even
    * if every bucket has already moved past it, so a reader that
    * resolved `_latest` just before the vacuum can still finish its
    * scan. Manifests, schemas and commit markers are kept for every
    * retained version and dropped with the dirs they describe (pruned
    * markers fold into the `_horizon` watermark so stale writers still
    * fail loudly). Returns the versions removed. Safe to run any time
    * from the single writer (concurrent writers are already excluded
    * by the CAS).
    *
    * RETENTION POLICY (what makes time travel, the change feed, and
    * erasure auditing operationally usable — every table format ships
    * one): `retainLast` = keep the newest N versions' read points
    * materializable regardless of liveness (their dirs survive even
    * when every bucket moved past them); `retainMillis` = keep any
    * version whose COMMIT is younger than this (age = the manifest
    * file's mtime, written at commit; falls back to the dir's own
    * mtime for pre-manifest stores). A version inside either window is
    * refused reclamation; outside both, liveness still rules — a dir
    * a live bucket references is NEVER reclaimed no matter how old.
    * Defaults (0, 0) are the original liveness-only behavior. Size the
    * windows to the slowest time-travel reader / feed subscriber;
    * reads past the horizon keep failing loudly, never partially.
    *
    * `dryRun = true` reports what WOULD be reclaimed (the vacuum-yield
    * half of the [[storeStats]] advisor) without touching anything —
    * no dirs, manifests, markers or horizon move. */
  def vacuumBucketedStore(storeDir: String, retainLast: Int = 0,
      retainMillis: Long = 0L, dryRun: Boolean = false): Seq[Long] = {
    require(retainLast >= 0, s"retainLast must be >= 0 (got $retainLast)")
    require(retainMillis >= 0, s"retainMillis must be >= 0 (got $retainMillis)")
    val latest = readHead(storeDir).getOrElse(return Seq.empty)
    // SOURCE-side clone protection: a registered shallow clone
    // references this store's dirs by number — retain every dir its
    // clone-point manifest names (plus the manifest itself) until
    // [[releaseClone]]. An UNREADABLE clone point falls back to
    // retaining everything at or below it, carried as a PREDICATE
    // (v <= cloneFloor) threaded into the dead-filter — never a
    // materialized range: version numbers grow without bound and
    // boxing (0..k) would OOM the driver on the path that is supposed
    // to be the fail-safe.
    val (cloneKeep: Set[Long], cloneFloor: Long) = {
      val cd = clonesDir(storeDir)
      if (!Files.exists(cd)) (Set.empty[Long], Long.MinValue)
      else {
        val s0 = Files.list(cd)
        val points = try s0.iterator().asScala.toList.flatMap(p => readLong(p))
          finally s0.close()
        val (readable, unreadable) = points.partition(k =>
          Files.exists(manifestsDir(storeDir).resolve(k.toString)))
        (readable.flatMap(k => readManifest(storeDir, k).values.toSet ++
            readManifestDv(storeDir, k).values + k).toSet,
          if (unreadable.isEmpty) Long.MinValue else unreadable.max)
      }
    }
    val versions = {
      val s = Files.list(Paths.get(storeDir))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v")).flatMap(_.drop(1).toLongOption).toList
      finally s.close()
    }
    val now = System.currentTimeMillis()
    def youngerThanWindow(v: Long): Boolean = retainMillis > 0L && {
      val manifest = manifestsDir(storeDir).resolve(v.toString)
      val stamp = if (Files.exists(manifest)) manifest
        else Paths.get(storeDir, s"v$v")
      now - Files.getLastModifiedTime(stamp).toMillis < retainMillis
    }
    // A version inside either retention window is a PROTECTED read
    // point and the contract says it stays MATERIALIZABLE — which means
    // every dir its MANIFEST references survives, not merely its own
    // dir: buckets untouched since that version keep older owner dirs
    // that are dead by head-liveness and outside the window by their
    // own number. Union the manifests of all protected versions into
    // the live set (exactly what cloneKeep already does for clone
    // points); exempting protected versions only by their own number
    // would permanently break a retained read point — and any feed
    // subscriber sized to the retention window — in any multi-bucket
    // store. Cost: O(protected versions) manifest reads, all driver-
    // side metadata.
    val protectedKeep: Set[Long] =
      if (retainLast == 0 && retainMillis == 0L) Set.empty
      else {
        val md = manifestsDir(storeDir)
        val manifestVersions =
          if (!Files.exists(md)) List.empty[Long]
          else {
            val s0 = Files.list(md)
            try s0.iterator().asScala.map(_.getFileName.toString)
              .flatMap(_.toLongOption).toList
            finally s0.close()
          }
        manifestVersions
          .filter(v => v < latest &&
            (v > latest - retainLast || youngerThanWindow(v)))
          .flatMap(v => readManifest(storeDir, v).values.toSet ++
            readManifestDv(storeDir, v).values + v).toSet
      }
    // `live` carries BOTH data-dir owners and deletion-vector versions:
    // the two number spaces never collide (a commit either wrote a
    // v-dir or a _dv dir, never both), so one set serves both sweeps
    val live = readManifest(storeDir, latest).values.toSet ++
      readManifestDv(storeDir, latest).values + latest ++
      cloneKeep ++ protectedKeep
    val dead = versions.filter(v => v < latest && !live.contains(v) &&
      v > cloneFloor &&
      v <= latest - retainLast && !youngerThanWindow(v)).sorted
    if (dryRun) return dead
    // CLONE-side localization: a read point whose data resolves through
    // the origin (no local dir for itself or a referenced version) pins
    // this branch to its source; outside the retention windows it is
    // reclaimed like a dead dir — after one compaction this leaves the
    // branch fully LOCAL (erasure requires that, see eraseKeys)
    if (Files.exists(originPath(storeDir)) && Files.exists(manifestsDir(storeDir))) {
      val ms = {
        val s0 = Files.list(manifestsDir(storeDir))
        try s0.iterator().asScala.map(_.getFileName.toString)
          .flatMap(_.toLongOption).toList.sorted
        finally s0.close()
      }
      ms.filter(m => m < latest && m <= latest - retainLast &&
          !youngerThanWindow(m) &&
          !Files.exists(Paths.get(storeDir, s"v$m")) &&
          readManifest(storeDir, m).values
            .exists(v => !Files.exists(Paths.get(storeDir, s"v$v"))))
        .foreach { m =>
          Files.deleteIfExists(manifestsDir(storeDir).resolve(m.toString))
          Files.deleteIfExists(schemasDir(storeDir).resolve(m.toString))
          Files.deleteIfExists(commitsDir(storeDir).resolve(m.toString))
        }
    }
    if (dead.nonEmpty) {
      val cd = commitsDir(storeDir)
      Files.createDirectories(cd)
      val horizon = math.max(dead.max,
        readLong(cd.resolve("_horizon")).getOrElse(Long.MinValue))
      writeLongAtomic(cd.resolve("_horizon"), horizon)
    }
    dead.foreach { v =>
      val p = Paths.get(storeDir, s"v$v")
      if (Files.exists(p)) Files.deleteTree(p)
      Files.deleteIfExists(manifestsDir(storeDir).resolve(v.toString))
      Files.deleteIfExists(schemasDir(storeDir).resolve(v.toString))
      Files.deleteIfExists(commitsDir(storeDir).resolve(v.toString))
      Files.deleteIfExists(statsDir(storeDir).resolve(v.toString))
    }
    // DELETION-VECTOR dirs reclaim by the SAME liveness rule: a
    // `_dv/<w>` no retained read point references (head, protected
    // windows, clone points — all folded into `live` above) is dead
    // with its commit's metadata. A lingering unprotected manifest
    // that still names it fails LOUDLY on read, exactly like a
    // reclaimed data dir.
    if (Files.exists(dvRootDir(storeDir))) {
      val dvDirsAll = {
        val s0 = Files.list(dvRootDir(storeDir))
        try s0.iterator().asScala.map(_.getFileName.toString)
          .flatMap(_.toLongOption).toList
        finally s0.close()
      }
      dvDirsAll.filter(w => w < latest && !live.contains(w) &&
          w > cloneFloor &&
          w <= latest - retainLast && !youngerThanWindow(w)).sorted
        .foreach { w =>
          Files.deleteTree(dvRootDir(storeDir).resolve(w.toString))
          Files.deleteIfExists(manifestsDir(storeDir).resolve(w.toString))
          Files.deleteIfExists(schemasDir(storeDir).resolve(w.toString))
          Files.deleteIfExists(commitsDir(storeDir).resolve(w.toString))
        }
    }
    dead
  }

  /** Vacuum for PLAIN-protocol stores ([[applyBatch]] /
    * [[applyFeedToView]]'s view stores — every version dir is the FULL
    * state, so any dir below the head is pure history): delete version
    * dirs older than the newest `retainLast`, with their schemas and
    * commit markers folded into the pruning horizon exactly like the
    * bucketed vacuum. The gap this closes is UNBOUNDED VIEW GROWTH —
    * a months-running IVM view writes one full snapshot per delivered
    * range and nothing ever reclaimed them ([[maintainAggView]] now
    * takes a retention knob that calls this per trigger). `retainLast`
    * ≥ 1 always — the head IS the store; the HEAD's marker is also
    * always kept (the view-apply crash guard reads it). Refuses
    * bucketed stores (their dirs stay live through manifests — use
    * [[vacuumBucketedStore]]). Returns the versions reclaimed. */
  def vacuumPlainStore(storeDir: String, retainLast: Int = 1,
      dryRun: Boolean = false): Seq[Long] = {
    require(retainLast >= 1, s"retainLast must be >= 1 (got $retainLast)")
    val latest = readHead(storeDir).getOrElse(return Seq.empty)
    if (Files.exists(manifestsDir(storeDir)))
      throw new IllegalArgumentException(
        s"MergeSink: $storeDir is a bucketed store — its old dirs may be " +
          "LIVE through manifests; use vacuumBucketedStore")
    val versions = {
      val s = Files.list(Paths.get(storeDir))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v")).flatMap(_.drop(1).toLongOption).toList
      finally s.close()
    }
    val dead = versions.filter(v => v <= latest - retainLast).sorted
    if (dead.isEmpty || dryRun) return dead
    val cd = commitsDir(storeDir)
    Files.createDirectories(cd)
    val horizon = math.max(dead.max,
      readLong(cd.resolve("_horizon")).getOrElse(Long.MinValue))
    writeLongAtomic(cd.resolve("_horizon"), horizon)
    dead.foreach { v =>
      val p = Paths.get(storeDir, s"v$v")
      if (Files.exists(p)) Files.deleteTree(p)
      Files.deleteIfExists(schemasDir(storeDir).resolve(v.toString))
      Files.deleteIfExists(cd.resolve(v.toString))
      Files.deleteIfExists(statsDir(storeDir).resolve(v.toString))
    }
    dead
  }

  // ------------------------------------------------------------------
  // Store as a STREAMING SOURCE: the change-feed subscription
  // ------------------------------------------------------------------
  //
  // The store can be written (MERGE sink), read (snapshots, time
  // travel) and diffed (storeChangesBetween) — this section makes it
  // SUBSCRIBABLE: the Delta-CDF `readStream` analogue the "Tracking /
  // Arrival alerts" consumer (reference README.md:19) wants, a live
  // feed of store changes instead of polled diffs. Per trigger the
  // subscription delivers `storeChangesBetween(lastSeen, min(latest,
  // lastSeen + versionsPerTrigger))` and then durably advances the
  // subscriber's offset — Kafka-consumer-group style, one offset file
  // per named subscriber under `storeDir/_subscribers/`.
  //
  // Delivery is AT-LEAST-ONCE (a crash between the handler and the
  // offset write redelivers the range), upgraded to exactly-once
  // effect by an idempotent handler — the standard foreachBatch
  // contract, and [[maintainAggView]] below shows the pattern (its
  // view store dedups on the delivered `to` version). The feed is a
  // RANGE diff: net changes over (from, to], so a key that changed
  // and changed back inside one trigger reports nothing — exactly the
  // algebra delta-maintenance wants (deltas compose), and what keeps
  // a lagging subscriber's catch-up O(changed buckets), not O(commits).
  // Vacuum bounds the feed like every historical read: a subscriber
  // whose `from` read point ages out fails LOUDLY on its next poll —
  // size [[vacuumBucketedStore]]'s retention to the slowest subscriber.

  private def subscribersDir(storeDir: String) = Paths.get(storeDir, "_subscribers")

  /** A named subscriber's durable read position: the last store version
    * whose changes it has fully processed. None before its first poll. */
  def subscriberOffset(storeDir: String, subscriber: String): Option[Long] =
    readLong(subscribersDir(storeDir).resolve(subscriber))

  /** One poll of the change feed: deliver the typed changes
    * `(from, min(latest, from + versionsPerTrigger)]` to `handler`
    * (arguments: changes frame, fromVersion, toVersion), then durably
    * advance the subscriber offset. A subscriber polling for the first
    * time starts at `startAtVersion`: the default (CURRENT latest)
    * subscribes to future changes only; Some(0) consumes changes SINCE
    * v0 (v0's own content is the diff base, never delivered); Some(-1)
    * consumes from BEFORE history — the first delivery is the store's
    * full state at the range end, shaped as `insert` changes (a table
    * format's `startingVersion = 0` CDF semantics), and every later
    * delivery is a normal range diff. The start position is recorded
    * without delivering. Returns true iff a range was delivered —
    * false means caught-up (or an empty store). Public so tests and
    * non-streaming consumers can drive the subscription
    * deterministically; [[changeFeedStream]] wires it to a Structured
    * Streaming trigger clock. */
  def pollChanges(spark: SparkSession, storeDir: String, subscriber: String,
      versionsPerTrigger: Int = 10, startAtVersion: Option[Long] = None)(
      handler: (DataFrame, Long, Long) => Unit): Boolean = {
    require(versionsPerTrigger >= 1,
      s"versionsPerTrigger must be >= 1 (got $versionsPerTrigger)")
    require(startAtVersion.forall(_ >= -1L),
      s"startAtVersion must be >= -1 (got ${startAtVersion.get})")
    require(subscriber.nonEmpty && !subscriber.startsWith("_") &&
      !subscriber.exists(c => c == '/' || c == '\\'),
      s"subscriber must be a plain name (got '$subscriber')")
    val latest = readHead(storeDir).getOrElse(return false)
    val offsetPath = subscribersDir(storeDir).resolve(subscriber)
    val from = readLong(offsetPath) match {
      case Some(v) => v
      case None =>
        val init = math.min(startAtVersion.getOrElse(latest), latest)
        Files.createDirectories(subscribersDir(storeDir))
        writeLongAtomic(offsetPath, init)
        init
    }
    if (latest <= from) false
    else {
      val to = math.min(latest, from + versionsPerTrigger)
      val changes =
        if (from >= 0) storeChangesBetween(spark, storeDir, from, to)
        else insertShaped(spark, storeDir, to) // everything before v0 is empty
      handler(changes, from, to)
      // advance AFTER the handler: at-least-once, the handler's
      // idempotence (or its own `to`-keyed dedup) makes it exactly-once
      writeLongAtomic(offsetPath, to)
      true
    }
  }

  /** The store's state at `version` in the change feed's own shape —
    * one `insert` row per key, old values NULL: what a from-before-
    * history subscription's first delivery carries. */
  private[graft] def insertShaped(spark: SparkSession, storeDir: String,
      version: Long): DataFrame = {
    val snap = bucketedSnapshotAt(spark, storeDir, version)
    val keyNames = storedKeyFields(storeDir, snap.schema).map(_.name)
    val valueCols = snap.columns.filterNot(keyNames.contains).toSeq
    snap.select(keyNames.map(col) ++ (lit("insert").as("change") +:
      valueCols.flatMap(c => Seq(
        lit(null).cast(snap.schema(c).dataType).as(s"${c}_old"),
        col(c).as(s"${c}_new")))): _*)
  }

  /** The change feed as a LIVE Structured Streaming subscription: a
    * trigger clock drives [[pollChanges]], so the subscription gets
    * streaming's full lifecycle (start/stop/awaitTermination, trigger
    * intervals, restart-from-checkpoint) while the REAL offsets live
    * with the store (`_subscribers/<name>` — surviving checkpoint
    * loss, shareable across drivers; the checkpoint only makes the
    * clock restartable). `clock` defaults to the 1-row/s rate source;
    * tests inject a MemoryStream-backed frame to fire triggers
    * deterministically. Wire to `.start()`. */
  def changeFeedStream(spark: SparkSession, storeDir: String,
      subscriber: String, checkpoint: String, versionsPerTrigger: Int = 10,
      startAtVersion: Option[Long] = None, clock: Option[DataFrame] = None)(
      handler: (DataFrame, Long, Long) => Unit): DataStreamWriter[Row] = {
    val ticks = clock.getOrElse(
      spark.readStream.format("rate").option("rowsPerSecond", "1").load())
    ticks.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) =>
        // drain the backlog range-by-range inside the trigger: each
        // DIFF stays bounded by versionsPerTrigger (never one giant
        // range), and each range's offset commits durably before the
        // next, so interrupting a long catch-up loses nothing
        while (pollChanges(spark, storeDir, subscriber, versionsPerTrigger,
          startAtVersion)(handler)) ()
      }
  }

  /** LIVE IVM — the ST10 → T9 composition: maintain a materialized
    * per-group (count, sum) view of the store from the change feed,
    * never rescanning history. The view is itself a versioned store
    * (plain snapshot protocol: `_latest` swap, CAS commit markers,
    * `_lastBatch` replay guard keyed on the delivered `to` version —
    * so a redelivered range is a no-op and the feed's at-least-once
    * becomes exactly-once). The FIRST delivery bootstraps the view
    * from the store snapshot at the subscription start, then every
    * trigger applies the typed feed as signed deltas (update =
    * retract old + assert new) — O(changeset), not O(history), the
    * delta-maintenance contract a 100 TB rollup lives by. Read it
    * back with [[currentViewState]]. Subscribes from BEFORE history
    * (startAtVersion −1), so the first delivery carries the store's
    * full state as inserts and the empty view bootstraps from it. */
  def maintainAggView(spark: SparkSession, storeDir: String,
      subscriber: String, viewDir: String, checkpoint: String,
      groupCol: String, valueCol: String, versionsPerTrigger: Int = 10,
      clock: Option[DataFrame] = None,
      retainViewVersions: Int = 0): DataStreamWriter[Row] =
    changeFeedStream(spark, storeDir, subscriber, checkpoint,
      versionsPerTrigger, startAtVersion = Some(-1L), clock) { (feed, from, to) =>
      applyFeedToView(spark, storeDir, feed, from, to, viewDir, groupCol, valueCol)
      // opt-in view retention: without it a long-running view grows one
      // full snapshot per delivered range FOREVER (the plain-protocol
      // unbounded-growth gap vacuumPlainStore exists to close). The
      // head and its crash-guard marker always survive; redelivery
      // dedup reads `_lastBatch` + the head marker, both retained.
      if (retainViewVersions > 0) vacuumPlainStore(viewDir, retainViewVersions)
    }

  /** The maintained view's current contents (None before the first
    * maintained trigger). */
  def currentViewState(spark: SparkSession, viewDir: String): Option[DataFrame] =
    readHead(viewDir).map(v => spark.read.parquet(s"$viewDir/v$v"))

  /** One feed range applied to the view store — package-private so the
    * spec can replay crash/redelivery interleavings directly. */
  private[graft] def applyFeedToView(spark: SparkSession, storeDir: String,
      feed0: DataFrame, from: Long, to: Long, viewDir: String,
      groupCol: String, valueCol: String): Unit = {
    if (alreadyApplied(viewDir, to)) return // redelivered range: no-op
    // Crash-consistent replay guard: applyBatch survives a crash
    // between the `_latest` swap and the `_lastBatch` write only
    // because applyChanges is IDEMPOTENT; incrementalAgg is NOT — a
    // redelivered range re-applying SIGNED deltas to a base that
    // already includes them would double counts/sums silently and
    // forever. The commit marker of the current head is written BEFORE
    // the swap and records the delivered `to` in its batchId field, so
    // a head whose marker already covers `to` proves the range landed;
    // heal `_lastBatch` forward and no-op. (Markers for the head are
    // never pruned — pruneCommitMarkers keeps the newest RetainMarkers.)
    val markerCovers = readHead(viewDir)
      .flatMap(v => markerBatchId(viewDir, v)).filter(_ >= to)
    if (markerCovers.isDefined) {
      writeLongAtomic(lastBatchPath(viewDir), markerCovers.get)
      return
    }
    Files.createDirectories(Paths.get(viewDir))
    // the feed is read by BOTH delta branches — materialize the
    // changed-rows-sized frame once
    val feed = graft.operators.Checkpoint(feed0)
    val deltas = feed.filter(col("change") =!= "insert")
        .select(col(s"${groupCol}_old").as(groupCol),
          col(s"${valueCol}_old").as("_v"), lit(-1L).as("_sgn"))
      .unionByName(feed.filter(col("change") =!= "delete")
        .select(col(s"${groupCol}_new").as(groupCol),
          col(s"${valueCol}_new").as("_v"), lit(1L).as("_sgn")))
    val base = readHead(viewDir) match {
      case Some(v) => spark.read.parquet(s"$viewDir/v$v")
      case None if from < 0 =>
        // from-before-history subscription: the feed itself carries the
        // bootstrap (full state as inserts) — the base is empty-typed
        deltas.groupBy(col(groupCol))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
            coalesce(org.apache.spark.sql.functions.sum(col("_v")), lit(0L))
              .cast("long").as("vsum"))
          .limit(0)
      case None =>
        // mid-history subscription: bootstrap from the start snapshot
        bucketedSnapshotAt(spark, storeDir, from)
          .groupBy(col(groupCol))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
            coalesce(org.apache.spark.sql.functions.sum(col(valueCol)), lit(0L))
              .cast("long").as("vsum"))
    }
    val next = Snapshot.incrementalAgg(base, deltas, Seq(groupCol), "_v", "_sgn")
    val parent = readHead(viewDir)
    val version = parent.getOrElse(-1L) + 1
    val claim = claimCommit(viewDir, version, parent.getOrElse(-1L), to)
    // staged publish like every other version-dir write — doubly so
    // here: incrementalAgg is NOT idempotent, so a stalled maintainer
    // interleaving files into a taken-over view version would corrupt
    // counts/sums silently, not just duplicate bytes
    publishVersionDir(viewDir, version, claim) { stage =>
      next.write.mode("overwrite").parquet(stage)
    }
    writeSchema(viewDir, version, next.schema)
    verifyClaim(claim)
    writeLongAtomic(latestPath(viewDir), version)
    writeLongAtomic(lastBatchPath(viewDir), to)
    pruneCommitMarkers(viewDir)
  }

  /** STREAMING AUTO-MAINTENANCE (VERDICT r13 #7): a long-running MERGE
    * stream fragments its store version-per-microbatch forever unless
    * an operator runs [[maintainStore]] out of band. This post-commit
    * trigger runs the policy pass every `every` committed batches —
    * AFTER the batch's swap, so exactly-once replay is untouched (a
    * replayed batch no-ops before reaching it, and maintenance commits
    * are idempotent history like any other). A refusal under
    * contention (another writer's live claim) is EXPECTED fleet
    * behavior and skips the pass — the next trigger retries; any other
    * maintenance failure also must not kill the stream that merely
    * hosts the hook. Default policy retains the last
    * `max(2 × every, 16)` versions so a feed subscriber lagging a
    * couple of trigger windows never loses its read point. */
  private[graft] def maybeMaintain(spark: SparkSession, storeDir: String,
      batchId: Long, every: Int,
      policy: Option[MaintenancePolicy] = None): Unit =
    if (every > 0 && batchId % every == (every - 1).toLong) {
      val p = policy.getOrElse(
        MaintenancePolicy(retainLast = math.max(2 * every, 16)))
      try { maintainStore(spark, storeDir, p); () }
      catch {
        case _: java.util.ConcurrentModificationException => () // contended: next trigger retries
        case scala.util.control.NonFatal(e) =>
          // maintenance must never kill the hosting stream
          System.err.println(
            s"graft: auto-maintenance pass on $storeDir failed (will retry " +
              s"on a later trigger): ${e.getMessage}")
      }
    }

  /** The bucketed sink: [[mergeSink]]'s wiring over
    * [[applyBucketedBatch]], with the OPT-IN [[maybeMaintain]]
    * post-commit trigger (`maintenanceEvery` > 0 = run the policy
    * pass every that-many batches). */
  def bucketedMergeSink(changes: DataFrame, storeDir: String,
      checkpoint: String, key: String, opCol: String, verCol: String,
      valueCols: Seq[String], nBuckets: Int = 64,
      maintenanceEvery: Int = 0,
      maintenancePolicy: Option[MaintenancePolicy] = None)
      : DataStreamWriter[Row] = {
    Files.createDirectories(Paths.get(storeDir))
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBucketedBatch(batch, batchId, storeDir, key, opCol, verCol,
          valueCols, nBuckets)
        maybeMaintain(batch.sparkSession, storeDir, batchId,
          maintenanceEvery, maintenancePolicy)
      }
  }
}
