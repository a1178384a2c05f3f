package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import graft.streaming.ContinuousIngest.IngestState

/** Consistent, incremental, versioned SHIPPING of a maintained state
  * root to a serving fleet — the missing half of the deployment story
  * the index-only rerank work opened ("a serving deployment ships the
  * index root, not the 100 TB corpus"). The primary root is a
  * SINGLE-WRITER maintenance domain: ingest appends, takedowns
  * rewrite partitions copy-on-write, scheduled compaction deletes
  * source dirs after installing their union — all crash-safe for the
  * writer, but a READER in another session that planned a scan before
  * a swap can hit missing files or a torn view. [[export]] closes
  * that gap by construction: serving sessions never read the primary
  * at all — they read immutable SNAPSHOT versions, each a complete
  * point-in-time view, installed atomically and never mutated.
  *
  * Layout under `exportRoot` (any rename-atomic filesystem, same
  * contract as [[IngestState]]):
  *
  *  - `pool/<table>/batch=<id>/snapv=s<stamp>/` — the data, one
  *    immutable dir per CONTENT VERSION of each source batch dir.
  *    The stamp is an md5 over the source dir's (file name, length)
  *    inventory: Spark embeds a fresh job UUID in every part
  *    filename, so a partition rewritten in place (a takedown's
  *    copy-on-write swap, a compaction's consolidation) gets a new
  *    stamp and a new pool dir, while an UNCHANGED dir is never
  *    copied twice — exports after the first ship only deltas.
  *  - `v=<n>/` — one snapshot version: an [[IngestState]]-shaped tree
  *    whose table dirs hold a `_GRAFT_DIRS` manifest (pool paths,
  *    export-root-relative — the tree is relocatable) instead of
  *    physical partitions, plus verbatim copies of the small
  *    quantizer tables and marker files, plus the `_GRAFT_SNAPSHOT`
  *    marker that (a) marks the version complete and (b) makes every
  *    writer face refuse the root. Installed by rename, so a version
  *    either exists completely or not at all.
  *
  * Serving is the EXISTING faces, unchanged: `Snapshot.state(spark,
  * exportRoot)` returns an [[IngestState]] rooted at the newest
  * complete version; [[ContinuousIngest.readTable]] and the
  * batch-dir listings are manifest-aware, so `annIvfMaintained`,
  * `annIvfPqMaintained` (both rerank shapes), the filtered faces,
  * and [[ContinuousIngest.serve]] all answer from the snapshot
  * byte-identically to the primary (law: `check_snapshot_serve`).
  * An index-only export (the default, `includeDocs = false`) writes
  * the docs-slim marker so reranks auto-gather from the packed float
  * segments — the docs-free serving tier.
  *
  * RIGHT-TO-BE-FORGOTTEN propagation: snapshots pin history, and a
  * takedown's whole point is destroying it. Every version records the
  * primary's completed-takedown count at export time; an export that
  * sees a HIGHER count on the primary prunes every older version
  * regardless of `keepVersions` (law: `check_snapshot_takedown`), so
  * post-takedown the export root retains no pre-purge view. Routine
  * retention keeps the newest `keepVersions` versions — that window
  * is the serving fleet's grace period for queries in flight on an
  * old version; pool dirs no surviving manifest references are
  * vacuumed in the same pass. Propagation therefore needs an EXPORT
  * after the takedown: the streaming composition
  * ([[ContinuousIngest.IngestParams.export]]) does this by
  * construction (drain, compact, then export in one boundary slot);
  * a between-streams operator pairs `deleteDocs` with the next
  * `export` the way the takedown runbook pairs it with compaction.
  *
  * Crash safety (export runs in the primary's single-writer
  * maintenance context — between streams, or the boundary slot):
  * copies land in dot-hidden tmp dirs and rename in only after each
  * copy task verifies, executor-side, that the destination holds the
  * source's exact length AND content md5 (the hash is computed on the
  * bytes as they stream through, then checked against a read-back of
  * what actually landed — a torn copy and a corrupted-but-same-length
  * copy both fail the task, so nothing installs); the version tree
  * renames in last; a crash anywhere leaves hidden tmps (swept at the
  * next export) and possibly installed-but-unreferenced pool dirs
  * (reused by the next export if still current, vacuumed otherwise).
  * Nothing ever mutates an installed pool dir or version tree. The
  * per-file hashes PERSIST as each installed dir's `_GRAFT_SUMS`
  * manifest (written while the dir is still a hidden tmp), closing
  * the one window copy-time verification can't: POST-INSTALL rot.
  * [[verifyVersion]] re-hashes a standing tree against them on a
  * schedule (distributed, one task per file), and [[restore]]'s copy
  * tasks compare every streamed source against its recorded hash —
  * a backup that rotted on disk fails the restore loudly instead of
  * materializing a corrupt primary. The
  * single-writer convention on one export root is additionally
  * ENFORCED by a lock marker: a second concurrent export refuses
  * loudly instead of racing version numbering, retention, and the tmp
  * sweep (best-effort on filesystems without atomic exclusive create;
  * a crashed holder's lock is cleared with [[breakExportLock]]).
  * WHOLE-TREE READS are protected the other way around: [[restore]],
  * [[sync]]'s source side and [[verifyVersion]] hold a READ PIN for
  * the duration of their read, scoped to the VERSIONS the read
  * streams, and a concurrent export honors it by deferring exactly
  * those versions' pruning (their surviving manifests keep their pool
  * dirs out of the vacuum) while pruning and vacuuming everything
  * else on schedule — a scheduled in-stream export can never delete
  * what a multi-hour 100 TB restore is streaming, AND a busy root
  * with overlapping replica syncs still propagates
  * right-to-be-forgotten staleness on every export (the serving
  * faces stay pin-free: they read one immutable version inside the
  * `keepVersions` grace window). A read that would START mid-export
  * refuses loudly instead; a crashed reader's pin is cleared BY NAME
  * with [[breakReadPins]], never by age; every deferred pass is
  * persisted at the root until retention catches up ([[deferrals]]).
  *
  * FULL BACKUPS ride the same machinery: `export(full = true)` ships
  * the complete primary state — dedup tables, takedown metadata
  * (audit log, stats deltas, queued requests), the bloom (stamped by
  * its framed md5 trailer, so a standing bloom never re-ships) — and
  * [[restore]] materializes a fresh primary root from any backup
  * version, installed by one rename. Backups inherit the takedown
  * staleness pruning, so right-to-be-forgotten holds across the
  * backup chain too — the thing ad-hoc backup copies silently break.
  *
  * At 100 TB: the copy itself is a Spark job (one task per file,
  * executor-side FileSystem streams — the DistCp shape), so shipping
  * bandwidth scales with the cluster, and the incremental stamp check
  * is pure driver metadata (one listing per source batch dir). What
  * this deliberately does NOT do: snapshot the primary for its OWN
  * readers (maintenance reads stay listing-based — they run in the
  * single-writer context and need the physical dirs), or ship deltas
  * WITHIN a batch dir (the unit of change is the partition, matching
  * the writer's own copy-on-write granularity). */
object Snapshot {

  /** The per-batch index tables a serving tier needs (manifest-backed
    * in the version tree). `docs` and `digests` join them under
    * `includeDocs = true`. */
  private val IndexTables = Seq("ivf", "pq", "ivf_packed", "pq_packed", "sem")
  private val DocTables = Seq("docs", "digests")
  /** The REMAINING state a `full = true` export (a restorable BACKUP)
    * ships beyond the serving set: the batch-layout dedup tables, the
    * op-keyed takedown metadata (audit log, stats deltas, the queued
    * requests — pending takedowns are commitments and must survive a
    * restore), and the bloom file. The `_checkpoint` is deliberately
    * NOT state: it belongs to a specific stream, and the dedup engine
    * makes source re-delivery against a restored root convergent
    * (already-ingested docs drop as exact dups). */
  private val FullBatchTables = Seq("keys", "stats")
  private val OpLayoutTables = Seq("stats_deltas", "deletes_log",
    ".delete_queue")
  /** Small non-batch dirs copied VERBATIM per version (quantizers are
    * KB–MB scale; physical copies keep [[ContinuousIngest.loadQuantizers]]
    * and the ann-config guard byte-identical on a snapshot). */
  private val SmallDirs = Seq("centroids", "sem_centroids", "sem_tree",
    "books", "drift_base")

  private val VTreeTmpPrefix = ".vtree_tmp_"
  private val PoolTmpPrefix = ".pooltmp_"
  private val RestoreTmpPrefix = ".restore_tmp_"
  /** Per-dir checksum manifest written beside every batch of copied
    * files (one line per file: `name\tlength\tmd5`), into the hidden
    * tmp BEFORE it installs — so it is immutable with the dir it
    * describes. This is what lets a pool dir be RE-verified after
    * install ([[verifyVersion]]: bit rot on a long-lived serving
    * tree) and lets [[restore]]'s copy tasks catch a corrupted SOURCE
    * (the one failure copy-time verification cannot see). `_`-prefixed:
    * invisible to parquet discovery; excluded from restore's copy-back. */
  private[graft] val SumsFile = "_GRAFT_SUMS"
  /** Export-root lock marker (dot-prefixed: readers never list it).
    * Package-visible so the spec can manufacture the contention
    * window. */
  private[graft] val ExportLockFile = ".export_lock"
  /** Read-pin marker prefix (dot-prefixed, uuid-suffixed — one per
    * live whole-tree reader). A pin is VERSION-SCOPED: it records the
    * version set its read streams (`versions=` line), and an export's
    * retention pass defers pruning exactly those versions — whose
    * surviving manifests in turn keep every pool dir the read touches
    * out of the vacuum — while everything else prunes on schedule, so
    * N replicas syncing on a cadence can never suspend takedown
    * propagation root-wide. A pin WITHOUT a scope (just-acquired,
    * or manual) defers everything. [[restore]], [[sync]]'s
    * source side and [[verifyVersion]] hold one for the duration of
    * their read, so a scheduled export can never delete the version
    * tree or pool dirs a multi-hour read is streaming. Serving faces
    * ([[state]]) stay pin-free — they read one immutable version and
    * the `keepVersions` grace window is their protection. */
  private[graft] val ReadPinPrefix = ".read_pin_"
  /** Retention-deferral evidence (dot-prefixed dir): one small file
    * per deferred retention pass, cleared by the first pass that runs
    * unblocked — [[deferrals]] reads it, so "retention has been
    * deferred for K consecutive exports" is a queryable fact riding
    * the export root, not a stderr line on a headless driver. */
  private[graft] val DeferralsDir = ".deferrals"
  /** Export-root identity (a UUID file at the root, stamped by the
    * first [[export]] and ADOPTED by replicas on their first [[sync]])
    * — what lets sync prove "this destination is MY replica" before
    * pruning anything, closing the hole where a mistyped `dstRoot`
    * pointing at an unrelated root whose versions all sat below the
    * source's max passed every marker check and was silently
    * pruned. */
  private[graft] val RootIdFile = "_GRAFT_ROOT_ID"
  private val OpsCountKey = "n_takedown_ops"
  private val FullKey = "full"
  /** v-tree file naming the pool path of the backed-up bloom. */
  private val BloomPointerFile = "_GRAFT_BLOOM"

  /** What an export did — the spec seams: `copiedPoolDirs` pins
    * incrementality (an unchanged re-export copies zero),
    * `prunedVersions` pins retention + takedown staleness,
    * `vacuumedPoolDirs` pins the pool GC. `retentionDeferred` is true
    * when live READ PINS (a restore or sync streaming this root —
    * see [[breakReadPins]]) blocked SOMETHING: a pinned version a
    * prune candidate covers, or — under a broad, unscoped pin —
    * anything at all. Unpinned candidates pruned and the pool
    * vacuumed regardless; the deferral is persisted ([[deferrals]])
    * and the next unblocked pass catches up. */
  final case class ExportResult(version: Long,
                                copiedPoolDirs: Long,
                                skippedPoolDirs: Long,
                                copiedFiles: Long,
                                copiedBytes: Long,
                                prunedVersions: Seq[Long],
                                vacuumedPoolDirs: Long,
                                retentionDeferred: Boolean = false)

  /** What a [[sync]] did — mirror seams of [[ExportResult]]:
    * `copiedVersions` are the versions newly installed at the
    * replica, `prunedVersions` the replica versions the source no
    * longer has (retention/takedown propagation); `retentionDeferred`
    * as in [[ExportResult]], for pins held on the REPLICA root. */
  final case class SyncResult(copiedVersions: Seq[Long],
                              copiedPoolDirs: Long,
                              skippedPoolDirs: Long,
                              copiedFiles: Long,
                              copiedBytes: Long,
                              prunedVersions: Seq[Long],
                              vacuumedPoolDirs: Long,
                              retentionDeferred: Boolean = false)

  /** Streaming-face export schedule ([[ContinuousIngest.IngestParams.export]]):
    * every `everyNBatches` micro-batches, [[ContinuousIngest.start]]'s
    * boundary slot — the same single-writer context the takedown
    * drain and scheduled compaction use — ships a snapshot with the
    * horizon pinned at the last COMMITTED batch (the in-hand batch
    * may still replay; shipping its half-appended partitions would
    * break the parity guard on every serving session). Replay-safe:
    * a re-delivered batch re-runs the export idempotently (unchanged
    * content re-stamps to the same pool dirs). */
  /** `full = true` schedules restorable BACKUPS instead of serving
    * snapshots — same cadence, same horizon rule (the backup captures
    * committed state; the bloom rides over-approximately, see
    * [[export]]).
    *
    * `auditEveryNBatches` > 0 additionally schedules [[verifyVersion]]
    * from the same boundary slot (after any export due that batch, so
    * a just-shipped version enters the rotation immediately),
    * ROTATING through the standing versions by firing index — firing
    * k audits `versions(k % n)`, so the WHOLE tree (older kept
    * versions and the pool dirs only they reference included) is
    * covered every n firings at one version's cost per firing:
    * the persisted-checksum re-hash that catches POST-INSTALL rot on
    * a months-lived serving tree — an audit that only exists as an
    * operator's cron job catches nothing. Findings FAIL THE BATCH
    * loudly (the stream stops, findings named): rot in the
    * serving/backup tier is an incident, and the alternative — a
    * callback nobody wired — is how audits rot too. Default 0 (off);
    * the audit is distributed (one task per file) but it re-reads one
    * version's bytes per firing, so size the cadence like
    * compaction's. */
  final case class ExportPolicy(exportRoot: String, everyNBatches: Int,
                                keepVersions: Int = 3,
                                includeDocs: Boolean = false,
                                full: Boolean = false,
                                auditEveryNBatches: Int = 0)

  /** Export one consistent snapshot of `st` to `exportRoot`. Must run
    * in the primary's single-writer maintenance context (the
    * [[ContinuousIngest.rebuildIndexes]] contract) — the source dirs
    * must be stable for the duration. Idempotent and incremental:
    * unchanged batch dirs are recognized by content stamp and never
    * re-copied. One exporter per exportRoot is ENFORCED (a lock
    * marker; a racing export refuses loudly — see
    * [[breakExportLock]] for crashed-holder recovery).
    * `keepVersions` ≥ 1 bounds routine retention; a
    * completed takedown on the primary overrides it and prunes every
    * pre-takedown version (see the object doc). `upToBatch` bounds
    * the shipped lineage — the streaming boundary slot passes the
    * last committed id so an in-flight batch's partitions (which may
    * exist, half-appended, across a replay) never enter a
    * snapshot. */
  def export(spark: SparkSession, st: IngestState, exportRoot: String,
             includeDocs: Boolean = false,
             keepVersions: Int = 3,
             upToBatch: Long = Long.MaxValue,
             full: Boolean = false): ExportResult = {
    require(keepVersions >= 1, s"keepVersions must be >= 1 (got $keepVersions)")
    // same rename-atomicity contract as the primary state root — the
    // pool/version installs and the exclusive-create lock are exactly
    // the "published means complete" discipline IngestState refuses
    // object stores for (checked before any FileSystem loads)
    ContinuousIngest.refuseNonAtomicRename(exportRoot,
      "Snapshot.export exportRoot")
    val srcFs = ContinuousIngest.fsFor(spark, st.root)
    // the source must carry this build's state format (the version
    // tree below is stamped with it) and be a primary
    require(!ContinuousIngest.requireFormat(spark, st.root, "Snapshot.export"),
      s"Snapshot.export: ${st.root} is itself a snapshot tree — " +
        "export from the PRIMARY state root (snapshot-of-snapshot " +
        "fan-out is not supported; ship the same export root instead)")
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    val exRoot = fs.makeQualified(new HPath(exportRoot))
    // one exporter per export root: version numbering, retention and
    // the tmp sweep all assume it. The lock makes that convention a
    // contract — a racing export refuses by name instead of silently
    // sweeping the first one's live tmps or double-claiming a version.
    fs.mkdirs(exRoot)
    val lock = acquireExportLock(fs, exRoot)
    try {
      exportLocked(spark, st, srcFs, fs, exRoot, includeDocs,
        keepVersions, upToBatch, full)
    } finally {
      fs.delete(lock, false)
      ()
    }
  }

  private def exportLocked(spark: SparkSession, st: IngestState,
                           srcFs: FileSystem, fs: FileSystem, exRoot: HPath,
                           includeDocs: Boolean, keepVersions: Int,
                           upToBatch: Long, full: Boolean): ExportResult = {
    val pool = new HPath(exRoot, "pool")
    fs.mkdirs(pool)
    ensureRootId(fs, exRoot)
    sweepTmps(fs, exRoot)

    val annRoot = srcFs.exists(new HPath(st.centroidsPath))
    require(annRoot || includeDocs || full,
      s"Snapshot.export: ${st.root} has no index tables (not an " +
        "ann-enabled root) and includeDocs = false — nothing to ship")
    val batchTables = (if (annRoot) IndexTables else Nil) ++
      (if (includeDocs || full) DocTables else Nil) ++
      (if (full) FullBatchTables else Nil)

    // ---- plan: stamp every source subdir, split copied/skipped -----
    // (manifest entries are planned for EVERY live dir either way)
    val copies = scala.collection.mutable.ArrayBuffer.empty[CopyEntry]
    // pool tmp dir -> final dir
    val poolInstalls = scala.collection.mutable.ArrayBuffer
      .empty[(HPath, HPath)]
    var skipped = 0L
    /** Plan one immutable pool copy; returns the manifest line. */
    def planDir(t: String, srcDir: HPath): String = {
      val files = srcFs.listStatus(srcDir).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("."))
        .map(f => (f.getPath.getName, f.getLen))
        .sortBy(_._1)
      val stamp = dirStamp(srcDir.getName, files)
      val rel = s"pool/$t/${srcDir.getName}/snapv=s$stamp"
      val target = new HPath(exRoot, rel)
      if (fs.exists(target)) { skipped += 1 }
      else {
        val tmp = new HPath(target.getParent,
          s"$PoolTmpPrefix${stamp}_${java.util.UUID.randomUUID().toString.take(8)}")
        fs.mkdirs(tmp)
        files.foreach { case (name, len) =>
          copies += CopyEntry(new HPath(srcDir, name).toString,
            new HPath(tmp, name).toString, len)
        }
        poolInstalls += ((tmp, target))
      }
      s"${srcDir.getName}\t$rel"
    }
    // batch-layout tables: `batch=` dirs at or below the horizon
    val batchManifests: Seq[(String, Seq[String])] = batchTables.flatMap { t =>
      val srcTable = new HPath(s"${st.root}/$t")
      if (!srcFs.exists(srcTable)) None
      else Some(t -> srcFs.listStatus(srcTable).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch=") &&
          s.getPath.getName.stripPrefix("batch=").toLong <= upToBatch)
        .sortBy(_.getPath.getName)
        .map(bd => planDir(t, bd.getPath)))
    }
    // op-layout tables (full backups): every committed subdir — op
    // dirs and audit-log epochs are takedown-scoped, not
    // batch-scoped, so no horizon applies (hidden temps stay behind)
    val opManifests: Seq[(String, Seq[String])] =
      (if (full) OpLayoutTables else Nil).flatMap { t =>
        val srcTable = new HPath(s"${st.root}/$t")
        if (!srcFs.exists(srcTable)) None
        else Some(t -> srcFs.listStatus(srcTable).toSeq
          .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
          .map(od => planDir(t, od.getPath)))
      }
    val manifests = batchManifests ++ opManifests
    // the bloom (full backups): one immutable pool file, stamped by
    // the payload md5 the framed format already carries as a trailer
    // (sized for the corpus's growth horizon, the bloom can be GBs —
    // never re-shipped while its content stands still). Shipping the
    // CURRENT bloom under a batch horizon is sound: the bloom is
    // over-approximate state, and an extra claimed digest only routes
    // through the verify join against the (horizon-consistent) digest
    // table — conservative, never wrong.
    val bloomSrc = new HPath(st.bloomPath)
    val bloomRel: Option[String] =
      if (!full || !srcFs.exists(bloomSrc)) None
      else {
        val stamp = bloomStamp(srcFs, bloomSrc)
        // same three-level pool shape as every table dir, so the
        // sweep and vacuum walks cover it uniformly
        val rel = s"pool/_bloom/bloom/snapv=s$stamp"
        val target = new HPath(exRoot, rel)
        if (fs.exists(target)) { skipped += 1 }
        else {
          val tmp = new HPath(target.getParent,
            s"$PoolTmpPrefix${stamp}_${java.util.UUID.randomUUID().toString.take(8)}")
          fs.mkdirs(tmp)
          copies += CopyEntry(bloomSrc.toString,
            new HPath(tmp, bloomSrc.getName).toString,
            srcFs.getFileStatus(bloomSrc).getLen)
          poolInstalls += ((tmp, target))
        }
        Some(s"$rel/${bloomSrc.getName}")
      }

    // ---- version tree (hidden tmp; renamed in LAST) ----------------
    val version = (listVersionDirs(fs, exRoot).map(versionOf) :+ -1L).max + 1L
    val vtmp = new HPath(exRoot,
      s"$VTreeTmpPrefix${version}_${java.util.UUID.randomUUID().toString.take(8)}")
    fs.mkdirs(vtmp)
    // small dirs verbatim (every file incl. `_` markers, e.g. the
    // ann-config fingerprint; they ride the same distributed copy)
    SmallDirs.foreach { name =>
      val src = new HPath(s"${st.root}/$name")
      if (srcFs.exists(src)) {
        val dst = new HPath(vtmp, name)
        fs.mkdirs(dst)
        srcFs.listStatus(src).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("."))
          .foreach(f => copies += CopyEntry(f.getPath.toString,
            new HPath(dst, f.getPath.getName).toString, f.getLen))
      }
    }
    // exported batch tables: manifest + root-level marker files
    // (docs-slim — generically, any `_` file at the
    // table root except Spark's own bookkeeping)
    manifests.foreach { case (t, lines) =>
      val dst = new HPath(vtmp, t)
      fs.mkdirs(dst)
      writeText(fs, new HPath(dst, ContinuousIngest.SnapshotDirsFile),
        lines.mkString("\n"))
      val src = new HPath(s"${st.root}/$t")
      srcFs.listStatus(src).toSeq
        .filter(f => f.isFile && f.getPath.getName.startsWith("_") &&
          f.getPath.getName != "_SUCCESS")
        .foreach(f => copies += CopyEntry(f.getPath.toString,
          new HPath(dst, f.getPath.getName).toString, f.getLen))
    }
    if (!includeDocs && !full) {
      // index-only snapshot: no docs table at all. Stamp the slim
      // marker so the maintained reranks auto-switch to the packed
      // float segments (the float-once convention: "the floats live
      // only in the index here" — literally true on this tree).
      val dst = new HPath(vtmp, "docs")
      fs.mkdirs(dst)
      writeText(fs, new HPath(dst, ContinuousIngest.DocsSlimMarker), "")
    }
    bloomRel.foreach(rel =>
      writeText(fs, new HPath(vtmp, BloomPointerFile), rel))
    // the source's format, stamped as a snapshot: readers accept the
    // tree, every writer face refuses it
    writeText(fs, new HPath(vtmp, ContinuousIngest.FormatFile),
      ContinuousIngest.stampText(snapshot = true))

    // ---- the copy itself: one Spark job, one task per file. Every
    // task verifies ITS file (length + content md5, re-read from the
    // destination) before returning — a torn or bit-flipped quantizer
    // table would serve wrong answers as quietly as a torn segment. A
    // failed task fails the job here, so tmps are retained and nothing
    // installs; the driver does no per-file metadata calls (at
    // millions of files a serial getFileStatus pass would gate the
    // install for hours). The per-file hashes then PERSIST as each
    // installed dir's _GRAFT_SUMS (written while the dirs are still
    // hidden tmps), so "trusted forever after" becomes "re-verifiable
    // forever after": verifyVersion re-hashes a standing tree against
    // them, and restore's copy tasks catch post-install source rot. --
    val copyResults = copyFiles(spark, copies.toSeq)
    val (nFiles, nBytes) =
      (copyResults.size.toLong, copyResults.map(_._2).sum)
    writeSums(fs, copyResults)
    poolInstalls.foreach { case (tmp, target) =>
      fs.mkdirs(target.getParent)
      require(fs.rename(tmp, target),
        s"Snapshot.export: pool install rename $tmp -> $target failed")
    }

    // ---- finish the version tree and install it --------------------
    val nOps = takedownOpCount(spark, st)
    writeText(fs, new HPath(vtmp, ContinuousIngest.SnapshotMarkerFile),
      Seq(s"version=$version",
        s"source=${st.root}",
        s"created_ms=${System.currentTimeMillis()}",
        s"$OpsCountKey=$nOps",
        s"$FullKey=$full",
        s"tables=${manifests.map(_._1).mkString(",")}").mkString("\n"))
    val vDir = new HPath(exRoot, s"v=$version")
    require(fs.rename(vtmp, vDir),
      s"Snapshot.export: version install rename $vtmp -> $vDir failed")

    // ---- retention: takedown staleness first, then keepVersions ----
    // …minus whatever live READ PINS cover: each pin records the
    // VERSION SET its read streams (restore: the one restored version;
    // sync: the versions it is copying), so retention prunes every
    // candidate NO pin references — takedown-staleness propagation
    // proceeds for unpinned versions while reads stream — and defers
    // only the pinned ones to the next export. The pool vacuum runs
    // whenever every pin is version-scoped: a pinned version survives
    // its prune, so its manifests keep every pool dir its reader
    // streams referenced (readers only ever read through a complete
    // version's manifests — an UNreferenced pool dir is unreachable to
    // them by construction). A pin WITHOUT a version scope (a manual
    // pin protecting an out-of-band whole-tree copy, or one created
    // before its holder narrowed it) defers everything, the
    // conservative pre-scoping contract. Pins are bounded-duration
    // reads released in a finally; a crashed holder's pin is cleared
    // explicitly with [[breakReadPins]], mirroring the export lock's
    // contract. Every deferral is PERSISTED (see [[deferrals]]) and
    // the log is cleared by the first pass that runs unblocked, so
    // "K consecutive deferred exports" is queryable, not a stderr
    // line nobody reads on a headless driver.
    val survivors = listVersionDirs(fs, exRoot).map(versionOf).sorted
    val stale = survivors.filter(v => v != version &&
      markerOpsCount(fs, exRoot, v) < nOps)
    val routine = survivors.filterNot(stale.contains)
      .sorted(Ordering[Long].reverse).drop(keepVersions)
    val want = (stale ++ routine).distinct.sorted
    val (pruned, vacuumed, deferred) =
      retentionPass(fs, exRoot, "export", version, want)
    ExportResult(version, poolInstalls.size.toLong, skipped, nFiles,
      nBytes, pruned, vacuumed, retentionDeferred = deferred)
  }

  /** The SHARED retention pass (export's and sync's, under the root's
    * export lock): prune the `want` candidates minus whatever live
    * read pins cover, vacuum the pool, and keep the deferral streak
    * ([[deferrals]]) honest — persisted when a pin blocked something,
    * cleared by the first pass that runs unblocked. An UNscoped pin
    * (manual/pre-narrowing — see [[livePinScope]]) defers everything;
    * version-scoped pins defer exactly their versions, whose
    * surviving manifests in turn keep every pool dir their readers
    * stream out of the vacuum. Returns (pruned, vacuumedPoolDirs,
    * deferred). */
  private def retentionPass(fs: FileSystem, exRoot: HPath, face: String,
                            shippedVersion: Long,
                            want: Seq[Long]): (Seq[Long], Long, Boolean) = {
    val (pins, scope) = livePinScope(fs, exRoot)
    val (blocked, pruned) = scope match {
      case None => (want, Nil) // an unscoped pin is live: defer all
      case Some(pv) => want.partition(pv.contains)
    }
    pruned.foreach(v => fs.delete(new HPath(exRoot, s"v=$v"), true))
    // pool vacuum: anything no surviving manifest references
    val vacuumed = if (scope.isEmpty) 0L else vacuumPool(fs, exRoot)
    val deferred = blocked.nonEmpty ||
      (scope.isEmpty && (want.nonEmpty ||
        vacuumPool(fs, exRoot, dryRun = true) > 0L))
    if (deferred)
      logDeferral(fs, exRoot, face, shippedVersion, blocked, pins)
    else clearDeferrals(fs, exRoot)
    (pruned, vacuumed, deferred)
  }

  /** Pool rel paths referenced by the COMPLETE versions at `exRoot`
    * (manifest lines + bloom pointers). */
  private def referencedPoolDirs(fs: FileSystem, exRoot: HPath): Set[String] =
    listVersionDirs(fs, exRoot).map(versionOf)
      .flatMap(referencedBy(fs, exRoot, _)).toSet

  /** Pool rel paths ONE version references (manifest lines + bloom
    * pointer). */
  private def referencedBy(fs: FileSystem, exRoot: HPath, v: Long): Seq[String] = {
    val vRoot = new HPath(exRoot, s"v=$v")
    val fromManifests =
      fs.listStatus(vRoot).toSeq.filter(_.isDirectory).flatMap { td =>
        val mf = new HPath(td.getPath, ContinuousIngest.SnapshotDirsFile)
        if (!fs.exists(mf)) Nil
        else new String(ContinuousIngest.readFileBytes(fs, mf), "UTF-8")
          .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
          .map(_.split("\t", 2)(1))
      }
    val bloomPtr = new HPath(vRoot, BloomPointerFile)
    val fromBloom =
      if (!fs.exists(bloomPtr)) Nil
      else Seq(new String(ContinuousIngest.readFileBytes(fs, bloomPtr),
        "UTF-8").trim).map(p => p.substring(0, p.lastIndexOf('/')))
    fromManifests ++ fromBloom
  }

  /** Delete pool dirs no surviving version references; returns the
    * count (the GC half of retention — runs under the export lock).
    * `dryRun` only counts — what an UNscoped read pin's deferral
    * check needs (listings, no deletes). */
  private def vacuumPool(fs: FileSystem, exRoot: HPath,
                         dryRun: Boolean = false): Long = {
    val referenced = referencedPoolDirs(fs, exRoot)
    val pool = new HPath(exRoot, "pool")
    var vacuumed = 0L
    if (fs.exists(pool)) fs.listStatus(pool).filter(_.isDirectory).foreach { td =>
      fs.listStatus(td.getPath).filter(_.isDirectory).foreach { bd =>
        fs.listStatus(bd.getPath).filter(s => s.isDirectory &&
            s.getPath.getName.startsWith("snapv=")).foreach { vd =>
          val rel = s"pool/${td.getPath.getName}/${bd.getPath.getName}/" +
            vd.getPath.getName
          if (!referenced.contains(rel)) {
            if (!dryRun) fs.delete(vd.getPath, true)
            vacuumed += 1
          }
        }
      }
    }
    vacuumed
  }

  /** All COMPLETE snapshot versions at `exportRoot`, ascending. */
  def versions(spark: SparkSession, exportRoot: String): Seq[Long] = {
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    listVersionDirs(fs, fs.makeQualified(new HPath(exportRoot)))
      .map(versionOf).sorted
  }

  /** The export root's CATALOG: one row per complete version, from
    * its marker — `(version, created_ms, source, full, n_takedown_ops,
    * tables)`. What an operator pins retention/serving decisions on
    * without walking the tree; metadata-cost (one marker read per
    * version — versions are bounded by `keepVersions`, never by
    * corpus size). */
  def info(spark: SparkSession, exportRoot: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    val exRoot = fs.makeQualified(new HPath(exportRoot))
    listVersionDirs(fs, exRoot).map(versionOf).sorted.map { v =>
      val fields = parseKv(new String(ContinuousIngest.readFileBytes(fs,
        new HPath(exRoot, s"v=$v/${ContinuousIngest.SnapshotMarkerFile}")),
        "UTF-8"))
      (v,
        fields.get("created_ms").map(_.toLong).getOrElse(-1L),
        fields.getOrElse("source", ""),
        fields.get(FullKey).contains("true"),
        fields.get(OpsCountKey).map(_.toLong).getOrElse(0L),
        fields.getOrElse("tables", ""))
    }.toDF("version", "created_ms", "source", "full", "n_takedown_ops",
      "tables")
  }

  /** An [[IngestState]] rooted at snapshot `version` (default: the
    * newest complete one) — every read-only face serves from it
    * unchanged; every writer face refuses it loudly. Pin a version
    * per serving session: `keepVersions` on the exporter is the
    * grace window for queries in flight on old versions. */
  def state(spark: SparkSession, exportRoot: String,
            version: Long = -1L): IngestState = {
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    val exRoot = fs.makeQualified(new HPath(exportRoot))
    val v = resolveVersion(fs, exRoot, version, "state")
    IngestState(new HPath(exRoot, s"v=$v").toString)
  }

  /** REPLICATE an export root to another filesystem/region — the
    * "restore from another replica" the damage-refusal messages point
    * at, and the off-site leg of a backup story (an export root and
    * its replica fail independently). A replica is a byte-level
    * mirror of the source's COMPLETE versions, maintained
    * incrementally and verifiably:
    *
    *  - CONTENT-ADDRESSED INCREMENTALITY for free: pool dirs are
    *    keyed by their content stamp in the PATH, so "already at the
    *    replica" is one existence check and an unchanged dir never
    *    re-ships — same property the source's own re-exports use.
    *  - HASH-VERIFIED IN FLIGHT: every data file ships with its
    *    recorded [[SumsFile]] md5 as the expected source hash, so a
    *    source that rotted since its copy-time verification fails the
    *    sync loudly instead of propagating the rot to the replica
    *    (the sums manifests themselves ship verbatim, so the replica
    *    is [[verifyVersion]]-auditable and can seed further syncs).
    *  - TAKEDOWN PROPAGATION: replica versions the source no longer
    *    has were pruned there (retention, or right-to-be-forgotten
    *    staleness) — they prune at the replica too, and the replica
    *    pool is vacuumed, so a purge reaches every synced copy on the
    *    next sync cadence. This is why a replica must be a REPLICA:
    *    a destination that diverged (a version number the source
    *    never had above its max, or a common version whose marker
    *    differs) refuses loudly rather than risk deleting someone
    *    else's exports.
    *
    * Crash-safe by the export discipline (pool tmps + version tmps
    * install by rename, swept under the DESTINATION's export lock —
    * sync and export on one root are the same single-writer domain).
    * Versions install ascending, so a crash leaves a clean prefix.
    * Syncing FROM a live source is safe by the READ PIN it holds on
    * the source for the read's duration: versions and pool dirs are
    * immutable, a source export running concurrently only adds
    * versions this sync doesn't see, and the pin makes that export
    * DEFER its retention prune/vacuum — the dirs this sync is
    * streaming cannot vanish under it (a sync STARTING while the
    * source is mid-export refuses loudly instead; see
    * [[breakReadPins]] for crashed holders). The pin is VERSION-
    * SCOPED: once the missing set is planned, the pin is narrowed to
    * exactly those versions, so a concurrent source export prunes and
    * vacuums everything else on schedule (takedown propagation never
    * waits on replica cadence).
    *
    * `pin = false` skips the source pin — the explicit opt-out for a
    * source mounted READ-ONLY at this consumer (a common DR posture:
    * pin creation needs a write). Safe ONLY when no exporter can run
    * against that root for the read's duration — with no pin, a
    * concurrent export's retention can delete the versions this sync
    * is streaming mid-read. The mid-export refusal (export-lock
    * check) still applies either way. */
  def sync(spark: SparkSession, srcRoot: String,
           dstRoot: String, pin: Boolean = true): SyncResult = {
    // both sides live by the rename-atomic install contract: the
    // replica installs pool/version trees by rename under an
    // exclusive-create lock, and the source's own installs were only
    // sound on a rename-atomic store to begin with
    ContinuousIngest.refuseNonAtomicRename(srcRoot, "Snapshot.sync srcRoot")
    ContinuousIngest.refuseNonAtomicRename(dstRoot, "Snapshot.sync dstRoot")
    val srcFs = ContinuousIngest.fsFor(spark, srcRoot)
    val srcEx = srcFs.makeQualified(new HPath(srcRoot))
    require(srcFs.exists(srcEx) && (srcFs.exists(new HPath(srcEx, "pool")) ||
        listVersionDirs(srcFs, srcEx).nonEmpty),
      s"Snapshot.sync: $srcRoot is not an export root (no pool/ and no " +
        "complete v=<n> dirs) — sync replicates EXPORT roots; ship a " +
        "primary with Snapshot.export first")
    val fs = ContinuousIngest.fsFor(spark, dstRoot)
    val dstEx = fs.makeQualified(new HPath(dstRoot))
    fs.mkdirs(dstEx)
    // pin the SOURCE for the read's duration: a scheduled export on
    // the source root can no longer prune/vacuum the version trees
    // and pool dirs this sync is streaming (it defers only what the
    // pin covers and ships on); acquired broad, narrowed to the
    // missing-version set once planned, released in the finally;
    // crashed holders cleared with [[breakReadPins]]
    val srcPin = new ReadPin(srcFs, srcEx, "sync", s"sync->$dstRoot", pin)
    try {
      val lock = acquireExportLock(fs, dstEx)
      try syncLocked(spark, srcFs, srcEx, fs, dstEx, srcPin)
      finally {
        fs.delete(lock, false)
        ()
      }
    } finally srcPin.release()
  }

  private def syncLocked(spark: SparkSession, srcFs: FileSystem,
                         srcEx: HPath, fs: FileSystem, dstEx: HPath,
                         srcPin: ReadPin): SyncResult = {
    sweepTmps(fs, dstEx)
    fs.mkdirs(new HPath(dstEx, "pool"))
    // lineage identity FIRST — the one check that holds even when the
    // version sets share nothing: a destination that belongs to a
    // different export lineage (its own exports, or a replica of a
    // different source) refuses by id before any marker comparison,
    // closing the hole where a mistyped dstRoot whose versions all
    // sat below the source's max passed every common-version and
    // AHEAD check and was then silently pruned. An empty destination
    // adopts the source's id below, after every divergence check
    // passes.
    val srcId = readRootId(srcFs, srcEx)
    val dstId = readRootId(fs, dstEx)
    for (a <- srcId; b <- dstId)
      require(a == b,
        s"Snapshot.sync: $dstEx carries root id $b but the source " +
          s"$srcEx is $a — the destination is (a replica of) a " +
          "DIFFERENT export root; syncing would prune its versions. " +
          "Pick an empty replica root, or the replica that was synced " +
          "from this source.")
    val srcVs = listVersionDirs(srcFs, srcEx).map(versionOf).sorted
    val dstVs = listVersionDirs(fs, dstEx).map(versionOf).sorted
    // replica identity: every common version must be THE SAME version
    // (markers byte-equal), and the replica must not have versions
    // above the source's max (those could only come from a different
    // exporter — deleting them would destroy someone else's exports)
    def markerBytes(f: FileSystem, ex: HPath, v: Long): Seq[Byte] =
      ContinuousIngest.readFileBytes(f,
        new HPath(ex, s"v=$v/${ContinuousIngest.SnapshotMarkerFile}")).toSeq
    dstVs.toSet.intersect(srcVs.toSet).foreach { v =>
      require(markerBytes(srcFs, srcEx, v) == markerBytes(fs, dstEx, v),
        s"Snapshot.sync: $dstEx/v=$v exists with a DIFFERENT marker " +
          s"than the source's v=$v — the destination is not a replica " +
          "of this source; pick an empty or matching replica root")
    }
    if (srcVs.nonEmpty)
      dstVs.filter(_ > srcVs.max).headOption.foreach(v => sys.error(
        s"Snapshot.sync: $dstEx/v=$v is AHEAD of the source (max " +
          s"${srcVs.max}) — the destination diverged (a different " +
          "source exported here); refusing to prune it"))
    // a source with NO complete versions is a crashed/half-initialized
    // export root, not evidence the replica's versions were pruned —
    // propagating "nothing" would destroy the replica
    require(srcVs.nonEmpty || dstVs.isEmpty,
      s"Snapshot.sync: $srcEx has no complete versions but the " +
        s"replica holds ${dstVs.mkString(", ")} — refusing to prune a " +
        "non-empty replica from an empty source (finish an export " +
        "there first, or pick the right source root)")
    // an ID-LESS destination must be EMPTY (a fresh replica root):
    // every export and sync stamps the id before its first version, so
    // id-less versions were made by something else — pruning them, or
    // adopting this source's id over them, could destroy someone
    // else's exports
    require(dstId.nonEmpty || dstVs.isEmpty,
      s"Snapshot.sync: $dstEx carries no lineage id ($RootIdFile) but " +
        s"holds versions ${dstVs.mkString(", ")} — it was not made by " +
        "Snapshot.export or sync; pick an empty replica root, or the " +
        "replica that was synced from this source")
    // every export stamps its root's id before its first version
    val id = srcId.getOrElse(sys.error(
      s"Snapshot.sync: the source $srcEx carries no lineage id " +
        s"($RootIdFile) — it was not made by Snapshot.export or sync"))
    // every divergence check passed — adopt the source's lineage
    // identity NOW, before any install: a sync that crashes mid-copy
    // must not leave a replica holding this source's versions but no
    // id (the unprotected window the id exists to close)
    if (dstId.isEmpty) writeRootId(fs, dstEx, id)
    // ---- plan: missing pool dirs for the missing versions ----------
    val missingVs = srcVs.filterNot(dstVs.contains)
    // the read set is now known — narrow the source pin to exactly the
    // versions this sync streams (their trees + the pool dirs their
    // manifests reference, which survive with them), so a concurrent
    // source export prunes/vacuums everything else on schedule. The
    // common-version marker reads above ran under the broad pin.
    srcPin.narrow(missingVs)
    val copies = scala.collection.mutable.ArrayBuffer.empty[CopyEntry]
    val poolInstalls = scala.collection.mutable.ArrayBuffer
      .empty[(HPath, HPath)]
    var skipped = 0L
    val plannedPool = scala.collection.mutable.Set.empty[String]
    def planPoolDir(rel: String): Unit = {
      if (plannedPool.contains(rel)) return
      plannedPool += rel
      val target = new HPath(dstEx, rel)
      if (fs.exists(target)) { skipped += 1; return }
      val srcDir = new HPath(srcEx, rel)
      val sums = readSums(srcFs, srcDir)
      val stamp = rel.substring(rel.lastIndexOf("snapv=s") + 7)
      val tmp = new HPath(target.getParent,
        s"$PoolTmpPrefix${stamp}_${java.util.UUID.randomUUID().toString.take(8)}")
      fs.mkdirs(tmp)
      srcFs.listStatus(srcDir).filter(_.isFile).foreach { f =>
        val name = f.getPath.getName
        copies += CopyEntry(f.getPath.toString,
          new HPath(tmp, name).toString, f.getLen,
          // the sums file itself has no recorded hash; data files do
          if (name == SumsFile) None else sums.get(name).map(_._2))
      }
      poolInstalls += ((tmp, target))
    }
    missingVs.foreach(v => referencedBy(srcFs, srcEx, v).foreach(planPoolDir))
    // ---- plan: the missing version trees (hidden tmps, renamed in
    // ascending order AFTER the pool lands) ---------------------------
    val vtreeInstalls = missingVs.map { v =>
      val vRoot = new HPath(srcEx, s"v=$v")
      // the stamp rides the verbatim tree copy below
      ContinuousIngest.requireFormat(spark, vRoot.toString, "Snapshot.sync")
      val vtmp = new HPath(dstEx,
        s"$VTreeTmpPrefix${v}_${java.util.UUID.randomUUID().toString.take(8)}")
      fs.mkdirs(vtmp)
      def planTreeFiles(dir: HPath, out: HPath): Unit = {
        val sums = readSums(srcFs, dir)
        srcFs.listStatus(dir).foreach { s =>
          if (s.isDirectory)
            planTreeFiles(s.getPath, new HPath(out, s.getPath.getName))
          else {
            val name = s.getPath.getName
            copies += CopyEntry(s.getPath.toString,
              new HPath(out, name).toString, s.getLen,
              if (name == SumsFile) None else sums.get(name).map(_._2))
          }
        }
      }
      planTreeFiles(vRoot, vtmp)
      (v, vtmp)
    }
    // ---- ship, then install: pool first (content), trees after
    // (references) — a crash leaves reusable pool dirs, never a
    // version referencing missing content ------------------------------
    val results = copyFiles(spark, copies.toSeq)
    val (nFiles, nBytes) = (results.size.toLong, results.map(_._2).sum)
    poolInstalls.foreach { case (tmp, target) =>
      fs.mkdirs(target.getParent)
      require(fs.rename(tmp, target),
        s"Snapshot.sync: pool install rename $tmp -> $target failed")
    }
    vtreeInstalls.foreach { case (v, vtmp) =>
      require(fs.rename(vtmp, new HPath(dstEx, s"v=$v")),
        s"Snapshot.sync: version install rename $vtmp failed")
    }
    // ---- prune what the source no longer has, then vacuum ----------
    // (minus what live READ PINS on the replica cover — a restore
    // streaming FROM this replica must not lose its version tree;
    // the shared retention pass: same version-scoped contract,
    // deferral streak and unscoped-pin conservatism as export's)
    val (pruned, vacuumed, deferred) = retentionPass(fs, dstEx, "sync",
      missingVs.lastOption.getOrElse(-1L),
      dstVs.filterNot(srcVs.contains))
    SyncResult(missingVs, poolInstalls.size.toLong, skipped, nFiles,
      nBytes, pruned, vacuumed, retentionDeferred = deferred)
  }

  // ---- internals ----------------------------------------------------

  /** Content stamp of one source batch dir: md5 over the (file name,
    * length) inventory of EVERY non-hidden file — data parts AND
    * `_`-prefixed markers. Spark embeds a fresh job UUID in every
    * part filename, so any in-place rewrite (takedown swap,
    * compaction) changes the stamp; markers are stamped too because
    * planDir COPIES them into the pool dir — excluding them was a
    * latent staleness channel (an in-place marker change without a
    * data rewrite would have kept the old stamp, and re-exports would
    * have served the stale marker forever). A marker whose bytes
    * change without its length changing is still invisible to the
    * stamp — batch-dir markers in this engine are create-once /
    * delete-once (the stats fold retire), never edited in place. */
  private def dirStamp(dirName: String, files: Seq[(String, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(dirName.getBytes("UTF-8"))
    files.foreach { case (n, l) =>
      md.update(0.toByte)
      md.update(n.getBytes("UTF-8"))
      md.update(l.toString.getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Content stamp of the bloom file: the framed format carries
    * md5(payload) as its trailing 16 bytes — read those, never the
    * payload (the bloom is sized for the corpus's growth horizon and
    * can be GBs). */
  private def bloomStamp(fs: FileSystem, p: HPath): String = {
    val len = fs.getFileStatus(p).getLen
    val magic = ContinuousIngest.BloomMagic
    val in = fs.open(p)
    try {
      val head = new Array[Byte](magic.length)
      require(len >= magic.length + 4 + 16 && {
          in.readFully(0, head); java.util.Arrays.equals(head, magic) },
        s"Snapshot.export: $p is not a framed bloom — storage corruption")
      val tail = new Array[Byte](16)
      in.readFully(len - 16, tail)
      tail.map("%02x".format(_)).mkString
    } finally in.close()
  }

  /** Materialize a PRIMARY state root from a `full = true` backup
    * version (default: the newest): manifest-named pool dirs copy
    * back to physical partitions, small dirs and table markers
    * verbatim, the bloom into place — then the whole tree installs by
    * ONE rename (hidden tmp beside `newRoot`), so a crashed restore
    * leaves only a hidden tmp and `newRoot` either exists completely
    * or not at all. The next restore to the same target ADOPTS that
    * tmp and RESUMES: completed files re-verify against their
    * recorded [[SumsFile]] hash and are reused in place (hash-only
    * read — a 100 TB restore that died at 90% pays for the missing
    * 10% plus a re-verify, not a second full copy); partial, stale,
    * or different-version leftovers are overwritten or dropped.
    * `newRoot` must not exist — restores never merge into live state.
    *
    * What a restored root is: a primary equivalent for every batch
    * face (ingestBatch continuation above the shipped horizon,
    * takedowns, compaction, serving, re-export). What it is NOT: the
    * stream's `_checkpoint` is deliberately absent — it belongs to a
    * specific source binding; restart the stream with a fresh
    * checkpoint and let re-delivery converge (already-ingested docs
    * drop as exact dups — the dedup engine IS the idempotence
    * layer), or continue with explicit `ingestBatch` ids. */
  /** `pin = false` skips the read pin on `exportRoot` — the explicit
    * opt-out for a backup mounted READ-ONLY at this consumer (pin
    * creation needs a write, and a read-only DR mount is a deliberate
    * posture). Safe ONLY when no exporter can run against that root
    * for the read's duration: with no pin, a concurrent export's
    * retention can prune the version this restore is streaming
    * mid-copy. The mid-export refusal still applies either way. */
  def restore(spark: SparkSession, exportRoot: String, newRoot: String,
              version: Long = -1L, pin: Boolean = true): IngestState = {
    // newRoot becomes a primary (IngestState would refuse it anyway —
    // but AFTER the full copy; refuse before a byte ships), and the
    // backup side's tmp-adoption/rename install needs atomicity too
    ContinuousIngest.refuseNonAtomicRename(exportRoot,
      "Snapshot.restore exportRoot")
    ContinuousIngest.refuseNonAtomicRename(newRoot,
      "Snapshot.restore newRoot")
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    val exRoot = fs.makeQualified(new HPath(exportRoot))
    // existence BEFORE pinning: the pin's create would otherwise
    // materialize a mistyped exportRoot's whole parent tree as a
    // plausible-looking empty dir (fs.create makes parents) — a typo
    // must fail with no side effects
    require(fs.exists(exRoot),
      s"Snapshot.restore: $exportRoot does not exist — not an export " +
        "root (check the path)")
    // pin the backup root for the read's duration: a scheduled export
    // can no longer prune the version tree or vacuum the pool dirs a
    // multi-hour restore is streaming (it defers exactly the pinned
    // version instead, once narrowed below); released in the finally,
    // crashed holders cleared with [[breakReadPins]]
    val readPin = new ReadPin(fs, exRoot, "restore", s"restore->$newRoot", pin)
    try {
    val v = resolveVersion(fs, exRoot, version, "restore")
    // the read set is known — narrow the pin to exactly this version
    // (its tree + the pool dirs its manifests reference, which survive
    // with it): a concurrent export prunes and vacuums everything else
    // on schedule while this restore streams
    readPin.narrow(Seq(v))
    val vRoot = new HPath(exRoot, s"v=$v")
    ContinuousIngest.requireFormat(spark, vRoot.toString, "Snapshot.restore")
    val marker = new String(ContinuousIngest.readFileBytes(fs,
      new HPath(vRoot, ContinuousIngest.SnapshotMarkerFile)), "UTF-8")
    require(marker.split("\n").map(_.trim).contains(s"$FullKey=true"),
      s"Snapshot.restore: version $v is a SERVING snapshot, not a " +
        "full backup — it lacks the dedup/takedown state a primary " +
        "needs; export with full = true for restorable backups")
    val dstFs = ContinuousIngest.fsFor(spark, newRoot)
    val dst = dstFs.makeQualified(new HPath(newRoot))
    require(!dstFs.exists(dst),
      s"Snapshot.restore: $newRoot already exists — restores never " +
        "merge into live state; pick a fresh root (or delete the old " +
        "one deliberately)")
    dstFs.mkdirs(dst.getParent)
    // RESUME a crashed prior attempt for THIS target instead of
    // restarting it: adopt the newest hidden tmp (older attempts are
    // swept; other targets' restores under the same parent are left
    // alone). Every adopted file whose recorded hash still matches is
    // reused in place by the copy task — a hash-only destination
    // read, no source read, no rewrite — so a 100 TB restore that
    // died at 90% pays for the missing 10% plus a re-verify, not a
    // second full copy. Adopted files the new plan does not name (an
    // earlier attempt at a DIFFERENT version) are dropped below, so
    // nothing ever rides into the restored root unplanned.
    // strict-suffix match — the full target name followed by exactly
    // the 8-hex-char attempt uuid. A prefix match would make targets
    // whose names prefix each other collide: a restore of `restored`
    // would adopt (and then sweep) the crashed tmp of a sibling
    // `restored_2` under the same parent, destroying ITS resume
    // progress even though the dropped-unplanned sweep keeps the
    // result correct.
    val tmpName = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(s"$RestoreTmpPrefix${dst.getName}_") +
        "[0-9a-f]{8}")
    val priorTmps = dstFs.listStatus(dst.getParent).toSeq
      .filter(s => s.isDirectory &&
        tmpName.matcher(s.getPath.getName).matches())
      .sortBy(_.getModificationTime)
    priorTmps.dropRight(1).foreach(s => dstFs.delete(s.getPath, true))
    val adopted = priorTmps.lastOption.map(_.getPath)
    val tmp = adopted.getOrElse(new HPath(dst.getParent,
      s"$RestoreTmpPrefix${dst.getName}_${java.util.UUID.randomUUID().toString.take(8)}"))
    val copies = scala.collection.mutable.ArrayBuffer.empty[CopyEntry]
    /** Plan one dir's files back, carrying each file's copy-time md5
      * from the dir's [[SumsFile]] when recorded (the copy task then
      * catches an artifact that rotted after install — the one window
      * copy-time verification can't see); the sums manifest itself
      * describes the snapshot dir, not the primary, and never rides
      * back. */
    def planBack(srcDir: HPath, outFor: String => HPath,
                 keep: String => Boolean = _ => true): Unit = {
      val sums = readSums(fs, srcDir)
      val files = fs.listStatus(srcDir)
        .filter(f => f.isFile && f.getPath.getName != SumsFile &&
          keep(f.getPath.getName))
      if (sums.nonEmpty) {
        // a summed dir is immutable and COMPLETE by contract — a
        // listed file gone missing would silently restore a primary
        // with a hole in a partition, and an unlisted data file would
        // restore rows nobody shipped; both refuse by name (run
        // verifyVersion for the full damage report)
        val names = files.map(_.getPath.getName).toSet
        val missing = sums.keySet -- names
        require(missing.isEmpty,
          s"Snapshot.restore: $srcDir lost files its $SumsFile " +
            s"recorded (${missing.toSeq.sorted.take(3).mkString(", ")}" +
            s"${if (missing.size > 3) ", …" else ""}) — the backup is " +
            "damaged; run verifyVersion for the full report and " +
            "restore from another replica")
        val unlisted = names -- sums.keySet
        require(unlisted.isEmpty,
          s"Snapshot.restore: $srcDir holds files no $SumsFile line " +
            s"accounts for (${unlisted.toSeq.sorted.take(3).mkString(", ")}" +
            s"${if (unlisted.size > 3) ", …" else ""}) — an immutable " +
            "pool dir was tampered with; run verifyVersion and restore " +
            "from another replica")
      }
      files.foreach { f =>
        val name = f.getPath.getName
        copies += CopyEntry(f.getPath.toString, outFor(name).toString,
          f.getLen, sums.get(name).map(_._2))
      }
    }
    fs.listStatus(vRoot).toSeq.filter(_.isDirectory).foreach { td =>
      val tableName = td.getPath.getName
      val outTable = new HPath(tmp, tableName)
      ContinuousIngest.snapshotDirs(spark, td.getPath.toString) match {
        case Some((_, entries)) =>
          entries.foreach { case (sub, poolDir) =>
            planBack(new HPath(poolDir),
              name => new HPath(outTable, s"$sub/$name"))
          }
          // table-root markers beside the manifest (docs-slim,
          // ann-config) ride back verbatim
          planBack(td.getPath, name => new HPath(outTable, name),
            keep = _ != ContinuousIngest.SnapshotDirsFile)
        case None =>
          // small physical dir (quantizers, drift base): verbatim
          planBack(td.getPath, name => new HPath(outTable, name))
      }
    }
    val bloomPtr = new HPath(vRoot, BloomPointerFile)
    if (fs.exists(bloomPtr)) {
      val rel = new String(ContinuousIngest.readFileBytes(fs, bloomPtr),
        "UTF-8").trim
      val src = new HPath(exRoot, rel)
      copies += CopyEntry(src.toString,
        new HPath(tmp, src.getName).toString,
        fs.getFileStatus(src).getLen,
        readSums(fs, src.getParent).get(src.getName).map(_._2))
    }
    // drop adopted leftovers the plan does not name — then the tmp is
    // exactly (planned files ∪ reusable completed copies). Emptied
    // dirs go too, bottom-up: a leftover `batch=` dir with no files
    // (a different-version attempt's table layout) would otherwise
    // ride the install rename and read as a phantom partition to the
    // dir-name-based parity guards (copyFiles recreates any parent a
    // planned file needs)
    // the restored root is a primary of the backup's format
    val stamp = new HPath(tmp, ContinuousIngest.FormatFile)
    val stampText = ContinuousIngest.stampText(snapshot = false)
    adopted.foreach { t =>
      val planned = copies.map(_.dst).toSet + stamp.toString
      def sweepUnplanned(p: HPath): Boolean = { // returns "now empty"
        val children = dstFs.listStatus(p)
        var remaining = children.length
        children.foreach { s =>
          val gone =
            if (s.isDirectory) {
              val empty = sweepUnplanned(s.getPath)
              // recursive: "empty" means no VISIBLE children survived
              // the sweep — hidden checksum sidecars may remain and
              // must not keep the phantom dir alive
              if (empty) dstFs.delete(s.getPath, true)
              empty
            } else if (!planned.contains(s.getPath.toString)) {
              dstFs.delete(s.getPath, false); true
            } else false
          if (gone) remaining -= 1
        }
        remaining == 0
      }
      sweepUnplanned(t)
      ()
    }
    // copy tasks verify length + content md5 executor-side (see
    // copyFiles) — a torn or corrupted copy fails the job and the tmp
    // is retained, nothing installed; files whose pool dir recorded a
    // copy-time md5 are ALSO verified against it, so post-install rot
    // in the backup itself fails the restore loudly instead of
    // materializing a corrupt primary (an adopted attempt's completed
    // files re-verify by the same hash and are reused in place)
    copyFiles(spark, copies.toSeq)
    // (an adopted attempt's intact stamp is reused in place too)
    if (!dstFs.exists(stamp) || new String(
        ContinuousIngest.readFileBytes(dstFs, stamp), "UTF-8") != stampText)
      writeText(dstFs, stamp, stampText)
    require(dstFs.rename(tmp, dst),
      s"Snapshot.restore: install rename $tmp -> $dst failed — tmp " +
        "retained, re-run")
    IngestState(dst.toString)
    } finally readPin.release()
  }

  /** Names this exporter CAN write driver-side into version trees
    * (outside [[copyFiles]], so outside the dir's [[SumsFile]]).
    * NOT an always-driver-written set: [[ContinuousIngest.DocsSlimMarker]]
    * is driver-written on an index-only export but rides copyFiles —
    * and therefore lands in the sums — when a FULL/docs export ships
    * a float-once primary's docs dir (the marker is a `_` file at the
    * primary docs root like any other). [[verifyVersion]] must treat
    * the two sides symmetrically: a name in this set is skipped only
    * when the dir's sums do NOT list it. */
  private val DriverWrittenFiles = Set(
    ContinuousIngest.SnapshotDirsFile, ContinuousIngest.DocsSlimMarker,
    ContinuousIngest.SnapshotMarkerFile, BloomPointerFile, SumsFile)

  /** Re-verify a STANDING snapshot version's bytes against the
    * copy-time checksums each dir's [[SumsFile]] persisted — the
    * failure mode copy-time verification cannot cover: an artifact
    * that rots AFTER install (bit flips on a non-checksumming FS
    * path, operator damage, a torn manual sync into the export
    * tree). The re-hash is one Spark task per file, the driver only
    * plans from dir listings — the DistCp shape again, so a serving
    * fleet can run this on a schedule against a 100 TB tree and the
    * wall-time scales with the cluster, not the corpus.
    *
    * Returns violation rows (empty = clean):
    *  - `md5=<path>` / `length=<path>` — content changed since
    *    copy-time verification (`unreadable=<path>` when the FS
    *    itself refuses the read — its own checksum layer catching the
    *    same rot, or a dead sector; one bad file never aborts the
    *    remaining sweep);
    *  - `missing=<path>` — listed in the dir's sums, gone from disk;
    *  - `missing_dir=<dir>` — a manifest-referenced pool dir is gone
    *    (retention/vacuum never prunes a dir a surviving version
    *    references, so this is external damage);
    *  - `unlisted=<path>` — a data file no sums line accounts for, in
    *    a dir that is immutable by contract;
    *  - `sums_missing=<dir>` — data files with no sums manifest at
    *    all; unverifiable.
    * The walk holds a READ PIN scoped to the audited version, like
    * every other whole-tree read: an export starting mid-audit defers
    * pruning THIS version (everything else prunes on schedule), so a
    * retention pass can never race the walk into spurious
    * `missing_dir`/vanished findings — and an audit starting
    * mid-export refuses loudly instead of guessing. `pin = false` is
    * the read-only-mount opt-out, same contract as [[restore]]'s. */
  def verifyVersion(spark: SparkSession, exportRoot: String,
                    version: Long = -1L,
                    pin: Boolean = true): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    val exRoot = fs.makeQualified(new HPath(exportRoot))
    require(fs.exists(exRoot),
      s"Snapshot.verifyVersion: $exportRoot does not exist — not an " +
        "export root (check the path)")
    val readPin = new ReadPin(fs, exRoot, "verifyVersion", "verifyVersion", pin)
    try {
    val v = resolveVersion(fs, exRoot, version, "verifyVersion")
    readPin.narrow(Seq(v))
    val vRoot = new HPath(exRoot, s"v=$v")
    // every dir whose files rode copyFiles: manifest-referenced pool
    // dirs, the version tree's physical dirs (quantizers, markers),
    // and the bloom's pool dir
    val dirs = scala.collection.mutable.ArrayBuffer.empty[HPath]
    val viol = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(vRoot).toSeq.filter(_.isDirectory).foreach { td =>
      ContinuousIngest.snapshotDirs(spark, td.getPath.toString) match {
        case Some((_, entries)) =>
          entries.foreach { case (_, poolDir) =>
            val p = new HPath(poolDir)
            if (fs.exists(p)) dirs += p else viol += s"missing_dir=$p"
          }
          dirs += td.getPath // table-root markers ride copyFiles too
        case None => dirs += td.getPath
      }
    }
    val bloomPtr = new HPath(vRoot, BloomPointerFile)
    if (fs.exists(bloomPtr))
      dirs += new HPath(exRoot, new String(
        ContinuousIngest.readFileBytes(fs, bloomPtr), "UTF-8").trim).getParent
    val toHash = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, String)] // (path, expectLen, expectMd5)
    dirs.distinct.foreach { d =>
      val sums = readSums(fs, d)
      // symmetric with the sums side: a DriverWrittenFiles name is
      // invisible ONLY when the sums do not list it — a slim primary's
      // docs-slim marker rides copyFiles on a full export and IS
      // summed, and filtering it out here reported every healthy
      // slim-root backup (and its replicas) as permanently missing it
      val present = fs.listStatus(d).toSeq
        .filter(f => f.isFile && (sums.contains(f.getPath.getName) ||
          !DriverWrittenFiles(f.getPath.getName)))
        .map(f => f.getPath.getName -> f.getLen).toMap
      if (sums.isEmpty) {
        // a dir can legitimately carry only driver-written files (an
        // index-only version's docs dir holds just the slim marker) —
        // only DATA files without checksums are a finding
        if (present.nonEmpty) viol += s"sums_missing=$d"
      } else {
        sums.foreach { case (name, (len, md5)) =>
          present.get(name) match {
            case None => viol += s"missing=${new HPath(d, name)}"
            case Some(gotLen) if gotLen != len =>
              viol += s"length=${new HPath(d, name)} got=$gotLen want=$len"
            case Some(_) =>
              toHash += ((new HPath(d, name).toString, len, md5))
          }
        }
        (present.keySet -- sums.keySet).foreach(n =>
          viol += s"unlisted=${new HPath(d, n)}")
      }
    }
    val hashed: Seq[String] =
      if (toHash.isEmpty) Nil
      else {
        val bc = broadcastConf(spark)
        val bcId = bc.id
        val slices = math.max(1, math.min(toHash.size,
          spark.sparkContext.defaultParallelism * 2))
        spark.sparkContext.makeRDD(toHash.toSeq, slices)
          .flatMap { case (path, _, want) =>
            val conf = ConfCache.get(bcId, bc.value)
            val p = new HPath(path)
            // an audit ENUMERATES damage — a read that dies (a
            // checksumming FS throwing on its own rotted block, a bad
            // disk sector) is itself a finding, never an abort of the
            // remaining sweep
            try {
              val md = java.security.MessageDigest.getInstance("MD5")
              val buf = new Array[Byte](1 << 20)
              val in = p.getFileSystem(conf).open(p)
              try {
                var n = in.read(buf)
                while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
              } finally in.close()
              val got = md.digest().map("%02x".format(_)).mkString
              if (got == want) Nil else Seq(s"md5=$path got=$got want=$want")
            } catch {
              case e: Throwable =>
                Seq(s"unreadable=$path ${e.getClass.getSimpleName}: " +
                  s"${Option(e.getMessage).getOrElse("").take(120)}")
            }
          }
          .collect().toSeq
      }
    (viol.toSeq ++ hashed).toDF("violation")
    } finally readPin.release()
  }

  /** Per-executor cache of the rebuilt Hadoop Configuration, keyed by
    * the broadcast id that shipped its pairs: the maintained-index
    * pool is many KB–MB files, and rebuilding a Configuration
    * (hundreds of `set` calls) per FILE task was real overhead on
    * exactly that shape. One rebuild per (executor, copy job); an LRU
    * of 32 (a Configuration is KBs — a leak stop, not a working set)
    * that evicts one stale entry at a time instead of the previous
    * clear-at-64 wholesale flush, so a live job loses its entry only
    * past 32 SIMULTANEOUS copy jobs on one executor — and even then
    * pays one rebuild, not a flush of everyone's. */
  private object ConfCache {
    private val cache = new java.util.LinkedHashMap[
        Long, org.apache.hadoop.conf.Configuration](48, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, org.apache.hadoop.conf.Configuration])
        : Boolean = size() > 32
    }
    def get(id: Long,
            pairs: Array[(String, String)]): org.apache.hadoop.conf.Configuration = {
      val hit = cache.synchronized(cache.get(id))
      if (hit != null) hit
      else {
        // build OUTSIDE the lock: the rebuild is hundreds of `set`
        // calls, and holding the map lock across it would serialize
        // unrelated jobs' cache HITS behind one job's build. A racing
        // duplicate build is harmless (last put wins; both configs
        // are equivalent).
        val c = new org.apache.hadoop.conf.Configuration()
        pairs.foreach { case (k, v) => c.set(k, v) }
        cache.synchronized { cache.put(id, c) }
        c
      }
    }
  }

  /** The Hadoop conf as plain pairs in a broadcast (Configuration is
    * not serializable) — rebuilt per executor by [[ConfCache]]. */
  private def broadcastConf(spark: SparkSession)
      : org.apache.spark.broadcast.Broadcast[Array[(String, String)]] = {
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    spark.sparkContext.hadoopConfiguration.iterator()
      .forEachRemaining(e => pairs += ((e.getKey, e.getValue)))
    spark.sparkContext.broadcast(pairs.toArray)
  }

  /** One planned file copy: `expectMd5` is the STORED content hash
    * when the source is itself a verified snapshot artifact (restore
    * reading a pool dir's [[SumsFile]]) — the only way to catch a
    * source that rotted AFTER its own copy-time verification. */
  private case class CopyEntry(src: String, dst: String, expectLen: Long,
                               expectMd5: Option[String] = None)

  /** Distributed file copy — one task per file, executor-side
    * FileSystem streams (the DistCp shape: shipping bandwidth scales
    * with the cluster, the driver only plans). The Hadoop conf rides
    * a broadcast as plain pairs (Configuration is not serializable),
    * rebuilt once per executor per job ([[ConfCache]]).
    *
    * Each task VERIFIES its own copy before returning: the md5 of the
    * bytes that streamed through is compared against a read-back of
    * what actually landed at the destination, and the landed length
    * against the planned source length — so a torn copy (truncation,
    * partial multipart artifact) and a corrupted-but-same-length copy
    * (bit flips on a non-checksumming FS path) both fail the task, and
    * the job, before anything installs. The read-back doubles the
    * destination read, but it is the only check that covers the whole
    * write path on filesystems without their own checksums, and it is
    * task-local — verification cost scales with the cluster exactly
    * like the copy itself. (Known cost-shape note: on a destination
    * FS that exposes comparable composite checksums — HDFS
    * `getFileChecksum` with matching block/bytes-per-crc — the
    * read-back could become a metadata call, the DistCp trick; not
    * wired here because the local test FS returns none and an
    * untestable fast path in the one routine that guards every
    * install is a bad trade.) A source that was already corrupt is caught
    * exactly when a trusted hash exists: entries carrying `expectMd5`
    * (restores reading [[SumsFile]]-verified pool dirs) compare the
    * streamed bytes against it and fail loudly on rot.
    * Returns one (dst, length, md5-hex) per file — the caller
    * persists these as the installed dirs' [[SumsFile]] manifests. */
  private def copyFiles(spark: SparkSession,
                        copies: Seq[CopyEntry]): Seq[(String, Long, String)] = {
    if (copies.isEmpty) return Nil
    val bc = broadcastConf(spark)
    val bcId = bc.id
    val slices = math.max(1, math.min(copies.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext
      .makeRDD(copies, slices)
      .map { case CopyEntry(src, dst, expectLen, expectMd5) =>
        val conf = ConfCache.get(bcId, bc.value)
        val sp = new HPath(src)
        val dp = new HPath(dst)
        val dstFs = dp.getFileSystem(conf)
        val buf = new Array[Byte](1 << 20)
        def hashOf(p: HPath): String = {
          val h = java.security.MessageDigest.getInstance("MD5")
          val s = dstFs.open(p)
          try {
            var n = s.read(buf)
            while (n >= 0) { if (n > 0) h.update(buf, 0, n); n = s.read(buf) }
          } finally s.close()
          h.digest().map("%02x".format(_)).mkString
        }
        // RESUME: a destination already holding the RECORDED bytes (an
        // adopted crashed-restore tmp) is reused in place — one
        // hash-only destination read, no source read, no rewrite. Only
        // a recorded hash qualifies; anything partial, stale or
        // unreadable falls through to a plain overwrite-copy.
        val reusable = expectMd5.exists { want =>
          try dstFs.exists(dp) &&
            dstFs.getFileStatus(dp).getLen == expectLen &&
            hashOf(dp) == want
          catch { case _: Throwable => false }
        }
        if (reusable) (dst, expectLen, expectMd5.get)
        else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val in = sp.getFileSystem(conf).open(sp)
        try {
          val out = dstFs.create(dp, true)
          try {
            var n = in.read(buf)
            while (n >= 0) {
              if (n > 0) { md.update(buf, 0, n); out.write(buf, 0, n) }
              n = in.read(buf)
            }
          } finally out.close()
        } finally in.close()
        val srcMd5 = md.digest()
        val srcHex = srcMd5.map("%02x".format(_)).mkString
        expectMd5.foreach(want => require(want == srcHex,
          s"Snapshot SOURCE corrupted: $src streamed with content md5 " +
            s"$srcHex but its pool dir's $SumsFile recorded $want at " +
            "copy-time verification — the artifact rotted after " +
            "install; nothing installed (restore from another replica " +
            "or re-export)"))
        val got = dstFs.getFileStatus(dp).getLen
        require(got == expectLen,
          s"Snapshot copy torn: $dst is ${got}B, source $src was " +
            s"${expectLen}B — nothing installed")
        require(srcHex == hashOf(dp),
          s"Snapshot copy corrupted: $dst read back with a different " +
            s"content md5 than the bytes streamed from $src — " +
            "same length, so a length check alone would have shipped " +
            "it; nothing installed")
        (dst, got, srcHex)
        }
      }
      .collect().toSeq
  }

  /** Write each destination dir's [[SumsFile]] from one copy job's
    * results — into the still-hidden tmp dirs, BEFORE any install
    * rename, so the manifest is immutable with the dir it describes. */
  private def writeSums(fs: FileSystem,
                        results: Seq[(String, Long, String)]): Unit =
    results.groupBy { case (dst, _, _) => new HPath(dst).getParent }
      .foreach { case (dir, files) =>
        val text = files.map { case (dst, len, md5) =>
          s"${new HPath(dst).getName}\t$len\t$md5" }.sorted.mkString("\n")
        writeText(fs, new HPath(dir, SumsFile), text)
      }

  /** Parse one dir's [[SumsFile]]: name -> (length, md5). Empty when
    * absent (a dir holding only driver-written files). */
  private def readSums(fs: FileSystem,
                       dir: HPath): Map[String, (Long, String)] = {
    val p = new HPath(dir, SumsFile)
    if (!fs.exists(p)) Map.empty
    else new String(ContinuousIngest.readFileBytes(fs, p), "UTF-8")
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .map { l =>
        val Array(n, len, md5) = l.split("\t", 3)
        n -> (len.toLong, md5)
      }.toMap
  }

  /** Complete (marker-carrying) `v=<n>` dirs. A marker-less `v=` dir
    * cannot exist from THIS writer (installs are rename-atomic with
    * the marker inside) — seeing one means external tampering, and
    * ignoring it here keeps readers deterministic. */
  private def listVersionDirs(fs: FileSystem, exRoot: HPath): Seq[HPath] =
    if (!fs.exists(exRoot)) Nil
    else fs.listStatus(exRoot).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath)
      .filter(p => fs.exists(new HPath(p, ContinuousIngest.SnapshotMarkerFile)))

  private def versionOf(p: HPath): Long =
    p.getName.stripPrefix("v=").toLong

  /** `version` when it is complete at `exRoot`, the newest complete
    * one for a negative `version` — or refuse, by face. */
  private def resolveVersion(fs: FileSystem, exRoot: HPath, version: Long,
                             face: String): Long = {
    val vs = listVersionDirs(fs, exRoot).map(versionOf).sorted
    if (version >= 0L) {
      require(vs.contains(version),
        s"Snapshot.$face: no complete version $version at $exRoot " +
          s"(have: ${vs.mkString(", ")})")
      version
    } else vs.lastOption.getOrElse(sys.error(
      s"Snapshot.$face: no complete snapshot at $exRoot — run " +
        "Snapshot.export first"))
  }

  /** The completed-takedown op count recorded in version `v`'s
    * marker; 0 for a field-less marker (never written by this code —
    * defensive default that errs toward PRUNING: a version that
    * cannot prove its takedown horizon classifies STALE the moment
    * any takedown completes, because right-to-be-forgotten beats
    * retention — keeping an unprovable version could pin purged
    * content). */
  private def markerOpsCount(fs: FileSystem, exRoot: HPath, v: Long): Long = {
    val mk = new HPath(exRoot, s"v=$v/${ContinuousIngest.SnapshotMarkerFile}")
    parseKv(new String(ContinuousIngest.readFileBytes(fs, mk), "UTF-8"))
      .get(OpsCountKey).map(_.toLong).getOrElse(0L)
  }

  /** Distinct completed-takedown ops on the primary — the version
    * staleness clock. Small read: the audit log carries one row per
    * (doc, op), never content. */
  private def takedownOpCount(spark: SparkSession, st: IngestState): Long =
    ContinuousIngest.deletesLog(spark, st)
      .select("op_id").distinct().count()

  /** Claim the export-root lock by exclusive create, or refuse by
    * name. `create(overwrite = false)` is atomic on HDFS and
    * local-posix; on filesystems without atomic exclusive create this
    * degrades to best-effort — still catching every accidental
    * steady-state overlap, which is the failure mode a convention
    * can't. The lock records holder + time for the refusal message. */
  private def acquireExportLock(fs: FileSystem, exRoot: HPath): HPath = {
    val lock = new HPath(exRoot, ExportLockFile)
    val out =
      try fs.create(lock, false)
      catch {
        case e: java.io.IOException =>
          val age =
            try System.currentTimeMillis() -
              fs.getFileStatus(lock).getModificationTime
            catch { case _: Throwable => -1L }
          sys.error(s"Snapshot.export: CONCURRENT EXPORT — $lock is " +
            s"held (age ${age}ms): exports on one exportRoot are " +
            "single-writer (version numbering, retention and the tmp " +
            "sweep race otherwise). If the holder crashed, clear it " +
            s"with Snapshot.breakExportLock and re-run. (${e.getMessage})")
      }
    try out.write(
      (s"holder_uuid=${java.util.UUID.randomUUID()}\n" +
        s"created_ms=${System.currentTimeMillis()}\n").getBytes("UTF-8"))
    finally out.close()
    lock
  }

  /** Clear a CRASHED exporter's lock (the holder process is gone and
    * its tmps will be swept by the next export). Unsafe while a live
    * export runs against the root — that is the caller's call to
    * make, which is why this is a separate, explicit face and never
    * automatic. Returns whether a lock existed. */
  def breakExportLock(spark: SparkSession, exportRoot: String): Boolean = {
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    fs.delete(new HPath(fs.makeQualified(new HPath(exportRoot)),
      ExportLockFile), false)
  }

  /** Take a READ PIN on an export root for the duration of a
    * whole-tree read (restore; sync's source side; verifyVersion's
    * walk). Protocol, matched against the exporter's: (1) the pin
    * lands first (a uuid-named marker — pins never contend with each
    * other: the FULL uuid rides the name, so a collision is
    * astronomically impossible rather than merely unlikely and the
    * exclusive create never aborts a read spuriously); (2) THEN the
    * export lock is checked — if an export/sync holds the root right
    * now, this reader cannot know whether that writer's retention
    * pass already ran its pin check, so it releases the pin and
    * refuses loudly (re-run when the export completes). An export
    * that STARTS after the pin landed always sees it: the retention
    * pass lists pins under the export lock, after the pin's create
    * completed. The pin carries holder info for the catalog a
    * deferred-retention operator reads ([[readPins]]).
    *
    * A fresh pin is BROAD (no `versions=` line — retention defers
    * everything); the caller narrows it with [[narrowReadPin]] the
    * moment its read set is known. A pin create that FAILS (the
    * common cause: the root is a read-only mount at this consumer)
    * refuses with the `pin = false` opt-out named — never silently,
    * because an unpinned read against a root an exporter CAN write is
    * exactly the race the pin closes. */
  private def acquireReadPin(fs: FileSystem, exRoot: HPath,
                             purpose: String): HPath = {
    val pin = new HPath(exRoot,
      s"$ReadPinPrefix${java.util.UUID.randomUUID()}")
    val out =
      try fs.create(pin, false)
      catch {
        case e: java.io.IOException =>
          sys.error(s"Snapshot: cannot create a read pin at $exRoot " +
            s"(${e.getMessage}) — whole-tree reads pin their source so " +
            "a concurrent export's retention cannot delete what they " +
            "stream. If this root is a READ-ONLY mount where no " +
            "exporter can possibly run, re-run with pin = false; " +
            "otherwise fix write access to the root.")
      }
    try out.write((s"purpose=$purpose\n" +
      s"created_ms=${System.currentTimeMillis()}\n").getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(new HPath(exRoot, ExportLockFile))) {
      fs.delete(pin, false)
      sys.error(s"Snapshot: $exRoot is mid-export (its " +
        s"$ExportLockFile is held) — a whole-tree read starting now " +
        "could race that export's retention pass; re-run when the " +
        "export completes (a crashed holder's lock is cleared with " +
        "Snapshot.breakExportLock)")
    }
    pin
  }

  /** One whole-tree read's pin ([[acquireReadPin]]): BROAD on
    * creation, narrowed to the read's versions once they are known
    * (create-new-then-delete-old — no unpinned instant), released by
    * the caller's finally. `enabled = false` is the read-only-mount
    * opt-out: no pin, but the mid-export refusal still applies. */
  private final class ReadPin(fs: FileSystem, exRoot: HPath, face: String,
                              purpose: String, enabled: Boolean) {
    private var current: Option[HPath] =
      if (enabled) Some(acquireReadPin(fs, exRoot, purpose))
      else { refuseMidExportUnpinned(fs, exRoot, face); None }
    def narrow(versions: Seq[Long]): Unit =
      current = current.map(narrowReadPin(fs, exRoot, _, purpose, versions))
    def release(): Unit = current.foreach(fs.delete(_, false))
  }

  /** The `pin = false` variant of the mid-export refusal the pin
    * protocol performs at acquire time: an unpinned whole-tree read
    * starting now cannot know whether the running exporter's
    * retention pass already ran its pin check, so it refuses the same
    * way a pinned one would. */
  private def refuseMidExportUnpinned(fs: FileSystem, exRoot: HPath,
                                      face: String): Unit =
    if (fs.exists(new HPath(exRoot, ExportLockFile)))
      sys.error(s"Snapshot.$face: $exRoot is mid-export (its " +
        s"$ExportLockFile is held) — re-run when the export completes " +
        "(a crashed holder's lock is cleared with Snapshot.breakExportLock)")

  /** Replace a broad pin with one scoped to `versions` — create the
    * scoped pin FIRST, then delete the broad one, so no instant exists
    * with the read unpinned (retention honors the UNION of live pins).
    * No export-lock re-check: the caller already passed it at acquire
    * time, and any export that started since sees whichever of the two
    * pins is live. Returns the new pin (the caller's finally releases
    * it). */
  private def narrowReadPin(fs: FileSystem, exRoot: HPath, broad: HPath,
                            purpose: String, versions: Seq[Long]): HPath = {
    val pin = new HPath(exRoot,
      s"$ReadPinPrefix${java.util.UUID.randomUUID()}")
    val out = fs.create(pin, false)
    try out.write((s"purpose=$purpose\n" +
      s"created_ms=${System.currentTimeMillis()}\n" +
      s"versions=${versions.sorted.mkString(",")}\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(broad, false)
    pin
  }

  /** Parse one marker/pin/deferral/stamp file's `key=value` lines —
    * the ONE parser every small-file face shares. */
  private[streaming] def parseKv(text: String): Map[String, String] =
    text.split("\n").toSeq.map(_.trim).filter(_.contains("="))
      .map { l => val Array(k, rest) = l.split("=", 2); k -> rest }
      .toMap

  /** One pin's version scope from its parsed fields: `None` = BROAD
    * (no `versions=` line, or an unparseable one — defer
    * everything). */
  private def pinScopeOf(fields: Map[String, String]): Option[Set[Long]] =
    fields.get("versions").flatMap(s => scala.util.Try(
      s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).toSet).toOption)

  /** Live pins (with their parsed fields) and the version set they
    * cover. Scope `None` = at least one pin is BROAD (no parseable
    * `versions=` line: a just-acquired pin its holder hasn't narrowed
    * yet, a manual pin an operator dropped to protect an out-of-band
    * whole-tree copy) — retention must
    * defer everything, the conservative contract. `Some(set)` = the
    * union of every pin's scope (empty set when nothing is pinned).
    *
    * A pin that VANISHES between the listing and its read is either a
    * reader finishing (pins nothing) or a reader NARROWING — the
    * replacement pin exists (create-new-then-delete-old) but may
    * postdate our listing, so the only sound response is a FRESH
    * listing, retried until a pass reads cleanly. The retry is
    * bounded; persistent churn degrades to broad (defer-all), never
    * the other way. */
  private def livePinScope(fs: FileSystem, exRoot: HPath)
    : (Seq[(HPath, Map[String, String])], Option[Set[Long]]) = {
    var last: (Seq[(HPath, Map[String, String])], Option[Set[Long]]) =
      (Nil, Some(Set.empty[Long]))
    var attempt = 0
    var retry = true
    while (retry && attempt < 5) {
      attempt += 1
      retry = false
      val pins = listReadPins(fs, exRoot).map { p =>
        try {
          val fields = parseKv(
            new String(ContinuousIngest.readFileBytes(fs, p), "UTF-8"))
          (p, fields, pinScopeOf(fields))
        } catch {
          case _: java.io.FileNotFoundException =>
            retry = true // re-list; broad if the churn persists
            (p, Map.empty[String, String], Option.empty[Set[Long]])
          case scala.util.control.NonFatal(_) =>
            (p, Map.empty[String, String], Option.empty[Set[Long]])
        }
      }
      val scopes = pins.map(_._3)
      last = (pins.map(t => (t._1, t._2)),
        if (scopes.contains(None)) None
        else Some(scopes.flatten.foldLeft(Set.empty[Long])(_ ++ _)))
    }
    last
  }

  /** Live read pins at an export root (listed by the exporter's
    * retention pass, under its lock). */
  private def listReadPins(fs: FileSystem, exRoot: HPath): Seq[HPath] =
    if (!fs.exists(exRoot)) Nil
    else fs.listStatus(exRoot).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(ReadPinPrefix))
      .map(_.getPath)

  /** The live read pins at `exportRoot`, one row per pin:
    * `(pin, purpose, created_ms, age_ms, versions)` — what an
    * operator checks when an export reports `retentionDeferred`
    * before deciding whether the holder is a live read (wait for it)
    * or a crashed one ([[breakReadPins]], by the `pin` name).
    * `versions` is the comma-joined version scope the pin protects;
    * `"*"` for a broad pin (defers everything — see
    * [[livePinScope]]'s cases). Metadata cost: one listing +
    * one small read per pin. */
  def readPins(spark: SparkSession, exportRoot: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    val now = System.currentTimeMillis()
    // a pin released between the listing and its read (a live reader
    // finishing — exactly the moment operators run this) is skipped,
    // not an abort: the catalog reports what still holds
    listReadPins(fs, fs.makeQualified(new HPath(exportRoot))).flatMap { p =>
      scala.util.Try {
        val fields = parseKv(
          new String(ContinuousIngest.readFileBytes(fs, p), "UTF-8"))
        val created = fields.get("created_ms").flatMap(s =>
          scala.util.Try(s.toLong).toOption).getOrElse(-1L)
        (p.getName, fields.getOrElse("purpose", ""), created,
          if (created > 0) now - created else -1L,
          fields.getOrElse("versions", "*"))
      }.toOption
    }.toDF("pin", "purpose", "created_ms", "age_ms", "versions")
  }

  /** Clear NAMED crashed readers' pins (names as [[readPins]] lists
    * them — each named pin's holder died without its finally). Like
    * [[breakExportLock]]: explicit and never automatic — a pin is the
    * only thing standing between a live 100 TB restore and an
    * export's retention pass, so expiring pins by age would trade a
    * loud deferral for a silent kill. Named for the same reason: the
    * operator clearing one crashed holder must not also clear the
    * LIVE restore pinned beside it (use [[breakAllReadPins]] only
    * when every holder is provably gone). Returns how many of the
    * named pins existed and were cleared. */
  def breakReadPins(spark: SparkSession, exportRoot: String,
                    pins: Seq[String]): Int = {
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    val exRoot = fs.makeQualified(new HPath(exportRoot))
    pins.count { name =>
      // the slash check keeps this a PIN face: '.read_pin_x/../<file>'
      // passes the prefix check but path-normalizes outside the pin
      // namespace — deleting arbitrary root files through the one
      // face documented as safe to aim at crashed readers
      require(name.startsWith(ReadPinPrefix) && !name.contains("/") &&
          !name.contains("\\"),
        s"Snapshot.breakReadPins: '$name' is not a read-pin name " +
          s"(a bare $ReadPinPrefix* file name — copy it from readPins)")
      fs.delete(new HPath(exRoot, name), false)
    }
  }

  /** Clear EVERY read pin at the root — including a live reader's,
    * which kills its protection mid-stream. Only for a root where
    * every holder is provably gone; prefer [[breakReadPins]] with the
    * crashed holder's name. Returns the number cleared. */
  def breakAllReadPins(spark: SparkSession, exportRoot: String): Int = {
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    val pins = listReadPins(fs, fs.makeQualified(new HPath(exportRoot)))
    pins.foreach(p => fs.delete(p, false))
    pins.size
  }

  /** The CURRENT consecutive retention-deferral streak at
    * `exportRoot`, one row per deferred pass, oldest first:
    * `(created_ms, face, version, blocked_versions, pins)` — `face`
    * is `export` or `sync`, `version` the version that pass shipped
    * (the newest synced version for sync; -1 when it shipped
    * nothing), `blocked_versions` the comma-joined prune candidates
    * live pins blocked (empty = only the pool vacuum was deferred,
    * under a broad pin), `pins` the pin catalog snapshot that blocked
    * it. The log is written by every deferred pass and CLEARED by the
    * first pass whose retention runs unblocked — so a non-empty
    * result IS the live streak ("retention has been deferred for K
    * consecutive exports"), the queryable alarm input a stderr
    * warning on a headless driver can never be. Empty = retention is
    * current. */
  def deferrals(spark: SparkSession, exportRoot: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fs = ContinuousIngest.fsFor(spark, exportRoot)
    val dir = new HPath(fs.makeQualified(new HPath(exportRoot)), DeferralsDir)
    val rows =
      if (!fs.exists(dir)) Seq.empty[(Long, String, Long, String, String)]
      else fs.listStatus(dir).toSeq.filter(_.isFile).flatMap { f =>
        scala.util.Try {
          val fields = parseKv(new String(
            ContinuousIngest.readFileBytes(fs, f.getPath), "UTF-8"))
          (fields.get("created_ms").flatMap(s =>
              scala.util.Try(s.toLong).toOption).getOrElse(-1L),
            fields.getOrElse("face", ""),
            fields.get("version").flatMap(s =>
              scala.util.Try(s.toLong).toOption).getOrElse(-1L),
            fields.getOrElse("blocked_versions", ""),
            fields.getOrElse("pins", ""))
        }.toOption
      }.sortBy(_._1)
    rows.toDF("created_ms", "face", "version", "blocked_versions", "pins")
  }

  /** Persist one deferred retention pass (runs under the root's
    * export lock): one small file, so "deferred again" is an append
    * and never a read-modify-write. The pin snapshot rides along —
    * already parsed by the [[livePinScope]] read that decided the
    * deferral, never re-read — because when the operator finally
    * looks, the holder that caused a week-old deferral may be long
    * gone from [[readPins]]. */
  private def logDeferral(fs: FileSystem, exRoot: HPath, face: String,
                          version: Long, blocked: Seq[Long],
                          pins: Seq[(HPath, Map[String, String])]): Unit = {
    val dir = new HPath(exRoot, DeferralsDir)
    fs.mkdirs(dir)
    val pinDesc = pins.map { case (p, fields) =>
      s"${p.getName}(${fields.getOrElse("purpose", "?")}," +
        s"versions=${fields.getOrElse("versions", "*")})"
    }.mkString("; ")
    val now = System.currentTimeMillis()
    writeText(fs, new HPath(dir,
      s"def_${now}_${java.util.UUID.randomUUID().toString.take(8)}"),
      Seq(s"created_ms=$now",
        s"face=$face",
        s"version=$version",
        s"blocked_versions=${blocked.mkString(",")}",
        s"pins=$pinDesc").mkString("\n"))
  }

  /** Close the streak: the first retention pass that runs unblocked
    * deletes the whole log (see [[deferrals]]). */
  private def clearDeferrals(fs: FileSystem, exRoot: HPath): Unit = {
    fs.delete(new HPath(exRoot, DeferralsDir), true)
    ()
  }

  /** The root's identity UUID; None on a root never exported by
    * id-stamping code (and never synced from one). */
  private def readRootId(fs: FileSystem, exRoot: HPath): Option[String] = {
    val p = new HPath(exRoot, RootIdFile)
    if (!fs.exists(p)) None
    else Some(new String(ContinuousIngest.readFileBytes(fs, p), "UTF-8")
      .trim).filter(_.nonEmpty)
  }

  /** Install the root's identity ATOMICALLY (hidden tmp + rename —
    * the module's own "published means complete" rule): a crash
    * mid-write must not leave a truncated id that permanently refuses
    * every future sync against the root's true source, because no
    * break-face clears a wrong id. */
  private def writeRootId(fs: FileSystem, exRoot: HPath, id: String): Unit = {
    val tmp = new HPath(exRoot,
      s".root_id_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    writeText(fs, tmp, id)
    // a torn earlier write can leave an EMPTY id file (readRootId
    // treats it as absent) — clear it so the rename lands; callers
    // hold the root's export lock, so nothing races this
    fs.delete(new HPath(exRoot, RootIdFile), false)
    require(fs.rename(tmp, new HPath(exRoot, RootIdFile)),
      s"Snapshot: root-id install rename $tmp failed")
  }

  /** Stamp the root's identity on first export (idempotent; runs
    * under the export lock, so no create race). */
  private def ensureRootId(fs: FileSystem, exRoot: HPath): String =
    readRootId(fs, exRoot).getOrElse {
      val id = java.util.UUID.randomUUID().toString
      writeRootId(fs, exRoot, id)
      id
    }

  /** Sweep a crashed export's hidden tmps: version-tree tmps at the
    * root, copy tmps under every pool batch dir. Safe by naming —
    * nothing reads dot-prefixed dirs — and cheap (one listing per
    * pool batch dir, which export lists anyway). Runs under the
    * export lock, so no live export can be concurrent. */
  private def sweepTmps(fs: FileSystem, exRoot: HPath): Unit = {
    fs.listStatus(exRoot).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(VTreeTmpPrefix))
      .foreach(s => fs.delete(s.getPath, true))
    // a crash between a root-id tmp's write and its rename leaves the
    // hidden tmp FILE at the root — swept like every other tmp
    fs.listStatus(exRoot).filter(s => s.isFile &&
        s.getPath.getName.startsWith(".root_id_tmp_"))
      .foreach(s => fs.delete(s.getPath, false))
    val pool = new HPath(exRoot, "pool")
    if (fs.exists(pool))
      fs.listStatus(pool).filter(_.isDirectory).foreach { td =>
        fs.listStatus(td.getPath).filter(_.isDirectory).foreach { bd =>
          fs.listStatus(bd.getPath).filter(s => s.isDirectory &&
              s.getPath.getName.startsWith(PoolTmpPrefix))
            .foreach(s => fs.delete(s.getPath, true))
        }
      }
  }

  private[streaming] def writeText(fs: FileSystem, p: HPath, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }
}
