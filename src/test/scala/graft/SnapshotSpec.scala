package graft

import graft.ops.Similarity
import graft.streaming.{ContinuousIngest, Snapshot}
import graft.streaming.ContinuousIngest.{AnnParams, IngestParams, IngestState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The snapshot SHIPPING lifecycle (`Snapshot.export` / `.state`):
  * a maintained primary root exported as immutable versioned serving
  * trees. Pins, in lifecycle order:
  *
  *  - SERVE PARITY: every maintained ANN face answers from a snapshot
  *    multiset-identically to the primary (exact IVF, IVFADC with
  *    rerank — which on the index-only snapshot auto-switches to the
  *    packed-segment gather via the slim marker — and the filtered
  *    face, whose selectivity memo and parity guard run against the
  *    manifest, not a dir listing);
  *  - INCREMENTALITY: an unchanged re-export copies ZERO pool dirs;
  *    one new ingest batch copies exactly its five index partitions;
  *  - RELOCATABILITY: renaming the whole export root breaks nothing
  *    (manifests store export-root-relative paths);
  *  - CRASH RECOVERY: leftover hidden tmps are swept; pool dirs
  *    installed by a run that crashed before its version tree are
  *    REUSED, not re-copied;
  *  - TAKEDOWN PROPAGATION: a completed primary takedown makes every
  *    pre-takedown version stale — the next export prunes them ALL
  *    (overriding keepVersions), the new snapshot's index no longer
  *    contains the purged id, and the orphaned pool dirs are
  *    vacuumed;
  *  - IMMUTABILITY: every writer face refuses a snapshot root loudly.
  */
/** A destination FS that TRUNCATES every written file by one byte —
  * the torn-copy window (a partial multipart artifact, a crashed
  * close). `createOutputStreamWithMode` is the single funnel every
  * RawLocalFileSystem create runs through, so the wrap applies
  * exactly once per stream. */
class TornFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("tornfs:///")
  override protected def createOutputStreamWithMode(
      f: org.apache.hadoop.fs.Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission): java.io.OutputStream = {
    val out = super.createOutputStreamWithMode(f, append, permission)
    new java.io.OutputStream {
      private var held = -1
      override def write(b: Int): Unit = {
        if (held >= 0) out.write(held)
        held = b & 0xff
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close() // held byte dropped
    }
  }
}

/** A destination FS that FLIPS one bit of the first byte but keeps
  * the length — the corrupted-but-same-length window a length-only
  * verification ships silently. */
class FlipFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flipfs:///")
  override protected def createOutputStreamWithMode(
      f: org.apache.hadoop.fs.Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission): java.io.OutputStream = {
    val out = super.createOutputStreamWithMode(f, append, permission)
    new java.io.OutputStream {
      private var first = true
      override def write(b: Int): Unit = {
        if (first) { out.write((b ^ 0x01) & 0xff); first = false }
        else out.write(b)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }
  }
}

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  // embeddings as an ingestable ann corpus (unique text — no dedup
  // drops, every vector reaches the index); ⅘ bootstrap, ⅕ streamed
  private def docs: DataFrame =
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"),
        concat(lit("v"), col("vec_id")).as("text"), col("embedding"))
  private val isNew = pmod(col("doc_id"), lit(5)) === 0
  private lazy val nlist = Similarity.nlistFor(docs.count())
  private lazy val P = IngestParams(expectedDigests = 1000L, fpp = 0.05,
    nearDup = false, ann = Some(AnnParams(nlist = nlist)))

  private def freshDir(name: String): String = {
    val root = java.nio.file.Files.createTempDirectory(name)
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }
    root.toString
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def poolDirCount(ex: String): Int = {
    def subdirs(f: java.io.File) =
      Option(f.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
    subdirs(new java.io.File(s"$ex/pool"))
      .flatMap(subdirs).flatMap(subdirs)
      .count(_.getName.startsWith("snapv="))
  }

  test("export→serve parity, incremental re-export, relocation, crash reuse, takedown staleness, writer refusal") {
    val primary = freshDir("graft_snap_src")
    val ex = freshDir("graft_snap_ex")
    val st = IngestState(s"$primary/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))

    // ---- export v0 and serve every maintained face from it ---------
    val r0 = Snapshot.export(spark, st, ex)
    assert(r0.version === 0L)
    // 5 index tables × 2 batch dirs (bootstrap + batch 0)
    assert(r0.copiedPoolDirs === 10L && r0.skippedPoolDirs === 0L)
    assert(r0.copiedFiles > 0L && r0.copiedBytes > 0L)
    val snap = Snapshot.state(spark, ex)
    val slice = pmod(col("doc_id"), lit(7)) === 0
    val q = docs.where(slice)
    assert(rows(ContinuousIngest.annIvfMaintained(spark, snap, P.ann.get,
        q, k = 3, nprobe = 4)) ===
      rows(ContinuousIngest.annIvfMaintained(spark, st, P.ann.get,
        q, k = 3, nprobe = 4)))
    // the index-only snapshot carries the slim marker and no docs
    // floats; its answers must still equal the primary's
    assert(ContinuousIngest.docsSlim(spark, snap))
    assert(rows(ContinuousIngest.annIvfPqMaintained(spark, snap, P.ann.get,
        q, k = 3, nprobe = 4, rerank = 8)) ===
      rows(ContinuousIngest.annIvfPqMaintained(spark, st, P.ann.get,
        q, k = 3, nprobe = 4, rerank = 8)))
    val elig = docs.where(pmod(col("doc_id"), lit(3)) === 0).select("doc_id")
    assert(rows(ContinuousIngest.annIvfFilteredMaintained(spark, snap,
        P.ann.get, q, k = 3, nprobe = 2, elig)) ===
      rows(ContinuousIngest.annIvfFilteredMaintained(spark, st,
        P.ann.get, q, k = 3, nprobe = 2, elig)))

    // ---- unchanged re-export: zero copies, all dirs recognized -----
    val r1 = Snapshot.export(spark, st, ex)
    assert(r1.version === 1L)
    assert(r1.copiedPoolDirs === 0L && r1.skippedPoolDirs === 10L)
    assert(r1.prunedVersions.isEmpty && r1.vacuumedPoolDirs === 0L)

    // ---- one new batch: exactly its five partitions ship -----------
    val extra = docs.where(!isNew).limit(7)
      .select(col("doc_id") + lit(100000L), // fresh ids, fresh text
        concat(lit("x"), col("doc_id")).as("text"), col("embedding"))
      .toDF("doc_id", "text", "embedding")
    ContinuousIngest.ingestBatch(extra, 1L, st, P, Some(quant))
    val r2 = Snapshot.export(spark, st, ex)
    assert(r2.copiedPoolDirs === 5L && r2.skippedPoolDirs === 10L)
    assert(Snapshot.versions(spark, ex) === Seq(0L, 1L, 2L))

    // ---- crash window: pool dirs installed, version tree lost ------
    // (simulated by deleting the newest v= dir — the next export must
    // REUSE every pool dir and re-cut the version)
    val exFs = new org.apache.hadoop.fs.Path(ex)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    exFs.delete(new org.apache.hadoop.fs.Path(s"$ex/v=2"), true)
    // plus leftover hidden tmps from a hypothetical crashed run
    exFs.mkdirs(new org.apache.hadoop.fs.Path(s"$ex/.vtree_tmp_9_dead"))
    exFs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$ex/pool/ivf/batch=0/.pooltmp_dead_beef"))
    val r3 = Snapshot.export(spark, st, ex)
    assert(r3.copiedPoolDirs === 0L && r3.skippedPoolDirs === 15L)
    assert(!exFs.exists(new org.apache.hadoop.fs.Path(s"$ex/.vtree_tmp_9_dead")))
    assert(!exFs.exists(new org.apache.hadoop.fs.Path(
      s"$ex/pool/ivf/batch=0/.pooltmp_dead_beef")))

    // ---- relocation: the whole export root moves, reads still work -
    val ex2 = s"${freshDir("graft_snap_moved")}/moved"
    assert(exFs.rename(new org.apache.hadoop.fs.Path(ex),
      new org.apache.hadoop.fs.Path(ex2)))
    val movedSnap = Snapshot.state(spark, ex2)
    assert(rows(ContinuousIngest.annIvfMaintained(spark, movedSnap,
        P.ann.get, q, k = 3, nprobe = 4)) ===
      rows(ContinuousIngest.annIvfMaintained(spark, st, P.ann.get,
        q, k = 3, nprobe = 4)))

    // ---- takedown: staleness overrides retention --------------------
    val victim = docs.where(isNew).agg(min("doc_id")).head().getLong(0)
    val poolBefore = poolDirCount(ex2)
    assert(ContinuousIngest.deleteDocs(spark, st,
      Seq(victim).toDF("doc_id")) === 1L)
    val r4 = Snapshot.export(spark, st, ex2)
    // every pre-takedown version is stale — pruned despite keepVersions
    assert(r4.prunedVersions.nonEmpty)
    assert(Snapshot.versions(spark, ex2) === Seq(r4.version))
    // the purge rewrote partitions in place → new stamps shipped
    assert(r4.copiedPoolDirs > 0L)
    // orphaned pool dirs (only the pruned versions referenced them) gone
    assert(r4.vacuumedPoolDirs > 0L)
    assert(poolDirCount(ex2) < poolBefore + r4.copiedPoolDirs.toInt)
    // and the snapshot's index no longer contains the purged id
    val purged = Snapshot.state(spark, ex2)
    assert(Similarity.ivfUnpack(
        ContinuousIngest.readTable(spark, purged.ivfPackedPath))
      .where(col("nn_id") === lit(victim)).count() === 0L)
    // surviving manifest dirs all physically exist (vacuum precision)
    ContinuousIngest.snapshotDirs(spark, purged.ivfPackedPath).get
      ._2.foreach { case (_, dir) =>
        assert(exFs.exists(new org.apache.hadoop.fs.Path(dir)), dir) }

    // ---- immutability: every writer face refuses the snapshot ------
    def refusal(f: => Any): Unit = {
      val e = intercept[Throwable](f)
      assert(msgs(e).exists(_.contains("SNAPSHOT tree")), msgs(e).mkString(";"))
    }
    refusal(ContinuousIngest.ingestBatch(extra, 2L, purged, P, Some(quant)))
    refusal(ContinuousIngest.deleteDocs(spark, purged, Seq(1L).toDF("doc_id")))
    refusal(ContinuousIngest.enqueueDelete(spark, purged, Seq(1L).toDF("doc_id")))
    refusal(ContinuousIngest.processDeleteQueue(spark, purged))
    refusal(ContinuousIngest.compactState(spark, purged, upToBatch = 1L))
    refusal(ContinuousIngest.bootstrap(docs.where(!isNew), purged, P))
    // rebuildIndexes deletes + swaps index tables in place — on a
    // snapshot that would mutate an installed version tree
    refusal(ContinuousIngest.rebuildIndexes(spark, purged, P.ann.get))
    refusal(ContinuousIngest.rollbackBatch(spark, purged, 0L))
  }

  test("continuous face ships its own snapshots at the boundary slot, horizon-bounded to committed batches") {
    import graft.streaming.{Bounded, Snapshot => Snap}
    val root = freshDir("graft_snap_stream")
    val st = IngestState(s"$root/state")
    val ex = s"$root/export"
    val p = P.copy(export = Some(graft.streaming.Snapshot.ExportPolicy(
      ex, everyNBatches = 2)))
    ContinuousIngest.bootstrap(docs.where(!isNew), st, p)
    // four single-file chunks of the streamed fifth
    (0 until 4).foreach { i =>
      docs.where(isNew && pmod(col("doc_id"), lit(20)) === (5 * i))
        .coalesce(1).write.parquet(s"$root/in/chunk_$i")
      Thread.sleep(5)
    }
    ContinuousIngest.start(
      Bounded.fileStream(spark, s"$root/in/chunk_*",
        schemaDDL = "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>"),
      st, p).awaitTermination()
    // exactly one export fired (id = 2), horizon = batch 1: the
    // snapshot must hold bootstrap + batches 0,1 and NOTHING above
    val vs = Snap.versions(spark, ex)
    assert(vs === Seq(0L))
    val snap = Snap.state(spark, ex)
    val snapIvf = rows(ContinuousIngest.readTable(spark, snap.ivfPath))
    val primaryUpTo1 = rows(spark.read
      .option("basePath", st.ivfPath).parquet(st.ivfPath)
      .where(col("batch") <= lit(1L)).drop("batch"))
    val primaryAll = rows(ContinuousIngest.readTable(spark, st.ivfPath))
    assert(snapIvf === primaryUpTo1)
    assert(snapIvf !== primaryAll) // batches 2,3 really exist above it
    // and the snapshot SERVES at that horizon (parity guard included)
    val q = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    assert(ContinuousIngest.annIvfMaintained(spark, snap, p.ann.get,
      q, k = 3, nprobe = 4).count() > 0L)
    // the streaming SERVING face runs against the snapshot root too —
    // the full shipped-tier deployment shape (query stream answered
    // from an immutable, docs-free snapshot)
    val qDir = s"$root/queries"
    q.limit(10).coalesce(1).write.parquet(qDir)
    val out = s"$root/answers"
    ContinuousIngest.serve(
      Bounded.fileStream(spark, qDir,
        schemaDDL = "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>")
        .select("doc_id", "embedding"),
      snap, p.ann.get, out, k = 3, nprobe = 4, rerank = 8).awaitTermination()
    assert(spark.read.parquet(s"$out/batch=0").count() > 0L)
  }

  test("full backup + restore: every state table, the bloom, the audit log and the QUEUED takedowns round-trip; the restored root continues as a primary") {
    val root = freshDir("graft_snap_restore")
    val st = IngestState(s"$root/state")
    val p2 = P.copy(nearDup = true) // cover the keys table too
    ContinuousIngest.bootstrap(docs.where(!isNew), st, p2)
    val quant = ContinuousIngest.loadQuantizers(spark, st, p2.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, p2, Some(quant))
    // one COMPLETED takedown (audit log content) and one QUEUED,
    // undrained request (a pending commitment a backup must carry)
    val victims = docs.where(isNew).orderBy("doc_id")
      .limit(2).select("doc_id").collect().map(_.getLong(0))
    assert(ContinuousIngest.deleteDocs(spark, st,
      Seq(victims(0)).toDF("doc_id")) === 1L)
    ContinuousIngest.enqueueDelete(spark, st, Seq(victims(1)).toDF("doc_id"))
    val ex = s"$root/backup"
    val r = Snapshot.export(spark, st, ex, full = true)

    // a serving-only version cannot restore (loud refusal)
    val exServe = s"$root/serveonly"
    Snapshot.export(spark, st, exServe)
    val e = intercept[Throwable](
      Snapshot.restore(spark, exServe, s"$root/nope"))
    assert(msgs(e).exists(_.contains("full backup")), msgs(e).mkString(";"))

    val rst = Snapshot.restore(spark, ex, s"$root/restored", r.version)
    // state-table parity (Spark-side multiset diff — pq_packed's
    // binary column makes driver-side Row.toString identity-based),
    // bloom bytes, audit log
    Seq(st.docsPath -> rst.docsPath, st.digestsPath -> rst.digestsPath,
        st.keysPath -> rst.keysPath, st.statsPath -> rst.statsPath,
        st.ivfPackedPath -> rst.ivfPackedPath,
        st.pqPackedPath -> rst.pqPackedPath).foreach { case (a, b) =>
      val l = ContinuousIngest.readTable(spark, a)
      val r2 = ContinuousIngest.readTable(spark, b)
      assert(l.exceptAll(r2).isEmpty && r2.exceptAll(l).isEmpty, a)
    }
    assert(ContinuousIngest.readBloomBytes(spark, rst).toSeq ===
      ContinuousIngest.readBloomBytes(spark, st).toSeq)
    assert(rows(ContinuousIngest.deletesLog(spark, rst)
        .select("doc_id", "op_id")) ===
      rows(ContinuousIngest.deletesLog(spark, st)
        .select("doc_id", "op_id")))
    // stats face (positives + takedown deltas) agrees
    assert(rows(ContinuousIngest.readStats(spark, rst)) ===
      rows(ContinuousIngest.readStats(spark, st)))

    // CONTINUATION as a primary: a dup of an ingested doc drops (the
    // restored digest state + bloom are live), a fresh doc lands
    val existing = docs.where(isNew && !col("doc_id").isin(victims: _*))
      .limit(1)
    val fresh = existing.select(lit(999999L).as("doc_id"),
      lit("freshdoc").as("text"), col("embedding"))
    val admitted = ContinuousIngest.ingestBatch(
      existing.unionByName(fresh), 1L, rst, p2, Some(quant))
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSeq ===
      Seq(999999L))
    // the queued takedown survived the round trip and drains here
    assert(ContinuousIngest.processDeleteQueue(spark, rst) === 1L)
    assert(ContinuousIngest.readTable(spark, rst.docsPath)
      .where(col("doc_id") === lit(victims(1))).count() === 0L)
    // and the pre-restore primary still holds ITS copy (independence)
    assert(ContinuousIngest.readTable(spark, st.docsPath)
      .where(col("doc_id") === lit(victims(1))).count() === 1L)
  }

  test("float-once root backup: the packed segments are the ONLY float store and restore preserves them exactly") {
    val root = freshDir("graft_snap_slim")
    val st = IngestState(s"$root/state")
    val pSlim = P.copy(storeEmbeddingsInDocs = false)
    ContinuousIngest.bootstrap(docs.where(!isNew), st, pSlim)
    val quant = ContinuousIngest.loadQuantizers(spark, st, pSlim.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, pSlim, Some(quant))
    assert(ContinuousIngest.docsSlim(spark, st))
    val ex = s"$root/backup"
    Snapshot.export(spark, st, ex, full = true)
    // audit regression (r18 ADVICE): on a full export of a SLIM root
    // the docs-slim marker rides copyFiles (it is a `_` file at the
    // primary docs root) and IS summed — verifyVersion must treat the
    // sums and present sides symmetrically, not report the marker of
    // every healthy slim-root backup as permanently missing
    assert(Snapshot.verifyVersion(spark, ex).count() === 0L)
    // ...and a replica of that backup (sums ship verbatim) audits
    // clean too
    Snapshot.sync(spark, ex, s"$root/slimrep")
    assert(Snapshot.verifyVersion(spark, s"$root/slimrep").count() === 0L)
    val rst = Snapshot.restore(spark, ex, s"$root/restored")
    // the layout marker rode the round trip — a continuation caller
    // with the slim params is admitted, a fat caller refused
    assert(ContinuousIngest.docsSlim(spark, rst))
    // the only float store round-trips EXACTLY: reconstruction from
    // the restored packed segments equals the primary's
    val a = ContinuousIngest.reconstructEmbeddings(spark, st, pSlim.ann.get)
    val b = ContinuousIngest.reconstructEmbeddings(spark, rst, pSlim.ann.get)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // and the restored root CONTINUES under the slim discipline:
    // a fresh doc (with floats) lands, docs stay embedding-free
    val fresh = docs.where(!isNew).limit(1)
      .select(lit(888888L).as("doc_id"), lit("slimfresh").as("text"),
        col("embedding"))
    val admitted = ContinuousIngest.ingestBatch(fresh, 1L, rst, pSlim,
      Some(quant))
    assert(admitted.count() === 1L)
    assert(!ContinuousIngest.readTable(spark, rst.docsPath)
      .columns.contains("embedding"))
    // serving from the restored slim root (index-only rerank path)
    val q = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    assert(ContinuousIngest.annIvfPqMaintained(spark, rst, pSlim.ann.get,
      q, k = 3, nprobe = 4, rerank = 8, Some(quant)).count() > 0L)
  }

  test("export lock, torn/corrupted copy windows, marker-change staleness") {
    val primary = freshDir("graft_snap_guard")
    val st = IngestState(s"$primary/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val hconf = spark.sparkContext.hadoopConfiguration

    // ---- CONCURRENT EXPORT: a held lock refuses the second exporter
    // by name (the manufactured window: the lock file IS what a live
    // exporter holds for its whole run) --------------------------------
    val ex = freshDir("graft_snap_lockex")
    val exFs = new org.apache.hadoop.fs.Path(ex).getFileSystem(hconf)
    val lockPath = new org.apache.hadoop.fs.Path(ex, Snapshot.ExportLockFile)
    val lk = exFs.create(lockPath, false)
    lk.write("holder_uuid=live-exporter\n".getBytes("UTF-8")); lk.close()
    val raced = intercept[Throwable](Snapshot.export(spark, st, ex))
    assert(msgs(raced).exists(_.contains("CONCURRENT EXPORT")),
      msgs(raced).mkString(";"))
    assert(Snapshot.versions(spark, ex).isEmpty) // nothing half-installed
    // crashed-holder recovery: break the lock, export proceeds — and
    // RELEASES its own lock on success (a second export also works)
    assert(Snapshot.breakExportLock(spark, ex))
    val r0 = Snapshot.export(spark, st, ex)
    assert(r0.copiedPoolDirs === 10L)
    assert(!exFs.exists(lockPath))
    assert(Snapshot.export(spark, st, ex).copiedPoolDirs === 0L)

    // ---- TORN COPY: a destination FS that truncates every written
    // file by one byte must fail the copy TASK (length check) before
    // anything installs — and release the lock for the retry ----------
    hconf.set("fs.tornfs.impl", classOf[TornFs].getName)
    hconf.set("fs.flipfs.impl", classOf[FlipFs].getName)
    val tornRoot = s"tornfs:${freshDir("graft_snap_torn")}/ex"
    val torn = intercept[Throwable](Snapshot.export(spark, st, tornRoot))
    assert(msgs(torn).exists(_.contains("copy torn")), msgs(torn).mkString(";"))
    assert(Snapshot.versions(spark, tornRoot).isEmpty)
    val tornFs = new org.apache.hadoop.fs.Path(tornRoot).getFileSystem(hconf)
    assert(!tornFs.exists(new org.apache.hadoop.fs.Path(tornRoot,
      Snapshot.ExportLockFile)))

    // ---- CORRUPTED-SAME-LENGTH COPY: a destination FS that flips one
    // bit but keeps the length must fail the md5 read-back — the
    // window a length-only verification ships silently ----------------
    val flipRoot = s"flipfs:${freshDir("graft_snap_flip")}/ex"
    val flip = intercept[Throwable](Snapshot.export(spark, st, flipRoot))
    assert(msgs(flip).exists(_.contains("copy corrupted")),
      msgs(flip).mkString(";"))
    assert(Snapshot.versions(spark, flipRoot).isEmpty)

    // ---- MARKER-CHANGE STALENESS: a batch-dir `_` marker appearing
    // without a data rewrite must change the dir's content stamp (the
    // pool copies markers, so the stamp must cover them) ---------------
    val stFs = new org.apache.hadoop.fs.Path(st.root).getFileSystem(hconf)
    val batchDir = stFs.listStatus(new org.apache.hadoop.fs.Path(st.ivfPath))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .head.getPath
    val probe = stFs.create(
      new org.apache.hadoop.fs.Path(batchDir, "_probe_marker"), false)
    probe.write("m".getBytes("UTF-8")); probe.close()
    val r2 = Snapshot.export(spark, st, ex)
    assert(r2.copiedPoolDirs === 1L, "the marker-touched dir must re-ship")
    // and the new pool dir carries the marker (it rode the copy)
    val snap = Snapshot.state(spark, ex)
    val shipped = ContinuousIngest.snapshotDirs(spark, snap.ivfPath).get._2
      .collectFirst { case (sub, dir) if sub == batchDir.getName => dir }.get
    assert(exFs.exists(new org.apache.hadoop.fs.Path(shipped, "_probe_marker")))
  }

  test("persisted checksums: verifyVersion re-verifies a standing tree; restore refuses post-install rot") {
    val root = freshDir("graft_snap_sums")
    val st = IngestState(s"$root/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val ex = s"$root/backup"
    val r = Snapshot.export(spark, st, ex, includeDocs = true, full = true)

    // the catalog face reads the marker back: one full version
    val inf = Snapshot.info(spark, ex).collect()
    assert(inf.length === 1 && inf.head.getLong(0) === r.version &&
      inf.head.getBoolean(3) &&
      inf.head.getAs[String]("tables").contains("docs"), inf.mkString(";"))

    // clean tree: zero violations; every pool dir carries its sums
    assert(Snapshot.verifyVersion(spark, ex).count() === 0L)
    def subdirs(f: java.io.File) =
      Option(f.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
    val poolDirs = subdirs(new java.io.File(s"$ex/pool"))
      .flatMap(subdirs).flatMap(subdirs)
      .filter(_.getName.startsWith("snapv="))
    assert(poolDirs.length >= 4)
    assert(poolDirs.forall(d =>
      new java.io.File(d, "_GRAFT_SUMS").exists()),
      "every installed pool dir must carry its checksum manifest")
    // ...and a clean restore neither refuses nor ships the manifests
    Snapshot.restore(spark, ex, s"$root/restored", r.version)
    assert(!java.nio.file.Files.walk(
        java.nio.file.Path.of(s"$root/restored"))
        .anyMatch(_.getFileName.toString == "_GRAFT_SUMS"),
      "the sums describe snapshot dirs, not the primary — they must " +
        "not ride a restore")

    // manufacture POST-INSTALL rot, one window per pool dir so the
    // findings don't mask each other: a same-length bit flip, a
    // truncation, a vanished listed file, and a stray unlisted file
    def partsOf(d: java.io.File) = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val damaged = poolDirs.filter(partsOf(_).nonEmpty).take(4)
    assert(damaged.length === 4)
    val flipTarget = partsOf(damaged(0)).head
    val raf = new java.io.RandomAccessFile(flipTarget, "rw")
    try {
      raf.seek(flipTarget.length() / 2)
      val b = raf.read()
      raf.seek(flipTarget.length() / 2)
      raf.write(b ^ 0x01)
    } finally raf.close()
    val truncTarget = partsOf(damaged(1)).head
    val raf2 = new java.io.RandomAccessFile(truncTarget, "rw")
    try raf2.setLength(truncTarget.length() - 1) finally raf2.close()
    val goneTarget = partsOf(damaged(2)).head
    assert(goneTarget.delete())
    java.nio.file.Files.write(
      damaged(3).toPath.resolve("part-stray.parquet"), Array[Byte](1, 2, 3))

    val found = Snapshot.verifyVersion(spark, ex, r.version)
      .collect().map(_.getString(0)).sorted
    assert(found.length === 4, found.mkString(";"))
    // the flip reads as md5= on a raw FS; on the checksummed local FS
    // Hadoop's own crc layer throws first and the audit reports the
    // same file as unreadable= — either way, one finding, no abort
    assert(found.count(v => v.startsWith("md5=") ||
      v.startsWith("unreadable=")) === 1, found.mkString(";"))
    assert(found.count(_.startsWith("length=")) === 1, found.mkString(";"))
    assert(found.count(_.startsWith("missing=")) === 1, found.mkString(";"))
    assert(found.count(_.startsWith("unlisted=")) === 1, found.mkString(";"))

    // a rotted backup refuses to restore (the flip is caught by the
    // recorded hash — the window copy-time verification can't see)
    val rotErr = intercept[Throwable](
      Snapshot.restore(spark, ex, s"$root/rotted", r.version))
    assert(msgs(rotErr).exists(m => m.contains("SOURCE corrupted") ||
        m.contains("lost files") || m.contains("no _GRAFT_SUMS line")),
      msgs(rotErr).mkString(";"))
    assert(!new java.io.File(s"$root/rotted").exists())
  }

  test("restore RESUMES a crashed attempt: completed files re-verify by recorded hash and are reused in place") {
    val root = freshDir("graft_snap_resume")
    val st = IngestState(s"$root/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val ex = s"$root/backup"
    val r = Snapshot.export(spark, st, ex, includeDocs = true, full = true)
    // manufacture the crash window: a COMPLETE tmp that never got its
    // install rename (a real crash can also leave a partial tree —
    // strictly easier: unplanned files drop, partial files recopy)
    def walkFiles(dir: String): Seq[java.nio.file.Path] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      java.nio.file.Files.walk(java.nio.file.Path.of(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          // LocalFileSystem's hidden .crc sidecars are Hadoop's own
          // bookkeeping, managed outside the restore plan
          !p.getFileName.toString.startsWith("."))
        .forEach(p => buf += p)
      buf.toSeq
    }
    Snapshot.restore(spark, ex, s"$root/seed", r.version)
    val tmpName = s".restore_tmp_resumed_${java.util.UUID.randomUUID().toString.take(8)}"
    java.nio.file.Files.move(
      java.nio.file.Path.of(s"$root/seed"), java.nio.file.Path.of(s"$root/$tmpName"))
    // plus one stray from "a different version" and one torn partial
    java.nio.file.Files.write(
      java.nio.file.Path.of(s"$root/$tmpName/docs/batch=0/part-stale.parquet"),
      Array[Byte](9, 9))
    // ...and a whole unplanned partition (a different-version attempt)
    // — its file AND its emptied dir must both go, or the restored
    // root would carry a phantom batch= dir the parity guards see
    java.nio.file.Files.createDirectories(
      java.nio.file.Path.of(s"$root/$tmpName/docs/batch=9"))
    java.nio.file.Files.write(
      java.nio.file.Path.of(s"$root/$tmpName/docs/batch=9/part-old.parquet"),
      Array[Byte](8, 8))
    val adoptables = walkFiles(s"$root/$tmpName")
      .filter(!_.getFileName.toString.startsWith("part-stale"))
    assert(adoptables.nonEmpty)
    val torn = adoptables.maxBy(p => java.nio.file.Files.size(p))
    val raf = new java.io.RandomAccessFile(torn.toFile, "rw")
    try raf.setLength(java.nio.file.Files.size(torn) - 1) finally raf.close()
    // pin the adopted files' mtimes old — a REUSED file keeps its
    // mtime, a rewritten one gets a fresh one
    val oldMs = (System.currentTimeMillis() - 3600L * 1000L) / 1000L * 1000L
    adoptables.foreach(p => assert(p.toFile.setLastModified(oldMs)))
    val rst = Snapshot.restore(spark, ex, s"$root/resumed", r.version)
    // parity with the primary (the resumed tree is complete + correct)
    Seq(st.docsPath -> rst.docsPath, st.digestsPath -> rst.digestsPath,
        st.ivfPackedPath -> rst.ivfPackedPath).foreach { case (a, b) =>
      val l = ContinuousIngest.readTable(spark, a)
      val r2 = ContinuousIngest.readTable(spark, b)
      assert(l.exceptAll(r2).isEmpty && r2.exceptAll(l).isEmpty, a)
    }
    // the stray never rode in; the torn file was recopied; everything
    // else was REUSED in place (old mtimes survived)
    val restored = walkFiles(s"$root/resumed")
    assert(!restored.exists(_.getFileName.toString == "part-stale.parquet"))
    assert(!new java.io.File(s"$root/resumed/docs/batch=9").exists(),
      "an emptied unplanned partition dir must not ride the install")
    val tornName = torn.getFileName.toString
    val reused = restored.filter(p => p.getFileName.toString != tornName)
    assert(reused.nonEmpty)
    assert(reused.forall(p => p.toFile.lastModified() == oldMs),
      "an intact adopted file was rewritten instead of reused: " +
        reused.filter(_.toFile.lastModified() != oldMs).take(3).mkString(", "))
    assert(restored.find(_.getFileName.toString == tornName)
      .exists(_.toFile.lastModified() != oldMs),
      "the torn partial must have been recopied")
  }

  test("sync replicates an export root: content-addressed increments, takedown pruning propagates, divergence and rot refuse") {
    val root = freshDir("graft_snap_sync")
    val st = IngestState(s"$root/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val ex = s"$root/ex"
    val rep = s"$root/replica"
    Snapshot.export(spark, st, ex) // v0
    val s0 = Snapshot.sync(spark, ex, rep)
    assert(s0.copiedVersions === Seq(0L) && s0.copiedPoolDirs === 10L &&
      s0.prunedVersions.isEmpty, s0.toString)
    // the replica serves byte-identically and audits clean (the sums
    // manifests shipped verbatim, so it can seed further syncs)
    val q = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    assert(rows(ContinuousIngest.annIvfMaintained(spark,
        Snapshot.state(spark, rep), P.ann.get, q, k = 3, nprobe = 4)) ===
      rows(ContinuousIngest.annIvfMaintained(spark, st, P.ann.get,
        q, k = 3, nprobe = 4)))
    assert(Snapshot.verifyVersion(spark, rep).count() === 0L)
    // idempotent re-sync: nothing ships, nothing prunes
    val s1 = Snapshot.sync(spark, ex, rep)
    assert(s1.copiedVersions.isEmpty && s1.copiedPoolDirs === 0L &&
      s1.prunedVersions.isEmpty, s1.toString)
    // takedown propagation: purge at the primary -> export (prunes the
    // stale source versions) -> sync (replica prunes them too, vacuums
    // their pool dirs, and the purged id is gone from its index)
    val victim = docs.where(isNew).agg(min("doc_id")).head.getLong(0)
    assert(ContinuousIngest.deleteDocs(spark, st,
      Seq(victim).toDF("doc_id")) === 1L)
    val r1 = Snapshot.export(spark, st, ex)
    val s2 = Snapshot.sync(spark, ex, rep)
    assert(s2.copiedVersions === Seq(r1.version) &&
      s2.prunedVersions === Seq(0L) && s2.vacuumedPoolDirs > 0L,
      s2.toString)
    assert(Similarity.ivfUnpack(ContinuousIngest.readTable(spark,
        Snapshot.state(spark, rep).ivfPackedPath))
      .where(col("nn_id") === lit(victim)).count() === 0L)
    // refusal: an empty source never prunes a non-empty replica
    val emptyEx = freshDir("graft_snap_sync_empty")
    new java.io.File(s"$emptyEx/pool").mkdirs()
    val emptyErr = intercept[Throwable](Snapshot.sync(spark, emptyEx, rep))
    assert(msgs(emptyErr).exists(_.contains("no complete versions")),
      msgs(emptyErr).mkString(";"))
    // refusal: a replica AHEAD of the source diverged
    val ahead = new java.io.File(s"$rep/v=99")
    assert(ahead.mkdir())
    java.nio.file.Files.write(
      new java.io.File(ahead, "_GRAFT_SNAPSHOT").toPath,
      "version=99\n".getBytes("UTF-8"))
    val aheadErr = intercept[Throwable](Snapshot.sync(spark, ex, rep))
    assert(msgs(aheadErr).exists(_.contains("AHEAD")),
      msgs(aheadErr).mkString(";"))
    import java.util.Comparator
    java.nio.file.Files.walk(ahead.toPath)
      .sorted(Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    // refusal: a common version with a different marker is not ours
    val mk = new java.io.File(s"$rep/v=${r1.version}/_GRAFT_SNAPSHOT")
    java.nio.file.Files.write(mk.toPath, "version=tampered\n".getBytes("UTF-8"))
    // out-of-band write: drop the local-FS crc sidecar so the read
    // reaches the marker compare instead of the crc layer
    new java.io.File(mk.getParent, s".${mk.getName}.crc").delete()
    val diffErr = intercept[Throwable](Snapshot.sync(spark, ex, rep))
    assert(msgs(diffErr).exists(_.contains("DIFFERENT marker")),
      msgs(diffErr).mkString(";"))
    // refusal: source rot is caught in flight by the recorded hash —
    // a fresh replica never receives the corrupted artifact
    def subdirs(f: java.io.File) =
      Option(f.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
    val srcPart = subdirs(new java.io.File(s"$ex/pool"))
      .flatMap(subdirs).flatMap(subdirs)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val raf = new java.io.RandomAccessFile(srcPart, "rw")
    try {
      raf.seek(srcPart.length() / 2)
      val b = raf.read()
      raf.seek(srcPart.length() / 2)
      raf.write(b ^ 0x01)
    } finally raf.close()
    // drop the local-FS crc sidecar so the read reaches our own hash
    // gate (on a non-checksumming FS there is no sidecar; either layer
    // refusing is a pass, silence is the failure)
    new java.io.File(srcPart.getParent,
      s".${srcPart.getName}.crc").delete()
    val rotErr = intercept[Throwable](
      Snapshot.sync(spark, ex, s"$root/replica2"))
    assert(msgs(rotErr).exists(m => m.contains("SOURCE corrupted") ||
        m.contains("Checksum")), msgs(rotErr).mkString(";"))
    assert(Snapshot.versions(spark, s"$root/replica2").isEmpty)
  }

  test("docs-carrying export serves the IVFADC face and readTable(docs)") {
    val primary = freshDir("graft_snap_docs_src")
    val ex = freshDir("graft_snap_docs_ex")
    val st = IngestState(s"$primary/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val r = Snapshot.export(spark, st, ex, includeDocs = true)
    // 7 tables × 2 batch dirs
    assert(r.copiedPoolDirs === 14L)
    val snap = Snapshot.state(spark, ex)
    // a fat-root export carries NO slim marker (its docs keep their
    // floats); the face still answers from the index root alone
    assert(!ContinuousIngest.docsSlim(spark, snap))
    val q = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    assert(rows(ContinuousIngest.annIvfPqMaintained(spark, snap, P.ann.get,
        q, k = 3, nprobe = 4, rerank = 8)) ===
      rows(ContinuousIngest.annIvfPqMaintained(spark, st, P.ann.get,
        q, k = 3, nprobe = 4, rerank = 8)))
    // the docs table itself round-trips (content, not just answers)
    assert(rows(ContinuousIngest.readTable(spark, snap.docsPath)) ===
      rows(ContinuousIngest.readTable(spark, st.docsPath)))
  }

  private def pinsAt(ex: String): Seq[String] =
    Option(new java.io.File(ex).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith(".read_pin_")).toSeq

  test("read pins: a pinned export root defers ALL pruning/vacuuming; restore and sync pin their source and release it; a mid-export read refuses") {
    val root = freshDir("graft_snap_pins")
    val st = IngestState(s"$root/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val ex = s"$root/ex"
    Snapshot.export(spark, st, ex) // v0
    // make v0 maximally prunable: STALE by takedown (right-to-be-
    // forgotten normally overrides keepVersions) AND beyond retention
    val victim = docs.where(isNew).agg(min("doc_id")).head.getLong(0)
    assert(ContinuousIngest.deleteDocs(spark, st,
      Seq(victim).toDF("doc_id")) === 1L)
    // a live reader's pin (what restore/sync hold for their read)
    java.nio.file.Files.write(
      java.nio.file.Path.of(s"$ex/.read_pin_manual"),
      "purpose=test\ncreated_ms=123\n".getBytes("UTF-8"))
    // the operator-facing catalog names the holder (the thing checked
    // before deciding wait-vs-breakReadPins on a deferred export)
    val pinRows = Snapshot.readPins(spark, ex).collect()
    assert(pinRows.length === 1 && pinRows.head.getString(1) === "test" &&
      pinRows.head.getLong(2) === 123L, pinRows.mkString(";"))
    val poolBefore = poolDirCount(ex)
    val r1 = Snapshot.export(spark, st, ex, keepVersions = 1)
    // the export SHIPPED (pins never block shipping) but deleted
    // NOTHING — the pinned reader's version tree and pool dirs stand
    assert(r1.retentionDeferred, r1.toString)
    assert(r1.prunedVersions.isEmpty && r1.vacuumedPoolDirs === 0L,
      r1.toString)
    assert(Snapshot.versions(spark, ex) === Seq(0L, r1.version))
    assert(poolDirCount(ex) >= poolBefore)
    // the pinned version still SERVES (nothing under it vanished)
    assert(ContinuousIngest.readTable(spark,
      Snapshot.state(spark, ex, version = 0L).ivfPath).count() > 0L)
    // pin released (the crashed-holder face) -> the next export
    // catches up: staleness + retention prune v0 AND r1.version
    // (itself pre-cut at keepVersions=1 relative to the newest)
    assert(Snapshot.breakReadPins(spark, ex, Seq(".read_pin_manual")) === 1)
    val r2 = Snapshot.export(spark, st, ex, keepVersions = 1)
    assert(!r2.retentionDeferred)
    assert(r2.prunedVersions === Seq(0L, r1.version), r2.toString)
    assert(Snapshot.versions(spark, ex) === Seq(r2.version))
    assert(r2.vacuumedPoolDirs > 0L)

    // restore/sync HYGIENE: both pin their source for the read and
    // release it in a finally — no pin outlives the call
    val bk = s"$root/backup"
    Snapshot.export(spark, st, bk, full = true)
    Snapshot.restore(spark, bk, s"$root/restored")
    assert(pinsAt(bk).isEmpty, pinsAt(bk).mkString(","))
    Snapshot.sync(spark, bk, s"$root/replica")
    assert(pinsAt(bk).isEmpty, pinsAt(bk).mkString(","))

    // a whole-tree read STARTING mid-export cannot know whether the
    // running exporter's retention pass already checked pins — it
    // refuses loudly and leaves no pin behind
    java.nio.file.Files.write(
      java.nio.file.Path.of(s"$bk/.export_lock"),
      "holder_uuid=test\n".getBytes("UTF-8"))
    val rstErr = intercept[Throwable](
      Snapshot.restore(spark, bk, s"$root/restored2"))
    assert(msgs(rstErr).exists(_.contains("mid-export")),
      msgs(rstErr).mkString(";"))
    val syncErr = intercept[Throwable](
      Snapshot.sync(spark, bk, s"$root/replica2"))
    assert(msgs(syncErr).exists(_.contains("mid-export")),
      msgs(syncErr).mkString(";"))
    assert(pinsAt(bk).isEmpty, pinsAt(bk).mkString(","))
    assert(Snapshot.breakExportLock(spark, bk))
    Snapshot.restore(spark, bk, s"$root/restored2")
    assert(pinsAt(bk).isEmpty)
  }

  test("sync lineage identity: a destination from a DIFFERENT export root refuses before any prune — even when every version-set check passes") {
    val root = freshDir("graft_snap_lineage")
    val st = IngestState(s"$root/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val exA = s"$root/exA"
    val exB = s"$root/exB"
    Snapshot.export(spark, st, exA) // A: v0
    // B: three exports at keepVersions=1 -> holds ONLY v2
    (1 to 3).foreach(_ =>
      Snapshot.export(spark, st, exB, keepVersions = 1))
    assert(Snapshot.versions(spark, exB) === Seq(2L))
    // replica of A adopts A's lineage id on first sync
    val rep = s"$root/rep"
    Snapshot.sync(spark, exA, rep)
    def idOf(ex: String): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Path.of(s"$ex/_GRAFT_ROOT_ID")), "UTF-8").trim
    assert(idOf(rep) === idOf(exA))
    assert(idOf(exA) !== idOf(exB))
    // the r18 hole: rep holds only v0 — a version B LACKS, BELOW B's
    // max. No common version (no marker compare fires), nothing is
    // AHEAD: every pre-identity check passes, and the old code would
    // have pruned rep's v0 and vacuumed its pool. The lineage id
    // refuses by name instead, and the replica is untouched.
    val err = intercept[Throwable](Snapshot.sync(spark, exB, rep))
    assert(msgs(err).exists(_.contains("DIFFERENT export root")),
      msgs(err).mkString(";"))
    assert(Snapshot.versions(spark, rep) === Seq(0L))
    assert(poolDirCount(rep) > 0)
    // chain hop carries the identity onward (ter adopts from rep)
    val ter = s"$root/ter"
    Snapshot.sync(spark, rep, ter)
    assert(idOf(ter) === idOf(exA))
    // an ID-LESS destination that holds versions was not made by
    // export or sync: it refuses rather than prune-and-adopt
    java.nio.file.Files.delete(
      java.nio.file.Path.of(s"$rep/_GRAFT_ROOT_ID"))
    // out-of-band delete: drop the local-FS crc sidecar too
    new java.io.File(s"$rep/._GRAFT_ROOT_ID.crc").delete()
    val noId = intercept[Throwable](Snapshot.sync(spark, exA, rep))
    assert(msgs(noId).exists(_.contains("carries no lineage id")),
      msgs(noId).mkString(";"))
    assert(Snapshot.versions(spark, rep) === Seq(0L))
  }

  test("restore-tmp adoption matches the FULL target name (strict uuid suffix): a sibling target's crashed tmp is never adopted or destroyed") {
    val root = freshDir("graft_snap_sibling")
    val st = IngestState(s"$root/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val bk = s"$root/backup"
    val r = Snapshot.export(spark, st, bk, full = true)
    // manufacture the SIBLING's crashed attempt: target `restored_2`,
    // whose name the old prefix match (`restored` + "_") collided with
    Snapshot.restore(spark, bk, s"$root/seed", r.version)
    val sibTmp = s"$root/.restore_tmp_restored_2_cafe0123"
    java.nio.file.Files.move(java.nio.file.Path.of(s"$root/seed"),
      java.nio.file.Path.of(sibTmp))
    def fileCount(dir: String): Long =
      java.nio.file.Files.walk(java.nio.file.Path.of(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    val sibFiles = fileCount(sibTmp)
    assert(sibFiles > 0L)
    // restoring `restored` must neither adopt nor sweep the sibling's
    // resume progress — and still produce a correct root itself
    val rst = Snapshot.restore(spark, bk, s"$root/restored", r.version)
    assert(new java.io.File(sibTmp).isDirectory &&
      fileCount(sibTmp) === sibFiles,
      "the sibling target's crashed tmp was adopted/destroyed")
    val l = ContinuousIngest.readTable(spark, st.docsPath)
    val r2 = ContinuousIngest.readTable(spark, rst.docsPath)
    assert(l.exceptAll(r2).isEmpty && r2.exceptAll(l).isEmpty)
    // ...and the sibling's own restore ADOPTS its tmp (strict match
    // still finds the right one: resume, not recopy)
    val oldMs = (System.currentTimeMillis() - 3600L * 1000L) / 1000L * 1000L
    java.nio.file.Files.walk(java.nio.file.Path.of(sibTmp))
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      .forEach(p => assert(p.toFile.setLastModified(oldMs)))
    Snapshot.restore(spark, bk, s"$root/restored_2", r.version)
    val reused = java.nio.file.Files.walk(
        java.nio.file.Path.of(s"$root/restored_2"))
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(reused.nonEmpty && reused.forall(_.toFile.lastModified() == oldMs),
      "the sibling's resume progress was not reused")
  }

  test("snapshot roots refuse non-atomic-rename object stores, by scheme, before any byte ships") {
    val root = freshDir("graft_snap_scheme")
    val st = IngestState(s"$root/state") // never written — guard fires first
    def schemeRefusal(f: => Any): Unit = {
      val e = intercept[Throwable](f)
      assert(msgs(e).exists(m => m.contains("s3a") && m.contains("rename")),
        msgs(e).mkString(";"))
    }
    schemeRefusal(Snapshot.export(spark, st, "s3a://bucket/ex"))
    schemeRefusal(Snapshot.sync(spark, "s3a://bucket/ex", s"$root/rep"))
    schemeRefusal(Snapshot.sync(spark, s"$root/ex", "s3a://bucket/rep"))
    schemeRefusal(Snapshot.restore(spark, "s3a://bucket/ex", s"$root/new"))
    schemeRefusal(Snapshot.restore(spark, s"$root/ex", "s3a://bucket/new"))
    // a mistyped exportRoot fails with NO side effects: the existence
    // check runs before the read pin, whose create would otherwise
    // materialize the typo'd path as a plausible empty dir
    val typoErr = intercept[Throwable](
      Snapshot.restore(spark, s"$root/backups_exprot", s"$root/new2"))
    assert(msgs(typoErr).exists(_.contains("does not exist")),
      msgs(typoErr).mkString(";"))
    assert(!new java.io.File(s"$root/backups_exprot").exists(),
      "the typo'd export root was materialized by the pin's create")
  }

  private def writePin(ex: String, name: String, lines: String): Unit =
    java.nio.file.Files.write(
      java.nio.file.Path.of(s"$ex/.read_pin_$name"),
      lines.getBytes("UTF-8"))

  test("version-scoped read pins: an export racing a pinned read prunes UNPINNED stale versions (takedown propagates) while the pinned version survives; the deferral streak persists and clears") {
    val root = freshDir("graft_snap_vscope")
    val st = IngestState(s"$root/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val ex = s"$root/ex"
    Snapshot.export(spark, st, ex, full = true) // v0
    Snapshot.export(spark, st, ex, full = true) // v1
    // a reader streams v0 (what a restore's narrowed pin records)
    writePin(ex, "live", "purpose=restore-sim\ncreated_ms=1\nversions=0\n")
    val pinRows = Snapshot.readPins(spark, ex).collect()
    assert(pinRows.length === 1 && pinRows.head.getString(4) === "0",
      pinRows.mkString(";"))
    // a takedown completes: v0 AND v1 are now stale (right-to-be-
    // forgotten beats keepVersions)
    val victim = docs.where(isNew).agg(min("doc_id")).head.getLong(0)
    assert(ContinuousIngest.deleteDocs(spark, st,
      Seq(victim).toDF("doc_id")) === 1L)
    val r2 = Snapshot.export(spark, st, ex, full = true) // v2
    // the UNPINNED stale version pruned — takedown propagated while
    // the read streams; only the pinned one deferred
    assert(r2.prunedVersions === Seq(1L), r2.toString)
    assert(r2.retentionDeferred, r2.toString)
    assert(Snapshot.versions(spark, ex) === Seq(0L, r2.version))
    // the pinned version still SERVES (its tree and pool dirs stand)
    assert(ContinuousIngest.readTable(spark,
      Snapshot.state(spark, ex, version = 0L).docsPath).count() > 0L)
    // the deferral is PERSISTED: one streak row naming the blocked
    // version and the pin that blocked it
    val d1 = Snapshot.deferrals(spark, ex).collect()
    assert(d1.length === 1 && d1.head.getString(1) === "export" &&
      d1.head.getString(3) === "0" &&
      d1.head.getString(4).contains("restore-sim"), d1.mkString(";"))
    val r3 = Snapshot.export(spark, st, ex, full = true)
    assert(r3.retentionDeferred && r3.prunedVersions.isEmpty, r3.toString)
    assert(Snapshot.deferrals(spark, ex).count() === 2L, "streak grows")
    // the reader finishes: the next export prunes the stale pinned
    // version, vacuums its now-orphaned pre-takedown pool dirs, and
    // CLOSES the streak
    assert(Snapshot.breakReadPins(spark, ex,
      Seq(pinRows.head.getString(0))) === 1)
    val r4 = Snapshot.export(spark, st, ex, full = true)
    assert(!r4.retentionDeferred && r4.prunedVersions === Seq(0L),
      r4.toString)
    assert(r4.vacuumedPoolDirs > 0L, r4.toString)
    assert(Snapshot.deferrals(spark, ex).count() === 0L, "streak closed")
    // a pin whose scope no prune candidate touches defers NOTHING:
    // the warning/streak fires only when a pinned version blocks
    writePin(ex, "newer", s"purpose=sim\ncreated_ms=1\n" +
      s"versions=${r4.version}\n")
    val r5 = Snapshot.export(spark, st, ex, full = true,
      keepVersions = 3)
    assert(!r5.retentionDeferred, r5.toString)
    assert(r5.prunedVersions === Seq(r2.version), r5.toString)
    assert(Snapshot.deferrals(spark, ex).count() === 0L)
    assert(Snapshot.breakReadPins(spark, ex,
      Seq(s".read_pin_newer")) === 1)

    // the REAL readers wire the scope: poll the pin while restore and
    // sync stream a backup and observe the narrowed versions= line
    val bk = s"$root/bk"
    Snapshot.export(spark, st, bk, full = true) // v0 only
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def polled(body: => Unit): Set[String] = {
      seen.clear()
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val poller = new Thread(() => {
        while (!done.get) pinsAt(bk).foreach { n =>
          try seen.add(new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Path.of(s"$bk/$n")), "UTF-8"))
          catch { case _: Throwable => () }
        }
      })
      poller.start()
      try body finally { done.set(true); poller.join() }
      import scala.jdk.CollectionConverters._
      seen.asScala.toSet
    }
    val seenRestore = polled(
      Snapshot.restore(spark, bk, s"$root/restored_poll"))
    assert(seenRestore.exists(_.contains("versions=0")),
      s"restore never narrowed its pin: ${seenRestore.mkString("|")}")
    val seenSync = polled(Snapshot.sync(spark, bk, s"$root/rep_poll"))
    assert(seenSync.exists(_.contains("versions=0")),
      s"sync never narrowed its pin: ${seenSync.mkString("|")}")
    assert(pinsAt(bk).isEmpty, "a pin outlived its read")
  }

  test("breakReadPins is NAMED: clearing the crashed pin leaves the live reader's pin — and its deferral protection — intact") {
    val root = freshDir("graft_snap_breaknamed")
    val st = IngestState(s"$root/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val ex = s"$root/ex"
    Snapshot.export(spark, st, ex, full = true) // v0
    // a LIVE reader streams v0; a CRASHED holder left a broad pin
    writePin(ex, "live", "purpose=restore-live\ncreated_ms=1\nversions=0\n")
    writePin(ex, "crashed", "purpose=restore-crashed\ncreated_ms=1\n")
    val victim = docs.where(isNew).agg(min("doc_id")).head.getLong(0)
    assert(ContinuousIngest.deleteDocs(spark, st,
      Seq(victim).toDF("doc_id")) === 1L)
    // the broad crashed pin defers EVERYTHING (no scope to trust)
    val r1 = Snapshot.export(spark, st, ex, full = true)
    assert(r1.retentionDeferred && r1.prunedVersions.isEmpty, r1.toString)
    // clear the crashed holder BY NAME: the live pin survives…
    assert(Snapshot.breakReadPins(spark, ex,
      Seq(".read_pin_crashed")) === 1)
    val left = Snapshot.readPins(spark, ex).collect()
    assert(left.length === 1 && left.head.getString(1) === "restore-live",
      left.mkString(";"))
    // …and so does its protection: the stale pinned v0 still defers
    val r2 = Snapshot.export(spark, st, ex, full = true)
    assert(r2.retentionDeferred && r2.prunedVersions.isEmpty &&
      Snapshot.versions(spark, ex).contains(0L), r2.toString)
    // a non-pin name refuses (no silent deletion of arbitrary files)…
    val nameErr = intercept[Throwable](
      Snapshot.breakReadPins(spark, ex, Seq("_GRAFT_ROOT_ID")))
    assert(msgs(nameErr).exists(_.contains("not a read-pin name")),
      msgs(nameErr).mkString(";"))
    // …and so does a pin-prefixed TRAVERSAL (".read_pin_x/../<file>"
    // passes a prefix-only check but path-normalizes outside the pin
    // namespace)
    val travErr = intercept[Throwable](
      Snapshot.breakReadPins(spark, ex,
        Seq(".read_pin_x/../_GRAFT_ROOT_ID")))
    assert(msgs(travErr).exists(_.contains("not a read-pin name")),
      msgs(travErr).mkString(";"))
    assert(new java.io.File(s"$ex/_GRAFT_ROOT_ID").exists(),
      "a traversal name deleted a root file")
    // the explicit clear-all face takes the rest
    assert(Snapshot.breakAllReadPins(spark, ex) === 1)
    assert(Snapshot.readPins(spark, ex).count() === 0L)
  }

  test("read-only backup mount: restore/sync/verifyVersion refuse loudly naming the pin = false opt-out, which then reads without writing the source") {
    val root = freshDir("graft_snap_romount")
    val st = IngestState(s"$root/state")
    ContinuousIngest.bootstrap(docs.where(!isNew), st, P)
    val quant = ContinuousIngest.loadQuantizers(spark, st, P.ann.get)
    ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, P, Some(quant))
    val bk = s"$root/backup"
    val r = Snapshot.export(spark, st, bk, full = true)
    import scala.sys.process._
    // chattr +i: immutable dir — even root cannot create the pin file
    // (the closest a local spec gets to a read-only DR mount)
    assume(scala.util.Try(Seq("chattr", "+i", bk).!).getOrElse(1) == 0,
      "chattr +i unsupported here")
    try {
      def refusesNamingOptOut(f: => Any): Unit = {
        val e = intercept[Throwable](f)
        assert(msgs(e).exists(m => m.contains("read pin") &&
          m.contains("pin = false")), msgs(e).mkString(";"))
      }
      refusesNamingOptOut(Snapshot.restore(spark, bk, s"$root/r1"))
      refusesNamingOptOut(Snapshot.sync(spark, bk, s"$root/rep"))
      refusesNamingOptOut(Snapshot.verifyVersion(spark, bk))
      // the documented opt-out reads the immutable root end to end
      val rst = Snapshot.restore(spark, bk, s"$root/r1",
        version = r.version, pin = false)
      val l = ContinuousIngest.readTable(spark, st.docsPath)
      val g = ContinuousIngest.readTable(spark, rst.docsPath)
      assert(l.exceptAll(g).isEmpty && g.exceptAll(l).isEmpty)
      Snapshot.sync(spark, bk, s"$root/rep", pin = false)
      assert(Snapshot.versions(spark, s"$root/rep") === Seq(r.version))
      assert(Snapshot.verifyVersion(spark, bk, pin = false).count() === 0L)
    } finally {
      assert(Seq("chattr", "-i", bk).! == 0)
    }
    // …and with the lock held, even pin = false refuses (mid-export)
    java.nio.file.Files.write(
      java.nio.file.Path.of(s"$bk/.export_lock"),
      "holder_uuid=test\n".getBytes("UTF-8"))
    val lockErr = intercept[Throwable](
      Snapshot.restore(spark, bk, s"$root/r2", pin = false))
    assert(msgs(lockErr).exists(_.contains("mid-export")),
      msgs(lockErr).mkString(";"))
    assert(Snapshot.breakExportLock(spark, bk))
  }
}
