package graft

import graft.streaming.ContinuousIngest
import graft.streaming.ContinuousIngest.{AnnParams, IngestParams, IngestState}
import org.apache.spark.sql.functions._

/** Round-15 maintenance-path guards, pinned:
  *
  *  - the consolidation-skew diagnosis in the index-table parity
  *    guard demands CONSOLIDATION EVIDENCE, not just a gap below a
  *    higher dir: a crashed append below the maximum batch (core
  *    tables `{-1, 0}`, packed tables `{0}`) leaves the same dir
  *    shape as an interrupted compaction, but the dir above its gap
  *    carries no consolidation marker — misreading it as skew would
  *    let `compactState` consolidate the packed tables without the
  *    missing batch, laundering the gap into a clean-looking layout;
  *  - a GENUINE interrupted compaction (marked consolidated dir)
  *    still reads as skew, queries get the "re-run compactState"
  *    remedy, and compactState completes it;
  *  - `annIvfFilteredMaintained` honors `excludeSelf` (the
  *    id-namespace-collision contract every sibling face already
  *    exposes);
  *  - an UNCOMMITTED tombstone intent is parked + warned about, not
  *    silently vanished (return 0 must not be the only signal that a
  *    takedown request was forgotten);
  *  - `start()` heals a crashed post-marker rebuild (deployment
  *    startup is the single-writer context, so the torn root repairs
  *    itself instead of waiting for a human to run the explicit
  *    remedy).
  */
class MaintenanceGuardSpec extends SparkSpec {
  import spark.implicits._

  private val P = IngestParams(expectedDigests = 10000L, fpp = 0.1,
    minJaccard = 0.5, seed = 42L)

  private def text(i: Long): String =
    (0 until 40).map(j => s"w${31 * i + j}").mkString(" ")

  private def emb(i: Long): Seq[Float] =
    (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)

  private def freshRoot(): java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_guard")
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }
    root
  }

  private def rmDir(dir: String): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    Files.walk(Path.of(dir)).sorted(Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
  }

  private val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2,
    semClusters = Some(6))
  private val Pa = P.copy(ann = Some(ann))

  /** Bootstrap (batch=-1) + one append (batch=0) on an ann root. */
  private def twoBatchRoot(root: String): IngestState = {
    val st = IngestState(root)
    ContinuousIngest.bootstrap(
      (1L to 30L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
        .toDF("doc_id", "text", "embedding"), st, Pa)
    ContinuousIngest.ingestBatch(
      (1L to 10L).map(i => (2000L + i, text(2000L + i), emb(2000L + i)))
        .toDF("doc_id", "text", "embedding"), 0L, st, Pa)
    st
  }

  test("skew diagnosis needs consolidation evidence: a crashed append below the maximum batch is not skew") {
    val st = twoBatchRoot(s"${freshRoot()}/trap")
    // the packed tables' BOOTSTRAP dirs are lost (a crashed append
    // below the maximum): core tables keep {-1,0}, packed keep {0} —
    // the dir shape of an interrupted compaction, minus its marker
    rmDir(s"${st.ivfPackedPath}/batch=-1")
    rmDir(s"${st.pqPackedPath}/batch=-1")
    val corpus = ContinuousIngest.readTable(spark, st.docsPath)
      .localCheckpoint()
    val eQ = intercept[Throwable] {
      ContinuousIngest.annIvfMaintained(spark, st, ann, corpus,
        k = 1, nprobe = 2).count()
    }
    assert(msgs(eQ).exists(_.contains("crashed partway")),
      s"queries must get the REPLAY remedy, not the compaction one: ${msgs(eQ)}")
    assert(!msgs(eQ).exists(_.contains("re-run compactState")),
      s"the wrong (compaction) remedy was named: ${msgs(eQ)}")
    // and compactState must REFUSE — proceeding would re-pack only
    // batch 0, laundering the gap into a layout the parity check can
    // no longer see
    val eC = intercept[Throwable] {
      ContinuousIngest.compactState(spark, st, upToBatch = 0L)
    }
    assert(msgs(eC).exists(_.contains("crashed partway")),
      s"compactState proceeded (or misdiagnosed) across a packed gap: ${msgs(eC)}")
    // the bootstrap partition cannot be replayed — rebuildIndexes
    // re-derives the whole index set and heals the root
    ContinuousIngest.rebuildIndexes(spark, st, ann)
    val got = ContinuousIngest.annIvfMaintained(spark, st, ann, corpus,
      k = 1, nprobe = 2)
    assert(got.limit(1).count() == 1, "healed root should answer again")
  }

  test("a genuine interrupted compaction reads as skew and compactState completes it") {
    val st = twoBatchRoot(s"${freshRoot()}/skew")
    val corpus = ContinuousIngest.readTable(spark, st.docsPath)
      .localCheckpoint()
    val want = ContinuousIngest.annIvfMaintained(spark, st, ann, corpus,
      k = 1, nprobe = 2).localCheckpoint()
    // simulate a compactState that consolidated ONLY the sem table
    // before crashing: union its {-1,0} rows under a MARKED batch=0,
    // as compactTable installs it — only the dir layout skews
    val semRows = spark.read.option("basePath", st.semPath)
      .parquet(st.semPath).drop("batch").localCheckpoint()
    rmDir(s"${st.semPath}/batch=-1")
    rmDir(s"${st.semPath}/batch=0")
    semRows.write.mode("overwrite").parquet(s"${st.semPath}/batch=0")
    java.nio.file.Files.createFile(
      java.nio.file.Path.of(s"${st.semPath}/batch=0/_GRAFT_CONSOLIDATED"))
    // queries get the COMPACTION remedy (consolidation evidence passes)
    val eQ = intercept[Throwable] {
      ContinuousIngest.annIvfMaintained(spark, st, ann, corpus,
        k = 1, nprobe = 2).count()
    }
    assert(msgs(eQ).exists(_.contains("re-run compactState")),
      s"genuine skew should name the compaction remedy: ${msgs(eQ)}")
    // ...and compactState IS that remedy: it proceeds, heals the
    // layout, and answers are unchanged
    ContinuousIngest.compactState(spark, st, upToBatch = 0L)
    val got = ContinuousIngest.annIvfMaintained(spark, st, ann, corpus,
      k = 1, nprobe = 2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "answers changed across the completed consolidation")
  }

  test("filtered maintained ANN honors excludeSelf (id-namespace collision contract)") {
    val st = twoBatchRoot(s"${freshRoot()}/excl")
    val q = ContinuousIngest.loadQuantizers(spark, st, ann)
    val elig = ContinuousIngest.readTable(spark, st.docsPath).select("doc_id")
    // the fixture's emb repeats with period 21: corpus ids 1001 and
    // 1022 carry identical vectors. An external query colliding with
    // id 1001 must be able to KEEP the colliding corpus row.
    val collQ = Seq((1001L, emb(1001L))).toDF("doc_id", "embedding")
    val open = ContinuousIngest.annIvfFilteredMaintained(spark, st, ann,
      collQ, k = 1, nprobe = 4, elig, Some(q), excludeSelf = false).collect()
    assert(open.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1001L, 1001L)),
      s"excludeSelf=false must allow the colliding corpus row: ${open.mkString(",")}")
    val dflt = ContinuousIngest.annIvfFilteredMaintained(spark, st, ann,
      collQ, k = 1, nprobe = 4, elig, Some(q)).collect()
    assert(dflt.map(_.getLong(1)).toSeq === Seq(1022L),
      s"default self-exclusion must keep dropping the id-equal row: ${dflt.mkString(",")}")
  }

  test("an uncommitted tombstone intent is parked loudly, never silently vanished") {
    val st = twoBatchRoot(s"${freshRoot()}/disc")
    // a crash INSIDE the intent capture: pending dir exists, no
    // _SUCCESS — nothing was purged, the set is incomplete
    val pend = new java.io.File(s"${st.root}/.delete_pending")
    assert(pend.mkdir(), "could not stage the uncommitted tombstone")
    java.nio.file.Files.write(
      new java.io.File(pend, "part-junk.parquet").toPath, Array[Byte](1, 2, 3))
    val n = ContinuousIngest.recoverDeletes(spark, st)
    assert(n == 0L, "an uncommitted tombstone must not be applied")
    assert(!pend.exists(), "the pending dir should be retired")
    assert(new java.io.File(s"${st.root}/.delete_discarded").exists(),
      "the discarded intent must be parked as evidence — a takedown " +
        "request silently vanishing is the failure mode this guards")
    // ingest proceeds normally afterwards (the parked dir is
    // evidence, not state)
    ContinuousIngest.ingestBatch(
      (1L to 3L).map(i => (3000L + i, text(3000L + i), emb(3000L + i)))
        .toDF("doc_id", "text", "embedding"), 1L, st, Pa)
  }

  test("start() heals a crashed post-marker rebuild before the first batch") {
    val root = freshRoot()
    val st = twoBatchRoot(s"$root/heal")
    val q2 = ContinuousIngest.rebuildIndexes(spark, st, ann)
    // stage a crash AFTER the swap marker: some subdirs not yet moved
    // out of the tmp (the mid-swap window of the rebuild spec)
    val tmpRoot = new java.io.File(s"${st.root}/.rebuild_tmp")
    assert(tmpRoot.mkdir(), "could not stage the mid-swap tmp")
    Seq("centroids", "ivf", "drift_base").foreach { sub =>
      java.nio.file.Files.move(
        java.nio.file.Path.of(s"${st.root}/$sub"),
        new java.io.File(tmpRoot, sub).toPath)
    }
    java.nio.file.Files.write(
      new java.io.File(tmpRoot, "_GRAFT_SWAP_READY").toPath,
      Array.emptyByteArray)
    // ...and the swap manifest the rebuild wrote before its marker:
    // every index subdir it produced
    java.nio.file.Files.write(
      new java.io.File(tmpRoot, "_GRAFT_ACTIVE_SUBDIRS").toPath,
      Seq("centroids", "sem_centroids", "sem_tree", "books", "ivf",
        "ivf_packed", "pq", "pq_packed", "sem", "drift_base")
        .filter(sub => new java.io.File(s"${st.root}/$sub").exists() ||
          new java.io.File(tmpRoot, sub).exists())
        .mkString("\n").getBytes("UTF-8"))
    // one new chunk through the REAL streaming face: start() must
    // complete the swap (deployment startup IS the writer context)
    // and then ingest against the healed index set
    (1L to 3L).map(i => (4000L + i, text(4000L + i), emb(4000L + i)))
      .toDF("doc_id", "text", "embedding").coalesce(1)
      .write.parquet(s"$root/in/chunk_0")
    val q = ContinuousIngest.start(
      graft.streaming.Bounded.fileStream(spark, s"$root/in/chunk_*",
        schemaDDL = "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>"),
      st, Pa)
    q.awaitTermination()
    assert(!tmpRoot.exists(), "start() should have completed the torn swap")
    val qNow = ContinuousIngest.loadQuantizers(spark, st, ann)
    assert(qNow.cents.flatten.toSeq == q2.cents.flatten.toSeq,
      "healed root should carry the rebuilt quantizers")
    val docs = ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id").as[Long].collect().toSet
    assert(Set(4001L, 4002L, 4003L).subsetOf(docs),
      s"the streamed batch should have ingested after healing: $docs")
    // and the maintained ANN face serves from the healed root
    val corpus = ContinuousIngest.readTable(spark, st.docsPath)
    assert(ContinuousIngest.annIvfMaintained(spark, st, ann,
      corpus, k = 1, nprobe = 2, Some(qNow)).limit(1).count() == 1)
  }
}
