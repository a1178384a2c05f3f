package graft

import graft.ops.Dedup
import graft.streaming.ContinuousIngest
import graft.streaming.ContinuousIngest.{IngestParams, IngestState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end execution of the README's "maintained incremental-dedup
  * state — the nightly ingest recipe", through the PRODUCT operator
  * (`ContinuousIngest.ingestBatch` — the same code the streaming face
  * drives): three document batches flow through REAL storage (parquet
  * state tables + a serialized bloom file on disk), each batch
  * deduplicated against the state and the survivors' state appended
  * forward, exactly as the recipe orders it.
  *
  * The per-op laws (`check_bloom_persist`, `check_incremental_bloom`,
  * `check_incremental_lsh_keys`) each pin ONE maintained face against
  * its recompute twin; this spec pins the COMPOSITION — append order,
  * state-table schemas, filter-merge sequencing, the storage round
  * trips — by running the same batches through the stateless faces
  * (full prior corpus re-read, filter rebuilt, keys recomputed) and
  * asserting the final corpus and every state table are identical.
  * A misordered append (state updated before the batch is filtered,
  * survivors vs admitted rows confused, a batch's filter merged
  * twice) changes the corpus or a state table and fails the compare.
  */
class NightlyIngestSpec extends SparkSpec {
  import spark.implicits._

  private val SEED = 42L
  private val FPP = 0.1
  private val CAP = 10000L // growth-horizon sizing, identical per batch
  private val MINJAC = 0.5
  private val P = IngestParams(expectedDigests = CAP, fpp = FPP,
    minJaccard = MINJAC, seed = SEED)

  /** 40 "w<k>" tokens starting at k = 31·i — far-apart streams don't
    * overlap (jac 0), a near-copy shifts the stream by one token
    * (jac ≈ 0.85 on 3-gram shingles, LSH-detectable at 32/8). */
  private def text(i: Long, shift: Long = 0L): String =
    (0 until 40).map(j => s"w${31 * i + j + shift}").mkString(" ")

  private def df(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  // batch 1: fresh docs + a WITHIN-batch exact dup (1004 copies 1001)
  private val batch1 = df(Seq(
    1001L -> text(1), 1002L -> text(2), 1003L -> text(3),
    1004L -> text(1), 1005L -> text(4), 1006L -> text(5)))
  // batch 2: a CROSS-batch exact dup (2001 == 1002), a cross-batch
  // NEAR dup (2002 ≈ 1003), fresh docs
  private val batch2 = df(Seq(
    2001L -> text(2), 2002L -> text(3, shift = 1),
    2003L -> text(6), 2004L -> text(7)))
  // batch 3: near dup of a batch-2 SURVIVOR (3001 ≈ 2003), exact dup
  // of a batch-1 doc (3002 == 1005), a within-batch dup pair, fresh
  private val batch3 = df(Seq(
    3001L -> text(6, shift = 1), 3002L -> text(4),
    3003L -> text(8), 3004L -> text(8), 3005L -> text(9)))

  /** The stateless twin: same batch policy, but the corpus is re-read
    * raw and every face recomputes from it (anti-join instead of
    * bloom, full re-shingle instead of stored keys). */
  private def runStateless(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val survivedExactLocal = batch.join(
      Dedup.exactDupFlags(batch).where(!col("is_dup")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val admitted = Dedup.incrementalNew(survivedExactLocal, corpus)
    val nearDupIds = Dedup.incrementalNearDupNew(
        admitted, corpus, 3, 32, 8, MINJAC, SEED)
      .select(col("a").as("doc_id")).distinct()
    admitted.join(nearDupIds, Seq("doc_id"), "left_anti").localCheckpoint()
  }

  test("three-batch nightly ingest: maintained state == stateless recompute, state tables consistent") {
    val root = java.nio.file.Files.createTempDirectory("graft_ingest")
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }
    val st = IngestState(root.toString)
    // bootstrap: empty corpus state (schemas written, zero rows; the
    // bloom of an empty corpus rejects every probe — all definite-new)
    val empty = df(Seq.empty[(Long, String)])
    ContinuousIngest.bootstrap(empty, st, P)

    val batches = Seq(batch1, batch2, batch3)
    val kept = batches.zipWithIndex.map { case (b, i) =>
      ContinuousIngest.ingestBatch(b, i.toLong, st, P)
    }

    // stateless twin over the same batch sequence
    var corpus = empty
    val keptTwin = batches.map { b =>
      val s = runStateless(b, corpus)
      corpus = corpus.unionByName(s).localCheckpoint()
      s
    }

    // the fixture must exercise every drop path
    assert(kept(0).count() == 5, "within-batch exact dup not dropped")
    val kept2 = kept(1).select("doc_id").as[Long].collect().toSet
    assert(!kept2.contains(2001L), "cross-batch exact dup not dropped")
    assert(!kept2.contains(2002L), "cross-batch near dup not dropped")
    val kept3 = kept(2).select("doc_id").as[Long].collect().toSet
    assert(!kept3.contains(3001L), "near dup of a batch-2 survivor not dropped")
    assert(!kept3.contains(3002L), "exact dup of a batch-1 doc not dropped")
    assert(kept3.intersect(Set(3003L, 3004L)).size == 1, "within-batch dup pair")

    // per-batch survivor sets identical to the stateless twin
    kept.zip(keptTwin).zipWithIndex.foreach { case ((m, t), i) =>
      assert(m.exceptAll(t).isEmpty && t.exceptAll(m).isEmpty,
        s"batch ${i + 1}: maintained and stateless survivors differ")
    }

    // state-table consistency against the final corpus
    val finalDocs = ContinuousIngest.readTable(spark, st.docsPath)
    assert(finalDocs.exceptAll(corpus).isEmpty && corpus.exceptAll(finalDocs).isEmpty,
      "final corpus differs from the stateless twin's")
    // digest rows are per-doc: the admit key (`text` = md5) plus the
    // per-doc stats factors the delete path
    // subtracts — the whole table must equal a recompute over docs
    val digests = ContinuousIngest.readTable(spark, st.digestsPath)
    val digestsWant = finalDocs.select(col("doc_id"),
      md5(col("text")).as("text"),
      length(col("text")).cast("long").as("n_chars"),
      size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"))
    assert(digests.exceptAll(digestsWant).isEmpty &&
      digestsWant.exceptAll(digests).isEmpty,
      "digest table out of sync with the corpus")
    val keysStored = ContinuousIngest.readTable(spark, st.keysPath)
    val keysFresh = Dedup.minhashBandKeys(finalDocs, 3, 32, 8, SEED)
    assert(keysStored.exceptAll(keysFresh).isEmpty && keysFresh.exceptAll(keysStored).isEmpty,
      "band-key table differs from a from-scratch key run")
    // merged bloom has NO false negatives over the final digest set
    val bf = Dedup.bloomFromBytes(ContinuousIngest.readBloomBytes(spark, st))
    val missed = digests.where(!graft.functions.Native.mightContainNative(
      spark, bf, xxhash64(col("text")))).count()
    assert(missed == 0, s"merged bloom false-negative on $missed stored digest(s)")
  }

  /** Batch ids are LINEAGE, not semantics: consolidating committed
    * `batch=` partitions mid-lifecycle (compactState after batch 2)
    * must leave every later dedup decision, every state table, and
    * even post-compaction replay idempotence identical to the
    * untouched twin — the law that makes periodic small-files
    * maintenance safe on a live ingest deployment. */
  test("mid-lifecycle compaction: compacted run == untouched twin, replay still idempotent") {
    def newRoot() = {
      val r = java.nio.file.Files.createTempDirectory("graft_ingest_cmp")
      sys.addShutdownHook {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(r).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
      r
    }
    val stA = IngestState(newRoot().toString) // compacts mid-run
    val stB = IngestState(newRoot().toString) // untouched twin
    val empty = df(Seq.empty[(Long, String)])
    ContinuousIngest.bootstrap(empty, stA, P)
    ContinuousIngest.bootstrap(empty, stB, P)
    val batches = Seq(batch1, batch2, batch3)
    val keptB = batches.zipWithIndex.map { case (b, i) =>
      ContinuousIngest.ingestBatch(b, i.toLong, stB, P)
    }
    ContinuousIngest.ingestBatch(batch1, 0L, stA, P)
    ContinuousIngest.ingestBatch(batch2, 1L, stA, P)
    // consolidate the committed batches (-1, 0, 1) into batch=1
    ContinuousIngest.compactState(spark, stA, upToBatch = 1L,
      targetRowsPerFile = 1000L)
    def partDirs(path: String): Int =
      new java.io.File(path).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(partDirs(stA.docsPath) == 1 && partDirs(stA.digestsPath) == 1 &&
      partDirs(stA.keysPath) == 1 && partDirs(stA.statsPath) == 1,
      "compaction left more than one committed partition")
    val k3 = ContinuousIngest.ingestBatch(batch3, 2L, stA, P)
    assert(k3.exceptAll(keptB(2)).isEmpty && keptB(2).exceptAll(k3).isEmpty,
      "batch-3 survivors differ after compaction")
    def sameTable(sub: String, what: String): Unit = {
      val a = ContinuousIngest.readTable(spark, s"${stA.root}/$sub")
      val b = ContinuousIngest.readTable(spark, s"${stB.root}/$sub")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$what table differs between compacted and untouched runs")
    }
    sameTable("docs", "docs")
    sameTable("digests", "digest")
    sameTable("keys", "band-key")
    // stats MERGE to the same totals (partial rows differ by lineage)
    val totA = ContinuousIngest.readStats(spark, stA).head()
    val totB = ContinuousIngest.readStats(spark, stB).head()
    assert(totA == totB, s"merged stats differ: $totA vs $totB")
    // post-compaction replay of the in-flight batch is still a no-op
    ContinuousIngest.ingestBatch(batch3, 2L, stA, P)
    sameTable("docs", "replayed docs")
    sameTable("digests", "replayed digest")

    // crash recovery: simulate a compaction that died AFTER writing
    // the hidden tmp and deleting the sources but BEFORE the final
    // move — the next compactState run must complete it losslessly
    val docsDir = new java.io.File(stA.docsPath)
    val before = ContinuousIngest.readTable(spark, stA.docsPath)
      .localCheckpoint()
    ContinuousIngest.compactState(spark, stA, upToBatch = 2L,
      targetRowsPerFile = 1000L)
    val part = docsDir.listFiles().filter(_.getName.startsWith("batch=")).maxBy(
      _.getName.stripPrefix("batch=").toLong)
    val id = part.getName.stripPrefix("batch=")
    java.nio.file.Files.move(part.toPath,
      new java.io.File(docsDir, s".compact_tmp_batch=$id").toPath)
    ContinuousIngest.compactState(spark, stA, upToBatch = 2L,
      targetRowsPerFile = 1000L)
    val after = ContinuousIngest.readTable(spark, stA.docsPath)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "stranded compaction tmp not recovered losslessly")

    // mid-WRITE crash: a tmp WITHOUT the _SUCCESS commit marker is a
    // partial write whose source partitions are all still intact —
    // recovery must DISCARD it and leave the sources alone. Installing
    // it (what id-only recovery would do: delete sources ≤ id, move
    // the tmp in) would replace the only intact copy of the table with
    // a partial one — permanent data loss.
    val part2 = docsDir.listFiles().filter(_.getName.startsWith("batch="))
      .maxBy(_.getName.stripPrefix("batch=").toLong)
    val id2 = part2.getName.stripPrefix("batch=")
    val partialTmp = new java.io.File(docsDir, s".compact_tmp_batch=$id2")
    assert(partialTmp.mkdir(), "could not stage the partial tmp")
    java.nio.file.Files.write(
      new java.io.File(partialTmp, "part-00000.parquet").toPath,
      Array[Byte](1, 2, 3)) // torn write: garbage bytes, no _SUCCESS
    ContinuousIngest.compactState(spark, stA, upToBatch = 2L,
      targetRowsPerFile = 1000L)
    val afterPartial = ContinuousIngest.readTable(spark, stA.docsPath)
    assert(afterPartial.exceptAll(before).isEmpty &&
      before.exceptAll(afterPartial).isEmpty,
      "an unmarked (mid-write-crash) compaction tmp corrupted the table")
    assert(!docsDir.listFiles().exists(_.getName.startsWith(".compact_tmp")),
      "partial compaction tmp not discarded on recovery")
  }
}
