package graft

import graft.streaming.{Bounded, ContinuousIngest}
import graft.streaming.ContinuousIngest.{IngestParams, IngestState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The REAL streaming face of the ingest lifecycle: document batches
  * arrive as file-chunk micro-batches (`maxFilesPerTrigger=1`, the
  * repo's bounded-replay pattern) and flow through
  * `ContinuousIngest.start` — foreachBatch driving the SAME
  * `ingestBatch` the nightly job calls. Pins:
  *
  *  - streaming == batch-loop parity: the streamed state tables equal
  *    a manual `ingestBatch` loop over the same chunks (multiset, all
  *    three tables), so the foreachBatch plumbing adds nothing and
  *    loses nothing;
  *  - replay idempotence: re-delivering the LAST batch (what a crash
  *    between sink and checkpoint-commit does) leaves every state
  *    table and the bloom byte-identical;
  *  - mid-crash replay: delete two of the three table partitions of
  *    the last batch (simulating a crash partway through the state
  *    writes, AFTER the bloom merge) and re-deliver — the state
  *    self-heals to exactly the clean outcome, because in-flight
  *    reads exclude the batch's own partitions and the bloom's
  *    pre-claimed digests are re-verified against the digest table.
  */
/** A non-`file://` Hadoop filesystem for the state-root locality spec:
  * RawLocalFileSystem re-schemed as `mockfs:` — every access MUST go
  * through the Hadoop FileSystem API (a `java.nio` path like
  * `mockfs:/x` fails), which is exactly what the spec pins. */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

class ContinuousIngestSpec extends SparkSpec {
  import spark.implicits._

  private val P = IngestParams(expectedDigests = 10000L, fpp = 0.1,
    minJaccard = 0.5, seed = 42L)

  private def text(i: Long, shift: Long = 0L): String =
    (0 until 40).map(j => s"w${31 * i + j + shift}").mkString(" ")

  // same drop-path coverage as NightlyIngestSpec: within-batch exact
  // dup (104=101), cross-batch exact dup (201==102), cross-batch near
  // dup (202≈103), near dup of a later survivor (301≈203), fresh docs
  private val chunks = Seq(
    Seq(101L -> text(1), 102L -> text(2), 103L -> text(3), 104L -> text(1)),
    Seq(201L -> text(2), 202L -> text(3, shift = 1), 203L -> text(6)),
    Seq(301L -> text(6, shift = 1), 302L -> text(8), 303L -> text(9)))

  private def freshRoot(): java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_cingest")
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }
    root
  }

  /** A crashed rebuild's swap manifest: every index subdir its build
    * produced (all present under the root or still in the tmp). */
  private def writeSwapManifest(st: IngestState, tmpRoot: java.io.File): Unit =
    java.nio.file.Files.write(
      new java.io.File(tmpRoot, "_GRAFT_ACTIVE_SUBDIRS").toPath,
      Seq("centroids", "sem_centroids", "sem_tree", "books", "ivf",
        "ivf_packed", "pq", "pq_packed", "sem", "drift_base")
        .filter(sub => new java.io.File(s"${st.root}/$sub").exists() ||
          new java.io.File(tmpRoot, sub).exists())
        .mkString("\n").getBytes("UTF-8"))

  private def bootstrapped(root: String): IngestState = {
    val st = IngestState(root)
    ContinuousIngest.bootstrap(Seq.empty[(Long, String)].toDF("doc_id", "text"), st, P)
    st
  }

  /** All four state tables + bloom bytes, collected for comparison. */
  private def snapshot(st: IngestState): (Set[String], Set[String], Set[String], Set[String], Seq[Byte]) = {
    def rows(path: String) = ContinuousIngest.readTable(spark, path)
      .collect().map(_.mkString("|")).toSet
    (rows(st.docsPath), rows(st.digestsPath), rows(st.keysPath),
      rows(st.statsPath),
      ContinuousIngest.readBloomBytes(spark, st).toSeq)
  }

  test("file-chunk stream through start() == manual ingestBatch loop; replay is idempotent; mid-crash replay self-heals") {
    val root = freshRoot()
    // write the chunk files the stream will consume (one per batch,
    // distinct mtimes -> stable file order, the BoundedStreamSpec pattern)
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$root/in/chunk_$i")
      Thread.sleep(5)
    }

    // streaming face
    val stStream = bootstrapped(s"$root/stream")
    val q = ContinuousIngest.start(
      Bounded.fileStream(spark, s"$root/in/chunk_*",
        schemaDDL = "doc_id BIGINT, text STRING"),
      stStream, P)
    q.awaitTermination()

    // batch-loop face over the same chunks
    val stLoop = bootstrapped(s"$root/loop")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      ContinuousIngest.ingestBatch(rows.toDF("doc_id", "text"), i.toLong, stLoop, P)
    }
    assert(snapshot(stStream) === snapshot(stLoop),
      "streamed state differs from the manual ingestBatch loop")

    // the fixture exercised the drop paths (6 survivors of 10 docs)
    val docs = ContinuousIngest.readTable(spark, stStream.docsPath)
      .select("doc_id").as[Long].collect().toSet
    assert(docs === Set(101L, 102L, 103L, 203L, 302L, 303L), s"survivors: $docs")

    // replay idempotence: re-deliver the last batch verbatim
    val before = snapshot(stStream)
    ContinuousIngest.ingestBatch(chunks(2).toDF("doc_id", "text"), 2L, stStream, P)
    assert(snapshot(stStream) === before, "replaying the last batch changed state")

    // mid-crash replay: crash simulated AFTER the docs write + bloom
    // merge but BEFORE digests/keys landed — delete those two
    // partitions, then re-deliver the batch
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    Seq(s"${stStream.digestsPath}/batch=2", s"${stStream.keysPath}/batch=2")
      .foreach { dir =>
        Files.walk(Path.of(dir)).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      }
    ContinuousIngest.ingestBatch(chunks(2).toDF("doc_id", "text"), 2L, stStream, P)
    assert(snapshot(stStream) === before, "mid-crash replay did not self-heal")

    // maintained corpus accounting: the #batches 1-row partials sum to
    // exactly a from-scratch aggregation of the final docs table
    // (same expressions), and survived both replays above
    val gotStats = ContinuousIngest.readStats(spark, stStream)
      .as[(Long, Long, Long)].head()
    val wantStats = ContinuousIngest.readTable(spark, stStream.docsPath)
      .agg(count(lit(1)), sum(length(col("text")).cast("long")),
        sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[(Long, Long, Long)].head()
    assert(gotStats === wantStats,
      s"maintained stats $gotStats != recomputed $wantStats")
  }

  test("ann-enabled ingest maintains IVF/PQ/semantic tables: append == rebuild through replay") {
    import graft.ops.Similarity
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    // semClusters ≠ nlist: the semantic table must run under its OWN
    // persisted quantizer (the opposing sizing disciplines — see
    // AnnParams), which the rebuild comparisons below verify
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2,
      semClusters = Some(6))
    val Pa = P.copy(ann = Some(ann))
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    // bootstrap corpus: fresh texts (no dedup interaction with the
    // chunks) + embeddings — trains the persisted quantizers
    val boot = (1L to 20L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
    val st = IngestState(s"$root/ann")
    ContinuousIngest.bootstrap(
      boot.toDF("doc_id", "text", "embedding"), st, Pa)
    chunks.zipWithIndex.foreach { case (rows, i) =>
      ContinuousIngest.ingestBatch(
        rows.map { case (id, t) => (id, t, emb(id)) }
          .toDF("doc_id", "text", "embedding"), i.toLong, st, Pa)
    }
    val q = ContinuousIngest.loadQuantizers(spark, st, ann)
    val cents = q.cents
    val books = q.books
    assert(q.semCents.length == 6 && cents.length == 4,
      "semantic quantizer must be its own 6-centroid table")
    val finalDocs = ContinuousIngest.readTable(spark, st.docsPath)
    def assertSame(name: String, maintained: DataFrame, rebuilt: DataFrame): Unit =
      assert(maintained.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(maintained).isEmpty,
        s"$name: maintained table != from-scratch rebuild over the final corpus")
    // pinned (materialized) copies — binary columns have identity
    // toString, so set-of-mkString snapshots would never compare
    // equal; and the replay OVERWRITES the parquet these lazily read
    def snapshotIdx(): Seq[DataFrame] =
      Seq(st.ivfPath, st.ivfPackedPath, st.pqPath, st.pqPackedPath,
          st.semPath).map(p =>
        ContinuousIngest.readTable(spark, p).localCheckpoint())
    // the maintained assignment table is SLIM (nn_id, list) — floats
    // live once, in the packed table (law below)
    assertSame("ivf", ContinuousIngest.readTable(spark, st.ivfPath),
      Similarity.ivfAssign(finalDocs, cents, idCol = "doc_id")
        .select("nn_id", "list"))
    // slim pq: codes_arr (codes widened to ints) stays one-shot-only
    assertSame("pq", ContinuousIngest.readTable(spark, st.pqPath),
      Similarity.pqEncode(finalDocs, books, idCol = "doc_id")
        .drop("codes_arr"))
    assertSame("sem", ContinuousIngest.readTable(spark, st.semPath),
      Similarity.semanticAssign(finalDocs, q.semCents, ann.nAssign, idCol = "doc_id"))
    // the search faces over the maintained tables == the one-shot
    // operators under the same persisted quantizers
    // the fromIndex face over maintained data: the slim table has no
    // floats, so the index side is the packed table's exact unpack
    assertSame("ivf_search",
      Similarity.annIvfFromIndex(
        Similarity.ivfUnpack(ContinuousIngest.readTable(spark, st.ivfPackedPath)),
        finalDocs, k = 1, nprobe = 2, cents, idCol = "doc_id"),
      Similarity.annIvf(finalDocs, 1, nlist = 4, nprobe = 2,
        centroids = Some(cents), idCol = "doc_id"))
    // the PACK-ONCE face: queries against the maintained per-batch
    // packed segments (never re-packing) equal the one-shot operator
    // byte-for-byte — segmentation-independence through real parquet
    assertSame("ivf_packed_search",
      ContinuousIngest.annIvfMaintained(spark, st, ann, finalDocs,
        k = 1, nprobe = 2, Some(q)),
      Similarity.annIvf(finalDocs, 1, nlist = 4, nprobe = 2,
        centroids = Some(cents), idCol = "doc_id"))
    // and the packed table is the SOLE float store: its unpack
    // restores the full from-scratch assignment rows exactly —
    // nothing was lost by slimming the assignment table
    assertSame("ivf_packed_rows",
      Similarity.ivfUnpack(ContinuousIngest.readTable(spark, st.ivfPackedPath)),
      Similarity.ivfAssign(finalDocs, cents, idCol = "doc_id"))
    // the packed ADC table unpacks to exactly the assignment ⋈ encode
    // join — the serving scan loses nothing vs the core tables
    assertSame("pq_packed_rows",
      Similarity.pqUnpack(ContinuousIngest.readTable(spark, st.pqPackedPath)),
      Similarity.ivfAssign(finalDocs, cents, idCol = "doc_id")
        .select("nn_id", "list")
        .join(Similarity.pqEncode(finalDocs, books, idCol = "doc_id")
          .select(col("vec_id").as("nn_id"), col("codes")), "nn_id"))
    // the IVFADC face over the maintained tables (docs table as the
    // rerank float store) == the one-shot operator when the queries
    // ARE corpus rows — same floats either way
    assertSame("ivfadc_search",
      ContinuousIngest.annIvfPqMaintained(spark, st, ann, finalDocs,
        k = 1, nprobe = 2, rerank = 8, Some(q)),
      Similarity.annIvfPq(finalDocs, 1, nlist = 4, nprobe = 2,
        m = ann.m, ksub = ann.ksub, rerank = 8,
        centroids = Some(cents), books = Some(books), idCol = "doc_id"))
    // EXTERNAL queries (ids absent from the corpus) — the deployment
    // shape. The rerank shortlist must join the MAINTAINED docs
    // table's floats: reranking against the query batch alone (the
    // one-shot embs convention, mis-threaded) would drop every
    // candidate at the float join and answer 0 rows
    val extQ = (1L to 5L).map(i => (9000L + i, emb(7L * i)))
      .toDF("doc_id", "embedding")
    val extGot = ContinuousIngest.annIvfPqMaintained(spark, st, ann, extQ,
      k = 1, nprobe = 4, rerank = 8, Some(q)).localCheckpoint()
    assert(extGot.count() === 5L,
      "every external query must get a corpus answer")
    assertSame("ivfadc_external", extGot,
      Similarity.annIvfPqFromIndex(
        ContinuousIngest.readTable(spark, st.ivfPath).select("nn_id", "list")
          .join(ContinuousIngest.readTable(spark, st.pqPath)
            .select(col("vec_id").as("nn_id"), col("codes")), "nn_id"),
        extQ.unionByName(finalDocs.select("doc_id", "embedding")),
        k = 1, nprobe = 4, cents, books, rerank = 8, idCol = "doc_id",
        queryPred = col("doc_id") >= 9000L))
    // replaying the last batch leaves all three index tables identical
    val before = snapshotIdx()
    ContinuousIngest.ingestBatch(
      chunks(2).map { case (id, t) => (id, t, emb(id)) }
        .toDF("doc_id", "text", "embedding"), 2L, st, Pa)
    snapshotIdx().zip(before).zip(Seq("ivf", "ivf_packed", "pq", "sem")).foreach {
      case ((after, b4), name) =>
        assertSame(s"replay_$name", after, b4)
    }
  }

  /** The ROUTED maintained semantic index: a semClusters above the
    * routing threshold trains and persists the two-level CentroidTree
    * at bootstrap, every batch's spill assignment routes through it,
    * and the maintained table still equals a from-scratch routed
    * assignment of the final corpus under the loaded tree — append ==
    * rebuild, through real parquet AND the tree's own table round
    * trip, including a replayed batch. Runs under the DEFAULT
    * AnnParams sizing: the tree must come out SPILLED (derived from
    * semMinCosine, not an explicit knob) and the per-batch routing is
    * the adaptive-margin face — the round-13 recall machinery as the
    * shipped default, not an opt-in. */
  test("routed semantic maintenance: semClusters > threshold persists the tree; append == rebuild through replay") {
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    // > RoutedClustersThreshold (64); spill/margin DERIVED from the
    // default semMinCosine — the maintained tree must carry replicas
    // and the append == rebuild law must hold through the replica dedup
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2,
      semClusters = Some(80))
    val Pa = P.copy(ann = Some(ann))
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    val boot = (1L to 40L).map(i => (5000L + i, text(5000L + i), emb(5000L + i)))
    val st = IngestState(s"$root/routed")
    ContinuousIngest.bootstrap(boot.toDF("doc_id", "text", "embedding"), st, Pa)
    val q = ContinuousIngest.loadQuantizers(spark, st, ann)
    assert(q.semTree.isDefined, "routed deployment must carry the tree")
    assert(q.semTree.get.coarse.length >= 1 &&
      q.semTree.get.coarse.length <= math.ceil(math.sqrt(80)).toInt,
      "tree coarse-cell count off")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      ContinuousIngest.ingestBatch(
        rows.map { case (id, t) => (id, t, emb(id)) }
          .toDF("doc_id", "text", "embedding"), i.toLong, st, Pa, Some(q))
    }
    // replay the last batch — idempotent partition overwrite
    ContinuousIngest.ingestBatch(
      chunks(2).map { case (id, t) => (id, t, emb(id)) }
        .toDF("doc_id", "text", "embedding"), 2L, st, Pa, Some(q))
    val finalDocs = ContinuousIngest.readTable(spark, st.docsPath)
    val maintained = ContinuousIngest.readTable(spark, st.semPath)
    // the one shared definition appendIndexes itself routes with —
    // the spec and the lifecycle cannot drift
    val rebuilt = ContinuousIngest.routedSemAssign(finalDocs, q.semTree.get, ann)
    assert(maintained.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(maintained).isEmpty,
      "routed maintained semantic table != from-scratch routed rebuild")
  }

  /** The verdict-13 trap, closed: a routed deployment that declares
    * its dedup threshold gets the SAME borderline-pair recall in the
    * MAINTAINED index that the one-shot product face ships — the
    * spill and probe margin derive from `semMinCosine`, so the
    * defaults can no longer silently run the measured ~0.5-recall
    * fixed-fan-out configuration. Same borderline fixture family as
    * RoutedAssignSpec (isotropic dim-16, 2% planted pairs at cos ≈
    * 0.47), fed through the real ingest lifecycle in three batches
    * with a replayed tail. */
  test("maintained routed index holds the borderline recall floor when the threshold is declared") {
    import graft.ops.Similarity
    import graft.streaming.ContinuousIngest.AnnParams
    val SEED = 42L
    val n = 20000L
    val k = (n / 128L).toInt // 156 > RoutedClustersThreshold
    val tCos = 0.45
    def borderlineDocs(lo: Long, hi: Long): DataFrame = {
      val base = when(pmod(col("id"), lit(50)) === 0 && col("id") > 0,
        col("id") - 1).otherwise(col("id"))
      val isCopy = col("id") =!= base
      val vec = transform(sequence(lit(0), lit(15)), j =>
        (((pmod(xxhash64(base, j, lit(SEED)), lit(2000L)).cast("double")
          / 1000.0) - 1.0)
          + when(isCopy,
            lit(1.9) * ((pmod(xxhash64(col("id"), j, lit(SEED + 99)), lit(2000L))
              .cast("double") / 1000.0) - 1.0)).otherwise(0.0))
          .cast("float"))
      spark.range(lo, hi).select(col("id").as("doc_id"),
        concat(lit("borderline doc "), col("id")).as("text"),
        vec.as("embedding"))
    }
    val root = freshRoot()
    val st = IngestState(s"$root/borderline")
    val ann = AnnParams(nlist = 8, m = 4, ksub = 4, nAssign = 3,
      semClusters = Some(k), semNRoute = 2, semMinCosine = tCos)
    // exact-only dedup: the fixture's texts are all distinct and the
    // minhash scan is not under test here
    val Pb = IngestParams(expectedDigests = 50000L, fpp = 0.01,
      nearDup = false, ann = Some(ann))
    ContinuousIngest.bootstrap(borderlineDocs(0L, 12000L), st, Pb)
    val q = ContinuousIngest.loadQuantizers(spark, st, ann)
    val tree = q.semTree.getOrElse(fail("borderline deployment must route"))
    assert(tree.slots > tree.k,
      "threshold-declared deployment must build a SPILLED tree")
    ContinuousIngest.ingestBatch(borderlineDocs(12000L, 16000L), 0L, st, Pb, Some(q))
    ContinuousIngest.ingestBatch(borderlineDocs(16000L, n), 1L, st, Pb, Some(q))
    // the crash replay of the tail batch — assignment must stay
    // deterministic given the persisted tree (idempotent overwrite)
    ContinuousIngest.ingestBatch(borderlineDocs(16000L, n), 1L, st, Pb, Some(q))
    val finalDocs = ContinuousIngest.readTable(spark, st.docsPath)
    assert(finalDocs.count() === n, "fixture rows were deduped away")
    val maintained = ContinuousIngest.readTable(spark, st.semPath)
    // append == rebuild under the shared routing definition
    val rebuilt = ContinuousIngest.routedSemAssign(finalDocs, tree, ann)
    assert(maintained.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(maintained).isEmpty,
      "maintained borderline sem table != from-scratch adaptive rebuild")
    // the recall the deployment actually gets from its MAINTAINED
    // pairs, vs the flat assignment over the same spilled tree's
    // clusters — the floor RoutedAssignSpec pins for the one-shot face
    val maintainedPairs = Similarity.semanticPairsFromIndex(maintained, tCos)
      .select("a", "b")
    val flatPairs = Similarity.semanticPairsFromIndex(
      Similarity.semanticAssign(finalDocs, tree.concat, ann.nAssign,
        idCol = "doc_id"), tCos)
      .select("a", "b").localCheckpoint()
    val nFlat = flatPairs.count()
    assert(nFlat > 500, s"borderline ingest fixture too sparse: $nFlat flat pairs")
    val hit = maintainedPairs.join(flatPairs, Seq("a", "b"), "left_semi").count()
    info(f"maintained borderline recall: $hit/$nFlat = ${hit.toDouble / nFlat}%.3f")
    assert(hit.toDouble >= 0.8 * nFlat,
      f"maintained-index borderline recall ${hit.toDouble / nFlat}%.3f " +
        "below the 0.8 floor — the ingest face is not using the " +
        "threshold-derived spill/margin machinery")
  }

  /** Config-change hygiene (verdict-13 missing #4): a rebuild under a
    * DIFFERENT AnnParams must not leave the old config's optional
    * index dirs behind — the active-subdir manifest written beside
    * the swap marker lets recovery delete stale destinations, so an
    * out-of-band reader can never pair an old sem_tree with new
    * tables. */
  test("rebuild under a changed config deletes stale optional index dirs (routed -> flat)") {
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    val st = IngestState(s"$root/cfg")
    val routedAnn = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2,
      semClusters = Some(80))
    val boot = (1L to 40L).map(i => (5000L + i, text(5000L + i), emb(5000L + i)))
    ContinuousIngest.bootstrap(boot.toDF("doc_id", "text", "embedding"), st,
      P.copy(ann = Some(routedAnn)))
    assert(new java.io.File(st.semTreePath).exists(),
      "routed bootstrap should persist the tree")
    // the deployment drops to a FLAT semantic quantizer: rebuild under
    // the new params must retire the tree dir (and keep everything
    // else consistent with the new config)
    val flatAnn = routedAnn.copy(semClusters = Some(6))
    ContinuousIngest.rebuildIndexes(spark, st, flatAnn)
    assert(!new java.io.File(st.semTreePath).exists(),
      "stale sem_tree left behind after a routed -> flat rebuild")
    assert(new java.io.File(st.semCentroidsPath).exists(),
      "flat rebuild should persist sem_centroids")
    val q = ContinuousIngest.loadQuantizers(spark, st, flatAnn)
    assert(q.semTree.isEmpty && q.semCents.length == 6,
      "post-change quantizers should be the flat set")
  }

  /** Round-14 review findings, pinned: (1) the assignment-identity
    * fingerprint — loadQuantizers refuses AnnParams that disagree
    * with the persisted stamp (appending under them would mix
    * assignment conventions in one state root), while a differently
    * SPELLED but identical-by-effect set is accepted; (2) the
    * packed-table parity guard — an ivf batch with no packed twin (a
    * crash between the two writes that never replayed) makes
    * annIvfMaintained fail LOUDLY instead of silently answering from
    * a partial corpus, and replaying the batch heals it. */
  test("ann config fingerprint refuses drifted params; the packed parity guard closes the partial-answer trap") {
    import graft.ops.Similarity
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    val st = IngestState(s"$root/fp")
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2,
      semClusters = Some(6))
    val Pa = P.copy(ann = Some(ann))
    val boot = (1L to 30L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
    ContinuousIngest.bootstrap(boot.toDF("doc_id", "text", "embedding"), st, Pa)
    val batch0 = (1L to 10L).map(i => (2000L + i, text(2000L + i), emb(2000L + i)))
      .toDF("doc_id", "text", "embedding")
    ContinuousIngest.ingestBatch(batch0, 0L, st, Pa)
    // drifted identity fields are refused with the rebuild remedy
    val eDrift = intercept[Throwable] {
      ContinuousIngest.loadQuantizers(spark, st, ann.copy(nAssign = 3))
    }
    assert(msgs(eDrift).exists(_.contains("rebuildIndexes")),
      s"drifted AnnParams should be refused with the remedy named: ${msgs(eDrift)}")
    // identity is by EFFECT: spelling the derived spill explicitly
    // fingerprints identically and is accepted
    ContinuousIngest.loadQuantizers(spark, st,
      ann.copy(semSpill = Similarity.spillFor(ann.semMinCosine)))
    // packed-table parity guard: drop one packed batch dir (a crash
    // between the assignment and pack writes that never replayed)
    import java.nio.file.{Files => JF, Path => JP}
    import java.util.Comparator
    JF.walk(JP.of(s"${st.ivfPackedPath}/batch=0"))
      .sorted(Comparator.reverseOrder[JP]())
      .forEach(f => JF.deleteIfExists(f))
    val corpus = ContinuousIngest.readTable(spark, st.docsPath).localCheckpoint()
    val eGap = intercept[Throwable] {
      ContinuousIngest.annIvfMaintained(spark, st, ann, corpus,
        k = 1, nprobe = 2).count()
    }
    assert(msgs(eGap).exists(_.contains("replay the batch")),
      s"missing packed twin should fail loudly naming the replay: ${msgs(eGap)}")
    // the named remedy: replaying the batch rewrites every partition of
    // it, and the maintained answers equal the one-shot operator again
    ContinuousIngest.ingestBatch(batch0, 0L, st, Pa)
    val q = ContinuousIngest.loadQuantizers(spark, st, ann)
    val got = ContinuousIngest.annIvfMaintained(spark, st, ann, corpus,
      k = 1, nprobe = 2, Some(q))
    val want = Similarity.annIvf(corpus, 1, nlist = 4, nprobe = 2,
      centroids = Some(q.cents), idCol = "doc_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "replayed packed table answers differ from the one-shot operator")
    // id-namespace contract: an external query colliding with corpus
    // id 1001 (whose vector also appears as 1022 — the fixture
    // repeats with period 21) answers its OWN row under
    // excludeSelf = false (cos 1, lowest id wins the tie) and the
    // identical twin under the default self-exclusion
    val collQ = Seq((1001L, emb(1001L))).toDF("doc_id", "embedding")
    val collOpen = ContinuousIngest.annIvfMaintained(spark, st, ann, collQ,
      k = 1, nprobe = 4, Some(q), excludeSelf = false).collect()
    assert(collOpen.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1001L, 1001L)),
      s"excludeSelf=false must allow the colliding corpus row: ${collOpen.mkString(",")}")
    val collDflt = ContinuousIngest.annIvfMaintained(spark, st, ann, collQ,
      k = 1, nprobe = 4, Some(q)).collect()
    assert(collDflt.map(_.getLong(1)).toSeq === Seq(1022L),
      s"default exclusion must keep dropping the id-equal row: ${collDflt.mkString(",")}")
    // same contract through the IVFADC face (exercises the ADC
    // filter, the rerank slice, and the serving-corpus join)
    val collPq = ContinuousIngest.annIvfPqMaintained(spark, st, ann, collQ,
      k = 1, nprobe = 4, rerank = 4, Some(q), excludeSelf = false).collect()
    assert(collPq.map(_.getLong(1)).toSeq === Seq(1001L),
      s"IVFADC excludeSelf=false must allow the colliding row: ${collPq.mkString(",")}")
    // compaction consolidates the slim assignment table, answers
    // unchanged
    ContinuousIngest.compactState(spark, st, upToBatch = 0L)
    assert(ContinuousIngest.readTable(spark, st.ivfPath).columns.toSeq ===
      Seq("nn_id", "list"),
      "the assignment table must stay slim through compaction")
    val gotC = ContinuousIngest.annIvfMaintained(spark, st, ann, corpus,
      k = 1, nprobe = 2, Some(q))
    assert(gotC.exceptAll(want).isEmpty && want.exceptAll(gotC).isEmpty,
      "post-compaction maintained answers differ from the one-shot operator")
    // the IVFADC face has the same partial-answer trap on the OTHER
    // pair of tables: an ivf batch with no pq twin (a crash between
    // the two appendIndexes writes) must fail loudly, not answer
    // against partial codes
    JF.walk(JP.of(s"${st.pqPath}/batch=0"))
      .sorted(Comparator.reverseOrder[JP]())
      .forEach(f => JF.deleteIfExists(f))
    val ePq = intercept[Throwable] {
      ContinuousIngest.annIvfPqMaintained(spark, st, ann, corpus,
        k = 1, nprobe = 2, rerank = 8, Some(q)).count()
    }
    assert(msgs(ePq).exists(_.contains("index batch directories disagree")),
      s"missing pq twin should fail loudly: ${msgs(ePq)}")
    // COMPACTION must refuse the same asymmetry: consolidating across
    // it would merge dir names back into agreement while the rows
    // stay partial — laundering the crashed append past every guard
    val eCompact = intercept[Throwable] {
      ContinuousIngest.compactState(spark, st, upToBatch = 0L)
    }
    assert(msgs(eCompact).exists(_.contains("index batch directories disagree")),
      s"compaction across an index asymmetry must refuse: ${msgs(eCompact)}")
    // restore the code partition (pqEncode is deterministic over the
    // same corpus + books): parity is back and compaction proceeds
    Similarity.pqEncode(corpus, q.books, idCol = "doc_id")
      .drop("codes_arr")
      .write.mode("overwrite").parquet(s"${st.pqPath}/batch=0")
    ContinuousIngest.compactState(spark, st, upToBatch = 0L)
    val gotM = ContinuousIngest.annIvfMaintained(spark, st, ann, corpus,
      k = 1, nprobe = 2, Some(q))
    assert(gotM.exceptAll(want).isEmpty && want.exceptAll(gotM).isEmpty,
      "restored maintained answers differ from the one-shot operator")
    // a crash between the code-pack and sem writes is a replay case
    // too (sem is in the parity universe precisely so the missing sem
    // rows cannot go unnoticed)
    Seq(s"${st.pqPackedPath}/batch=0", s"${st.semPath}/batch=0").foreach {
      dir =>
        JF.walk(JP.of(dir)).sorted(Comparator.reverseOrder[JP]())
          .forEach(f => JF.deleteIfExists(f))
    }
    val eSem = intercept[Throwable] {
      ContinuousIngest.annIvfPqMaintained(spark, st, ann, corpus,
        k = 1, nprobe = 2, rerank = 8, Some(q)).count()
    }
    assert(msgs(eSem).exists(_.contains("crashed partway")),
      s"missing sem must be a replay case: ${msgs(eSem)}")
  }

  /** The query-side streaming twin of start(): a file-chunk QUERY
    * stream served against the maintained index. Pins streamed ==
    * direct-call answers (per chunk, through real parquet), the
    * serving default excludeSelf = false (the id-collision row
    * answers itself), and replay determinism (a fresh-checkpoint
    * re-run overwrites byte-identical answer partitions). */
  test("streaming ANN serving: query stream == direct maintained answers; replay overwrites identically") {
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    val st = IngestState(s"$root/serve_state")
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2)
    val Pa = P.copy(ann = Some(ann))
    ContinuousIngest.bootstrap(
      (1L to 30L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
        .toDF("doc_id", "text", "embedding"), st, Pa)
    ContinuousIngest.ingestBatch(
      (1L to 10L).map(i => (2000L + i, text(2000L + i), emb(2000L + i)))
        .toDF("doc_id", "text", "embedding"), 0L, st, Pa)
    // two query chunks with EXTERNAL ids, plus one deliberate corpus
    // collision (1001) that must stay eligible under the serving
    // default excludeSelf = false
    val qchunks = Seq(
      (1L to 5L).map(i => (5000L + i, emb(3L * i))),
      Seq((1001L, emb(1001L))) ++ (6L to 9L).map(i => (5000L + i, emb(3L * i))))
    qchunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "embedding").coalesce(1)
        .write.parquet(s"$root/qin/chunk_$i")
      Thread.sleep(5)
    }
    val out = s"$root/served"
    ContinuousIngest.serve(
      Bounded.fileStream(spark, s"$root/qin/chunk_*",
        schemaDDL = "doc_id BIGINT, embedding ARRAY<FLOAT>"),
      st, ann, out, k = 1, nprobe = 4, rerank = 4).awaitTermination()
    def servedRows(): Seq[(Long, Long, Int)] =
      spark.read.parquet(out).drop("batch")
        .as[(Long, Long, Int)].collect().toSeq.sorted
    val served = servedRows()
    assert(served.size === 10, s"every query answered once: $served")
    val want = qchunks.map(rows =>
      ContinuousIngest.annIvfPqMaintained(spark, st, ann,
        rows.toDF("doc_id", "embedding"), k = 1, nprobe = 4, rerank = 4,
        excludeSelf = false))
      .reduce(_ unionByName _).as[(Long, Long, Int)].collect().toSeq.sorted
    assert(served === want, "streamed answers differ from direct maintained calls")
    assert(served.find(_._1 == 1001L).map(_._2) === Some(1001L),
      "the colliding query must answer its own corpus row under the serving default")
    // replay determinism: wipe the checkpoint and re-serve — the same
    // batch ids re-deliver and overwrite identical partitions
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    Files.walk(Path.of(s"$out/_checkpoint"))
      .sorted(Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    ContinuousIngest.serve(
      Bounded.fileStream(spark, s"$root/qin/chunk_*",
        schemaDDL = "doc_id BIGINT, embedding ARRAY<FLOAT>"),
      st, ann, out, k = 1, nprobe = 4, rerank = 4).awaitTermination()
    assert(servedRows() === served, "re-served answers changed")
  }

  /** INDEX-ONLY serving rerank: the IVFADC face answers from the index
    * root alone — ADC candidates from `pq_packed`, rerank floats
    * GATHERED from `ivf_packed`'s persisted unit vectors — so a serving
    * deployment ships no docs table and reads no corpus float column
    * per batch. Pins: an external query sharing an id with its corpus
    * twin keeps that answer under `excludeSelf = false`, the docs
    * table being physically absent changes no answer, and the
    * streaming `serve` twin equals the direct calls. */
  test("index-only rerank: keeps the id-collision answer, serves with the docs table gone, and serve equals the direct calls") {
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    val st = IngestState(s"$root/ixr_state")
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2)
    val Pa = P.copy(ann = Some(ann))
    ContinuousIngest.bootstrap(
      (1L to 30L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
        .toDF("doc_id", "text", "embedding"), st, Pa)
    ContinuousIngest.ingestBatch(
      (1L to 10L).map(i => (2000L + i, text(2000L + i), emb(2000L + i)))
        .toDF("doc_id", "text", "embedding"), 0L, st, Pa)
    val q = Some(ContinuousIngest.loadQuantizers(spark, st, ann))
    def same(name: String, a: DataFrame, b: DataFrame): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$name: answers differ")
    // external queries incl. the 1001 collision (emb period 21 ⇒ the
    // 1022 twin), under the serving convention excludeSelf = false
    val extQ = (Seq((1001L, emb(1001L))) ++
      (1L to 5L).map(i => (5000L + i, emb(3L * i)))).toDF("doc_id", "embedding")
    val gotExt = ContinuousIngest.annIvfPqMaintained(spark, st, ann, extQ,
      k = 2, nprobe = 4, rerank = 8, q, excludeSelf = false).localCheckpoint()
    assert(gotExt.count() === 12L, "every external query must get k answers")
    assert(gotExt.where(col("vec_id") === 1001L && col("rank") === 1)
      .select("nn_id").as[Long].collect().toSeq === Seq(1001L),
      "the colliding query must keep answering its own corpus row")
    // the deployment claim, functionally: with the docs table GONE the
    // face still answers, identically
    val docsDir = java.nio.file.Path.of(st.docsPath)
    val parked = java.nio.file.Path.of(s"${st.docsPath}.parked")
    java.nio.file.Files.move(docsDir, parked)
    try {
      same("docs-free", ContinuousIngest.annIvfPqMaintained(spark, st, ann,
        extQ, k = 2, nprobe = 4, rerank = 8, q, excludeSelf = false)
        .localCheckpoint(), gotExt)
    } finally java.nio.file.Files.move(parked, docsDir)
    // streaming twin: serve == the direct calls
    extQ.coalesce(1).write.parquet(s"$root/qix/chunk_0")
    val out = s"$root/served_ix"
    ContinuousIngest.serve(
      Bounded.fileStream(spark, s"$root/qix/chunk_*",
        schemaDDL = "doc_id BIGINT, embedding ARRAY<FLOAT>"),
      st, ann, out, k = 2, nprobe = 4, rerank = 8).awaitTermination()
    same("served-ix", spark.read.parquet(out).drop("batch"), gotExt)
  }

  /** Maintained FILTERED exact-IVF: `annIvfFilteredMaintained`
    * answers "top-k among the eligible ids" from the index root alone
    * — eligible-id semi-join on the packed segments, selectivity-
    * widened probing. Pins: multiset-equality with the one-shot
    * `annIvfFiltered` under the persisted quantizers (through the
    * real ingest round trip — append == rebuild is what makes the two
    * assignments agree), pre-filter semantics on a planted distractor
    * (the ineligible twin of a query's eligible answer must not crowd
    * it out), and the docs-free deployment claim (docs table
    * physically parked, answers unchanged). */
  test("maintained filtered IVF: equals the one-shot face, and serves with the docs table gone") {
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    val st = IngestState(s"$root/flt_state")
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2)
    val Pa = P.copy(ann = Some(ann))
    ContinuousIngest.bootstrap(
      (1L to 30L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
        .toDF("doc_id", "text", "embedding"), st, Pa)
    ContinuousIngest.ingestBatch(
      (1L to 10L).map(i => (2000L + i, text(2000L + i), emb(2000L + i)))
        .toDF("doc_id", "text", "embedding"), 0L, st, Pa)
    val q = Some(ContinuousIngest.loadQuantizers(spark, st, ann))
    val docs = ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id", "embedding")
    val pred = pmod(col("doc_id"), lit(3)) === 0
    val slice = pmod(col("doc_id"), lit(5)) === 0
    val eligible = docs.where(pred).select("doc_id")
    val got = ContinuousIngest.annIvfFilteredMaintained(spark, st, ann,
      docs.where(slice), k = 2, nprobe = 2, eligible, q).localCheckpoint()
    val want = graft.ops.Similarity.annIvfFiltered(docs, 2, nlist = ann.nlist,
      nprobe = 2, corpusPred = pred, idCol = "doc_id", queryPred = slice,
      centroids = Some(q.get.cents))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "maintained filtered face differs from the one-shot annIvfFiltered")
    // pre-filter semantics at fixture scale: sel ≈ 1/3 widens
    // nprobe=2 to ceil(2/sel) ≥ nlist=4 = FULL probing, so the face
    // degenerates to exact filtered brute here — every query must get
    // exactly k ELIGIBLE answers (a post-filter of an unfiltered
    // top-k would return fewer and leak nothing tells you about)
    val eligSet = eligible.as[Long].collect().toSet
    val answers = got.select("vec_id", "nn_id").as[(Long, Long)].collect()
    assert(answers.nonEmpty && answers.forall(p => eligSet(p._2)),
      "an ineligible neighbor leaked through the maintained filtered face")
    val perQuery = answers.groupBy(_._1).values.map(_.length).toSet
    assert(perQuery === Set(2),
      s"every query must get exactly k eligible answers, got sizes $perQuery")
    // the ADC twin: maintained filtered IVFADC (code segments pruned
    // + eligible semi-join, floats gathered from the packed segments)
    // == the one-shot annIvfPqFiltered under the persisted quantizers
    val gotAdc = ContinuousIngest.annIvfPqFilteredMaintained(spark, st, ann,
      docs.where(slice), k = 2, nprobe = 2, eligible, rerank = 8, q)
    val wantAdc = graft.ops.Similarity.annIvfPqFiltered(docs, 2,
      nlist = ann.nlist, nprobe = 2, corpusPred = pred, m = ann.m,
      ksub = ann.ksub, rerank = 8, idCol = "doc_id", queryPred = slice,
      centroids = Some(q.get.cents), books = Some(q.get.books))
    assert(gotAdc.exceptAll(wantAdc).isEmpty && wantAdc.exceptAll(gotAdc).isEmpty,
      "maintained filtered IVFADC differs from the one-shot annIvfPqFiltered")
    // the docs-free claim: this face reads only the index root
    val docsDir = java.nio.file.Path.of(st.docsPath)
    val parked = java.nio.file.Path.of(s"${st.docsPath}.parked")
    val extQ = (1L to 5L).map(i => (9000L + i, emb(3L * i)))
      .toDF("doc_id", "embedding")
    // the eligible frame itself derives from docs here — materialize
    // it before parking the table (a real deployment's allowlist is
    // its own table; the FACE reads only the index root)
    val eligCp = eligible.localCheckpoint()
    // measure-once serving: a loop re-querying the SAME eligible frame
    // on an unchanged state measures the selectivity once (the memo)
    // and answers identically to the first call
    val m0 = ContinuousIngest.selectivityMeasurements.get()
    val again = ContinuousIngest.annIvfFilteredMaintained(spark, st, ann,
      docs.where(slice), k = 2, nprobe = 2, eligible, q)
    assert(again.exceptAll(got).isEmpty && got.exceptAll(again).isEmpty,
      "a memoized probe width answers differently from the first call")
    assert(ContinuousIngest.selectivityMeasurements.get() === m0,
      "a repeat call on an unchanged state must not re-measure selectivity")
    java.nio.file.Files.move(docsDir, parked)
    try {
      val noDocs = ContinuousIngest.annIvfFilteredMaintained(spark, st, ann,
        extQ, k = 2, nprobe = 2, eligCp, q)
      assert(noDocs.count() === 10,
        "filtered maintained search must answer with the docs table gone")
      // filtered ADC serving from the index root alone: external
      // queries answered with the corpus table physically absent
      val noDocsAdc = ContinuousIngest.annIvfPqFilteredMaintained(spark, st,
        ann, extQ, k = 2, nprobe = 2, eligCp, rerank = 8, q,
        excludeSelf = false)
      assert(noDocsAdc.count() === 10,
        "index-only filtered IVFADC must answer with the docs table gone")
      assert(noDocsAdc.select("nn_id").as[Long].collect().forall(eligSet),
        "an ineligible neighbor leaked from the docs-free filtered ADC face")
    } finally java.nio.file.Files.move(parked, docsDir)
  }

  /** The ADVICE-13 stealable-claim fix: a CLAIMED swap marker
    * (`_GRAFT_SWAP_READY.<uuid>`) may belong to a LIVE claimant — a
    * reader must walk away (re-claiming could interleave
    * delete/rename pairs and destroy a just-installed table); only
    * the single writer (rebuildIndexes) finishes a crashed claim. */
  test("a claimed swap marker is never re-claimed by a reader; the writer completes it") {
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    val st = IngestState(s"$root/claim")
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2)
    val boot = (1L to 30L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
    ContinuousIngest.bootstrap(boot.toDF("doc_id", "text", "embedding"), st,
      P.copy(ann = Some(ann)))
    // stage: a claimant crashed AFTER finishing every move but BEFORE
    // clearing its tmp — tmp holds only the claimed marker (all
    // destination tables are live)
    val tmpRoot = new java.io.File(s"${st.root}/.rebuild_tmp")
    assert(tmpRoot.mkdir(), "could not stage the claimed tmp")
    java.nio.file.Files.write(
      new java.io.File(tmpRoot, "_GRAFT_SWAP_READY.deadbeef").toPath,
      Array.emptyByteArray)
    writeSwapManifest(st, tmpRoot)
    val qOld = ContinuousIngest.loadQuantizers(spark, st, ann)
    assert(tmpRoot.exists() &&
      new java.io.File(tmpRoot, "_GRAFT_SWAP_READY.deadbeef").exists(),
      "a READER acted on a claimed marker — the claimant may be alive " +
        "mid-swap and the interleaved moves can destroy installed tables")
    assert(qOld.cents.nonEmpty, "reader should still serve the live quantizers")
    // the writer owns the claim: rebuildIndexes finishes/clears it and
    // completes normally
    ContinuousIngest.rebuildIndexes(spark, st, ann)
    assert(!tmpRoot.exists(), "the writer should have cleared the crashed claim")
  }

  /** The monitor → response loop: indexDrift sees a planted
    * distribution shift in the maintained semantic table, and
    * rebuildIndexes (retrain on the current corpus + rewrite) brings
    * the maintained tables and search face back to exactly what a
    * fresh bootstrap over the same corpus would build. */
  test("index drift trips on a shifted batch; rebuildIndexes == fresh bootstrap over the current corpus") {
    import graft.ops.Similarity
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2)
    val Pa = P.copy(ann = Some(ann))
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    // the shifted embedding folds into the positive orthant — the
    // planted drift check_index_drift also uses
    def embShift(i: Long): Seq[Float] = emb(i).map(x => math.abs(x) + 1.0f)
    val st = IngestState(s"$root/drift")
    val boot = (1L to 30L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
    ContinuousIngest.bootstrap(boot.toDF("doc_id", "text", "embedding"), st, Pa)
    val quant = ContinuousIngest.loadQuantizers(spark, st, ann)
    // batch 0: stationary (same generator) — drift stays small
    ContinuousIngest.ingestBatch(
      (1L to 15L).map(i => (2000L + i, text(2000L + i), emb(2000L + i)))
        .toDF("doc_id", "text", "embedding"), 0L, st, Pa, Some(quant))
    val tvdStationary = ContinuousIngest.indexDriftSinceBatch(spark, st, sinceBatch = 0L)
      .select("tvd").head().getDouble(0)
    // batch 1: shifted — occupancy collapses, drift must rise above it
    ContinuousIngest.ingestBatch(
      (1L to 15L).map(i => (3000L + i, text(3000L + i), embShift(3000L + i)))
        .toDF("doc_id", "text", "embedding"), 1L, st, Pa, Some(quant))
    val tvdShifted = ContinuousIngest.indexDriftSinceBatch(spark, st, sinceBatch = 1L)
      .select("tvd").head().getDouble(0)
    assert(tvdShifted > tvdStationary,
      s"planted shift did not raise drift: stationary $tvdStationary, shifted $tvdShifted")
    // the IVF-table face of the same monitor runs end to end on the
    // list column and reports a well-formed TVD
    val ivfDrift = ContinuousIngest.indexDriftSinceBatch(spark, st, sinceBatch = 1L,
      table = "ivf").localCheckpoint()
    val tvdIvf = ivfDrift.select("tvd").head().getDouble(0)
    assert(ivfDrift.count() > 0 && tvdIvf >= 0.0 && tvdIvf <= 1.0,
      s"ivf-table drift implausible: $tvdIvf over ${ivfDrift.count()} cells")
    // respond: retrain + rebuild, then every maintained table and the
    // search face must equal a FRESH bootstrap over the same corpus
    val q2 = ContinuousIngest.rebuildIndexes(spark, st, ann)
    val corpus = ContinuousIngest.readTable(spark, st.docsPath).localCheckpoint()
    val stFresh = IngestState(s"$root/fresh")
    ContinuousIngest.bootstrap(corpus, stFresh, Pa)
    val qf = ContinuousIngest.loadQuantizers(spark, stFresh, ann)
    assert(q2.cents.flatten.toSeq == qf.cents.flatten.toSeq &&
      q2.books.flatten.flatten.toSeq == qf.books.flatten.flatten.toSeq,
      "rebuilt quantizers differ from a fresh bootstrap's")
    def assertSame(name: String, a: DataFrame, b: DataFrame): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$name: rebuilt table != fresh-bootstrap table")
    Seq("ivf", "pq", "sem").foreach { t =>
      assertSame(t, ContinuousIngest.readTable(spark, s"${st.root}/$t"),
        ContinuousIngest.readTable(spark, s"${stFresh.root}/$t"))
    }
    assertSame("search_after_rebuild",
      Similarity.annIvfPqFromIndex(
        ContinuousIngest.readTable(spark, st.ivfPath).select("nn_id", "list")
          .join(ContinuousIngest.readTable(spark, st.pqPath)
            .select(col("vec_id").as("nn_id"), col("codes")), "nn_id"),
        corpus, k = 1, nprobe = 2, q2.cents, q2.books, rerank = 8,
        idCol = "doc_id"),
      Similarity.annIvfPq(corpus, 1, nlist = 4, nprobe = 2,
        m = ann.m, ksub = ann.ksub, rerank = 8,
        centroids = Some(q2.cents), books = Some(q2.books), idCol = "doc_id"))
    // a rebuild inside the replay window: keep the in-flight batch's
    // rows OUT of the consolidation so its re-delivery overwrites
    // identical rows instead of double-appending
    val q3 = ContinuousIngest.rebuildIndexes(spark, st, ann,
      inFlightBatch = Some(1L))
    def idxSnapshot(): Seq[DataFrame] =
      Seq(st.ivfPath, st.pqPath, st.semPath).map(p =>
        ContinuousIngest.readTable(spark, p).localCheckpoint())
    val beforeReplay = idxSnapshot()
    // the crash replay of batch 1
    ContinuousIngest.ingestBatch(
      (1L to 15L).map(i => (3000L + i, text(3000L + i), embShift(3000L + i)))
        .toDF("doc_id", "text", "embedding"), 1L, st, Pa,
      Some(ContinuousIngest.loadQuantizers(spark, st, ann)))
    idxSnapshot().zip(beforeReplay).zip(Seq("ivf", "pq", "sem")).foreach {
      case ((after, b4), name) =>
        assertSame(s"replay_after_rebuild_$name", after, b4)
    }
    // and the rebuilt layout still equals a from-scratch assignment
    // of the full corpus under the new quantizers
    assertSame("rebuild_inflight_ivf",
      ContinuousIngest.readTable(spark, st.ivfPath),
      Similarity.ivfAssign(corpus, q3.cents, idCol = "doc_id")
        .select("nn_id", "list"))
  }

  /** Crash atomicity of rebuildIndexes (the hidden-tmp + marker swap):
    * a crash BEFORE the swap marker leaves a partial tmp that READERS
    * leave strictly alone (old quantizers + tables served untouched);
    * a crash MID-SWAP (marker present, some subdirs moved) is also
    * untouchable by readers — only the WRITER-side recovery
    * (`recoverIndexSwap(asWriter = true)`, or the next
    * rebuildIndexes) completes it FORWARD to exactly the finished
    * rebuild — quantizers, index tables, and the drift_base snapshot.
    * Readers never move anything, so no reader can interleave with a
    * live swap or destroy a build in progress. */
  test("rebuildIndexes crash recovery: unmarked tmp rolls back, marked mid-swap tmp completes forward") {
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2)
    val Pa = P.copy(ann = Some(ann))
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    val st = IngestState(s"$root/cr")
    val boot = (1L to 30L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
    ContinuousIngest.bootstrap(boot.toDF("doc_id", "text", "embedding"), st, Pa)
    ContinuousIngest.ingestBatch(
      (1L to 10L).map(i => (2000L + i, text(2000L + i), emb(2000L + i)))
        .toDF("doc_id", "text", "embedding"), 0L, st, Pa)

    // mid-BUILD crash: tmp exists with junk, NO marker → a READER must
    // leave it strictly alone (it cannot distinguish a crashed build
    // from one in progress — deleting a live build would let the
    // rebuild publish a partial set) and serve the old quantizers
    // unchanged; the next rebuildIndexes clears the leftover
    val qOld = ContinuousIngest.loadQuantizers(spark, st, ann)
    val tmpRoot = new java.io.File(s"${st.root}/.rebuild_tmp")
    assert(tmpRoot.mkdir(), "could not stage the partial rebuild tmp")
    java.nio.file.Files.write(
      new java.io.File(tmpRoot, "books").toPath, Array[Byte](9, 9, 9))
    val qRec = ContinuousIngest.loadQuantizers(spark, st, ann)
    assert(tmpRoot.exists(),
      "a reader deleted an unmarked rebuild tmp — it could have been " +
        "a build in progress")
    assert(qRec.cents.flatten.toSeq == qOld.cents.flatten.toSeq &&
      qRec.books.flatten.flatten.toSeq == qOld.books.flatten.flatten.toSeq,
      "an unmarked (crashed/in-progress) tmp changed the live quantizers")

    // complete a real rebuild: clears the stale unmarked tmp, then
    // swaps in the NEW set
    val q2 = ContinuousIngest.rebuildIndexes(spark, st, ann)
    assert(!tmpRoot.exists(), "rebuild left its tmp behind")
    def snapIdx(): Seq[DataFrame] =
      Seq(st.ivfPath, st.pqPath, st.semPath).map(p =>
        ContinuousIngest.readTable(spark, p).localCheckpoint())
    val wantIdx = snapIdx()
    val wantBase = spark.read.parquet(st.driftBasePath)
      .collect().map(_.toString).sorted.toSeq

    // mid-SWAP crash: marker written, some subdirs NOT yet moved out of
    // the tmp (staged by moving them back under it) → a READER must
    // walk away (it cannot know whether the marker's owner is alive);
    // the WRITER-side recovery completes the swap forward, not back
    assert(tmpRoot.mkdir(), "could not stage the mid-swap tmp")
    Seq("centroids", "ivf", "drift_base").foreach { sub =>
      java.nio.file.Files.move(
        java.nio.file.Path.of(s"${st.root}/$sub"),
        new java.io.File(tmpRoot, sub).toPath)
    }
    java.nio.file.Files.write(
      new java.io.File(tmpRoot, "_GRAFT_SWAP_READY").toPath,
      Array.emptyByteArray)
    writeSwapManifest(st, tmpRoot)
    // a reader-side recovery must not touch even a PRISTINE-marked
    // tmp — the mover set is the single writer, full stop
    ContinuousIngest.recoverIndexSwap(spark, st)
    assert(tmpRoot.exists(),
      "a READER moved a marked swap — only the writer may complete it")
    ContinuousIngest.recoverIndexSwap(spark, st, asWriter = true)
    val q3 = ContinuousIngest.loadQuantizers(spark, st, ann)
    assert(!tmpRoot.exists(), "marked mid-swap tmp not completed by the writer")
    assert(q3.cents.flatten.toSeq == q2.cents.flatten.toSeq,
      "mid-swap recovery lost the rebuilt quantizers")
    snapIdx().zip(wantIdx).zip(Seq("ivf", "pq", "sem")).foreach {
      case ((a, b), name) =>
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$name differs after mid-swap recovery")
    }
    assert(spark.read.parquet(st.driftBasePath)
      .collect().map(_.toString).sorted.toSeq == wantBase,
      "drift_base snapshot differs after mid-swap recovery")
  }

  /** The FULL drift-response loop, composed against the real streaming
    * face: a stream drains (stationary then shifted batches) → the
    * snapshot-face monitor TRIPS → `rebuildIndexes` retrains under the
    * drained checkpoint (no in-flight window) → the NEXT streamed
    * batch appends under the NEW quantizers through the same
    * checkpoint → a replay of that batch is still a no-op → the
    * maintained tables equal a from-scratch assignment of the final
    * corpus under the rebuilt quantizers, and the monitor has a fresh
    * reference era. Each piece is law-gated elsewhere; this pins the
    * composition a deployment actually runs. */
  test("drift loop at the streaming face: trip -> rebuild -> stream appends under new quantizers -> replay") {
    import graft.ops.Similarity
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2)
    val Pa = P.copy(ann = Some(ann))
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    def embShift(i: Long): Seq[Float] = emb(i).map(x => math.abs(x) + 1.0f)
    val st = IngestState(s"$root/loop")
    val boot = (1L to 30L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
    ContinuousIngest.bootstrap(boot.toDF("doc_id", "text", "embedding"), st, Pa)
    // chunk 0: stationary; chunk 1: the planted orthant shift
    val chunk0 = (1L to 15L).map(i => (2000L + i, text(2000L + i), emb(2000L + i)))
    val chunk1 = (1L to 15L).map(i => (3000L + i, text(3000L + i), embShift(3000L + i)))
    val ddl = "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>"
    Seq(chunk0, chunk1).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text", "embedding").coalesce(1)
        .write.parquet(s"$root/in/chunk_$i")
      Thread.sleep(5)
    }
    ContinuousIngest.start(
      Bounded.fileStream(spark, s"$root/in/chunk_*", schemaDDL = ddl),
      st, Pa).awaitTermination()
    // the monitor trips on the shifted era
    val tvdTripped = ContinuousIngest.indexDrift(spark, st)
      .select("tvd").head().getDouble(0)
    assert(tvdTripped > 0.2,
      f"planted orthant shift should trip the 0.2 line, got $tvdTripped%.3f")
    // respond: retrain + rebuild (clean AvailableNow drain -> no
    // replay window -> inFlightBatch = None is correct)
    val q2 = ContinuousIngest.rebuildIndexes(spark, st, ann)
    // next stationary chunk arrives; SAME checkpoint continues the
    // batch ids, and the batch appends under the NEW quantizers via
    // start()'s loadQuantizers
    val chunk2 = (1L to 15L).map(i => (4000L + i, text(4000L + i), emb(4000L + i)))
    chunk2.toDF("doc_id", "text", "embedding").coalesce(1)
      .write.parquet(s"$root/in/chunk_2")
    ContinuousIngest.start(
      Bounded.fileStream(spark, s"$root/in/chunk_*", schemaDDL = ddl),
      st, Pa).awaitTermination()
    val corpus = ContinuousIngest.readTable(spark, st.docsPath).localCheckpoint()
    def assertSame(name: String, a: DataFrame, b: DataFrame): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$name differs from the from-scratch twin")
    assertSame("ivf_after_loop",
      ContinuousIngest.readTable(spark, st.ivfPath),
      Similarity.ivfAssign(corpus, q2.cents, idCol = "doc_id")
        .select("nn_id", "list"))
    assertSame("pq_after_loop",
      ContinuousIngest.readTable(spark, st.pqPath),
      Similarity.pqEncode(corpus, q2.books, idCol = "doc_id")
        .drop("codes_arr"))
    assertSame("sem_after_loop",
      ContinuousIngest.readTable(spark, st.semPath),
      Similarity.semanticAssign(corpus, q2.semCents, ann.nAssign, idCol = "doc_id"))
    // the packed ADC table came through the rebuild SWAP too: its
    // unpack matches assignment ⋈ encode under the NEW books — a
    // stale pre-rebuild pq_packed (old codebooks) or one destroyed
    // with the tmp root would both fail here
    assertSame("pq_packed_after_loop",
      Similarity.pqUnpack(ContinuousIngest.readTable(spark, st.pqPackedPath)),
      Similarity.ivfAssign(corpus, q2.cents, idCol = "doc_id")
        .select("nn_id", "list")
        .join(Similarity.pqEncode(corpus, q2.books, idCol = "doc_id")
          .select(col("vec_id").as("nn_id"), col("codes")), "nn_id"))
    // a crash replay of the post-rebuild batch is still a no-op
    val before = Seq(st.ivfPath, st.pqPath, st.semPath).map(p =>
      ContinuousIngest.readTable(spark, p).localCheckpoint())
    ContinuousIngest.ingestBatch(
      chunk2.toDF("doc_id", "text", "embedding"), 2L, st, Pa,
      Some(ContinuousIngest.loadQuantizers(spark, st, ann)))
    Seq(st.ivfPath, st.pqPath, st.semPath).map(p =>
      ContinuousIngest.readTable(spark, p).localCheckpoint())
      .zip(before).zip(Seq("ivf", "pq", "sem")).foreach {
        case ((a, b), n) => assertSame(s"replay_$n", a, b)
      }
    // the monitor runs against the FRESH reference era (snapshot taken
    // at rebuild time) and reports a well-formed TVD for the new batch
    val tvdAfter = ContinuousIngest.indexDrift(spark, st)
      .select("tvd").head().getDouble(0)
    assert(tvdAfter >= 0.0 && tvdAfter <= 1.0,
      s"post-rebuild snapshot drift implausible: $tvdAfter")
  }

  /** The deployment drift monitor must survive state compaction: the
    * snapshot face (reference = persisted drift_base occupancy, recent
    * = current counts minus snapshot) reports the IDENTICAL per-cell
    * table before and after compactState collapses every batch id —
    * while the batch-id era face run below the horizon fails loudly
    * (empty reference era), which is exactly the wart the snapshot
    * face exists to close. */
  test("snapshot-face indexDrift is compaction-proof; era face below the horizon fails loudly") {
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2)
    val Pa = P.copy(ann = Some(ann))
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    def embShift(i: Long): Seq[Float] = emb(i).map(x => math.abs(x) + 1.0f)
    val st = IngestState(s"$root/cp")
    val boot = (1L to 30L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
    ContinuousIngest.bootstrap(boot.toDF("doc_id", "text", "embedding"), st, Pa)
    // QUIET state: nothing ingested since the (re)train is the
    // monitor's normal morning-after condition — zero drift, not the
    // empty-side monitoring error
    val quiet = ContinuousIngest.indexDrift(spark, st)
      .select("tvd", "cnt_new").collect()
    assert(quiet.nonEmpty && quiet.forall(r =>
      r.getDouble(0) == 0.0 && r.getLong(1) == 0L),
      "post-(re)train quiet state should report zero drift")
    val quant = ContinuousIngest.loadQuantizers(spark, st, ann)
    ContinuousIngest.ingestBatch(
      (1L to 15L).map(i => (2000L + i, text(2000L + i), emb(2000L + i)))
        .toDF("doc_id", "text", "embedding"), 0L, st, Pa, Some(quant))
    val tvdStationary = ContinuousIngest.indexDrift(spark, st)
      .select("tvd").head().getDouble(0)
    ContinuousIngest.ingestBatch(
      (1L to 15L).map(i => (3000L + i, text(3000L + i), embShift(3000L + i)))
        .toDF("doc_id", "text", "embedding"), 1L, st, Pa, Some(quant))
    val reportBefore = ContinuousIngest.indexDrift(spark, st)
      .collect().map(_.toString).sorted.toSeq
    val tvdShifted = ContinuousIngest.indexDrift(spark, st)
      .select("tvd").head().getDouble(0)
    assert(tvdShifted > tvdStationary,
      s"planted shift did not raise snapshot-face drift: " +
        s"$tvdStationary -> $tvdShifted")
    // the packed-face answers before compaction, pinned (compaction
    // re-packs the segment table — answers must be preserved exactly)
    val corpusNow = ContinuousIngest.readTable(spark, st.docsPath).localCheckpoint()
    val annBefore = ContinuousIngest.annIvfMaintained(spark, st, ann,
      corpusNow, k = 1, nprobe = 2, Some(quant)).localCheckpoint()
    // compact past the drift horizon: every committed id collapses
    ContinuousIngest.compactState(spark, st, upToBatch = 1L,
      targetRowsPerFile = 1000L)
    val reportAfter = ContinuousIngest.indexDrift(spark, st)
      .collect().map(_.toString).sorted.toSeq
    assert(reportAfter == reportBefore,
      "snapshot-face drift report changed across compaction")
    // the re-packed segment table answers queries identically, and the
    // fragments actually consolidated (one partition, fewer rows than
    // the 3 per-batch packs it replaced or equal when already minimal)
    val annAfter = ContinuousIngest.annIvfMaintained(spark, st, ann,
      corpusNow, k = 1, nprobe = 2, Some(quant))
    assert(annAfter.exceptAll(annBefore).isEmpty &&
      annBefore.exceptAll(annAfter).isEmpty,
      "packed-face ANN answers changed across the re-packing compaction")
    // the ivf-table face of the same monitor also survives
    val tvdIvf = ContinuousIngest.indexDrift(spark, st, table = "ivf")
      .select("tvd").head().getDouble(0)
    assert(tvdIvf >= 0.0 && tvdIvf <= 1.0, s"ivf snapshot drift: $tvdIvf")
    // the era face under the collapsed horizon: loud empty-side error
    val e = intercept[Throwable] {
      ContinuousIngest.indexDriftSinceBatch(spark, st, sinceBatch = 1L)
        .select("tvd").head()
    }
    assert(msgs(e).exists(_.contains("empty side")),
      s"era face below the horizon should fail loudly, got: ${msgs(e)}")
    // MIGRATION path: a root without a drift_base snapshot (pre-
    // snapshot-monitor deployments) gets an actionable error naming
    // both remedies, and snapshotDriftBase baselines the current
    // occupancy without a retrain — after which the monitor reports
    // the zero-drift quiet state
    import java.nio.file.{Files => JFiles, Path => JPath}
    import java.util.Comparator
    JFiles.walk(JPath.of(st.driftBasePath))
      .sorted(Comparator.reverseOrder[JPath]())
      .forEach(f => JFiles.deleteIfExists(f))
    val eMig = intercept[Throwable] {
      ContinuousIngest.indexDrift(spark, st).head()
    }
    assert(msgs(eMig).exists(_.contains("snapshotDriftBase")),
      s"missing-snapshot error should name the migration faces: ${msgs(eMig)}")
    ContinuousIngest.snapshotDriftBase(spark, st)
    val reAnchored = ContinuousIngest.indexDrift(spark, st)
      .select("tvd").collect()
    assert(reAnchored.nonEmpty && reAnchored.forall(_.getDouble(0) == 0.0),
      "re-anchored monitor should report the zero-drift quiet state")
  }

  // ---- tombstone deletes -------------------------------------------

  private def annEmb(i: Long): Seq[Float] =
    (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)

  /** An ann-enabled root with the standard chunk fixture ingested —
    * bootstrap ids 1001..1020, then the three chunks as batches 0..2
    * (survivors 101,102,103,203,302,303). Deterministic, so two builds
    * produce row-identical state (the rebuild specs' foundation). */
  private def builtAnnRoot(root: String): (IngestState, IngestParams) = {
    import graft.streaming.ContinuousIngest.AnnParams
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2,
      semClusters = Some(6))
    val Pa = P.copy(ann = Some(ann))
    val boot = (1L to 20L).map(i => (1000L + i, text(1000L + i), annEmb(1000L + i)))
    val st = IngestState(root)
    ContinuousIngest.bootstrap(boot.toDF("doc_id", "text", "embedding"), st, Pa)
    val quant = ContinuousIngest.loadQuantizers(spark, st, ann)
    chunks.zipWithIndex.foreach { case (rows, i) =>
      ContinuousIngest.ingestBatch(
        rows.map { case (id, t) => (id, t, annEmb(id)) }
          .toDF("doc_id", "text", "embedding"), i.toLong, st, Pa, Some(quant))
    }
    (st, Pa)
  }

  /** Deleted set spanning the bootstrap partition and two batches. */
  private val delIds = Seq(1001L, 1005L, 102L, 103L, 303L)

  private def assertSameTable(name: String, a: DataFrame, b: DataFrame): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$name: tables differ")

  /** Every maintained table as comparable row sets (packed tables via
    * their exact unpack — binary columns defeat string snapshots). */
  private def deleteStateTables(st: IngestState): Seq[(String, DataFrame)] = {
    import graft.ops.Similarity
    Seq(
      "docs" -> ContinuousIngest.readTable(spark, st.docsPath),
      "digests" -> ContinuousIngest.readTable(spark, st.digestsPath),
      "keys" -> ContinuousIngest.readTable(spark, st.keysPath),
      // the ACCOUNTING is the stats contract, not the partial-row
      // layout: maintenance legitimately re-shapes the rows (a fold
      // moves a takedown's negative delta from stats_deltas/ into the
      // stats table; a queued drain writes one delta where sequential
      // deletes write two) — compare totals
      "stats" -> ContinuousIngest.readStats(spark, st),
      "ivf" -> ContinuousIngest.readTable(spark, st.ivfPath),
      "pq" -> ContinuousIngest.readTable(spark, st.pqPath),
      "sem" -> ContinuousIngest.readTable(spark, st.semPath),
      "ivf_packed" -> Similarity.ivfUnpack(
        ContinuousIngest.readTable(spark, st.ivfPackedPath)),
      "pq_packed" -> Similarity.pqUnpack(
        ContinuousIngest.readTable(spark, st.pqPackedPath)))
  }

  test("tombstone delete: every table purged, survivors untouched, dedup re-admits deleted content") {
    import graft.ops.Similarity
    val root = freshRoot()
    val (st, pa) = builtAnnRoot(s"$root/a")
    val quant = ContinuousIngest.loadQuantizers(spark, st, pa.ann.get)
    val preDocs = ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id").as[Long].collect().toSet
    assert(delIds.forall(preDocs.contains), s"fixture drift: $preDocs")
    // survivor rows pinned before the purge
    val keepPred = !col("nn_id").isin(delIds: _*)
    val preIvf = Similarity.ivfUnpack(
      ContinuousIngest.readTable(spark, st.ivfPackedPath)).where(keepPred)
    preIvf.write.parquet(s"$root/pre_ivf")
    Similarity.pqUnpack(ContinuousIngest.readTable(spark, st.pqPackedPath))
      .where(keepPred).write.parquet(s"$root/pre_pq")

    val n = ContinuousIngest.deleteDocs(spark, st, delIds.toDF("doc_id"))
    assert(n === delIds.size.toLong, s"deleteDocs returned $n")
    // requesting ids that don't exist (or are already gone) is a no-op
    assert(ContinuousIngest.deleteDocs(spark, st,
      Seq(1001L, 999999L).toDF("doc_id")) === 0L)
    // audit: one log row per deleted doc under one op id; the no-op
    // second call logged nothing (nothing was deleted)
    val log = ContinuousIngest.deletesLog(spark, st)
    assert(log.select("doc_id").as[Long].collect().toSet === delIds.toSet &&
      log.select("op_id").distinct().count() === 1L,
      "audit log must hold exactly the deleted set under one op")

    // containment: no face ever sees a deleted doc again
    deleteStateTables(st).foreach { case (name, df) =>
      val idc = df.columns.find(Set("doc_id", "nn_id", "vec_id", "id"))
      idc.foreach { c =>
        assert(df.where(col(c).isin(delIds: _*)).count() === 0L,
          s"$name still holds deleted ids")
      }
    }
    // survivor byte-parity through the copy-on-write re-pack
    assertSameTable("ivf_packed survivors",
      Similarity.ivfUnpack(ContinuousIngest.readTable(spark, st.ivfPackedPath)),
      spark.read.parquet(s"$root/pre_ivf"))
    assertSameTable("pq_packed survivors",
      Similarity.pqUnpack(ContinuousIngest.readTable(spark, st.pqPackedPath)),
      spark.read.parquet(s"$root/pre_pq"))
    // stats partials re-anchor to the purged docs partitions
    val gotStats = ContinuousIngest.readStats(spark, st)
      .as[(Long, Long, Long)].head()
    val wantStats = ContinuousIngest.readTable(spark, st.docsPath)
      .agg(count(lit(1)), sum(length(col("text")).cast("long")),
        sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[(Long, Long, Long)].head()
    assert(gotStats === wantStats, s"stats $gotStats != $wantStats")
    // the maintained ANN face answers from the purged index and equals
    // the one-shot operator over corpus-minus-deleted under the SAME
    // persisted centroids
    val remaining = ContinuousIngest.readTable(spark, st.docsPath)
    assertSameTable("post-delete search",
      ContinuousIngest.annIvfMaintained(spark, st, pa.ann.get,
        remaining, k = 2, nprobe = 2, Some(quant)),
      Similarity.annIvf(remaining, 2, nlist = pa.ann.get.nlist, nprobe = 2,
        idCol = "doc_id", centroids = Some(quant.cents)))
    // re-admission: the deleted EXACT text is admitted again (digest
    // purged; the stale bloom bit only costs the verify join), and a
    // near dup of the deleted 103 — the very text 202 was dropped for
    // — is admitted too (its band keys left with the doc); a surviving
    // doc's text under a fresh id stays dropped
    val batch3 = Seq(
      (401L, text(1005L), annEmb(401L)),          // deleted exact text
      (402L, text(3, shift = 1), annEmb(402L)),   // near dup of DELETED 103
      (403L, text(8), annEmb(403L)))              // exact dup of surviving 302
      .toDF("doc_id", "text", "embedding")
    val admitted = ContinuousIngest.ingestBatch(batch3, 3L, st, pa, Some(quant))
      .select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(401L, 402L),
      s"re-admission after delete got $admitted, want {401, 402}")
  }

  test("tombstone delete crash windows: unmarked intent discarded, marked intent + torn tables recover to the direct outcome") {
    import java.nio.file.{Files => JFiles, Path => JPath, StandardCopyOption}
    import java.util.Comparator
    val root = freshRoot()
    // reference: the direct, uninterrupted delete
    val (stA, _) = builtAnnRoot(s"$root/a")
    ContinuousIngest.deleteDocs(spark, stA, delIds.toDF("doc_id"))
    // twin root, built identically
    val (stB, pb) = builtAnnRoot(s"$root/b")

    // window 1 — crash INSIDE the tombstone write: pending dir without
    // _SUCCESS. Nothing was purged; the set is incomplete; discarded.
    val pending = JPath.of(s"$root/b/.delete_pending")
    delIds.toDF("doc_id")
      .select(col("doc_id"), lit("op-crash-w1").as("op_id"),
        current_timestamp().as("requested_at"),
        lit("app-crash-w1").as("app_id"),
        lit(0L).as("n_chars"), lit(0L).as("n_ws_tokens"))
      .coalesce(1).write.parquet(pending.toString)
    JFiles.delete(pending.resolve("_SUCCESS"))
    assert(ContinuousIngest.recoverDeletes(spark, stB) === 0L)
    assert(!JFiles.exists(pending), "unmarked pending must be discarded")
    assert(ContinuousIngest.readTable(spark, stB.docsPath).count() ===
      ContinuousIngest.readTable(spark, stA.docsPath).count() + delIds.size,
      "an unmarked intent must purge nothing")

    // window 2 — crash AFTER the intent committed, partway through the
    // purge: a committed pending dir (the exact tombstone deleteDocs
    // would capture), one table already purged (ivf, batch 0), one
    // marked purge tmp ready to swap (docs, batch=-1 — copied from the
    // reference root's purged partition), one unmarked junk tmp (pq),
    // and one marked tmp whose source delete already happened (keys,
    // batch=2). ingestBatch must refuse; recoverDeletes must complete
    // everything to exactly the reference outcome.
    val delTexts = Map(1001L -> text(1001L), 1005L -> text(1005L),
      102L -> text(2), 103L -> text(3), 303L -> text(9))
    // the tombstone shape deleteDocs captures on this root: op and
    // application identity + the per-doc stats factors (the
    // negative-partial input), so the recovery drives the same
    // no-text-scan paths as the direct twin
    delIds.map(i => (i, delTexts(i))).toDF("doc_id", "t")
      .select(col("doc_id"), lit("op-crash-w2").as("op_id"),
        current_timestamp().as("requested_at"),
        lit("app-crash-w2").as("app_id"),
        length(col("t")).cast("long").as("n_chars"),
        size(split(col("t"), "\\s+")).cast("long").as("n_ws_tokens"))
      .coalesce(1).write.parquet(pending.toString)
    // half-purged ivf: batch 0 already rewritten by the crashed run
    val ivf0 = s"${stB.ivfPath}/batch=0"
    val ivf0Rows = spark.read.parquet(ivf0)
      .where(!col("nn_id").isin(delIds: _*)).collect()
    val sch = spark.read.parquet(ivf0).schema
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(ivf0Rows: _*)), sch)
      .coalesce(1).write.mode("overwrite").parquet(ivf0)
    // marked docs tmp: the purged copy, parked pre-swap (partition
    // writes carry their own _SUCCESS, so a copied purged partition IS
    // a valid marked tmp)
    def copyDir(from: String, to: String): Unit = {
      val src = JPath.of(from); val dst = JPath.of(to)
      JFiles.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (JFiles.isDirectory(p)) JFiles.createDirectories(t)
        else {
          JFiles.createDirectories(t.getParent)
          JFiles.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
          ()
        }
      }
    }
    copyDir(s"${stA.docsPath}/batch=-1", s"${stB.docsPath}/.purge_tmp_batch=-1")
    // unmarked junk tmp: a mid-write crash — must be discarded
    JFiles.createDirectories(JPath.of(s"${stB.pqPath}/.purge_tmp_batch=0"))
    JFiles.write(JPath.of(s"${stB.pqPath}/.purge_tmp_batch=0/part-junk"),
      Array[Byte](1, 2, 3))
    // marked keys tmp whose source delete already happened
    copyDir(s"${stA.keysPath}/batch=2", s"${stB.keysPath}/.purge_tmp_batch=2")
    JFiles.walk(JPath.of(s"${stB.keysPath}/batch=2"))
      .sorted(Comparator.reverseOrder[JPath]())
      .forEach(f => JFiles.deleteIfExists(f))

    // the loud ingest guard: admitting against half-purged state refuses
    val e = intercept[Throwable] {
      ContinuousIngest.ingestBatch(
        Seq((501L, text(501L), annEmb(501L))).toDF("doc_id", "text", "embedding"),
        4L, stB, pb)
    }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(msgs(e).exists(_.contains("recoverDeletes")),
      s"ingest against a pending delete should refuse loudly: ${msgs(e)}")

    assert(ContinuousIngest.recoverDeletes(spark, stB) === delIds.size.toLong)
    assert(!JFiles.exists(pending), "completed pending must be retired")
    deleteStateTables(stA).zip(deleteStateTables(stB)).foreach {
      case ((name, a), (_, b)) => assertSameTable(s"recovered $name", a, b)
    }
    // the negative stats partials (delta dirs are op-keyed, so compare
    // the merged view) agree with the direct twin
    assert(ContinuousIngest.readStats(spark, stA).collect().toSeq ===
      ContinuousIngest.readStats(spark, stB).collect().toSeq,
      "recovered stats totals differ from the direct twin")
    // the audit trail survives the crash recovery: exactly the
    // tombstone set under the intent's op id, nothing duplicated by
    // the recovery replay, and no content-bearing column
    val log = ContinuousIngest.deletesLog(spark, stB)
    assert(log.columns.toSet === Set("doc_id", "op_id", "requested_at"),
      s"audit log must carry no content columns: ${log.columns.toSeq}")
    val logged = log.where(col("op_id") === "op-crash-w2")
      .select("doc_id").as[Long].collect().toSet
    assert(logged === delIds.toSet, s"audit log rows: $logged")
  }

  test("tombstone delete after a rebuild: index layouts diverged from docs' lineage, the purge still lands everywhere") {
    import graft.ops.Similarity
    val root = freshRoot()
    val (st, pa) = builtAnnRoot(s"$root/a")
    // the rebuild consolidates every index table under batch=-1 while
    // docs keeps batch=-1,0,1,2 — the layout divergence that breaks
    // any shared-lineage purge shortcut
    ContinuousIngest.rebuildIndexes(spark, st, pa.ann.get)
    val quant = ContinuousIngest.loadQuantizers(spark, st, pa.ann.get)
    // delete docs that lived in BATCH partitions of docs (absent as
    // dirs in the rebuilt index set) and in the bootstrap
    val n = ContinuousIngest.deleteDocs(spark, st, delIds.toDF("doc_id"))
    assert(n === delIds.size.toLong)
    deleteStateTables(st).foreach { case (name, df) =>
      df.columns.find(Set("doc_id", "nn_id", "vec_id", "id")).foreach { c =>
        assert(df.where(col(c).isin(delIds: _*)).count() === 0L,
          s"$name still holds deleted ids after a rebuild+delete")
      }
    }
    // the search face answers from the purged rebuilt index and equals
    // the one-shot operator over corpus-minus-deleted under the
    // REBUILT centroids
    val remaining = ContinuousIngest.readTable(spark, st.docsPath)
    assertSameTable("post-rebuild-delete search",
      ContinuousIngest.annIvfMaintained(spark, st, pa.ann.get,
        remaining, k = 2, nprobe = 2, Some(quant)),
      Similarity.annIvf(remaining, 2, nlist = pa.ann.get.nlist, nprobe = 2,
        idCol = "doc_id", centroids = Some(quant.cents)))
    val gotStats = ContinuousIngest.readStats(spark, st)
      .as[(Long, Long, Long)].head()
    val wantStats = remaining
      .agg(count(lit(1)), sum(length(col("text")).cast("long")),
        sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[(Long, Long, Long)].head()
    assert(gotStats === wantStats, s"stats $gotStats != $wantStats")
  }

  test("tombstone delete then compaction: consolidation preserves the purge; laws hold across both maintenance passes") {
    import graft.ops.Similarity
    val root = freshRoot()
    // reference: delete only (no compaction)
    val (stA, _) = builtAnnRoot(s"$root/a")
    ContinuousIngest.deleteDocs(spark, stA, delIds.toDF("doc_id"))
    // twin: the same delete, then full-horizon compaction (the two
    // maintenance passes a long-lived deployment interleaves)
    val (stB, pb) = builtAnnRoot(s"$root/b")
    ContinuousIngest.deleteDocs(spark, stB, delIds.toDF("doc_id"))
    ContinuousIngest.compactState(spark, stB, upToBatch = 2L)
    // consolidated to one partition per table, same rows as the
    // uncompacted twin — the purge survives the collapse
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val fs = FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new HPath(stB.docsPath))
      .count(s => s.isDirectory && s.getPath.getName.startsWith("batch=")) === 1)
    deleteStateTables(stA).zip(deleteStateTables(stB)).foreach {
      case ((name, a), (_, b)) => assertSameTable(s"compacted $name", a, b)
    }
    // and the lifecycle continues: re-admission works on the
    // compacted, purged state
    val admitted = ContinuousIngest.ingestBatch(
      Seq((701L, text(1005L), annEmb(701L))).toDF("doc_id", "text", "embedding"),
      3L, stB, pb).select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(701L), s"post-compaction re-admission: $admitted")
    // the audit log compacts with the rest of the state: content
    // identical to the uncompacted twin (timestamps differ per root —
    // compare the provable facts), one consolidated dir
    assert(ContinuousIngest.deletesLog(spark, stB)
      .select("doc_id").as[Long].collect().toSet === delIds.toSet,
      "compacted audit log lost rows")
    val logDirs = new java.io.File(s"${stB.root}/deletes_log").listFiles()
      .map(_.getName).filter(_.startsWith("op=")).toSet
    assert(logDirs === Set("op=_compacted_0"),
      s"audit log dirs not consolidated: $logDirs")
  }

  /** The audit-log compaction recovers by SET SEMANTICS, never by
    * retiring sources from stale knowledge: log rows are a set (the
    * reader's distinct is the contract), so re-absorbing is free while
    * a stale retire could destroy rows a queued-takedown retry MERGED
    * into an op dir between the crash and its recovery — the exact
    * "takedown stays provable" invariant. Windows: an unmarked epoch
    * tmp is a mid-write crash, discarded; a marked epoch tmp beside its
    * live epoch dir is stale, discarded; a marked epoch tmp whose
    * epoch dir is absent is mid-install — renamed in; an unretired
    * source re-absorbs, INCLUDING rows merged into it after the
    * crash. */
  test("deletes_log compaction crash windows: set-semantics recovery loses nothing, including post-crash merges") {
    import java.nio.file.{Files => JFiles, Path => JPath}
    import java.util.Comparator
    val root = freshRoot()
    val (st, _) = builtAnnRoot(s"$root/a")
    ContinuousIngest.deleteDocs(spark, st, Seq(1001L, 102L).toDF("doc_id"))
    ContinuousIngest.deleteDocs(spark, st, Seq(103L).toDF("doc_id"))
    val want = ContinuousIngest.deletesLog(spark, st)
      .select("doc_id").as[Long].collect().toSet
    val logDir = s"${st.root}/deletes_log"
    def opDirs(): Set[String] = new java.io.File(logDir).listFiles()
      .map(_.getName).filter(_.startsWith("op=")).toSet
    def logged(): Set[Long] = ContinuousIngest.deletesLog(spark, st)
      .select("doc_id").as[Long].collect().toSet
    def rmrf(p: String): Unit =
      JFiles.walk(JPath.of(p)).sorted(Comparator.reverseOrder[JPath]())
        .forEach(f => JFiles.deleteIfExists(f))
    // window 1: an epoch tmp WITHOUT _SUCCESS is a mid-write crash —
    // its poison rows must never surface; the real op dirs compact
    // into the first epoch
    Seq((666L, "op-poison", new java.sql.Timestamp(0L)))
      .toDF("doc_id", "op_id", "requested_at").coalesce(1)
      .write.parquet(s"$logDir/.log_compact_tmp_0")
    JFiles.delete(JPath.of(s"$logDir/.log_compact_tmp_0/_SUCCESS"))
    ContinuousIngest.compactState(spark, st, 2L)
    assert(logged() === want, s"window-1 lost/gained rows: ${logged()}")
    assert(opDirs() === Set("op=_compacted_0"), s"window-1 dirs: ${opDirs()}")
    // window 2: a MARKED epoch tmp beside its live epoch dir is stale —
    // discarded, never trusted (poison visible if it were)
    Seq((667L, "op-poison2", new java.sql.Timestamp(0L)))
      .toDF("doc_id", "op_id", "requested_at").coalesce(1)
      .write.parquet(s"$logDir/.log_compact_tmp_0")
    // another real takedown so the compaction proper has work to do
    ContinuousIngest.deleteDocs(spark, st, Seq(303L).toDF("doc_id"))
    val want2 = want + 303L
    ContinuousIngest.compactState(spark, st, 2L)
    assert(logged() === want2, s"window-2 lost/gained rows: ${logged()}")
    assert(opDirs() === Set("op=_compacted_0", "op=_compacted_1"),
      s"window-2 dirs: ${opDirs()}")
    // window 4: crashed retirement + POST-CRASH MERGE — an absorbed op
    // dir survives the crash and a retry merges a NEW row into it
    // before the next compaction; recovery must re-absorb (set
    // semantics), never retire from stale knowledge. The new rows land
    // in their OWN epoch — the existing epoch is not rewritten.
    val mergedOp = "retry-op"
    spark.read.parquet(s"$logDir/op=_compacted_0").limit(1)
      .select(col("doc_id"), lit(mergedOp).as("op_id"), col("requested_at"))
      .unionByName(Seq((4242L, mergedOp, new java.sql.Timestamp(0L)))
        .toDF("doc_id", "op_id", "requested_at"))
      .coalesce(1).write.parquet(s"$logDir/op=$mergedOp")
    ContinuousIngest.compactState(spark, st, 2L)
    val got4 = logged()
    assert(got4.contains(4242L),
      s"window-4: the post-crash merged row was destroyed: $got4")
    assert((want2 -- got4).isEmpty, s"window-4 lost rows: $got4")
    val epochs = Set("op=_compacted_0", "op=_compacted_1", "op=_compacted_2")
    assert(opDirs() === epochs, s"window-4 dirs: ${opDirs()}")
    // window 5: EPOCH mid-install crash — a marked epoch tmp whose
    // epoch dir is absent is the only copy of its absorbed set;
    // recovery finishes the rename (epoch names are never reused)
    spark.read.parquet(s"$logDir/op=_compacted_2").coalesce(1)
      .write.parquet(s"$logDir/.log_compact_tmp_2")
    rmrf(s"$logDir/op=_compacted_2")
    ContinuousIngest.compactState(spark, st, 2L)
    assert(logged() === got4, s"window-5 lost rows: ${logged()}")
    assert(opDirs() === epochs, s"window-5 dirs: ${opDirs()}")
  }

  /** The epoch shape of the audit-log compaction: cost scales with
    * NEW ops (prior epochs are never re-read), a pass with nothing to
    * absorb touches nothing, output files are bounded by the rows
    * target instead of `coalesce(1)`, and the epoch-dir count is
    * bounded by the consolidation pass. */
  test("deletes_log epoch compaction: per-pass cost ∝ new ops, bounded files, bounded epochs") {
    val root = freshRoot()
    val st = bootstrapped(s"$root/s")
    val logDir = s"${st.root}/deletes_log"
    def opRow(id: Long, op: String) =
      Seq((id, op, new java.sql.Timestamp(1000L * id)))
        .toDF("doc_id", "op_id", "requested_at")
    def dirNames(): Set[String] = Option(new java.io.File(logDir).listFiles())
      .fold(Set.empty[String])(_.map(_.getName).filter(_.startsWith("op=")).toSet)
    def mtimes(): Map[String, Long] = new java.io.File(logDir).listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    // pass 1: 3 fresh ops, rows target 1 → multi-file epoch output
    (1 to 3).foreach(i => opRow(i.toLong, s"op-a$i").coalesce(1)
      .write.parquet(s"$logDir/op=a$i"))
    ContinuousIngest.compactDeletesLog(spark, st, targetRowsPerFile = 1L)
    assert(dirNames() === Set("op=_compacted_0"))
    val partFiles = new java.io.File(s"$logDir/op=_compacted_0").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(partFiles > 1,
      s"3 rows at a 1-row/file target wrote $partFiles file(s) — " +
        "the coalesce(1) fan-in is back")
    // pass 2: nothing new → touches NOTHING (dir set and mtimes equal)
    val before = mtimes()
    ContinuousIngest.compactDeletesLog(spark, st, targetRowsPerFile = 1L)
    assert(mtimes() === before, "an empty pass must not rewrite anything")
    // pass 3: ONE new op → absorbed into its OWN epoch; epoch 0 is
    // not re-read or rewritten
    opRow(100L, "op-b").coalesce(1).write.parquet(s"$logDir/op=b")
    val epoch0Before = before("op=_compacted_0")
    ContinuousIngest.compactDeletesLog(spark, st, targetRowsPerFile = 1L)
    assert(dirNames() === Set("op=_compacted_0", "op=_compacted_1"))
    assert(mtimes()("op=_compacted_0") === epoch0Before,
      "a later pass rewrote a prior epoch — cost no longer ∝ new ops")
    assert(spark.read.parquet(s"$logDir/op=_compacted_1")
      .select("doc_id").as[Long].collect().toSet === Set(100L),
      "the new epoch must hold exactly the new op's rows")
    // passes 4..: one new op each until the epoch budget trips → the
    // consolidation pass collapses every epoch into one
    var i = 200L
    while (dirNames().size < ContinuousIngest.MaxLogEpochs) {
      opRow(i, s"op-c$i").coalesce(1).write.parquet(s"$logDir/op=c$i")
      ContinuousIngest.compactDeletesLog(spark, st, targetRowsPerFile = 1000000L)
      i += 1L
    }
    opRow(i, "op-final").coalesce(1).write.parquet(s"$logDir/op=final")
    ContinuousIngest.compactDeletesLog(spark, st, targetRowsPerFile = 1000000L)
    assert(dirNames().size === 1,
      s"consolidation must collapse the epochs, got ${dirNames()}")
    val all = ContinuousIngest.deletesLog(spark, st)
      .select("doc_id").as[Long].collect().toSet
    assert(all === (1L to 3L).toSet + 100L + i ++ (200L until i).toSet,
      s"rows lost across epoch passes: $all")
  }

  test("tombstone delete between streamed runs: the checkpoint continues past the maintenance pass, nothing resurrects") {
    val root = freshRoot()
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$root/in/chunk_$i")
      Thread.sleep(5)
    }
    val st = bootstrapped(s"$root/state")
    ContinuousIngest.start(
      Bounded.fileStream(spark, s"$root/in/chunk_*",
        schemaDDL = "doc_id BIGINT, text STRING"),
      st, P).awaitTermination()
    // maintenance between streams: the drained checkpoint has no
    // replay window, so every batch is committed and deletable
    assert(ContinuousIngest.deleteDocs(spark, st,
      Seq(103L, 302L).toDF("doc_id")) === 2L)
    // second streamed run picks up NEW chunks on the SAME checkpoint:
    // 103's exact text re-admits (digest purged), 302's near dup
    // admits (keys purged with it), surviving 203's text still drops
    Seq(401L -> text(3), 402L -> text(8, shift = 1), 403L -> text(6))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$root/in/chunk_3")
    ContinuousIngest.start(
      Bounded.fileStream(spark, s"$root/in/chunk_*",
        schemaDDL = "doc_id BIGINT, text STRING"),
      st, P).awaitTermination()
    val docs = ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id").as[Long].collect().toSet
    assert(docs === Set(101L, 102L, 203L, 303L, 401L, 402L),
      s"streamed-run docs after delete: $docs")
    // the maintained accounting survived delete + second stream
    val gotStats = ContinuousIngest.readStats(spark, st)
      .as[(Long, Long, Long)].head()
    val wantStats = ContinuousIngest.readTable(spark, st.docsPath)
      .agg(count(lit(1)), sum(length(col("text")).cast("long")),
        sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[(Long, Long, Long)].head()
    assert(gotStats === wantStats, s"stats $gotStats != $wantStats")
  }

  /** THE no-text-scan pin for deletes: strip the text column from
    * every docs partition, then delete — if ANY delete-path job read
    * docs.text (a text-hashing capture, or a stats re-aggregation),
    * analysis would fail loudly. Affected docs partitions
    * still rewrite (whatever columns they hold); the stats adjustment
    * comes from the captured per-doc factors. */
  test("V2 delete never reads corpus text: a docs table with NO text column purges fine") {
    import java.nio.file.{Files => JFiles, Path => JPath}
    import java.util.Comparator
    val root = freshRoot()
    val (st, _) = builtAnnRoot(s"$root/a")
    val preStats = ContinuousIngest.readStats(spark, st)
      .as[(Long, Long, Long)].head()
    // factors of the docs about to be deleted, for the stats law below
    val delFactors = ContinuousIngest.readTable(spark, st.docsPath)
      .where(col("doc_id").isin(delIds: _*))
      .agg(count(lit(1)), sum(length(col("text")).cast("long")),
        sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[(Long, Long, Long)].head()
    // strip text from every docs partition (metadata-equivalent of a
    // deployment that keeps text elsewhere)
    val docsDir = new java.io.File(st.docsPath)
    docsDir.listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith("batch=")).foreach { d =>
      val slim = spark.read.parquet(d.toString).drop("text").localCheckpoint()
      JFiles.walk(d.toPath).sorted(Comparator.reverseOrder[JPath]())
        .forEach(f => JFiles.deleteIfExists(f))
      slim.write.parquet(d.toString)
    }
    val n = ContinuousIngest.deleteDocs(spark, st, delIds.toDF("doc_id"))
    assert(n === delIds.size.toLong, s"textless delete purged $n")
    deleteStateTables(st).foreach { case (name, df) =>
      df.columns.find(Set("doc_id", "nn_id", "vec_id", "id")).foreach { c =>
        assert(df.where(col(c).isin(delIds: _*)).count() === 0L,
          s"$name still holds deleted ids on the textless root")
      }
    }
    // accounting adjusted purely from the captured factors
    val post = ContinuousIngest.readStats(spark, st)
      .as[(Long, Long, Long)].head()
    assert(post === (preStats._1 - delFactors._1, preStats._2 - delFactors._2,
      preStats._3 - delFactors._3),
      s"textless-delete stats: $post vs pre=$preStats minus del=$delFactors")
  }

  /** The batched-takedown face: N queued requests drain in ONE purge
    * pass with the same final state as N sequential deleteDocs calls,
    * each request keeping its own audit identity. */
  test("queued takedowns: enqueue x2 + one processDeleteQueue == two sequential deletes; audit per request") {
    val root = freshRoot()
    val idsA = Seq(1001L, 102L)
    val idsB = Seq(1005L, 103L, 303L)
    // reference: two sequential full-cost deletes
    val (stA, _) = builtAnnRoot(s"$root/a")
    ContinuousIngest.deleteDocs(spark, stA, idsA.toDF("doc_id"))
    ContinuousIngest.deleteDocs(spark, stA, idsB.toDF("doc_id"))
    // twin: two queued requests, one drain
    val (stB, pb) = builtAnnRoot(s"$root/b")
    val opA = ContinuousIngest.enqueueDelete(spark, stB, idsA.toDF("doc_id"))
    // queued requests must NOT block ingest (only an in-flight intent
    // does) — a batch lands between enqueue and drain
    ContinuousIngest.ingestBatch(
      Seq((901L, text(901L), annEmb(901L))).toDF("doc_id", "text", "embedding"),
      3L, stB, pb)
    ContinuousIngest.ingestBatch(
      Seq((901L, text(901L), annEmb(901L))).toDF("doc_id", "text", "embedding"),
      3L, stA, pb)
    val opB = ContinuousIngest.enqueueDelete(spark, stB, idsB.toDF("doc_id"))
    assert(ContinuousIngest.processDeleteQueue(spark, stB) ===
      (idsA.size + idsB.size).toLong)
    deleteStateTables(stA).zip(deleteStateTables(stB)).foreach {
      case ((name, a), (_, b)) => assertSameTable(s"queued $name", a, b)
    }
    assert(ContinuousIngest.readStats(spark, stA).collect().toSeq ===
      ContinuousIngest.readStats(spark, stB).collect().toSeq,
      "queued-drain stats differ from the sequential twin")
    // audit: each request's docs under its OWN op id
    val log = ContinuousIngest.deletesLog(spark, stB)
    assert(log.where(col("op_id") === opA).select("doc_id").as[Long]
      .collect().toSet === idsA.toSet, "request A's audit rows")
    assert(log.where(col("op_id") === opB).select("doc_id").as[Long]
      .collect().toSet === idsB.toSet, "request B's audit rows")
    // the queue drained; a second drain is a no-op
    assert(ContinuousIngest.processDeleteQueue(spark, stB) === 0L)
  }

  /** compactState folds the per-op negative stats partials takedowns
    * leave under `stats_deltas/` into the stats table (they must not
    * accrete forever), and every fold crash window replays to the
    * same totals: a committed tmp (both markers) completes, a
    * manifest-less tmp is discarded as partial, and a manifest in the
    * live partition retires its delta dirs WITHOUT refolding them. */
  test("compactState folds takedown stats deltas; fold crash windows replay to the same totals") {
    import java.nio.file.{Files => JFiles, Path => JPath}
    import java.util.Comparator
    def deltaOps(st: IngestState): Set[String] = {
      val d = new java.io.File(st.statsDeltasPath)
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.startsWith("op=")).toSet
    }
    def totals(st: IngestState): (Long, Long, Long) =
      ContinuousIngest.readStats(spark, st).as[(Long, Long, Long)].head()
    def deltaRows(st: IngestState): DataFrame =
      spark.read.parquet(deltaOps(st).toSeq
          .map(op => s"${st.statsDeltasPath}/$op"): _*)
        .select("n_docs", "n_chars", "n_ws_tokens")
    val root = freshRoot()

    // the plain fold: two takedowns → two delta dirs → one compaction
    val (stA, _) = builtAnnRoot(s"$root/a")
    ContinuousIngest.deleteDocs(spark, stA, Seq(1001L, 102L).toDF("doc_id"))
    ContinuousIngest.deleteDocs(spark, stA, Seq(1005L, 303L).toDF("doc_id"))
    val wantA = totals(stA)
    assert(deltaOps(stA).size === 2, s"fixture: ${deltaOps(stA)}")
    ContinuousIngest.compactState(spark, stA, 2L)
    assert(deltaOps(stA).isEmpty, s"deltas not folded: ${deltaOps(stA)}")
    assert(totals(stA) === wantA, s"fold changed totals: ${totals(stA)} vs $wantA")
    assert(!new java.io.File(stA.statsPath).listFiles()
      .exists(_.getName.startsWith(".fold_tmp")), "fold tmp left behind")
    val recompute = ContinuousIngest.readTable(spark, stA.docsPath)
      .agg(count(lit(1)), sum(length(col("text")).cast("long")),
        sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[(Long, Long, Long)].head()
    assert(totals(stA) === recompute, "folded totals drifted from the corpus")

    // crash window 1: committed fold tmp (BOTH markers), sources all
    // intact — recovery installs it and retires the deltas
    val (stB, _) = builtAnnRoot(s"$root/b")
    ContinuousIngest.deleteDocs(spark, stB, Seq(1001L, 102L).toDF("doc_id"))
    val wantB = totals(stB)
    val opsB = deltaOps(stB)
    val tmpB = s"${stB.statsPath}/.fold_tmp_batch=2"
    spark.read.parquet(s"${stB.statsPath}/batch=2")
      .unionByName(deltaRows(stB)).coalesce(1).write.parquet(tmpB)
    JFiles.write(JPath.of(tmpB, "_GRAFT_FOLDED_OPS"),
      opsB.toSeq.sorted.map(_.stripPrefix("op="))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    ContinuousIngest.compactState(spark, stB, 2L)
    assert(deltaOps(stB).isEmpty && totals(stB) === wantB,
      s"window-1 recovery: ${totals(stB)} vs $wantB, deltas ${deltaOps(stB)}")

    // crash window 2: tmp with _SUCCESS but NO manifest is a PARTIAL
    // fold — discarded (poisoned rows must never be installed), then
    // refolded from the intact sources
    val (stC, _) = builtAnnRoot(s"$root/c")
    ContinuousIngest.deleteDocs(spark, stC, Seq(1005L).toDF("doc_id"))
    val wantC = totals(stC)
    Seq((99999L, 0L, 0L)).toDF("n_docs", "n_chars", "n_ws_tokens")
      .coalesce(1).write.parquet(s"${stC.statsPath}/.fold_tmp_batch=2")
    ContinuousIngest.compactState(spark, stC, 2L)
    assert(totals(stC) === wantC,
      s"window-2: a manifest-less tmp must be discarded (${totals(stC)} vs $wantC)")
    assert(deltaOps(stC).isEmpty, "window-2: deltas must still fold")

    // crash window 3: fold renamed in but retirement unfinished — the
    // manifest sits in the LIVE partition while its delta dirs still
    // exist; recovery must retire them WITHOUT refolding
    val (stD, _) = builtAnnRoot(s"$root/d")
    ContinuousIngest.deleteDocs(spark, stD, Seq(103L).toDF("doc_id"))
    val wantD = totals(stD)
    val opsD = deltaOps(stD)
    val foldedD = spark.read.parquet(s"${stD.statsPath}/batch=2")
      .unionByName(deltaRows(stD)).localCheckpoint()
    val liveD = new java.io.File(s"${stD.statsPath}/batch=2")
    JFiles.walk(liveD.toPath).sorted(Comparator.reverseOrder[JPath]())
      .forEach(f => JFiles.deleteIfExists(f))
    foldedD.coalesce(1).write.parquet(liveD.toString)
    JFiles.write(JPath.of(liveD.toString, "_GRAFT_FOLDED_OPS"),
      opsD.toSeq.sorted.map(_.stripPrefix("op="))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    ContinuousIngest.compactState(spark, stD, 2L)
    assert(deltaOps(stD).isEmpty && totals(stD) === wantD,
      s"window-3: retired manifest refolded (${totals(stD)} vs $wantD)")

    // crash window 4: the manifest reached its dot-temp but not its
    // rename — the tmp carries _SUCCESS and poisoned rows, yet no
    // manifest, so it is PARTIAL and must be discarded (the old
    // in-place manifest write could leave a truncated-but-present
    // manifest here, making recovery install the poison and retire
    // only the listed ops)
    val (stE, _) = builtAnnRoot(s"$root/e")
    ContinuousIngest.deleteDocs(spark, stE, Seq(1005L).toDF("doc_id"))
    val wantE = totals(stE)
    val tmpE = s"${stE.statsPath}/.fold_tmp_batch=2"
    Seq((77777L, 1L, 1L)).toDF("n_docs", "n_chars", "n_ws_tokens")
      .coalesce(1).write.parquet(tmpE)
    JFiles.write(JPath.of(tmpE, "._GRAFT_FOLDED_OPS.tmp"),
      Array.emptyByteArray)
    ContinuousIngest.compactState(spark, stE, 2L)
    assert(totals(stE) === wantE,
      s"window-4: a manifest-temp-only tmp must be discarded " +
        s"(${totals(stE)} vs $wantE)")
    assert(deltaOps(stE).isEmpty, "window-4: deltas must still fold")
  }

  /** readStats must apply the same `_SUCCESS` gate foldStatsDeltas
    * does: a delta dir a crashed applyPendingDelete left mid-write is
    * rewritten by the pending intent's recovery — reading it early
    * would fold a partial into monitoring totals. */
  test("readStats ignores an uncommitted (no _SUCCESS) stats delta") {
    import java.nio.file.{Files => JFiles, Path => JPath}
    val root = freshRoot()
    val (st, _) = builtAnnRoot(s"$root/a")
    ContinuousIngest.deleteDocs(spark, st, Seq(103L).toDF("doc_id"))
    val want = ContinuousIngest.readStats(spark, st)
      .as[(Long, Long, Long)].head()
    Seq((-99999L, -7L, -7L)).toDF("n_docs", "n_chars", "n_ws_tokens")
      .coalesce(1).write.parquet(s"${st.statsDeltasPath}/op=crashed")
    JFiles.delete(JPath.of(s"${st.statsDeltasPath}/op=crashed/_SUCCESS"))
    assert(ContinuousIngest.readStats(spark, st)
      .as[(Long, Long, Long)].head() === want,
      "a partial (uncommitted) delta leaked into monitoring totals")
  }

  /** The queued-takedown RETRY hole: a crash after applyPendingDelete
    * (pending retired) but before the queue dirs retire, followed by a
    * legitimate re-ingest of a purged id, makes the retry's re-capture
    * non-empty — a real SECOND application of the same op. Both
    * applications purged real rows, so both stats deltas must count
    * (capture-keyed dirs, never a reused-key overwrite) and the audit
    * log must keep the FIRST application's rows (merge, never
    * overwrite) — stats stay exactly the corpus recompute and the
    * takedown stays provable. */
  test("queued-takedown retry after re-ingest: stats deltas additive, audit rows merge") {
    import java.nio.file.{Files => JFiles, Path => JPath}
    val root = freshRoot()
    val (st, pa) = builtAnnRoot(s"$root/a")
    val ids = Seq(102L, 103L)
    val opId = ContinuousIngest.enqueueDelete(spark, st, ids.toDF("doc_id"))
    // stash the committed queue dir — the crash window leaves it behind
    val qDir = JPath.of(s"${st.root}/.delete_queue/op=$opId")
    val stash = JPath.of(s"$root/stash")
    JFiles.createDirectories(stash)
    JFiles.list(qDir).forEach(f =>
      JFiles.copy(f, stash.resolve(f.getFileName.toString)))
    assert(ContinuousIngest.processDeleteQueue(spark, st) === ids.size.toLong)
    // crash simulation: the purge completed but queue retirement never
    // ran — restore the committed request dir
    JFiles.createDirectories(qDir)
    JFiles.list(stash).forEach(f =>
      JFiles.copy(f, qDir.resolve(f.getFileName.toString)))
    // a purged id legitimately re-ingests (re-admission is the contract)
    ContinuousIngest.ingestBatch(
      Seq((102L, text(2), annEmb(102L))).toDF("doc_id", "text", "embedding"),
      3L, st, pa)
    // the retry drains again: re-capture = {102} — a second application
    assert(ContinuousIngest.processDeleteQueue(spark, st) === 1L)
    // stats: exact equality with a from-scratch corpus aggregation —
    // an overwritten first delta would permanently overcount
    val got = ContinuousIngest.readStats(spark, st)
      .as[(Long, Long, Long)].head()
    val want = ContinuousIngest.readTable(spark, st.docsPath)
      .agg(count(lit(1)),
        coalesce(sum(length(col("text")).cast("long")), lit(0L)),
        coalesce(sum(size(split(col("text"), "\\s+")).cast("long")), lit(0L)))
      .as[(Long, Long, Long)].head()
    assert(got === want, s"retry overcounted stats: $got vs $want")
    // audit: the first application's rows survive the second — 103 was
    // purged only by the first, and must still be provable
    val logged = ContinuousIngest.deletesLog(spark, st)
      .where(col("op_id") === opId).select("doc_id").as[Long].collect().toSet
    assert(logged === ids.toSet, s"audit lost rows: $logged vs ${ids.toSet}")
    // one delta dir per application — additive, not overwritten
    val deltas = new java.io.File(st.statsDeltasPath).listFiles()
      .map(_.getName).filter(_.startsWith("op=")).toSet
    assert(deltas.size === 2, s"expected two capture-keyed deltas: $deltas")
    // the queue drained for good this time
    assert(ContinuousIngest.processDeleteQueue(spark, st) === 0L)
  }

  /** start(drainQueuedDeletes = true): queued takedowns apply at
    * micro-batch boundaries without stopping the stream — the
    * foreachBatch body is the single-writer maintenance context, and
    * the in-hand batch is excluded from the capture so a replay can
    * never resurrect a purged row. Ids that haven't arrived yet are
    * judged at drain time (retired no-op) and land normally after. */
  test("start with drainQueuedDeletes: queue drains at batch boundaries, late ids judged at process time") {
    val root = freshRoot()
    val st = IngestState(s"$root/state")
    ContinuousIngest.bootstrap(
      Seq(1001L -> text(1001L), 1002L -> text(1002L)).toDF("doc_id", "text"),
      st, P)
    // queue BEFORE the stream: 1001 exists (purges at the first
    // boundary); 302 only arrives in chunk 2 (judged no-op, lands)
    ContinuousIngest.enqueueDelete(spark, st, Seq(1001L, 302L).toDF("doc_id"))
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$root/in/chunk_$i")
      Thread.sleep(5)
    }
    ContinuousIngest.start(
      Bounded.fileStream(spark, s"$root/in/chunk_*",
        schemaDDL = "doc_id BIGINT, text STRING"),
      st, P, drainQueuedDeletes = true).awaitTermination()
    val docs = ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id").as[Long].collect().toSet
    assert(!docs.contains(1001L), "queued takedown did not purge at the boundary")
    assert(docs.contains(302L),
      "a not-yet-arrived id must land after its no-op judgment")
    assert(docs.contains(1002L), "survivor lost")
    val qDir = new java.io.File(s"${st.root}/.delete_queue")
    assert(qDir.listFiles() == null || qDir.listFiles().isEmpty,
      "queue not retired")
    assert(ContinuousIngest.deletesLog(spark, st).select("doc_id").as[Long]
      .collect().toSet === Set(1001L), "audit rows")
    // accounting stayed exact through the boundary drain
    val got = ContinuousIngest.readStats(spark, st)
      .as[(Long, Long, Long)].head()
    val want = ContinuousIngest.readTable(spark, st.docsPath)
      .agg(count(lit(1)), sum(length(col("text")).cast("long")),
        sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[(Long, Long, Long)].head()
    assert(got === want, s"stats $got != $want")
  }

  /** The selectivity memo must distinguish two IN-MEMORY allowlists:
    * a LocalRelation plan prints only its schema, so a
    * plan-string-keyed memo would hand the second allowlist the first
    * one's widened probe count — silent recall loss the widening
    * contract can't detect. The fingerprint digests the local rows. */
  test("filtered-serving memo distinguishes distinct in-memory allowlists; the digest is paid once per allowlist object") {
    val root = freshRoot()
    val (st, pa) = builtAnnRoot(s"$root/a")
    val ann = pa.ann.get
    val q = Some(ContinuousIngest.loadQuantizers(spark, st, ann))
    // narrow: 2 eligible of 26 → ceil(1/sel) caps at nlist; broad: all
    // eligible → sel = 1 → width stays nprobe. Both are LocalRelations
    // with the SAME schema (and so the same plan string).
    val narrow = Seq(1001L, 1002L).toDF("doc_id")
    val broad = ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id").as[Long].collect().toSeq.toDF("doc_id")
    val qs = ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id", "embedding").limit(3).localCheckpoint()
    def search(eligible: DataFrame): Set[Long] =
      ContinuousIngest.annIvfFilteredMaintained(spark, st, ann, qs, k = 2,
        nprobe = 1, eligible, q).select("nn_id").as[Long].collect().toSet
    val fp0 = ContinuousIngest.fingerprintComputations.get()
    val m0 = ContinuousIngest.selectivityMeasurements.get()
    val narrowAnswers = search(narrow)
    assert(narrowAnswers.nonEmpty && narrowAnswers.subsetOf(Set(1001L, 1002L)),
      s"an ineligible neighbor leaked: $narrowAnswers")
    assert(ContinuousIngest.selectivityMeasurements.get() === m0 + 1)
    // a serving loop re-probing the SAME allowlist object digests its
    // rows exactly once and measures once — the fingerprint rides the
    // weak-keyed plan-object cache, not a per-call row walk
    (1 to 5).foreach(_ => assert(search(narrow) === narrowAnswers))
    assert(ContinuousIngest.fingerprintComputations.get() === fp0 + 1,
      "the allowlist digest must be computed once per plan object " +
        "across a serving loop")
    assert(ContinuousIngest.selectivityMeasurements.get() === m0 + 1,
      "a serving loop over one allowlist must measure its selectivity once")
    // the broad allowlist has the same schema and plan string: only a
    // row-digesting fingerprint gives it its own memo entry, and so
    // its own measurement (a shared key would reuse the narrow
    // allowlist's widened probe count)
    search(broad)
    assert(ContinuousIngest.fingerprintComputations.get() === fp0 + 2,
      "a distinct allowlist object must get its own digest")
    assert(ContinuousIngest.selectivityMeasurements.get() === m0 + 2,
      "the memo served one in-memory allowlist the other's probe width " +
        "(LocalRelation fingerprints must differ)")
  }

  /** `compactEveryNBatches`: a forever-running stream compacts its own
    * state in the boundary slot. The compacted stream's state must
    * equal an untouched batch-loop twin's (content, not layout), the
    * compaction must actually have consolidated the committed
    * partitions, and replaying the last batch after the in-stream
    * pass must remain idempotent. */
  test("scheduled in-stream compaction: state == untouched twin, consolidation happened, replay stays idempotent") {
    val root = freshRoot()
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$root/in/chunk_$i")
      Thread.sleep(5)
    }
    val pc = P.copy(compactEveryNBatches = 2)
    val stC = IngestState(s"$root/c")
    ContinuousIngest.bootstrap(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), stC, pc)
    ContinuousIngest.start(
      Bounded.fileStream(spark, s"$root/in/chunk_*",
        schemaDDL = "doc_id BIGINT, text STRING"),
      stC, pc).awaitTermination()
    // untouched twin: plain batch loop, no compaction
    val stT = bootstrapped(s"$root/t")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      ContinuousIngest.ingestBatch(rows.toDF("doc_id", "text"), i.toLong, stT, P)
    }
    assert(snapshot(stC) === snapshot(stT),
      "in-stream compaction changed state content")
    // the pass really ran at the batch-2 boundary: batches {-1, 0, 1}
    // consolidated into one partition, batch 2 ingested after it
    val docDirs = new java.io.File(stC.docsPath).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(docDirs.size === 2,
      s"expected consolidated + in-hand partitions, got $docDirs")
    // replay idempotence THROUGH the in-stream pass
    val before = snapshot(stC)
    ContinuousIngest.ingestBatch(chunks(2).toDF("doc_id", "text"), 2L, stC, pc)
    assert(snapshot(stC) === before,
      "replaying the last batch after the in-stream compaction changed state")
    val gotStats = ContinuousIngest.readStats(spark, stC)
      .as[(Long, Long, Long)].head()
    val wantStats = ContinuousIngest.readTable(spark, stC.docsPath)
      .agg(count(lit(1)), sum(length(col("text")).cast("long")),
        sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[(Long, Long, Long)].head()
    assert(gotStats === wantStats, s"stats $gotStats != $wantStats")
  }

  test("bootstrap refuses a non-float32 embedding column on an ann-enabled root, by name") {
    import graft.streaming.ContinuousIngest.AnnParams
    val root = freshRoot()
    val st = IngestState(s"$root/dbl")
    val pa = P.copy(ann = Some(AnnParams(nlist = 2, m = 4, ksub = 4)))
    val dbl = Seq((1L, text(1), (0 until 16).map(_.toDouble)))
      .toDF("doc_id", "text", "embedding")
    val e = intercept[IllegalArgumentException] {
      ContinuousIngest.bootstrap(dbl, st, pa)
    }
    assert(e.getMessage.contains("array<float>"),
      s"error must name the contract width: ${e.getMessage}")
  }

  test("tombstone delete on a dedup-only root (no ann): index tables absent are skipped, dedup laws hold") {
    val root = freshRoot()
    val st = bootstrapped(root.toString)
    chunks.zipWithIndex.foreach { case (rows, i) =>
      ContinuousIngest.ingestBatch(rows.toDF("doc_id", "text"), i.toLong, st, P)
    }
    // before any delete the audit log is EMPTY WITH SCHEMA (readable,
    // joinable, zero rows) — the face a monitoring job reads blindly
    val preLog = ContinuousIngest.deletesLog(spark, st)
    assert(preLog.count() === 0L &&
      preLog.columns.toSeq === Seq("doc_id", "op_id", "requested_at"),
      "deletesLog on an undeleted root must be empty with the log schema")
    // delete 103: its exact text AND its near-dup shadow (202's text)
    // must both be admissible again
    assert(ContinuousIngest.deleteDocs(spark, st, Seq(103L).toDF("doc_id")) === 1L)
    assert(ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id").as[Long].collect().toSet ===
      Set(101L, 102L, 203L, 302L, 303L))
    assert(ContinuousIngest.readTable(spark, st.keysPath)
      .where(col("id") === 103L).count() === 0L, "keys not purged")
    val admitted = ContinuousIngest.ingestBatch(
      Seq(601L -> text(3), 602L -> text(3, shift = 1), 603L -> text(8))
        .toDF("doc_id", "text"), 3L, st, P)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(601L, 602L),
      s"dedup-only re-admission got $admitted, want {601, 602}")
    // stats re-anchored
    val gotStats = ContinuousIngest.readStats(spark, st)
      .as[(Long, Long, Long)].head()
    val wantStats = ContinuousIngest.readTable(spark, st.docsPath)
      .agg(count(lit(1)), sum(length(col("text")).cast("long")),
        sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[(Long, Long, Long)].head()
    assert(gotStats === wantStats, s"stats $gotStats != $wantStats")
  }

  /** The compose-two-correct-mechanisms trap: compactTable's install
    * window (sources deleted, rows visible only in the marked hidden
    * tmp) blinds any capture taken before the NEXT compaction runs —
    * a takedown naming a hidden doc would match nothing, retire its
    * request as a no-op, and the later compaction recovery would
    * resurrect the doc: content survives, nothing logged. Every
    * single-writer face must therefore resolve compaction swaps
    * BEFORE reading state (recoverCompactionSwaps). */
  test("takedown over a crashed compaction swap: the hidden doc still purges, nothing resurrects") {
    import java.nio.file.{Files => JFiles, Path => JPath}
    import java.util.Comparator
    val root = freshRoot()
    val st = bootstrapped(s"$root/s")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      ContinuousIngest.ingestBatch(rows.toDF("doc_id", "text"), i.toLong, st, P)
    }
    // manufacture compactTable's delete-sources-then-rename window on
    // docs AND digests: marked tmp holds the complete union of the
    // parts ≤ 1, the source dirs are gone
    def hide(path: String): Unit = {
      val parts = Seq("batch=-1", "batch=0", "batch=1")
        .map(b => s"$path/$b").filter(p => new java.io.File(p).exists())
      assert(parts.nonEmpty)
      spark.read.parquet(parts: _*).write
        .parquet(s"$path/.compact_tmp_batch=1")
      parts.foreach { p =>
        JFiles.walk(JPath.of(p)).sorted(Comparator.reverseOrder[JPath]())
          .forEach(f => JFiles.deleteIfExists(f))
      }
    }
    hide(st.docsPath)
    hide(st.digestsPath)
    // doc 101 lives in the hidden window; the takedown must land
    assert(ContinuousIngest.deleteDocs(spark, st,
      Seq(101L).toDF("doc_id")) === 1L,
      "capture against the crashed-compaction window matched nothing " +
        "— the takedown was silently consumed")
    val ids = ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(101L), s"hidden doc resurrected: $ids")
    assert(ids.contains(102L) && ids.contains(302L),
      s"recovery lost unrelated rows: $ids")
    assert(ContinuousIngest.readTable(spark, st.digestsPath)
      .where(col("doc_id") === 101L).count() === 0L,
      "digest row for the purged doc survived")
    assert(ContinuousIngest.deletesLog(spark, st)
      .select("doc_id").as[Long].collect().toSet === Set(101L))
    // and the drain face resolves the window too
    hide(st.keysPath)
    ContinuousIngest.enqueueDelete(spark, st, Seq(102L).toDF("doc_id"))
    assert(ContinuousIngest.processDeleteQueue(spark, st) === 1L)
    assert(ContinuousIngest.readTable(spark, st.keysPath)
      .where(col("id") === 102L).count() === 0L,
      "band keys hidden in a compaction swap survived the purge")
  }

  /** rollbackBatch = the poisoned-delivery runbook face. The driver
    * law (check_batch_rollback) pins scope/audit/stats/re-admission
    * on a corpus-scale root; this spec pins the CLASSIFICATION
    * mechanics the law can't cheaply: the dedup interplay (a batch's
    * partition holds only its FIRST-SEEN docs), the missing-dir and
    * consolidated-dir refusals, and the consolidation marker surviving
    * a crashed-swap recovery and a takedown's partition rewrite. */
  test("rollbackBatch purges exactly the named batch; refuses bootstrap, merged-away and consolidated partitions") {
    val root = freshRoot()
    val st = bootstrapped(s"$root/s")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      ContinuousIngest.ingestBatch(rows.toDF("doc_id", "text"), i.toLong, st, P)
    }
    // batch 1 delivered {201 (exact dup of 102), 202 (near dup of
    // 103), 203 (fresh)} — its partition holds only 203, so rollback
    // purges exactly that: the duplicated ORIGINALS are untouched
    assert(ContinuousIngest.rollbackBatch(spark, st, 1L) === 1L)
    val ids = ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id").as[Long].collect().toSet
    assert(ids === Set(101L, 102L, 103L, 302L, 303L),
      s"rollback scope wrong: $ids") // 301 was dropped as a near dup
                                     // of 203 and stays dropped —
                                     // rollback removes content, not
                                     // past admission decisions
    assert(ContinuousIngest.readTable(spark, st.digestsPath)
      .where(col("doc_id") === 203L).count() === 0L)
    // refusals: the bootstrap, and a batch id with no partition
    val bootErr = intercept[Throwable](
      ContinuousIngest.rollbackBatch(spark, st, -1L))
    assert(bootErr.getMessage.contains("bootstrap"), bootErr.getMessage)
    val missErr = intercept[Throwable](
      ContinuousIngest.rollbackBatch(spark, st, 7L))
    assert(missErr.getMessage.contains("never ingested") &&
      missErr.getMessage.contains("deleteDocs"), missErr.getMessage)
    // consolidate: batches -1..2 merge into one marked batch=2 dir
    ContinuousIngest.compactState(spark, st, upToBatch = 2L,
      targetRowsPerFile = 1000000L)
    val docsDir = new java.io.File(st.docsPath)
    assert(new java.io.File(docsDir, "batch=2/_GRAFT_CONSOLIDATED").exists(),
      "consolidation marker not stamped")
    // ...and the marker survives a crashed-swap recovery: hide the
    // consolidated dir as a marked compaction tmp (the dir carries
    // its _SUCCESS and marker with it) — rollback's own
    // recoverCompactionSwaps must install it and then refuse
    java.nio.file.Files.move(
      new java.io.File(docsDir, "batch=2").toPath,
      new java.io.File(docsDir, ".compact_tmp_batch=2").toPath)
    val consErr = intercept[Throwable](
      ContinuousIngest.rollbackBatch(spark, st, 2L))
    assert(consErr.getMessage.contains("CONSOLIDATED"), consErr.getMessage)
    assert(new java.io.File(docsDir, "batch=2").exists(),
      "crashed swap not recovered before classification")
    // a merged-away id now has no partition
    val mergedErr = intercept[Throwable](
      ContinuousIngest.rollbackBatch(spark, st, 0L))
    assert(mergedErr.getMessage.contains("consolidated"), mergedErr.getMessage)
    // ...and survives a takedown that rewrites the consolidated dir:
    // the purge swap carries it, so rollback still refuses
    assert(ContinuousIngest.deleteDocs(spark, st,
      Seq(101L).toDF("doc_id")) === 1L)
    assert(new java.io.File(docsDir, "batch=2/_GRAFT_CONSOLIDATED").exists(),
      "a takedown rewrite dropped the consolidation marker")
    val purgedErr = intercept[Throwable](
      ContinuousIngest.rollbackBatch(spark, st, 2L))
    assert(purgedErr.getMessage.contains("CONSOLIDATED"), purgedErr.getMessage)
  }

  test("rollbackBatch proceeds on a delivery whose stats took a folded takedown partial; rollbackWindow reports the window at metadata cost") {
    val root = freshRoot()
    val st = bootstrapped(s"$root/s")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      ContinuousIngest.ingestBatch(rows.toDF("doc_id", "text"), i.toLong, st, P)
    }
    // a stray non-numeric `batch=` dir (external tooling, manual
    // debris) must not break the read-only introspection face — the
    // tolerant parse drops it
    assert(new java.io.File(s"${st.docsPath}/batch=debris").mkdirs())
    // BEFORE any compaction: batches 0..2 stand, no horizon yet
    val w0 = ContinuousIngest.rollbackWindow(spark, st).collect().head
    assert(w0.getLong(0) === 0L && w0.getLong(1) === 2L &&
      w0.getLong(2) === 3L && w0.isNullAt(3), w0.toString)
    // (writer faces assume their own layout — clear the debris before
    // exercising them below)
    assert(new java.io.File(s"${st.docsPath}/batch=debris").delete())
    // manufacture a fold outcome: a strictly-negative takedown
    // partial folded into an ORIGINAL batch's stats partition
    // (foldStatsDeltas targets the max committed stats partition even
    // when the docs-side compaction is a single-partition no-op, so
    // the docs dir stays unmarked) — a genuine single delivery
    Seq((-1L, -40L, -8L)).toDF("n_docs", "n_chars", "n_ws_tokens")
      .coalesce(1).write.mode("append").parquet(s"${st.statsPath}/batch=2")
    // batch 2 delivered {301 (dropped near dup), 302, 303}: its
    // partition holds exactly the two survivors — rollback proceeds
    assert(ContinuousIngest.rollbackBatch(spark, st, 2L) === 2L)
    val ids = ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(302L) && !ids.contains(303L), ids.toString)
    // consolidate everything -> the window is closed, horizon visible
    ContinuousIngest.compactState(spark, st, upToBatch = 2L,
      targetRowsPerFile = 1000000L)
    val w1 = ContinuousIngest.rollbackWindow(spark, st).collect().head
    assert(w1.isNullAt(0) && w1.isNullAt(1) && w1.getLong(2) === 0L &&
      w1.getLong(3) === 2L, w1.toString)
    // a fresh delivery reopens it above the horizon
    ContinuousIngest.ingestBatch(
      Seq(401L -> text(20)).toDF("doc_id", "text"), 3L, st, P)
    val w2 = ContinuousIngest.rollbackWindow(spark, st).collect().head
    assert(w2.getLong(0) === 3L && w2.getLong(1) === 3L &&
      w2.getLong(2) === 1L && w2.getLong(3) === 2L, w2.toString)
  }

  test("scheduled in-stream snapshot audit: a clean tree streams on; manufactured rot fails the batch loudly, before ingest") {
    import graft.streaming.Snapshot
    val root = freshRoot()
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$root/in/chunk_$i")
      Thread.sleep(5)
    }
    val ex = s"$root/export"
    val pa = P.copy(export = Some(Snapshot.ExportPolicy(ex,
      everyNBatches = 1, full = true, auditEveryNBatches = 1)))
    val st = IngestState(s"$root/s")
    ContinuousIngest.bootstrap(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), st, pa)
    // clean path: exports at ids 1,2 each followed by a green audit —
    // the stream drains to completion
    ContinuousIngest.start(
      Bounded.fileStream(spark, s"$root/in/chunk_*",
        schemaDDL = "doc_id BIGINT, text STRING"),
      st, pa).awaitTermination()
    assert(Snapshot.versions(spark, ex).nonEmpty)
    // manufacture POST-INSTALL rot in a pool file v0 references (the
    // version the NEXT audit firing rotates to: firing k audits the
    // standing version ≡ k mod n, and the next delivery is batch id 3
    // against standing versions [0,1,2] — residue 0 picks v0).
    // batch=0's dirs are in v0's manifests. Same-length bit flip;
    // drop the local-FS crc sidecar so the read reaches our own hash
    // gate.
    val rotTarget = java.nio.file.Files.walk(
        java.nio.file.Path.of(s"$ex/pool"))
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        p.toString.contains("/batch=0/"))
      .findFirst().get().toFile
    val raf = new java.io.RandomAccessFile(rotTarget, "rw")
    try {
      raf.seek(rotTarget.length() / 2)
      val b = raf.read()
      raf.seek(rotTarget.length() / 2)
      raf.write(b ^ 0x01)
    } finally raf.close()
    new java.io.File(rotTarget.getParent,
      s".${rotTarget.getName}.crc").delete()
    // a new delivery arrives; the boundary slot's audit catches the
    // rot FROM THE STREAM LOOP and fails the batch by name, before
    // the batch ingests
    Seq(401L -> text(20)).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$root/in/chunk_3")
    val err = intercept[Throwable](
      ContinuousIngest.start(
        Bounded.fileStream(spark, s"$root/in/chunk_*",
          schemaDDL = "doc_id BIGINT, text STRING"),
        st, pa).awaitTermination())
    assert(msgs(err).exists(_.contains("snapshot audit FAILED")),
      msgs(err).mkString(";"))
    assert(ContinuousIngest.readTable(spark, st.docsPath)
      .where(col("doc_id") === 401L).count() === 0L,
      "the poisoned-tier batch must not have ingested")
  }

  test("scheduled audit ROTATES: rot in a pool dir only an OLDER version references (invisible to a newest-only audit forever) is caught within keepVersions firings") {
    import graft.streaming.Snapshot
    val root = freshRoot()
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$root/in/chunk_$i")
      Thread.sleep(5)
    }
    val ex = s"$root/export"
    // compaction at id 2 consolidates batches <= 1 BEFORE that
    // batch's export, so v0 (shipped at id 1, horizon 0) references
    // ORIGINAL batch-dir stamps v1 no longer does — the real-world
    // shape of "older kept versions and the pool dirs only they
    // reference", which the always-newest audit left unauditable for
    // their whole keepVersions lifetime
    val pa = P.copy(compactEveryNBatches = 2,
      export = Some(Snapshot.ExportPolicy(ex, everyNBatches = 1,
        keepVersions = 10, full = true, auditEveryNBatches = 1)))
    val st = IngestState(s"$root/s")
    ContinuousIngest.bootstrap(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), st, pa)
    ContinuousIngest.start(
      Bounded.fileStream(spark, s"$root/in/chunk_*",
        schemaDDL = "doc_id BIGINT, text STRING"),
      st, pa).awaitTermination()
    assert(Snapshot.versions(spark, ex) === Seq(0L, 1L))
    // a pool dir v0's manifests reference and v1's do not
    def rels(v: Long): Set[String] =
      Seq("docs", "digests", "keys", "stats").flatMap { t =>
        val f = java.nio.file.Path.of(s"$ex/v=$v/$t/_GRAFT_DIRS")
        if (!java.nio.file.Files.exists(f)) Set.empty[String]
        else java.nio.file.Files.readString(f).split("\n").toSeq
          .map(_.trim).filter(_.nonEmpty).map(_.split("\t")(1)).toSet
      }.toSet
    val v0only = rels(0L) -- rels(1L)
    assert(v0only.nonEmpty, "compaction left no v0-exclusive pool dir")
    val rotTarget = v0only.toSeq.sorted.iterator
      .flatMap(r => Option(new java.io.File(s"$ex/$r").listFiles())
        .getOrElse(Array.empty).toSeq)
      .find(_.getName.endsWith(".parquet")).get
    val raf = new java.io.RandomAccessFile(rotTarget, "rw")
    try {
      raf.seek(rotTarget.length() / 2)
      val b = raf.read()
      raf.seek(rotTarget.length() / 2)
      raf.write(b ^ 0x01)
    } finally raf.close()
    new java.io.File(rotTarget.getParent,
      s".${rotTarget.getName}.crc").delete()
    // the rot is INVISIBLE to the newest version — the pre-rotation
    // audit would have reported this tree clean forever
    assert(Snapshot.verifyVersion(spark, ex, 1L).count() === 0L)
    assert(Snapshot.verifyVersion(spark, ex, 0L).count() > 0L)
    // next delivery: batch id 3 exports v2, and firing 3 against
    // standing versions [0,1,2] picks the version ≡ 3 (mod 3) — v0 —
    // so v0's rot fails the batch by name, within one firing here
    // (within keepVersions firings in general: residue rotation
    // audits every standing version once per lifetime)
    Seq(401L -> text(20)).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$root/in/chunk_3")
    val err = intercept[Throwable](
      ContinuousIngest.start(
        Bounded.fileStream(spark, s"$root/in/chunk_*",
          schemaDDL = "doc_id BIGINT, text STRING"),
        st, pa).awaitTermination())
    assert(msgs(err).exists(m => m.contains("snapshot audit FAILED") &&
      m.contains("v=0")), msgs(err).mkString(";"))
  }

  test("IngestState refuses a state root on a non-atomic-rename object store, by scheme") {
    val err = intercept[RuntimeException] { IngestState("s3a://bucket/state") }
    assert(err.getMessage.contains("rename") &&
      err.getMessage.contains("s3a"),
      s"refusal must name the scheme and the rename contract: ${err.getMessage}")
    // rename-atomic roots construct fine
    IngestState("hdfs://nn:8020/graft/state")
    IngestState("file:/tmp/graft/state")
    IngestState("/tmp/graft/state")
  }

  test("drain sweeps stale crashed-enqueue temps, spares live ones; bulk takedown artifacts are multi-file") {
    val root = freshRoot()
    val st = bootstrapped(s"$root/s")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      ContinuousIngest.ingestBatch(rows.toDF("doc_id", "text"), i.toLong, st, P)
    }
    val qDir = s"${st.root}/.delete_queue"
    // a STALE leaked temp (crashed enqueueDelete, older than the
    // grace window) and a FRESH one (a live concurrent enqueue)
    Seq((666L, "op-stale", new java.sql.Timestamp(0L)))
      .toDF("doc_id", "op_id", "requested_at").coalesce(1)
      .write.parquet(s"$qDir/.enqueue_tmp_stale")
    // staleness is judged on the SUBTREE's newest mtime (a live bulk
    // write keeps touching nested files while the top dir's mtime
    // stays pinned) — age every entry
    java.nio.file.Files.walk(java.nio.file.Path.of(s"$qDir/.enqueue_tmp_stale"))
      .forEach(f => assert(f.toFile.setLastModified(
        System.currentTimeMillis() - 61L * 60L * 1000L)))
    Seq((667L, "op-live", new java.sql.Timestamp(0L)))
      .toDF("doc_id", "op_id", "requested_at").coalesce(1)
      .write.parquet(s"$qDir/.enqueue_tmp_live")
    val saved = ContinuousIngest.takedownRowsPerFile
    try {
      // 1-row files force the bulk shape on a small fixture: the
      // capture/pending/audit writes must produce one file PER ROW,
      // never the old coalesce(1) single task + single file
      ContinuousIngest.takedownRowsPerFile = 1L
      val opId = ContinuousIngest.enqueueDelete(spark, st,
        Seq(101L, 102L).toDF("doc_id"))
      assert(ContinuousIngest.processDeleteQueue(spark, st) === 2L)
      val logFiles = new java.io.File(s"${st.root}/deletes_log/op=$opId")
        .listFiles().count(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      assert(logFiles === 2,
        s"2 tombstone rows at 1 row/file wrote $logFiles audit file(s)")
    } finally ContinuousIngest.takedownRowsPerFile = saved
    // purge landed, the stale temp was swept, the live one survived
    assert(ContinuousIngest.readTable(spark, st.docsPath)
      .select("doc_id").as[Long].collect().toSet ===
      Set(103L, 203L, 302L, 303L))
    assert(!new java.io.File(s"$qDir/.enqueue_tmp_stale").exists(),
      "stale crashed-enqueue temp must be swept")
    assert(new java.io.File(s"$qDir/.enqueue_tmp_live").exists(),
      "a fresh (possibly live) enqueue temp must be spared")
    assert(ContinuousIngest.deletesLog(spark, st)
      .select("doc_id").as[Long].collect().toSet === Set(101L, 102L))
  }

  test("state root on a non-file:// Hadoop filesystem: the full dedup lifecycle works, bloom crash windows recover") {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockfs.impl", classOf[MockFs].getName)
    val root = s"mockfs:${freshRoot()}/m"
    val st = IngestState(root)
    val fs = new HPath(root).getFileSystem(conf)
    ContinuousIngest.bootstrap(Seq.empty[(Long, String)].toDF("doc_id", "text"), st, P)
    // the bloom landed THROUGH the FS API, not the driver's local nio
    // (a java.nio path "mockfs:/..." does not exist as a local file)
    assert(fs.exists(new HPath(st.bloomPath)),
      "bloom missing from the mockfs root — it bypassed the Hadoop FS")
    def ingest(i: Int): Set[Long] =
      ContinuousIngest.ingestBatch(chunks(i).toDF("doc_id", "text"),
        i.toLong, st, P).select("doc_id").as[Long].collect().toSet
    // full drop-path coverage, all state on mockfs: within-batch dup,
    // cross-batch exact dup (bloom-probed), cross-batch near dup
    assert(ingest(0) === Set(101L, 102L, 103L))
    assert(ingest(1) === Set(203L))
    // crash window A — torn temp beside an intact target: the target
    // stays authoritative, the next merge overwrites the temp
    val tmp = new HPath(new HPath(st.bloomPath).getParent, ".state.bloom.tmp")
    val out = fs.create(tmp, true)
    try out.write("torn garbage".getBytes("UTF-8")) finally out.close()
    val viaTarget = ContinuousIngest.readBloomBytes(spark, st)
    assert(ingest(2) === Set(302L, 303L))
    // crash window B — mid-install (target deleted, COMPLETE framed
    // temp): readBloomBytes finishes the rename and returns the bytes
    assert(fs.rename(new HPath(st.bloomPath), tmp),
      "test setup: move target to temp")
    val recovered = ContinuousIngest.readBloomBytes(spark, st)
    assert(fs.exists(new HPath(st.bloomPath)) && !fs.exists(tmp),
      "mid-install recovery must reinstall the target")
    // the recovered bytes carry everything the pre-crash bloom did
    // (bloom merges are monotone; window A's read preceded batch 2's
    // merge, so compare against a superset check, not equality)
    assert(recovered.length === viaTarget.length)
    // crash window C — torn temp and NO target (a crash inside the
    // very first bloom write): loud refusal, not a silent empty bloom
    fs.delete(new HPath(st.bloomPath), false)
    val out2 = fs.create(tmp, true)
    try out2.write("also torn".getBytes("UTF-8")) finally out2.close()
    val err = intercept[RuntimeException] {
      ContinuousIngest.readBloomBytes(spark, st)
    }
    assert(err.getMessage.contains("torn"),
      s"window C must name the torn temp, got: ${err.getMessage}")
  }

  test("inParallel: permit admission passes a straggler, nested groups stay globally bounded and deadlock-free, errors settle-all") {
    val n = ContinuousIngest.MaxConcurrentStateWrites
    // straggler: 1 slow thunk + 3n fast ones submitted AFTER it. The
    // old wave chunking barriered every later wave behind the slow
    // member, so most fast thunks finished after it; permit admission
    // must complete EVERY fast thunk while the straggler still runs.
    val finished = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val slowMs = 1500L
    val straggler: Seq[() => Unit] =
      ((() => { Thread.sleep(slowMs); finished.add(("slow", System.nanoTime())); () }): () => Unit) +:
        Seq.fill(3 * n)(() => {
          Thread.sleep(5L); finished.add(("fast", System.nanoTime())); ()
        }: Unit)
    ContinuousIngest.inParallel(straggler)
    val byKind = finished.toArray(Array.empty[(String, Long)]).groupBy(_._1)
    assert(byKind("fast").length === 3 * n)
    val slowAt = byKind("slow").head._2
    val lateFast = byKind("fast").count(_._2 > slowAt)
    assert(lateFast === 0,
      s"$lateFast of ${3 * n} fast thunks finished after the straggler " +
        "— wave-barrier behavior, permits should admit past it")
    // nested groups: 2n outer thunks each running an inner group of
    // 2n leaves (4n² leaves total, permits = n). Must terminate (a
    // permit held across a nested await would deadlock once all
    // permits sit in awaiting outers) and the GLOBAL concurrent-leaf
    // high-water mark must respect the single shared semaphore — the
    // per-group chunking this replaces let the product of nested
    // bounds grow multiplicatively.
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val highWater = new java.util.concurrent.atomic.AtomicInteger(0)
    val leaves = new java.util.concurrent.atomic.AtomicInteger(0)
    ContinuousIngest.inParallel(Seq.fill(2 * n)(() => {
      ContinuousIngest.inParallel(Seq.fill(2 * n)(() => {
        val r = running.incrementAndGet()
        highWater.accumulateAndGet(r, math.max(_, _))
        Thread.sleep(2L)
        leaves.incrementAndGet()
        running.decrementAndGet()
        ()
      }: Unit))
    }: Unit))
    assert(leaves.get() === 4 * n * n)
    assert(highWater.get() <= n,
      s"concurrent leaf high-water ${highWater.get()} exceeds the " +
        s"global permit bound $n — the semaphore is not shared across nesting")
    // settle-all error contract unchanged: the first failure is
    // rethrown only after every thunk ran
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val err = intercept[RuntimeException] {
      ContinuousIngest.inParallel(
        ((() => { ran.incrementAndGet(); sys.error("boom") }): () => Unit) +:
          Seq.fill(2 * n)(() => { ran.incrementAndGet(); () }: Unit))
    }
    assert(err.getMessage === "boom")
    assert(ran.get() === 2 * n + 1, "a failure must not stop later thunks")
    // every job a group launches carries its OWN caller's Spark local
    // properties (job group, description, scheduler pool, tracer
    // span): two groups run in turn under different values of one
    // property. A reused pool thread keeps the value it inherited when
    // it was created, so the second group's jobs would carry the first
    // caller's (and cancelJobGroup on the caller's group would miss
    // them).
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("graft.test.thunk"))
            .map(t => (t, p.getProperty("graft.test.caller"))))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      Seq("A", "B").foreach { caller =>
        sc.setLocalProperty("graft.test.caller", caller)
        ContinuousIngest.inParallel((1 to 2 * n).map(i => () => {
          sc.setLocalProperty("graft.test.thunk", s"$caller$i")
          sc.parallelize(1 to 2, 1).count()
          ()
        }))
      }
      val deadline = System.nanoTime() + 30000000000L
      while (seen.size < 4 * n && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty("graft.test.caller", null)
    }
    val jobs = seen.toArray(Array.empty[(String, String)]).toSeq
    assert(jobs.size === 4 * n, s"one job per thunk expected: $jobs")
    val foreign = jobs.filterNot { case (thunk, caller) => thunk.take(1) == caller }
    assert(foreign.isEmpty,
      s"jobs carried another caller's local properties: $foreign")
  }

  test("quantizer training reads ONE sample collect per ann bootstrap and per one-shot annIvfPq; the persisted quantizers equal the public trainers'; pqTrain's books == the driver-normalized books") {
    import graft.ops.{Fft, Similarity}
    import graft.streaming.ContinuousIngest.AnnParams
    import scala.jdk.CollectionConverters._
    // each SQL action's call site: a driver sample collect reads
    // "collect at Similarity.scala:<line>"
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            jobs.add(x.description)
          case _ =>
        }
    }
    def jobsOf(body: => Unit): Seq[String] = {
      jobs.clear()
      body
      // one marker action: the bus delivers events in order, so once
      // the marker is seen every action of `body` has been counted
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.asScala.exists(_.contains("ContinuousIngestSpec.scala")) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      jobs.asScala.toSeq
    }
    def sampleCollects(js: Seq[String]) = js.count(_.contains("collect at Similarity.scala"))
    val ann = AnnParams(nlist = 4, m = 4, ksub = 4, nAssign = 2, semClusters = Some(6))
    def emb(i: Long): Seq[Float] =
      (0 until 16).map(j => ((((31 * i + 7 * j) % 21) - 10) / 10.0).toFloat)
    val boot = (1L to 40L).map(i => (1000L + i, text(1000L + i), emb(1000L + i)))
      .toDF("doc_id", "text", "embedding")
    val st = IngestState(s"${freshRoot()}/ann")
    sc.addSparkListener(listener)
    val (bootJobs, oneShotJobs) =
      try (jobsOf(ContinuousIngest.bootstrap(boot, st, P.copy(ann = Some(ann)))),
        jobsOf(Similarity.annIvfPq(boot, 1, nlist = 4, nprobe = 2, m = 4, ksub = 4,
          idCol = "doc_id")))
      finally sc.removeSparkListener(listener)
    assert(sampleCollects(bootJobs) === 1,
      s"ann bootstrap must train every quantizer from one sample: ${bootJobs.mkString("\n")}")
    assert(sampleCollects(oneShotJobs) === 1 &&
      !oneShotJobs.exists(_.contains("head at Similarity.scala")),
      s"one-shot annIvfPq: one sample collect, no selectivity job: ${oneShotJobs.mkString("\n")}")
    // the shared sample trains exactly what each public trainer trains
    def same(a: Array[Array[Double]], b: Array[Array[Double]]) =
      a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq
    val q = ContinuousIngest.loadQuantizers(spark, st, ann)
    assert(same(q.cents, Similarity.ivfCentroids(boot, 4, idCol = "doc_id")))
    assert(same(q.semCents, Similarity.ivfCentroids(boot, 6, idCol = "doc_id")))
    assert(q.books.map(_.map(_.toSeq).toSeq).toSeq ===
      Similarity.pqTrain(boot, 4, 4, idCol = "doc_id").map(_.map(_.toSeq).toSeq).toSeq)
    // pqTrain reads the SQL-normalized shared sample; its books equal,
    // bit for bit, those of a driver-side normalization (sequential
    // sum of squares, one sqrt, per-element divide) of the same
    // id-ordered prefix, on a seeded corpus in shuffled id order
    val rnd = new scala.util.Random(11)
    val embs = rnd.shuffle((1L to 3000L).toList)
      .map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val sample = embs.orderBy("vec_id").limit(Similarity.trainSampleFor(16))
      .collect().map { r =>
        val d = r.getSeq[Float](1).map(_.toDouble).toArray
        var s = 0.0
        d.foreach(x => s += x * x)
        val n = math.sqrt(s)
        d.map(_ / n)
      }
    val driverBooks = (0 until 4).map(j =>
      Fft.seqFFTVec(sample.map(_.slice(j * 4, (j + 1) * 4)), 16).map(_.toSeq).toSeq)
    assert(Similarity.pqTrain(embs, m = 4, ksub = 16).map(_.map(_.toSeq).toSeq).toSeq ===
      driverBooks, "pqTrain's books moved off the driver-normalized books")
  }
}
