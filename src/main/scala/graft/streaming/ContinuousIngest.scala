package graft.streaming

import graft.ops.{Dedup, Similarity}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The maintained-state incremental-dedup lifecycle (digest table +
  * band-key table + mergeable bloom — the README's nightly-ingest
  * recipe) as ONE product operator, runnable both as a batch loop and
  * as a Structured Streaming sink (`foreachBatch`): the nightly job
  * and the continuous feed are the SAME code, differing only in who
  * calls [[ingestBatch]].
  *
  * Exactly-once state under replay — foreachBatch delivers a batch
  * AT LEAST once (a crash between the sink call and the checkpoint
  * commit re-delivers the same batchId), so every state mutation here
  * is idempotent BY CONSTRUCTION rather than by coordination:
  *
  *  - Each table append lands in a per-batch partition directory
  *    (`<table>/batch=<id>/`) written with `mode("overwrite")` — a
  *    replay overwrites the same directory with the same rows instead
  *    of appending twice. Readers see the union of partitions through
  *    ordinary partition discovery.
  *  - The bloom update is a bitwise-OR merge ([[Dedup.mergeBloomBytes]])
  *    — OR is idempotent, so merging a replayed batch's filter is a
  *    no-op.
  *  - While PROCESSING batch `id`, every state read excludes the
  *    `batch=id` partitions (one pruned partition filter — metadata
  *    cost, no scan). A replay after a partial crash therefore sees
  *    exactly the pre-batch state regardless of which of the three
  *    table writes survived: the batch's own half-written output can
  *    never feed back into its own dedup decision (without the
  *    exclusion, a crash after the digest write would make every doc
  *    of the replayed batch look like a dup of itself and admit
  *    nothing). The already-merged bloom may pre-claim the batch's
  *    digests as maybe-hits — those go to the verify anti-join, which
  *    reads the self-excluded digest table and admits them correctly;
  *    a bloom false positive costs a join row, never an answer.
  *
  * 100 TB shape: state tables are append-only parquet partitioned by
  * ingest batch — reads are partition-discovered unions, writes touch
  * one new directory; compact old partitions periodically with
  * `sources.Warehouse.compact` (batch id is a lineage tag, not
  * semantics — dedup reads the union). The bloom stays a single
  * broadcastable blob sized for the growth horizon (`expectedDigests`
  * — see the sizing math on [[Dedup.incrementalNewBloom]]); the
  * per-batch filter build aggregates only the batch's survivors.
  *
  * Coverage: the `ingest_dedup_replay` product query replays the real
  * documents table in 4 batches INCLUDING a re-delivered final batch
  * under the driver's full DuckDB hash gate (replay idempotence on
  * real data); NightlyIngestSpec pins the three-batch composition
  * against the stateless recompute twin on a fixture that exercises
  * every drop path, and ContinuousIngestSpec runs the REAL streaming
  * face (file-chunk micro-batches through [[start]]) including a
  * mid-crash replay.
  *
  * With [[IngestParams.ann]] set, each batch's SURVIVORS also append
  * to the maintained embedding-index tables (IVF inverted lists +
  * their packed query segments, PQ codes, semantic spill
  * assignments) — every batch must
  * then carry the embedding column (enforced loudly) — under quantizers
  * trained once at [[bootstrap]] and persisted beside them — same
  * per-batch partition-overwrite idempotency (the
  * assignments/encodings are deterministic given fixed quantizers, so
  * a replay overwrites identical rows). Each index byte is stored
  * ONCE: the assignment table is slim `(nn_id, list)` — floats live
  * solely in the packed segments — and the code table drops the
  * widened `codes_arr`. Query the maintained tables with the
  * `annIvfMaintained` / `annIvfPqMaintained` faces (or `readTable` +
  * `semanticPairsFromIndex` for semantic pairs); ContinuousIngestSpec
  * pins each table against the from-scratch rebuild over the final
  * corpus, through the replayed batch.
  */
object ContinuousIngest {

  /** Schemes whose rename is a COPY + DELETE, not an atomic move:
    * every crash-safe install in this lifecycle (the marked-tmp
    * partition swaps, the atomic enqueue publish, the fold-manifest
    * and bloom installs) relies on rename atomicity for its
    * "published means complete" invariant, and on these stores a
    * reader can observe a half-renamed artifact. HDFS, POSIX local
    * filesystems, and ADLS Gen2 (`abfs`) rename atomically and are
    * fine. */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "swift", "oss", "cos", "cosn",
      "wasb", "wasbs")

  /** Refuse a root on a scheme whose rename is copy+delete — the ONE
    * shared guard for every tree this lifecycle installs by rename:
    * the primary state root ([[IngestState]]) and the snapshot tier's
    * export/replica/restore roots ([[Snapshot]]), whose pool installs,
    * version installs, and exclusive-create export lock all assume
    * rename atomicity (and atomic `create(overwrite=false)`, which
    * these stores also lack). Checked on the PATH STRING, before any
    * FileSystem is even loaded — the refusal must not depend on an
    * object-store connector being on the classpath. */
  private[streaming] def refuseNonAtomicRename(root: String,
                                               what: String): Unit =
    Option(new HPath(root).toUri.getScheme)
      .map(_.toLowerCase(java.util.Locale.ROOT))
      .filter(NonAtomicRenameSchemes.contains)
      .foreach { s =>
        sys.error(s"$what '$root' is on '$s:', an object " +
          "store whose rename is copy+delete, not atomic: every " +
          "crash-safe install in this lifecycle (marked-tmp partition " +
          "swaps, takedown-queue publishes, the bloom and fold-manifest " +
          "installs, the snapshot tier's pool/version installs and its " +
          "exclusive-create lock) relies on 'published means complete', " +
          "which a non-atomic rename breaks — a concurrent reader can " +
          "observe a half-renamed artifact. Put the root on a " +
          "rename-atomic filesystem (HDFS, a POSIX mount, ADLS " +
          "Gen2/abfs) or front the store with one.")
      }

  /** On-disk state layout rooted at `root` (any Hadoop-visible path
    * whose rename is atomic — constructing a state on a raw object
    * store is refused loudly, see [[NonAtomicRenameSchemes]]). */
  final case class IngestState(root: String) {
    refuseNonAtomicRename(root, "IngestState root")
    val docsPath: String = s"$root/docs"
    val digestsPath: String = s"$root/digests"
    val keysPath: String = s"$root/keys"
    val statsPath: String = s"$root/stats"
    // op-keyed NEGATIVE stats partials written by completed deletes
    // (one 1-row partial per takedown op) — [[readStats]] sums them
    // beside the per-batch positives, so takedown accounting never
    // re-scans corpus text (see [[applyPendingDelete]])
    val statsDeltasPath: String = s"$root/stats_deltas"
    // a STRING path like every other table — the bloom must ride the
    // Hadoop FileSystem API (see [[readBloomBytes]]/[[writeBloomAtomic]]):
    // it is state, and a state root on hdfs:// or an object store is
    // the only place a 100 TB corpus's state can live
    val bloomPath: String = s"$root/state.bloom"
    val checkpointPath: String = s"$root/_checkpoint"
    // embedding-index tables (maintained when IngestParams.ann is
    // set; every batch must then carry the embedding column — a
    // batch without it fails loudly in appendIndexes, because
    // skipping it would silently desync index tables from the corpus)
    val centroidsPath: String = s"$root/centroids"
    val semCentroidsPath: String = s"$root/sem_centroids"
    val semTreePath: String = s"$root/sem_tree"
    val booksPath: String = s"$root/books"
    // SLIM (nn_id, list) — the floats live once, in the packed table
    // (appendIndexes' slim-assignment discipline)
    val ivfPath: String = s"$root/ivf"
    // the ivf assignment in Similarity.ivfPack's segment layout,
    // packed per batch at append time — the table annIvfMaintained
    // scans (pack-once discipline) AND the sole float store of the
    // index (ivfUnpack restores the full assignment rows exactly)
    val ivfPackedPath: String = s"$root/ivf_packed"
    // slim too: (vec_id, codes, rerr) — no codes_arr
    val pqPath: String = s"$root/pq"
    // the IVFADC index in Similarity.pqPack's segment layout, packed
    // per batch at append time — the table annIvfPqMaintained scans,
    // so serving never re-joins or re-packs the corpus code table
    // (the ivf_packed pack-once discipline, applied to the ADC face)
    val pqPackedPath: String = s"$root/pq_packed"
    val semPath: String = s"$root/sem"
    // per-cell occupancy snapshot of the index tables as of the last
    // (re)train — the compaction-proof reference era for [[indexDrift]]
    val driftBasePath: String = s"$root/drift_base"
  }

  /** Embedding-index policy: quantizer sizes for the maintained
    * ANN/semantic tables. The quantizers (IVF centroids + PQ books,
    * and optionally a separate semantic quantizer) train ONCE at
    * [[bootstrap]] on the starting corpus and are then fixed — the
    * train-once/add-many lifecycle every index face in
    * [[graft.ops.Similarity]] assumes (retraining moves every cell
    * boundary and is by definition a rebuild).
    *
    * `semClusters` sizes the semantic spill-assignment quantizer
    * INDEPENDENTLY of the IVF one — the two disciplines oppose:
    * IVF balances assignment against probe cost at nlist ≈ √(nprobe·N)
    * ([[graft.ops.Similarity.nlistFor]]), while semantic dedup holds
    * per-cell occupancy flat at nClusters ∝ N (the `dedup_semantic`
    * sizing), and one shared knob cannot satisfy both at scale.
    * `None` shares the IVF quantizer (fine for small deployments).
    * `sampleSize = 0` (the default) auto-scales each quantizer's
    * training sample with its own cell count
    * ([[graft.ops.Similarity.trainSampleFor]]).
    *
    * `semMinCosine` is the dedup threshold the MAINTAINED semantic
    * index is sized for — a routed deployment derives its borderline-
    * recall machinery from it exactly the way the one-shot product
    * face does ([[graft.ops.Similarity.semanticNearDupPairs]]'s
    * auto-routed path): the tree builds with child spill
    * [[graft.ops.Similarity.spillFor]]`(semMinCosine)` and every
    * batch routes through the adaptive-margin face
    * ([[graft.ops.Similarity.semanticAssignRoutedAdaptive]] at
    * [[graft.ops.Similarity.routeMarginFor]]`(semMinCosine)`, floor
    * `semNRoute`). The default 0.9 is the SemDeDup regime; declare
    * the deployment's actual threshold instead of tuning spill knobs
    * by hand. `semSpill` ≥ 0 OVERRIDES the derived spill (0.0 forces
    * an unspilled tree — the pre-threshold behavior); the default −1
    * means "derive from `semMinCosine`". Quantizer identity includes
    * the spill (the tree persists replicas) and the assignment is
    * deterministic given (tree, threshold), so append == rebuild and
    * replay idempotence are unchanged — FOR STATE WRITTEN UNDER ONE
    * parameter set: every identity-relevant field is fingerprinted
    * beside the quantizers at (re)train time and [[loadQuantizers]]
    * refuses a mismatched caller (changing them against existing
    * state is a [[rebuildIndexes]], exactly like changing `nlist`). */
  final case class AnnParams(nlist: Int, m: Int = 8, ksub: Int = 16,
                             nAssign: Int = 3, sampleSize: Int = 0,
                             vecCol: String = "embedding",
                             semClusters: Option[Int] = None,
                             semNRoute: Int = 2,
                             semSpill: Double = -1.0,
                             semMinCosine: Double = 0.9)

  /** The spill the maintained routed tree actually builds with — the
    * threshold-derived sizing unless explicitly overridden. */
  private def effSpill(a: AnnParams): Double =
    if (a.semSpill >= 0.0) a.semSpill else Similarity.spillFor(a.semMinCosine)

  private val AnnConfigFile = "_GRAFT_ANN_CONFIG"

  /** The fields of [[AnnParams]] that define ASSIGNMENT IDENTITY —
    * the quantizer sizes and the per-batch assignment convention.
    * Two parameter sets with equal fingerprints write identical index
    * rows for the same batch under the same quantizers; anything
    * else mixed into one state root would break replay idempotence
    * and append == rebuild silently (e.g. a fixed-fan-out history
    * continued with adaptive routing). Note `semSpill = -1` and an
    * explicit `semSpill = spillFor(t)` fingerprint IDENTICALLY —
    * identity is by effect, not by spelling. */
  private def annConfigFingerprint(a: AnnParams): String =
    Seq(s"nlist=${a.nlist}", s"m=${a.m}", s"ksub=${a.ksub}",
      s"nAssign=${a.nAssign}", s"sampleSize=${a.sampleSize}",
      s"vecCol=${a.vecCol}", s"semClusters=${a.semClusters.getOrElse(-1)}",
      s"semNRoute=${a.semNRoute}", s"spill=${effSpill(a)}",
      s"semMinCosine=${a.semMinCosine}").mkString(",")

  private def writeAnnConfig(spark: SparkSession, st: IngestState,
                             a: AnnParams): Unit = {
    Snapshot.writeText(fsFor(spark, st.centroidsPath),
      new HPath(st.centroidsPath, AnnConfigFile), annConfigFingerprint(a))
  }

  /** Loud config-drift guard: the persisted fingerprint must equal the
    * caller's. A mismatch means the caller would append rows under a
    * DIFFERENT assignment convention or quantizer sizing than the
    * stored tables were built with — the remedy is [[rebuildIndexes]]
    * under the new params, which retrains, rewrites every index table,
    * and re-stamps. */
  private def checkAnnConfig(spark: SparkSession, st: IngestState,
                             a: AnnParams): Unit = {
    val stored = new String(readFileBytes(fsFor(spark, st.centroidsPath),
      new HPath(st.centroidsPath, AnnConfigFile)), "UTF-8")
    val mine = annConfigFingerprint(a)
    if (stored != mine)
      sys.error("AnnParams drift against the persisted index state:\n" +
        s"  stored: $stored\n  caller: $mine\n" +
        "appending under these params would mix assignment conventions " +
        "in the maintained tables (breaking replay idempotence and " +
        "append == rebuild) — run rebuildIndexes under the new params " +
        "to retrain and rewrite the index set")
  }

  /** THE routed-assignment definition of the maintained lifecycle —
    * one public face shared by [[appendIndexes]] (every batch, the
    * bootstrap, and rebuilds) and the append == rebuild specs, so the
    * two can never drift: adaptive-margin probing sized from the
    * declared `semMinCosine` (floor `semNRoute`, cap max(4,
    * 2·semNRoute) — the same shape as the one-shot product face).
    * Deterministic given (tree, AnnParams), which is what makes the
    * per-batch partition overwrite idempotent under replay. */
  def routedSemAssign(batch: DataFrame, tree: Similarity.CentroidTree,
                      a: AnnParams, idCol: String = "doc_id"): DataFrame =
    Similarity.semanticAssignRoutedAdaptive(batch, tree, a.nAssign,
      routeMargin = Similarity.routeMarginFor(a.semMinCosine),
      minRoute = math.min(a.semNRoute, tree.coarse.length),
      maxRoute = math.min(math.max(4, 2 * a.semNRoute), tree.coarse.length),
      idCol = idCol, vecCol = a.vecCol)

  /** A `semClusters` above [[graft.ops.Similarity.RoutedClustersThreshold]]
    * maintains the semantic table under the two-level
    * [[graft.ops.Similarity.CentroidTree]] (persisted at
    * `semTreePath`, routed assignment with `semNRoute` coarse probes)
    * instead of a flat centroid array — flat per-batch assignment is
    * |batch|·k dots, quadratic at the occupancy-flat k ∝ N sizing,
    * and the BOOTSTRAP pays corpus·k. Same append == rebuild contract
    * (routed assignment is deterministic given the persisted tree). */
  private def semRouted(a: AnnParams): Boolean =
    a.semClusters.exists(_ > Similarity.RoutedClustersThreshold)

  /** The fixed quantizers, loaded from the persisted state — pass one
    * [[loadQuantizers]] result through a batch loop (as [[start]]
    * does) so a continuous feed doesn't re-read and re-collect the
    * immutable centroid/book tables on every micro-batch. */
  /** `semTree` is Some exactly when the deployment routes its
    * semantic quantizer (see [[semRouted]]); `semCents` is then
    * unused (empty). */
  final case class AnnQuantizers(cents: Array[Array[Double]],
                                 semCents: Array[Array[Double]],
                                 books: Array[Array[Array[Double]]],
                                 semTree: Option[Similarity.CentroidTree] = None)

  def loadQuantizers(spark: SparkSession, st: IngestState,
                     a: AnnParams): AnnQuantizers = {
    // refuse params that disagree with the persisted assignment
    // identity — a mismatched caller would append rows under a
    // different convention than the stored batches
    checkAnnConfig(spark, st, a)
    val cents = Similarity.centroidsFromDF(spark.read.parquet(st.centroidsPath))
    val tree =
      if (semRouted(a))
        Some(Similarity.treeFromDF(spark.read.parquet(st.semTreePath)))
      else None
    val sem =
      if (tree.isDefined) Array.empty[Array[Double]]
      else if (a.semClusters.isDefined)
        Similarity.centroidsFromDF(spark.read.parquet(st.semCentroidsPath))
      else cents
    AnnQuantizers(cents, sem,
      Similarity.booksFromDF(spark.read.parquet(st.booksPath)), tree)
  }

  /** Dedup policy, fixed per deployment. `expectedDigests` sizes every
    * bloom (growth horizon — identical sizing is the merge contract);
    * near-dup uses the maintained band-key table with these LSH
    * parameters. `nearDup = false` runs exact-only ingest. `ann`
    * additionally maintains the IVF inverted lists, PQ code table,
    * and semantic spill-assignment table per batch.
    *
    * `storeEmbeddingsInDocs = false` is the FLOAT-ONCE storage layout
    * (requires `ann`): the docs table drops the embedding column —
    * the corpus floats live solely in the packed index segments,
    * which the slim-index discipline already maintains exactly
    * ([[graft.ops.Similarity.ivfUnpack]] restores every vector). At
    * corpus scale the embedding column is the docs table's dominant
    * bytes, so this removes the 2× float duplication the round-14
    * notes called out. Consequences, all handled in-engine: serving
    * reranks ALWAYS gather from the packed segments (the docs float
    * column doesn't exist — [[annIvfPqMaintained]] switches
    * automatically), [[rebuildIndexes]] reconstructs the training
    * corpus via [[reconstructEmbeddings]] (exact up to the
    * float-width cast — see that face's scaladoc), and ingest stages
    * each batch's survivors (with floats) through a hidden dir so
    * the index append never recomputes the dedup pipeline. The
    * layout is stamped per root (`_GRAFT_DOCS_SLIM` in the docs dir)
    * and a mismatched caller is refused loudly — mixing slim and fat
    * batches in one docs table would break every reader. */
  /** `compactEveryNBatches` > 0 schedules [[compactState]] inside the
    * streaming face ([[start]]): every N micro-batches the boundary
    * slot — the same single-writer foreachBatch context the takedown
    * drain uses — compacts up to the last COMMITTED batch (the
    * in-hand batch is the stream's to replay, so the horizon is
    * `id - 1`). Without it a forever-running deployment accretes
    * per-batch partitions and per-op takedown metadata until an
    * operator remembers to stop the stream and compact by hand. 0
    * (the default) keeps compaction a between-streams call. */
  /** `export` ships serving snapshots from the same boundary slot
    * ([[Snapshot.ExportPolicy]]): every `everyNBatches` micro-batches
    * the stream exports up to its last committed batch — a continuous
    * deployment distributes its own index without stopping, and a
    * drained takedown's staleness pruning rides the very next
    * export. None (the default) keeps export a between-streams
    * call. */
  final case class IngestParams(expectedDigests: Long, fpp: Double = 0.01,
                                nearDup: Boolean = true, minJaccard: Double = 0.5,
                                shingleN: Int = 3, numHashes: Int = 32,
                                bands: Int = 8, seed: Long = 42L,
                                ann: Option[AnnParams] = None,
                                storeEmbeddingsInDocs: Boolean = true,
                                compactEveryNBatches: Int = 0,
                                export: Option[Snapshot.ExportPolicy] = None)

  private[streaming] val DocsSlimMarker = "_GRAFT_DOCS_SLIM"

  /** Is this root's docs table float-once (no embedding column)? */
  def docsSlim(spark: SparkSession, st: IngestState): Boolean =
    fsFor(spark, st.docsPath).exists(
      new HPath(st.docsPath, DocsSlimMarker))

  private def requireLayoutMatch(spark: SparkSession, st: IngestState,
                                 p: IngestParams): Unit = {
    val slim = docsSlim(spark, st)
    require(slim == !p.storeEmbeddingsInDocs,
      s"docs-layout drift: the root at ${st.root} is " +
        s"${if (slim) "FLOAT-ONCE (slim)" else "embedding-carrying (fat)"} " +
        s"but the caller's IngestParams.storeEmbeddingsInDocs=" +
        s"${p.storeEmbeddingsInDocs} says otherwise — mixing layouts in " +
        "one docs table breaks every reader; fix the params (or " +
        "re-bootstrap under the intended layout)")
  }

  /** One digest row per doc — the admit key (`text` = md5; every
    * admission reader selects only this column) plus the per-doc
    * stats factors the delete path subtracts without touching corpus
    * text. The table is therefore per-doc: every corpus-text pass
    * [[deleteDocs]] would otherwise pay (the capture, the stats
    * adjustment) becomes a metadata-class join against it (~50
    * bytes/row — at 10⁸ docs a 5 GB column-pruned side table vs a
    * 100 TB text scan). Computed in the same text pass that hashes the
    * batch. */
  private def digestRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("text"),
      length(col("text")).cast("long").as("n_chars"),
      size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"))

  /** The corpus embeddings reconstructed from the packed float
    * segments — the read face of the FLOAT-ONCE layout
    * (`IngestParams.storeEmbeddingsInDocs = false`), and usable on
    * any ann root: `(doc_id, <vecCol>)`, one row per indexed doc.
    * [[graft.ops.Similarity.ivfUnpack]] restores the UNIT vectors
    * [[graft.ops.Similarity.ivfAssign]] stored (exact doubles); the
    * column is cast back to `array<float>` — float32 is the REQUIRED
    * corpus width for every ann-enabled root ([[bootstrap]] asserts
    * it loudly; the PQ encoder's typed map refuses anything else) —
    * so the result is schema-compatible with an embedding-carrying
    * docs table. The cast is the one place the round trip is lossy: a
    * rebuild that re-trains on reconstructed vectors normalizes
    * `float(unit(f))` instead of `f` — unit-identical up to
    * float-width rounding, so cell assignments, codes, and top-k
    * answers agree wherever margins exceed ~1e-7 (DocsSlimSpec pins
    * the id-level equality on the fixture), while float BYTES of
    * retrained quantizers may differ in final ulps. */
  def reconstructEmbeddings(spark: SparkSession, st: IngestState,
                            a: AnnParams): DataFrame =
    Similarity.ivfUnpack(readTable(spark, st.ivfPackedPath))
      .select(col("nn_id").as("doc_id"),
        col("vb").cast("array<float>").as(a.vecCol))

  /** Read a state table (union of all batch partitions), optionally
    * excluding one batch's partitions — the self-exclusion read used
    * while that batch is being processed. The `batch` lineage column
    * is dropped; callers see the plain table schema.
    *
    * SNAPSHOT-AWARE: a table dir inside a [[Snapshot]] tree holds a
    * `_GRAFT_DIRS` manifest instead of physical `batch=` dirs — the
    * read then loads exactly the immutable pool dirs the manifest
    * names (same partition-column parse via `basePath` on the pool
    * table root, plus the `snapv=` content-stamp level, dropped like
    * `batch`). One extra existence check per call on a primary root;
    * the scan itself is unchanged. */
  def readTable(spark: SparkSession, path: String,
                excludeBatch: Long = Long.MinValue): DataFrame =
    snapshotDirs(spark, path) match {
      case Some((poolBase, entries)) =>
        require(entries.nonEmpty,
          s"readTable: the snapshot manifest at $path names no " +
            "partitions — this table was empty at export time; " +
            "re-export with the table populated (or don't read it)")
        spark.read.option("basePath", poolBase)
          .parquet(entries.map(_._2): _*)
          .where(col("batch") =!= lit(excludeBatch))
          .drop("batch").drop("snapv")
      case None =>
        spark.read.option("basePath", path).parquet(path)
          .where(col("batch") =!= lit(excludeBatch)).drop("batch")
    }

  /** Marker file at a [[Snapshot]] v-tree root: its presence makes
    * every writer face refuse the root loudly (snapshots are
    * immutable serving artifacts — maintenance runs on the primary,
    * then re-exports). */
  private[streaming] val SnapshotMarkerFile = "_GRAFT_SNAPSHOT"
  /** Per-table dir manifest inside a snapshot tree: each line is
    * `batch=<id>\t<pool path relative to the export root>`, naming
    * one immutable content-stamped pool dir. */
  private[streaming] val SnapshotDirsFile = "_GRAFT_DIRS"

  /** Some((pool basePath, (batchDirName, absolute pool dir) pairs))
    * when `path` is a table dir inside a snapshot tree; None on a
    * primary root. The export root is the manifest path's
    * grandparent (`<exportRoot>/v=<n>/<table>`), so a snapshot tree
    * is RELOCATABLE — the manifest stores export-root-relative
    * paths. */
  private[graft] def snapshotDirs(spark: SparkSession, path: String)
      : Option[(String, Seq[(String, String)])] = {
    val fs = fsFor(spark, path)
    val p = fs.makeQualified(new HPath(path))
    val mf = new HPath(p, SnapshotDirsFile)
    if (!fs.exists(mf)) None
    else {
      val exportRoot = p.getParent.getParent
      val entries = new String(readFileBytes(fs, mf), "UTF-8")
        .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
        .map { line =>
          val Array(name, rel) = line.split("\t", 2)
          (name, new HPath(exportRoot, rel).toString)
        }
      Some((new HPath(exportRoot, s"pool/${p.getName}").toString, entries))
    }
  }

  /** The ONE on-disk state format this build reads and writes. Every
    * root [[bootstrap]] creates, and every tree [[Snapshot.export]],
    * [[Snapshot.restore]] and [[Snapshot.sync]] produce, carries it in
    * a root-level [[FormatFile]]; every writer entry refuses, by name,
    * a root that is unstamped or stamped with another version — so
    * no reader or writer carries a path for any other layout. */
  private[graft] val StateFormat = 1
  /** The root-level stamp: `format=<n>`, plus `snapshot=true` on a
    * [[Snapshot]] version tree (`_`-prefixed: parquet readers skip
    * it). */
  private[graft] val FormatFile = "_GRAFT_FORMAT"

  private[streaming] def stampText(snapshot: Boolean): String =
    s"format=$StateFormat\n" + (if (snapshot) "snapshot=true\n" else "")

  /** The stamp's `key=value` fields; None on an unstamped root. One
    * open, no existence probe ahead of it. */
  private def readStamp(spark: SparkSession,
                        root: String): Option[Map[String, String]] = {
    val p = new HPath(root, FormatFile)
    val in =
      try fsFor(spark, root).open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(Snapshot.parseKv(new String(in.readAllBytes(), "UTF-8")))
    finally in.close()
  }

  /** Refuse a root whose stamp is missing or names another format
    * version, naming the root and both versions. Returns whether the
    * root is a [[Snapshot]] version tree. */
  private[graft] def requireFormat(spark: SparkSession, root: String,
                                   caller: String): Boolean = {
    val stamp = readStamp(spark, root).getOrElse(sys.error(
      s"$caller: $root is unstamped (no $FormatFile) — this build reads " +
        s"and writes only state format $StateFormat, which bootstrap, " +
        "Snapshot.export, restore and sync stamp; this root was not " +
        "made by them"))
    val found = stamp.getOrElse("format", "none")
    if (found != StateFormat.toString)
      sys.error(s"$caller: $root is state format $found, but this build " +
        s"reads and writes only state format $StateFormat — open it with " +
        "the build that wrote it")
    stamp.get("snapshot").contains("true")
  }

  /** The entry check of every writer face: this build's format, and
    * not a snapshot tree (snapshots are immutable serving artifacts —
    * maintenance runs on the primary, then re-exports). One stamp read
    * answers both. */
  private def requireWriterRoot(spark: SparkSession, st: IngestState,
                                caller: String): Unit =
    if (requireFormat(spark, st.root, caller))
      sys.error(s"$caller: ${st.root} is a SNAPSHOT tree (Snapshot.export) " +
        "— snapshots are immutable serving artifacts; run maintenance " +
        "against the primary state root and re-export")

  /** Initialize state from a (possibly empty) starting corpus, written
    * as the reserved `batch=-1` partition (foreachBatch ids start at
    * 0, so the bootstrap is never self-excluded). */
  def bootstrap(corpus: DataFrame, st: IngestState, p: IngestParams): Unit = {
    // re-bootstrapping an existing root: it must be this build's format
    // and not a snapshot tree (a fresh root is unstamped until the end
    // of this call)
    if (readStamp(corpus.sparkSession, st.root).isDefined)
      requireWriterRoot(corpus.sparkSession, st, "bootstrap")
    // re-bootstrapping over an existing root with a PENDING tombstone:
    // the intent belongs to the OLD state (its captured batch lineage
    // and digests reference the corpus being replaced — applying it
    // after the overwrite could purge NEW rows that reuse ids), and
    // silently discarding a takedown intent is worse. Complete it
    // against the old state first; on a fresh root this is one
    // existence check.
    recoverDeletes(corpus.sparkSession, st)
    require(p.storeEmbeddingsInDocs || p.ann.isDefined,
      "storeEmbeddingsInDocs = false needs ann: the packed index " +
        "segments are then the ONLY float store")
    // float32 is the contract width for ann-enabled roots: the PQ
    // encoder's typed map reads Array[Float], and the float-once
    // reconstruction casts back to array<float> — a double corpus
    // would either fail deep in an encoder or silently narrow on
    // rebuild. Refuse it here, by name.
    p.ann.foreach { a =>
      val et = corpus.schema(a.vecCol).dataType match {
        case org.apache.spark.sql.types.ArrayType(t, _) => t
        case other => sys.error(s"bootstrap: embedding column " +
          s"'${a.vecCol}' must be array<float> (got $other)")
      }
      require(et == org.apache.spark.sql.types.FloatType,
        s"bootstrap: ann-enabled ingest requires an array<float> " +
          s"embedding column — '${a.vecCol}' is array<$et>; cast the " +
          "corpus to float32 first (the engine's contract width: PQ " +
          "encoding and float-once reconstruction are float32)")
    }
    // the group below runs concurrently — the bloom file's parent dir
    // must exist BEFORE the group (sequentially, the first parquet
    // write used to create it; concurrently, the bloom thunk can run
    // first)
    fsFor(corpus.sparkSession, st.root).mkdirs(
      new HPath(st.root))
    // the dedup-state writes all derive independently from the caller's
    // corpus frame — one concurrent group (a crashed bootstrap is
    // re-bootstrapped wholesale, so write order carries nothing; the
    // layout marker rides its table's thunk, after its write)
    val dedupState = Seq[() => Unit](
      () => {
        (if (p.storeEmbeddingsInDocs) corpus
         else corpus.drop(p.ann.get.vecCol))
          .write.mode("overwrite").parquet(s"${st.docsPath}/batch=-1")
        if (!p.storeEmbeddingsInDocs)
          fsFor(corpus.sparkSession, st.docsPath).create(
            new HPath(st.docsPath, DocsSlimMarker), true)
            .close()
      },
      () => digestRows(corpus)
        .write.mode("overwrite").parquet(s"${st.digestsPath}/batch=-1"),
      () => partialStats(corpus)
        .write.mode("overwrite").parquet(s"${st.statsPath}/batch=-1")) ++
      // exact-only deployments maintain no band-key table (and pay no
      // shingling); flipping nearDup on later requires re-bootstrapping
      // the keys from the corpus (one minhashBandKeys run)
      (if (p.nearDup) Seq(() =>
        Dedup.minhashBandKeys(corpus, p.shingleN, p.numHashes, p.bands, p.seed)
          .write.mode("overwrite").parquet(s"${st.keysPath}/batch=-1"))
       else Nil) ++
      Seq({ () =>
        writeBloomAtomic(corpus.sparkSession, st.bloomPath, Dedup.bloomToBytes(
          Dedup.buildDigestBloom(corpus, p.expectedDigests, p.fpp)))
      }: () => Unit)
    p.ann match {
      case None => inParallel(dedupState)
      case Some(a) =>
        // train-once: the quantizers persist beside the index tables and
        // every later batch loads them — never retrains (see AnnParams)
        require(corpus.limit(1).count() > 0,
          "ann-enabled bootstrap needs a non-empty training corpus for the quantizers")
        // the train→append chain reads only the caller's corpus frame
        // and its own quantizer output — independent of every dedup
        // state table — so it rides the same concurrent group instead
        // of waiting behind it (a crashed bootstrap re-runs wholesale,
        // so there is no cross-ordering to preserve). Only the drift
        // base, which reads back the just-written ivf/sem tables,
        // stays behind the barrier.
        inParallel(dedupState :+ { () =>
          appendIndexes(corpus, -1L, st, a, trainQuantizers(corpus, st, a))
        }: Seq[() => Unit])
        writeDriftBase(corpus.sparkSession, st)
    }
    // the stamp lands LAST: a crashed bootstrap leaves an unstamped root
    // that every writer refuses until the re-bootstrap completes
    Snapshot.writeText(fsFor(corpus.sparkSession, st.root),
      new HPath(st.root, FormatFile), stampText(snapshot = false))
  }

  /** Persist the per-cell occupancy of the (just-written) sem and ivf
    * tables as the drift monitor's REFERENCE era — metadata-sized
    * (one row per occupied cell), taken at exactly the moment the
    * quantizers trained, and immune to [[compactState]] (it is not a
    * `batch=` table, and batch ids play no role in it).
    *
    * Also the RE-ANCHOR face, public as [[snapshotDriftBase]]:
    * snapshotting the CURRENT occupancy baselines the monitor without
    * a retrain (the reference era is then "now"). Re-anchoring a live
    * deployment resets drift to zero by definition — do it after
    * deliberate corpus-composition changes, not to silence a tripped
    * monitor. */
  private def writeDriftBase(spark: SparkSession, st: IngestState): Unit = {
    val ivf = spark.read.option("basePath", st.ivfPath).parquet(st.ivfPath)
      .groupBy(col("list").as("cell")).agg(count(lit(1)).as("cnt"))
      .withColumn("tbl", lit("ivf"))
    val sem = spark.read.option("basePath", st.semPath).parquet(st.semPath)
      .groupBy(col("cluster").as("cell")).agg(count(lit(1)).as("cnt"))
      .withColumn("tbl", lit("sem"))
    ivf.unionByName(sem).write.mode("overwrite").parquet(st.driftBasePath)
  }

  /** See [[writeDriftBase]] — the public re-anchor face. */
  def snapshotDriftBase(spark: SparkSession, st: IngestState): Unit = {
    requireWriterRoot(spark, st, "snapshotDriftBase")
    writeDriftBase(spark, st)
  }

  /** Train the quantizers on `corpus` and persist them beside the
    * index tables (overwriting any previous set) — the shared step of
    * [[bootstrap]] and [[rebuildIndexes]]. */
  private def trainQuantizers(corpus: DataFrame, st: IngestState,
                              a: AnnParams): AnnQuantizers = {
    val spark = corpus.sparkSession
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    // the (up to) three quantizer trains are independent — separate
    // driver samples, separate output tables — so they overlap on
    // forked threads (a crashed (re)train re-runs wholesale; no
    // cross-ordering to preserve). MEMORY: each train collects its
    // own ~sampleSize-vector driver sample, so peak driver memory is
    // up to 3x the old sequential pipeline's — size the driver for
    // three concurrent samples (or cap AnnParams.sampleSize; the
    // auto-scaled default keeps samples metadata-sized)
    val centsF = fork {
      val cents = Similarity.ivfCentroids(corpus, a.nlist, a.sampleSize,
        idCol = "doc_id", vecCol = a.vecCol)
      Similarity.centroidsToDF(spark, cents)
        .write.mode("overwrite").parquet(st.centroidsPath)
      // the assignment-identity fingerprint, stamped INSIDE the
      // centroids dir (underscore-prefixed, so parquet readers skip it,
      // and it rides the rebuild swap with its quantizer for free):
      // loadQuantizers refuses params that would silently mix
      // assignment conventions in the maintained tables
      writeAnnConfig(spark, st, a)
      cents
    }
    val treeF = fork {
      a.semClusters match {
        case Some(nc) if semRouted(a) =>
          val t = Similarity.hierarchicalCentroids(corpus, nc, a.sampleSize,
            idCol = "doc_id", vecCol = a.vecCol, spill = effSpill(a))
          Similarity.treeToDF(spark, t)
            .write.mode("overwrite").parquet(st.semTreePath)
          Some(t)
        case _ => None
      }
    }
    val semF = fork {
      a.semClusters match {
        case Some(nc) if !semRouted(a) =>
          val sc = Similarity.ivfCentroids(corpus, nc, a.sampleSize,
            idCol = "doc_id", vecCol = a.vecCol)
          Similarity.centroidsToDF(spark, sc)
            .write.mode("overwrite").parquet(st.semCentroidsPath)
          Some(sc)
        case _ => None
      }
    }
    val booksF = fork {
      val books = Similarity.pqTrain(corpus, a.m, a.ksub, a.sampleSize,
        idCol = "doc_id", vecCol = a.vecCol)
      Similarity.booksToDF(spark, books)
        .write.mode("overwrite").parquet(st.booksPath)
      books
    }
    // settle everything before surfacing the first failure — no train
    // left in flight when the caller unwinds (the inParallel rule)
    def settle[T](f: Future[T]): Either[Throwable, T] =
      Await.ready(f, Duration.Inf).value.get.toEither
    val (rCents, rTree, rSem, rBooks) =
      (settle(centsF), settle(treeF), settle(semF), settle(booksF))
    Seq[Either[Throwable, Any]](rCents, rTree, rSem, rBooks)
      .collectFirst { case Left(e) => throw e }
    val (cents, tree) = (rCents.toOption.get, rTree.toOption.get)
    val semCents =
      if (tree.isDefined) Array.empty[Array[Double]]
      else rSem.toOption.get.getOrElse(cents)
    AnnQuantizers(cents, semCents, rBooks.toOption.get, tree)
  }

  /** The drift response: retrain the quantizers on the CURRENT corpus
    * and rebuild the embedding-index tables from it, written as
    * one consolidated bootstrap partition (`batch=-1` — later batch
    * ids continue unaffected, and the next [[ingestBatch]] appends
    * under the NEW quantizers via its `loadQuantizers` read). This is
    * deliberately a REBUILD: retraining moves every Voronoi boundary,
    * which is exactly why the nightly path never does it (the
    * train-once/add-many discipline) — run this when [[indexDrift]]
    * trips the deployment threshold, not on a schedule. Dedup state
    * (docs/digests/keys/bloom/stats) is untouched.
    *
    * Cost: quantizer training (driver sample) + one assignment /
    * encode pass over the corpus per table — the same work
    * [[bootstrap]] did, and ~#batches× cheaper than the accumulated
    * ingest it replaces. CRASH-ATOMIC via the hidden-tmp + marker
    * pattern ([[compactState]]'s): quantizers AND index tables are
    * built complete under `.rebuild_tmp/`, a swap marker is written
    * only after every write commits, and the swap (delete old dir,
    * rename tmp dir in, per table) is completed by
    * [[recoverIndexSwap]]`(asWriter = true)` — run automatically at
    * the start of the NEXT rebuild, or explicitly (e.g. at deployment
    * startup); readers move NOTHING, marked or not, so no reader can
    * destroy a build in progress or interleave with a live swap (the
    * mover set is the contract-enforced single writer — see
    * [[recoverIndexSwap]]). A crash at ANY point leaves either the
    * old quantizer+index set or the new one, never a mix, once
    * writer-side recovery runs; until it runs, a crash that landed
    * mid-swap leaves the root torn — keep queries quiesced (they
    * must be quiesced for the swap anyway) until recovery completes.
    * Run ONE rebuild at a time (two concurrent rebuilds would clear
    * each other's tmp and double-move the swap); like
    * compaction, the swap is not READER-atomic on a plain
    * filesystem — quiesce queries during the swap itself. The
    * rebuilt corpus must be non-empty — quantizers cannot train on
    * nothing.
    *
    * `inFlightBatch`: when the stream may still RE-DELIVER its last
    * batch (a crash between sink call and checkpoint commit — the
    * foreachBatch at-least-once window), pass that batch id: its
    * docs are kept OUT of the consolidated `batch=-1` partition and
    * rewritten as their own `batch=<id>` partitions under the new
    * quantizers, so the replay's partition overwrite lands on
    * identical rows instead of double-appending docs the
    * consolidation already absorbed. After a clean AvailableNow
    * drain there is no replay window — None is correct. */
  def rebuildIndexes(spark: SparkSession, st: IngestState,
                     a: AnnParams,
                     inFlightBatch: Option[Long] = None): AnnQuantizers = {
    // a writer face like every other maintenance entry: a snapshot
    // version tree is immutable — rebuilding "on" one would delete and
    // swap its index tables in place
    requireWriterRoot(spark, st, "rebuildIndexes")
    // complete or roll back a previously crashed rebuild first — the
    // corpus read below must not race a half-swapped index set. As
    // the single writer this call also finishes a crashed CLAIMED
    // swap (readers leave those strictly alone)
    recoverIndexSwap(spark, st, asWriter = true)
    // ...and a crashed delete: the rebuild consolidates the index
    // tables under batch=-1, so a pending tombstone recovered AFTER it
    // would find none of its captured batch dirs in the index set —
    // its index rewrites would no-op while the docs purge still
    // landed, leaving deleted docs searchable with no corpus row
    // until the next rebuild. Completing the delete first means the
    // corpus read below is already purged and the rebuilt index never
    // contains the deleted docs.
    recoverDeletes(spark, st)
    // FLOAT-ONCE roots reconstruct the training corpus from the packed
    // segments (the only float store) — but only from a COMPLETE index
    // set: rebuilding through a crashed append's gap would silently
    // train and re-assign without that batch's vectors, so the parity
    // guard runs first and names the replay remedy. The per-batch
    // float reads all hit the OLD tables (the tmp build is a separate
    // dir; the swap happens after every write commits).
    val slim = docsSlim(spark, st)
    if (slim) requireIndexBatchParity(spark, st, "rebuildIndexes")
    def withFloats(df: DataFrame): DataFrame =
      if (slim) df.join(reconstructEmbeddings(spark, st, a), Seq("doc_id"))
      else df
    val corpus = withFloats(readTable(spark, st.docsPath))
    require(corpus.limit(1).count() > 0,
      "rebuildIndexes needs a non-empty corpus to retrain the quantizers")
    val fs = fsFor(spark, st.root)
    val tmpSt = IngestState(s"${st.root}/$RebuildTmpDir")
    fs.delete(new HPath(tmpSt.root), true)
    // quantizers train on the FULL corpus (training is sampling, not
    // lineage); only the table layout respects the replay window.
    // Everything builds under the hidden tmp root — IngestState
    // derives all subpaths, so the build is byte-for-byte the
    // bootstrap layout, just parked one directory down.
    val q = trainQuantizers(corpus, tmpSt, a)
    inFlightBatch match {
      case None =>
        appendIndexes(corpus, -1L, tmpSt, a, q)
      case Some(b) =>
        appendIndexes(withFloats(readTable(spark, st.docsPath, excludeBatch = b)),
          -1L, tmpSt, a, q)
        appendIndexes(withFloats(spark.read.option("basePath", st.docsPath)
            .parquet(st.docsPath)
            .where(col("batch") === lit(b)).drop("batch")),
          b, tmpSt, a, q)
    }
    // fresh reference era for the drift monitor: the rebuild IS a
    // retrain, so drift restarts from this corpus snapshot
    writeDriftBase(spark, tmpSt)
    // every tmp write has committed — publish the manifest (which
    // subdirs THIS config built: recovery deletes stale destination
    // dirs outside it, so a config change can't leave an old sem_tree
    // beside a new flat layout), then the marker (the point of no
    // return: recovery completes the swap from here), and swap
    writeActiveSubdirs(fs, tmpSt.root)
    fs.create(new HPath(tmpSt.root, SwapMarker), true).close()
    completeIndexSwap(spark, st, asWriter = true)
    q
  }

  private val RebuildTmpDir = ".rebuild_tmp"
  private val SwapMarker = "_GRAFT_SWAP_READY"
  private val ActiveSubdirsFile = "_GRAFT_ACTIVE_SUBDIRS"
  /** The quantizer + index subdirs a rebuild replaces, relative to the
    * state root — exactly the paths [[trainQuantizers]] and
    * [[appendIndexes]] write. `sem_tree`/`sem_centroids` are absent
    * when the deployment doesn't use them; the manifest written beside
    * the swap marker ([[writeActiveSubdirs]]) records which ones THIS
    * build produced, so recovery can tell "already moved" from "stale
    * under the new config" and delete the latter. */
  private val IndexSubdirs =
    Seq("centroids", "sem_centroids", "sem_tree", "books", "ivf",
      "ivf_packed", "pq", "pq_packed", "sem", "drift_base")

  /** One line per index subdir present under the finished tmp build —
    * written BEFORE the swap marker, so every marked tmp carries it. */
  private def writeActiveSubdirs(fs: org.apache.hadoop.fs.FileSystem,
                                 tmpRoot: String): Unit = {
    val present = IndexSubdirs.filter(sub =>
      fs.exists(new HPath(tmpRoot, sub)))
    Snapshot.writeText(fs, new HPath(tmpRoot, ActiveSubdirsFile),
      present.mkString("\n"))
  }

  /** Complete a [[rebuildIndexes]] swap interrupted by a crash.
    * Idempotent and cheap when there is nothing to do (one existence
    * check); the single-writer entries ([[rebuildIndexes]],
    * [[deleteDocs]], [[processDeleteQueue]], [[start]], [[serve]])
    * call it automatically.
    *
    * ONLY THE WRITER EVER MOVES. A reader (`asWriter = false`) touches
    * nothing, marked
    * or not: an unmarked tmp may be a build in progress (deleting it
    * would destroy the rebuild mid-flight), and completing a MARKED
    * tmp from a reader would make the mover set unbounded — two
    * movers whose delete/rename pairs interleave can destroy a
    * just-installed table (mover B stats `src`, mover A renames
    * src→dst, B deletes dst acting on its stale stat, B's rename
    * finds src consumed: the table now exists nowhere). Plain
    * filesystems give no way to tell a live claimant from a crashed
    * one, so the only safe mover set is one enforced by contract:
    * [[rebuildIndexes]] — which never runs concurrently with another
    * rebuild — and the explicit `recoverIndexSwap(asWriter = true)`
    * remedy run from that same single-writer context. The writer
    * claims the pristine EXACT-NAME marker by atomic rename (so even
    * a contract violation cannot double-move a pristine tmp) and
    * takes over an existing `marker.<uuid>` claim re-entrantly (under
    * the contract any existing claim is a crashed writer's).
    *
    * Consequence, documented trade: a rebuild that crashes AFTER
    * publishing its marker leaves the swap pending — mid-move, the
    * state root stays torn (readers were quiesced for the swap per
    * the [[rebuildIndexes]] contract; keep them quiesced) — until the
    * next [[rebuildIndexes]] or an explicit
    * `recoverIndexSwap(asWriter = true)`. Run the explicit recovery
    * at deployment startup, where being the single writer is
    * trivially true. */
  def recoverIndexSwap(spark: SparkSession, st: IngestState,
                       asWriter: Boolean = false): Unit = {
    val fs = fsFor(spark, st.root)
    val tmpRoot = new HPath(s"${st.root}/$RebuildTmpDir")
    if (!fs.exists(tmpRoot)) return
    completeIndexSwap(spark, st, asWriter)
  }

  private def completeIndexSwap(spark: SparkSession, st: IngestState,
                                asWriter: Boolean): Unit = {
    val fs = fsFor(spark, st.root)
    val tmpRoot = new HPath(s"${st.root}/$RebuildTmpDir")
    // the listing races the OWNER's own tmp clear (rebuildIndexes
    // deletes stale tmps before building) — a vanished tmpRoot means
    // there is nothing to recover, not an error a reader should crash on
    val files =
      try fs.listStatus(tmpRoot).filter(_.isFile).map(_.getPath)
      catch { case _: java.io.FileNotFoundException => return }
    // readers never move — see the recoverIndexSwap scaladoc for why
    // the mover set must be the contract-enforced single writer
    if (!asWriter) return
    val pristine = files.find(_.getName == SwapMarker)
    val claimedExisting = files.find(_.getName.startsWith(SwapMarker + "."))
    pristine match {
      case Some(m) =>
        val c = new HPath(tmpRoot,
          s"$SwapMarker.${java.util.UUID.randomUUID().toString.take(8)}")
        // the rename is the atomic claim — belt-and-braces under the
        // single-writer contract: even a contract violation cannot
        // get two movers past a pristine marker
        if (!fs.rename(m, c)) return
      case None => claimedExisting match {
        // under the single-writer contract an existing claim is a
        // crashed writer's — take it over re-entrantly
        case Some(_) => ()
        case _ => return // unmarked: build in progress or crashed build
      }
    }
    // the manifest names the subdirs THIS build produced (written
    // before the marker, so every marked tmp carries it)
    val active = new String(readFileBytes(fs,
        new HPath(tmpRoot, ActiveSubdirsFile)), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet
    IndexSubdirs.foreach { sub =>
      val src = new HPath(tmpRoot, sub)
      val dst = new HPath(s"${st.root}/$sub")
      if (fs.exists(src)) {
        fs.delete(dst, true)
        // Hadoop FileSystems signal rename failure by RETURNING false —
        // proceeding would delete the tmp below and destroy the only
        // copy of this table; fail loudly instead, leaving the claimed
        // marker in place so the next recovery retries the swap
        require(fs.rename(src, dst),
          s"completeIndexSwap: rename $src -> $dst failed — index swap " +
            "left pending (marker retained); re-run recovery")
      } else if (!active.contains(sub)) {
        // src absent + named in the manifest ⇒ already moved by an
        // earlier (crashed) pass — the re-entrancy case, keep dst.
        // Absent FROM the manifest ⇒ the new config never built it:
        // the destination copy is a stale leftover of the old config
        // (e.g. a sem_tree after a routed → flat change) — delete it,
        // or an out-of-band reader could pair the old tree with the
        // new tables. Idempotent, so a crash here re-runs safely.
        fs.delete(dst, true)
      }
    }
    fs.delete(tmpRoot, true)
    ()
  }

  /** One batch's rows appended to the four embedding-index tables —
    * the same per-batch partition-overwrite idempotency as the dedup
    * state (every assignment/encoding is deterministic given the
    * fixed quantizers, so a replay overwrites identical rows).
    *
    * SLIM-ASSIGNMENT DISCIPLINE: the stored `ivf` table carries only
    * `(nn_id, list)` — the unit vectors live exactly ONCE in the
    * packed-segment table (plus the raw embeddings in docs), not in
    * three tables. At corpus scale the float column dominates index
    * bytes, so this halves index storage (3× corpus floats → 2×
    * counting docs). The full assignment (with `vb`) is computed once
    * and pinned via an eagerly-materialized cache consumed by the
    * pack and slim-assignment writers, so (a) the assignment computes
    * once (modulo a safe eviction-recompute),
    * (b) the visible batch dir is written exactly once, slim — there
    * is never a fat→slim rewrite window on the live table. (It used
    * to round-trip through a hidden `.assign_tmp_batch=<id>` parquet
    * stage; the stage bought no durability — a crash anywhere in the
    * batch re-delivers the whole batch — so the r20 optimization
    * round replaced the write + re-reads with cache-pinned blocks
    * that are unpersisted before return.)
    * Readers
    * that need floats take them from the packed table
    * ([[Similarity.ivfUnpack]] is exact) — [[annIvfPqMaintained]]'s
    * rerank store is the docs table.
    *
    * The routed semantic path goes through [[routedSemAssign]] — the
    * threshold-derived adaptive face, NOT a bare fixed fan-out, so a
    * deployment's maintained pairs keep the borderline recall the
    * one-shot face fixed (sizing on `AnnParams.semMinCosine`). */
  private def appendIndexes(batch: DataFrame, batchId: Long, st: IngestState,
                            a: AnnParams, q: AnnQuantizers): Unit = {
    // fail loudly, not with a deep AnalysisException: when ann is
    // enabled the column is REQUIRED on every batch — admitting a
    // vector-less batch would leave docs the index tables never saw
    require(batch.columns.contains(a.vecCol),
      s"ann-enabled ingest: batch $batchId lacks the embedding column " +
        s"'${a.vecCol}' — every batch must carry it (columns: " +
        s"${batch.columns.mkString(", ")})")
    val spark = batch.sparkSession
    // the assignment is computed ONCE and pinned in executor storage
    // (cache + eager materialize), then consumed by two of the four
    // derivations below. It used to round-trip through a hidden
    // parquet stage dir; the stage bought nothing durable (it was
    // deleted before return, and a crash anywhere in this batch
    // re-delivers the WHOLE batch, which overwrites every derivation)
    // — so the disk write + re-reads were pure overhead. cache, NOT
    // localCheckpoint: Dataset.unpersist frees cached blocks
    // deterministically, while localCheckpoint blocks wait for the
    // ContextCleaner's periodic GC — a long-lived stream would
    // accumulate batch-sized block sets between GCs. Eviction under
    // memory pressure only costs a recompute (ivfAssign is
    // deterministic from the batch + the fixed centroid literal; it
    // reads no mutable state, so a recompute mid-batch is safe).
    // cached, NOT eagerly counted: the first consumer job materializes
    // the blocks (BlockManager's per-partition locking makes the two
    // concurrent consumers below compute each partition once), which
    // folds the old separate count() job into work the group pays
    // anyway. Recompute-on-eviction stays safe as before: ivfAssign is
    // deterministic from the batch + the fixed centroid literal.
    val assigned = Similarity.ivfAssign(batch, q.cents,
      idCol = "doc_id", vecCol = a.vecCol).cache()
    try {
      // ONE per-list counts pass shared by BOTH packs below (each used
      // to run its own aggregate-and-broadcast job over the
      // assignment). ≤ nlist rows (∝ √N — metadata-class), collected
      // and re-localized so each pack's broadcast side is a
      // LocalTableScan instead of a job. The collect doubles as the
      // cache's eager materializer (every group member reads it warm).
      val cnts = {
        import spark.implicits._
        assigned.groupBy("list").agg(count(lit(1)).as("_n"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
          .toDF("list", "_n")
      }
      // five derivations — packed floats + slim assignment from the
      // pinned assign, codes + semantic cells from the batch, and the
      // packed ADC segments from the pinned assign ⋈ STORED code
      // table — each one Spark action on its own output dir. The ADC
      // pack's assignment side is the SAME pinned frame the slim
      // write stores (identical rows by construction), so the pack
      // chains after exactly ONE stored input — the code write — and
      // overlaps the float pack, the slim write and the semantic
      // cells (see [[inParallel]]: replay covers any completed
      // subset, so only the stored-codes-before-pack order is
      // load-bearing). Deterministic (hash-segmented, and both sides
      // deterministic under recompute), so a replay writes identical
      // segments.
      inParallel(Seq(
        () => ptime("ai_ivfpack")(Similarity.ivfPack(assigned,
            dim = q.cents.head.length, counts = Some(cnts))
          .write.mode("overwrite").parquet(s"${st.ivfPackedPath}/batch=$batchId")),
        () => ptime("ai_sem")((q.semTree match {
          case Some(t) => routedSemAssign(batch, t, a)
          case None => Similarity.semanticAssign(batch, q.semCents, a.nAssign,
            idCol = "doc_id", vecCol = a.vecCol)
        }).write.mode("overwrite").parquet(s"${st.semPath}/batch=$batchId")),
        () => ptime("ai_ivf_slim")(assigned.select("nn_id", "list")
          .write.mode("overwrite").parquet(s"${st.ivfPath}/batch=$batchId")),
        () => {
          // slim here too: codes_arr is codes widened to ints (a law-audit
          // convenience on the one-shot face) — 4·m bytes of pure
          // redundancy per vector in a table whose point is m-byte codes.
          // The maintained table keeps codes (scoring) + rerr (the ADC
          // error bound, a monitoring signal floats can't be re-derived
          // from without a full re-encode).
          ptime("ai_pqencode")(Similarity.pqEncode(batch, q.books,
              idCol = "doc_id", vecCol = a.vecCol)
            .drop("codes_arr")
            .write.mode("overwrite").parquet(s"${st.pqPath}/batch=$batchId"))
          // pack-once for the ADC face: the pinned assignment (the
          // rows the slim write stores — reading the cache skips that
          // parquet round-trip AND the wait on its write) joined with
          // the JUST-STORED, column-pruned code partition (re-running
          // the encode instead was measured ~15% slower — the extra
          // concurrent consumers contend for the same cores). Counts
          // come from the same pinned frame (identical by
          // construction to the stored slim table's).
          ptime("ai_pqpack")(Similarity.pqPack(
              assigned.select(col("nn_id"), col("list"))
                .join(spark.read.parquet(s"${st.pqPath}/batch=$batchId")
                  .select(col("vec_id").as("nn_id"), col("codes")), "nn_id"),
              m = a.m,
              counts = Some(cnts))
            .write.mode("overwrite").parquet(s"${st.pqPackedPath}/batch=$batchId"))
        }))
    } finally assigned.unpersist()
  }

  /** Exact-IVF search over the MAINTAINED index: probe + scan the
    * persisted packed segments ([[Similarity.annIvfFromPacked]]) —
    * never re-packs, never touches the corpus floats beyond the
    * stored segments. Answers are byte-identical to
    * `annIvfFromIndex` over the assignment table and to the one-shot
    * `annIvf` under the same centroids (segmentation-independence —
    * see [[Similarity.ivfPack]]). Pass the loaded quantizers when
    * querying in a loop; otherwise they load here. Conventions and
    * guards as on every maintained face ([[search]]). */
  def annIvfMaintained(spark: SparkSession, st: IngestState, a: AnnParams,
                       queries: DataFrame, k: Int, nprobe: Int,
                       quantizers: Option[AnnQuantizers] = None,
                       idCol: String = "doc_id",
                       excludeSelf: Boolean = true): DataFrame =
    search(spark, st, a, queries, k, nprobe, None, None, quantizers, idCol,
      excludeSelf, "annIvfMaintained")

  /** FILTERED exact-IVF search over the MAINTAINED index: top-k
    * cosine among the corpus rows whose id appears in `eligible` —
    * the maintained twin of [[graft.ops.Similarity.annIvfFiltered]]
    * (pre-filter semantics: the predicate restricts the index side
    * BEFORE candidate generation, so an eligible answer can never be
    * crowded out by ineligible rows — see that face's scaladoc for
    * why post-filtering silently drops answers). `eligible`'s first
    * column is the id set; derive it however the deployment likes
    * (`readTable(spark, st.docsPath).where(pred).select("doc_id")`,
    * an external allowlist table, …) — this face never reads docs
    * itself.
    *
    * Shape, at 100 TB: selectivity comes from the SLIM `(nn_id,
    * list)` assignment table (two column-pruned integer scans, no
    * float I/O, memoized across a serving loop — [[filteredNprobe]]),
    * probing widens to ~`nprobe/sel` lists capped at nlist (so the
    * filtered search scans ~the same candidate volume the unfiltered
    * one would), the packed float segments are pruned to the PROBED
    * lists before unpacking, and the eligible-id semi-join then drops
    * ineligible rows before the scan.
    *
    * Answers are multiset-identical to the one-shot
    * `annIvfFiltered` under the same persisted quantizers (the
    * packed segments restore [[graft.ops.Similarity.ivfAssign]]'s
    * rows exactly and both faces widen with
    * [[graft.ops.Similarity.widenedNprobe]] from the same counts) —
    * law-pinned by `check_ingest_ann_replay`'s `ingest_filtered_*`
    * and by ContinuousIngestSpec through a physically-absent docs
    * table. */
  def annIvfFilteredMaintained(spark: SparkSession, st: IngestState,
                               a: AnnParams, queries: DataFrame, k: Int,
                               nprobe: Int, eligible: DataFrame,
                               quantizers: Option[AnnQuantizers] = None,
                               idCol: String = "doc_id",
                               excludeSelf: Boolean = true): DataFrame =
    search(spark, st, a, queries, k, nprobe, Some(eligible), None,
      quantizers, idCol, excludeSelf, "annIvfFilteredMaintained")

  /** [[graft.ops.Similarity.annIvfFiltered]]'s selectivity-widened
    * probe count, derived from the MAINTAINED index: eligible fraction
    * from the slim `(nn_id, list)` assignment table — two
    * column-pruned integer scans, no float I/O — then
    * `ceil(nprobe/sel)` capped at the trained cell count. Matches the
    * one-shot faces' arithmetic exactly (the `ingest_filtered_*` /
    * `ingest_fltadc_*` equality laws depend on it).
    *
    * MEMOIZED so the filtered faces are serving-loop
    * cheap: a loop answering M batches against a stable eligible set
    * measures once, not 2·M corpus-scale integer scans. The cache key
    * is (state root, the eligible plan's canonical form, the
    * assignment table's batch-dir set, the delete log's op-dir set,
    * nprobe, nCells) — an ingest append changes the dir set and a
    * completed delete adds an op dir, so both invalidate the entry at
    * metadata (two listings) cost per call; compaction renames dirs
    * and forces one harmless re-measure. Same-JVM scope (the driver's
    * lifetime — exactly the serving loop the memo exists for); bounded
    * by wholesale clear past 1024 entries. The widening only
    * compensates recall, so even a hypothetically stale width degrades
    * recall gracefully, never correctness. */
  private val selectivityCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  /** Measurement count, test-visible: specs pin "one measurement per
    * (eligible, state) across a serving loop". */
  private[graft] val selectivityMeasurements =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Digest-computation count, test-visible: specs pin "one row-walk
    * per PLAN OBJECT across a serving loop" (the digest of a large
    * in-memory allowlist walks every LocalRelation row — paying that
    * per serving call just to LOOK UP the memo was the cost the
    * digest fix for the hashCode collision introduced). */
  private[graft] val fingerprintComputations =
    new java.util.concurrent.atomic.AtomicLong(0L)
  /** plan-object → digest, WEAK-keyed by IDENTITY (guava weakKeys):
    * `analyzed.canonicalized` is a lazy val on the Dataset's query
    * execution, so a serving loop over one allowlist DataFrame hands
    * back the same plan object every call — digest once, evict with
    * the plan. A REBUILT (structurally equal) DataFrame misses and
    * re-digests: correct, just not free, and exactly the "per
    * plan-object identity" contract. */
  private val eligDigestCache: com.google.common.cache.Cache[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String] =
    com.google.common.cache.CacheBuilder.newBuilder()
      .weakKeys().maximumSize(4096).build()

  /** `elig` is the caller's UNWRAPPED eligible frame (first column =
    * the id set): the digest below is keyed on ITS plan object, the
    * one thing a serving loop actually reuses call-to-call — the
    * `select(... as "nn_id")` wrap every face used to pass here
    * constructs a FRESH plan per call, which would defeat the
    * weak-identity digest cache. */
  private def filteredNprobe(spark: SparkSession, st: IngestState,
                             elig: DataFrame, nprobe: Int, nCells: Int): Int = {
    // strong digest, not hashCode: two distinct eligible sets in one
    // long-lived serving JVM colliding on a 32-bit hash would
    // silently reuse the wrong probe width (recall-only per the
    // contract, but undetectable). The plan STRING alone is not
    // enough — LocalRelation (an in-memory allowlist DF, the
    // scaladoc's own example) prints only its schema, so every such
    // allowlist would share one key; digest the local rows and the
    // plan hash alongside the structure.
    val plan = elig.queryExecution.analyzed.canonicalized
    val eligFp = eligDigestCache.get(plan, () => {
      fingerprintComputations.incrementAndGet()
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(plan.toString.getBytes("UTF-8"))
      md.update(plan.hashCode().toString.getBytes("UTF-8"))
      plan.foreach {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          lr.data.foreach(r => md.update(r.toString.getBytes("UTF-8")))
        case _ => ()
      }
      md.digest().map("%02x".format(_)).mkString
    })
    val stateFp = md5Hex(
      batchDirNames(spark, st.ivfPath).toSeq.sorted.mkString(",") + "#" +
        opDirNames(spark, s"${st.root}/deletes_log").mkString(","))
    val key = s"${st.root}|$eligFp|$stateFp|$nprobe|$nCells"
    if (selectivityCache.size > 1024) selectivityCache.clear()
    selectivityCache.computeIfAbsent(key, { _ =>
      selectivityMeasurements.incrementAndGet()
      val slim = readTable(spark, st.ivfPath).select("nn_id")
      val n = slim.count()
      val e = slim.join(
        elig.select(col(elig.columns.head).as("nn_id")),
        Seq("nn_id"), "left_semi").count()
      Similarity.widenedNprobe(nprobe, n, e, nCells)
    }).intValue()
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ---- bloom state file: Hadoop-FS IO + framed crash recovery ------
  //
  // The bloom is the one state artifact that is a FILE, not a parquet
  // dir with a `_SUCCESS` contract — so it gets its own completeness
  // frame: magic + payload length + payload + md5(payload). The frame
  // lets recovery distinguish a COMPLETE temp (crash between
  // target-delete and rename — finish the install) from a TORN one
  // (crash mid-write — the target, when present, is authoritative).
  private[streaming] val BloomMagic = "GRFTBLM1".getBytes("UTF-8")
  private def frameBloom(payload: Array[Byte]): Array[Byte] = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(payload)
    val out = java.nio.ByteBuffer.allocate(
      BloomMagic.length + 4 + payload.length + md5.length)
    out.put(BloomMagic).putInt(payload.length).put(payload).put(md5)
    out.array()
  }
  /** Some(payload) iff `bytes` is a complete well-framed bloom;
    * None for a torn or foreign file. */
  private def unframeBloom(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes.length < BloomMagic.length + 4 + 16) return None
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val magic = new Array[Byte](BloomMagic.length); buf.get(magic)
    if (!java.util.Arrays.equals(magic, BloomMagic)) return None
    val len = buf.getInt
    if (len < 0 || bytes.length != BloomMagic.length + 4 + len + 16) return None
    val payload = new Array[Byte](len); buf.get(payload)
    val md5 = new Array[Byte](16); buf.get(md5)
    if (java.util.Arrays.equals(md5,
        java.security.MessageDigest.getInstance("MD5").digest(payload)))
      Some(payload)
    else None
  }
  private def bloomTmp(path: String): HPath = {
    val p = new HPath(path)
    new HPath(p.getParent, s".${p.getName}.tmp")
  }
  private[streaming] def readFileBytes(fs: org.apache.hadoop.fs.FileSystem,
                            p: HPath): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue,
      s"$p is ${len}B — not a small state file (bloom/manifest)")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** Write the serialized bloom ATOMICALLY through the Hadoop
    * FileSystem API — framed temp, then rename into place
    * (FileContext OVERWRITE where the FS binds one, so HDFS/POSIX
    * keep single-syscall replace; delete + rename otherwise). Every
    * crash window is safe: target intact + torn temp reads the
    * target; target deleted + complete framed temp is finished
    * forward by [[readBloomBytes]]; and the bloom is over-approximate
    * state anyway — a stale filter only costs verify-join rows, never
    * answers (re-delivery re-merges it). Routed through the SAME
    * FileSystem as every other state table, so a state root on
    * hdfs:// or an object store works — the old `java.nio` IO pinned
    * the bloom to the driver's local disk. */
  private def writeBloomAtomic(spark: SparkSession, path: String,
                               bytes: Array[Byte]): Unit = {
    val fs = fsFor(spark, path)
    val target = new HPath(path)
    val tmp = bloomTmp(path)
    val out = fs.create(tmp, true)
    try out.write(frameBloom(bytes)) finally out.close()
    val renamed =
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(target.toUri,
            spark.sparkContext.hadoopConfiguration)
          .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch {
        // no AbstractFileSystem binding for this scheme — fall back to
        // delete + rename (the framed temp makes the gap recoverable)
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException => false
      }
    if (!renamed) {
      fs.delete(target, false)
      require(fs.rename(tmp, target),
        s"writeBloomAtomic: rename $tmp -> $target failed — complete " +
          "framed temp retained, the next read finishes the install")
    }
    ()
  }

  /** The bloom payload bytes, through the Hadoop FileSystem API, with
    * crash recovery: a missing target + a COMPLETE framed temp is a
    * crash between target-delete and rename — finish the install and
    * read it; a torn temp is discarded wherever the target exists. */
  private[graft] def readBloomBytes(spark: SparkSession,
                                    st: IngestState): Array[Byte] = {
    val fs = fsFor(spark, st.bloomPath)
    val target = new HPath(st.bloomPath)
    val tmp = bloomTmp(st.bloomPath)
    if (fs.exists(target))
      unframeBloom(readFileBytes(fs, target)).getOrElse(sys.error(
        s"readBloomBytes: ${st.bloomPath} fails its frame or checksum — " +
          "installs are rename-atomic, so this is storage corruption, " +
          "not a crash window; rebuild the bloom by re-bootstrapping or " +
          "re-merging from the digest table"))
    else if (fs.exists(tmp)) {
      unframeBloom(readFileBytes(fs, tmp)) match {
        case Some(payload) =>
          // mid-install crash: the temp is the only (complete) copy
          require(fs.rename(tmp, target),
            s"readBloomBytes: recovery rename $tmp failed — temp " +
              "retained, re-run")
          payload
        case None => sys.error(
          s"readBloomBytes: no bloom at ${st.bloomPath} and the temp " +
            "beside it is torn (a crash inside the very first bloom " +
            "write — nothing complete was ever installed); " +
            "re-bootstrap the root")
      }
    } else sys.error(s"readBloomBytes: no bloom at ${st.bloomPath} — " +
      "not a bootstrapped root")
  }

  /** Scheduler pool for INDEPENDENT state writes within one
    * maintenance op (distinct output paths, one Spark action each).
    * Cached (unbounded, daemon) so nested groups — a batch's write
    * group contains the index-append, which runs its own group —
    * can never starve each other into deadlock; the bound on live
    * threads is the handful of writes a single batch performs.
    * Spark actions are thread-safe across driver threads by design
    * (each carries its own plan; the session is shared). */
  // dev-only sub-phase timing (set GRAFT_INGEST_TIMING=1); zero cost when unset
  private val ingestTiming = sys.env.contains("GRAFT_INGEST_TIMING")
  @inline private def ptime[A](name: String)(f: => A): A =
    if (!ingestTiming) f
    else {
      val t0 = System.nanoTime(); val r = f
      println(f"  SUBPHASE $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f")
      r
    }

  /** Run `body` on a new daemon thread that the CALLING thread
    * creates, so the thread inherits the caller's Spark local
    * properties (job group, description, scheduler pool, tracer span)
    * as of this call: its jobs are attributed to, and cancelled with,
    * the operation that submitted them. A reused pool thread would
    * keep the properties of whichever call created it, and no public
    * API copies them into an existing thread. */
  private def fork[T](body: => T): scala.concurrent.Future[T] = {
    val p = scala.concurrent.Promise[T]()
    val t = new Thread(() => p.complete(
      try scala.util.Success(body)
      catch { case e: Throwable => scala.util.Failure(e) }),
      "graft-state-write")
    t.setDaemon(true)
    t.start()
    p.future
  }

  /** Run independent state writes concurrently and rethrow the FIRST
    * failure only after every thunk has settled (no write is left in
    * flight when the caller unwinds — a half-issued group would widen
    * the crash surface past what the replay contract describes). The
    * ordering between a batch's table writes was never load-bearing:
    * a crashed batch is re-delivered in full and every partition
    * overwritten (the self-excluded reads + partition-overwrite
    * idempotence contract), so ANY completed subset replays to the
    * same state — concurrency turns K sequential job-overhead
    * payments into the group's critical path, which is what a
    * nightly batch's latency actually needs.
    *
    * Admission is PERMIT-BASED against ONE GLOBAL semaphore of
    * `MaxConcurrentStateWrites`: a broad takedown can name every
    * partition of a long-lived root, and an unbounded fan-out would
    * park one blocked driver thread + one scheduled Spark job per
    * partition at once (thread stacks, listener-bus floods, scheduler
    * thrash) where hiding per-job overhead only needs a bounded
    * window. The bound is GLOBAL across nested groups (a batch's
    * group contains the index-append, which runs its own; tier-1
    * purges fan tables × partitions) — per-group chunking bounded
    * each level but let the product grow multiplicatively. Two rules
    * keep nesting deadlock-free AND thread-bounded:
    *   1. a permit is acquired BEFORE a thunk's thread is forked
    *      ([[fork]] — the submitting loop blocks, so at most
    *      `MaxConcurrentStateWrites` thunks run at once), and released
    *      when that thunk settles;
    *   2. a thread never HOLDS a permit while awaiting a nested
    *      group: a thunk that calls [[inParallel]] releases its own
    *      permit for the duration of the nested group and re-acquires
    *      it before resuming — so every held permit belongs to a
    *      thunk making forward progress, never to one blocked on
    *      admission, and a blocked acquirer holds nothing another
    *      acquirer could be waiting for.
    * No wave barriers: a straggler partition admits new work the
    * moment any permit frees (the old chunking idled up to
    * cores/2−1 slots behind the slowest wave member). */
  private[graft] val MaxConcurrentStateWrites =
    math.max(4, Runtime.getRuntime.availableProcessors() / 2)
  private val stateWritePermits =
    new java.util.concurrent.Semaphore(MaxConcurrentStateWrites)
  private val holdsStateWritePermit: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)
  private[graft] def inParallel(tasks: Seq[() => Unit]): Unit = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    // rule 2: a nested caller lends its permit to its children
    val nested = holdsStateWritePermit.get()
    if (nested) { holdsStateWritePermit.set(false); stateWritePermits.release() }
    try {
      val settled = tasks.map { t =>
        stateWritePermits.acquire() // rule 1: admission gates submission
        fork {
          holdsStateWritePermit.set(true)
          try { t(); Option.empty[Throwable] }
          catch { case e: Throwable => Some(e) }
          finally {
            holdsStateWritePermit.set(false)
            stateWritePermits.release()
          }
        }
      }
      val errs = settled.flatMap(f => Await.result(f, Duration.Inf))
      errs.headOption.foreach(e => throw e)
    } finally {
      // uninterruptibly: an interrupt here would unwind WITHOUT the
      // permit while the enclosing Future body's finally still
      // releases one — a phantom permit inflating the global bound
      // forever, one interrupt at a time
      if (nested) {
        stateWritePermits.acquireUninterruptibly()
        holdsStateWritePermit.set(true)
      }
    }
  }

  private def opDirNames(spark: SparkSession, path: String): Seq[String] = {
    val fs = fsFor(spark, path)
    val root = new HPath(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted
  }

  /** FILTERED IVFADC over the MAINTAINED index: the
    * [[graft.ops.Similarity.annIvfPqFiltered]] semantics (top-k among
    * the eligible ids, candidates generated from eligible codes only
    * — pre-filter, so an eligible answer can never be crowded out of
    * a segment's ADC top-R by ineligible rows) served from the index
    * root alone. The probed lists' code segments are pruned at the
    * parquet scan, unpacked (m bytes per candidate — no float I/O),
    * semi-joined to the eligible ids and re-packed for the ADC scan;
    * rerank floats gather from the packed float segments. The
    * per-call re-pack is INHERENT here — an ad-hoc predicate has no
    * persisted pack — and its input is only the probed lists'
    * ELIGIBLE codes, ∝ the same candidate volume the search itself
    * scans.
    *
    * Multiset-identical to the one-shot `annIvfPqFiltered` under the
    * persisted quantizers (`check_ingest_ann_replay`'s
    * `ingest_fltadc_*` law). Guards and conventions as on
    * [[annIvfPqMaintained]]. */
  def annIvfPqFilteredMaintained(spark: SparkSession, st: IngestState,
                                 a: AnnParams, queries: DataFrame, k: Int,
                                 nprobe: Int, eligible: DataFrame,
                                 rerank: Int = 32,
                                 quantizers: Option[AnnQuantizers] = None,
                                 idCol: String = "doc_id",
                                 excludeSelf: Boolean = true): DataFrame =
    search(spark, st, a, queries, k, nprobe, Some(eligible), Some(rerank),
      quantizers, idCol, excludeSelf, "annIvfPqFilteredMaintained")

  /** The five maintained index tables (assignment, packed float
    * segments, codes, packed code segments, semantic assignments)
    * must cover EXACTLY the same batch set — any asymmetry is an
    * append that crashed partway and was never replayed, or a
    * compaction that crashed between tables. Answering — or
    * CONSOLIDATING ([[compactState]]) — across a crashed append would
    * silently serve rows the other tables never saw, or worse, launder
    * the asymmetry into a merged partition the parity check can no
    * longer see. One listing per table, metadata cost. `upTo`
    * restricts the check to dirs at or below a batch id (compaction's
    * horizon — in-flight batches above it are the stream's to replay,
    * not an error). */
  private def requireIndexBatchParity(spark: SparkSession, st: IngestState,
                                      caller: String,
                                      upTo: Long = Long.MaxValue,
                                      forCompaction: Boolean = false): Unit = {
    val paths = Seq(st.ivfPath, st.pqPath, st.ivfPackedPath, st.pqPackedPath,
      st.semPath)
    val sets = paths.map(p => batchDirNames(spark, p)
      .map(_.stripPrefix("batch=").toLong).filter(_ <= upTo))
    val union = sets.reduce(_ union _)
    val unpaired = union -- sets.reduce(_ intersect _)
    if (unpaired.isEmpty) return
    // CONSOLIDATION SKEW: a compactState that crashed between tables
    // leaves some consolidated further than others. Every id a table
    // lacks must then be absorbed by its next-higher dir, and that dir
    // must carry the [[ConsolidatedMarker]] compactTable stamps on
    // every merge — a crashed append leaves an UNMARKED dir above its
    // gap (or no dir at all). This shape is NOT missing rows; the
    // remedy is finishing the compaction, and a forCompaction caller
    // IS that remedy, so it proceeds.
    val fs = fsFor(spark, st.root)
    val skew = paths.zip(sets).forall { case (path, s) =>
      val missing = union -- s
      missing.isEmpty || s.filter(_ > missing.max).minOption.exists(d =>
        fs.exists(new HPath(path, s"batch=$d/$ConsolidatedMarker")))
    }
    if (skew) {
      if (forCompaction) return
      sys.error(s"$caller: index tables are at different consolidation " +
        s"levels (batches ${unpaired.toSeq.sorted.mkString(", ")}) — an " +
        "interrupted compactState; re-run compactState to finish the " +
        "consolidation, then query")
    }
    sys.error(s"$caller: index batch directories disagree " +
      s"(ivf/pq/packed/sem): " +
      s"${unpaired.toSeq.sorted.map(b => s"batch=$b").mkString(", ")} — " +
      "an append crashed partway and was never replayed; replay the " +
      "batch (or rebuildIndexes) first")
  }

  /** IVFADC query face over the MAINTAINED tables: the ADC shortlist
    * scans the PERSISTED `pq_packed` code segments — pack-once, so a
    * serving call never re-joins or re-packs the corpus-sized code
    * table — and the rerank floats gather from `ivf_packed`
    * ([[graft.ops.Similarity.annIvfPqGatherRerank]]), so the index
    * root answers EXTERNAL queries alone and the docs table need not
    * exist on the serving side. Floats are touched only for the
    * `rerank` shortlist (∝ nq·rerank rows), never by the ADC
    * candidate stream. The candidate stage runs EAGERLY (one action)
    * so the gather can be pruned to the shortlist ids. `rerank = 0`
    * is the pure-ADC audit shape over the same code segments, pruned
    * to the probed lists. Byte-compatible with the one-shot
    * `annIvfPq` under the same persisted quantizers (segmentation
    * independence; `check_ingest_ann_replay`'s `ingest_search_*`
    * law). Conventions and guards as on every maintained face
    * ([[search]]). */
  def annIvfPqMaintained(spark: SparkSession, st: IngestState, a: AnnParams,
                         queries: DataFrame, k: Int, nprobe: Int,
                         rerank: Int = 32,
                         quantizers: Option[AnnQuantizers] = None,
                         idCol: String = "doc_id",
                         excludeSelf: Boolean = true): DataFrame =
    search(spark, st, a, queries, k, nprobe, None, Some(rerank), quantizers,
      idCol, excludeSelf, "annIvfPqMaintained")

  /** The one maintained ANN search behind the four query faces,
    * composed from three choices:
    *  - CANDIDATES: the persisted packed segments — read whole, or
    *    pruned to the probed lists at the parquet scan (`list IN (…)`)
    *    and unpacked, then semi-joined to `eligible`'s ids when a
    *    filter is given, with probing widened by the memoized
    *    selectivity ([[filteredNprobe]]);
    *  - SCORING: exact [[graft.functions.DotTopK]] over `ivf_packed`
    *    (`rerank = None`), or the ADC shortlist over `pq_packed`;
    *  - RERANK: for ADC with `rerank ≥ k`, floats are gathered from
    *    `ivf_packed` (a shortlist id the gather misses cannot occur:
    *    both packed tables are written from the same assignment rows
    *    per batch, and the parity guard below refuses asymmetric roots
    *    first); `rerank = 0` is pure ADC.
    *
    * Every call first runs [[requireIndexBatchParity]]: an append that
    * crashed partway leaves assignment partitions with no packed twin
    * (or the reverse), and a bare packed read would silently answer
    * from a partial index — the parity check (one listing per table,
    * metadata cost) fails loudly instead.
    *
    * `excludeSelf` (default true on the batch faces — the
    * dedup/self-query convention): id equality means same document;
    * an EXTERNAL query batch whose id namespace may collide with
    * corpus doc_ids must pass `false`, or a query sharing an id with
    * its true nearest corpus row silently loses that answer. */
  private def search(spark: SparkSession, st: IngestState, a: AnnParams,
                     queries: DataFrame, k: Int, nprobe: Int,
                     eligible: Option[DataFrame], rerank: Option[Int],
                     quantizers: Option[AnnQuantizers], idCol: String,
                     excludeSelf: Boolean, caller: String): DataFrame = {
    val q = quantizers.getOrElse(loadQuantizers(spark, st, a))
    requireIndexBatchParity(spark, st, caller)
    // the UNWRAPPED frame keys the memo (see filteredNprobe)
    val nprobeEff = eligible.fold(nprobe)(e =>
      filteredNprobe(spark, st, e, nprobe, q.cents.length))
    lazy val probed = Similarity.probedLists(queries, q.cents, nprobeEff,
      idCol, a.vecCol)
    // only the probed lists' segments can contribute candidates —
    // prune them at the parquet scan before paying the unpack
    def candidates(path: String, unpack: DataFrame => DataFrame): DataFrame = {
      val rows = unpack(readTable(spark, path)
        .where(col("list").isin(probed.toSeq: _*)))
      eligible.fold(rows)(e => rows.join(
        e.select(col(e.columns.head).as("nn_id")), Seq("nn_id"), "left_semi"))
    }
    rerank match {
      case None if eligible.isEmpty =>
        Similarity.annIvfFromPacked(readTable(spark, st.ivfPackedPath),
          queries, k, nprobeEff, q.cents, idCol = idCol, vecCol = a.vecCol,
          excludeSelf = excludeSelf)
      case None =>
        Similarity.annIvfFromIndex(candidates(st.ivfPackedPath,
            Similarity.ivfUnpack),
          queries, k, nprobeEff, q.cents, idCol = idCol, vecCol = a.vecCol,
          excludeSelf = excludeSelf)
      case Some(r) if r <= 0 =>
        Similarity.annIvfPqFromIndex(candidates(st.pqPackedPath,
            Similarity.pqUnpack),
          queries, k, nprobeEff, q.cents, q.books, idCol = idCol,
          vecCol = a.vecCol, excludeSelf = excludeSelf)
      case Some(r) =>
        // an ad-hoc filter has no persisted pack: the eligible codes
        // re-pack per call (the probed-eligible m-byte volume the scan
        // reads anyway); the shortlist's ids can only shrink, so the
        // float gather stays valid
        val codes =
          if (eligible.isEmpty) readTable(spark, st.pqPackedPath)
          else Similarity.pqPack(candidates(st.pqPackedPath,
            Similarity.pqUnpack), m = q.books.length)
        Similarity.annIvfPqGatherRerank(codes,
          readTable(spark, st.ivfPackedPath), queries, k, nprobeEff, probed,
          q.cents, q.books, r, idCol, a.vecCol, excludeSelf)
    }
  }

  private[streaming] def batchDirNames(spark: SparkSession, path: String): Set[String] =
    snapshotDirs(spark, path) match {
      case Some((_, entries)) => entries.map(_._1).toSet
      case None =>
        val fs = fsFor(spark, path)
        val root = new HPath(path)
        if (!fs.exists(root)) Set.empty
        else fs.listStatus(root)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
          .map(_.getPath.getName).toSet
    }

  /** One ingest batch against the maintained state; returns the
    * surviving rows. Steps and ORDER are the nightly recipe's:
    * within-batch exact dedup (min-id per digest) → bloom-probed
    * digest anti-join (prebuilt filter, maintained digest table) →
    * maintained-key near-dup scan → idempotent state appends
    * (partition overwrite ×3, bloom OR-merge). Safe to call for the
    * same `batchId` any number of times — see the replay contract in
    * the object scaladoc.
    *
    * `batch` must be DETERMINISTIC UNDER RECOMPUTE: the derivations
    * re-read it (the index append's encode and semantic passes read
    * the batch while its assignment is cache-pinned, and an evicted
    * cache block is recomputed from lineage), so a frame whose rows
    * change between evaluations — `rand`/`sample`/
    * `monotonically_increasing_id` upstream, a live table read — can
    * write assignment, packed and code partitions that disagree.
    * Pin such a source first (write it out, or `localCheckpoint`). */
  def ingestBatch(batch: DataFrame, batchId: Long, st: IngestState,
                  p: IngestParams,
                  quantizers: Option[AnnQuantizers] = None): DataFrame = {
    require(batchId >= 0, s"batch ids are >= 0 (got $batchId; -1 is the bootstrap)")
    val spark = batch.sparkSession
    requireWriterRoot(spark, st, "ingestBatch")
    // one metadata check per batch: admitting against state a crashed
    // deleteDocs half-purged is loud-refused, not absorbed — the
    // digest-last purge order keeps admission conservative, but an
    // operator interleaving ingest with unfinished maintenance should
    // hear about it, not discover it in the answers ([[start]] runs
    // the recovery automatically at stream startup)
    require(!fsFor(spark, st.root).exists(new HPath(
        st.root, DeletePendingDir)),
      s"a pending deleteDocs tombstone exists under ${st.root} — run " +
        "recoverDeletes(spark, st) (or re-issue the delete) before ingesting")
    // a crashed compaction's hidden tmp hides rows from the dedup
    // reads below — admitting against it would re-admit every
    // duplicate of the hidden window (one listing per table when
    // clean; ingestBatch is the single-writer context)
    ptime("recover+layout") {
      recoverCompactionSwaps(spark, st)
      requireLayoutMatch(spark, st, p)
    }
    // within-batch exact dedup: the flags window runs over NARROW
    // (doc_id, digest) rows (column pruning) and the semi-join back
    // broadcasts the small verdict side — measured FASTER than an
    // in-place full-row window filter, which drags the text column
    // through the digest shuffle+sort (r20 A/B: the "one shuffle"
    // rewrite shuffled ~30× more bytes and lost)
    val local = batch.join(
      Dedup.exactDupFlags(batch).where(!col("is_dup")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val bloom = ptime("readBloom")(
      Dedup.bloomFromBytes(readBloomBytes(spark, st)))
    val admitted = Dedup.incrementalNewBloom(local,
      readTable(spark, st.digestsPath, excludeBatch = batchId),
      expectedDigests = p.expectedDigests, fpp = p.fpp,
      corpusIsDigests = true, prebuilt = Some(bloom))
    val kept =
      if (!p.nearDup) admitted
      else {
        val nearIds = Dedup.incrementalNearDupNewFromKeys(admitted,
            readTable(spark, st.keysPath, excludeBatch = batchId),
            readTable(spark, st.docsPath, excludeBatch = batchId),
            p.shingleN, p.numHashes, p.bands, p.minJaccard, p.seed)
          .select(col("a").as("doc_id")).distinct()
        admitted.join(nearIds, Seq("doc_id"), "left_anti")
      }
    // pin the survivor rows BEFORE the state they were diffed against
    // moves (the later writes would otherwise change what a lazy
    // recompute of `kept` reads), and compute them once for the other
    // writes + the bloom build. The pin IS the docs-partition write:
    // `kept` reads every state table with its OWN batch excluded, so
    // writing `docs/batch=<id>` cannot feed back into the plan, and
    // re-reading the written partition gives exactly those rows from
    // disk. (A localCheckpoint would pin the same rows in BlockManager
    // storage — blocks that outlive the batch and accumulate across a
    // long-lived driver; parquet-on-state-dir is the same durability
    // the table needs anyway, for free.)
    // float-once layout: the survivor pin (with floats — the index
    // append's input) goes to a HIDDEN stage dir, the visible docs
    // partition is written slim from it, and the stage is dropped once
    // the index writes land. The stage plays exactly the docs-write's
    // pin role (kept's self-excluded reads are fixed on disk before
    // any state moves); a crash leaves only hidden dirs the replay
    // overwrites, and compactState sweeps orphans below the horizon.
    val slim = !p.storeEmbeddingsInDocs
    val stage = s"${st.docsPath}/$IngestStagePrefix$batchId"
    val survivors =
      if (slim) {
        ptime("stage_write")(kept.write.mode("overwrite").parquet(stage))
        spark.read.parquet(stage)
      } else {
        ptime("stage_write")(
          kept.write.mode("overwrite").parquet(s"${st.docsPath}/batch=$batchId"))
        spark.read.parquet(s"${st.docsPath}/batch=$batchId")
      }
    // everything below derives from the PINNED survivors — distinct
    // output paths, no cross-reads — so the per-table writes run as
    // one concurrent group (see [[inParallel]]: a crashed batch
    // re-delivers in full, so any completed subset replays to the
    // same state; the bloom stays over-approximate-safe in every
    // window because a maybe-hit verifies against the digest table)
    val group = Seq.newBuilder[() => Unit]
    if (slim)
      group += (() => ptime("docs_slim_write")(survivors.drop(p.ann.get.vecCol)
        .write.mode("overwrite").parquet(s"${st.docsPath}/batch=$batchId")))
    group += (() => ptime("digests_write")(digestRows(survivors)
      .write.mode("overwrite").parquet(s"${st.digestsPath}/batch=$batchId")))
    if (p.nearDup)
      group += (() =>
        Dedup.minhashBandKeys(survivors, p.shingleN, p.numHashes, p.bands, p.seed)
          .write.mode("overwrite").parquet(s"${st.keysPath}/batch=$batchId"))
    group += (() => ptime("stats_write")(partialStats(survivors)
      .write.mode("overwrite").parquet(s"${st.statsPath}/batch=$batchId")))
    group += (() => ptime("bloom_write")(
      writeBloomAtomic(spark, st.bloomPath, Dedup.mergeBloomBytes(
        readBloomBytes(spark, st),
        Dedup.bloomToBytes(Dedup.buildDigestBloom(survivors, p.expectedDigests, p.fpp))))))
    p.ann.foreach { a =>
      group += (() => ptime("appendIndexes")(appendIndexes(survivors, batchId, st, a,
        quantizers.getOrElse(loadQuantizers(spark, st, a)))))
    }
    ptime("write_group")(inParallel(group.result()))
    if (slim) {
      fsFor(spark, stage).delete(new HPath(stage), true)
      // the stage is gone — hand back the STORED survivor rows (the
      // slim partition), not a frame over a deleted dir
      spark.read.parquet(s"${st.docsPath}/batch=$batchId")
    } else survivors
  }

  private val IngestStagePrefix = ".ingest_stage_batch="

  /** One batch's contribution to the maintained corpus accounting —
    * a 1-row mergeable partial aggregate (counts and sums only, no
    * averages: those don't merge). Schema-agnostic on purpose: only
    * `text` is assumed, like the rest of the lifecycle. */
  private def partialStats(batch: DataFrame): DataFrame =
    batch.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(length(col("text")).cast("long")), lit(0L)).as("n_chars"),
      coalesce(sum(size(split(col("text"), "\\s+")).cast("long")), lit(0L))
        .as("n_ws_tokens"))

  /** Corpus totals from the maintained stats table — incremental view
    * maintenance for the accounting a nightly run reports: one
    * metadata-sized scan over #batches 1-row partials instead of a
    * full corpus re-aggregation, PLUS the op-keyed negative partials
    * completed deletes leave under `stats_deltas/` (one 1-row partial
    * per takedown application — accounting adjusts without ever
    * re-scanning corpus text; [[compactState]] folds them into
    * the stats table via [[foldStatsDeltas]] so they never accrete).
    * Same replay contract as every other state table (per-batch /
    * per-op overwrite ⇒ idempotent), and equality with a
    * from-scratch aggregation of the purged docs table is pinned by
    * ContinuousIngestSpec through deletes. */
  def readStats(spark: SparkSession, st: IngestState): DataFrame = {
    val base = readTable(spark, st.statsPath)
    // list the op dirs rather than existence-check the root: a fold
    // that retired every delta may leave an empty root behind, and an
    // empty-dir read has no schema to infer. Gate on `_SUCCESS` like
    // foldStatsDeltas: a delta dir without it is a crashed
    // applyPendingDelete mid-write — its pending intent rewrites it on
    // recovery; reading it here would fold a partial (or fail) into
    // monitoring totals
    val deltaDirs = {
      val fs = fsFor(spark, st.statsDeltasPath)
      val root = new HPath(st.statsDeltasPath)
      if (!fs.exists(root)) Array.empty[String]
      else fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("op="))
        .filter(s => fs.exists(
          new HPath(s.getPath, "_SUCCESS")))
        .map(_.getPath.toString)
    }
    val all =
      if (deltaDirs.nonEmpty)
        base.unionByName(
          spark.read.parquet(deltaDirs.toSeq: _*)
            .select("n_docs", "n_chars", "n_ws_tokens"))
      else base
    all.agg(sum(col("n_docs")).as("n_docs"), sum(col("n_chars")).as("n_chars"),
      sum(col("n_ws_tokens")).as("n_ws_tokens"))
  }

  // both maintained cell tables are monitorable: the semantic
  // spill assignments (cluster) and the IVF inverted lists (list)
  private def driftTable(st: IngestState, table: String): (String, String) =
    table match {
      case "sem" => (st.semPath, "cluster")
      case "ivf" => (st.ivfPath, "list")
      case other => sys.error(
        s"indexDrift: unknown table '$other' (expected 'sem' or 'ivf')")
    }

  /** Quantizer-staleness monitor for the maintained embedding indexes:
    * per-cell occupancy drift
    * ([[graft.ops.Similarity.occupancyDriftFromCounts]]) of everything
    * ingested SINCE the last (re)train against the snapshot taken AT
    * the (re)train — the reference era is the persisted
    * `drift_base` occupancy snapshot ([[writeDriftBase]], refreshed by
    * [[bootstrap]] and [[rebuildIndexes]]), and the recent era is the
    * current per-cell counts minus that snapshot. The train-once
    * quantizers never re-check that the corpus still looks like their
    * training sample — this is the nightly probe that does: when the
    * TVD trips the deployment threshold, run [[rebuildIndexes]].
    *
    * COMPACTION-PROOF BY CONSTRUCTION: neither side depends on batch
    * ids — the snapshot is a plain parquet table [[compactState]]
    * never touches, and the current counts are a partition-union
    * aggregate that consolidation preserves row-for-row — so the
    * monitor survives any interleaving of compaction and ingest
    * (batch-id era splits do not: collapsing ids below the horizon
    * empties the reference side, see [[indexDriftSinceBatch]]). Cells
    * that gained nothing since the snapshot drop out of the recent
    * era (count 0), and a cell whose count SHRANK below its snapshot
    * fails loudly — appends and id-collapsing compaction can never
    * shrink a cell, so that is a state mutation outside the lifecycle.
    * Cost: one metadata-sized aggregation over the assignment table —
    * never touches the corpus or the floats. */
  def indexDrift(spark: SparkSession, st: IngestState,
                 table: String = "sem"): DataFrame = {
    val (path, cellCol) = driftTable(st, table)
    // actionable error, not a buried AnalysisException: without the
    // reference era there is nothing to drift against
    if (!fsFor(spark, st.driftBasePath)
        .exists(new HPath(st.driftBasePath)))
      sys.error("indexDrift: no drift_base snapshot at " +
        s"${st.driftBasePath}; run rebuildIndexes (retrain + fresh " +
        "baseline) or snapshotDriftBase (baseline the CURRENT occupancy, " +
        "no retrain)")
    val base = spark.read.parquet(st.driftBasePath)
      .where(col("tbl") === lit(table))
      .select(col("cell"), col("cnt").as("cnt_ref"))
    val tot = spark.read.option("basePath", path).parquet(path)
      .groupBy(col(cellCol).as("cell")).agg(count(lit(1)).as("cnt_tot"))
    val recent = tot.join(base.select(col("cell"), col("cnt_ref").as("_base")),
        Seq("cell"), "full_outer")
      .select(col("cell"),
        (coalesce(col("cnt_tot"), lit(0L))
          - coalesce(col("_base"), lit(0L))).as("cnt_new"))
      .select(col("cell"),
        when(col("cnt_new") >= 0, col("cnt_new"))
          .otherwise(raise_error(format_string(
            "indexDrift: cell %s shrank below its drift_base snapshot " +
              "— state was mutated outside the append/compact lifecycle",
            col("cell").cast("string")))).as("cnt_new"))
      .where(col("cnt_new") > 0)
    // nothing ingested since the (re)train is the monitor's NORMAL
    // quiet state (e.g. the nightly probe right after a rebuild) —
    // report zero drift over the reference cells instead of tripping
    // the exact-TVD empty-side error, which guards MONITORING bugs
    // (an empty reference era), not an empty observation window
    if (recent.limit(1).count() == 0)
      base.select(col("cell"), col("cnt_ref"), lit(0L).as("cnt_new"),
        lit(0.0).as("share_delta"), lit(0.0).as("tvd"))
    else
      graft.ops.Similarity.occupancyDriftFromCounts(base, recent)
  }

  /** Batch-id era split of the same monitor: batches ≥ `sinceBatch`
    * against everything before them. Useful for AD-HOC windows ("last
    * week vs before"), but NOT compaction-proof — [[compactState]]
    * collapses committed ids, so a split below the compaction horizon
    * sees an empty reference era (loud [[graft.ops.Drift]] error, not
    * a silent wrong answer). The deployment monitor is [[indexDrift]];
    * use this face only on windows above the last compaction. */
  def indexDriftSinceBatch(spark: SparkSession, st: IngestState,
                           sinceBatch: Long, table: String = "sem"): DataFrame = {
    val (path, cellCol) = driftTable(st, table)
    val idx = spark.read.option("basePath", path).parquet(path)
    graft.ops.Similarity.occupancyDrift(
      idx.where(col("batch") < lit(sinceBatch)),
      idx.where(col("batch") >= lit(sinceBatch)), cellCol)
  }

  /** Periodic state-table maintenance: consolidate every `batch=`
    * partition with id ≤ `upToBatch` into ONE compacted partition per
    * table (docs, digests, keys, stats, and the embedding-index
    * tables when present) — under the HIGHEST COMMITTED id among
    * them, never `upToBatch` itself, so a horizon above the committed
    * ids cannot park state under a future batch id — leaving later
    * partitions untouched. Micro-batch sinks accrue one
    * directory + file set per batch; after thousands of batches the
    * listing/footer costs dominate every state read (the classic
    * small-files problem `sources.Warehouse.compact` exists for) —
    * this is that maintenance pass applied to the ingest lifecycle.
    *
    * SAFE BY THE LINEAGE CONTRACT: batch ids are lineage tags, not
    * semantics — every reader takes the partition UNION and the
    * dedup/index decisions key on content (digests, band keys, cell
    * assignments), so collapsing committed batches under one id
    * preserves every answer (NightlyIngestSpec pins the compacted
    * run against the untouched twin, state tables and survivors
    * both). Two rules: run it BETWEEN batches (the self-exclusion
    * read of an in-flight batch must still see its own id distinctly
    * — committed batches are the only ones compacted), and never
    * compact past ids the stream may still re-deliver (a replay of
    * batch `b` overwrites `batch=b/`, so compact only ids strictly
    * below the checkpoint's committed horizon — after an
    * AvailableNow drain, that is every id). The swap is CRASH-SAFE —
    * the merged rows land in a hidden tmp dir first, and the tmp is
    * authoritative ONLY once it carries Spark's `_SUCCESS` commit
    * marker: a pending move (marker present) is completed on the next
    * run; a tmp WITHOUT the marker is a mid-write crash whose sources
    * are still intact, so it is discarded and the compaction re-runs
    * from the sources — but not reader-atomic on a plain filesystem:
    * quiesce readers during the swap, or compact to a fresh root and
    * switch paths. All listing/delete/rename goes through the Hadoop
    * FileSystem API, so maintenance works on whatever filesystem the
    * state tables live on (HDFS/S3/local), same as the table I/O. */
  def compactState(spark: SparkSession, st: IngestState, upToBatch: Long,
                   targetRowsPerFile: Long = 1000000L): Unit = {
    requireWriterRoot(spark, st, "compactState")
    // a crashed deleteDocs first: its half-swapped partitions would
    // read as dir-set asymmetry to the parity guard below, and
    // consolidating around a pending tombstone would freeze
    // soon-to-be-purged rows into the merged partition
    recoverDeletes(spark, st)
    // consolidating ACROSS an index-table asymmetry would launder a
    // crashed append into a merged partition the parity guards can no
    // longer see (dir names match afterwards, rows don't). Check
    // parity below the horizon BEFORE touching ANY table (sem is in
    // the parity universe, so consolidating it first would feed the
    // check its own output); in-flight batches above the horizon are
    // the stream's to replay and don't block compaction.
    requireIndexBatchParity(spark, st, "compactState", upTo = upToBatch,
      forCompaction = true)
    // fold takedowns' per-op negative stats partials into the stats
    // table FIRST — its recovery honors a crashed fold's manifest
    // before the consolidation below could drop it (see the face's
    // crash contract)
    foldStatsDeltas(spark, st, upToBatch)
    // ...and the audit log's per-op dirs (same accretion-bounding
    // rule; content-preserving union, so no horizon applies)
    compactDeletesLog(spark, st, targetRowsPerFile)
    Seq(st.docsPath, st.digestsPath, st.keysPath, st.statsPath,
        st.semPath, st.ivfPath, st.pqPath)
      .foreach(p => compactTable(spark, p, upToBatch, targetRowsPerFile))
    // sweep the float-once layout's survivor stages orphaned by appends
    // that crashed below the replay horizon (an in-flight batch's stage
    // is left for its replay to overwrite)
    val docsRoot = new HPath(st.docsPath)
    val docsFs = fsFor(spark, st.docsPath)
    if (docsFs.exists(docsRoot)) docsFs.listStatus(docsRoot)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(IngestStagePrefix))
      .filter(_.getPath.getName.stripPrefix(IngestStagePrefix)
        .toLong <= upToBatch)
      .foreach(s => docsFs.delete(s.getPath, true))
    // the packed-segment table is DERIVED data: consolidating it is a
    // RE-PACK (unpack the per-batch segments, re-segment the union),
    // not a row union — per-batch packs of small batches fragment into
    // many under-filled segments, and a plain union would preserve the
    // fragmentation forever. Answers are segmentation-independent
    // (ivfPack's law), so the re-pack is also answer-preserving. Row
    // target scaled down: one packed row is ≈ 4 MiB, not a doc row.
    compactTable(spark, st.ivfPackedPath, upToBatch,
      math.max(1L, targetRowsPerFile / 4096L),
      rewrite = df => Similarity.ivfPack(Similarity.ivfUnpack(df),
        dim = packedDim(spark, st)))
    // the packed ADC table re-packs the same way (per-batch code
    // segments fragment exactly like the float segments)
    compactTable(spark, st.pqPackedPath, upToBatch,
      math.max(1L, targetRowsPerFile / 4096L),
      rewrite = df => Similarity.pqPack(Similarity.pqUnpack(df),
        m = packedAdcM(spark, st)))
  }

  /** Code width m of the maintained packed ADC table, from one
    * segment row (length(packed)/size(ids)) — metadata-cost peek for
    * the re-pack's segment auto-sizing. */
  private def packedAdcM(spark: SparkSession, st: IngestState): Int =
    spark.read.option("basePath", st.pqPackedPath).parquet(st.pqPackedPath)
      .select((length(col("packed")) / size(col("ids"))).cast("int").as("m"))
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(1)

  /** Vector dim of the maintained packed table, from one segment row
    * (size(packed)/size(ids)) — metadata-cost peek for the re-pack's
    * segment auto-sizing. */
  private def packedDim(spark: SparkSession, st: IngestState): Int =
    spark.read.option("basePath", st.ivfPackedPath).parquet(st.ivfPackedPath)
      .select((size(col("packed")) / size(col("ids"))).cast("int").as("d"))
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(1)

  private[streaming] def fsFor(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new HPath(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve leftover `.compact_tmp_batch=` swaps under one table
    * root — a hidden tmp dir (ignored by partition discovery) is
    * authoritative ONLY when it carries the `_SUCCESS` marker Spark
    * writes on commit: then it is the COMPLETE union of the parts ≤
    * its id as of its write, no parts ≤ id can appear later (batch
    * ids are monotone; compaction runs below the replay horizon), and
    * finishing the crashed run is: delete the remaining source parts,
    * move the tmp in. Without the marker the write itself crashed —
    * the tmp is PARTIAL and the sources are all still present
    * (compactTable deletes sources only after its marker check), so
    * the only safe move is to discard the tmp and re-compact from the
    * intact sources. Installing an unmarked tmp would replace intact
    * data with a partial copy — permanent loss. */
  private def resolveCompactionTmps(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    val root = new HPath(path)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".compact_tmp_batch="))
      .foreach { tmpSt =>
        val tmp = tmpSt.getPath
        val id = tmp.getName.stripPrefix(".compact_tmp_batch=").toLong
        if (fs.exists(new HPath(tmp, "_SUCCESS"))) {
          fs.listStatus(root)
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
            .map(_.getPath)
            .filter(_.getName.stripPrefix("batch=").toLong <= id)
            .foreach(p => fs.delete(p, true))
          // a false return (Hadoop's failure signal) must not be
          // swallowed: the tmp is the only complete copy now
          require(fs.rename(tmp, new HPath(root, s"batch=$id")),
            s"resolveCompactionTmps: recovery rename $tmp failed — tmp " +
              "retained, re-run compaction")
        } else {
          fs.delete(tmp, true)
        }
        ()
      }
  }

  /** Writer-context recovery of CRASHED COMPACTION swaps across every
    * batch-layout state table. A compactState that crashed between
    * deleting a table's source partitions and renaming the marked tmp
    * in leaves that table's rows visible ONLY inside a hidden
    * `.compact_tmp_batch=` dir — invisible to parquet discovery, so a
    * takedown capture taken in that window matches nothing, retires
    * its request as a no-op, and the later compaction recovery then
    * RESURRECTS the rows the takedown named (content survives, the
    * request is consumed, nothing is logged — silent right-to-be-
    * forgotten loss). Every single-writer face that reads state
    * before the next compactState must therefore resolve these swaps
    * first: [[deleteDocs]], [[processDeleteQueue]], [[ingestBatch]]
    * (a dedup decision against hidden rows would re-admit their
    * duplicates), and [[start]]'s deployment-startup recovery.
    * Cheap when clean: one listing per table root. */
  private def recoverCompactionSwaps(spark: SparkSession, st: IngestState): Unit =
    Seq(st.docsPath, st.digestsPath, st.keysPath, st.statsPath, st.semPath,
        st.ivfPath, st.pqPath, st.ivfPackedPath, st.pqPackedPath)
      .foreach(p => resolveCompactionTmps(spark, p))

  private def compactTable(spark: SparkSession, path: String, upToBatch: Long,
                           targetRowsPerFile: Long,
                           rewrite: DataFrame => DataFrame = identity): Unit = {
    val fs = fsFor(spark, path)
    val root = new HPath(path)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return
    def partsUpTo(id: Long): Array[HPath] = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath)
      .filter(_.getName.stripPrefix("batch=").toLong <= id)
    resolveCompactionTmps(spark, path)
    val parts = partsUpTo(upToBatch)
    if (parts.isEmpty) return
    if (parts.length == 1) return // nothing to consolidate
    // the consolidated partition takes the HIGHEST COMMITTED id ≤
    // upToBatch — never upToBatch itself, which may exceed the
    // committed horizon: parking state under a FUTURE batch id would
    // make that batch's later delivery both self-exclude the whole
    // corpus (re-admitting every duplicate) and overwrite-destroy it
    val targetId = parts.map(_.getName.stripPrefix("batch=").toLong).max
    // materialize the merged rows to the hidden tmp FIRST (the read
    // is lazy — deleting sources before the write would lose data);
    // `rewrite` lets derived tables re-shape on consolidation (the
    // packed-segment re-pack) — it must be answer-preserving
    val merged = rewrite(spark.read.parquet(parts.map(_.toString).toSeq: _*))
    val n = merged.count()
    val nFiles = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val tmp = new HPath(root, s".compact_tmp_batch=$targetId")
    fs.delete(tmp, true)
    merged.coalesce(nFiles).write.mode("overwrite").parquet(tmp.toString)
    // the recovery contract above hangs on the marker: if this
    // deployment disabled marksuccessfuljobs, deleting the sources
    // would leave a tmp that recovery must treat as partial — fail
    // loudly BEFORE any delete instead
    require(fs.exists(new HPath(tmp, "_SUCCESS")),
      s"compactTable: $tmp committed without a _SUCCESS marker " +
        "(mapreduce.fileoutputcommitter.marksuccessfuljobs must stay " +
        "enabled for crash-safe compaction) — sources left untouched")
    // stamp the output as a CONSOLIDATION (provenance-destroying). The
    // marker lands in the tmp BEFORE any source is deleted, so every
    // crash window either keeps the sources or installs a marked dir.
    fs.create(new HPath(tmp, ConsolidatedMarker), true).close()
    parts.foreach(p => fs.delete(p, true))
    require(fs.rename(tmp, new HPath(root, s"batch=$targetId")),
      s"compactTable: final rename $tmp failed — tmp retained (marked), " +
        "the next run's recovery completes the move")
    ()
  }

  private val FoldedOpsManifest = "_GRAFT_FOLDED_OPS"
  private val FoldTmpPrefix = ".fold_tmp_batch="

  /** Marker stamped INSIDE a `batch=` dir that [[compactTable]] built
    * by consolidating several source partitions (written into the
    * hidden tmp before any source is deleted, so it rides the same
    * crash-safe swap as the data; carried through takedown rewrites
    * by [[rewritePartition]]). Provenance is
    * partition-level in this engine — a consolidated dir's rows span
    * every batch below the compaction horizon, so per-batch faces
    * ([[rollbackBatch]]) must refuse it rather than attribute its
    * rows to the dir's id. `_`-prefixed: invisible to parquet
    * discovery, and the snapshot content stamp includes it. */
  private[streaming] val ConsolidatedMarker = "_GRAFT_CONSOLIDATED"

  /** Fold completed takedowns' negative stats partials
    * (`stats_deltas/op=*`, see [[applyPendingDelete]]) into the stats
    * table as ordinary partial rows — [[compactState]]'s maintenance
    * for the one per-op artifact metadata-cost takedowns leave
    * behind. Without it a root absorbing takedowns forever accretes
    * one tiny delta dir per op — the same small-files listing cost
    * compaction exists to bound; after the fold [[readStats]] reads
    * the adjustments as rows of the consolidated stats partition and
    * the delta dirs are gone.
    *
    * CRASH-SAFE by a manifest-carrying tmp swap: the folded rows land
    * in a hidden `.fold_tmp_batch=<id>` dir that is authoritative
    * ONLY with BOTH Spark's `_SUCCESS` and a `_GRAFT_FOLDED_OPS`
    * manifest naming the op dirs it absorbed. The manifest is what
    * makes the swap replayable — a recovered tmp without it could
    * not retire its sources, and refolding them would double-count —
    * so a manifest-less tmp is discarded as partial (its sources are
    * all still intact: deletions only start after both markers
    * exist). Completion order: install the tmp over the target
    * partition, THEN delete the manifest-named delta dirs, THEN drop
    * the manifest; every crash window replays to the same totals
    * (delta-dir deletion is idempotent, and the manifest rides the
    * authoritative partition until its sources are gone). Runs
    * BEFORE the stats table's consolidation in [[compactState]], so
    * a crashed fold's manifest is always honored before a rewrite
    * could drop it.
    *
    * Folds only into a partition at or below `upToBatch` — the same
    * replay-horizon rule as consolidation (a partition above the
    * horizon can be overwritten by its batch's re-delivery, which
    * would destroy the folded rows); with no such partition the
    * deltas simply wait for a later horizon. Delta dirs without
    * `_SUCCESS` belong to a crashed [[applyPendingDelete]] whose
    * pending intent [[recoverDeletes]] — already run by
    * [[compactState]] — rewrites; they are left alone here. */
  private def foldStatsDeltas(spark: SparkSession, st: IngestState,
                              upToBatch: Long): Unit = {
    val fs = fsFor(spark, st.statsPath)
    val statsRoot = new HPath(st.statsPath)
    val deltaRoot = new HPath(st.statsDeltasPath)
    if (!fs.exists(statsRoot)) return
    def readManifest(dir: HPath): Seq[String] = {
      val m = new HPath(dir, FoldedOpsManifest)
      if (!fs.exists(m)) Nil
      else {
        val in = fs.open(m)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          .filter(_.nonEmpty)
        finally in.close()
      }
    }
    // finish a crashed completion: delete the manifest-named delta
    // dirs (idempotent), then the manifest itself
    def retire(dir: HPath): Unit = {
      readManifest(dir).foreach(op =>
        fs.delete(new HPath(deltaRoot, s"op=$op"), true))
      fs.delete(new HPath(dir, FoldedOpsManifest), false)
      // a manifest temp that crashed before its rename is invisible to
      // recovery (by design) — sweep it so it can't accrete
      fs.delete(new HPath(dir, s".$FoldedOpsManifest.tmp"), false)
      ()
    }
    // recovery 1: resolve fold tmps — authoritative only with BOTH
    // markers (see the crash contract); otherwise partial, sources
    // intact, discard
    fs.listStatus(statsRoot)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(FoldTmpPrefix))
      .foreach { tmpSt =>
        val tmp = tmpSt.getPath
        val id = tmp.getName.stripPrefix(FoldTmpPrefix).toLong
        if (fs.exists(new HPath(tmp, "_SUCCESS")) &&
            fs.exists(new HPath(tmp, FoldedOpsManifest))) {
          fs.delete(new HPath(statsRoot, s"batch=$id"), true)
          require(fs.rename(tmp, new HPath(statsRoot, s"batch=$id")),
            s"foldStatsDeltas: recovery rename $tmp failed — tmp " +
              "retained, re-run compaction")
          retire(new HPath(statsRoot, s"batch=$id"))
        } else fs.delete(tmp, true)
        ()
      }
    // recovery 2: a manifest in a live partition is a fold that
    // crashed between its rename and its source retirement
    fs.listStatus(statsRoot)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .foreach(s => retire(s.getPath))
    // the fold proper
    if (!fs.exists(deltaRoot)) return
    val ops = fs.listStatus(deltaRoot)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("op="))
      .filter(s => fs.exists(new HPath(s.getPath, "_SUCCESS")))
      .map(_.getPath).sortBy(_.getName)
    if (ops.isEmpty) return
    val targets = fs.listStatus(statsRoot)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .filter(_ <= upToBatch)
    if (targets.isEmpty) return
    val targetId = targets.max
    val target = new HPath(statsRoot, s"batch=$targetId")
    val folded = spark.read.parquet(target.toString)
      .unionByName(spark.read.parquet(ops.map(_.toString).toSeq: _*)
        .select("n_docs", "n_chars", "n_ws_tokens"))
    val tmp = new HPath(statsRoot, s"$FoldTmpPrefix$targetId")
    fs.delete(tmp, true)
    folded.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    require(fs.exists(new HPath(tmp, "_SUCCESS")),
      s"foldStatsDeltas: $tmp committed without _SUCCESS " +
        "(mapreduce.fileoutputcommitter.marksuccessfuljobs must stay " +
        "enabled) — sources left untouched")
    // the manifest must be ALL-OR-NOTHING — its existence is what
    // makes the tmp authoritative to recovery, so a crash between
    // create and close must not leave an empty/truncated manifest
    // beside _SUCCESS (recovery would retire only the listed op dirs
    // and the unlisted-but-folded deltas would refold: double-counted
    // stats). Write to a dot-prefixed temp and rename it into place —
    // the same atomic-install discipline the partitions use.
    val manifestTmp = new HPath(tmp, s".$FoldedOpsManifest.tmp")
    val manifest = fs.create(manifestTmp, true)
    try manifest.write(ops.map(_.getName.stripPrefix("op="))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally manifest.close()
    require(fs.rename(manifestTmp, new HPath(tmp, FoldedOpsManifest)),
      s"foldStatsDeltas: manifest install under $tmp failed — tmp " +
        "left unmarked (recovery discards it; sources intact)")
    fs.delete(target, true)
    require(fs.rename(tmp, target),
      s"foldStatsDeltas: final rename $tmp failed — tmp retained " +
        "(marked), the next run's recovery completes the move")
    retire(target)
  }

  private val DeletePendingDir = ".delete_pending"
  private val DeleteDiscardedDir = ".delete_discarded"
  private val PurgeTmpPrefix = ".purge_tmp_batch="

  /** TOMBSTONE DELETE — remove documents from the maintained state by
    * id (the takedown / right-to-be-forgotten face a long-lived
    * corpus needs), WITHOUT retraining or rebuilding: every state
    * table (docs, digests, keys, stats, and the embedding-index
    * tables when present) is purged copy-on-write, rewriting only the
    * `batch=` partitions that actually contain a deleted row —
    * detected against EACH TABLE'S OWN layout with one pruned
    * key-column scan (id columns and the packed tables' id arrays,
    * never floats or code bytes), because batch layouts legitimately
    * diverge across tables: [[rebuildIndexes]] consolidates the index
    * set under `batch=-1` while docs keeps its lineage.
    *
    * Semantics after completion:
    *  - no read face (docs, dedup admit, any ANN/semantic search)
    *    ever sees a deleted doc again;
    *  - SURVIVOR rows are byte-identical (packed segments re-pack,
    *    which is answer-preserving by ivfPack/pqPack's
    *    segmentation-independence law);
    *  - re-ingesting a deleted doc's exact text is ADMITTED again
    *    (its digest leaves the admit table — that is what deletion
    *    means for a dedup engine), EXCEPT when another surviving doc
    *    still carries the same digest (possible only for a
    *    non-deduplicated bootstrap corpus): the digest then stays,
    *    and exact-dup admission keeps keying on the survivor;
    *  - the BLOOM is deliberately untouched: a bloom cannot unlearn,
    *    and it never needs to — a maybe-hit verifies against the
    *    (purged) digest table, so the stale bit costs one join row,
    *    never an answer (the same false-positive path as always);
    *  - `drift_base` is untouched: deletions are REAL occupancy drift
    *    and [[indexDrift]] should see them.
    *
    * CRASH-SAFE, idempotent, retry-to-complete: the tombstone set
    * (doc_id, op identity, per-doc stats factors) is captured and
    * committed to a hidden
    * pending dir FIRST (gated on Spark's `_SUCCESS`, like
    * compaction's tmp); each partition rewrite goes through a marked
    * `.purge_tmp_batch=` swap with the same recovery rules as
    * [[compactState]]; the pending dir is removed only after every
    * table is purged. A crash at ANY point is completed by
    * [[recoverDeletes]] — run automatically by the next
    * [[deleteDocs]], by [[compactState]], and at [[start]] — and any
    * partially-purged interval only ever YIELDS A SUPERSET of the
    * final answers (a deleted doc may still answer until retry
    * completes; nothing is ever invented or lost). Tables purge
    * index-first and the digest table LAST, so the exact-dup
    * admission test stays CONSERVATIVE across every crash window
    * (a digest never disappears before its doc does).
    *
    * Contract (same as [[compactState]]): run BETWEEN batches from
    * the single-writer maintenance context, quiesce queries AND
    * [[serve]] streams for the swaps (a serving batch replayed after
    * a delete rewrites its output with post-delete answers — current,
    * not frozen, but no longer byte-identical to the pre-crash
    * write), and only delete docs from COMMITTED batches — a replay
    * of an in-flight ingest batch rewrites its full partition set and
    * would resurrect the doc in every table at once (re-issue the
    * delete after the drain instead). `ids` must be broadcastable
    * (takedown-scale, not corpus-scale — removing a large fraction of
    * the corpus is a [[rebuildIndexes]]-class operation).
    *
    * Cost: NO corpus text reads at all. The capture is a join against
    * the slim per-doc digest table (~50 bytes/row, column-pruned), the
    * stats
    * adjustment is a 1-row NEGATIVE partial summed from the captured
    * per-doc factors (keyed by the capture-stamped application id —
    * overwrite-idempotent under recovery, additive across
    * applications), and the only remaining I/O is the
    * per-table pruned key-column detection scans plus one rewrite per
    * AFFECTED partition per table (which rewrites whatever columns
    * that partition holds — text is touched only inside affected docs
    * partitions, never corpus-wide; ContinuousIngestSpec pins this by
    * deleting from a root whose docs table has NO text column at
    * all).
    *
    * Returns the number of distinct docs actually deleted (requested
    * ids absent from the corpus are ignored). */
  def deleteDocs(spark: SparkSession, st: IngestState, ids: DataFrame): Long = {
    // complete crashed maintenance first — the capture below must see
    // a consistent root (this call is in the single-writer maintenance
    // context, the rebuildIndexes contract); compaction swaps BEFORE
    // the tombstone work, or the capture reads tables whose rows are
    // hidden in a crashed compaction's tmp (see recoverCompactionSwaps)
    requireWriterRoot(spark, st, "deleteDocs")
    recoverIndexSwap(spark, st, asWriter = true)
    recoverCompactionSwaps(spark, st)
    recoverDeletes(spark, st)
    // op identity + request time ride the committed intent, so the
    // audit row is deterministic across recovery re-runs (stamped at
    // capture, not completion) and the log write can be keyed +
    // overwrite-idempotent
    val opId = java.util.UUID.randomUUID().toString
    captureTombstone(spark, st,
      ids.select(col("doc_id")).distinct()
        .withColumn("op_id", lit(opId))
        .withColumn("requested_at", current_timestamp()))
    applyPendingDelete(spark, st)
  }

  /** Rows-per-file bound for the takedown artifacts (the tombstone
    * capture, the pending intent, the audit-log merges) — sized so a
    * typical takedown still writes one file, while a BULK purge (a
    * whole-domain takedown naming millions of ids) neither funnels
    * its capture join through one task nor produces one giant file.
    * Test seam (single-writer context; specs shrink it to force
    * multi-file layouts on small fixtures). */
  @volatile private[graft] var takedownRowsPerFile: Long = 4L * 1000L * 1000L

  /** The shared output-file clamp: ⌈nRows / rowsPerFile⌉ in [1, 10000]. */
  private def filesFor(nRows: Long, rowsPerFile: Long): Int =
    math.max(1L, math.min(10000L,
      (nRows + rowsPerFile - 1L) / rowsPerFile)).toInt

  /** Output-file count for a takedown artifact of ~`nRows` rows. Used
    * as `repartition(n)` — REPARTITION, never `coalesce(1)`: coalesce
    * pushes the 1-partition constraint up through the (broadcast)
    * capture join, serializing the whole detection scan into one
    * task; the tiny round-robin shuffle decouples the join's
    * parallelism from the artifact's file count. */
  private[graft] def takedownFilesFor(nRows: Long): Int =
    filesFor(nRows, takedownRowsPerFile)

  /** Capture + commit the tombstone intent for `reqs` — `(doc_id,
    * op_id, requested_at)` rows, possibly spanning several takedown
    * requests ([[processDeleteQueue]] passes a union of queued ops; a
    * doc named by two requests purges once but is attributed to BOTH
    * ops in the audit log). Ids absent from the corpus drop out here.
    * One join against the slim per-doc digest table (metadata cost,
    * no text reads) picks up each matched doc's stats factors; the
    * pending dir's `_SUCCESS` is the commit point. */
  private def captureTombstone(spark: SparkSession, st: IngestState,
                               reqs: DataFrame,
                               excludeBatch: Long = Long.MinValue): Unit = {
    // pin the distinct requested ids ONCE: the set is used twice (the
    // file-count bound below, the broadcast capture join), and a
    // deleteDocs caller may pass a COMPUTED frame (a corpus scan
    // selecting ids) whose re-evaluation per use would double the
    // takedown's detection cost. Request-sized blocks, dropped with
    // the frame.
    val del = reqs.select("doc_id").distinct().localCheckpoint()
    // bounds the artifact files: pending rows are ≤ the distinct
    // requested ids (matched docs; multi-op attribution joins back
    // against `reqs`)
    val nFiles = takedownFilesFor(del.count())
    // `excludeBatch` keeps an IN-FLIGHT ingest batch's rows out of
    // the capture (the stream-boundary drain): purging a doc the
    // replay window still re-delivers would be resurrected by the
    // replay's partition overwrite — such docs are "not yet
    // committed" at process time and are judged then, like any id
    // that hasn't arrived.
    //
    // `app_id` is stamped per CAPTURE, not per request: it is the
    // application identity the stats-delta key needs. Two
    // applications of the SAME op ids are a real possibility — a
    // processDeleteQueue crash after the purge but before the queue
    // retires, followed by a legitimate re-ingest of a purged doc,
    // makes the retry's re-capture non-empty — and each application
    // purged real rows, so each must leave its OWN negative stats
    // partial (a reused key would overwrite the first application's
    // delta and permanently overcount). Recovery re-runs replay the
    // COMMITTED tombstone, so they see the same app_id and stay
    // overwrite-idempotent.
    readTable(spark, st.digestsPath, excludeBatch = excludeBatch)
      .join(broadcast(del), Seq("doc_id"))
      .select(col("doc_id"), col("n_chars"), col("n_ws_tokens"))
      .join(broadcast(reqs.select("doc_id", "op_id", "requested_at")),
        Seq("doc_id"))
      .withColumn("app_id", lit(java.util.UUID.randomUUID().toString))
      .select("doc_id", "op_id", "requested_at", "app_id", "n_chars",
        "n_ws_tokens")
      .repartition(nFiles).write.mode("overwrite")
      .parquet(s"${st.root}/$DeletePendingDir")
  }

  /** Complete a [[deleteDocs]] interrupted by a crash. Idempotent and
    * cheap when there is nothing to do (one existence check); run
    * automatically by [[deleteDocs]], [[compactState]], and
    * [[start]]. A pending dir WITHOUT its `_SUCCESS` marker is a
    * crash inside the tombstone write itself — nothing was purged
    * yet (purges only start after the marker), and the set is
    * incomplete, so it cannot be applied: the dir is parked under
    * `.delete_discarded` (replacing any earlier parked copy) with a
    * LOUD stderr warning naming the remedy, because this recovery
    * runs automatically from [[start]]/[[compactState]]/[[bootstrap]]
    * and a silently vanishing takedown intent — return 0 reads as
    * "nothing pending" — would simply forget a deleted-content
    * request. RE-ISSUE THE DELETE; the parked dir is evidence, not
    * state (no read path ever consults it), and the next discard
    * replaces it. Returns the number of docs whose completed delete
    * this call finished (0 when there was nothing pending). */
  def recoverDeletes(spark: SparkSession, st: IngestState): Long = {
    val fs = fsFor(spark, st.root)
    val pending = new HPath(st.root, DeletePendingDir)
    if (!fs.exists(pending)) return 0L
    if (!fs.exists(new HPath(pending, "_SUCCESS"))) {
      val parked = new HPath(st.root, DeleteDiscardedDir)
      fs.delete(parked, true)
      if (!fs.rename(pending, parked)) fs.delete(pending, true)
      Console.err.println(
        s"[graft] WARNING: discarded an UNCOMMITTED deleteDocs tombstone " +
          s"under ${st.root} (a crash inside the intent capture — nothing " +
          s"was purged, and the set is incomplete). The takedown did NOT " +
          s"happen: RE-ISSUE THE DELETE. Evidence parked at " +
          s"${st.root}/$DeleteDiscardedDir.")
      return 0L
    }
    applyPendingDelete(spark, st)
  }

  /** INCIDENT RESPONSE: purge every doc FIRST SEEN in ingest batch
    * `batchId` — the "a poisoned delivery shipped in batch N" runbook
    * face. Selection is the batch's own docs partition (one pruned
    * partition read — [[ingestBatch]] admits a doc into `batch=<id>`
    * exactly when it was first seen there, duplicates having been
    * dropped against earlier state), and the purge is [[deleteDocs]]
    * wholesale: every index/dedup table, audited under one op id,
    * crash-safe, and propagated to snapshots/backups by the takedown
    * staleness clock. Because the digests leave the admit table, a
    * CORRECTED re-delivery of the same doc ids is admitted again —
    * rollback never blocks the fix.
    *
    * What it does NOT do (same contract as [[deleteDocs]], stated
    * here because "rollback" suggests more): it removes the batch's
    * CONTENT; it does not undo admission decisions made while that
    * content was present — a later doc dropped as a duplicate of a
    * batch-`batchId` doc stays dropped until re-delivered.
    *
    * REFUSALS, all loud — attributing a consolidated partition's rows
    * to its dir id would purge everything below the old compaction
    * horizon:
    *  - `batchId = -1`: the bootstrap is the root's founding
    *    population; "rolling it back" is a rebuild — start a fresh
    *    root.
    *  - no `docs/batch=<id>` dir: the batch was never ingested, or
    *    compaction already merged it away. Partition-level provenance
    *    means THE ROLLBACK WINDOW IS THE COMPACTION HORIZON LAG —
    *    size `compactEveryNBatches` × the batch cadence to cover the
    *    incident-response window; past it, issue [[deleteDocs]] with
    *    the delivery's doc ids from source lineage.
    *  - the dir carries [[ConsolidatedMarker]] (stamped by every
    *    consolidation, carried through takedown rewrites).
    *
    * Single-writer maintenance context, like every writer face.
    * Returns the number of docs purged (0 for an admitted-empty
    * batch — every row was a duplicate). */
  def rollbackBatch(spark: SparkSession, st: IngestState,
                    batchId: Long): Long = {
    requireWriterRoot(spark, st, "rollbackBatch")
    require(batchId >= 0L,
      s"rollbackBatch: batch=$batchId is the bootstrap — the root's " +
        "founding population, not a delivery; rolling it back is a " +
        "rebuild (start a fresh root from corrected sources)")
    // a crashed compaction swap could HIDE the batch's real partition
    // (or hide the consolidated dir this face must refuse) — resolve
    // swaps before reading the layout, like every single-writer entry
    recoverCompactionSwaps(spark, st)
    val fs = fsFor(spark, st.docsPath)
    val dir = new HPath(st.docsPath, s"batch=$batchId")
    if (!fs.exists(dir))
      sys.error(s"rollbackBatch: no docs/batch=$batchId under " +
        s"${st.root} — the batch was never ingested, or compactState " +
        "already consolidated it (provenance is partition-level; the " +
        "rollback window is the compaction horizon lag). For a " +
        "consolidated batch, issue deleteDocs with the delivery's doc " +
        "ids from source lineage instead.")
    require(!fs.exists(new HPath(dir, ConsolidatedMarker)),
      s"rollbackBatch: docs/batch=$batchId is a CONSOLIDATED " +
        "partition — its rows span every batch below the compaction " +
        "horizon, not one delivery; rolling it back would purge them " +
        "all. Issue deleteDocs with the delivery's doc ids from " +
        "source lineage instead.")
    deleteDocs(spark, st,
      spark.read.parquet(dir.toString).select("doc_id"))
  }

  /** Introspect the ROLLBACK WINDOW: which deliveries [[rollbackBatch]]
    * can still undo, and where the compaction horizon sits — so an
    * operator sizes `compactEveryNBatches` against the
    * incident-response window from MEASUREMENT instead of from
    * rollbackBatch's refusal message. One metadata-cost row
    * (dir listings + marker existence checks, no data read):
    *  - `oldest_rollbackable` / `newest_batch` — the id range of
    *    standing per-delivery docs partitions (`batch=` dirs ≥ 0
    *    without [[ConsolidatedMarker]]); null when every delivery has
    *    been consolidated away;
    *  - `n_rollbackable` — how many such partitions stand;
    *  - `compaction_horizon` — the highest CONSOLIDATED partition id
    *    (every delivery at or below it is past the window); null
    *    before the first consolidation.
    * Read-only by design: it does NOT resolve crashed compaction
    * swaps (that is a writer's entry step — [[rollbackBatch]] itself
    * does it), so a dir hidden by a mid-crash swap shows up only
    * after the next writer face runs recovery. */
  def rollbackWindow(spark: SparkSession, st: IngestState): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, st.docsPath)
    val root = new HPath(st.docsPath)
    val dirs =
      if (!fs.exists(root)) Seq.empty[(Long, Boolean)]
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        // tolerant parse: this is an operator-facing READER, and a
        // stray non-numeric `batch=` dir (external tooling, manual
        // debris) must not break introspection wholesale — the
        // writer-side call sites keep assuming their own layout. The
        // Try scopes to the NAME parse only: an fs.exists I/O error is
        // a real failure and must propagate, not silently drop the
        // batch from the window (an undercounted window would size
        // compactEveryNBatches from wrong measurement)
        .flatMap(s => scala.util.Try(
            s.getPath.getName.stripPrefix("batch=").toLong).toOption
          .map(id => (id,
            fs.exists(new HPath(s.getPath, ConsolidatedMarker)))))
        .filter(_._1 >= 0L)
    val rollbackable = dirs.collect { case (id, false) => id }
    val horizon = dirs.collect { case (id, true) => id }
      .sorted.lastOption
    Seq((rollbackable.sorted.headOption, rollbackable.sorted.lastOption,
      rollbackable.size.toLong, horizon))
      .toDF("oldest_rollbackable", "newest_batch", "n_rollbackable",
        "compaction_horizon")
  }

  /** Purge every state table of the committed pending tombstone set,
    * then retire it. Affected partitions are detected against EACH
    * TABLE'S OWN batch layout (one pruned key-column scan per table;
    * the packed tables through their id arrays, never the payload
    * bytes) — layouts legitimately diverge across tables:
    * [[rebuildIndexes]] consolidates the index set under `batch=-1`
    * while docs keeps its lineage, and a compaction that crashed
    * between tables leaves a mixed horizon until its next run. A
    * shared-lineage shortcut would silently no-op the index purge
    * after a rebuild, leaving deleted docs searchable with no corpus
    * row. Idempotent: a recovery re-run detects nothing in
    * already-purged tables and skips them. TIER order is part of the
    * crash contract — index tables first, then docs, stats, digests
    * LAST (see [[deleteDocs]]) — but within a tier the tables, and
    * within a table its affected partitions, purge CONCURRENTLY:
    * each partition rewrite is an independent marked swap, and
    * per-rewrite job overhead dominates a takedown's cost, so the
    * tiering collapses ~#affected-partitions sequential jobs to four
    * tier critical paths.
    *
    * Stats: the tombstone carries the per-doc length/token factors
    * captured from the digest table, so the adjustment is ONE 1-row
    * NEGATIVE partial (count/char/token sums over the distinct
    * tombstoned docs) written app-keyed under `stats_deltas/` —
    * overwrite-idempotent across recovery re-runs (the tombstone is
    * the deterministic input), summed by [[readStats]] beside the
    * per-batch positives, and never touching corpus text. A crash
    * anywhere between the stats adjustment and the pending retire
    * replays idempotently — the pending dir retires strictly last. */
  private def applyPendingDelete(spark: SparkSession, st: IngestState): Long = {
    val fs = fsFor(spark, st.root)
    val pending = new HPath(st.root, DeletePendingDir)
    val tomb = spark.read.parquet(pending.toString)
    val tombIds = tomb.select("doc_id").distinct()
    def anti(keyCol: String): DataFrame => DataFrame =
      df => df.join(broadcast(tombIds.select(col("doc_id").as(keyCol))),
        Seq(keyCol), "left_anti")
    // affected dirs for ONE table, against its own layout: pruned
    // key-column scan semi-joined with the broadcast tombstones
    def affected(path: String, keyCol: String, packedIds: Boolean): Seq[Long] = {
      val withB = spark.read.option("basePath", path).parquet(path)
      val keyed =
        if (packedIds) withB.select(col("batch"), explode(col("ids")).as(keyCol))
        else withB.select(col("batch"), col(keyCol))
      keyed.join(broadcast(tombIds.select(col("doc_id").as(keyCol))),
          Seq(keyCol), "left_semi")
        .select(col("batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    // packed-geometry peeks taken ONCE, before any rewrite
    val hasIvfPacked = fs.exists(new HPath(st.ivfPackedPath))
    val hasPqPacked = fs.exists(new HPath(st.pqPackedPath))
    val dimV = if (hasIvfPacked) packedDim(spark, st) else 1
    val mV = if (hasPqPacked) packedAdcM(spark, st) else 1
    // detect + rewrite one table's affected partitions; each
    // partition is an independent marked swap, so they run as a
    // concurrent group (see [[inParallel]] — recovery re-detects and
    // completes/discards per partition, exactly as before)
    def purgeTable(path: String, keyCol: String, packedIds: Boolean,
                   purge: DataFrame => DataFrame): Unit =
      if (fs.exists(new HPath(path))) {
        resolvePurgeTmps(spark, path)
        inParallel(affected(path, keyCol, packedIds)
          .map(b => () => rewritePartition(spark, path, b, purge)))
      }
    // TIER 1 — the index-side tables (+ band keys), CONCURRENTLY: the
    // crash contract orders TIERS (index before docs before stats,
    // digests last), never tables within a tier, and a takedown's
    // dominant cost is per-rewrite job overhead (~48 small jobs at
    // the measured 200k root) that tiering collapses to ~4 critical
    // paths. (path, key column, packed-ids layout, purge rewrite)
    inParallel(Seq[(String, String, Boolean, DataFrame => DataFrame)](
      (st.ivfPath, "nn_id", false, anti("nn_id")),
      (st.ivfPackedPath, "nn_id", true, { df: DataFrame =>
        Similarity.ivfPack(anti("nn_id")(Similarity.ivfUnpack(df)), dim = dimV) }),
      (st.pqPath, "vec_id", false, anti("vec_id")),
      (st.pqPackedPath, "nn_id", true, { df: DataFrame =>
        Similarity.pqPack(anti("nn_id")(Similarity.pqUnpack(df)), m = mV) }),
      (st.semPath, "id", false, anti("id")),
      (st.keysPath, "id", false, anti("id")))
      .map { case (path, keyCol, packedIds, purge) =>
        () => purgeTable(path, keyCol, packedIds, purge)
      })
    // TIER 2 — docs
    purgeTable(st.docsPath, "doc_id", packedIds = false, anti("doc_id"))
    // stats: subtract a 1-row NEGATIVE partial — app-keyed overwrite
    // under stats_deltas/, deterministic from the committed tombstone,
    // so recovery re-runs rewrite identical rows; corpus text is never
    // read. One delta per APPLICATION, keyed by the capture-stamped
    // app_id: unique across applications — a queued-takedown retry
    // whose re-capture is non-empty (ids re-ingested after the first
    // application purged them) is a SECOND application of the same op
    // ids, and both purged real rows, so both deltas must count (an
    // op-keyed overwrite here would destroy the first and permanently
    // overcount stats).
    val n = tombIds.count()
    if (n > 0 && fs.exists(new HPath(st.statsPath))) {
      val appId = tomb.agg(min(col("app_id"))).head().getString(0)
      tomb.select("doc_id", "n_chars", "n_ws_tokens").distinct()
        .agg((-count(lit(1))).cast("long").as("n_docs"),
          (-coalesce(sum(col("n_chars")), lit(0L))).cast("long").as("n_chars"),
          (-coalesce(sum(col("n_ws_tokens")), lit(0L))).cast("long")
            .as("n_ws_tokens"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${st.statsDeltasPath}/op=$appId")
    }
    // the admit key goes last — a digest is never gone while its doc
    // remains, so every crash window keeps exact-dup admission
    // conservative (identical re-ingest stays dropped until the
    // delete fully completes). The rows are per-doc, so the purge is
    // the same doc_id anti-join as every other table — a digest
    // another surviving doc carries stays with that doc's row.
    purgeTable(st.digestsPath, "doc_id", packedIds = false, anti("doc_id"))
    // audit trail BEFORE the intent retires: a takedown must stay
    // provable after its tombstone is destroyed. (doc_id, op_id,
    // requested_at) only — deliberately NO digest and NO text, so the
    // log itself cannot resurrect the forgotten content. One dir per
    // op (a queued purge logs each request under its own op), written
    // as a MERGE — union + distinct with any existing op dir, through
    // a marked-tmp swap — never a bare overwrite: a second
    // application of the same op (queued-takedown retry after a
    // purged id was legitimately re-ingested) captures only the
    // re-ingested subset, and overwriting would replace the first
    // application's audit rows with that subset, making the takedown
    // unprovable. Recovery re-runs replay the same rows, so the
    // union stays duplicate-free (distinct over identical rows).
    if (n > 0) {
      val logRoot = s"${st.root}/deletes_log"
      val logFs = fsFor(spark, logRoot)
      tomb.select("op_id").distinct().collect().map(_.getString(0))
        .foreach { opId =>
          val target = new HPath(logRoot, s"op=$opId")
          val tmp = new HPath(logRoot, s"$LogTmpPrefix$opId")
          // resolve a leftover swap first: a tmp WITH _SUCCESS whose
          // target is gone is a crash between target-delete and
          // rename (finish the move — it holds the complete union of
          // its time); anything else is reproducible in-flight work
          // (the pending intent that wrote it is still the one being
          // applied), so discard and re-merge
          if (logFs.exists(tmp)) {
            if (logFs.exists(new HPath(tmp, "_SUCCESS")) &&
                !logFs.exists(target))
              require(logFs.rename(tmp, target),
                s"applyPendingDelete: log recovery rename $tmp failed " +
                  "— tmp retained, re-run recovery")
            else logFs.delete(tmp, true)
          }
          val fresh = tomb.where(col("op_id") === lit(opId))
            .select(col("doc_id"), col("op_id"), col("requested_at"))
          val merged =
            (if (logFs.exists(target))
               fresh.unionByName(spark.read.parquet(target.toString)
                 .select("doc_id", "op_id", "requested_at"))
             else fresh).distinct()
          // bounded like every takedown artifact (the tombstone count
          // bounds this op's fresh rows; a previously-merged dir is
          // the same order of magnitude)
          merged.repartition(takedownFilesFor(n))
            .write.mode("overwrite").parquet(tmp.toString)
          require(logFs.exists(new HPath(tmp, "_SUCCESS")),
            s"applyPendingDelete: $tmp committed without _SUCCESS " +
              "(mapreduce.fileoutputcommitter.marksuccessfuljobs must " +
              "stay enabled) — target left untouched")
          logFs.delete(target, true)
          require(logFs.rename(tmp, target),
            s"applyPendingDelete: log rename $tmp failed — tmp " +
              "retained (marked), the next recovery completes the move")
        }
    }
    fs.delete(pending, true)
    n
  }

  private val DeleteQueueDir = ".delete_queue"
  private val EnqueueTmpPrefix = ".enqueue_tmp_"
  /** How long an [[enqueueDelete]] temp's SUBTREE must have been
    * untouched before the drain sweeps it as a crash leak. Staleness
    * is judged on the newest mtime anywhere under the temp, not the
    * top-level dir's: a live bulk enqueue stages task output in
    * nested `_temporary` dirs, so the top dir's mtime stays pinned at
    * job start for the whole write — sweeping on it would delete a
    * running write out from under its committer. Sized with a wide
    * margin over any plausible single-write duration (the write is
    * request-sized and bounded-files). Test seam. */
  @volatile private[graft] var enqueueTmpGraceMs: Long = 60L * 60L * 1000L
  /** Hidden swap dir for the audit-log merge ([[applyPendingDelete]]) —
    * dot-prefixed, so parquet readers of `deletes_log/` never see it. */
  private val LogTmpPrefix = ".log_tmp_op="

  /** Queue a takedown request WITHOUT purging — the batched-takedown
    * face: requests accumulate as committed id sets (one `op=` dir
    * each, `_SUCCESS`-gated) and [[processDeleteQueue]] drains them
    * ALL in ONE purge pass, so N queued requests cost one set of
    * detection scans + partition rewrites instead of N (the per-op
    * fixed job overhead is the dominant cost of small takedowns —
    * SCALING.md measures a single 1000-id op at ~10 s on 200k docs
    * even with the tiered-concurrent rewrites, and a 3-op drain at
    * ~9 s vs ~22 s sequential). Queued
    * requests don't block ingest (only an in-flight tombstone intent
    * does); each request keeps its own op identity + request
    * timestamp, so the audit log attributes every doc to the request
    * that named it even through a coalesced purge. Returns the
    * request's op id. */
  def enqueueDelete(spark: SparkSession, st: IngestState,
                    ids: DataFrame): String = {
    requireWriterRoot(spark, st, "enqueueDelete")
    val opId = java.util.UUID.randomUUID().toString
    val fs = fsFor(spark, st.root)
    // ATOMIC PUBLISH — write to a hidden temp, then rename into the
    // queue: with the stream-boundary drain ([[start]]'s
    // `drainQueuedDeletes`), enqueues are CONCURRENT with drains by
    // design, and an in-place write would expose a half-written
    // request dir to a drain's listing (discarded as torn, or worse,
    // half-read). After the rename, every `op=` dir in the queue is
    // committed by construction; the temp is dot-prefixed, so drains
    // never look at it. A crash before the rename leaks only the
    // hidden temp (the caller never received the op id — re-issue).
    val tmp = new HPath(s"${st.root}/$DeleteQueueDir/$EnqueueTmpPrefix$opId")
    // pin the id set once (a computed ids frame would otherwise be
    // evaluated for the count AND the write), then bound the files
    // like every takedown artifact — coalesce(1) would serialize the
    // caller's whole id-derivation into one task on a bulk enqueue
    val del = ids.select(col("doc_id")).distinct().localCheckpoint()
    del.withColumn("op_id", lit(opId))
      .withColumn("requested_at", current_timestamp())
      .repartition(takedownFilesFor(del.count()))
      .write.mode("overwrite").parquet(tmp.toString)
    require(fs.exists(new HPath(tmp, "_SUCCESS")),
      s"enqueueDelete: $tmp committed without _SUCCESS " +
        "(mapreduce.fileoutputcommitter.marksuccessfuljobs must stay " +
        "enabled) — request not published")
    val dst = new HPath(s"${st.root}/$DeleteQueueDir/op=$opId")
    require(fs.rename(tmp, dst),
      s"enqueueDelete: publish rename $tmp -> $dst failed — request " +
        "not published, re-issue")
    opId
  }

  /** Drain every committed queued takedown request in ONE purge pass:
    * union the request id sets, capture ONE tombstone intent (docs
    * named by several requests purge once, audit under each), apply
    * it, then retire the drained request dirs. Crash-safe by
    * composition of the existing disciplines: a crash after the
    * intent committed is completed by [[recoverDeletes]] (run here
    * first, like every maintenance face), and a retry's re-capture
    * covers only ids still (or again) present — usually empty, but a
    * purged id legitimately RE-INGESTED before the retry is a real
    * second application of the same op: its purge subtracts its own
    * capture-keyed stats delta (never overwriting the first
    * application's), and the audit log MERGES (union + distinct)
    * into the op dir instead of overwriting, so the first
    * application's rows stay provable. Same contract as [[deleteDocs]]
    * otherwise (single-writer maintenance context, between batches,
    * committed ids only — judged at PROCESS time). Returns the number
    * of distinct docs purged by this drain.
    *
    * `excludeBatch`: the id of an ingest batch the stream may still
    * RE-DELIVER (the [[start]] boundary drain passes the batch about
    * to ingest) — its rows stay out of the capture, because a replay's
    * partition overwrite would resurrect anything purged from it.
    * Such docs are simply not committed yet at process time. */
  def processDeleteQueue(spark: SparkSession, st: IngestState,
                         excludeBatch: Long = Long.MinValue): Long = {
    requireWriterRoot(spark, st, "processDeleteQueue")
    recoverIndexSwap(spark, st, asWriter = true)
    // BEFORE the capture: a crashed compaction's hidden tmp would
    // otherwise make this drain judge queued ids against tables whose
    // rows it cannot see — retiring the requests as no-ops while the
    // later compaction recovery resurrects the named docs
    recoverCompactionSwaps(spark, st)
    recoverDeletes(spark, st)
    val fs = fsFor(spark, st.root)
    val qRoot = new HPath(st.root, DeleteQueueDir)
    if (!fs.exists(qRoot)) return 0L
    // sweep temps a CRASHED enqueueDelete leaked (drains only ever
    // list op= dirs, so nothing else would reclaim them): judged on
    // the NEWEST mtime in the temp's subtree — a live concurrent
    // enqueue keeps touching nested task files while its top dir's
    // mtime stays pinned at job start — and only beyond the wide
    // grace window; a swept temp's caller never received an op id,
    // exactly like the torn-dir case below
    val nowMs = System.currentTimeMillis()
    def newestMtime(p: HPath): Long = {
      val ss = fs.listStatus(p)
      (fs.getFileStatus(p).getModificationTime +:
        ss.map(s => if (s.isDirectory) newestMtime(s.getPath)
                    else s.getModificationTime).toSeq).max
    }
    fs.listStatus(qRoot)
      .filter { d =>
        d.isDirectory && d.getPath.getName.startsWith(EnqueueTmpPrefix) && {
          // the temp can VANISH mid-walk: enqueueDelete publishes by
          // renaming it away, and enqueues are concurrent with this
          // drain by design — a vanished temp (or child) is a
          // PUBLISHED request, not a leak; skip it
          try nowMs - newestMtime(d.getPath) > enqueueTmpGraceMs
          catch { case _: java.io.FileNotFoundException => false }
        }
      }
      .foreach { d =>
        Console.err.println(s"[graft] WARNING: sweeping a crashed " +
          s"enqueueDelete temp at ${d.getPath} (subtree untouched " +
          "beyond the publish grace window — its caller never " +
          "received an op id); re-issue the request if it was real.")
        fs.delete(d.getPath, true)
      }
    // only published `op=` dirs — committed by construction (enqueue
    // publishes by rename): an in-flight enqueue's hidden temp
    // (concurrent with this drain by design under the stream-boundary
    // face) is dot-prefixed and must not be touched — its rename will
    // publish it for a LATER drain
    val committed = fs.listStatus(qRoot)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("op="))
      .map(_.getPath)
    if (committed.isEmpty) return 0L
    val reqs = spark.read.parquet(committed.map(_.toString).toSeq: _*)
      .select("doc_id", "op_id", "requested_at")
    captureTombstone(spark, st, reqs, excludeBatch)
    val n = applyPendingDelete(spark, st)
    // retire the drained requests strictly AFTER the purge completed —
    // a crash above replays into an empty re-capture (ids already
    // purged), and the queue clears on the retry
    committed.foreach(d => fs.delete(d, true))
    n
  }

  /** The takedown audit log: one row per deleted doc per completed
    * [[deleteDocs]] operation — `(doc_id, op_id, requested_at)`,
    * append-only across operations (each op owns its `op=` partition),
    * carrying deliberately nothing that could reconstruct the deleted
    * content. Empty (with this schema) before any delete completes. */
  def deletesLog(spark: SparkSession, st: IngestState): DataFrame = {
    val path = s"${st.root}/deletes_log"
    if (fsFor(spark, path).exists(new HPath(path)))
      // distinct IS the contract (one row per deleted doc per op): a
      // row can legitimately appear in two dirs — compaction absorbed
      // the op dir and a later second application of the same op
      // (queued retry after re-ingest) rewrote a fresh one
      spark.read.option("basePath", path).parquet(path)
        .select("doc_id", "op_id", "requested_at").distinct()
    else
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("op_id",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("requested_at",
            org.apache.spark.sql.types.TimestampType))))
  }

  private val LogCompactTmpPrefix = ".log_compact_tmp_"
  private val CompactedEpochPrefix = "op=_compacted_"
  /** Epoch-dir budget before a compaction CONSOLIDATES (re-absorbs
    * every epoch into one): each normal pass reads only NEW op dirs,
    * so epochs accrete one per pass-with-work; the occasional
    * consolidation amortizes the full-history rewrite to once per
    * `MaxLogEpochs` passes instead of every pass. */
  private[graft] val MaxLogEpochs = 16

  /** Consolidate the takedown audit log's per-op dirs into PER-EPOCH
    * `op=_compacted_<N>` partitions — [[compactState]]'s maintenance
    * for the one dir per completed takedown [[applyPendingDelete]]
    * leaves behind (the same small-files listing cost
    * [[foldStatsDeltas]] bounds for the stats deltas; a
    * takedown-heavy deployment accretes them forever otherwise).
    * Content-preserving by construction: each epoch is the
    * union+distinct of exactly what it absorbed, and [[deletesLog]]
    * reads the union of whatever dirs exist, so every crash window
    * reads the same distinct row set.
    *
    * COST SCALES WITH NEW OPS, NOT LIFETIME HISTORY: a normal pass
    * absorbs only the op dirs written since the last one into a fresh
    * epoch — prior epochs are never read or rewritten (the previous
    * single-`_compacted` shape re-read and re-wrote the entire
    * takedown history through one task on every pass). A pass with
    * zero new ops touches nothing. Once the epoch count exceeds
    * [[MaxLogEpochs]] the pass consolidates (absorbs every epoch too),
    * amortizing the full rewrite to once per `MaxLogEpochs` passes.
    * Output files are bounded by `targetRowsPerFile`, never
    * `coalesce(1)` — compacting years of takedowns through one task
    * and into one file was the accretion problem moved up a level.
    *
    * CRASH-SAFE by SET SEMANTICS, deliberately NOT by the
    * [[foldStatsDeltas]] manifest discipline: log rows are a set
    * (distinct IS the reader's contract), so re-absorbing a source
    * twice is free, while retiring a source from stale knowledge is
    * NOT — a queued-takedown retry can MERGE new rows into an op dir
    * between a crashed compaction and its recovery, and a recovery
    * that deleted the dir because an old manifest named it would
    * destroy those rows (stats deltas never mutate in place, which is
    * why the fold's retire-by-manifest is sound there and unsound
    * here). Discipline: build the union in a hidden epoch-named tmp;
    * install (rename tmp to its fresh epoch dir); delete exactly the
    * source dirs THIS invocation read (in-memory list, single-writer —
    * no merge can interleave one invocation). Crash windows: a
    * `_SUCCESS`-marked epoch tmp whose epoch dir is absent is a
    * mid-install crash (epoch names are fresh per invocation, so the
    * tmp is complete — finish the rename; its sources re-absorb into
    * a LATER epoch, distinct collapsing the overlap); an unmarked tmp
    * is a mid-write crash (sources intact — discard); unretired
    * sources after a crash between install and deletion simply
    * re-absorb next time. */
  private[graft] def compactDeletesLog(spark: SparkSession, st: IngestState,
                                targetRowsPerFile: Long = 1000000L): Unit = {
    val fs = fsFor(spark, st.root)
    val logRoot = new HPath(s"${st.root}/deletes_log")
    if (!fs.exists(logRoot)) return
    // recovery: leftover epoch tmps — marked + epoch dir absent is
    // mid-install (finish it; the tmp is complete, epoch names are
    // never reused), anything else is a reproducible mid-write crash
    fs.listStatus(logRoot)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(LogCompactTmpPrefix))
      .foreach { s =>
        val e = s.getPath.getName.stripPrefix(LogCompactTmpPrefix)
        val epochDir = new HPath(logRoot, s"$CompactedEpochPrefix$e")
        if (fs.exists(new HPath(s.getPath, "_SUCCESS")) &&
            !fs.exists(epochDir))
          require(fs.rename(s.getPath, epochDir),
            s"compactDeletesLog: recovery rename ${s.getPath} failed " +
              "— tmp retained, re-run compaction")
        else fs.delete(s.getPath, true)
      }
    // the compaction proper
    def listOps() = fs.listStatus(logRoot)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("op="))
      .map(_.getPath)
    val (epochDirs, plainOps) =
      listOps().partition(_.getName.startsWith(CompactedEpochPrefix))
    val sources = plainOps
      .filter(p => fs.exists(new HPath(p, "_SUCCESS")))
      .sortBy(_.getName)
    val epochs = epochDirs.flatMap(p =>
      p.getName.stripPrefix(CompactedEpochPrefix).toLongOption).sorted
    val consolidate = epochs.length >= MaxLogEpochs
    if (sources.isEmpty && !consolidate) return
    val absorbed = sources ++
      (if (consolidate)
         epochs.map(e => new HPath(logRoot, s"$CompactedEpochPrefix$e"))
       else Array.empty[HPath])
    if (absorbed.isEmpty) return
    val epoch = epochs.lastOption.fold(0L)(_ + 1L)
    val tmp = new HPath(logRoot, s"$LogCompactTmpPrefix$epoch")
    val epochDir = new HPath(logRoot, s"$CompactedEpochPrefix$epoch")
    val union = spark.read.parquet(absorbed.map(_.toString).toSeq: _*)
      .select("doc_id", "op_id", "requested_at").distinct()
    union.repartition(filesFor(union.count(), targetRowsPerFile))
      .write.mode("overwrite").parquet(tmp.toString)
    require(fs.exists(new HPath(tmp, "_SUCCESS")),
      s"compactDeletesLog: $tmp committed without _SUCCESS " +
        "(mapreduce.fileoutputcommitter.marksuccessfuljobs must stay " +
        "enabled) — sources left untouched")
    require(fs.rename(tmp, epochDir),
      s"compactDeletesLog: final rename $tmp failed — tmp retained " +
        "(marked), the next run's recovery completes the move")
    // retire exactly what THIS invocation absorbed — a crash anywhere
    // in this loop leaves dirs the next compaction re-absorbs
    absorbed.foreach(op => fs.delete(op, true))
  }

  /** Resolve leftover `.purge_tmp_batch=` swaps under one table root —
    * the compaction recovery rules: a tmp WITH `_SUCCESS` is the
    * complete purged copy of its partition (finish the swap: drop the
    * source if still present, rename the tmp in); a tmp WITHOUT it is
    * a mid-write crash whose source is intact (discard). */
  private def resolvePurgeTmps(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    val root = new HPath(path)
    if (!fs.exists(root)) return
    fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(PurgeTmpPrefix))
      .foreach { d =>
        val tmp = d.getPath
        val b = tmp.getName.stripPrefix(PurgeTmpPrefix).toLong
        if (fs.exists(new HPath(tmp, "_SUCCESS"))) {
          val dst = new HPath(root, s"batch=$b")
          // a crash before rewritePartition carried the marker over
          if (fs.exists(new HPath(dst, ConsolidatedMarker)))
            fs.create(new HPath(tmp, ConsolidatedMarker), true).close()
          fs.delete(dst, true)
          require(fs.rename(tmp, dst),
            s"resolvePurgeTmps: rename $tmp -> $dst failed — tmp retained " +
              "(marked), re-run recovery")
        } else {
          fs.delete(tmp, true)
        }
        ()
      }
  }

  /** Crash-safe copy-on-write rewrite of one `batch=` partition:
    * purged rows land in a marked hidden tmp first (`_SUCCESS` gates
    * authority, exactly like compaction), then the swap. The
    * [[ConsolidatedMarker]] rides into the tmp before the swap, so a
    * takedown never turns a consolidated dir back into an
    * attributable one. A missing source partition is a no-op (this
    * table never had that batch, or an earlier pass already swapped
    * it). */
  private def rewritePartition(spark: SparkSession, path: String, b: Long,
                               f: DataFrame => DataFrame): Unit = {
    val fs = fsFor(spark, path)
    val src = new HPath(path, s"batch=$b")
    if (!fs.exists(src)) return
    val tmp = new HPath(path, s"$PurgeTmpPrefix$b")
    fs.delete(tmp, true)
    f(spark.read.parquet(src.toString))
      .write.mode("overwrite").parquet(tmp.toString)
    require(fs.exists(new HPath(tmp, "_SUCCESS")),
      s"rewritePartition: $tmp committed without a _SUCCESS marker " +
        "(mapreduce.fileoutputcommitter.marksuccessfuljobs must stay " +
        "enabled for crash-safe deletes) — source left untouched")
    if (fs.exists(new HPath(src, ConsolidatedMarker)))
      fs.create(new HPath(tmp, ConsolidatedMarker), true).close()
    fs.delete(src, true)
    require(fs.rename(tmp, src),
      s"rewritePartition: final rename $tmp failed — tmp retained " +
        "(marked), the next recovery completes the move")
    ()
  }

  /** The streaming face: drive [[ingestBatch]] from a document stream
    * (columns `doc_id, text, ...`) via foreachBatch. With
    * `availableNow` the query drains the source and stops (the
    * catch-up/backfill run); without it, it runs until stopped (the
    * continuous feed). Restart-safe: the checkpoint replays the
    * in-flight batch and the idempotent state writes absorb it.
    *
    * `drainQueuedDeletes = true` runs [[processDeleteQueue]] at every
    * micro-batch boundary (before the batch ingests), so a CONTINUOUS
    * deployment applies queued takedowns without ever stopping the
    * stream: the foreachBatch body is exactly the single-writer
    * maintenance context, every batch below the one in hand is
    * committed, and the in-hand batch id is passed as the capture's
    * `excludeBatch` so a replay's partition overwrite can never
    * resurrect a purged row. Ids that arrive only in (or after) the
    * in-hand batch are judged at their drain's process time, like any
    * not-yet-ingested id — [[enqueueDelete]] after the fact if the
    * content landed. Costs three filesystem existence checks per
    * boundary when the queue is empty. */
  def start(stream: DataFrame, st: IngestState, p: IngestParams,
            availableNow: Boolean = true,
            drainQueuedDeletes: Boolean = false): StreamingQuery = {
    // deployment-startup recovery: starting the stream IS the
    // single-writer maintenance context (rebuilds and deletes run
    // between streams), so complete BOTH kinds of crashed
    // maintenance here — a post-marker rebuild crash would otherwise
    // leave the root torn until a human remembered the explicit
    // recoverIndexSwap remedy, and a crashed deleteDocs would
    // half-purge the state every batch reads. Swap first (the
    // delete recovery's table reads need a consistent index set —
    // the deleteDocs ordering), then crashed COMPACTION swaps (their
    // hidden tmps blind the delete recovery's and the first drain's
    // table reads), then the tombstone.
    requireWriterRoot(stream.sparkSession, st, "start")
    recoverIndexSwap(stream.sparkSession, st, asWriter = true)
    recoverCompactionSwaps(stream.sparkSession, st)
    recoverDeletes(stream.sparkSession, st)
    // the quantizers are immutable post-bootstrap — load once for the
    // whole stream instead of re-reading + re-collecting per batch
    val quant = p.ann.map(a => loadQuantizers(stream.sparkSession, st, a))
    val writer = stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (drainQueuedDeletes) processDeleteQueue(b.sparkSession, st,
          excludeBatch = id)
        // scheduled maintenance rides the same single-writer boundary
        // slot; the horizon is the last COMMITTED batch (id - 1) —
        // the in-hand batch may still replay, and consolidating it
        // would race its own partition overwrite. Replay-safe: a
        // re-delivered batch re-runs the compaction idempotently
        // (nothing new below the horizon) before re-ingesting.
        if (p.compactEveryNBatches > 0 && id > 0 &&
            id % p.compactEveryNBatches == 0)
          compactState(b.sparkSession, st, upToBatch = id - 1)
        // snapshot shipping LAST in the slot (after drain + compact,
        // so a just-drained takedown's staleness pruning and a fresh
        // consolidation ride this very export); horizon = the last
        // COMMITTED batch — the in-hand batch may replay, and its
        // possibly half-appended partitions must never enter a
        // snapshot (Snapshot.export's upToBatch contract)
        p.export.foreach { ep =>
          if (ep.everyNBatches > 0 && id > 0 && id % ep.everyNBatches == 0) {
            val r = Snapshot.export(b.sparkSession, st, ep.exportRoot,
              includeDocs = ep.includeDocs, keepVersions = ep.keepVersions,
              upToBatch = id - 1, full = ep.full)
            // deferral must be VISIBLE in the unattended path: a
            // legitimate pin is a restore/sync in flight (fine — the
            // next unblocked export catches up, and version-scoped
            // pins only ever defer the versions a read streams), but
            // a CRASHED holder's pin would otherwise suspend those
            // versions' retention silently forever. The deferral is
            // PERSISTED at the export root (Snapshot.deferrals — the
            // queryable streak an alarm reads); the stderr warning
            // rides along for an attended driver. The operator
            // decides wait-vs-breakReadPins(name) from the catalog
            // (the stream itself never breaks a pin — killing a live
            // 100 TB restore is worse than a delayed prune, and the
            // pin contract says explicit, never automatic).
            if (r.retentionDeferred) {
              val pins = Snapshot.readPins(b.sparkSession, ep.exportRoot)
                .collect()
                .map(p => s"${p.getString(0)} (${p.getString(1)}, " +
                  s"age ${p.getLong(3)}ms, versions=${p.getString(4)})")
              Console.err.println(s"[graft] WARNING: scheduled export " +
                s"to ${ep.exportRoot} at batch $id shipped v=${r.version} " +
                "but live read pins DEFERRED part of its retention " +
                s"pruning/vacuuming: ${pins.mkString("; ")}. The streak " +
                "is persisted (Snapshot.deferrals); if a holder " +
                "crashed, clear its pin by name with " +
                "Snapshot.breakReadPins.")
            }
          }
          // scheduled audit AFTER any export due this batch, so a
          // just-shipped version enters the rotation immediately:
          // re-hash ONE standing version against its persisted
          // checksums, ROTATING by VERSION-NUMBER residue — always-
          // newest left the keepVersions-1 older versions (and the
          // pool dirs only THEY reference, e.g. pre-compaction
          // stamps) unaudited forever, rot there surfacing only at
          // restore time. Firing k audits the standing version v with
          // v ≡ k (mod n): at steady state the n standing versions
          // are consecutive numbers — one per residue — and each
          // version's n-firing lifetime contains exactly one matching
          // firing, so EVERY version is audited exactly once in its
          // lifetime at one version's cost per firing. Indexing the
          // list positionally (vs(k % n)) would ALIAS with the
          // sliding window: a window shifting d versions per firing
          // skips entire residue classes whenever gcd(d+1, n) > 1 —
          // e.g. keepVersions=2 at equal cadence audits every even
          // version twice and every odd one never. A staleness-pruned
          // window can leave a residue empty; the positional fallback
          // keeps that firing auditing something rather than nothing.
          // Deterministic on the batch id, so a replay audits the
          // same version. Findings fail the batch LOUDLY —
          // post-install rot in the serving/backup tier is an
          // incident, not a log line (see
          // ExportPolicy.auditEveryNBatches). Skips silently only when
          // nothing was ever exported (no version to audit yet).
          if (ep.auditEveryNBatches > 0 && id > 0 &&
              id % ep.auditEveryNBatches == 0) {
            val vs = Snapshot.versions(b.sparkSession, ep.exportRoot)
            if (vs.nonEmpty) {
              val n = vs.length
              val r = (id / ep.auditEveryNBatches) % n
              val v = vs.filter(_ % n == r).lastOption.getOrElse(vs(r.toInt))
              val findings = Snapshot.verifyVersion(b.sparkSession,
                ep.exportRoot, v).collect()
              require(findings.isEmpty,
                s"scheduled snapshot audit FAILED on ${ep.exportRoot} " +
                  s"v=$v (${findings.length} finding(s)): " +
                  findings.take(5).map(_.getString(0)).mkString("; ") +
                  (if (findings.length > 5) "; …" else "") +
                  " — the export tree rotted post-install; restore the " +
                  "damaged dirs from a replica (Snapshot.sync) or " +
                  "re-export, then restart the stream")
            }
          }
        }
        ingestBatch(b, id, st, p, quant); () }
      .option("checkpointLocation", st.checkpointPath)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Streaming ANN SERVING — the query-side twin of [[start]]: a
    * stream of `(doc_id, embedding)` query rows, each micro-batch
    * answered with [[annIvfPqMaintained]] against the maintained
    * index tables and written to `outPath/batch=<id>` under the same
    * exactly-once discipline as ingest (deterministic answers given
    * the persisted quantizers + a replay-stable index, so a replayed
    * batch overwrites identical rows — checkpoint + partition
    * overwrite, no dedup bookkeeping).
    *
    * `excludeSelf` defaults FALSE here — the opposite of the batch
    * face — because a serving stream's query ids are its own
    * namespace (request ids, session ids), and the id-collision
    * contract says a colliding corpus row must stay eligible. Pass
    * `true` only when streaming corpus members for dedup-style
    * lookups.
    *
    * The index tables are re-read per micro-batch (ingest may append
    * between triggers — answers reflect the index as of each batch);
    * quantizers are immutable post-bootstrap and load once. The
    * parity guard runs per batch at metadata cost, so a crashed
    * concurrent append halts serving loudly instead of answering
    * from a partial index. Like every maintained face, serving reads
    * the index root alone: rerank floats gather from the packed float
    * segments, so the serving tier needs no docs table. */
  def serve(queryStream: DataFrame, st: IngestState, a: AnnParams,
            outPath: String, k: Int, nprobe: Int, rerank: Int = 32,
            excludeSelf: Boolean = false,
            quantizers: Option[AnnQuantizers] = None,
            availableNow: Boolean = true): StreamingQuery = {
    val spark = queryStream.sparkSession
    // same deployment-startup argument as [[start]]: bringing the
    // serving stream up happens from the maintenance context (the
    // rebuild contract quiesces serving for the swap anyway), so a
    // crashed post-marker rebuild heals here instead of failing
    // every batch until a human runs the explicit remedy
    recoverIndexSwap(spark, st, asWriter = true)
    val quant = Some(quantizers.getOrElse(loadQuantizers(spark, st, a)))
    val writer = queryStream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        annIvfPqMaintained(spark, st, a, b, k, nprobe, rerank, quant,
            excludeSelf = excludeSelf)
          .write.mode("overwrite").parquet(s"$outPath/batch=$id")
        () }
      .option("checkpointLocation", s"$outPath/_checkpoint")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
