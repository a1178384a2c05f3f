package graft.queries

import graft.ops.{Dedup, Fft, Freq, Multimodal, Outliers, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-verifying invariant queries for the operators whose OUTPUT is
  * not SQL-expressible (seeded sampling, LSH, FFT): each emits one row
  * per violated law and is empty when healthy, so the DuckDB oracle is
  * simply the empty set — the driver's hash compare then actively
  * verifies the algorithm's contract instead of a weaker rows-only
  * check. (Laws mirror the reference's own cross-validation: HW1 runs
  * exact AND approximate and the counts must bracket,
  * `HWK_1/G029HW1.py:155-170`; HW3 annotates estimates against the
  * exact histogram, `HWK_3/G029HW3.py:140-156`.)
  */
object CheckQueries extends QueryPack {
  private val SEED = 42L
  private val emptyOracle = "SELECT CAST(NULL AS VARCHAR) AS violation WHERE 1 = 0"

  /** Single per-JVM scratch dir for the JSONL roundtrip check.
    * Deleted on JVM exit — nothing else ever cleans it up. */
  private[queries] lazy val jsonlScratch: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_jsonl_rt")
    sys.addShutdownHook {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }
    p.toString
  }

  private def items(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id").as("ord"), col("user_id").as("item"))

  /** Materialize a DETERMINISTIC check intermediate ONCE per (JVM,
    * sf dir) to parquet scratch and read it back for every later
    * consumer. The check queries are correctness gates, not perf
    * probes (the product `ann_*`/`dedup_*` queries measure the
    * operators honestly in `main_sec`), yet the bench runs each check
    * 3× and several checks share expensive inputs — recomputing the
    * exact slice×corpus rank join, the seeded ANN answer tables and
    * the direct incremental-LSH face per repetition dominated the
    * check suite's cost. Every cached table is a pure function of
    * (dir, pinned seed/params), so each LAW still evaluates against
    * identical rows every repetition, and `graft.Verify` — the actual
    * correctness gate — runs in its own JVM and always pays the full
    * build cost once. Parquet (not `.cache()`) because the bench
    * clears the Spark cache between queries by design; doubles/longs
    * round-trip parquet exactly. Scratch dir is per-JVM, deleted on
    * exit (jsonlScratch pattern). */
  private val scratchPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val checkScratch: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_checkscratch")
    sys.addShutdownHook {
      // the parquet under this root was written by SPARK, which
      // resolves the scheme-less path against ITS default filesystem
      // — delete through the same resolution (Hadoop FS with the
      // classpath default config), or a non-local deployment would
      // clean only the empty nio-created local dir and leak every
      // published scratch table; then remove the local dir itself
      try {
        val hp = new org.apache.hadoop.fs.Path(p.toString)
        org.apache.hadoop.fs.FileSystem
          .get(hp.toUri, new org.apache.hadoop.conf.Configuration())
          .delete(hp, true)
        ()
      } catch { case _: Throwable => () }
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }
    p.toString
  }
  private def scratchTable(s: SparkSession, d: String, key: String)
                          (build: => DataFrame): DataFrame = {
    // check-then-build, NOT computeIfAbsent: a wrapped check's build
    // may itself scratch-materialize its inputs (check_semantic_routed
    // → semdedup_exact), and a nested computeIfAbsent on the same map
    // throws "Recursive update". Each builder writes its own UNIQUE
    // dir and publishes it via putIfAbsent — the loser of a racing
    // double build discards its copy and reads the winner's, so no
    // path is ever overwritten (a shared-path overwrite would delete
    // parquet another thread may already be reading). Rows are
    // deterministic, so either copy is the same table.
    val k = s"$d#$key"
    Option(scratchPaths.get(k)) match {
      case Some(p) => s.read.parquet(p)
      case None =>
        val mine = s"$checkScratch/${Integer.toHexString(d.hashCode)}_${key}_" +
          java.util.UUID.randomUUID().toString.take(8)
        build.write.mode("overwrite").parquet(mine)
        val winner = Option(scratchPaths.putIfAbsent(k, mine)).getOrElse(mine)
        if (winner != mine) {
          // lost the race: nobody can have read `mine` (it was never
          // published), so deleting it is safe. Hadoop FS API, not
          // java.nio — the dir was written by Spark, which resolves
          // the path against ITS default filesystem; nio.walk on a
          // non-local deployment would silently leak the losing copy
          try {
            val p = new org.apache.hadoop.fs.Path(mine)
            p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
            ()
          } catch { case _: Throwable => () }
        }
        s.read.parquet(winner)
    }
  }

  /** Trained quantizers memoized per (JVM, sf dir, params) — the
    * scratchTable principle applied to the driver-side arrays: several
    * checks audit the same operator family with the same parameters,
    * and training is deterministic given (dir, params), so every law
    * still evaluates against identical quantizers while the FFT
    * training (and the full-corpus encode that scratch-shares the
    * resulting code table) runs once per JVM instead of once per
    * check × bench repetition. `graft.Verify` pays the full build once
    * in its own JVM, like every other shared check input. */
  private val booksCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private def sharedBooks(s: SparkSession, d: String,
                          m: Int, ksub: Int): Array[Array[Array[Double]]] =
    booksCache.computeIfAbsent(s"$d#$m#$ksub", _ =>
      Similarity.pqTrain(Tables.embeddings(s, d), m, ksub))
  private val centsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private def sharedCents(s: SparkSession, d: String,
                          nlist: Int): Array[Array[Double]] =
    centsCache.computeIfAbsent(s"$d#$nlist", _ =>
      Similarity.ivfCentroids(Tables.embeddings(s, d), nlist))

  /** The exact top-3 slice NN (rank ≤ 3 over the full corpus for the
    * ⅕-ids query slice) — the recall bar both ANN checks score
    * against. */
  private[graft] def exactTop3(s: SparkSession, d: String): DataFrame =
    scratchTable(s, d, "ex3") {
      import graft.ops.Similarity
      val slice = pmod(col("vec_id"), lit(5)) === 0
      Similarity.cosineTopK(Tables.embeddings(s, d), 3, queryPred = slice)
        .select("vec_id", "nn_id", "rank")
    }

  /** The direct (recompute-everything) incremental near-dup face on
    * the canonical ⅕-vs-⅘ split — consumed by BOTH LSH equality laws
    * as their comparison baseline. */
  private def incDirectPairs(s: SparkSession, d: String): DataFrame =
    scratchTable(s, d, "inc_direct") {
      val docs = Tables.documents(s, d)
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      Dedup.incrementalNearDupNew(
        docs.where(isNew), docs.where(!isNew), 3, 32, 8, 0.3, SEED)
    }

  /** ε-approximate recall@1 of an ANN answer table against the exact
    * slice NN: (hits, queries). A query counts as a hit when the ANN
    * neighbor exists and its cosine is ≥ the exact neighbor's cosine
    * − ε — the standard ANN quality metric when exact-argmax recall is
    * not the contract (and on unstructured corpora it cannot be: the
    * driver fixtures are isotropic random vectors whose best/2nd-best
    * cosine gap is ~0.03, so no sublinear method reliably returns THE
    * argmax; what an ANN must return is a neighbor nearly as good).
    * Distance-based, so a tie broken to a different id still counts.
    * `e` is `(eid, v)` over the full corpus; `ex` is `(vec_id, nn_e)`;
    * `ann` holds `(vec_id, nnCol)`. Driver-side scalars — the joined
    * table is slice-sized. */
  private[graft] def recallAt1(e: DataFrame, ex: DataFrame,
                               ann: DataFrame, nnCol: String,
                               eps: Double): (Long, Long) = {
    import graft.ops.Similarity
    val j = ex
      .join(ann, Seq("vec_id"), "left")
      .join(e.withColumnRenamed("eid", "vec_id").withColumnRenamed("v", "vq"), "vec_id")
      .join(e.withColumnRenamed("eid", "nn_e").withColumnRenamed("v", "ve"), "nn_e")
      .join(e.withColumnRenamed("eid", nnCol).withColumnRenamed("v", "va"),
        Seq(nnCol), "left")
    val row = j.agg(
      count(lit(1)).as("n"),
      sum(when(col("va").isNotNull &&
          Similarity.cosine(col("vq"), col("va"))
            >= Similarity.cosine(col("vq"), col("ve")) - eps, 1L)
        .otherwise(0L)).as("h")).head()
    (row.getLong(1), row.getLong(0))
  }

  /** ε-approximate recall@k — the top-k generalization of
    * [[recallAt1]]: per query, a hit is an ANN answer whose cosine is
    * ≥ the exact k-th-best cosine − ε (any neighbor at least as good
    * as the weakest exact answer fills a slot), hits capped at the
    * query's exact-answer count so over-delivery can't inflate the
    * score, and ANN rows deduplicated on (vec_id, nn_id) first so a
    * rank bug that repeats one strong answer k times fills ONE slot,
    * not k. Returns (hits, slots) with slots = Σ per-query exact
    * answers (= k·nq when the corpus has ≥ k neighbors per query).
    * `e` is `(eid, v)` over the full corpus; `exact`/`ann` hold
    * `(vec_id, nn_id)` rows, ≤ k per query. */
  private[graft] def recallAtK(e: DataFrame, exact: DataFrame,
                               ann: DataFrame, eps: Double): (Long, Long) = {
    import graft.ops.Similarity
    // weakest exact answer per query = the recall bar
    val bar = exact
      .join(e.withColumnRenamed("eid", "vec_id").withColumnRenamed("v", "vq"), "vec_id")
      .join(e.withColumnRenamed("eid", "nn_id").withColumnRenamed("v", "ve"), "nn_id")
      .groupBy("vec_id")
      .agg(min(Similarity.cosine(col("vq"), col("ve"))).as("kth"),
        count(lit(1)).as("slots"))
    val annCos = ann.dropDuplicates("vec_id", "nn_id")
      .join(e.withColumnRenamed("eid", "vec_id").withColumnRenamed("v", "vq"), "vec_id")
      .join(e.withColumnRenamed("eid", "nn_id").withColumnRenamed("v", "va"), "nn_id")
      .select(col("vec_id"), Similarity.cosine(col("vq"), col("va")).as("cos"))
    val perQuery = bar.join(annCos, Seq("vec_id"), "left")
      .groupBy(col("vec_id"), col("slots"))
      .agg(sum(when(col("cos") >= col("kth") - eps, 1L).otherwise(0L)).as("hits"))
    val row = perQuery.agg(
      sum(least(col("hits"), col("slots"))).as("h"),
      sum(col("slots")).as("n")).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Symmetric multiset diff of two same-schema frames as ONE
    * aggregation: tag rows +1/−1, union, hash-aggregate over all value
    * columns, keep nonzero sums. Same empty-iff-equal contract as
    * `a.exceptAll(b) ∪ b.exceptAll(a)` (grouping applies the same
    * value equality — floats normalized, arrays comparable — that
    * exceptAll uses) at half the cost: two directional exceptAlls are
    * two join-shaped subplans each re-scanning both inputs, this is
    * one union scan + one shuffle. A value off by ±n copies emits one
    * violation row rather than n — the laws only test emptiness, and
    * the tag still names which side held the surplus. */
  private[graft] def multisetDiffViolations(a: DataFrame, b: DataFrame,
      extraTag: String, missingTag: String): DataFrame = {
    val cols = a.columns.toSeq.map(col)
    a.withColumn("_s", lit(1L))
      .unionByName(b.select(cols: _*).withColumn("_s", lit(-1L)))
      .groupBy(cols: _*).agg(sum(col("_s")).as("_d"))
      .where(col("_d") =!= 0)
      .select(when(col("_d") > 0, lit(extraTag))
        .otherwise(lit(missingTag)).as("violation"))
  }

  /** The embeddings table as an ingestable ann corpus (unique text —
    * no dedup drops, every vector reaches the index) — the shared
    * fixture of the three snapshot checks. */
  private def snapDocs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        concat(lit("v"), col("vec_id")).as("text"), col("embedding"))

  /** One PRISTINE ann-enabled primary per (JVM, sf dir), shared by the
    * three snapshot checks: they all need the identical
    * bootstrap + one-ingested-batch root, and building it (quantizer
    * training + the full ingest pipeline) dominated their cold cost
    * three times over. The serve check reads it directly (it never
    * mutates the primary); the mutating checks (takedown, restore —
    * both run deleteDocs) CLONE the tree first, a local file copy
    * that is ~free next to a rebuild. Lives in a JVM-lifetime temp
    * dir, deleted at exit; checks run on the local FS by
    * construction (their roots come from createTempDirectory). */
  private val snapPrimaryCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, graft.streaming.ContinuousIngest.IngestParams)]()
  private def snapPristine(s: SparkSession, d: String)
      : (String, graft.streaming.ContinuousIngest.IngestParams) =
    snapPrimaryCache.computeIfAbsent(d, _ => {
      import graft.streaming.ContinuousIngest
      import graft.streaming.ContinuousIngest.{AnnParams, IngestParams, IngestState}
      val nAll = Tables.embeddingsCount(s, d)
      val docs = snapDocs(s, d)
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val p = IngestParams(expectedDigests = math.max(1L, nAll), fpp = 0.05,
        nearDup = false,
        ann = Some(AnnParams(nlist = Similarity.nlistFor(nAll))))
      val root = java.nio.file.Files.createTempDirectory("graft_snap_pristine")
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTreeQuietly(root)))
      val st = IngestState(s"$root/state")
      ContinuousIngest.bootstrap(docs.where(!isNew), st, p)
      val quant = ContinuousIngest.loadQuantizers(s, st, p.ann.get)
      ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, p, Some(quant))
      (st.root, p)
    })

  /** One shared EXPORT of the pristine primary per (JVM, sf dir): the
    * serve check reads it and re-exports it (both idempotent on the
    * shared root — exports only add versions), the sync check reads
    * it as its SOURCE (sync never mutates a source beyond its
    * released read pin). Building a second identical export for the
    * sync law roughly doubled the snapshot checks' cold cost for no
    * added coverage (the r18 "bound checks_cold_sec" item).
    *
    * SEQUENTIAL-EXECUTION ASSUMPTION: sharing is safe because checks
    * run strictly one-at-a-time (Verify/TimeQuery iterate the map;
    * nothing here spawns concurrent checks). The serve check's
    * re-export MUTATES this root under its export lock, so if checks
    * ever ran concurrently, the sync check's source read pin would
    * meet that lock and refuse loudly — a spurious check failure, not
    * corruption (the lock/pin protocol holds either way). Introducing
    * concurrent check execution means giving the serve check its own
    * export root (or serializing on this one). */
  private val snapExportCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapExport(s: SparkSession, d: String): String =
    snapExportCache.computeIfAbsent(d, _ => {
      import graft.streaming.{ContinuousIngest, Snapshot}
      val (stRoot, _) = snapPristine(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snap_export")
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTreeQuietly(root)))
      val ex = s"$root/export"
      Snapshot.export(s, ContinuousIngest.IngestState(stRoot), ex)
      ex
    })

  /** One shared TAKEDOWN-APPLIED clone of the pristine primary per
    * (JVM, sf dir), for the two mutating snapshot checks (takedown,
    * restore): clone the pristine tree, export a PRE-delete snapshot
    * version into the clone's own export root (the stale version the
    * takedown check's re-export must prune), then deleteDocs the
    * victim. Each check used to pay its own clone + deleteDocs for
    * the identical post-delete primary (the r20 "extend the shared
    * export scheme" item). Same sequential-execution assumption as
    * [[snapExport]]; after the build, the takedown check mutates only
    * the export root (its prune/vacuum re-export) and the restore
    * check mutates only its own backup/restored scratch — the shared
    * PRIMARY stays post-delete for both, whichever runs first.
    * Returns (state root, export root, victim doc id). */
  private val snapDeletedCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, String, Long)]()
  private def snapDeleted(s: SparkSession, d: String): (String, String, Long) =
    snapDeletedCache.computeIfAbsent(d, _ => {
      import graft.streaming.{ContinuousIngest, Snapshot}
      import graft.streaming.ContinuousIngest.IngestState
      import s.implicits._
      val (pristineRoot, _) = snapPristine(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snap_del")
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTreeQuietly(root)))
      cloneTree(pristineRoot, s"$root/state")
      val st = IngestState(s"$root/state")
      val ex = s"$root/export"
      Snapshot.export(s, st, ex)
      val victim = snapDocs(s, d)
        .where(pmod(col("doc_id"), lit(5)) === 0)
        .agg(min("doc_id")).head().getLong(0)
      ContinuousIngest.deleteDocs(s, st, Seq(victim).toDF("doc_id"))
      (st.root, ex, victim)
    })

  /** One shared NON-ANN bootstrap (the ⅘ `md5("v"+doc_id)` corpus)
    * per (JVM, sf dir), CLONED by the three streamed-maintenance
    * checks — drain, compact (its primary AND its never-compacting
    * twin) and batch rollback. All four used to rebuild the
    * IDENTICAL state: same docs frame, same bootstrap-relevant
    * params (`bootstrap` reads none of what the checks vary —
    * `compactEveryNBatches` is a `start`/loop knob, not state), so a
    * local file copy replaces each rebuild and every law still
    * evaluates against byte-identical starting state. Each check
    * mutates only its own clone; bootstrap itself stays covered by
    * this build plus [[snapPristine]], `check_delete`,
    * `check_ingest_ann_replay` and the `ingest_*_replay` bench
    * queries. Same sequential-execution assumption as [[snapExport]].
    * Returns the STATE root to clone. */
  private val ingestBootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ingestPlainBoot(s: SparkSession, d: String): String =
    ingestBootCache.computeIfAbsent(d, _ => {
      import graft.streaming.ContinuousIngest
      import graft.streaming.ContinuousIngest.{IngestParams, IngestState}
      val nAll = Tables.documentsCount(s, d)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(concat(lit("v"), col("doc_id"))).as("text"))
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val p = IngestParams(expectedDigests = math.max(1L, nAll), fpp = 0.05,
        nearDup = false)
      val root = java.nio.file.Files.createTempDirectory("graft_ingest_boot")
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTreeQuietly(root)))
      ContinuousIngest.bootstrap(docs.where(!isNew), IngestState(s"$root/state"), p)
      s"$root/state"
    })

  private def deleteTreeQuietly(root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    catch { case _: Throwable => () }
  }

  /** Local-FS tree copy for the mutating snapshot checks' clones. */
  private def cloneTree(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths}
    val sp = Paths.get(src)
    val dp = Paths.get(dst)
    Files.walk(sp).forEach { p =>
      val t = dp.resolve(sp.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t)
        ()
      }
    }
  }

  /** Checks whose full build is expensive and deterministic per
    * (JVM, sf dir) but whose entries predate the scratch-memo
    * convention: their violation rows are memoized at the MAP level
    * below, so Bench's min-of-3 protocol measures each law once cold
    * (`checks_cold_sec` stays the honest full cost) and
    * scratch-warm thereafter — the documented `checks_sec` design
    * the newer ingest/snapshot checks already follow internally.
    * Verify runs each check once per process, so the memo changes
    * nothing for the correctness gate. */
  private val memoizedChecks = Set(
    "check_ivf_append", "check_ann_filtered", "check_semantic_append",
    "check_outlier_bracket", "check_ann_recall", "check_simhash_sound",
    "check_incremental_lsh_keys", "check_kcenter_assign",
    "check_audio_decode")

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (k, f) =>
      if (memoizedChecks(k))
        k -> ((s: SparkSession, d: String) =>
          scratchTable(s, d, s"${k}_viol")(f(s, d)))
      else k -> f
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // St5 laws: |sample| == min(m, n) and sample ⊆ stream
    "check_reservoir" -> ((s, d) => {
      val it = items(s, d)
      val m = 50
      val n = it.count()
      val sample = Freq.reservoirSample(it, m, SEED)
      val sizeViol = sample.agg(count(lit(1)).as("c"))
        .where(col("c") =!= lit(math.min(m.toLong, n)))
        .select(lit("size_law").as("violation"))
      val memberViol = sample.join(it, Seq("ord", "item"), "left_anti")
        .select(lit("membership").as("violation"))
      sizeViol.union(memberViol)
    }),
    // St6 laws: every sticky count is 1 ≤ cnt ≤ true frequency
    "check_sticky" -> ((s, d) => {
      val it = items(s, d)
      val n = it.count()
      val p = math.min(1.0, Freq.stickyRate(0.0075, 0.0025, 0.1) / n)
      val sticky = Freq.stickySample(it, p, SEED)
      sticky.join(Freq.histogram(it).withColumnRenamed("cnt", "true_cnt"), Seq("item"))
        .where(col("cnt") < 1 || col("cnt") > col("true_cnt"))
        .select(lit("sub_histogram").as("violation"))
    }),
    // LSH soundness: every MinHash pair (jac ≥ 0.3) must appear among
    // the exact n-gram pairs at the looser 0.1 threshold. The exact
    // side is semi-joined to the docs the LSH pairs actually touch —
    // pair Jaccard depends only on the two docs' shingles, so
    // restricting the exact computation to candidate docs checks the
    // same law without building the full corpus-wide pair table.
    // (lsh feeds both the semi-join and the anti-join → cached; the
    // session clearCache between queries reclaims it, same contract as
    // Dedup's shingle caches.)
    "check_minhash_subset" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lsh = Dedup.minhashLshPairs(docs, 3, 32, 8, 0.3, SEED).select("a", "b").cache()
      val candIds = lsh.select(col("a").as("doc_id"))
        .union(lsh.select(col("b").as("doc_id"))).distinct()
      val candDocs = docs.join(candIds, Seq("doc_id"), "left_semi")
      val exact = Dedup.ngramJaccardPairs(candDocs, 3, 0.1).select("a", "b")
      lsh.join(exact, Seq("a", "b"), "left_anti")
        .select(lit("lsh_not_in_exact").as("violation"))
    }),
    // Incremental-LSH equality law: the new-batch-vs-corpus near-dup
    // run (disjoint 1/5 vs 4/5 id split, same seed/params as
    // dedup_minhash) must report EXACTLY the cross-split pairs of a
    // full-corpus LSH run — band keys are per-doc, so splitting the
    // corpus cannot change which buckets collide across the split.
    "check_incremental_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val inc = incDirectPairs(s, d)
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
      val full = Dedup.minhashLshPairs(docs, 3, 32, 8, 0.3, SEED)
        .where((pmod(col("a"), lit(5)) === 0) =!= (pmod(col("b"), lit(5)) === 0))
        .select("a", "b")
      multisetDiffViolations(inc, full, "incremental_extra", "incremental_missing")
    }),
    // Maintained-keys equality law: the nightly face (stored band-key
    // table + semi-join fetch of candidate docs only,
    // incrementalNearDupNewFromKeys) reports EXACTLY the pairs of the
    // recompute-everything face on the same split — band keys are
    // per-doc, so reading them from storage instead of recomputing
    // cannot change which buckets collide. jac is compared too
    // (round 9): both paths verify with the same shingle arithmetic.
    "check_incremental_lsh_keys" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val corpus = docs.where(!isNew)
      val stored = Dedup.minhashBandKeys(corpus, 3, 32, 8, SEED)
      val viaKeys = Dedup.incrementalNearDupNewFromKeys(
          docs.where(isNew), stored, corpus, 3, 32, 8, 0.3, SEED)
        .select(col("a"), col("b"), round(col("jac"), 9).as("jac"))
      val direct = incDirectPairs(s, d)
        .select(col("a"), col("b"), round(col("jac"), 9).as("jac"))
      multisetDiffViolations(viaKeys, direct, "keys_extra", "keys_missing")
    }),
    // Bloom-face equality law: incrementalNewBloom == incrementalNew
    // as multisets on the same split — and not vacuously: run the
    // bloom at an aggressive fpp (0.2) so false positives DO occur and
    // must all be caught by the verify join (a bloom false NEGATIVE —
    // impossible by construction — would surface as a bloom-side extra
    // row; a broken verify join surfaces as a missing row).
    "check_incremental_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val corpus = docs.where(!isNew)
      val plain = Dedup.incrementalNew(docs.where(isNew), corpus)
        .select("doc_id")
      val bloom = Dedup.incrementalNewBloom(docs.where(isNew), corpus,
          expectedDigests = math.max(1L, corpus.count()), fpp = 0.2)
        .select("doc_id")
      multisetDiffViolations(bloom, plain, "bloom_extra", "bloom_missing")
    }),
    // Bloom maintained-state law — the full nightly lifecycle on a
    // two-batch fixture: build a filter PER ingested half with
    // identical sizing, round-trip each through a real file, merge the
    // serialized states (mergeBloomBytes), probe the merged filter via
    // incrementalNewBloom's prebuilt face — the result must equal the
    // plain digest anti-join EXACTLY (multiset). fpp is aggressive
    // (0.2) so false positives occur and must be caught by the verify
    // join; a merge that lost bits would surface as a bloom false
    // negative (a dup passing as definite-new ⇒ an extra row here),
    // and a sizing drift between batches fails loudly in
    // mergeBloomBytes rather than passing vacuously.
    "check_bloom_persist" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val corpus = docs.where(!isNew)
      val half = pmod(col("doc_id"), lit(2)) === 0
      // identical sizing for every batch filter — the merge contract
      // (sized for the FULL corpus, the growth-horizon rule)
      val cap = math.max(1L, corpus.count())
      val dir = java.nio.file.Files.createTempDirectory("graft_bloom_rt")
      val merged = try {
        val files = Seq(corpus.where(half), corpus.where(!half)).zipWithIndex
          .map { case (batch, i) =>
            val f = dir.resolve(s"b$i.bloom")
            java.nio.file.Files.write(f, Dedup.bloomToBytes(
              Dedup.buildDigestBloom(batch, cap, fpp = 0.2)))
            f
          }
        Dedup.bloomFromBytes(Dedup.mergeBloomBytes(
          java.nio.file.Files.readAllBytes(files(0)),
          java.nio.file.Files.readAllBytes(files(1))))
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
      val loaded = Dedup.incrementalNewBloom(docs.where(isNew), corpus,
          expectedDigests = cap, fpp = 0.2, prebuilt = Some(merged))
        .select("doc_id")
      val plain = Dedup.incrementalNew(docs.where(isNew), corpus)
        .select("doc_id")
      multisetDiffViolations(loaded, plain,
        "bloom_persist_extra", "bloom_persist_missing")
    }),
    // FFT law: radius is non-increasing in K. Checked on NESTED
    // prefixes of ONE greedy run (Gonzalez centers are greedy-nested:
    // seqFFT(c, 8) == seqFFT(c, 16).take(8) over the same coreset), so
    // monotonicity is a theorem — centers(K=8) and centers(K=16) from
    // separate per-partition corsets are NOT nested and could
    // false-fail on unlucky data.
    "check_fft_monotone" -> ((s, d) => {
      val pts = Tables.points(s, d)
      val cs16 = Fft.centers(pts, 16, 16)
      val r8 = Fft.radius(pts, cs16.take(8))
      val r16 = Fft.radius(pts, cs16)
      val viol = if (r16 <= r8 + 1e-12) Seq.empty[String] else Seq("radius_monotone")
      import s.implicits._
      viol.toDF("violation")
    }),
    // ANN laws (same parameters as the ann_* driver queries, k=1):
    //  - coverage: multi-probe probes a superset of plain LSH's
    //    buckets, so every vec_id with a bucketed answer has a
    //    multi-probe answer;
    //  - dominance: the multi-probe nn is chosen from a candidate
    //    superset, so its cosine is ≥ the bucketed nn's cosine;
    //  - sanity: no self-pairs;
    //  - ε-recall@1 floors vs the exact slice NN (ε = 0.15 — see
    //    recallAt1 for why exact-argmax recall is not the metric on
    //    an isotropic corpus): bucketed ≥ 0.70 (singleton buckets are
    //    its documented recall hole), multi-probe ≥ 0.90. Measured on
    //    the driver fixtures at ε=0.15: bucketed 0.878-0.890,
    //    multi-probe 0.988-0.990 (sf0.1/sf0.01) — a broken hash or
    //    join scores ≈ 0 here (a random neighbor's cosine is ~0 vs
    //    the exact NN's ~0.4), so the floors gate the implementation
    //    without being tuned to the fixture.
    //  - ε-recall@3 floors for the TOP-K path (k > 1 ranks via the
    //    window, a different code path than k=1's max_by):
    //    annMultiProbe(k=3) ≥ 0.85 and annBucketed(k=3) ≥ 0.70 vs the
    //    exact top-3 at ε=0.15 (bucketed floor matches its @1 floor —
    //    singleton buckets are its documented recall hole; measured
    //    at ε=0.15 on the driver fixtures: multiprobe 1.000, bucketed
    //    0.903-0.953 (sf0.1/sf0.01) — the @3 bar is the 3rd-best
    //    exact cosine, looser than @1's, but each query must fill
    //    THREE slots, and recallAtK dedups (vec_id, nn_id) first, so
    //    a rank/dedup bug that repeats or drops answers scores low
    //    even when the top answer is right).
    // Audited on a deterministic ⅕-ids QUERY slice against the full
    // corpus (queryPred) — the laws are per-query-vector, so the
    // slice version is exactly as sound per audited vector while the
    // candidate joins cost slice × corpus, not corpus².
    "check_ann_recall" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val nBits = Similarity.nBitsFor(Tables.embeddingsCount(s, d))
      val slice = pmod(col("vec_id"), lit(5)) === 0
      // the four seeded ANN answer tables are deterministic — scratch-
      // materialized per JVM like ex3, so bench repetitions re-check
      // the laws without re-running the operators (which the ann_*
      // product queries time honestly)
      val bk = scratchTable(s, d, "ann_bk1") {
        Similarity.annBucketed(embs, 1, dim = 64, nBits = nBits, seed = SEED,
            queryPred = slice)
          .select(col("vec_id"), col("nn_id").as("nn_b"))
      }
      val mp = scratchTable(s, d, "ann_mp1") {
        Similarity.annMultiProbe(embs, 1, dim = 64, nBits = nBits, seed = SEED,
            queryPred = slice)
          .select(col("vec_id"), col("nn_id").as("nn_m"))
      }
      val e = embs.select(col("vec_id").as("eid"), col("embedding").as("v"))
      // ONE exact top-3 table (parquet-materialized per JVM — see
      // exactTop3) feeds the @1 bars (rank 1) and both @3 bars; the
      // cache covers this query's several consumers of the small table
      val ex3 = exactTop3(s, d).cache()
      val ex = ex3.where(col("rank") === 1)
        .select(col("vec_id"), col("nn_id").as("nn_e"))
      val (hb, nq) = recallAt1(e, ex, bk, "nn_b", eps = 0.15)
      val (hm, _) = recallAt1(e, ex, mp, "nn_m", eps = 0.15)
      val mp3 = scratchTable(s, d, "ann_mp3") {
        Similarity.annMultiProbe(embs, 3, dim = 64, nBits = nBits,
            seed = SEED, queryPred = slice)
          .select("vec_id", "nn_id")
      }
      val (h3, s3) = recallAtK(e, ex3.select("vec_id", "nn_id"), mp3, eps = 0.15)
      val bk3 = scratchTable(s, d, "ann_bk3") {
        Similarity.annBucketed(embs, 3, dim = 64, nBits = nBits,
            seed = SEED, queryPred = slice)
          .select("vec_id", "nn_id")
      }
      val (hb3, sb3) = recallAtK(e, ex3.select("vec_id", "nn_id"), bk3, eps = 0.15)
      val recallViol = {
        import s.implicits._
        ((if (hb.toDouble < 0.70 * nq) Seq(s"bucketed_recall $hb/$nq") else Nil) ++
          (if (hm.toDouble < 0.90 * nq) Seq(s"multiprobe_recall $hm/$nq") else Nil) ++
          (if (h3.toDouble < 0.85 * s3) Seq(s"multiprobe_recall_at3 $h3/$s3") else Nil) ++
          (if (hb3.toDouble < 0.70 * sb3) Seq(s"bucketed_recall_at3 $hb3/$sb3") else Nil))
          .toDF("violation")
      }
      val coverViol = bk.join(mp, Seq("vec_id"), "left_anti")
        .select(lit("multiprobe_coverage").as("violation"))
      val domViol = bk.join(mp, "vec_id")
        .join(e.withColumnRenamed("eid", "vec_id").withColumnRenamed("v", "vq"), "vec_id")
        .join(e.withColumnRenamed("eid", "nn_b").withColumnRenamed("v", "vb"), "nn_b")
        .join(e.withColumnRenamed("eid", "nn_m").withColumnRenamed("v", "vm"), "nn_m")
        .where(Similarity.cosine(col("vq"), col("vm"))
          < Similarity.cosine(col("vq"), col("vb")) - 1e-9)
        .select(lit("multiprobe_dominance").as("violation"))
      val selfViol = bk.where(col("vec_id") === col("nn_b"))
        .select(lit("self_pair").as("violation"))
        .unionByName(mp.where(col("vec_id") === col("nn_m"))
          .select(lit("self_pair").as("violation")))
      coverViol.unionByName(domViol).unionByName(selfViol)
        .unionByName(recallViol)
    }),
    // Filtered-ANN laws (same parameters as the ann_ivf_filtered
    // driver query: pred = label < 3, k=1, nprobe=4 adaptive), on the
    // deterministic ⅕-ids query slice:
    //  - containment: every reported neighbor satisfies the predicate
    //    (the defining property — a post-filter bug or a leaked
    //    ineligible candidate breaks it);
    //  - degeneration: corpusPred = lit(true) equals annIvf EXACTLY
    //    (multiset — sel = 1 must widen nothing and the filtered path
    //    must add nothing);
    //  - ε-recall@1 ≥ 0.85 vs the exact FILTERED slice NN (the
    //    cosineTopK corpusPred bar) at ε = 0.15 — the floor that
    //    catches the pre-filter/post-filter distinction at fixture
    //    scale: selectivity-widened probing holds the same floor as
    //    unfiltered IVF (measured 0.99-1.00 on the driver fixtures);
    //  - sanity: no self-pairs.
    "check_ann_filtered" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val nlist = Similarity.nlistFor(Tables.embeddingsCount(s, d))
      lazy val cents = Some(sharedCents(s, d, nlist))
      val pred = col("label") < 3
      val slice = pmod(col("vec_id"), lit(5)) === 0
      val flt = scratchTable(s, d, "annflt1") {
        Similarity.annIvfFiltered(embs, 1, nlist = nlist, nprobe = 4,
            corpusPred = pred, queryPred = slice, centroids = cents)
          .select(col("vec_id"), col("nn_id").as("nn_f"))
      }
      val containViol = flt
        .join(embs.where(pred).select(col("vec_id").as("nn_f")),
          Seq("nn_f"), "left_anti")
        .select(lit("filtered_containment").as("violation"))
      val selfViol = flt.where(col("vec_id") === col("nn_f"))
        .select(lit("filtered_self_pair").as("violation"))
      val degenViol = multisetDiffViolations(
        Similarity.annIvfFiltered(embs, 1, nlist = nlist, nprobe = 4,
          corpusPred = lit(true), queryPred = slice, centroids = cents),
        Similarity.annIvf(embs, 1, nlist = nlist, nprobe = 4,
          queryPred = slice, centroids = cents),
        "filtered_degen_extra", "filtered_degen_missing")
      val exF = scratchTable(s, d, "annflt_ex1") {
        Similarity.cosineTopK(embs, 1, queryPred = slice, corpusPred = pred)
          .select(col("vec_id"), col("nn_id").as("nn_e"))
      }
      val e = embs.select(col("vec_id").as("eid"), col("embedding").as("v"))
      val (h, nq) = recallAt1(e, exF, flt, "nn_f", eps = 0.15)
      val recallViol = {
        import s.implicits._
        (if (h.toDouble < 0.85 * nq) Seq(s"filtered_recall $h/$nq") else Nil)
          .toDF("violation")
      }
      // ADC legs — the same three laws on annIvfPqFiltered (the
      // product-quantized filtered face, rerank=8): containment,
      // pred=true degeneration to annIvfPq (multiset-exact — shared
      // quantizers make the two index builds identical), and the
      // ε-recall floor vs the exact filtered slice at check_ivfpq's
      // 0.80 bar (PQ quantization noise sits under the filtered
      // widening, so the filtered face must not fall below the
      // unfiltered product path's own floor)
      val m = 8; val ksub = 16
      lazy val books = sharedBooks(s, d, m, ksub)
      val fltAdc = scratchTable(s, d, "annfltadc1") {
        Similarity.annIvfPqFiltered(embs, 1, nlist = nlist, nprobe = 4,
            corpusPred = pred, m = m, ksub = ksub, rerank = 8,
            queryPred = slice, centroids = cents, books = Some(books))
          .select(col("vec_id"), col("nn_id").as("nn_f"))
      }
      val adcContainViol = fltAdc
        .join(embs.where(pred).select(col("vec_id").as("nn_f")),
          Seq("nn_f"), "left_anti")
        .select(lit("fltadc_containment").as("violation"))
      val adcDegenViol = multisetDiffViolations(
        Similarity.annIvfPqFiltered(embs, 1, nlist = nlist, nprobe = 4,
          corpusPred = lit(true), m = m, ksub = ksub, rerank = 8,
          queryPred = slice, centroids = cents, books = Some(books)),
        Similarity.annIvfPq(embs, 1, nlist = nlist, nprobe = 4,
          m = m, ksub = ksub, rerank = 8, queryPred = slice,
          centroids = cents, books = Some(books)),
        "fltadc_degen_extra", "fltadc_degen_missing")
      val (hA, nqA) = recallAt1(e, exF, fltAdc, "nn_f", eps = 0.15)
      val adcRecallViol = {
        import s.implicits._
        (if (hA.toDouble < 0.80 * nqA) Seq(s"fltadc_recall $hA/$nqA") else Nil)
          .toDF("violation")
      }
      containViol.unionByName(selfViol).unionByName(degenViol)
        .unionByName(recallViol).unionByName(adcContainViol)
        .unionByName(adcDegenViol).unionByName(adcRecallViol)
    }),
    // IVF laws (same parameters as the ann_ivf driver query, k=1):
    //  - dominance: the IVF nn is drawn from a candidate subset, so
    //    its cosine is ≤ the exact brute-force nn's cosine — audited
    //    on a deterministic ⅕-ids query slice (the exact side is
    //    corpus×slice, not corpus², same harness-cost principle as
    //    check_outlier_bracket; the cheap set-level laws below stay
    //    full-corpus);
    //  - shared list: both endpoints of every reported pair share a
    //    probed list (the nn's OWN list is among the query's nprobe
    //    lists — that is the only way the equi-join can emit the pair);
    //  - sanity: no self-pairs;
    //  - ε-recall@1 floor vs the exact slice NN (ε = 0.15 — see
    //    recallAt1): ≥ 0.85 at nprobe=4. Measured 0.968-1.000 on the
    //    driver fixtures at ε=0.15; a broken quantizer or probe join
    //    scores ≈ 0 (random-neighbor cosine ~0 vs exact NN ~0.4), so
    //    the floor gates the implementation with headroom.
    //  - ε-recall@3 floor for IVF's top-k (rank window) path:
    //    annIvf(k=3) vs the exact top-3, ≥ 0.80 at ε=0.15 (measured
    //    0.998-1.000 on the driver fixtures; floor set slightly below
    //    the multi-probe one — a query's 3rd slot can live outside
    //    its nprobe lists).
    "check_ivf" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val nlist = Similarity.nlistFor(Tables.embeddingsCount(s, d))
      // one quantizer training shared by the operator under test, the
      // probe-membership recomputation, AND check_ivfpq (identical
      // centroids are the premise of the shared-list law anyway);
      // lazy because all three consumers are scratch-materialized —
      // after the first build per JVM the training never reruns
      lazy val cents = Some(sharedCents(s, d, nlist))
      val slice = pmod(col("vec_id"), lit(5)) === 0
      val ivf = scratchTable(s, d, "ivf1") {
        Similarity.annIvf(embs, 1, nlist = nlist, nprobe = 4, centroids = cents)
          .select(col("vec_id"), col("nn_id"))
      }
      // ONE exact top-3 table (parquet-materialized per JVM, shared
      // with check_ann_recall — see exactTop3) feeds both the @1 laws
      // (rank 1) and the @3 floor
      val ex3 = exactTop3(s, d).cache()
      val exact = ex3.where(col("rank") === 1)
        .select(col("vec_id"), col("nn_id").as("nn_e"))
      val e = embs.select(col("vec_id").as("eid"), col("embedding").as("ev"))
      val domViol = ivf.where(slice).join(exact, "vec_id")
        .join(e.withColumnRenamed("eid", "vec_id").withColumnRenamed("ev", "vq"), "vec_id")
        .join(e.withColumnRenamed("eid", "nn_id").withColumnRenamed("ev", "vi"), "nn_id")
        .join(e.withColumnRenamed("eid", "nn_e").withColumnRenamed("ev", "ve"), "nn_e")
        .where(Similarity.cosine(col("vq"), col("vi"))
          > Similarity.cosine(col("vq"), col("ve")) + 1e-9)
        .select(lit("ivf_dominance").as("violation"))
      val probes = scratchTable(s, d, "ivf_probes") {
        Similarity.ivfProbeLists(embs, nlist = nlist, nprobe = 4,
          centroids = cents)
      }
      val shareViol = ivf
        .join(probes.select(col("id").as("vec_id"), col("lists")), "vec_id")
        .join(probes.select(col("id").as("nn_id"), col("lists").getItem(0).as("own")), "nn_id")
        .where(!array_contains(col("lists"), col("own")))
        .select(lit("ivf_shared_list").as("violation"))
      val selfViol = ivf.where(col("vec_id") === col("nn_id"))
        .select(lit("self_pair").as("violation"))
      val recallViol = {
        val (hi, nq) = recallAt1(
          e.withColumnRenamed("ev", "v"),
          exact, ivf.where(slice).withColumnRenamed("nn_id", "nn_i"), "nn_i",
          eps = 0.15)
        val ivf3 = scratchTable(s, d, "ivf3") {
          Similarity.annIvf(embs, 3, nlist = nlist, nprobe = 4,
              centroids = cents, queryPred = slice)
            .select("vec_id", "nn_id")
        }
        val (h3, s3) = recallAtK(e.withColumnRenamed("ev", "v"),
          ex3.select("vec_id", "nn_id"), ivf3, eps = 0.15)
        import s.implicits._
        ((if (hi.toDouble < 0.85 * nq) Seq(s"ivf_recall $hi/$nq") else Nil) ++
          (if (h3.toDouble < 0.80 * s3) Seq(s"ivf_recall_at3 $h3/$s3") else Nil))
          .toDF("violation")
      }
      domViol.unionByName(shareViol).unionByName(selfViol)
        .unionByName(recallViol)
    }),
    // Quantized-search law — the memory-compressed path a 100 TB
    // deployment actually runs (int8 codes are 4× smaller than
    // float32, so 4× more corpus fits in executor memory; candidate
    // scoring works on dequantized vectors): annMultiProbe over
    // dequantizeInt8(quantizeInt8(embs)) must retain ε-recall@1
    // ≥ 0.85 at ε = 0.15 against the exact NN computed on the
    // ORIGINAL float vectors — the end-to-end bar the user cares
    // about. check_quantize bounds each component's reconstruction
    // error; this law asserts those errors don't accumulate into
    // changed ANSWERS (hyperplane sign bits near the boundary may
    // flip — ε-recall must absorb that). Measured at ε=0.15: 0.988
    // (sf0.1) / 0.990 (sf0.01) — indistinguishable from the
    // full-precision multiprobe path. Also: no self-pairs, and
    // every sliced query still answered (coverage) — a quantizer
    // emitting empty/degenerate vectors would drop rows here.
    "check_ann_quantized" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val nBits = Similarity.nBitsFor(Tables.embeddingsCount(s, d))
      val slice = pmod(col("vec_id"), lit(5)) === 0
      val mpq = scratchTable(s, d, "ann_mpq1") {
        val deq = Similarity.dequantizeInt8(Similarity.quantizeInt8(embs))
        Similarity.annMultiProbe(deq, 1, dim = 64, nBits = nBits, seed = SEED,
            vecCol = "vec", queryPred = slice)
          .select(col("vec_id"), col("nn_id").as("nn_q"))
      }
      val e = embs.select(col("vec_id").as("eid"), col("embedding").as("v"))
      val ex = exactTop3(s, d).where(col("rank") === 1)
        .select(col("vec_id"), col("nn_id").as("nn_e"))
      val (hq, nq) = recallAt1(e, ex, mpq, "nn_q", eps = 0.15)
      val recallViol = {
        import s.implicits._
        (if (hq.toDouble < 0.85 * nq) Seq(s"quantized_recall $hq/$nq") else Nil)
          .toDF("violation")
      }
      val selfViol = mpq.where(col("vec_id") === col("nn_q"))
        .select(lit("self_pair").as("violation"))
      val coverViol = embs.where(slice).select("vec_id")
        .join(mpq, Seq("vec_id"), "left_anti")
        .select(lit("quantized_coverage").as("violation"))
      recallViol.unionByName(selfViol).unionByName(coverViol)
    }),
    // PQ-ADC laws (same m=8/ksub=16 books as the ann_pq query; one
    // pqTrain call shared by every face). The per-PAIR laws (parity,
    // bound) are audited on a deterministic 1/25-ids query slice ×
    // the full code table — they are per-pair, so the slice version
    // is exactly as sound per audited pair while the join pays
    // slice × corpus with an INTERPRETED HOF side (the parity
    // reference is deliberately the slow formulation); the
    // whole-operator laws (recall, coverage) run on the standard ⅕
    // slice like every ANN check. Laws:
    //  - scorer parity: the codegen'd graft_pq_adc over the BINARY
    //    codes equals the higher-order formulation over the array<int>
    //    twin, BIT-identical (same left-to-right IEEE add order) —
    //    this also pins binary ↔ array code consistency, since a
    //    diverging byte would shift one of the sums;
    //  - Cauchy–Schwarz bound: |⟨q,x⟩ − adc(q, codes(x))| =
    //    |⟨q, x − x̂⟩| ≤ ‖x − x̂‖ = rerr(x) per pair (q unit length) —
    //    a transposed/misindexed LUT scores against the wrong
    //    subspaces and breaks the bound, which no tuning can hide;
    //  - shape: every code is exactly m bytes (array twin m entries);
    //  - ε-recall@1 floors vs the exact NN on the original floats, at
    //    ε = 0.15, for BOTH faces: pure ADC ≥ 0.40 (a 32× lossy code
    //    genuinely blurs the isotropic fixture's ~0.03 best/2nd-best
    //    gap — measured 0.55 sf0.01 / 0.475 sf0.1; a broken scorer
    //    lands ≈ 0, so the low bar still gates the implementation)
    //    and the rerank=32 production face ≥ 0.85 (exact scores on
    //    the nq·32 shortlist decide the answer — measured 1.00
    //    sf0.01 / 0.99 sf0.1);
    //  - coverage + no self-pairs, as every ANN face.
    // (fully deterministic — memoized books, fixed slices — so the
    // violation table is scratch-materialized per JVM like the other
    // wrapped checks: the per-pair parity/bound joins deliberately
    // keep an INTERPRETED higher-order side as the reference, which
    // re-ran per bench repetition at ~4 s; graft.Verify still pays
    // the full build once in its own JVM)
    "check_pq_adc" -> ((s, d) => scratchTable(s, d, "pq_adc_viol") {
      val embs = Tables.embeddings(s, d)
      val m = 8; val ksub = 16
      val slice = pmod(col("vec_id"), lit(5)) === 0
      val books = sharedBooks(s, d, m, ksub)
      val codes = scratchTable(s, d, "pq_codes") {
        Similarity.pqEncode(embs, books)
      }
      val pairSlice = pmod(col("vec_id"), lit(25)) === 0
      val luts = scratchTable(s, d, "pq_luts") {
        Similarity.pqQueryLuts(embs.where(pairSlice), books)
      }
      val pairs = codes
        .select(col("vec_id").as("nn_id"), col("codes"), col("codes_arr"), col("rerr"))
        .join(broadcast(luts.select(col("vec_id"), col("qv"), col("lut"))),
          col("vec_id") =!= col("nn_id"))
      val adc = graft.functions.Native.pqAdcNative(s, col("codes"), col("lut"))
      val hof = aggregate(
        transform(col("codes_arr"),
          (c, j) => element_at(col("lut"), j * lit(ksub) + c + lit(1))),
        lit(0.0), (acc, x) => acc + x)
      val parityViol = pairs.where(adc =!= hof)
        .select(lit("adc_hof_parity").as("violation"))
      val e = embs.select(col("vec_id").as("eid"), col("embedding").as("v"))
      val boundViol = pairs
        .join(e.withColumnRenamed("eid", "nn_id").withColumnRenamed("v", "ve"), "nn_id")
        .where(abs(Similarity.cosine(col("qv"), col("ve")) - adc)
          > col("rerr") + 1e-6)
        .select(lit("adc_cauchy_schwarz").as("violation"))
      val shapeViol = codes
        .where(octet_length(col("codes")) =!= m || size(col("codes_arr")) =!= m)
        .select(lit("code_shape").as("violation"))
      val pq = scratchTable(s, d, "ann_pq1") {
        Similarity.annPq(embs, 1, m = m, ksub = ksub, queryPred = slice,
            books = Some(books), precomputedCodes = Some(codes))
          .select(col("vec_id"), col("nn_id").as("nn_p"))
      }
      val pqr = scratchTable(s, d, "ann_pqr1") {
        Similarity.annPq(embs, 1, m = m, ksub = ksub, rerank = 32,
            queryPred = slice, books = Some(books),
            precomputedCodes = Some(codes))
          .select(col("vec_id"), col("nn_id").as("nn_r"))
      }
      val ex = exactTop3(s, d).where(col("rank") === 1)
        .select(col("vec_id"), col("nn_id").as("nn_e"))
      val (hp, nq) = recallAt1(e, ex, pq, "nn_p", eps = 0.15)
      val (hr, _) = recallAt1(e, ex, pqr, "nn_r", eps = 0.15)
      val recallViol = {
        import s.implicits._
        ((if (hp.toDouble < 0.40 * nq) Seq(s"pq_adc_recall $hp/$nq") else Nil) ++
          (if (hr.toDouble < 0.85 * nq) Seq(s"pq_rerank_recall $hr/$nq") else Nil))
          .toDF("violation")
      }
      val selfViol = pq.where(col("vec_id") === col("nn_p"))
        .select(lit("self_pair").as("violation"))
        .unionByName(pqr.where(col("vec_id") === col("nn_r"))
          .select(lit("self_pair").as("violation")))
      // coverage for BOTH faces — recall floors are computed over
      // surviving rows, so a face silently dropping queries would
      // otherwise go unseen
      val coverViol = embs.where(slice).select("vec_id")
        .join(pqr, Seq("vec_id"), "left_anti")
        .select(lit("pq_coverage").as("violation"))
        .unionByName(embs.where(slice).select("vec_id")
          .join(pq, Seq("vec_id"), "left_anti")
          .select(lit("pq_adc_coverage").as("violation")))
      parityViol.unionByName(boundViol).unionByName(shapeViol)
        .unionByName(recallViol).unionByName(selfViol).unionByName(coverViol)
    }),
    // IVF maintained-index law — the ANN twin of check_bloom_persist's
    // nightly lifecycle, on the same ⅕-new/⅘-corpus split: train the
    // coarse quantizer ONCE, round-trip the centroid table AND each
    // batch's assignment table (ivfAssign) through real parquet files,
    // append (union) the per-batch tables, and search the appended
    // index via annIvfFromIndex. Pins, all exact:
    //  - append == rebuild: per-batch assignment tables union to the
    //    single-pass table over the full corpus, row-for-row (multiset,
    //    including the stored normalized vectors — assignment is
    //    deterministic given centroids, so incremental ingest loses
    //    NOTHING vs a rebuild);
    //  - search-from-index == annIvf: the k=3 answer table from the
    //    file-round-tripped appended index equals the one-shot
    //    operator's (same centroids), so the maintained face a nightly
    //    job actually queries cannot drift from the audited one.
    "check_ivf_append" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val nlist = Similarity.nlistFor(Tables.embeddingsCount(s, d))
      val isNew = pmod(col("vec_id"), lit(5)) === 0
      val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rt")
      try {
        val cents0 = Similarity.ivfCentroids(embs, nlist)
        Similarity.centroidsToDF(s, cents0)
          .write.mode("overwrite").parquet(s"$dir/centroids")
        val cents = Similarity.centroidsFromDF(s.read.parquet(s"$dir/centroids"))
        Seq(("corpus", embs.where(!isNew)), ("batch", embs.where(isNew)))
          .foreach { case (name, batch) =>
            Similarity.ivfAssign(batch, cents)
              .write.mode("overwrite").parquet(s"$dir/$name")
          }
        val appended = s.read.parquet(s"$dir/corpus")
          .unionByName(s.read.parquet(s"$dir/batch"))
        val rebuilt = Similarity.ivfAssign(embs, cents)
        val assignViol = multisetDiffViolations(appended, rebuilt,
          "ivf_append_extra", "ivf_append_missing")
        val slice = pmod(col("vec_id"), lit(5)) === 0
        val fromIdx = Similarity.annIvfFromIndex(appended,
          embs.where(slice), k = 3, nprobe = 4, cents)
        val oneShot = Similarity.annIvf(embs, 3, nlist = nlist, nprobe = 4,
          centroids = Some(cents), queryPred = slice)
        val searchViol = multisetDiffViolations(fromIdx, oneShot,
          "ivf_index_search_extra", "ivf_index_search_missing")
        // PACK-ONCE lifecycle (what the maintained index persists at
        // append time): per-batch ivfPack segment tables, file-round-
        // tripped and UNIONED, must answer queries byte-identically to
        // the one-shot operator — segment boundaries differ from the
        // whole-corpus pack, so this is the segmentation-independence
        // law through real parquet, and the unpack of the union must
        // restore the assignment rows exactly (nothing lost in packing)
        Seq("corpus", "batch").foreach { name =>
          Similarity.ivfPack(s.read.parquet(s"$dir/$name"),
              dim = cents.head.length)
            .write.mode("overwrite").parquet(s"$dir/${name}_packed")
        }
        val packed = s.read.parquet(s"$dir/corpus_packed")
          .unionByName(s.read.parquet(s"$dir/batch_packed"))
        val fromPacked = Similarity.annIvfFromPacked(packed,
          embs.where(slice), k = 3, nprobe = 4, cents)
        val packedViol = multisetDiffViolations(fromPacked, oneShot,
          "ivf_packed_search_extra", "ivf_packed_search_missing")
        val unpackViol = multisetDiffViolations(
          Similarity.ivfUnpack(packed), appended,
          "ivf_unpack_extra", "ivf_unpack_missing")
        // violations are collected to the driver (tiny: pass = empty)
        // BEFORE the finally deletes the parquet files they scan —
        // a lazily-returned frame would recompute from deleted input
        val out = assignViol.unionByName(searchViol)
          .unionByName(packedViol).unionByName(unpackViol)
          .collect().map(_.getString(0)).toSeq
        import s.implicits._
        out.toDF("violation")
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
    }),
    // Semantic-dedup laws (same parameters as the dedup_semantic
    // query): the clustered face must be SOUND — every reported pair
    // exists in the exact O(N²) verifier's output at the same
    // threshold with the same csim (1e-9: the faces normalize at
    // different points — dot(a/|a|, b/|b|) vs dot(a,b)/(|a||b|) — so
    // bitwise equality is not owed), each pair reported at most once —
    // and its measured recall vs the exact verifier must clear 0.85.
    // The fixture is the HARD case for cluster-local dedup: its pairs
    // sit at cosine 0.45–0.51 (far from coincident — a real SemDeDup
    // threshold is ~0.95 on near-identical vectors), so the spill is
    // doing real work: measured recall 139/144 = 0.965 at nAssign=3
    // vs 117/144 = 0.81 at nAssign=2 (sf0.1; 14/14 at sf0.01) —
    // deterministic, and a broken quantizer, a dropped cluster, or a
    // spill regression scores far below the floor.
    "check_semantic_dedup" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val nClusters = math.max(4L, Tables.embeddingsCount(s, d) / 256L).toInt
      val sem = scratchTable(s, d, "semdedup") {
        Similarity.semanticNearDupPairs(embs, 0.45, nClusters, nAssign = 3)
      }
      val brute = scratchTable(s, d, "semdedup_exact") {
        Similarity.cosineNearDupPairs(embs, 0.45)
      }
      val soundViol = sem.select("a", "b")
        .join(brute.select("a", "b"), Seq("a", "b"), "left_anti")
        .select(lit("semantic_not_exact").as("violation"))
      val csimViol = sem.select(col("a"), col("b"), col("csim").as("cs"))
        .join(brute, Seq("a", "b"))
        .where(abs(col("cs") - col("csim")) > 1e-9)
        .select(lit("semantic_csim_drift").as("violation"))
      val dupViol = sem.groupBy("a", "b").agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .select(lit("semantic_dup_pair").as("violation"))
      val recallViol = {
        val nb = brute.count()
        val hits = sem.select("a", "b")
          .join(brute.select("a", "b"), Seq("a", "b"), "left_semi").count()
        import s.implicits._
        (if (hits.toDouble < 0.85 * nb) Seq(s"semantic_recall $hits/$nb")
         else Nil).toDF("violation")
      }
      soundViol.unionByName(csimViol).unionByName(dupViol)
        .unionByName(recallViol)
    }),
    // Routed-quantizer laws — the two-level CentroidTree face
    // semanticNearDupPairs auto-switches to above 64 cells, forced on
    // here (k = 64 regardless of fixture size) so the driver
    // certifies it at sf scale. Scratch-materialized per JVM (fully
    // deterministic — the check_ingest_ann_replay pattern):
    //  - soundness: every routed pair exists in the exact O(N²)
    //    verifier's output at the same threshold with the same csim
    //    (1e-9 — the check_semantic_dedup tolerance), each pair at
    //    most once;
    //  - full-route degeneration: with nRoute = #coarse cells the
    //    routed ASSIGNMENT equals the flat assignment over the tree's
    //    concatenated centroids, row-for-row (multiset, stored
    //    vectors included — same (dot desc, id asc) tie-break), so
    //    the routing machinery provably loses nothing beyond its
    //    fan-out; partial-route recall is the documented
    //    threshold-dependent trade (RoutedAssignSpec floors it at
    //    ≥ 0.9 on planted near-copies — the SemDeDup regime; this
    //    fixture's 0.45-cos pairs are the hard borderline case).
    "check_semantic_routed" -> ((s, d) => scratchTable(s, d, "sem_routed") {
      val embs = Tables.embeddings(s, d)
      val tree = Similarity.hierarchicalCentroids(embs, 64)
      val routed = Similarity.semanticPairsFromIndex(
        Similarity.semanticAssignRouted(embs, tree, nAssign = 3, nRoute = 2),
        0.45)
      val brute = scratchTable(s, d, "semdedup_exact") {
        Similarity.cosineNearDupPairs(embs, 0.45)
      }
      val soundViol = routed.select("a", "b")
        .join(brute.select("a", "b"), Seq("a", "b"), "left_anti")
        .select(lit("routed_not_exact").as("violation"))
      val csimViol = routed.select(col("a"), col("b"), col("csim").as("cs"))
        .join(brute, Seq("a", "b"))
        .where(abs(col("cs") - col("csim")) > 1e-9)
        .select(lit("routed_csim_drift").as("violation"))
      val dupViol = routed.groupBy("a", "b").agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .select(lit("routed_dup_pair").as("violation"))
      val degenViol = multisetDiffViolations(
        Similarity.semanticAssignRouted(embs, tree, nAssign = 3,
          nRoute = tree.coarse.length),
        Similarity.semanticAssign(embs, tree.concat, nAssign = 3),
        "routed_degen_extra", "routed_degen_missing")
      // the BORDERLINE config the product face auto-routes with at
      // this threshold (spilled tree + adaptive margin probing —
      // round 13): same soundness/at-most-once laws, the spilled
      // full-fan-out degeneration (replica dedup must collapse to the
      // flat answer exactly), and a ≥ 0.8 recall floor vs the FLAT
      // face — the gap a bare fixed fan-out measurably loses to ~½
      val treeS = Similarity.hierarchicalCentroids(embs, 64,
        spill = Similarity.spillFor(0.45))
      // pinned to SCRATCH PARQUET, not localCheckpoint: three laws
      // below re-read it (recall count + soundness + at-most-once) and
      // the adaptive pair pipeline is the most expensive sub-check
      // here — but checkpoint blocks pin BlockManager storage for the
      // JVM's life, and in the bench JVM that accumulation measurably
      // slowed UNRELATED queries (the round-13 artifact inflation);
      // the per-JVM scratch dir gives the same one-build reuse on disk
      val adaptive = scratchTable(s, d, "sem_routed_adaptive") {
        Similarity.semanticPairsFromIndex(
          Similarity.semanticAssignRoutedAdaptive(embs, treeS, nAssign = 3,
            routeMargin = Similarity.routeMarginFor(0.45),
            minRoute = 2, maxRoute = 4),
          0.45)
      }
      val soundViolS = adaptive.select("a", "b")
        .join(brute.select("a", "b"), Seq("a", "b"), "left_anti")
        .select(lit("spilled_not_exact").as("violation"))
      val dupViolS = adaptive.groupBy("a", "b").agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .select(lit("spilled_dup_pair").as("violation"))
      val degenViolS = multisetDiffViolations(
        Similarity.semanticAssignRouted(embs, treeS, nAssign = 3,
          nRoute = treeS.coarse.length),
        Similarity.semanticAssign(embs, treeS.concat, nAssign = 3),
        "spilled_degen_extra", "spilled_degen_missing")
      val recallViolS = {
        // scratch, not checkpoint — same reasoning as `adaptive` above
        val flatPairs = scratchTable(s, d, "sem_routed_flat_pairs") {
          Similarity.semanticPairsFromIndex(
            Similarity.semanticAssign(embs, treeS.concat, nAssign = 3), 0.45)
            .select("a", "b")
        }
        val nFlat = flatPairs.count()
        val hits = adaptive.select("a", "b")
          .join(flatPairs, Seq("a", "b"), "left_semi").count()
        import s.implicits._
        (if (hits.toDouble < 0.8 * nFlat)
          Seq(s"spilled_borderline_recall $hits/$nFlat") else Nil)
          .toDF("violation")
      }
      soundViol.unionByName(csimViol).unionByName(dupViol)
        .unionByName(degenViol).unionByName(soundViolS)
        .unionByName(dupViolS).unionByName(degenViolS)
        .unionByName(recallViolS)
    }),
    // IVFADC laws (same nlist/nprobe as ann_ivf, same m/ksub books as
    // ann_pq — both quantizers trained once and shared):
    //  - degenerate equality: nprobe = nlist with rerank = 0 equals
    //    annPq's pure-ADC ranking multiset-exact — probing every list
    //    makes the candidate set the full corpus (each vector lives in
    //    exactly one inverted list), and shared books make every ADC
    //    double and tie-break identical, so ANY drift between the
    //    IVF-routed and flat scorers (a dropped list, a double-counted
    //    candidate, a LUT mismatch) breaks exact equality;
    //  - ε-recall@1 floor at nprobe = 4 + rerank = 32 vs the exact NN
    //    on the original floats: ≥ 0.80 at ε = 0.15 (two stacked
    //    approximations — probe misses plus code blur; rerank recovers
    //    within the probed set — measured 1.00 sf0.01 / 0.955 sf0.1);
    //  - coverage + no self-pairs.
    "check_ivfpq" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val nlist = Similarity.nlistFor(Tables.embeddingsCount(s, d))
      val m = 8; val ksub = 16
      val slice = pmod(col("vec_id"), lit(5)) === 0
      // quantizers and the full-corpus code table shared with
      // check_ivf / check_pq_adc (memoized + scratch) — one training
      // and one encode pass feed all three checks' faces; lazy so a
      // fully-scratched repetition never trains at all
      lazy val cents = sharedCents(s, d, nlist)
      lazy val books = sharedBooks(s, d, m, ksub)
      lazy val codes = scratchTable(s, d, "pq_codes") {
        Similarity.pqEncode(embs, books)
      }
      val degen = scratchTable(s, d, "ivfpq_degen") {
        Similarity.annIvfPq(embs, 1, nlist = nlist, nprobe = nlist,
          m = m, ksub = ksub, queryPred = slice,
          centroids = Some(cents), books = Some(books),
          precomputedCodes = Some(codes))
      }
      val flatAdc = scratchTable(s, d, "ivfpq_flat") {
        Similarity.annPq(embs, 1, m = m, ksub = ksub, queryPred = slice,
          books = Some(books), precomputedCodes = Some(codes))
      }
      val degenViol = multisetDiffViolations(degen, flatAdc,
        "ivfpq_degen_extra", "ivfpq_degen_missing")
      val ipq = scratchTable(s, d, "ivfpq1") {
        Similarity.annIvfPq(embs, 1, nlist = nlist, nprobe = 4,
            m = m, ksub = ksub, rerank = 32, queryPred = slice,
            centroids = Some(cents), books = Some(books),
            precomputedCodes = Some(codes))
          .select(col("vec_id"), col("nn_id").as("nn_i"))
      }
      val e = embs.select(col("vec_id").as("eid"), col("embedding").as("v"))
      val ex = exactTop3(s, d).where(col("rank") === 1)
        .select(col("vec_id"), col("nn_id").as("nn_e"))
      val (hi, nq) = recallAt1(e, ex, ipq, "nn_i", eps = 0.15)
      val recallViol = {
        import s.implicits._
        (if (hi.toDouble < 0.80 * nq) Seq(s"ivfpq_recall $hi/$nq") else Nil)
          .toDF("violation")
      }
      val selfViol = ipq.where(col("vec_id") === col("nn_i"))
        .select(lit("self_pair").as("violation"))
      val coverViol = embs.where(slice).select("vec_id")
        .join(ipq, Seq("vec_id"), "left_anti")
        .select(lit("ivfpq_coverage").as("violation"))
      degenViol.unionByName(recallViol).unionByName(selfViol)
        .unionByName(coverViol)
    }),
    // Index-drift laws (the quantizer-staleness monitor, same
    // quantizer params as the index_drift product query):
    //  - exact zero: occupancyDrift(X, X) scores tvd == 0 and every
    //    share_delta == 0 EXACTLY (the integer cross-products cancel
    //    cell by cell — any FP summation in the plumbing would break
    //    the equality);
    //  - stationary bracket: the even/odd halves of the isotropic
    //    fixture are identically distributed, so their drift stays
    //    UNDER the 0.2 trip line;
    //  - planted shift: folding every recent vector into the positive
    //    orthant (abs of each component) collapses occupancy onto the
    //    positive-region cells and must TRIP 0.2 — a monitor that
    //    cannot see a full orthant collapse is broken;
    //  - parity: the op's decimal-plumbed tvd equals a driver-side
    //    recomputation from the emitted integer counts (tolerance
    //    1e-6 — the output is rounded to 6 decimals).
    // (fully deterministic — quantizer trained on a fixed half, fixed
    // splits — so the violation table is scratch-materialized per JVM,
    // the check_ingest_ann_replay pattern; the eager drift collects
    // otherwise re-run per bench repetition)
    "check_index_drift" -> ((s, d) => scratchTable(s, d, "index_drift_viol") {
      val embs = Tables.embeddings(s, d)
      val nlist = Similarity.nlistFor(Tables.embeddingsCount(s, d))
      val isRef = pmod(col("vec_id"), lit(2)) === 0
      // one quantizer — trained on the reference half only, like a
      // real bootstrap — shared by all three assignment tables
      val cents = Similarity.ivfCentroids(embs.where(isRef), nlist)
      val refIdx = scratchTable(s, d, "drift_ref") {
        Similarity.ivfAssign(embs.where(isRef), cents).select("list")
      }
      val newIdx = scratchTable(s, d, "drift_new") {
        Similarity.ivfAssign(embs.where(!isRef), cents).select("list")
      }
      val shiftIdx = scratchTable(s, d, "drift_shift") {
        Similarity.ivfAssign(
          embs.where(!isRef).withColumn("embedding",
            transform(col("embedding"), x => abs(x))),
          cents).select("list")
      }
      val selfViol = Similarity.occupancyDrift(refIdx, refIdx, "list")
        .where(col("tvd") =!= 0.0 || col("share_delta") =!= 0.0)
        .select(lit("drift_self_nonzero").as("violation"))
      val stat = Similarity.occupancyDrift(refIdx, newIdx, "list")
      val statRows = stat.select("cnt_ref", "cnt_new", "tvd").collect()
      val statTvd = statRows.head.getDouble(2)
      val shiftTvd = Similarity.occupancyDrift(refIdx, shiftIdx, "list")
        .select("tvd").head().getDouble(0)
      // independent recomputation from the emitted integer counts
      val ta = statRows.map(_.getLong(0)).sum.toDouble
      val tb = statRows.map(_.getLong(1)).sum.toDouble
      val tvd2 = 0.5 * statRows
        .map(r => math.abs(r.getLong(0) / ta - r.getLong(1) / tb)).sum
      import s.implicits._
      // the stationary bound is NOISE-AWARE: two identically-
      // distributed multinomial samples of n rows over c cells sit at
      // TVD ≈ √(c/n) by pure sampling noise (sf0.001's 250-row halves
      // over ~45 cells measure 0.27 — no drift, just small-sample
      // jitter), so the bracket is max(0.2, 2·√(c/minN)): at
      // deployment scale (n ≫ c) it converges to the absolute 0.2
      // trip line, while toy fixtures can't false-alarm on jitter.
      // The planted-shift law stays ABSOLUTE — an orthant collapse
      // must clear 0.2 regardless
      val statBound = math.max(0.2,
        2.0 * math.sqrt(statRows.length / math.min(ta, tb)))
      val scalarViol =
        ((if (statTvd >= statBound)
            Seq(f"drift_stationary_tripped $statTvd%.4f >= $statBound%.4f") else Nil) ++
          (if (shiftTvd <= 0.2) Seq(f"drift_shift_missed $shiftTvd%.4f") else Nil) ++
          (if (math.abs(statTvd - tvd2) > 1e-6) Seq(
            f"drift_tvd_parity $statTvd%.8f vs $tvd2%.8f") else Nil))
          .toDF("violation")
      selfViol.unionByName(scalarViol)
    }),
    // Semantic-dedup maintained-index laws — the SemDeDup twin of
    // check_ivf_append's nightly lifecycle, on the same ⅕-new/⅘-corpus
    // split with the same parameters as dedup_semantic: train the
    // quantizer ONCE, round-trip the centroid table AND each batch's
    // spill-assignment table (semanticAssign) through real parquet,
    // then pin, all exact:
    //  - append == rebuild: per-batch assignment tables union to the
    //    single-pass table row-for-row (multiset, stored vectors
    //    included — assignment is deterministic given centroids);
    //  - pairs-from-index == one-shot: semanticPairsFromIndex over the
    //    file-round-tripped appended index equals semanticNearDupPairs
    //    under the same centroids (the faces share code, but the law
    //    holds through REAL parquet — schema drift or float narrowing
    //    in the persisted index would break it);
    //  - incremental completeness: old-corpus pairs ⊎ semanticNewPairs
    //    (batch × appended index) == the full pairs, multiset-exact
    //    including csim doubles — so a nightly batch scores only
    //    |batch|·occupancy·nAssign² candidates and loses NOTHING vs
    //    re-clustering the corpus.
    "check_semantic_append" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val nClusters = math.max(4L, Tables.embeddingsCount(s, d) / 256L).toInt
      val isNew = pmod(col("vec_id"), lit(5)) === 0
      val dir = java.nio.file.Files.createTempDirectory("graft_sem_rt")
      try {
        val cents0 = Similarity.ivfCentroids(embs, nClusters)
        Similarity.centroidsToDF(s, cents0)
          .write.mode("overwrite").parquet(s"$dir/centroids")
        val cents = Similarity.centroidsFromDF(s.read.parquet(s"$dir/centroids"))
        Seq(("corpus", embs.where(!isNew)), ("batch", embs.where(isNew)))
          .foreach { case (name, part) =>
            Similarity.semanticAssign(part, cents, nAssign = 3)
              .write.mode("overwrite").parquet(s"$dir/$name")
          }
        val oldIdx = s.read.parquet(s"$dir/corpus")
        val batchIdx = s.read.parquet(s"$dir/batch")
        val appended = oldIdx.unionByName(batchIdx)
        val rebuilt = Similarity.semanticAssign(embs, cents, nAssign = 3)
        val assignViol = multisetDiffViolations(appended, rebuilt,
          "sem_append_extra", "sem_append_missing")
        val fromIdx = Similarity.semanticPairsFromIndex(appended, 0.45)
        val oneShot = Similarity.semanticNearDupPairs(embs, 0.45, nClusters,
          nAssign = 3, centroids = Some(cents))
        val pairViol = multisetDiffViolations(fromIdx, oneShot,
          "sem_index_pairs_extra", "sem_index_pairs_missing")
        val incremental = Similarity.semanticPairsFromIndex(oldIdx, 0.45)
          .unionByName(Similarity.semanticNewPairs(batchIdx, appended, 0.45))
        val incViol = multisetDiffViolations(incremental, oneShot,
          "sem_incremental_extra", "sem_incremental_missing")
        // violations are collected BEFORE the finally deletes the
        // parquet files they scan (the check_ivf_append lesson)
        val out = assignViol.unionByName(pairViol).unionByName(incViol)
          .collect().map(_.getString(0)).toSeq
        import s.implicits._
        out.toDF("violation")
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
    }),
    // Maintained-ANN replay law — the embedding-index twin of the
    // ingest_dedup_replay product query, driver-certifying the
    // round-11 flagship end to end: run the REAL ann-enabled ingest
    // lifecycle (bootstrap on a ⅘ corpus trains the quantizers and
    // builds the index tables; one ⅕ batch ingests; the SAME batch is
    // RE-DELIVERED, as foreachBatch does after a crash between sink
    // call and checkpoint commit) against real parquet state, then
    // pin, all exact:
    //  - append == rebuild through the replay: the maintained IVF
    //    assignment and PQ code tables equal a from-scratch
    //    assignment/encode of the final corpus under the persisted
    //    quantizers (multiset — a doubled replay append or a dropped
    //    row breaks it);
    //  - maintained search == one-shot: IVFADC (nprobe=4, rerank=8)
    //    over the maintained tables equals annIvfPq over the final
    //    corpus with the same quantizers, row for row — the search
    //    face a nightly deployment actually queries cannot drift.
    // (the whole lifecycle is deterministic — seeded quantizers, fixed
    // split — so the violation table is scratch-materialized per JVM
    // like the other expensive deterministic check inputs; graft.Verify
    // runs in its own JVM and always pays the full build once)
    "check_ingest_ann_replay" -> ((s, d) => scratchTable(s, d, "ingest_ann_replay") {
      import graft.streaming.ContinuousIngest
      import graft.streaming.ContinuousIngest.{AnnParams, IngestParams, IngestState}
      val nlist = Similarity.nlistFor(Tables.embeddingsCount(s, d))
      // embeddings as an ingestable doc table: unique synthetic text
      // (no dedup drops — every vector must reach the index)
      val docs = Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id"),
          concat(lit("v"), col("vec_id")).as("text"), col("embedding"))
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val p = IngestParams(
        expectedDigests = math.max(1L, Tables.embeddingsCount(s, d)),
        fpp = 0.05, nearDup = false,
        ann = Some(AnnParams(nlist = nlist)))
      val root = java.nio.file.Files.createTempDirectory("graft_ann_replay")
      try {
        val st = IngestState(root.toString)
        ContinuousIngest.bootstrap(docs.where(!isNew), st, p)
        val quant = ContinuousIngest.loadQuantizers(s, st, p.ann.get)
        ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, p, Some(quant))
        // crash-replay: the same batch id re-delivered — idempotent
        // partition overwrites must absorb it or the diffs below break
        ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, p, Some(quant))
        val ivfTab = ContinuousIngest.readTable(s, st.ivfPath)
        val pqTab = ContinuousIngest.readTable(s, st.pqPath)
        // the maintained assignment table is SLIM (nn_id, list); the
        // floats live once in the packed table, whose unpack must
        // restore the full from-scratch assignment exactly
        val ivfViol = multisetDiffViolations(ivfTab,
          Similarity.ivfAssign(docs, quant.cents, idCol = "doc_id")
            .select("nn_id", "list"),
          "ingest_ivf_extra", "ingest_ivf_missing")
        val packViol = multisetDiffViolations(
          Similarity.ivfUnpack(ContinuousIngest.readTable(s, st.ivfPackedPath)),
          Similarity.ivfAssign(docs, quant.cents, idCol = "doc_id"),
          "ingest_pack_extra", "ingest_pack_missing")
        // the packed ADC segments unpack to exactly assignment ⋈
        // encode — the serving scan loses nothing vs the core tables
        val adcPackViol = multisetDiffViolations(
          Similarity.pqUnpack(ContinuousIngest.readTable(s, st.pqPackedPath)),
          Similarity.ivfAssign(docs, quant.cents, idCol = "doc_id")
            .select("nn_id", "list")
            .join(Similarity.pqEncode(docs, quant.books, idCol = "doc_id")
              .select(col("vec_id").as("nn_id"), col("codes")), "nn_id"),
          "ingest_adcpack_extra", "ingest_adcpack_missing")
        val pqViol = multisetDiffViolations(pqTab,
          Similarity.pqEncode(docs, quant.books, idCol = "doc_id")
            .drop("codes_arr"),
          "ingest_pq_extra", "ingest_pq_missing")
        val slice = pmod(col("doc_id"), lit(5)) === 0
        // the product face: the persisted pq_packed code segments under
        // the persisted quantizers, rerank floats gathered from the
        // packed float segments — docs untouched (and the batch-parity
        // guard on the way in)
        val fromIdx = ContinuousIngest.annIvfPqMaintained(s, st, p.ann.get,
          docs.where(slice), k = 3, nprobe = 4, rerank = 8, Some(quant))
        val oneShot = Similarity.annIvfPq(docs, 3, nlist = nlist, nprobe = 4,
          rerank = 8, centroids = Some(quant.cents), books = Some(quant.books),
          idCol = "doc_id", queryPred = slice)
        val searchViol = multisetDiffViolations(fromIdx, oneShot,
          "ingest_search_extra", "ingest_search_missing")
        // pure ADC (rerank = 0) reads the same pq_packed segments,
        // unpacked: it must equal the one-shot ivf ⋈ pq scoring
        val adcViol = multisetDiffViolations(
          ContinuousIngest.annIvfPqMaintained(s, st, p.ann.get,
            docs.where(slice), k = 3, nprobe = 4, rerank = 0, Some(quant)),
          Similarity.annIvfPq(docs, 3, nlist = nlist, nprobe = 4,
            centroids = Some(quant.cents), books = Some(quant.books),
            idCol = "doc_id", queryPred = slice),
          "ingest_adc_extra", "ingest_adc_missing")
        // the FILTERED maintained face (eligible-id semi-join on the
        // packed index + selectivity-widened probing, docs never
        // read) must equal the one-shot filtered operator under the
        // same persisted quantizers
        val fltPred = pmod(col("doc_id"), lit(3)) === 0
        val fltViol = multisetDiffViolations(
          ContinuousIngest.annIvfFilteredMaintained(s, st, p.ann.get,
            docs.where(slice), k = 3, nprobe = 2,
            eligible = docs.where(fltPred).select("doc_id"), Some(quant)),
          Similarity.annIvfFiltered(docs, 3, nlist = nlist, nprobe = 2,
            corpusPred = fltPred, idCol = "doc_id", queryPred = slice,
            centroids = Some(quant.cents)),
          "ingest_filtered_extra", "ingest_filtered_missing")
        // …and its product-quantized twin: the maintained filtered
        // IVFADC face (probed-list-pruned code segments, eligible
        // semi-join and re-pack, rerank floats gathered from the packed
        // segments) vs the one-shot
        // annIvfPqFiltered under the same persisted quantizers
        val fltAdcViol = multisetDiffViolations(
          ContinuousIngest.annIvfPqFilteredMaintained(s, st, p.ann.get,
            docs.where(slice), k = 3, nprobe = 2,
            eligible = docs.where(fltPred).select("doc_id"), rerank = 8,
            quantizers = Some(quant)),
          Similarity.annIvfPqFiltered(docs, 3, nlist = nlist, nprobe = 2,
            corpusPred = fltPred, m = p.ann.get.m, ksub = p.ann.get.ksub,
            rerank = 8, idCol = "doc_id", queryPred = slice,
            centroids = Some(quant.cents), books = Some(quant.books)),
          "ingest_fltadc_extra", "ingest_fltadc_missing")
        // collect BEFORE the finally deletes the parquet the frames
        // scan (the check_ivf_append lesson)
        val out = ivfViol.unionByName(packViol).unionByName(adcPackViol)
          .unionByName(pqViol).unionByName(searchViol).unionByName(adcViol)
          .unionByName(fltViol).unionByName(fltAdcViol)
          .collect().map(_.getString(0)).toSeq
        import s.implicits._
        out.toDF("violation")
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
    }),
    // Tombstone-delete laws (deleteDocs over a scratch ingest root —
    // the takedown face):
    //  1. count: deleteDocs returns exactly the matched-doc count;
    //  2. containment: no deleted id survives in ANY maintained face
    //     (docs, ivf, pq, sem, keys, both packed-segment tables);
    //  3. survivor byte-parity: the packed ivf/pq segments unpack to
    //     exactly the pre-delete rows minus the deleted ones — the
    //     copy-on-write re-pack moved nothing else;
    //  4. search law: the maintained exact-IVF face over the purged
    //     index == the one-shot operator over corpus-minus-deleted
    //     under the SAME persisted centroids;
    //  5. stats law: the incremental stats view == a direct
    //     re-aggregation of the purged docs table;
    //  6. re-admission: a deleted doc's exact text is ADMITTED again
    //     (its digest left the admit table; the stale bloom bit only
    //     costs the verify join), while a surviving doc's text under a
    //     fresh id stays dropped — deletion changes dedup's answer for
    //     the deleted content only;
    //  7. filtered search law post-delete: the maintained filtered
    //     face (eligible from the purged docs, widening re-derived)
    //     leaks no deleted id and equals the one-shot filtered
    //     operator over corpus-minus-deleted.
    // Texts are md5 strings (shingle-rich, mutually near-dup-safe) so
    // nearDup = true exercises the band-key purge without LSH noise.
    "check_delete" -> ((s, d) => scratchTable(s, d, "delete_viol") {
      import graft.streaming.ContinuousIngest
      import graft.streaming.ContinuousIngest.{AnnParams, IngestParams, IngestState}
      val nAll = Tables.embeddingsCount(s, d)
      val nlist = Similarity.nlistFor(nAll)
      val docs = Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id"),
          md5(concat(lit("v"), col("vec_id"))).as("text"), col("embedding"))
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val delPred = pmod(col("doc_id"), lit(7)) === 0 // spans bootstrap AND batch
      val p = IngestParams(expectedDigests = math.max(1L, nAll), fpp = 0.05,
        nearDup = true, ann = Some(AnnParams(nlist = nlist)))
      val root = java.nio.file.Files.createTempDirectory("graft_delete")
      try {
        val st = IngestState(root.toString)
        ContinuousIngest.bootstrap(docs.where(!isNew), st, p)
        val quant = ContinuousIngest.loadQuantizers(s, st, p.ann.get)
        ContinuousIngest.ingestBatch(docs.where(isNew), 0L, st, p, Some(quant))
        // survivor rows pinned BEFORE the purge (tmp-root parquet)
        val keep = pmod(col("nn_id"), lit(7)) =!= 0
        Similarity.ivfUnpack(ContinuousIngest.readTable(s, st.ivfPackedPath))
          .where(keep).write.parquet(s"$root/pre_ivf")
        Similarity.pqUnpack(ContinuousIngest.readTable(s, st.pqPackedPath))
          .where(keep).write.parquet(s"$root/pre_pq")
        val wanted = docs.where(delPred).count()
        val nDel = ContinuousIngest.deleteDocs(s, st,
          docs.where(delPred).select("doc_id"))
        val countViol = if (nDel == wanted) Seq.empty[String]
          else Seq(s"delete_count got=$nDel want=$wanted")
        def leak(name: String, df: DataFrame, idc: String): Seq[String] = {
          val c = df.where(pmod(col(idc), lit(7)) === 0).count()
          if (c == 0) Seq.empty else Seq(s"delete_leak_$name=$c")
        }
        val leaks =
          leak("docs", ContinuousIngest.readTable(s, st.docsPath), "doc_id") ++
          leak("ivf", ContinuousIngest.readTable(s, st.ivfPath), "nn_id") ++
          leak("pq", ContinuousIngest.readTable(s, st.pqPath), "vec_id") ++
          leak("sem", ContinuousIngest.readTable(s, st.semPath), "id") ++
          leak("keys", ContinuousIngest.readTable(s, st.keysPath), "id") ++
          leak("packed", Similarity.ivfUnpack(
            ContinuousIngest.readTable(s, st.ivfPackedPath)), "nn_id") ++
          leak("adcpacked", Similarity.pqUnpack(
            ContinuousIngest.readTable(s, st.pqPackedPath)), "nn_id")
        val ivfViol = multisetDiffViolations(
          Similarity.ivfUnpack(ContinuousIngest.readTable(s, st.ivfPackedPath)),
          s.read.parquet(s"$root/pre_ivf"),
          "delete_ivf_extra", "delete_ivf_missing")
        val pqViol = multisetDiffViolations(
          Similarity.pqUnpack(ContinuousIngest.readTable(s, st.pqPackedPath)),
          s.read.parquet(s"$root/pre_pq"),
          "delete_pq_extra", "delete_pq_missing")
        val slice = pmod(col("doc_id"), lit(11)) === 1
        val searchViol = multisetDiffViolations(
          ContinuousIngest.annIvfMaintained(s, st, p.ann.get,
            docs.where(slice && !delPred), k = 3, nprobe = 2, Some(quant)),
          Similarity.annIvf(docs.where(!delPred), 3, nlist = nlist,
            nprobe = 2, idCol = "doc_id", queryPred = slice,
            centroids = Some(quant.cents)),
          "delete_search_extra", "delete_search_missing")
        val statsViol = multisetDiffViolations(
          ContinuousIngest.readStats(s, st),
          ContinuousIngest.readTable(s, st.docsPath).agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum(length(col("text")).cast("long")), lit(0L))
              .as("n_chars"),
            coalesce(sum(size(split(col("text"), "\\s+")).cast("long")),
              lit(0L)).as("n_ws_tokens")),
          "delete_stats_extra", "delete_stats_missing")
        // 7. FILTERED search law post-delete: the maintained filtered
        //    face (eligible set derived from the PURGED docs table, the
        //    widening re-derived from the purged assignment) neither
        //    leaks a deleted id nor loses an eligible survivor — it
        //    equals the one-shot filtered operator over
        //    corpus-minus-deleted under the same persisted centroids
        val eligPred = pmod(col("doc_id"), lit(3)) === 0
        val fltDelViol = multisetDiffViolations(
          ContinuousIngest.annIvfFilteredMaintained(s, st, p.ann.get,
            docs.where(slice && !delPred), k = 3, nprobe = 2,
            eligible = ContinuousIngest.readTable(s, st.docsPath)
              .where(eligPred).select("doc_id"),
            quantizers = Some(quant)),
          Similarity.annIvfFiltered(docs.where(!delPred), 3, nlist = nlist,
            nprobe = 2, corpusPred = eligPred, idCol = "doc_id",
            queryPred = slice && !delPred, centroids = Some(quant.cents)),
          "delete_flt_extra", "delete_flt_missing")
        val fltDelLeak = ContinuousIngest.annIvfFilteredMaintained(s, st,
            p.ann.get, docs.where(slice && !delPred), k = 3, nprobe = 2,
            eligible = ContinuousIngest.readTable(s, st.docsPath)
              .where(eligPred).select("doc_id"),
            quantizers = Some(quant))
          .where(pmod(col("nn_id"), lit(7)) === 0)
          .select(concat(lit("delete_flt_leak="),
            col("nn_id").cast("string")).as("violation"))
        // collect every law BEFORE the re-admission ingest mutates the
        // state the lazy frames read (and before the finally deletes it)
        val lawViol = ivfViol.unionByName(pqViol).unionByName(searchViol)
          .unionByName(statsViol).unionByName(fltDelViol)
          .unionByName(fltDelLeak)
          .collect().map(_.getString(0)).toSeq
        // re-admission LAST: one deleted doc's original row (must be
        // admitted — its digest is gone) + a surviving doc's text
        // under a fresh id (must stay dropped)
        val delId = docs.where(delPred).agg(min(col("doc_id"))).head.getLong(0)
        val surId = docs.where(!delPred).agg(min(col("doc_id"))).head.getLong(0)
        val readmitted = ContinuousIngest.ingestBatch(
          docs.where(col("doc_id") === delId).unionByName(
            docs.where(col("doc_id") === surId)
              .select((col("doc_id") + 1000000L).as("doc_id"),
                col("text"), col("embedding"))),
          1L, st, p, Some(quant))
        val backIds = readmitted.select("doc_id").collect()
          .map(_.getLong(0)).toSet
        val admitViol =
          (if (backIds.contains(delId)) Seq.empty[String]
           else Seq(s"delete_readmit_missing=$delId")) ++
          (if (!backIds.contains(surId + 1000000L)) Seq.empty[String]
           else Seq(s"delete_dup_readmitted=${surId + 1000000L}"))
        import s.implicits._
        (countViol ++ leaks ++ lawViol ++ admitViol).toDF("violation")
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
    }),
    // Stream-boundary takedown-drain laws — start(drainQueuedDeletes)
    // over a scratch root with a REAL file-chunk stream (one chunk per
    // micro-batch, the bounded-replay pattern):
    //  1. a queued id present at stream start is PURGED at the first
    //     boundary: absent from docs and digests at the end;
    //  2. a queued id that only arrives in the LAST chunk is judged at
    //     its drain's process time (retired no-op) and LANDS — a
    //     takedown can never block future ingest of re-admitted
    //     content;
    //  3. the queue fully drains (no request dirs survive the run);
    //  4. the incremental stats view equals a direct re-aggregation of
    //     the final docs table THROUGH the mid-stream purge;
    //  5. the audit log holds exactly the purged id.
    // Texts are synthesized unique (md5 of the id) so dedup can never
    // drop the late-arriving id for an accidental content collision.
    "check_ingest_drain" -> ((s, d) => scratchTable(s, d, "ingest_drain_viol") {
      import graft.streaming.{Bounded, ContinuousIngest}
      import graft.streaming.ContinuousIngest.{IngestParams, IngestState}
      val nAll = Tables.documentsCount(s, d)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(concat(lit("v"), col("doc_id"))).as("text"))
      val isNew = pmod(col("doc_id"), lit(5)) === 0      // streamed fifth
      val lastChunk = pmod(col("doc_id"), lit(10)) === 5 // its second half
      val p = IngestParams(expectedDigests = math.max(1L, nAll), fpp = 0.05,
        nearDup = false)
      val root = java.nio.file.Files.createTempDirectory("graft_drain")
      try {
        val st = IngestState(s"$root/state")
        cloneTree(ingestPlainBoot(s, d), st.root) // == bootstrap(docs.where(!isNew), st, p)
        val aId = docs.where(!isNew).agg(min("doc_id")).head.getLong(0)
        val cId = docs.where(isNew && lastChunk).agg(min("doc_id"))
          .head.getLong(0)
        import s.implicits._
        ContinuousIngest.enqueueDelete(s, st, Seq(aId, cId).toDF("doc_id"))
        // two chunk files -> two micro-batches (distinct mtimes pin the
        // delivery order; cId's chunk is LAST)
        docs.where(isNew && !lastChunk).coalesce(1)
          .write.parquet(s"$root/in/chunk_0")
        Thread.sleep(5)
        docs.where(isNew && lastChunk).coalesce(1)
          .write.parquet(s"$root/in/chunk_1")
        ContinuousIngest.start(
          Bounded.fileStream(s, s"$root/in/chunk_*",
            schemaDDL = "doc_id BIGINT, text STRING"),
          st, p, drainQueuedDeletes = true).awaitTermination()
        val finalIds = ContinuousIngest.readTable(s, st.docsPath)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val digestIds = ContinuousIngest.readTable(s, st.digestsPath)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val purgeViol =
          (if (!finalIds.contains(aId)) Seq.empty[String]
           else Seq(s"drain_purge_missed_docs=$aId")) ++
          (if (!digestIds.contains(aId)) Seq.empty[String]
           else Seq(s"drain_purge_missed_digests=$aId"))
        val lateViol =
          if (finalIds.contains(cId)) Seq.empty[String]
          else Seq(s"drain_late_id_lost=$cId")
        val qDir = new java.io.File(s"${st.root}/.delete_queue")
        val leftover = Option(qDir.listFiles()).getOrElse(Array.empty)
          .map(_.getName).filter(_.startsWith("op="))
        val queueViol =
          if (leftover.isEmpty) Seq.empty[String]
          else Seq(s"drain_queue_left=${leftover.mkString(",")}")
        val statsViol = multisetDiffViolations(
          ContinuousIngest.readStats(s, st),
          ContinuousIngest.readTable(s, st.docsPath).agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum(length(col("text")).cast("long")), lit(0L))
              .as("n_chars"),
            coalesce(sum(size(split(col("text"), "\\s+")).cast("long")),
              lit(0L)).as("n_ws_tokens")),
          "drain_stats_extra", "drain_stats_missing")
          .collect().map(_.getString(0)).toSeq
        val logIds = ContinuousIngest.deletesLog(s, st)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val logViol =
          if (logIds == Set(aId)) Seq.empty[String]
          else Seq(s"drain_log_ids=${logIds.toSeq.sorted.mkString(",")}" +
            s"_want=$aId")
        (purgeViol ++ lateViol ++ queueViol ++ statsViol ++ logViol)
          .toDF("violation")
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
    }),
    // Scheduled in-stream compaction laws —
    // start(drainQueuedDeletes, compactEveryNBatches=2) over a scratch
    // root with a REAL four-chunk file stream, certifying the
    // continuous face's full maintenance composition (drain + compact
    // in the same boundary slot) end-to-end:
    //  1. CONTENT parity: docs and digests equal a batch-loop twin
    //     that ran the same boundary drains but never compacted —
    //     batch ids are lineage, consolidation changes nothing;
    //  2. the pass really ran mid-stream: the compacted root holds
    //     FEWER docs partitions than the twin;
    //  3. the incremental stats view equals a direct re-aggregation
    //     of the final docs table THROUGH compaction and purge;
    //  4. the audit log survives its own compaction exactly (the
    //     purged id, under epoch dirs).
    "check_ingest_compact" -> ((s, d) => scratchTable(s, d, "ingest_compact_viol") {
      import graft.streaming.{Bounded, ContinuousIngest}
      import graft.streaming.ContinuousIngest.{IngestParams, IngestState}
      val nAll = Tables.documentsCount(s, d)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(concat(lit("v"), col("doc_id"))).as("text"))
      val isNew = pmod(col("doc_id"), lit(5)) === 0 // streamed fifth
      def chunk(i: Int) = docs.where(isNew &&
        pmod(col("doc_id"), lit(20)) === (5 * i))   // its quarters
      val p = IngestParams(expectedDigests = math.max(1L, nAll), fpp = 0.05,
        nearDup = false, compactEveryNBatches = 2)
      val root = java.nio.file.Files.createTempDirectory("graft_cmp")
      try {
        import s.implicits._
        val delId = docs.where(!isNew).agg(min("doc_id")).head.getLong(0)
        // streamed face: drain + scheduled compaction at the boundary
        val st = IngestState(s"$root/state")
        cloneTree(ingestPlainBoot(s, d), st.root) // == bootstrap(docs.where(!isNew), st, p)
        ContinuousIngest.enqueueDelete(s, st, Seq(delId).toDF("doc_id"))
        (0 until 4).foreach { i =>
          chunk(i).coalesce(1).write.parquet(s"$root/in/chunk_$i")
          Thread.sleep(5)
        }
        ContinuousIngest.start(
          Bounded.fileStream(s, s"$root/in/chunk_*",
            schemaDDL = "doc_id BIGINT, text STRING"),
          st, p, drainQueuedDeletes = true).awaitTermination()
        // twin: same boundary semantics, never compacts
        val pt = p.copy(compactEveryNBatches = 0)
        val tw = IngestState(s"$root/twin")
        cloneTree(ingestPlainBoot(s, d), tw.root) // == bootstrap(docs.where(!isNew), tw, pt)
        ContinuousIngest.enqueueDelete(s, tw, Seq(delId).toDF("doc_id"))
        (0 until 4).foreach { i =>
          ContinuousIngest.processDeleteQueue(s, tw, excludeBatch = i.toLong)
          ContinuousIngest.ingestBatch(chunk(i), i.toLong, tw, pt)
        }
        val contentViol =
          multisetDiffViolations(
            ContinuousIngest.readTable(s, st.docsPath),
            ContinuousIngest.readTable(s, tw.docsPath),
            "compact_docs_extra", "compact_docs_missing")
            .collect().map(_.getString(0)).toSeq ++
          multisetDiffViolations(
            ContinuousIngest.readTable(s, st.digestsPath),
            ContinuousIngest.readTable(s, tw.digestsPath),
            "compact_digests_extra", "compact_digests_missing")
            .collect().map(_.getString(0)).toSeq
        def docDirs(x: IngestState) =
          Option(new java.io.File(x.docsPath).listFiles())
            .getOrElse(Array.empty).count(_.getName.startsWith("batch="))
        val ranViol =
          if (docDirs(st) < docDirs(tw)) Seq.empty[String]
          else Seq(s"compact_never_ran dirs=${docDirs(st)} twin=${docDirs(tw)}")
        val statsViol = multisetDiffViolations(
          ContinuousIngest.readStats(s, st),
          ContinuousIngest.readTable(s, st.docsPath).agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum(length(col("text")).cast("long")), lit(0L))
              .as("n_chars"),
            coalesce(sum(size(split(col("text"), "\\s+")).cast("long")),
              lit(0L)).as("n_ws_tokens")),
          "compact_stats_extra", "compact_stats_missing")
          .collect().map(_.getString(0)).toSeq
        val logIds = ContinuousIngest.deletesLog(s, st)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val logViol =
          if (logIds == Set(delId)) Seq.empty[String]
          else Seq(s"compact_log_ids=${logIds.toSeq.sorted.mkString(",")}" +
            s"_want=$delId")
        (contentViol ++ ranViol ++ statsViol ++ logViol).toDF("violation")
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
    }),
    // Batch-rollback laws (ContinuousIngest.rollbackBatch — the
    // poisoned-delivery incident-response face):
    //  1. EXACT SCOPE: rollback(1) leaves the docs table holding
    //     precisely bootstrap + batch-0 content — including the
    //     bootstrap doc whose TEXT batch 1 re-delivered under a fresh
    //     id (first-seen-wins: the dup was dropped at admission, so
    //     it is not "in" batch 1 and the original must survive);
    //  2. the purge count is the batch's admitted-survivor count;
    //  3. the audit log holds exactly the rolled-back ids;
    //  4. the incremental stats view equals a direct re-aggregation
    //     of the purged docs table;
    //  5. CORRECTED RE-DELIVERY: the rolled-back ids admit again
    //     (their digests left the admit table with them);
    //  6. REFUSALS are loud: the bootstrap refuses (a rebuild, not a
    //     rollback), and a consolidated partition refuses (its rows
    //     span every batch below the compaction horizon — rolling it
    //     back by dir id would purge them all).
    "check_batch_rollback" -> ((s, d) => scratchTable(s, d, "batch_rollback_viol") {
      import graft.streaming.ContinuousIngest
      import graft.streaming.ContinuousIngest.{IngestParams, IngestState}
      val nAll = Tables.documentsCount(s, d)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(concat(lit("v"), col("doc_id"))).as("text"))
      val isNew = pmod(col("doc_id"), lit(5)) === 0          // streamed fifth
      val b0 = isNew && pmod(col("doc_id"), lit(10)) === 0   // batch 0
      val b1 = isNew && pmod(col("doc_id"), lit(10)) === 5   // batch 1 (poisoned)
      val p = IngestParams(expectedDigests = math.max(1L, nAll), fpp = 0.05,
        nearDup = false)
      val root = java.nio.file.Files.createTempDirectory("graft_rollback")
      try {
        import s.implicits._
        val st = IngestState(s"$root/state")
        cloneTree(ingestPlainBoot(s, d), st.root) // == bootstrap(docs.where(!isNew), st, p)
        ContinuousIngest.ingestBatch(docs.where(b0), 0L, st, p)
        // batch 1 ships its docs PLUS a duplicate of one bootstrap
        // doc's text under a fresh id (dropped at admission)
        val dupOfId = docs.where(!isNew).agg(min("doc_id")).head.getLong(0)
        val n1 = ContinuousIngest.ingestBatch(
          docs.where(b1).unionByName(
            docs.where(col("doc_id") === dupOfId)
              .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))),
          1L, st, p).count()
        val nRolled = ContinuousIngest.rollbackBatch(s, st, 1L)
        val countViol =
          if (nRolled == n1) Seq.empty[String]
          else Seq(s"rollback_count got=$nRolled want=$n1")
        val finalIds = ContinuousIngest.readTable(s, st.docsPath)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val wantIds = docs.where(!isNew || b0)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val scopeViol =
          (if ((finalIds -- wantIds).isEmpty) Seq.empty[String]
           else Seq("rollback_leak=" +
             (finalIds -- wantIds).toSeq.sorted.take(5).mkString(","))) ++
          (if ((wantIds -- finalIds).isEmpty) Seq.empty[String]
           else Seq("rollback_overreach=" +
             (wantIds -- finalIds).toSeq.sorted.take(5).mkString(",")))
        val b1Ids = docs.where(b1).select("doc_id").collect()
          .map(_.getLong(0)).toSet
        val logIds = ContinuousIngest.deletesLog(s, st)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val logViol =
          if (logIds == b1Ids) Seq.empty[String]
          else Seq(s"rollback_log_n=${logIds.size}_want=${b1Ids.size}")
        val statsViol = multisetDiffViolations(
          ContinuousIngest.readStats(s, st),
          ContinuousIngest.readTable(s, st.docsPath).agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum(length(col("text")).cast("long")), lit(0L))
              .as("n_chars"),
            coalesce(sum(size(split(col("text"), "\\s+")).cast("long")),
              lit(0L)).as("n_ws_tokens")),
          "rollback_stats_extra", "rollback_stats_missing")
          .collect().map(_.getString(0)).toSeq
        // corrected re-delivery: the SAME ids with fixed content admit
        val corrected = docs.where(b1)
          .select(col("doc_id"), md5(concat(lit("w"), col("doc_id"))).as("text"))
        val nBack = ContinuousIngest.ingestBatch(corrected, 2L, st, p).count()
        val readmitViol =
          if (nBack == b1Ids.size.toLong) Seq.empty[String]
          else Seq(s"rollback_readmit got=$nBack want=${b1Ids.size}")
        // refusals: the bootstrap, and (post-compaction) a
        // consolidated partition
        val bootViol =
          if (scala.util.Try(ContinuousIngest.rollbackBatch(s, st, -1L))
              .isFailure) Seq.empty[String]
          else Seq("rollback_bootstrap_not_refused")
        ContinuousIngest.compactState(s, st, upToBatch = 2L,
          targetRowsPerFile = 1000000L)
        val consViol =
          if (scala.util.Try(ContinuousIngest.rollbackBatch(s, st, 2L))
              .isFailure) Seq.empty[String]
          else Seq("rollback_consolidated_not_refused")
        (countViol ++ scopeViol ++ logViol ++ statsViol ++ readmitViol ++
          bootViol ++ consViol).toDF("violation")
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
    }),
    // Snapshot-shipping laws (Snapshot.export / .state — the serving
    // distribution tier):
    //  1. SERVE PARITY: the maintained exact-IVF, IVFADC-with-rerank
    //     and filtered faces answer from an exported (docs-free)
    //     snapshot multiset-identically to the primary root;
    //  2. INCREMENTALITY: an unchanged re-export copies ZERO pool
    //     dirs (content stamps recognize every dir);
    //  3. writer faces refuse the snapshot root loudly;
    //  4. the persisted-checksum audit is clean on a fresh export
    //     (verifyVersion re-hashes every shipped file against its
    //     copy-time _GRAFT_SUMS entry — zero findings).
    "check_snapshot_serve" -> ((s, d) => scratchTable(s, d, "snapshot_serve_viol") {
      import graft.streaming.{ContinuousIngest, Snapshot}
      import graft.streaming.ContinuousIngest.IngestState
      val (stRoot, p) = snapPristine(s, d)
      val docs = snapDocs(s, d)
      locally {
        // read-only against the shared pristine primary — exports and
        // the refused writer call never mutate it; the export root is
        // the SHARED one (re-exporting it below only adds a version,
        // which the sync check's source reads are indifferent to)
        val st = IngestState(stRoot)
        val ex = snapExport(s, d)
        val snap = Snapshot.state(s, ex)
        val q = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        val exactViol = multisetDiffViolations(
          ContinuousIngest.annIvfMaintained(s, snap, p.ann.get, q,
            k = 3, nprobe = 4),
          ContinuousIngest.annIvfMaintained(s, st, p.ann.get, q,
            k = 3, nprobe = 4),
          "snap_ivf_extra", "snap_ivf_missing")
        val adcViol = multisetDiffViolations(
          ContinuousIngest.annIvfPqMaintained(s, snap, p.ann.get, q,
            k = 3, nprobe = 4, rerank = 8),
          ContinuousIngest.annIvfPqMaintained(s, st, p.ann.get, q,
            k = 3, nprobe = 4, rerank = 8),
          "snap_adc_extra", "snap_adc_missing")
        val elig = docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select("doc_id")
        val fltViol = multisetDiffViolations(
          ContinuousIngest.annIvfFilteredMaintained(s, snap, p.ann.get, q,
            k = 3, nprobe = 2, elig),
          ContinuousIngest.annIvfFilteredMaintained(s, st, p.ann.get, q,
            k = 3, nprobe = 2, elig),
          "snap_flt_extra", "snap_flt_missing")
        val r2 = Snapshot.export(s, st, ex)
        val incViol =
          if (r2.copiedPoolDirs == 0L) Seq.empty[String]
          else Seq(s"snap_recopy dirs=${r2.copiedPoolDirs}")
        val sumsViol = Snapshot.verifyVersion(s, ex)
          .collect().map(v => s"snap_audit_${v.getString(0)}").toSeq
        val refuseViol =
          try {
            ContinuousIngest.deleteDocs(s, snap,
              docs.limit(1).select("doc_id"))
            Seq("snap_writer_admitted")
          } catch {
            case e: Throwable if (Option(e.getMessage).toSeq ++
                Option(e.getCause).flatMap(c => Option(c.getMessage)))
                .exists(_.contains("SNAPSHOT tree")) => Seq.empty[String]
            case e: Throwable => Seq(s"snap_refusal_wrong ${e.getMessage}")
          }
        import s.implicits._
        (exactViol.unionByName(adcViol).unionByName(fltViol)
          .collect().map(_.getString(0)).toSeq ++ incViol ++ sumsViol ++
          refuseViol)
          .toDF("violation")
      }
    }),
    // Snapshot replication laws (Snapshot.sync — the off-site /
    // serving-region replica tier):
    //  1. REPLICA PARITY: the maintained exact-IVF face answers from a
    //     synced replica multiset-identically to the primary;
    //  2. the replica is checksum-auditable (the sums manifests ship
    //     verbatim): verifyVersion reports zero findings;
    //  3. IDEMPOTENCE: a re-sync ships zero versions and zero pool
    //     dirs (content-addressed increments);
    //  4. a replica-seeded CHAIN sync (replica -> tertiary) also
    //     serves identically — a replica is a full-fidelity source.
    "check_snapshot_sync" -> ((s, d) => scratchTable(s, d, "snapshot_sync_viol") {
      import graft.streaming.{ContinuousIngest, Snapshot}
      import graft.streaming.ContinuousIngest.IngestState
      val (stRoot, p) = snapPristine(s, d)
      val docs = snapDocs(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snapsync")
      try {
        val st = IngestState(stRoot)
        // the SOURCE is the shared export of the pristine primary
        // (sync reads it and releases its pin — never mutates it);
        // only the replica/tertiary roots are this check's own scratch
        val ex = snapExport(s, d)
        val rep = s"$root/replica"
        val s0 = Snapshot.sync(s, ex, rep)
        val q = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        val parityViol = multisetDiffViolations(
          ContinuousIngest.annIvfMaintained(s, Snapshot.state(s, rep),
            p.ann.get, q, k = 3, nprobe = 4),
          ContinuousIngest.annIvfMaintained(s, st, p.ann.get, q,
            k = 3, nprobe = 4),
          "sync_ivf_extra", "sync_ivf_missing")
          .collect().map(_.getString(0)).toSeq
        val auditViol = Snapshot.verifyVersion(s, rep)
          .collect().map(v => s"sync_audit_${v.getString(0)}").toSeq
        val s1 = Snapshot.sync(s, ex, rep)
        val idemViol =
          if (s1.copiedVersions.isEmpty && s1.copiedPoolDirs == 0L)
            Seq.empty[String]
          else Seq(s"sync_recopy versions=${s1.copiedVersions.size} " +
            s"dirs=${s1.copiedPoolDirs}")
        val ter = s"$root/tertiary"
        Snapshot.sync(s, rep, ter)
        val chainViol = multisetDiffViolations(
          ContinuousIngest.annIvfMaintained(s, Snapshot.state(s, ter),
            p.ann.get, q, k = 3, nprobe = 4),
          ContinuousIngest.annIvfMaintained(s, st, p.ann.get, q,
            k = 3, nprobe = 4),
          "sync_chain_extra", "sync_chain_missing")
          .collect().map(_.getString(0)).toSeq
        import s.implicits._
        (parityViol ++ auditViol ++ idemViol ++ chainViol).toDF("violation")
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
    }),
    // Snapshot takedown-propagation law: a completed primary takedown
    // makes every pre-takedown snapshot STALE — the next export must
    // prune them ALL (right-to-be-forgotten overrides keepVersions),
    // the surviving snapshot's index must not contain the purged id,
    // and the orphaned pool dirs must be vacuumed (no content pinned
    // behind a deleted manifest).
    "check_snapshot_takedown" -> ((s, d) => scratchTable(s, d, "snapshot_takedown_viol") {
      import graft.streaming.{ContinuousIngest, Snapshot}
      import graft.streaming.ContinuousIngest.IngestState
      // the shared takedown-applied clone: pristine tree cloned, a
      // PRE-delete version exported into its export root, victim
      // deleted ([[snapDeleted]] — built once, shared with the
      // restore check). This check's own mutation is the re-export
      // below, which must prune that stale pre-delete version.
      val (stRoot, ex, victim) = snapDeleted(s, d)
      locally {
        import s.implicits._
        val st = IngestState(stRoot)
        val r = Snapshot.export(s, st, ex)
        val pruneViol =
          if (Snapshot.versions(s, ex) == Seq(r.version)) Seq.empty[String]
          else Seq(s"snap_stale_survives " +
            Snapshot.versions(s, ex).mkString(","))
        val vacViol =
          if (r.vacuumedPoolDirs > 0L) Seq.empty[String]
          else Seq("snap_no_vacuum")
        val purgedViol = Similarity.ivfUnpack(ContinuousIngest.readTable(s,
            Snapshot.state(s, ex).ivfPackedPath))
          .where(col("nn_id") === lit(victim))
          .select(lit("snap_purged_id_survives").as("violation"))
          .collect().map(_.getString(0)).toSeq
        (pruneViol ++ vacViol ++ purgedViol).toDF("violation")
      }
    }),
    // Full-backup round-trip law (Snapshot.export(full) → restore):
    // the restored root must equal the primary on every state table,
    // the bloom bytes, and the takedown audit log — and CONTINUE as a
    // primary: a re-ingested duplicate of an already-ingested doc
    // drops (the restored digest state and bloom are live), a fresh
    // doc lands.
    "check_snapshot_restore" -> ((s, d) => scratchTable(s, d, "snapshot_restore_viol") {
      import graft.streaming.{ContinuousIngest, Snapshot}
      import graft.streaming.ContinuousIngest.IngestState
      val (_, p) = snapPristine(s, d)
      val docs = snapDocs(s, d)
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val root = java.nio.file.Files.createTempDirectory("graft_snap_rst")
      try {
        import s.implicits._
        // the shared takedown-applied clone ([[snapDeleted]]): this
        // check reads that post-delete primary (full backup + diffs)
        // and mutates only its own backup/restored scratch below
        val (stRoot, _, victim) = snapDeleted(s, d)
        val st = IngestState(stRoot)
        val quant = ContinuousIngest.loadQuantizers(s, st, p.ann.get)
        val ex = s"$root/backup"
        Snapshot.export(s, st, ex, full = true)
        val rst = Snapshot.restore(s, ex, s"$root/restored")
        val tableViol = Seq(
          (st.docsPath, rst.docsPath, "docs"),
          (st.digestsPath, rst.digestsPath, "digests"),
          (st.statsPath, rst.statsPath, "stats"),
          (st.ivfPackedPath, rst.ivfPackedPath, "ivfpacked"))
          .flatMap { case (a, b, tag) =>
            multisetDiffViolations(ContinuousIngest.readTable(s, a),
              ContinuousIngest.readTable(s, b),
              s"restore_${tag}_extra", s"restore_${tag}_missing")
              .collect().map(_.getString(0)).toSeq }
        val bloomViol =
          if (ContinuousIngest.readBloomBytes(s, rst).toSeq ==
              ContinuousIngest.readBloomBytes(s, st).toSeq)
            Seq.empty[String]
          else Seq("restore_bloom_differs")
        val logViol = multisetDiffViolations(
          ContinuousIngest.deletesLog(s, rst).select("doc_id", "op_id"),
          ContinuousIngest.deletesLog(s, st).select("doc_id", "op_id"),
          "restore_log_extra", "restore_log_missing")
          .collect().map(_.getString(0)).toSeq
        val existing = docs
          .where(isNew && col("doc_id") =!= lit(victim)).limit(1)
        val fresh = existing.select(lit(999999L).as("doc_id"),
          lit("freshdoc").as("text"), col("embedding"))
        val admitted = ContinuousIngest.ingestBatch(
            existing.unionByName(fresh), 1L, rst, p, Some(quant))
          .select("doc_id").collect().map(_.getLong(0)).toSeq
        val contViol =
          if (admitted == Seq(999999L)) Seq.empty[String]
          else Seq(s"restore_continuation ${admitted.mkString(",")}")
        (tableViol ++ bloomViol ++ logViol ++ contViol).toDF("violation")
      } finally {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
    }),
    // Media-pipeline laws (same parameters as the media_* queries):
    //  - frames: every non-empty payload yields exactly n frames with
    //    distinct frame_no ∈ [0, n) of 1..frameBytes bytes; empty
    //    payloads yield none;
    //  - checksum: frameStats' checksum/n_bytes recompute from an
    //    independent sampleFrames run's bytes (also pins the sampler's
    //    determinism);
    //  - features: two extractFeatures runs agree (decode-stub
    //    determinism), dim is as requested, values in [-1, 1).
    "check_media" -> ((s, d) => {
      val media = Multimodal.packMedia(Tables.documents(s, d))
      val n = 4
      val frames = Multimodal.frameStats(Multimodal.sampleFrames(media, n))
      val counts = frames.groupBy("media_id").agg(
        count(lit(1)).as("nf"),
        min("frame_no").as("fmin"), max("frame_no").as("fmax"),
        countDistinct(col("frame_no")).as("nfd"),
        min("n_bytes").as("minb"), max("n_bytes").as("maxb"))
      val countViol = media.select(col("media_id"), col("n_bytes"))
        .join(counts, Seq("media_id"), "left")
        .where(
          when(col("n_bytes") > 0,
            coalesce(col("nf"), lit(0L)) =!= n || col("fmin") =!= 0 ||
              col("fmax") =!= n - 1 || col("nfd") =!= n ||
              col("minb") < 1 || col("maxb") > 16)
            .otherwise(coalesce(col("nf"), lit(0L)) =!= 0))
        .select(lit("frame_laws").as("violation"))
      val rawFrames = Multimodal.sampleFrames(media, n).toDF()
      val ckViol = frames.join(rawFrames, Seq("media_id", "frame_no"))
        .where(col("checksum") =!= crc32(col("frame_bytes"))
          || col("n_bytes") =!= length(col("frame_bytes")))
        .select(lit("frame_checksum").as("violation"))
      val f1 = Multimodal.extractFeatures(media, dim = 16).toDF()
      val f2 = Multimodal.extractFeatures(media, dim = 16).toDF()
        .select(col("media_id"), col("dim").as("dim2"), col("feature").as("feature2"))
      val twinViol = f1.join(f2, "media_id")
        .where(col("feature") =!= col("feature2") || col("dim") =!= col("dim2"))
        .select(lit("feature_determinism").as("violation"))
      val dimViol = f1
        .where(size(col("feature")) =!= col("dim") || col("dim") =!= 16)
        .select(lit("feature_dim").as("violation"))
      val rangeViol = f1
        .where(exists(col("feature"), v => v < -1.0 || v >= 1.0))
        .select(lit("feature_range").as("violation"))
      countViol.unionByName(ckViol).unionByName(twinViol)
        .unionByName(dimViol).unionByName(rangeViol)
    }),
    // Weighted-reservoir laws (Efraimidis–Spirakis over documents,
    // weight = n_chars+1):
    //  - size: |sample| == min(m, n);
    //  - membership: every sampled (id, w) exists in the source;
    //  - determinism: two runs agree exactly;
    //  - selection: no unsampled item's key exceeds a sampled item's
    //    key (the top-m law, keys recomputed per the A-Res formula).
    "check_weighted_sample" -> ((s, d) => {
      val m = 40
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), (col("n_chars") + 1).cast("double").as("w"))
      val s1 = Freq.weightedSample(docs, m, SEED)
      val s2 = Freq.weightedSample(docs, m, SEED)
      val n = Tables.documentsCount(s, d)
      val sizeViol = s1.agg(count(lit(1)).as("c"))
        .where(col("c") =!= lit(math.min(m.toLong, n)))
        .select(lit("size_law").as("violation"))
      val memberViol = s1.join(docs, Seq("id", "w"), "left_anti")
        .select(lit("membership").as("violation"))
      val twinViol = multisetDiffViolations(s1, s2, "determinism", "determinism")
      val key = log((pmod(xxhash64(col("id"), lit(SEED)), lit(1L << 40)).cast("double")
        + lit(0.5)) / lit((1L << 40).toDouble)) / col("w")
      val keyed = docs.withColumn("k", key)
      val minSampled = keyed.join(s1.select("id"), Seq("id"), "left_semi")
        .agg(min("k").as("kmin"))
      val selViol = keyed.join(s1.select("id"), Seq("id"), "left_anti")
        .crossJoin(minSampled)
        .where(col("k") > col("kmin"))
        .select(lit("selection").as("violation"))
      sizeViol.unionByName(memberViol).unionByName(twinViol).unionByName(selViol)
    }),
    // Stratified-sample laws (same params as sample_docs_stratified):
    //  - exact size: per-stratum sampled count == ceil(frac·|stratum|)
    //    for EVERY stratum (the property Bernoulli sampling lacks);
    //  - membership: every sampled row exists in the source;
    //  - determinism: two runs agree exactly.
    "check_stratified" -> ((s, d) => {
      val frac = 0.2
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      val s1 = graft.ops.Freq.stratifiedSample(docs, "lang", "doc_id", frac, SEED)
      val s2 = graft.ops.Freq.stratifiedSample(docs, "lang", "doc_id", frac, SEED)
      // exact-decimal ceil, same arithmetic as stratifiedSample — a
      // double product here would blind the check to the FP edge the
      // operator now avoids (55·0.2 → 11.000000000000002 → ceil 12)
      val sizeViol = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .join(s1.groupBy("lang").agg(count(lit(1)).as("m")), Seq("lang"), "left")
        .where(coalesce(col("m"), lit(0L))
          =!= ceil(col("n") * lit(BigDecimal(frac))).cast("long"))
        .select(lit("stratum_size").as("violation"))
      val memberViol = s1.join(docs, Seq("doc_id", "lang", "n_chars"), "left_anti")
        .select(lit("membership").as("violation"))
      val twinViol = multisetDiffViolations(s1, s2, "determinism", "determinism")
      sizeViol.unionByName(memberViol).unionByName(twinViol)
    }),
    // First-fit-decreasing bin packing laws (Pack.binPack):
    //  - capacity: no (shard, bin) exceeds ctx tokens;
    //  - exactly-once: the packed multiset == the eligible input docs
    //    (1 <= tok <= ctx), nothing lost or duplicated;
    //  - tiling: each bin's doc spans tile [0, fill) — min off 0,
    //    max(off+tok) == sum(tok), which a gap or overlap breaks;
    //  - first-fit tightness: at most ONE bin per shard is <= half
    //    full (a later bin's first doc would have fit an earlier
    //    <=-half bin, and fills only grow) — the invariant that
    //    bounds padding waste at <2x optimal;
    //  - determinism: two runs agree exactly.
    "check_binpack" -> ((s, d) => {
      import graft.ops.{Pack, Text}
      val ctx = 128
      val docs = Tables.documents(s, d)
      val p1 = Pack.binPack(docs, Text.tokenCount(col("text")),
        ctx = ctx, nShards = 8, seed = SEED).cache()
      val p2 = Pack.binPack(docs, Text.tokenCount(col("text")),
        ctx = ctx, nShards = 8, seed = SEED)
      val bins = p1.groupBy("shard", "bin").agg(
        sum(col("tok")).as("fill"), min(col("off")).as("o0"),
        max(col("off") + col("tok")).as("oEnd")).cache()
      val capViol = bins.where(col("fill") > ctx)
        .select(lit("bin_overflow").as("violation"))
      val eligible = docs.select(col("doc_id"),
          Text.tokenCount(col("text")).cast("int").as("tok"))
        .where(col("tok") > 0 && col("tok") <= ctx)
      val onceViol = multisetDiffViolations(
        p1.select("doc_id", "tok"), eligible, "extra_doc", "lost_doc")
      val tileViol = bins
        .where(col("o0") =!= 0 || col("oEnd") =!= col("fill"))
        .select(lit("bin_gap_or_overlap").as("violation"))
      val halfViol = bins.where(col("fill") * 2 <= ctx)
        .groupBy("shard").agg(count(lit(1)).as("nHalf"))
        .where(col("nHalf") > 1)
        .select(lit("first_fit_slack").as("violation"))
      val twinViol = multisetDiffViolations(p1, p2, "determinism", "determinism")
      capViol.unionByName(onceViol).unionByName(tileViol)
        .unionByName(halfViol).unionByName(twinViol)
    }),
    // JSONL interchange law (sources.Docs): parquet→JSONL→scan is a
    // lossless multiset roundtrip (symmetric diff is empty) and
    // nothing quarantines. Exercises the declared-schema scan + the
    // executor-side sink end to end under the driver's hash gate.
    "check_jsonl_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source", "n_chars")
      // ONE per-JVM scratch dir (toJsonl overwrites): the bench runs
      // every query 2-3 times and would otherwise pile up full corpus
      // copies in /tmp
      val tmp = CheckQueries.jsonlScratch
      graft.sources.Docs.toJsonl(docs, s"$tmp/docs", numFiles = 4)
      val parsed = graft.sources.Docs.fromJsonl(s, s"$tmp/docs").cache()
      val corrupt = parsed.where(col("_corrupt").isNotNull)
        .select(lit("jsonl_corrupt").as("violation"))
      val back = parsed.where(col("_corrupt").isNull)
        .select("doc_id", "text", "lang", "source", "n_chars")
      val diff = multisetDiffViolations(back, docs,
        "jsonl_extra_row", "jsonl_lost_row")
      // eager localCheckpoint materializes the (expected-empty)
      // violations while the cache is live, so `parsed` can be
      // unpersisted HERE — each bench repetition rewrites the JSONL
      // dir, and the new file listing would otherwise pin a fresh
      // full-corpus cache entry per run
      val out = corrupt.unionByName(diff)
        .localCheckpoint()
      parsed.unpersist()
      out
    }),
    // ORC interchange law (sources.Docs ORC faces): parquet→ORC→scan
    // is a lossless multiset roundtrip. DuckDB cannot read ORC, so
    // this law IS the oracle for the format; the scan-efficiency side
    // (PushedFilters + pruned ReadSchema on an ORC scan) is pinned in
    // PlanSpec. Same per-JVM scratch contract as the JSONL law.
    "check_orc_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source", "n_chars")
      val tmp = CheckQueries.jsonlScratch
      graft.sources.Docs.toOrc(docs, s"$tmp/docs_orc", numFiles = 4)
      val back = graft.sources.Docs.fromOrc(s, s"$tmp/docs_orc")
      multisetDiffViolations(back, docs, "orc_extra_row", "orc_lost_row")
    }),
    // Image-decode laws (the REAL decode path, javax.imageio): a
    // deterministic PNG corpus is synthesized from doc ids
    // (pixel formula in Multimodal.synthPixel), decoded back, and
    // pooled to grid-block means; the expected block sums are
    // restated INDEPENDENTLY in pure column algebra (no imaging
    // code). PNG is lossless and sums are integers, so the compare
    // is exact:
    //  - shape: decoded width/height and feature dim are as declared;
    //  - decoded pixels: round(feature·blockPixels·255) == the
    //    SQL-computed block sum, per (image, block, channel);
    //  - coverage: every expected (image, block, channel) is present.
    // Audited on a deterministic ¼-ids slice — the laws are per-image,
    // so the slice is exactly as sound per audited image while the
    // encode/decode and the SQL twin's pixel explode cost ¼ (same
    // harness-cost principle as check_ann_recall's query slice).
    "check_image_decode" -> ((s, d) => {
      val w = 16; val h = 16; val grid = 4
      val bw = w / grid; val bh = h / grid
      val ids = Tables.documents(s, d).select(col("doc_id"))
        .where(pmod(col("doc_id"), lit(4)) === 0)
      val media = Multimodal.packSynthImages(ids, "doc_id", w, h)
      val feats = Multimodal.imageFeatures(media, grid).toDF()
      val shapeViol = feats
        .where(col("width") =!= w || col("height") =!= h ||
          size(col("feature")) =!= grid * grid * 3)
        .select(lit("image_shape").as("violation"))
      val expect = ids
        .withColumn("x", explode(sequence(lit(0), lit(w - 1))))
        .withColumn("y", explode(sequence(lit(0), lit(h - 1))))
        .withColumn("c", explode(sequence(lit(0), lit(2))))
        .groupBy(col("doc_id"),
          (floor(col("y") / bh) * grid + floor(col("x") / bw)).as("blk"), col("c"))
        .agg(sum(pmod(lit(31) * col("doc_id") + lit(7) * col("x")
          + lit(13) * col("y") + lit(17) * col("c"), lit(256))).as("esum"))
      val got = feats.select(col("media_id").as("doc_id"),
          posexplode(col("feature")).as(Seq("i", "f")))
        .select(col("doc_id"), floor(col("i") / 3).as("blk"),
          pmod(col("i"), lit(3)).cast("int").as("c"),
          round(col("f") * (bw * bh * 255)).cast("long").as("gsum"))
      val pixViol = got.join(expect, Seq("doc_id", "blk", "c"))
        .where(col("gsum") =!= col("esum"))
        .select(lit("decoded_pixels").as("violation"))
      val missViol = expect.join(got, Seq("doc_id", "blk", "c"), "left_anti")
        .select(lit("missing_block").as("violation"))
      shapeViol.unionByName(pixViol).unionByName(missViol)
    }),
    // Audio-decode laws (the REAL decode path, javax.sound.sampled):
    // a deterministic WAV corpus is synthesized from doc ids (sample
    // formula in Multimodal.synthSample), parsed back, and pooled to
    // per-window |amplitude| sums; the expected sums are restated
    // INDEPENDENTLY in pure column algebra (no audio code). PCM is
    // lossless and sums are integers, so the compare is exact:
    //  - shape: decoded sample_rate / n_samples / feature dim as
    //    declared;
    //  - decoded samples: window sums match the SQL twin both ways
    //    (value + coverage in one symmetric multiset diff);
    //  - feature face: each float equals sum/(n·32768) narrowed to
    //    float — audioFeatures is pinned BY the integer sums.
    // Sliced by ids, same harness-cost principle as check_image_decode
    // (the laws are per-media); the slice parameters live on the inner
    // comment below, next to the code they describe.
    "check_audio_decode" -> ((s, d) => {
      // 512 samples/clip and a 1/16-ids slice (vs audio_windows'
      // 2048 × 1/8): the laws are per-media and per-sample, so each
      // audited clip is audited in full — and measurement showed the
      // check's cost is per-WAV fixed overhead (container parse ×
      // two decode faces × encode twins), so the slice is the lever
      // that matters. Residue 2 mod 16 keeps the probe disjoint from
      // audio_windows' 0 mod 8 slice.
      val nSamp = 512; val nWin = 8; val rate = 8000
      val ids = Tables.documents(s, d).select(col("doc_id"))
        .where(pmod(col("doc_id"), lit(16)) === 2)
      // sums feeds three consumers (shape, the multiset diff via
      // got, the feature join) — cache the small post-decode table,
      // not the binary payloads (re-encoding 2 × is cheaper than
      // memory-storing WAV bytes). Reclaimed by the session
      // clearCache, same contract as the other checks' caches.
      val media = Multimodal.packSynthWavs(ids, "doc_id", nSamp, rate)
      val sums = Multimodal.audioWindowSums(media, nWin).toDF().cache()
      val feats = Multimodal.audioFeatures(media, nWin).toDF()
      val shapeViol = sums
        .where(col("sample_rate") =!= rate || col("n_samples") =!= nSamp)
        .select(lit("audio_shape").as("violation"))
        .unionByName(feats.where(size(col("feature")) =!= nWin)
          .select(lit("audio_dim").as("violation")))
      val expect = ids
        .select(col("doc_id").as("media_id"),
          explode(sequence(lit(0), lit(nSamp - 1))).as("t"))
        .groupBy(col("media_id"),
          floor(col("t") * nWin / lit(nSamp)).cast("int").as("win"))
        .agg(count(lit(1)).as("win_n"),
          sum(abs((lit(31L) * col("media_id") + lit(7L) * col("t"))
            % 65536L - 32768L)).as("sum_abs"))
      val got = sums.select("media_id", "win", "win_n", "sum_abs")
      val windowViol = multisetDiffViolations(got, expect,
        "audio_window_extra", "audio_window_lost")
      val featViol = feats
        .select(col("media_id"), posexplode(col("feature")).as(Seq("win", "f")))
        .join(sums, Seq("media_id", "win"))
        .where(col("f") =!=
          (col("sum_abs") / (col("win_n") * lit(32768.0))).cast("float"))
        .select(lit("audio_feature").as("violation"))
      shapeViol.unionByName(windowViol).unionByName(featViol)
    }),
    // Int8-quantization laws (the float face next to quantize_codes'
    // exact integer oracle):
    //  - shape: codes length == vector dim, qmin ≤ qmax, codes in
    //    [-127, 127] (-128 never used);
    //  - reconstruction: |dequant − original|∞ ≤ half a quantization
    //    step, (qmax−qmin)/508, plus float-narrowing slack RELATIVE to
    //    the vector's magnitude (one float32 ulp ≈ |v|·1.2e-7 — an
    //    absolute constant would false-positive once |values| outgrow
    //    it) and a tiny absolute floor for near-zero ranges;
    //  - coverage: every vector dequantizes.
    "check_quantize" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val q = Similarity.quantizeInt8(embs).cache()
      val deq = Similarity.dequantizeInt8(q)
      // codes is BINARY (compact storage face): length() gives the
      // byte count = dim; the -128-never-used law needs a typed scan
      val shapeViol = q.join(embs, "vec_id")
        .where(length(col("codes")) =!= size(col("embedding"))
          || col("qmin") > col("qmax"))
        .select(lit("quant_shape").as("violation"))
      val rangeViol = {
        import s.implicits._
        q.as[Similarity.QuantVec]
          .filter((v: Similarity.QuantVec) => v.codes.exists(_ == (-128).toByte))
          .toDF().select(lit("quant_code_range").as("violation"))
      }
      val errViol = deq.join(embs, "vec_id").join(q, "vec_id")
        .select(col("qmin"), col("qmax"),
          posexplode(arrays_zip(col("embedding"), col("vec")))
            .as(Seq("i", "pair")))
        .where(abs(col("pair.embedding").cast("double")
            - col("pair.vec").cast("double"))
          > (col("qmax").cast("double") - col("qmin").cast("double")) / 508.0
            + greatest(abs(col("qmin")), abs(col("qmax"))).cast("double") * 1.2e-7
            + 1e-9)
        .select(lit("quant_error_bound").as("violation"))
      val coverViol = embs.join(deq, Seq("vec_id"), "left_anti")
        .select(lit("quant_coverage").as("violation"))
      shapeViol.unionByName(rangeViol).unionByName(errViol)
        .unionByName(coverViol)
    }),
    // k-center law: for every SAMPLED vector (the FFT traversed exactly
    // those), assignment distance ≤ the sample's k-center radius,
    // recomputed independently on the driver; clusters are in [0, k);
    // every sampled id is assigned.
    "check_kcenter_assign" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val k = 8
      val assign = Similarity.kcenterAssign(embs, k)
      val (ids, r) = Similarity.kcenterSampleRadius(embs, k)
      import s.implicits._
      val idDf = ids.toSeq.toDF("vec_id")
      val sampled = assign.join(broadcast(idDf), "vec_id")
      val radiusViol = sampled
        .where(col("cdist") > r + 2e-6) // 1e-6 rounding + FP slack
        .select(lit("kcenter_radius").as("violation"))
      val rangeViol = assign
        .where(col("cluster") < 0 || col("cluster") >= k)
        .select(lit("cluster_range").as("violation"))
      val missViol = broadcast(idDf).join(assign, Seq("vec_id"), "left_anti")
        .select(lit("sample_unassigned").as("violation"))
      radiusViol.unionByName(rangeViol).unionByName(missViol)
    }),
    // SimHash laws: (1) the distributed 64-vote aggregate equals the
    // per-row fold twin on a deterministic subset of docs (two
    // independent formulations of the same bits); (2) every reported
    // near-dup pair's Hamming distance, recomputed from signatures,
    // matches the reported dist and is ≤ 3.
    "check_simhash_sound" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // signatures feed the twin join, candidate generation, AND both
      // soundness joins — cache (reclaimed by the session's clearCache
      // between queries, same contract as Dedup's shingle caches)
      val sigs = Dedup.simhashSignatures(docs, SEED).cache()
      val twin = docs.where(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id").as("id"), Dedup.simhash64(col("text"), SEED).as("sig2"))
      val twinViol = twin.join(sigs, "id")
        .where(col("sig") =!= col("sig2"))
        .select(lit("simhash_twin").as("violation"))
      val pairs = Dedup.simhashPairsFromSigs(sigs, maxDist = 3)
      val soundViol = pairs
        .join(sigs.select(col("id").as("a"), col("sig").as("siga")), "a")
        .join(sigs.select(col("id").as("b"), col("sig").as("sigb")), "b")
        .where(Dedup.hamming64(col("siga"), col("sigb")) =!= col("dist")
          || col("dist") > 3)
        .select(lit("simhash_sound").as("violation"))
      twinViol.unionByName(soundViol)
    }),
    // St5/St6 state laws on the bounded-stream batch twin (same
    // params as the stream_* queries; the prefix histogram it is
    // checked against is itself oracle-verified via
    // stream_hist_prefix): the reservoir holds exactly min(m, n')
    // items, each occurring in the prefix; every sticky count is
    // 1 ≤ cnt ≤ true prefix frequency.
    "check_stream_state" -> ((s, d) => {
      val items = Tables.events(s, d)
        .select(col("event_id").as("ord"), col("user_id").as("item"))
      val st = graft.streaming.Bounded.batchTwin(items, 5000L, 20, 0.05, SEED)
      val viol = Seq.newBuilder[String]
      if (st.reservoir.length != math.min(20L, st.seen))
        viol += s"reservoir_size ${st.reservoir.length}"
      if (!st.reservoir.forall(st.histogram.contains))
        viol += "reservoir_membership"
      st.sticky.foreach { case (k, c) =>
        if (c < 1 || c > st.histogram.getOrElse(k, 0L))
          viol += s"sticky_sub_histogram $k"
      }
      import s.implicits._
      viol.result().toDF("violation")
    }),
    // Distributed reservoir Aggregator laws (same params as
    // media_reservoir_agg): |sample| == min(m, n) and sample ⊆ input.
    "check_reservoir_agg" -> ((s, d) => {
      import s.implicits._
      val itemsDs = Tables.events(s, d).select(col("user_id")).as[Long]
      val m = 32
      val n = itemsDs.count()
      val sample = itemsDs
        .select(new graft.functions.ReservoirAgg(m, SEED).toColumn.name("sample"))
        .select(explode(col("sample")).as("item"))
      val sizeViol = sample.agg(count(lit(1)).as("c"))
        .where(col("c") =!= lit(math.min(m.toLong, n)))
        .select(lit("size_law").as("violation"))
      val memberViol = sample.join(
          Tables.events(s, d).select(col("user_id").as("item")).distinct(),
          Seq("item"), "left_anti")
        .select(lit("membership").as("violation"))
      sizeViol.union(memberViol)
    }),
    // Misra-Gries laws (same k=64 as freq_spacesaving), against the
    // oracle-verified exact histogram:
    //  - undercount: est(x) ≤ true(x) ≤ est(x) + err for every
    //    summarized item;
    //  - coverage: any item with true(x) > err must be in the summary
    //    (the heavy-hitter guarantee);
    //  - space bound: err ≤ n/(k+1) and n equals the stream length.
    "check_spacesaving" -> ((s, d) => {
      import s.implicits._
      // same fan-out shape as freq_spacesaving: the laws must hold
      // across the merge path, which is the distributed story
      val it = items(s, d).select(col("item"))
        .repartition(s.sparkContext.defaultParallelism).as[Long]
      val k = 64
      val mg = it.select(new graft.functions.MisraGriesAgg(k).toColumn.name("mg"))
        .select(explode(col("mg")).as("e"))
        .select(col("e.item").as("item"), col("e.est").as("est"),
          col("e.err").as("err"), col("e.n").as("nn"))
        .cache()
      // ONE events pass for both the truth table and the total (the
      // total is the histogram's mass — a separate it.count() would
      // re-scan); cached because three consumers follow, reclaimed by
      // the session clearCache like mg
      val hist = Freq.histogram(items(s, d))
        .withColumnRenamed("cnt", "true_cnt").cache()
      val boundViol = {
        val head = mg.select(max("err").as("err"), max("nn").as("nn"))
          .head()
        val (err, nn) = (head.getLong(0), head.getLong(1))
        val total = hist.agg(sum(col("true_cnt"))).head().getLong(0)
        if (err <= nn / (k + 1) && nn == total) Seq.empty[String]
        else Seq(s"mg_space_bound err=$err n=$nn total=$total")
      }
      val underViol = mg.join(hist, Seq("item"), "left")
        .where(col("est") > coalesce(col("true_cnt"), lit(0L))
          || coalesce(col("true_cnt"), lit(0L)) > col("est") + col("err"))
        .select(lit("mg_undercount").as("violation"))
      val coverViol = hist.join(mg.select(col("item"), col("est")), Seq("item"), "left")
        .join(mg.select(max("err").as("err")).limit(1))
        .where(col("true_cnt") > col("err") && col("est").isNull)
        .select(lit("mg_coverage").as("violation"))
      boundViol.toDF("violation").unionByName(underViol).unionByName(coverViol)
    }),
    // Per-group Misra-Gries laws (same k=16 as freq_spacesaving_by_type;
    // the grouped twin of check_spacesaving): for EVERY group g,
    // undercount est ≤ true ≤ est+err, coverage (true > err ⇒ in
    // summary), and the space bound err ≤ n_g/(k+1) with n_g equal to
    // the group's mass.
    "check_spacesaving_grouped" -> ((s, d) => {
      val k = 16
      val mgUdf = udaf(new graft.functions.MisraGriesAgg(k))
      val ev = Tables.events(s, d)
        .select(col("event_type").as("g"), col("user_id").as("item"))
        .repartition(s.sparkContext.defaultParallelism)
      val mg = ev.groupBy("g").agg(mgUdf(col("item")).as("mg"))
        .select(col("g"), explode(col("mg")).as("e"))
        .select(col("g"), col("e.item").as("item"), col("e.est").as("est"),
          col("e.err").as("err"), col("e.n").as("nn")).cache()
      val hist = ev.groupBy("g", "item").agg(count(lit(1)).as("true_cnt")).cache()
      val gstats = mg.groupBy("g").agg(max("err").as("gerr"), max("nn").as("gn"))
      val totals = hist.groupBy("g").agg(sum("true_cnt").as("gtotal"))
      val boundViol = gstats.join(totals, "g")
        .where(col("gerr") > col("gn") / (k + 1) || col("gn") =!= col("gtotal"))
        .select(lit("mg_grouped_space").as("violation"))
      val underViol = mg.join(hist, Seq("g", "item"), "left")
        .where(col("est") > coalesce(col("true_cnt"), lit(0L))
          || coalesce(col("true_cnt"), lit(0L)) > col("est") + col("err"))
        .select(lit("mg_grouped_undercount").as("violation"))
      val coverViol = hist
        .join(mg.select(col("g"), col("item"), col("est")), Seq("g", "item"), "left")
        .join(gstats.select(col("g"), col("gerr")), "g")
        .where(col("true_cnt") > col("gerr") && col("est").isNull)
        .select(lit("mg_grouped_coverage").as("violation"))
      boundViol.unionByName(underViol).unionByName(coverViol)
    }),
    // Sketch laws — the approximate scale paths next to the exact
    // relational verifiers (`distinct_users_by_type`,
    // `quantiles_quantity`); both sketches are deterministic given the
    // data, so these are stable gates, not flaky stochastic bounds:
    //  - HLL++ (approx_count_distinct, rsd=0.05): estimate within 3×
    //    the requested relative standard deviation of the exact count;
    //  - GK/KLL (percentile_approx, accuracy=1000): the returned
    //    p-quantile's RANK is within 1/accuracy of p — the sketch's
    //    actual contract (value-distance would be data-dependent).
    "check_sketches" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val row = ev.agg(
        countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id"), 0.05).as("approx")).head()
      val (exactD, approxD) = (row.getLong(0), row.getLong(1))
      val hllViol = if (math.abs(approxD - exactD) <= 0.15 * exactD) Seq.empty[String]
        else Seq(s"hll_error approx=$approxD exact=$exactD")
      val li = Tables.lineitem(s, d).select(col("l_quantity").as("v")).cache()
      val (gkViol, _) = try {
        val acc = 1000
        val n = li.count().toDouble
        val ps = Seq(0.5, 0.9)
        val qs = li.agg(percentile_approx(col("v"),
            array(ps.map(lit): _*), lit(acc)).as("q"))
          .head().getSeq[Double](0)
        val viols = ps.zip(qs).flatMap { case (p, q) =>
          val below = li.where(col("v") < q).count() / n  // rank lower bound
          val upto = li.where(col("v") <= q).count() / n  // rank upper bound
          val eps = 1.0 / acc + 1e-9
          if (below <= p + eps && upto >= p - eps) None
          else Some(s"gk_rank p=$p q=$q below=$below upto=$upto")
        }
        (viols, ())
      } finally li.unpersist()
      import s.implicits._
      (hllViol ++ gkViol).toDF("violation")
    }),
    // HW1 cross-validation: sure ≤ exact-outlier count ≤ sure+uncertain
    // at the SAME (D, M)
    "check_outlier_bracket" -> ((s, d) => {
      val dD = 0.5; val m = 10
      // both paths over the SAME (deduplicated) point set — the
      // bracket theorem assumes one multiset, but holds for ANY
      // multiset, so the harness checks it on a deterministic ¼-ids
      // subset: the exact side is pair-quadratic and a cross-
      // validation query should not pay the full corpus's pair count
      // (at 100 TB one would bracket-check a slice, never the corpus).
      // The window-dedup lineage feeds the exact sweep and the approx
      // path — cache it so the scan + dedup window run once; unpersist
      // after the two eager actions (the rest is driver values).
      val ptsU = Tables.pointsWithId(s, d)
        .where(pmod(col("id"), lit(4)) === 0).cache()
      val (exact, sure, unc) = try {
        val e = Outliers.neighborCounts(ptsU, dD)
          .where(col("cnt") <= m).count()
        val row = Outliers.approxOutlierCounts(ptsU.select("x", "y"), dD, m).head()
        (e, row.getLong(0), row.getLong(1))
      } finally ptsU.unpersist()
      val viol = if (sure <= exact && exact <= sure + unc) Seq.empty[String]
        else Seq(s"bracket sure=$sure exact=$exact unc=$unc")
      import s.implicits._
      viol.toDF("violation")
    }),
  )

  override def oracles: Map[String, String] =
    queries.keys.map(_ -> emptyOracle).toMap
}
