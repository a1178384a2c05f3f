package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and an LSH/IVF-
  * bucketed variant as the scale path.
  *
  * Dot products / norms are higher-order array expressions
  * (`zip_with` + `aggregate`) over the embedding arrays, cast to
  * double — no UDFs, stays in codegen.
  *
  * Scale notes: brute force is O(N²·dim) — the verifier. The bucketed
  * variant assigns each vector to a coarse cell (random-hyperplane
  * sign bits — seeded, data-independent, no training step) and joins
  * only within cells: cost ∝ Σ cell²; probing multiple cells trades
  * recall for cost. On a cluster both sides shuffle on the bucket key.
  */
object Similarity {

  /** Σ aᵢ·bᵢ over two float-array columns, in double (higher-order
    * formulation — kept for per-row use; the N² hot path uses the
    * codegen'd [[graft.functions.DotProduct]] instead). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** id + unit-normalized double vector: normalization runs ONCE per
    * vector (O(N·dim)), so the N² pair stage is a bare dot product.
    * The norm is materialized as its own column first — inlining it in
    * the transform lambda would re-evaluate the fold per element. */
  private def normalized(embs: DataFrame, idCol: String, vecCol: String,
                         outId: String, outVec: String): DataFrame = {
    val spark = embs.sparkSession
    embs
      .select(col(idCol).as(outId),
        transform(col(vecCol), x => x.cast("double")).as("_vd"))
      .withColumn("_nrm", sqrt(graft.functions.Native.dotNative(spark, col("_vd"), col("_vd"))))
      // a zero-norm vector would divide to NaN components, and NaN
      // cosines break the strict-weak-order assumption of every top-k
      // sort downstream — fail loudly instead (normalizeUnit matches).
      // The explicit !isnan matters: Spark SQL orders NaN ABOVE every
      // number, so a NaN norm (a NaN component upstream) would pass a
      // bare `> 0` and sail through — while the JVM face rejects it
      // (JVM NaN > 0 is false), silently diverging the twins
      .withColumn("_nrm",
        when(col("_nrm") > 0 && !isnan(col("_nrm")), col("_nrm"))
        .otherwise(raise_error(format_string(
          "normalized: zero-norm or NaN embedding for id %s", col(outId).cast("string")))))
      .select(col(outId), transform(col("_vd"), x => x / col("_nrm")).as(outVec))
  }

  /** Top-k `(vec_id, nn_id, rank)` from a scored candidate table
    * `vec_id, nn_id, cos`, ranked by (cos desc, nn_id asc).
    *
    * k=1 plans as groupBy + max_by — a DeclarativeAggregate →
    * HashAggregate whose partial aggregation runs map-side inside the
    * same codegen stage as the join, so the candidate rows never
    * shuffle (a rank window would shuffle ALL of them, then sort).
    * k>1 falls back to the rank window. Shared by every exact/ANN
    * variant so they rank (and tie-break) identically. */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame =
    if (k == 1) {
      // max_by of nn_id by (cos, -nn_id): highest cosine, lowest id on
      // ties — same pair the rank-window formulation keeps at rank 1
      scored
        .groupBy("vec_id")
        .agg(max_by(col("nn_id"), struct(col("cos"), (-col("nn_id")).as("negid"))).as("nn_id"))
        .select(col("vec_id"), col("nn_id"), lit(1).as("rank"))
    } else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nn_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("vec_id"), col("nn_id"), col("rank"))
    }

  /** Exact top-k cosine neighbors per vector (brute force, id-ordered
    * tie-break): `vec_id, nn_id, rank`.
    *
    * `queryPred` restricts the QUERY (probe) side while the corpus
    * side stays full — the standard "NN for a query batch against the
    * whole corpus" shape (also how the invariant checks keep the
    * exact verifier's pair count proportional to the slice they
    * audit, not the corpus²). `corpusPred` restricts the CANDIDATE
    * side instead: exact FILTERED search — top-k among the rows
    * satisfying the predicate, the semantics (and audit oracle) of
    * [[annIvfFiltered]]. */
  def cosineTopK(embs: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 queryPred: Column = lit(true),
                 corpusPred: Column = lit(true)): DataFrame = {
    val spark = embs.sparkSession
    // probe side repartitioned: the scan is a single task otherwise,
    // and with a broadcast build the join inherits probe parallelism
    val l = normalized(embs.where(queryPred), idCol, vecCol, "vec_id", "va")
      .repartition(spark.sparkContext.defaultParallelism)
    // corpusPred restricts the CANDIDATE side — filtered search
    // ("nearest among rows satisfying p"), the exact-semantics bar
    // every filtered-ANN face is audited against. lit(true) folds away.
    val r = normalized(embs.where(corpusPred), idCol, vecCol, "nn_id", "vb")
    val scored = l.join(r, col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        graft.functions.Native.dotNative(spark, col("va"), col("vb")).as("cos"))
    topKByCos(scored, k)
  }

  /** Effective quantizer-training sample size: the explicit value when
    * positive, else `max(2048, 8·k)` for a k-cell quantizer, capped at
    * 2¹⁸ rows. The sample must GROW with the cell count: carving k
    * cells from a fixed sample stops being occupancy-flat once k
    * approaches the sample size (every FFT centroid is a sample point,
    * so a 2048-row sample caps the quantizer at 2048 distinct cells
    * and degrades well before that) — the cause of `dedup_semantic`'s
    * steep fitted slope in SCALING.md before round 12. 8 sampled
    * vectors per cell keeps each Voronoi cell anchored.
    *
    * The 2¹⁸ CAP bounds the driver collect: the auto sample is Θ(k),
    * and the semantic occupancy-flat sizing makes k ∝ N — uncapped,
    * a 10⁸-vector corpus would collect millions of vectors to the
    * driver. Under the cap, quantizers stay fully anchored to
    * k = 32 768 cells (≈ 8 × 10⁹ vectors at the N/256 semantic
    * sizing; nlistFor's IVF cap is far below); past that, per-cell
    * anchoring thins gracefully toward 1 sample/cell at k = 2¹⁸ —
    * the flat-2048 degeneracy pushed out 128×. Corpora beyond it
    * train the tree's SECOND level distributedly —
    * [[hierarchicalCentroids]] auto-delegates to
    * [[hierarchicalCentroidsDistributed]] (per-coarse-cell FFT on the
    * executors over the full-size routed sample) whenever the desired
    * Θ(k) sample exceeds this cap or the byte budget below, so the
    * anchoring never thins silently. */
  def trainSampleFor(k: Int, sampleSize: Int = 0): Int =
    if (sampleSize > 0) sampleSize
    else math.min(1 << 18, math.max(2048, 8 * k))

  /** Driver-collect budget for quantizer-training samples: 256 MiB of
    * packed doubles. The 2¹⁸ cap above is ROW-based — honest at the
    * fixture dims (16–64), but at dim 1024 those rows are ≈ 2 GiB on
    * the driver — so the effective sample is additionally capped at
    * `budget / (dim·8)` rows ([[cappedTrainRows]]): the guard follows
    * bytes, the thing the driver actually runs out of. */
  val TrainSampleByteBudget: Long = 256L << 20

  /** The effective driver-collected training-sample row count:
    * explicit when given, else [[trainSampleFor]]'s row cap tightened
    * by the byte budget for the corpus' ACTUAL vector dim (peeked
    * from one row — skipped below 2048 rows, where even dim 16384
    * stays inside the budget). Floor 1024 keeps a degenerate
    * high-dim corpus trainable at all. */
  private def vecDim(embs: DataFrame, vecCol: String): Int =
    embs.select(size(col(vecCol)).as("d")).take(1)
      .headOption.map(r => math.max(1, r.getInt(0))).getOrElse(1)

  private def byteCappedRows(want: Int, dim: Int): Int =
    if (want <= 2048) want
    else math.max(1024, math.min(want,
      (TrainSampleByteBudget / (dim.toLong * 8L)).toInt))

  private def cappedTrainRows(embs: DataFrame, k: Int, sampleSize: Int,
                              vecCol: String): Int =
    if (sampleSize > 0) sampleSize
    else {
      val want = trainSampleFor(k, 0)
      // the dim peek (one take(1) job) only runs when the sample is
      // big enough for the byte budget to possibly bite
      if (want <= 2048) want else byteCappedRows(want, vecDim(embs, vecCol))
    }

  /** Coarse quantizer shared by IVF and k-center: FFT centroids over a
    * deterministic driver-sized sample (sorted by id) of the normalized
    * vectors. Unit-length output (inputs are normalized), so
    * argmin distance == argmax dot downstream. `sampleSize = 0` (the
    * default) auto-scales the sample with `nlist`
    * ([[trainSampleFor]]). */
  def ivfCentroids(embs: DataFrame, nlist: Int, sampleSize: Int = 0,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    val sample = normalized(embs, idCol, vecCol, "id", "v")
      .orderBy("id").limit(cappedTrainRows(embs, nlist, sampleSize, vecCol))
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    graft.ops.Fft.seqFFTVec(sample, nlist)
  }

  /** Per-vector probed list ids under the same quantizer as [[annIvf]]:
    * `id, lists` with `lists(0)` the vector's own list — the invariant
    * checks recompute probe membership from this. Pass `centroids`
    * (from one [[ivfCentroids]] call) when also running [[annIvf]] on
    * the same corpus, so the quantizer trains once, not per operator. */
  def ivfProbeLists(embs: DataFrame, nlist: Int, nprobe: Int, sampleSize: Int = 0,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = embs.sparkSession
    val flat = lit(centroids
      .getOrElse(ivfCentroids(embs, nlist, sampleSize, idCol, vecCol)).flatten)
    normalized(embs, idCol, vecCol, "id", "v")
      .select(col("id"),
        graft.functions.Native.topDotNative(spark, col("v"), flat, nprobe)
          .getField("list").as("lists"))
  }

  /** Centroid table ↔ driver array round trip, for persisting the IVF
    * coarse quantizer beside its assignment table (the maintained-
    * index lifecycle): one row per centroid, `list, c`. Write the
    * DataFrame as parquet next to the index; [[centroidsFromDF]] loads
    * it back for the next ingest batch. The quantizer is TRAINED ONCE
    * (on the first corpus snapshot) and then fixed — re-training moves
    * every Voronoi boundary and forces a full re-assignment, i.e. a
    * rebuild, exactly as in FAISS's train-once/add-many lifecycle. */
  def centroidsToDF(spark: org.apache.spark.sql.SparkSession,
                    centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list", "c")
  }

  def centroidsFromDF(df: DataFrame): Array[Array[Double]] =
    df.select("list", "c").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /** The appendable IVF assignment table for one ingest batch under a
    * FIXED quantizer: `nn_id, list, vb` with `vb` the unit-normalized
    * vector — the FAISS inverted-list layout as a table (the index
    * stores the vectors, so search never re-reads the corpus).
    * Assignment is deterministic given the centroids, so appending
    * per-batch tables is EXACTLY a rebuild over the union (law:
    * `check_ivf_append`) — the nightly run assigns only the new batch
    * and appends, never re-scanning the corpus. */
  def ivfAssign(embs: DataFrame, centroids: Array[Array[Double]],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = embs.sparkSession
    val flat = lit(centroids.flatten)
    normalized(embs, idCol, vecCol, "id", "v")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id").as("nn_id"), col("v").as("vb"),
        graft.functions.Native.topDotNative(spark, col("v"), flat, 1)
          .getItem(0).getField("list").as("list"))
  }

  /** ANN search against a MAINTAINED assignment table ([[ivfAssign]]
    * output, typically parquet-loaded): queries probe their `nprobe`
    * nearest lists and scan the stored inverted lists — the corpus
    * embeddings are never touched at query time. [[annIvf]] is this
    * over a freshly-built index, so the two faces cannot drift.
    *
    * The scan is the FAISS-style packed-list loop ([[annIvfPqFromIndex]]'s
    * round-12 trick applied to the raw floats): each inverted list is
    * packed ONCE into ≤ `segSize`-entry segments (ids in nn_id order
    * beside their concatenated unit vectors), and one
    * [[graft.functions.DotTopK]] call per (query, segment) row keeps
    * the segment's best k+1 in a bounded loop. The 1-row-per-candidate
    * equi-join it replaces paid ~2·dim doubles of join-row copy per
    * candidate, and that copy cost scales with dim while the packed
    * scan's overhead doesn't: measured A/B at 200k–500k vectors,
    * packed is ≈ break-even at dim 16–64 (−13% to +14%) and 1.7×
    * faster at dim 256 — the production-embedding regime this face is
    * sized for. Per-query merge is the same shared-
    * order [[graft.functions.MergeTopKAgg]]; k+1 so a self-hit cannot
    * cost a slot; answers (ids, ranks, every tie) are byte-identical
    * to the join formulation (same summation order as [[dotNative]],
    * same (cos desc, nn_id asc) total order — ScaleOpsSpec pins the
    * full-fan-out degeneration to brute force, and the A/B harness
    * verified multiset equality at every measured scale).
    *
    * UNLIKE the PQ face, the packed side is corpus-sized (dim·8 B per
    * vector, not m bytes) — it is NEVER broadcast; both sides shuffle
    * on `list` and each list's segments stay co-located. `segSize`
    * bounds a segment row at dim·8·segSize bytes — the hot-cell skew
    * guard; the default 0 auto-sizes it to ≈ 4 MiB rows from the
    * centroid dim (8Ki entries at dim 64, 512 at dim 1024), so high
    * dims can't silently blow a row past task-memory limits.
    *
    * This one-shot face re-packs `index` on EVERY call (a full-index
    * shuffle + per-list window) — fine for a single query batch, the
    * wrong cost shape for a maintained index queried repeatedly:
    * there, persist [[ivfPack]]'s output beside the assignment table
    * (as [[graft.streaming.ContinuousIngest.appendIndexes]] does, per
    * batch) and query through [[annIvfFromPacked]], which reads the
    * packed segments as-is. */
  def annIvfFromIndex(index: DataFrame, queries: DataFrame,
                      k: Int, nprobe: Int, centroids: Array[Array[Double]],
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      segSize: Int = 0,
                      excludeSelf: Boolean = true): DataFrame = {
    require(centroids.nonEmpty,
      "annIvfFromIndex: empty centroid array — train the coarse " +
        "quantizer (ivfCentroids) before searching")
    val spark = queries.sparkSession
    val dim = centroids.head.length
    if (segSize == 0 && dim < PackedScanMinDim) {
      // the measured small-dim winner: at dim < ~128 the packed scan's
      // pack stage costs more than the join-row copies it saves (A/B
      // band −13%..+14% at dim 16–64, 1.7× win at 256), so the
      // one-shot face keeps the candidate equi-join formulation below
      // the crossover. Answers are byte-identical either way (same
      // dot order, same (cos desc, nn_id asc) total order — the A/B
      // harness verified multiset equality at every measured scale).
      val flat = lit(centroids.flatten)
      val probe = normalized(queries, idCol, vecCol, "id", "v")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("id").as("vec_id"), col("v").as("va"),
          explode(graft.functions.Native.topDotNative(spark, col("v"), flat, nprobe)
            .getField("list")).as("list"))
      val scored = probe.join(index, Seq("list"))
        .where(if (excludeSelf) col("vec_id") =!= col("nn_id") else lit(true))
        .select(col("vec_id"), col("nn_id"),
          graft.functions.Native.dotNative(spark, col("va"), col("vb")).as("cos"))
      topKByCos(scored, k)
    } else {
      // the SINGLE-PASS window pack, not ivfPack: this face's index is
      // usually a COMPUTED plan (annIvf feeds ivfAssign straight in),
      // and ivfPack's count pass would recompute the whole assignment —
      // measured ~1 s slower at sf0.1 than paying the window sort once
      val effSeg =
        if (segSize > 0) segSize
        else math.max(256, (1 << 22) / (math.max(1, dim) * 8))
      val segW = org.apache.spark.sql.expressions.Window
        .partitionBy("list").orderBy("nn_id")
      val packed = index
        .withColumn("_seg", ((row_number().over(segW) - 1) / effSeg).cast("int"))
        .groupBy("list", "_seg").agg(
          array_sort(collect_list(struct(col("nn_id"), col("vb")))).as("ent"))
        .select(col("list"),
          transform(col("ent"), e => e.getField("nn_id")).as("ids"),
          flatten(transform(col("ent"), e => e.getField("vb"))).as("packed"))
      annIvfFromPacked(packed, queries, k, nprobe, centroids, idCol, vecCol,
        excludeSelf = excludeSelf)
    }
  }

  /** The dim crossover between [[annIvfFromIndex]]'s two equivalent
    * scan formulations — candidate equi-join below, packed DotTopK
    * segments at or above (where the per-candidate join-row copy cost,
    * ∝ dim, overtakes the pack stage). From the round-13 A/B at
    * 200k–500k vectors; an explicit `segSize` forces the packed path. */
  val PackedScanMinDim = 128

  /** Pack an [[ivfAssign]] table (`nn_id, vb, list`) into the
    * segment layout [[annIvfFromPacked]] scans: one row per ≈
    * `segSize`-entry slice of an inverted list — `list, ids, packed`
    * with `ids` in ascending nn_id order beside their concatenated
    * unit vectors. Each row is self-contained (the scan never groups
    * by segment), so packed tables UNION freely: per-batch packs of a
    * maintained index answer queries identically to one whole-corpus
    * pack — segment boundaries change which DotTopK call sees which
    * candidate, never the merged (cos desc, nn_id asc) answer. The
    * maintained lifecycle ([[graft.streaming.ContinuousIngest]])
    * persists this table per ingest batch so packing runs once per
    * batch over BATCH-sized input, not per query call over the corpus
    * — the train-once/pack-once discipline.
    *
    * Segment ASSIGNMENT is `xxhash64(nn_id) mod ceil(|list|/segSize)`
    * — deterministic, and windowless on purpose: a row_number window
    * per list would shuffle + SORT the float rows and funnel each
    * whole list through one task, pure overhead given that answers
    * are segmentation-independent. The per-list counts it needs are a
    * column-pruned aggregation (scans only `list`, partial-agg'd to
    * nlist rows) broadcast back, so the floats shuffle exactly once —
    * into the (list, seg) hash aggregation. That count pass is only
    * cheap when `index` is STORED (parquet prunes to one int column)
    * — the maintained lifecycle's case; for a computed one-shot index
    * it would recompute the whole assignment, which is why
    * [[annIvfFromIndex]] keeps the single-pass window pack instead.
    * Hash segments are BALANCED IN EXPECTATION, not exactly (sizes
    * concentrate within a few % of `segSize` for segSize ≥ 256),
    * which the ≈ 4 MiB auto-size absorbs; `segSize` 0 derives it
    * from `dim` (8Ki entries at dim 64, 512 at dim 1024), the
    * hot-cell skew guard. */
  def ivfPack(index: DataFrame, dim: Int, segSize: Int = 0,
              counts: Option[DataFrame] = None): DataFrame = {
    val effSeg =
      if (segSize > 0) segSize
      else math.max(256, (1 << 22) / (math.max(1, dim) * 8))
    // callers that already hold the per-list counts (the ingest append
    // path shares ONE counts pass between this and [[pqPack]]) pass
    // them in; the default recomputes from the index (pqPack's note)
    val cnt = counts.getOrElse(
      index.groupBy("list").agg(count(lit(1)).as("_n")))
    index
      .join(broadcast(cnt), Seq("list"))
      .withColumn("_seg", pmod(xxhash64(col("nn_id")),
        ceil(col("_n").cast("double") / effSeg).cast("long")).cast("int"))
      .groupBy("list", "_seg").agg(
        array_sort(collect_list(struct(col("nn_id"), col("vb")))).as("ent"))
      .select(col("list"),
        transform(col("ent"), e => e.getField("nn_id")).as("ids"),
        flatten(transform(col("ent"), e => e.getField("vb"))).as("packed"))
  }

  /** Inverse of [[ivfPack]]: explode a packed-segment table back to
    * [[ivfAssign]] rows (`nn_id, vb, list`) — the re-pack path state
    * compaction uses to consolidate fragmented per-batch segments
    * without touching the float table twice. */
  def ivfUnpack(packed: DataFrame): DataFrame =
    packed
      .withColumn("_dim", (size(col("packed")) / size(col("ids"))).cast("int"))
      .select(col("list"), col("packed"), col("_dim"),
        posexplode(col("ids")).as(Seq("_pos", "nn_id")))
      .select(col("nn_id"),
        slice(col("packed"), col("_pos") * col("_dim") + 1, col("_dim")).as("vb"),
        col("list"))

  /** [[ivfPack]]'s PQ-code twin: hash-segmented windowless pack of an
    * IVFADC index (`nn_id, list, codes` — the maintained assignment ⋈
    * code join) into `(list, ids, packed)` scan segments, `packed`
    * the concatenated m-byte codes in `ids` order. Same two-pass
    * shape as [[ivfPack]] (per-list counts from a column-pruned scan,
    * broadcast back; deterministic `xxhash64` segment assignment, so
    * a replay writes identical rows) and the same ≤ 4 MiB auto-sized
    * segments as the hot-cell guard — at m bytes/code that is
    * ~(4 MiB / m) entries per segment. Persisted per ingest batch as
    * the `pq_packed` table so [[pqPackedShortlist]] scans never
    * re-join or re-pack the corpus-sized code table (pack-once, the
    * `ivf_packed` lesson applied to the ADC face). */
  def pqPack(index: DataFrame, m: Int, segSize: Int = 0,
             counts: Option[DataFrame] = None): DataFrame = {
    val effSeg =
      if (segSize > 0) segSize
      else math.max(256, (1 << 22) / math.max(1, m))
    // the count pass executes the input a second time — when the
    // input is a computed join (the append path), callers pass the
    // per-list counts from the STORED assignment batch instead (one
    // column-pruned scan; `list` comes solely from that side and the
    // id sets match, so the counts are identical by construction)
    val cnt = counts.getOrElse(
      index.groupBy("list").agg(count(lit(1)).as("_n")))
    index
      .join(broadcast(cnt), Seq("list"))
      .withColumn("_seg", pmod(xxhash64(col("nn_id")),
        ceil(col("_n").cast("double") / effSeg).cast("long")).cast("int"))
      .groupBy("list", "_seg").agg(
        array_sort(collect_list(struct(col("nn_id"), col("codes")))).as("ent"))
      .select(col("list"),
        transform(col("ent"), e => e.getField("nn_id")).as("ids"),
        aggregate(col("ent"), lit(Array.emptyByteArray),
          (acc, e) => concat(acc, e.getField("codes"))).as("packed"))
  }

  /** Inverse of [[pqPack]]: explode a packed ADC segment table back
    * to `(nn_id, list, codes)` rows — the re-pack path compaction
    * uses, and the law face the specs pin (unpack == assignment ⋈
    * encode, so nothing is lost by serving from the packed table). */
  def pqUnpack(packed: DataFrame): DataFrame =
    packed
      .withColumn("_m", (length(col("packed")) / size(col("ids"))).cast("int"))
      .select(col("list"), col("packed"), col("_m"),
        posexplode(col("ids")).as(Seq("_pos", "nn_id")))
      .select(col("nn_id"), col("list"),
        expr("substring(packed, _pos * _m + 1, _m)").as("codes"))

  /** The query side of the packed exact-IVF scan, against an already
    * packed ([[ivfPack]]) segment table: queries probe their `nprobe`
    * nearest lists and one [[graft.functions.DotTopK]] call per
    * (query, segment) row keeps each segment's best k+1; per-query
    * merge is the shared-order [[graft.functions.MergeTopKAgg]].
    * Answers are independent of the segmentation (see [[ivfPack]]),
    * so the maintained per-batch-packed face and the one-shot
    * [[annIvfFromIndex]] face are byte-identical. `excludeSelf` as on
    * [[annIvfPqFromIndex]]: id equality means same document; external
    * query batches whose id namespace may collide with corpus ids
    * pass `false` or silently lose the colliding answers. */
  def annIvfFromPacked(packed: DataFrame, queries: DataFrame,
                       k: Int, nprobe: Int, centroids: Array[Array[Double]],
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       excludeSelf: Boolean = true): DataFrame = {
    require(centroids.nonEmpty,
      "annIvfFromPacked: empty centroid array — train the coarse " +
        "quantizer (ivfCentroids) before searching")
    val spark = queries.sparkSession
    val flat = lit(centroids.flatten)
    val probe = normalized(queries, idCol, vecCol, "id", "v")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id").as("vec_id"), col("v").as("va"),
        explode(graft.functions.Native.topDotNative(spark, col("v"), flat, nprobe)
          .getField("list")).as("list"))
    val perSeg = probe.join(packed, Seq("list"))
      .select(col("vec_id"),
        graft.functions.Native.dotTopKNative(spark, col("packed"),
          col("ids"), col("va"), k + 1).as("tk"))
    val mergeTop = udaf(new graft.functions.MergeTopKAgg(k + 1))
    perSeg.groupBy("vec_id").agg(mergeTop(col("tk")).as("cand"))
      .select(col("vec_id"),
        posexplode(slice(
          if (excludeSelf)
            filter(col("cand"), e => e.getField("nn_id") =!= col("vec_id"))
          else col("cand"), 1, k)))
      .select(col("vec_id"), col("col").getField("nn_id").as("nn_id"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer — k-center centroids
    * from farthest-first traversal over a driver-sized sample — maps
    * every vector to its nearest list; queries probe their `nprobe`
    * nearest lists. The classic FAISS-style IVF layout expressed as
    * dataflow: centroid assignment is a codegen'd top-k-dot over the
    * literal flat centroid array ([[graft.functions.TopDot]] — one
    * per-row loop in the scan stage, no posexplode blowup, no rank
    * window, no cache); candidate generation is an equi-join on
    * `list`. No training iteration (FFT is one pass), deterministic
    * given the sample.
    *
    * Each (vec, nn) candidate arises at most once — the build side
    * keeps exactly one list per vector and the probed lists are
    * distinct — so no dedup is needed before ranking.
    *
    * Cost ∝ Σ_list |probe(list)|·|list| — at 1000 executors both sides
    * shuffle on the list id and each list's pairs stay co-located. */
  def annIvf(embs: DataFrame, k: Int, nlist: Int, nprobe: Int,
             sampleSize: Int = 0,
             idCol: String = "vec_id", vecCol: String = "embedding",
             queryPred: Column = lit(true),
             centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids
      .getOrElse(ivfCentroids(embs, nlist, sampleSize, idCol, vecCol))
    // queryPred restricts the QUERY side against the full corpus
    // (query-batch ANN); lit(true) folds away for the self-NN default
    annIvfFromIndex(ivfAssign(embs, cents, idCol, vecCol),
      embs.where(queryPred), k, nprobe, cents, idCol, vecCol)
  }

  /** FILTERED IVF ANN: top-k cosine neighbors among the corpus rows
    * satisfying `corpusPred` — the "nearest English docs", "nearest
    * rows in this date range" serving shape. Pre-filter search, not
    * post-filter: the predicate restricts the INDEX side before
    * candidate generation (only eligible vectors are assigned to the
    * scanned lists), so an eligible answer can never be crowded out of
    * the top-k by ineligible rows — a post-filter of an unfiltered
    * top-k returns FEWER than k (often zero, under a selective
    * predicate) and silently drops eligible answers that sat just past
    * rank k. ScaleOpsSpec pins the distinction with a planted
    * ineligible distractor strictly closer than the eligible answer.
    *
    * The coarse quantizer trains on the FULL corpus (quantizer
    * identity must not depend on the predicate, or every new filter
    * re-trains and re-assigns — with a shared quantizer one maintained
    * assignment table serves every predicate via an eligible-ids
    * semi-join, the 100 TB shape sketched below). Recall compensation:
    * with only a `sel = |eligible|/N` fraction of vectors eligible,
    * `nprobe` lists hold ~sel·nprobe·N/nlist candidates, so
    * probing widens to `ceil(nprobe/sel)` lists, capped at nlist
    * ([[widenedNprobe]]) — restoring the expected candidate count
    * at probe cost ∝ the SAME candidate total the unfiltered search
    * pays (selectivity is one cheap counting aggregate, no floats).
    * `corpusPred = lit(true)` degenerates EXACTLY to [[annIvf]]
    * (sel = 1 widens nothing; law-pinned by `check_ann_filtered`
    * beside the containment and ε-recall floors).
    *
    * At maintained-index scale, the equivalent is filtering the
    * stored assignment by an eligible-id semi-join (slim `(nn_id,
    * list)` rows — no float I/O) before the packed scan, with the
    * same selectivity-widened nprobe; this one-shot face assigns
    * `embs.where(corpusPred)` directly, which IS that semi-join for a
    * computed index. Highly selective predicates (sel → 0) degrade
    * gracefully: nprobeEff caps at nlist = exact search over the
    * eligible set, the right answer at that extreme. */
  def annIvfFiltered(embs: DataFrame, k: Int, nlist: Int, nprobe: Int,
                     corpusPred: Column, sampleSize: Int = 0,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryPred: Column = lit(true),
                     centroids: Option[Array[Array[Double]]] = None,
                     excludeSelf: Boolean = true): DataFrame = {
    val cents = centroids
      .getOrElse(ivfCentroids(embs, nlist, sampleSize, idCol, vecCol))
    val nprobeEff = filteredNprobe(embs, corpusPred, nprobe, cents.length)
    annIvfFromIndex(ivfAssign(embs.where(corpusPred), cents, idCol, vecCol),
      embs.where(queryPred), k, nprobeEff, cents, idCol, vecCol,
      excludeSelf = excludeSelf)
  }

  /** FILTERED IVFADC: [[annIvfFiltered]]'s pre-filter semantics on
    * the product-quantized path — top-k among the rows satisfying
    * `corpusPred`, candidates generated from an index holding ONLY
    * eligible vectors (so an eligible answer can never be crowded out
    * of a segment's ADC top-R by ineligible rows — the same
    * distinction the exact face's planted-distractor spec pins).
    * Both quantizers train on the FULL corpus (predicate-independent
    * identity, as with the exact face); probing widens by the same
    * `ceil(nprobe/sel)` compensation, capped at nlist.
    * `corpusPred = lit(true)` degenerates EXACTLY to [[annIvfPq]]
    * (law-pinned by `check_ann_filtered`'s ADC leg beside the
    * containment and ε-recall floors). Rerank floats come from the
    * unfiltered `embs` (the shortlist is eligible-only by
    * construction, so the float join touches only eligible rows).
    *
    * At maintained-index scale the equivalent filters the stored
    * code segments by an eligible-id semi-join after pruning to the
    * probed lists — m bytes per candidate, no float I/O until the
    * rerank ([[graft.streaming.ContinuousIngest.annIvfPqFilteredMaintained]]). */
  def annIvfPqFiltered(embs: DataFrame, k: Int, nlist: Int, nprobe: Int,
                       corpusPred: Column, m: Int = 8, ksub: Int = 16,
                       rerank: Int = 0, sampleSize: Int = 0,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       queryPred: Column = lit(true),
                       centroids: Option[Array[Array[Double]]] = None,
                       books: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val (cents, bks) = trainIvfPq(embs, nlist, m, ksub, sampleSize,
      idCol, vecCol, centroids, books)
    val nprobeEff = filteredNprobe(embs, corpusPred, nprobe, cents.length)
    val elig = embs.where(corpusPred)
    val index = ivfAssign(elig, cents, idCol, vecCol).select("nn_id", "list")
      .join(pqEncode(elig, bks, idCol, vecCol)
        .select(col("vec_id").as("nn_id"), col("codes")), "nn_id")
    annIvfPqFromIndex(index, embs, k, nprobeEff, cents, bks, rerank,
      idCol, vecCol, queryPred)
  }

  /** The filtered faces' recall compensation: with `e` of `n` vectors
    * eligible, probe `ceil(nprobe·n/e)` lists, capped at the trained
    * cell count (no widening when nothing or everything is eligible).
    * The one-shot faces and the maintained ones
    * ([[graft.streaming.ContinuousIngest.annIvfFilteredMaintained]])
    * share it, so their equality laws hold by construction. */
  private[graft] def widenedNprobe(nprobe: Int, n: Long, e: Long,
                                   nCells: Int): Int =
    if (e <= 0 || e >= n) nprobe
    else math.min(nCells, math.ceil(nprobe.toDouble * n / e).toInt)

  private def filteredNprobe(embs: DataFrame, corpusPred: Column,
                             nprobe: Int, nCells: Int): Int = {
    val row = embs.agg(count(lit(1)).as("n"),
      count(when(corpusPred, lit(1))).as("e")).head()
    widenedNprobe(nprobe, row.getLong(0), row.getLong(1), nCells)
  }

  /** Embedding k-center clustering: FFT centroids over a sample, every
    * vector assigned to its nearest centroid in one codegen'd argmax
    * pass (no explode, no window): `vec_id, cluster, cdist`. */
  def kcenterAssign(embs: DataFrame, k: Int, sampleSize: Int = 0,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = embs.sparkSession
    val flat = lit(ivfCentroids(embs, k, sampleSize, idCol, vecCol).flatten)
    normalized(embs, idCol, vecCol, "id", "v")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id").as("vec_id"),
        graft.functions.Native.topDotNative(spark, col("v"), flat, 1)
          .getItem(0).as("best"))
      .select(col("vec_id"), col("best").getField("list").as("cluster"),
        // unit vectors: ||v−c||² = 2 − 2⟨v,c⟩
        round(sqrt(greatest(lit(0.0),
          lit(2.0) - lit(2.0) * col("best").getField("dot"))), 6).as("cdist"))
  }

  /** Driver-side twin of [[kcenterAssign]]'s sampling stage, for the
    * invariant check: the deterministic sample ids (sorted by id, first
    * `sampleSize`), plus the exact k-center radius of that sample under
    * the same FFT centroids. Law: every SAMPLED vector's assignment
    * distance is ≤ this radius (FFT's guarantee covers exactly the
    * points it traversed; non-sample points carry no bound). */
  def kcenterSampleRadius(embs: DataFrame, k: Int, sampleSize: Int = 0,
                          idCol: String = "vec_id", vecCol: String = "embedding"): (Array[Long], Double) = {
    val rows = normalized(embs, idCol, vecCol, "id", "v")
      .orderBy("id").limit(cappedTrainRows(embs, k, sampleSize, vecCol))
      .select("id", "v").collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Double](1).toArray)
    val centroids = graft.ops.Fft.seqFFTVec(vecs, k)
    def dSq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val r2 = vecs.foldLeft(0.0) { (acc, v) =>
      math.max(acc, centroids.map(c => dSq(v, c)).min)
    }
    (ids, math.sqrt(r2))
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) with
    * cosine ≥ minCosine — the exact verifier for embedding dedup
    * (approximate scale path = [[annBucketed]] buckets). */
  def cosineNearDupPairs(embs: DataFrame, minCosine: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = embs.sparkSession
    val vd = transform(col(vecCol), x => x.cast("double"))
    val prepped = embs.select(col(idCol).as("id"), vd.as("v"))
      .withColumn("nrm", sqrt(graft.functions.Native.dotNative(spark, col("v"), col("v"))))
      .repartition(spark.sparkContext.defaultParallelism)
    val l = prepped.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val r = prepped.select(col("id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    l.join(r, col("a") < col("b"))
      .select(col("a"), col("b"),
        (graft.functions.Native.dotNative(spark, col("va"), col("vb"))
          / (col("na") * col("nb"))).as("csim"))
      .where(col("csim") >= minCosine)
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-center cluster the embeddings — one
    * codegen'd argmax pass, same quantizer as [[annIvf]] — then run
    * the exact cosine verifier WITHIN each cluster only. Cost drops
    * from N² to Σ|cluster|²; with cluster count ∝ N (occupancy-flat,
    * the [[nlistFor]] discipline) that is linear-per-ratio at scale,
    * and on a cluster both pair sides shuffle on the cluster id and
    * stay co-located. Same `a, b, csim` schema (and identical csim
    * doubles) as [[cosineNearDupPairs]].
    *
    * Single-assignment MISSES pairs whose members straddle a Voronoi
    * boundary, so each vector spills into its `nAssign` nearest cells
    * (the spill-tree / IVF-multiprobe idea applied to the BUILD side):
    * a pair is scored in every shared cell and deduplicated by
    * `max(csim)` — the per-cell scores are identical, so the dedup is
    * value-deterministic. Work is ≤ nAssign²·Σ|cluster|², still
    * linear-per-ratio; recall rises steeply because similar vectors
    * rank the same centroids near the top even when their single
    * argmax differs. `check_semantic_dedup` pins soundness (reported ⊆
    * exact with equal csim) and floors the measured recall. */
  /** Above this cell count, [[semanticNearDupPairs]] trains and
    * assigns through the two-level [[CentroidTree]] instead of a flat
    * centroid array — flat assignment is N·k dots, quadratic under
    * the occupancy-flat k ∝ N sizing, while routing is N^1.5. Small
    * counts stay flat (cheaper in absolute terms, and the sf-fixture
    * faces keep their byte-stable outputs).
    *
    * 64 is MEASURED, not guessed: the round-14 routed-scale probe put
    * the routed/flat ABSOLUTE crossing between the 10× fixture (40
    * cells, routed 0.27× flat speed) and the 30× fixture (69 cells,
    * routed 1.23×) at the derived default spill — i.e. the crossing
    * sits in the 50–70-cell band this constant bisects (SCALING.md
    * §round-14). Below it the tree's fan-out overhead outweighs the
    * √k dot savings; above it flat's N·k grows past routing's
    * N^1.5·inflation. */
  val RoutedClustersThreshold = 64

  /** The routed path's recall/cost story is THRESHOLD-AWARE: the tree
    * is built with child spill [[spillFor]]`(minCosine)` and probed
    * with the adaptive margin [[routeMarginFor]]`(minCosine)` on top
    * of the `nRoute` floor, so at real SemDeDup thresholds (cosine ≳
    * 0.9, where pair members route together) the spill and margin
    * shrink toward zero and the face costs what fixed-2 routing cost,
    * while at BORDERLINE thresholds (the 0.45-cos fixtures, where
    * fixed-2 routing loses ~half the flat face's pairs) the boundary
    * children replicate and the boundary VECTORS probe wider — the
    * RoutedAssignSpec borderline floor pins ≥ 0.8 of the flat face's
    * pairs at ≈ `nRoute` average probes. Exact flat equality remains
    * available (full fan-out — the check_semantic_routed degeneration
    * law — or explicit `centroids` pinning the flat face). */
  def semanticNearDupPairs(embs: DataFrame, minCosine: Double, nClusters: Int,
                           nAssign: Int = 2, sampleSize: Int = 0,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           centroids: Option[Array[Array[Double]]] = None,
                           nRoute: Int = 2): DataFrame = {
    require(nAssign >= 1 && nAssign <= nClusters,
      s"nAssign=$nAssign must be in [1, nClusters=$nClusters]")
    // explicit centroids pin the flat maintained-index face (the
    // check_semantic_append premise: callers persist THAT quantizer);
    // otherwise large cell counts auto-route through the two-level
    // quantizer — same exact-cosine pair machinery downstream
    if (centroids.isEmpty && nClusters > RoutedClustersThreshold) {
      val tree = hierarchicalCentroids(embs, nClusters, sampleSize,
        idCol, vecCol, spill = spillFor(minCosine))
      semanticPairsFromIndex(
        semanticAssignRoutedAdaptive(embs, tree, nAssign,
          routeMargin = routeMarginFor(minCosine),
          minRoute = math.min(nRoute, tree.coarse.length),
          maxRoute = math.max(4, 2 * nRoute),
          idCol = idCol, vecCol = vecCol),
        minCosine)
    } else {
      val cents = centroids
        .getOrElse(ivfCentroids(embs, nClusters, sampleSize, idCol, vecCol))
      semanticPairsFromIndex(
        semanticAssign(embs, cents, nAssign, idCol, vecCol), minCosine)
    }
  }

  /** The appendable spill-assignment table for one ingest batch under
    * a FIXED quantizer — [[semanticNearDupPairs]]' build stage as a
    * maintained index ([[ivfAssign]]'s lifecycle, nAssign cells per
    * vector instead of one): `cluster, id, v` with `v` the
    * unit-normalized vector. Deterministic given the centroids, so
    * per-batch tables union to exactly the single-pass table
    * (`check_semantic_append`); persist the centroids beside it via
    * [[centroidsToDF]] and a nightly run assigns ONLY the new batch. */
  def semanticAssign(embs: DataFrame, centroids: Array[Array[Double]],
                     nAssign: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nAssign >= 1 && nAssign <= centroids.length,
      s"nAssign=$nAssign must be in [1, nClusters=${centroids.length}]")
    val spark = embs.sparkSession
    val flat = lit(centroids.flatten)
    // normalized once, so the pair stage is a bare dot — and csim is
    // computed on the SAME normalized doubles as cosineNearDupPairs'
    // norm-divided face (1e-9 parity, pinned by the check law)
    normalized(embs, idCol, vecCol, "id", "v")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"), col("v"),
        explode(graft.functions.Native.topDotNative(spark, col("v"), flat, nAssign)
          .getField("list")).as("cluster"))
  }

  /** A two-level quantizer: `coarse(c)` routes a vector to cell `c`,
    * whose children `childFlat(c)` (row-major, `childIds(c)` the
    * GLOBAL cluster ids, assigned sequentially in (cell, child)
    * order) are the actual clusters. The scale answer to flat
    * k-cell assignment: flat costs N·k dots — quadratic in N under
    * the occupancy-flat k ∝ N sizing — where routing costs
    * N·(√k + nRoute·k/√k) dots, i.e. N^1.5 total.
    * INVARIANT: every coarse cell has ≥ 1 child —
    * [[hierarchicalCentroids]] prunes empty cells at build time, so a
    * routed probe can never land on a dead end and drop its vector. */
  final case class CentroidTree(coarse: Array[Array[Double]],
                                childIds: Array[Array[Int]],
                                childFlat: Array[Array[Double]]) {
    /** Distinct cluster count — a SPILLED tree ([[hierarchicalCentroids]]
      * `spill` > 0) replicates boundary children into adjacent coarse
      * cells under the SAME global id, so slots ≥ clusters. */
    def k: Int = childIds.iterator.flatten.toSet.size
    /** Total child slots across cells (replicas counted) — the probe-
      * cost denominator; == [[k]] for an unspilled tree. */
    def slots: Int = childIds.map(_.length).sum
    /** All clusters concatenated in global-id order — the flat
      * centroid array the full-route degeneration law compares
      * against. Replicas collapse (identical vector per global id). */
    def concat: Array[Array[Double]] = {
      val dim = coarse.head.length
      val out = new Array[Array[Double]](k)
      var c = 0
      while (c < childIds.length) {
        var j = 0
        while (j < childIds(c).length) {
          out(childIds(c)(j)) = childFlat(c).slice(j * dim, (j + 1) * dim)
          j += 1
        }
        c += 1
      }
      out
    }
  }

  /** [[CentroidTree]] ↔ table round trip — [[centroidsToDF]]'s twin
    * for the two-level quantizer, so a maintained ROUTED semantic
    * index can persist its quantizer beside the assignment table
    * (the train-once lifecycle): coarse rows are `(0, cell, -1, v)`,
    * child rows `(1, cell, globalId, v)` — spill replicas are just
    * repeated global ids under other cells. [[treeFromDF]] restores
    * the exact nested layout (children are KEPT sorted by global id
    * within their cell — the build contract, spilled or not — so the
    * order is lossless; RoutedAssignSpec pins the round trip). */
  def treeToDF(spark: org.apache.spark.sql.SparkSession,
               tree: CentroidTree): DataFrame = {
    import spark.implicits._
    val dim = tree.coarse.head.length
    val coarseRows = tree.coarse.zipWithIndex.map { case (v, c) =>
      (0, c, -1, v.toSeq) }
    val childRows = for {
      c <- tree.childIds.indices
      j <- tree.childIds(c).indices
    } yield (1, c, tree.childIds(c)(j),
      tree.childFlat(c).slice(j * dim, (j + 1) * dim).toSeq)
    (coarseRows.toSeq ++ childRows).toDF("kind", "cell", "gid", "v")
  }

  def treeFromDF(df: DataFrame): CentroidTree = {
    val rows = df.select("kind", "cell", "gid", "v").collect()
    val coarse = rows.filter(_.getInt(0) == 0)
      .sortBy(_.getInt(1)).map(_.getSeq[Double](3).toArray)
    val byCell = rows.filter(_.getInt(0) == 1)
      .groupBy(_.getInt(1)).view.mapValues(_.sortBy(_.getInt(2))).toMap
    val childIds = Array.tabulate(coarse.length)(c =>
      byCell.get(c).map(_.map(_.getInt(2)).toArray).getOrElse(Array.empty[Int]))
    val childFlat = Array.tabulate(coarse.length)(c =>
      byCell.get(c).map(_.flatMap(_.getSeq[Double](3)).toArray)
        .getOrElse(Array.empty[Double]))
    CentroidTree(coarse, childIds, childFlat)
  }

  /** Two-level quantizer TRAINING — the hierarchical twin of
    * [[ivfCentroids]] for cell counts where flat training/assignment
    * stops scaling: FFT-train ⌈√k⌉ coarse cells on the (auto-scaled)
    * sample, route each sample point to its nearest coarse cell, then
    * FFT-train each cell's children on ITS points with child counts ∝
    * cell occupancy (Σ ≈ k — the total is a target, not a contract,
    * like every clustering size knob). Training cost O(sample·√k·dim)
    * twice + balanced per-cell work — k^1.5 where flat is k²; same
    * train-once/add-many lifecycle (the tree is the quantizer
    * identity). Deterministic given (corpus, k, spill).
    *
    * `spill` > 0 additionally REPLICATES boundary children (same
    * global id) into every coarse cell whose centroid dot is within
    * `spill` of the home cell's — see the inline note below and
    * [[spillFor]] for sizing; [[CentroidTree.slots]] vs
    * [[CentroidTree.k]] exposes the inflation. */
  def hierarchicalCentroids(embs: DataFrame, k: Int, sampleSize: Int = 0,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            spill: Double = 0.0): CentroidTree = {
    require(k >= 1, s"k=$k must be positive")
    require(spill >= 0.0, s"spill=$spill must be >= 0")
    // past the driver caps the Θ(k) anchoring sample can no longer be
    // collected — hand the level-2 training to the executors instead
    // of silently thinning per-cell anchoring toward 1 sample/cell.
    // ONE dim peek serves the delegation check, the driver limit, and
    // (via coarseSampleSize) the delegated build's coarse sample.
    val desired = if (sampleSize > 0) sampleSize else math.max(2048, 8 * k)
    // row cap (2^18) first, then the byte budget — same chain as
    // cappedTrainRows, inlined to share the single dim peek
    val rowCapped = trainSampleFor(k, 0)
    val capped =
      if (sampleSize > 0) sampleSize
      else if (rowCapped <= 2048) rowCapped
      else byteCappedRows(rowCapped, vecDim(embs, vecCol))
    if (sampleSize == 0 && desired > capped) {
      val nCoarse = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
      return hierarchicalCentroidsDistributed(embs, k,
        coarseSampleSize = math.min(trainSampleFor(nCoarse, 0), capped),
        childSampleSize = desired, idCol = idCol, vecCol = vecCol,
        spill = spill)
    }
    val sample = normalized(embs, idCol, vecCol, "id", "v")
      .orderBy("id").limit(capped)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "hierarchicalCentroids: empty corpus")
    val nCoarse = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = graft.ops.Fft.seqFFTVec(sample, nCoarse)
    val byCell = Array.fill(coarse.length)(
      scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
    sample.foreach(v => byCell(routeCellMinDist(coarse, v)) += v)
    applySpill(assembleTree(coarse,
      byCell.map(_.toArray), sample.length.toLong, k), spill)
  }

  /** Nearest coarse cell by EXACT min-distance with first-index wins —
    * the one routing definition shared by the driver and distributed
    * tree builds, so the two can be equality-law'd against each
    * other (dot-based routing rounds differently on near-ties). */
  private def routeCellMinDist(coarse: Array[Array[Double]],
                               v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < coarse.length) {
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - coarse(c)(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Level-2 assembly shared by the driver and distributed builds:
    * EMPTY coarse cells (possible only when duplicate sample points
    * become duplicate FFT centroids — the earlier index absorbs all
    * assignments) are PRUNED from the tree entirely: a retained
    * childless cell would make routing a dead end, and a vector
    * whose nRoute probes all landed on dead ends would silently
    * vanish from the assignment — so the invariant is structural:
    * every coarse cell a probe can hit has ≥ 1 child. Per-cell child
    * counts ∝ occupancy (≥ 1); global ids run consecutively over the
    * kept cells in coarse order. */
  private def assembleTree(coarse: Array[Array[Double]],
                           byCell: Array[Array[Array[Double]]],
                           total: Long, k: Int): CentroidTree = {
    val kept = coarse.indices.filter(c => byCell(c).nonEmpty)
    val prunedCoarse = kept.map(coarse(_)).toArray
    val childIds = new Array[Array[Int]](kept.length)
    val childFlat = new Array[Array[Double]](kept.length)
    var nextId = 0
    var ci = 0
    while (ci < kept.length) {
      val pts = byCell(kept(ci))
      val kc = math.max(1, math.round(k.toDouble * pts.length / total).toInt)
      val kids = graft.ops.Fft.seqFFTVec(pts, kc)
      childIds(ci) = Array.tabulate(kids.length)(j => nextId + j)
      childFlat(ci) = kids.flatten
      nextId += kids.length
      ci += 1
    }
    CentroidTree(prunedCoarse, childIds, childFlat)
  }

  /** CHILD SPILL (the spill-tree idea applied at BUILD time): a
    * child centroid sitting near a coarse Voronoi boundary is
    * REPLICATED — same global id, same vector — into every other
    * coarse cell whose centroid dot is within `spill` of its
    * parent's, so a query probing only its own best cell still
    * sees the boundary children of the neighbors. This moves the
    * borderline-pair recall cost from QUERY fan-out (every vector
    * pays nRoute probes forever) to TREE size (metadata, built
    * once): probe counts stay at nRoute while the straddled-
    * boundary children — exactly the ones borderline pairs share —
    * become visible from both sides of the boundary. */
  private def applySpill(tree: CentroidTree, spill: Double): CentroidTree =
    if (spill <= 0.0) tree
    else {
      val CentroidTree(prunedCoarse, childIds, childFlat) = tree
      val dim = prunedCoarse.head.length
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
      val cellKids = Array.tabulate(childIds.length) { c =>
        scala.collection.mutable.ArrayBuffer.tabulate(childIds(c).length)(j =>
          (childIds(c)(j), childFlat(c).slice(j * dim, (j + 1) * dim)))
      }
      var c = 0
      while (c < childIds.length) {
        var j = 0
        while (j < childIds(c).length) {
          val x = childFlat(c).slice(j * dim, (j + 1) * dim)
          val dHome = dot(x, prunedCoarse(c))
          var c2 = 0
          while (c2 < prunedCoarse.length) {
            if (c2 != c && dot(x, prunedCoarse(c2)) >= dHome - spill)
              cellKids(c2) += ((childIds(c)(j), x))
            c2 += 1
          }
          j += 1
        }
        c += 1
      }
      // per-cell children stay sorted by global id (replicas land
      // wherever) — the treeToDF round trip and the per-cell topDot
      // index-asc tie-break both assume id order within a cell
      val sorted = cellKids.map(_.sortBy(_._1).toArray)
      CentroidTree(prunedCoarse,
        sorted.map(_.map(_._1)), sorted.map(_.flatMap(_._2)))
    }

  /** The DISTRIBUTED second-level build — for cell counts whose Θ(k)
    * anchoring sample no longer fits the driver caps
    * ([[cappedTrainRows]]): the coarse level still trains on a small
    * driver sample (√k cells need Θ(√k) rows), but the level-2 sample
    * is routed to its coarse cell on the EXECUTORS and each cell's
    * children FFT-train inside a typed map over the grouped cells —
    * the driver only ever collects the finished centroids (k·dim
    * doubles, metadata). Per-task memory is one cell's sample slice
    * (≈ sample/√k rows), so the anchoring quality no longer degrades
    * past the driver budget.
    *
    * Same routing arithmetic ([[routeCellMinDist]]), same id-ordered
    * per-cell point order (`sort_array` == the driver's globally
    * id-sorted insertion order), same occupancy-proportional child
    * counts and id assembly — so with `coarseSampleSize ==
    * childSampleSize` under the caps this equals
    * [[hierarchicalCentroids]] EXACTLY (the RoutedAssignSpec law);
    * past the caps it is the same algorithm with an honest sample.
    * [[hierarchicalCentroids]] auto-delegates here when its desired
    * sample exceeds the caps, so callers never pick a face. */
  def hierarchicalCentroidsDistributed(embs: DataFrame, k: Int,
                                       coarseSampleSize: Int = 0,
                                       childSampleSize: Int = 0,
                                       idCol: String = "vec_id",
                                       vecCol: String = "embedding",
                                       spill: Double = 0.0): CentroidTree = {
    require(k >= 1, s"k=$k must be positive")
    val spark = embs.sparkSession
    import spark.implicits._
    val nCoarse = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val norm = normalized(embs, idCol, vecCol, "id", "v")
    val cS =
      if (coarseSampleSize > 0) coarseSampleSize
      else cappedTrainRows(embs, nCoarse, 0, vecCol)
    val coarseSample = norm.orderBy("id").limit(cS)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(coarseSample.nonEmpty, "hierarchicalCentroidsDistributed: empty corpus")
    val coarse = graft.ops.Fft.seqFFTVec(coarseSample, nCoarse)
    val chS =
      if (childSampleSize > 0) childSampleSize
      else math.max(2048, 8 * k)
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    // ONE routing pass over the sample: persist the routed rows so the
    // `total` count and the per-cell grouping read the same
    // materialization instead of re-routing (the sample is bounded by
    // chS rows ≤ the byte budget, so the block fits executor storage)
    val routed = norm.orderBy("id").limit(chS)
      .select(col("id"), col("v")).as[(Long, Seq[Double])]
      .map { case (id, v) =>
        (routeCellMinDist(bcCoarse.value, v.toArray), id, v) }
      .toDF("cell", "id", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = routed.count()
    val perCell = routed.groupBy("cell")
      .agg(sort_array(collect_list(struct(col("id"), col("v")))).as("pts"))
      .as[(Int, Seq[(Long, Seq[Double])])]
      .map { case (cell, pts) =>
        val arr = pts.map(_._2.toArray).toArray
        val kc = math.max(1, math.round(k.toDouble * arr.length / total).toInt)
        (cell, graft.ops.Fft.seqFFTVec(arr, kc).map(_.toSeq).toSeq)
      }
      .collect().sortBy(_._1)
    routed.unpersist()
    // assemble with the shared layout: kept cells in coarse order,
    // global ids consecutive per cell (assembleTree's contract, with
    // the per-cell FFT already done on the executors)
    val prunedCoarse = perCell.map(p => coarse(p._1))
    val childIds = new Array[Array[Int]](perCell.length)
    val childFlat = new Array[Array[Double]](perCell.length)
    var nextId = 0
    var ci = 0
    while (ci < perCell.length) {
      val kids = perCell(ci)._2
      childIds(ci) = Array.tabulate(kids.length)(j => nextId + j)
      childFlat(ci) = kids.flatten.toArray
      nextId += kids.length
      ci += 1
    }
    applySpill(CentroidTree(prunedCoarse, childIds, childFlat), spill)
  }

  /** Routed spill assignment under a [[CentroidTree]] — the scale
    * face of [[semanticAssign]]: each vector probes its `nRoute`
    * nearest coarse cells and takes the global top `nAssign` clusters
    * among THEIR children only, so per-row work is
    * (√k + nRoute·occupancy)·dim dots instead of k·dim. Same output
    * schema (`id, v, cluster`) and the same downstream machinery
    * ([[semanticPairsFromIndex]]/[[semanticNewPairs]]). Deterministic
    * given the tree; with `nRoute` = #coarse cells it degenerates
    * EXACTLY to `semanticAssign(embs, tree.concat, nAssign)` — every
    * child considered, same (dot desc, id asc) tie-break — the
    * RoutedAssignSpec law. Partial routing can miss a boundary
    * cluster (the vector's nAssign-th cluster living under an
    * unprobed coarse cell) — a THRESHOLD-DEPENDENT trade: near-dup
    * pairs (cos ≳ 0.9) route together and lose ≈ nothing (spec
    * floor ≥ 0.9 on planted near-copies), while borderline-cos pairs
    * route nearly independently and a bare fixed fan-out of 2
    * recovers only ~½ of the flat face's — closed by building the
    * tree with child spill ([[spillFor]]) and probing with the
    * adaptive margin face ([[semanticAssignRoutedAdaptive]]), which
    * [[semanticNearDupPairs]]'s auto-routed path does.
    *
    * The candidate rank is a per-id window over N·nRoute·nAssign
    * small rows; `v` (dim doubles) rides the shuffle — at very large
    * dim, rank on ids alone and semi-join vectors back. */
  def semanticAssignRouted(embs: DataFrame, tree: CentroidTree,
                           nAssign: Int = 2, nRoute: Int = 2,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nRoute >= 1 && nRoute <= tree.coarse.length,
      s"nRoute=$nRoute must be in [1, ${tree.coarse.length}]")
    routedAssignCore(embs, tree, nAssign, minRoute = nRoute,
      maxRoute = nRoute, routeMargin = 0.0, idCol, vecCol)
  }

  /** Threshold-derived sizing for the routed borderline-recall
    * machinery. The geometry: a pair with cos ≥ t has ‖u−w‖ ≤
    * δ(t) = √(2−2t) on unit vectors, so every recall device scales
    * with δ; the CONSTANT (δ/4) is MEASURED, not derived (coarse-dot
    * spreads are data/dim-dependent, so a pure geometric δ/2 would
    * replicate everything):
    *  - borderline (t = 0.45, spill ≈ 0.26): on the isotropic dim-16
    *    fixtures (20k–80k vectors, k = N/128, 2% planted borderline
    *    pairs) and the sf0.1 embeddings, ~2 average probes recover
    *    0.82–0.94 of the flat face's pairs (vs 0.30–0.54 unspilled
    *    fixed-2) — the RoutedAssignSpec ≥ 0.8 borderline floor;
    *  - SemDeDup regime (t = 0.9, spill ≈ 0.11): at the 10× routed
    *    fixture (200k vectors, k = 1562 — the scale where the product
    *    face actually auto-routes) recall vs flat measures 0.887 at
    *    ×3.4 slot inflation. A (1−t)-proportional sizing (spill 0.04,
    *    ×1.7) measured 0.820 there — BELOW the 0.85 the product face
    *    owes, because pairs AT the threshold are always boundary
    *    pairs relative to it, whatever the threshold — which is why
    *    the sizing follows δ, and why ScalingSpec carries a 10×
    *    recall probe and not just slope fits.
    * The cost is child-slot inflation, and it GROWS with the
    * coarse-cell count at a fixed margin (measured ×3.7 / ×5.2 / ×7.0
    * at 13 / 25 / 40 cells with spill 0.22 — each child replicates
    * into a shrinking FRACTION but a slowly growing number of cells),
    * so the routed advantage over flat is √k / (nRoute·inflation) —
    * still diverging, but watch the constant at very large k. */
  def spillFor(minCosine: Double): Double =
    0.25 * math.sqrt(math.max(0.0, 2.0 - 2.0 * minCosine))

  /** Adaptive probe margin, sized as δ(t)/8 (see [[spillFor]] for why
    * not the geometric δ/2 — at embedding dims the coarse dots pack
    * within ~±0.1, so δ/2 would probe every cell): measured +0.02–0.04
    * recall for +0.3 average probes on top of the spilled tree. */
  def routeMarginFor(minCosine: Double): Double =
    0.125 * math.sqrt(math.max(0.0, 2.0 - 2.0 * minCosine))

  /** The adaptive scale face of [[semanticAssignRouted]]: instead of a
    * FIXED probe count, each vector probes its nearest coarse cell
    * plus every cell whose coarse dot is within `routeMargin` of the
    * best (at least `minRoute`, at most `maxRoute`; 0 = #coarse).
    * Vectors deep inside a Voronoi cell pay 1–2 probes; only the
    * boundary vectors — exactly the ones whose pairs a fixed fan-out
    * loses — fan wider, so the AVERAGE probe count stays near
    * `minRoute`. Together with a [[spillFor]]-spilled tree (which
    * carries most of the borderline recall) this is how
    * [[semanticNearDupPairs]]' auto-routed path holds the ≥ 0.8
    * borderline floor at ≈ 2 average probes (RoutedAssignSpec;
    * margin sizing on [[routeMarginFor]]). Deterministic given
    * (tree, margin); with
    * margin ≥ 2 (the dot range) and maxRoute = 0 it degenerates to
    * the full-fan-out face and hence to flat assignment. */
  def semanticAssignRoutedAdaptive(embs: DataFrame, tree: CentroidTree,
                                   nAssign: Int = 2, routeMargin: Double = 0.3,
                                   minRoute: Int = 1, maxRoute: Int = 0,
                                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(routeMargin >= 0.0, s"routeMargin=$routeMargin must be >= 0")
    require(minRoute >= 1, s"minRoute=$minRoute must be >= 1")
    val effMax =
      if (maxRoute <= 0) tree.coarse.length
      else math.min(math.max(maxRoute, minRoute), tree.coarse.length)
    routedAssignCore(embs, tree, nAssign,
      minRoute = math.min(minRoute, tree.coarse.length),
      maxRoute = effMax, routeMargin = routeMargin, idCol, vecCol)
  }

  /** The probed coarse-cell ids for one (normalized) vector column:
    * the top-`maxRoute` coarse dots, margin-filtered — entry i
    * survives when i < `minRoute` (the guaranteed floor) or its dot
    * is within `routeMargin` of the best. With minRoute == maxRoute
    * this is exactly the fixed-fan-out probe set; codegen'd either
    * way. ONE definition shared by the assignment and the probe-count
    * monitor, so the measured cost is the paid cost. */
  private def probeCellsCol(spark: org.apache.spark.sql.SparkSession,
                            v: Column, coarseFlat: Column,
                            minRoute: Int, maxRoute: Int,
                            routeMargin: Double): Column = {
    val arr = graft.functions.Native.topDotNative(spark, v, coarseFlat, maxRoute)
    if (minRoute == maxRoute) arr.getField("list")
    else {
      val bestDot = element_at(arr, 1).getField("dot")
      filter(arr, (e, i) =>
        i < lit(minRoute) ||
          e.getField("dot") >= bestDot - lit(routeMargin))
        .getField("list")
    }
  }

  /** Per-vector probe counts of [[semanticAssignRoutedAdaptive]] —
    * `id, n_probes` — the cost monitor for the adaptive fan-out: its
    * mean is the average per-vector coarse-probe multiplier (the
    * thing the margin is sized to keep near `minRoute`), and its tail
    * shows how many boundary vectors fan wide. Same expression as the
    * assignment itself, so this IS the paid probe count. */
  def routedProbeCounts(embs: DataFrame, tree: CentroidTree,
                        routeMargin: Double, minRoute: Int = 1,
                        maxRoute: Int = 0,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = embs.sparkSession
    val effMax =
      if (maxRoute <= 0) tree.coarse.length
      else math.min(math.max(maxRoute, minRoute), tree.coarse.length)
    normalized(embs, idCol, vecCol, "id", "v")
      .select(col("id"),
        size(probeCellsCol(spark, col("v"), lit(tree.coarse.flatten),
          math.min(minRoute, tree.coarse.length), effMax, routeMargin))
          .as("n_probes"))
  }

  private def routedAssignCore(embs: DataFrame, tree: CentroidTree,
                               nAssign: Int, minRoute: Int, maxRoute: Int,
                               routeMargin: Double,
                               idCol: String, vecCol: String): DataFrame = {
    require(nAssign >= 1, s"nAssign=$nAssign must be >= 1")
    val spark = embs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val coarseFlat = lit(tree.coarse.flatten)
    // every coarse cell has children (the tree-build invariant), so
    // this inner join can never drop a routed vector
    val cells = tree.childIds.indices
      .map(c => (c, tree.childIds(c).toSeq, tree.childFlat(c).toSeq))
      .toDF("_cc", "_cids", "_cflat")
    val probeCells = probeCellsCol(spark, col("v"), coarseFlat,
      minRoute, maxRoute, routeMargin)
    val cand = normalized(embs, idCol, vecCol, "id", "v")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"), col("v"), explode(probeCells).as("_cc"))
      .join(broadcast(cells), Seq("_cc"))
      .select(col("id"), col("v"), col("_cids"),
        explode(graft.functions.Native.topDotNative(spark, col("v"), col("_cflat"), nAssign))
          .as("_e"))
      .select(col("id"), col("v"),
        element_at(col("_cids"), col("_e.list") + 1).as("cluster"),
        col("_e.dot").as("_dot"))
    // a SPILLED tree can surface the same replica from two probed
    // cells — collapse duplicates before the rank, or a replicated
    // cluster would occupy two nAssign slots. The duplicate rows are
    // VALUE-IDENTICAL (same vector, same child, hence same dot), so
    // a plain distinct() is a correct, deterministic dedup (and keeps
    // the plan free of first()-style nondeterminism that would break
    // exceptAll-based law checks); unspilled trees skip the exchange
    val deduped = if (tree.slots > tree.k) cand.distinct() else cand
    val w = Window.partitionBy("id").orderBy(col("_dot").desc, col("cluster"))
    deduped.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= nAssign)
      .select(col("id"), col("v"), col("cluster"))
  }

  /** Exact-cosine near-dup pairs within the shared cells of an
    * assignment table ([[semanticAssign]] output, typically
    * parquet-loaded): `a, b, csim` with a < b, each pair once
    * (max-over-cells dedup — per-cell scores are identical, so the
    * dedup is value-deterministic). [[semanticNearDupPairs]] is this
    * over a freshly-built table, so the faces cannot drift. */
  def semanticPairsFromIndex(index: DataFrame, minCosine: Double): DataFrame = {
    val spark = index.sparkSession
    val l = index.select(col("cluster"), col("id").as("a"), col("v").as("va"))
    val r = index.select(col("cluster"), col("id").as("b"), col("v").as("vb"))
    l.join(r, Seq("cluster")).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        graft.functions.Native.dotNative(spark, col("va"), col("vb")).as("csim"))
      .where(col("csim") >= minCosine)
      .groupBy("a", "b").agg(max(col("csim")).as("csim"))
  }

  /** Incremental semantic dedup for one ingest batch: the pairs that
    * involve AT LEAST ONE batch vector, computed as batch-assignments
    * × full-index within shared cells — cost ∝ |batch| · occupancy ·
    * nAssign², never a corpus re-score. `allIndex` must already
    * contain the batch rows (assign the batch, append, then call with
    * the union — the [[graft.streaming.ContinuousIngest]] order).
    * Law (`check_semantic_append`): old pairs ⊎ these new pairs ==
    * the one-shot pairs over the full corpus, exactly — nightly
    * ingest loses nothing vs a rebuild. Both orientations of a pair
    * arise when both endpoints are new (and per-pair once per shared
    * cell); the same max-dedup as [[semanticPairsFromIndex]] collapses
    * them, value-deterministically. */
  def semanticNewPairs(batchIndex: DataFrame, allIndex: DataFrame,
                       minCosine: Double): DataFrame = {
    val spark = batchIndex.sparkSession
    val l = batchIndex.select(col("cluster"), col("id").as("na"), col("v").as("va"))
    val r = allIndex.select(col("cluster"), col("id").as("nb"), col("v").as("vb"))
    l.join(r, Seq("cluster")).where(col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"),
        graft.functions.Native.dotNative(spark, col("va"), col("vb")).as("csim"))
      .where(col("csim") >= minCosine)
      .groupBy("a", "b").agg(max(col("csim")).as("csim"))
  }

  /** Per-cell occupancy drift between a REFERENCE assignment table
    * and a RECENT one (any `cellCol, …` shape — [[ivfAssign]]'s
    * `list`, [[semanticAssign]]'s `cluster`): per-cell counts,
    * occupancy-share deltas, and the total-variation distance of the
    * two occupancy distributions. The embedding twin of the
    * token-level `corpus_drift` monitor, and the STALENESS SIGNAL the
    * train-once quantizer lifecycle otherwise lacks: the quantizers
    * ([[ivfCentroids]]/[[pqTrain]]) are fixed at bootstrap, so when
    * the corpus distribution moves, recall decays silently — but cell
    * occupancy IS the quantizer's view of the distribution, so its
    * TVD against the bootstrap-era index rises exactly when the fixed
    * Voronoi geometry stops fitting (0 for identically-distributed
    * batches, → 1 as mass concentrates in cells the bootstrap rarely
    * saw). When the monitor trips, schedule a re-train + rebuild; the
    * threshold is deployment policy (`check_index_drift` pins that a
    * planted shift trips 0.2 while stationary batches stay under it,
    * and that identical tables score exactly 0).
    *
    * Arithmetic is the shared exact-TVD plumbing
    * ([[graft.ops.Drift.withExactTvd]] — ONE definition with the
    * token-level `corpus_drift` monitor): exact decimal-widened
    * integers with one final double division, so the result is
    * deterministic and cross-engine reproducible.
    * Cost: two metadata-sized groupBys over the assignment tables
    * (cells rows out — nlist ∝ √N); empty inputs fail loudly (a
    * drift of nothing is a monitoring bug, not a 0).
    *
    * Output: `cell, cnt_ref, cnt_new, share_delta, tvd` (one row per
    * cell seen by either side; tvd repeated — the report shape of
    * `corpus_drift`). */
  def occupancyDrift(ref: DataFrame, recent: DataFrame,
                     cellCol: String = "cluster"): DataFrame =
    occupancyDriftFromCounts(
      ref.groupBy(col(cellCol).as("cell")).agg(count(lit(1)).as("cnt_ref")),
      recent.groupBy(col(cellCol).as("cell")).agg(count(lit(1)).as("cnt_new")))

  /** [[occupancyDrift]] over PRE-AGGREGATED per-cell counts —
    * `refCnt: (cell, cnt_ref)`, `newCnt: (cell, cnt_new)` — for
    * callers whose reference era is a persisted count snapshot rather
    * than a row table (the compaction-proof
    * [[graft.streaming.ContinuousIngest.indexDrift]] face). Same
    * join/arithmetic/output as the row face, so the two cannot
    * drift. */
  def occupancyDriftFromCounts(refCnt: DataFrame, newCnt: DataFrame): DataFrame = {
    val j = refCnt.join(newCnt, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("cnt_ref"), lit(0L)).as("cnt_ref"),
        coalesce(col("cnt_new"), lit(0L)).as("cnt_new"))
    Drift.withExactTvd(j, "cnt_ref", "cnt_new")
      .select(col("cell"), col("cnt_ref"), col("cnt_new"),
        round(col("cnt_ref").cast("double") / col("_ta").cast("double")
          - col("cnt_new").cast("double") / col("_tb").cast("double"), 6)
          .as("share_delta"),
        round(col("_tvd"), 6).as("tvd"))
  }

  /** Hyperplane component h(i,b) ∈ [−0.5, 0.5): identical bits to the
    * Column expression
    * `pmod(xxhash64(i, b, seed), 2^32)/2^32 − 0.5` — xxhash64's chained
    * seeding (seed 42 → hashInt(i) → hashInt(b) → hashLong(seed)) is
    * reproduced via the same `XXH64` statics Spark's expression calls,
    * and Pmod/cast/divide/subtract are re-done in the same IEEE order. */
  private def hyperplane(dim: Int, bit: Int, seed: Long): Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val m = 1L << 32
    Array.tabulate(dim) { i =>
      var h = XXH64.hashInt(i, 42L)
      h = XXH64.hashInt(bit, h)
      h = XXH64.hashLong(seed, h)
      val r0 = h % m
      val r = if (r0 < 0) r0 + m else r0
      r.toDouble / m.toDouble - 0.5
    }
  }

  /** Bucket-count rule for the random-hyperplane ANN paths. Candidate
    * cost is Σ_b |bucket_b|² ≈ N²/2^nBits for balanced buckets, so a
    * FIXED nBits makes the join quadratic in corpus size — fine at one
    * SF, a scale-killer at 100×. Holding per-bucket occupancy near
    * `targetOccupancy` (nBits = ⌈log2(N/target)⌉) keeps the join cost
    * ≈ N·targetOccupancy — linear in N. Clamped to [2, 24]: fewer than
    * 4 buckets defeats the point, and 2^24 buckets serves corpora up
    * to ~10^9 vectors at the default occupancy (past that, raise
    * `targetOccupancy` consciously — occupancy, not bit count, is the
    * cost knob). The query layer derives nBits from `df.count()` so
    * the same query stays linear from sf0.001 to 100 TB. */
  def nBitsFor(n: Long, targetOccupancy: Long = 64L): Int = {
    require(n > 0, "corpus size must be positive")
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val raw = math.ceil(
      math.log(n.toDouble / targetOccupancy.toDouble) / math.log(2.0)).toInt
    math.min(24, math.max(2, raw))
  }

  /** List-count rule for [[annIvf]]: the classic √N balance between
    * assignment cost (N·nlist dot products) and probe cost
    * (N·nprobe·N/nlist candidate pairs) — equal at nlist ≈ √(nprobe·N).
    * Clamped to [16, 1024]: the driver-side training sample scales
    * with nlist ([[trainSampleFor]] — 8 sampled vectors anchor every
    * list); beyond ~10^6 vectors the per-list size grows linearly
    * again, which stays tractable because the candidate join is
    * list-partitioned (raise the cap if a corpus demands finer
    * lists — the sample follows automatically). */
  def nlistFor(n: Long, nprobe: Int = 4): Int = {
    require(n > 0, "corpus size must be positive")
    val raw = math.ceil(math.sqrt(nprobe.toDouble * n.toDouble)).toInt
    math.min(1024, math.max(16, raw))
  }

  /** Random-hyperplane bucket id: `nBits` sign bits of projections
    * onto seeded pseudo-random hyperplanes — deterministic, no
    * training, identical on every executor. The hyperplanes depend only
    * on (dim, bit, seed), so they are materialized ONCE on the driver
    * and shipped as literal arrays: the per-row work is one codegen'd
    * [[graft.functions.DotProduct]] per bit, not an interpreted
    * `aggregate(zip_with(...))` fold (bit-identical results — same
    * hash bits, same IEEE accumulation order; pinned by NativeSpec). */
  def rpBucket(vec: Column, dim: Int, nBits: Int, seed: Long): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    val bits = (0 until nBits).map { b =>
      val proj = graft.functions.Native.dotNative(spark, vec, lit(hyperplane(dim, b, seed)))
      when(proj > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Multi-probe bucket ids: the vector's own bucket plus every
    * bucket at Hamming distance 1 (flip each of the nBits sign bits).
    * Fixes the singleton-bucket recall hole of plain LSH at the cost
    * of (nBits+1)x probe rows — still ∝ collisions, never all-pairs. */
  def rpBucketsMultiProbe(vec: Column, dim: Int, nBits: Int, seed: Long): Column = {
    val own = rpBucket(vec, dim, nBits, seed)
    array((own +: (0 until nBits).map(b => own.bitwiseXOR(lit(1L << b)))): _*)
  }

  /** Approximate NN with multi-probe: probe side explodes its
    * (nBits+1) candidate buckets, build side keeps its own bucket;
    * every pair within Hamming distance 1 of each other's buckets is
    * scored. `vec_id, nn_id, rank`.
    *
    * The probed buckets are pairwise distinct and the build side has
    * exactly one bucket per vector, so each (vec, nn) pair is scored
    * at most once — no dedup before ranking, and k=1 ranks via the
    * map-side max_by aggregate (no wide shuffle of the candidates). */
  def annMultiProbe(embs: DataFrame, k: Int, dim: Int, nBits: Int, seed: Long = 42L,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    queryPred: Column = lit(true)): DataFrame = {
    val spark = embs.sparkSession
    val base = normalized(embs, idCol, vecCol, "id", "v")
      .repartition(spark.sparkContext.defaultParallelism)
    val probe = normalized(embs.where(queryPred), idCol, vecCol, "id", "v")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"), col("v"),
        explode(rpBucketsMultiProbe(col("v"), dim, nBits, seed)).as("bucket"))
    val build = base.select(col("id").as("nn_id"), col("v").as("vb"),
      rpBucket(col("v"), dim, nBits, seed).as("bucket"))
    val scored = probe.join(build, Seq("bucket"))
      .where(col("id") =!= col("nn_id"))
      .select(col("id").as("vec_id"), col("nn_id"),
        graft.functions.Native.dotNative(spark, col("v"), col("vb")).as("cos"))
    topKByCos(scored, k)
  }

  /** Approximate NN via random-hyperplane buckets: joins only within
    * buckets; `vec_id, nn_id, rank` (rank within bucket). Vectors in
    * singleton buckets produce no rows (trade-off of the scale path —
    * [[annMultiProbe]] closes that hole). */
  def annBucketed(embs: DataFrame, k: Int, dim: Int, nBits: Int, seed: Long = 42L,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  queryPred: Column = lit(true)): DataFrame = {
    val spark = embs.sparkSession
    def prep(df: DataFrame): DataFrame =
      normalized(df, idCol, vecCol, "id", "v")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("bucket", rpBucket(col("v"), dim, nBits, seed))
    val probe = prep(embs.where(queryPred))
    val build = prep(embs)
    val scored = probe.as("l").join(build.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.id") =!= col("r.id"))
      .select(col("l.id").as("vec_id"), col("r.id").as("nn_id"),
        graft.functions.Native.dotNative(spark, col("l.v"), col("r.v")).as("cos"))
    topKByCos(scored, k)
  }

  // ---- int8 scalar quantization ---------------------------------

  case class QuantVec(vec_id: Long, qmin: Float, qmax: Float, codes: Array[Byte])
  case class DequantVec(vec_id: Long, vec: Array[Float])

  /** Int8 scalar quantization of an embedding column — the 4× memory/
    * IO compression an ANN candidate store runs at 100 TB scale (a
    * billion 768-dim float32 vectors are 3 TB; int8 codes are 768 GB
    * and fit hot tiers the floats don't). Per-vector affine code:
    * `code = round((v − qmin)/(qmax − qmin)·254) − 127 ∈ [−127, 127]`,
    * reconstruction `v̂ = qmin + (code + 127)/254·(qmax − qmin)`, so
    * max error is half a step, `(qmax − qmin)/508` (`check_quantize`
    * pins this law plus the code range and exact constant-vector
    * roundtrip). Arithmetic is double (exact from float32 inputs, same
    * IEEE result in DuckDB — the `quantize_codes` oracle recomputes
    * every code cross-engine). Empty vectors fail loudly. */
  def quantizeInt8(embs: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    embs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        if (v.isEmpty) sys.error(s"quantizeInt8: empty vector for $idCol=$id")
        var mn = v(0); var mx = v(0)
        var i = 1
        while (i < v.length) {
          if (v(i) < mn) mn = v(i)
          if (v(i) > mx) mx = v(i)
          i += 1
        }
        val span = mx.toDouble - mn.toDouble
        val codes = new Array[Byte](v.length)
        if (span > 0) {
          i = 0
          while (i < v.length) {
            codes(i) = (math.round(
              (v(i).toDouble - mn.toDouble) / span * 254.0) - 127L).toByte
            i += 1
          }
        }
        QuantVec(id, mn, mx, codes)
      }.toDF()
  }

  /** Exact integer summary of the code stream for cross-engine
    * verification: `vec_id, dim, code_sum, code_wsum` (plain and
    * 1-based position-weighted sums — together they pin both code
    * values and their positions). Computed in the same typed pass as
    * the quantizer; note `codes` lands in SQL as BINARY (1 byte per
    * code — the compact storage face), which array functions don't
    * touch. */
  def quantizeCodeSums(embs: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    quantizeInt8(embs, idCol, vecCol).as[QuantVec]
      .map { q =>
        var s = 0L; var ws = 0L; var i = 0
        while (i < q.codes.length) {
          val c = q.codes(i).toLong
          s += c; ws += (i + 1) * c
          i += 1
        }
        (q.vec_id, q.codes.length.toLong, s, ws)
      }.toDF("vec_id", "dim", "code_sum", "code_wsum")
  }

  /** Inverse of [[quantizeInt8]]: `vec_id, vec` with
    * `v̂ᵢ = qmin + (codeᵢ + 127)/254·(qmax − qmin)` narrowed to
    * float. */
  def dequantizeInt8(quants: DataFrame): DataFrame = {
    val spark = quants.sparkSession
    import spark.implicits._
    quants.select(col("vec_id"), col("qmin"), col("qmax"), col("codes"))
      .as[QuantVec]
      .map { q =>
        val span = q.qmax.toDouble - q.qmin.toDouble
        DequantVec(q.vec_id, q.codes.map(c =>
          (q.qmin.toDouble + (c.toDouble + 127.0) / 254.0 * span).toFloat))
      }.toDF()
  }

  // ---- Product quantization (PQ) + asymmetric distance (ADC) ----
  //
  // Jégou/Douze/Schmid 2011 ("Product quantization for nearest
  // neighbor search", IEEE TPAMI 33(1)): split the dim-dimensional
  // space into m subspaces of dsub = dim/m dims, quantize each
  // subspace independently to ksub centroids, and store each vector
  // as m code BYTES. A query never decodes the corpus: it builds one
  // m·ksub lookup table of subspace dot products, and scoring a
  // candidate is m table reads ([[graft.functions.PqAdc]], codegen'd).
  // At 100 TB the point is memory traffic: a 64-dim float corpus is
  // 256 B/vector; its PQ codes are m = 8 bytes — the candidate table
  // that streams through the scoring join shrinks 32×, and the
  // per-pair work drops from dim mul-adds to m loads.

  /** Normalize a float vector to unit length in doubles —
    * bit-identical to the `normalized` Column formulation (same
    * sequential sum order, then one sqrt and per-element divide), so
    * typed-map PQ stages and expression-based exact stages agree to
    * the last ulp (the `check_pq_adc` parity laws rely on this). */
  private def normalizeUnit(v: Array[Float]): Array[Double] = {
    val d = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { d(i) = v(i).toDouble; i += 1 }
    var s = 0.0
    i = 0
    while (i < v.length) { s += d(i) * d(i); i += 1 }
    val nrm = math.sqrt(s)
    // the `normalized` Column face fails loudly on zero/NaN norms too
    // — NaN components would poison every (cos desc, id) sort's strict
    // weak order ("Comparison method violates its general contract");
    // !(NaN > 0) is true on the JVM, so this rejects NaN as well
    if (!(nrm > 0)) sys.error(
      s"normalizeUnit: zero-norm or NaN embedding (dim ${v.length})")
    i = 0
    while (i < v.length) { d(i) = d(i) / nrm; i += 1 }
    d
  }

  /** PQ codebooks: `books(j)(c)` = centroid `c` (dsub doubles) of
    * subspace `j`, trained by farthest-first traversal
    * ([[graft.ops.Fft.seqFFTVec]]) over the subspace slices of a
    * deterministic driver-sized sample (sorted by id) of the
    * NORMALIZED vectors — the same train-once/add-many discipline as
    * [[ivfCentroids]]: re-training moves every cell boundary, so a
    * maintained code table keeps its original books. `dim` must be a
    * multiple of `m`; ksub ≤ 256 so a code fits one unsigned byte. */
  def pqTrain(embs: DataFrame, m: Int, ksub: Int, sampleSize: Int = 0,
              idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val sample = embs.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy("id").limit(trainSampleFor(ksub, sampleSize))
      .select("v").collect()
      .map(r => normalizeUnit(r.getSeq[Float](0).toArray))
    pqTrainFromSample(sample, m, ksub)
  }

  /** [[pqTrain]]'s driver half over an ALREADY-COLLECTED normalized
    * sample — shared with [[trainIvfPq]], which feeds both quantizer
    * trains from ONE collect. */
  private def pqTrainFromSample(sample: Array[Array[Double]], m: Int,
                                ksub: Int): Array[Array[Array[Double]]] = {
    require(ksub >= 1 && ksub <= 256, s"ksub=$ksub must fit an unsigned byte")
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"pqTrain: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      graft.ops.Fft.seqFFTVec(sample.map(v => v.slice(j * dsub, (j + 1) * dsub)), ksub)
    }
  }

  /** Both IVFADC quantizers from ONE driver collect (guide §5: the
    * driver barriers, not the bytes, bound the one-shot faces at
    * bench scale — each train used to collect its own sorted-by-id
    * prefix of the SAME normalized corpus). The longer prefix's head
    * IS the shorter sample (ids are a deterministic total order), and
    * the `normalized` Column path and driver [[normalizeUnit]] are
    * IEEE-identical double chains (same cast→dot→sqrt→divide order),
    * so centroids AND codebooks are bit-identical to the two-collect
    * formulation. Callers that supply both arrays skip the collect
    * entirely (the train-once lifecycle). */
  private def trainIvfPq(embs: DataFrame, nlist: Int, m: Int, ksub: Int,
                         sampleSize: Int, idCol: String, vecCol: String,
                         centroids: Option[Array[Array[Double]]],
                         books: Option[Array[Array[Array[Double]]]])
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    (centroids, books) match {
      case (Some(c), Some(b)) => (c, b)
      case _ =>
        val nIvf = cappedTrainRows(embs, nlist, sampleSize, vecCol)
        val nPq = trainSampleFor(ksub, sampleSize)
        val sample = normalized(embs, idCol, vecCol, "id", "v")
          .orderBy("id").limit(math.max(nIvf, nPq))
          .select("v").collect().map(_.getSeq[Double](0).toArray)
        (centroids.getOrElse(
            graft.ops.Fft.seqFFTVec(sample.take(nIvf), nlist)),
         books.getOrElse(pqTrainFromSample(sample.take(nPq), m, ksub)))
    }

  /** Row-major flat layout of the codebooks (subspace j, centroid c,
    * component t) — the literal the LUT builder and reconstruction
    * share. */
  private def flatBooks(books: Array[Array[Array[Double]]]): Array[Double] =
    books.flatMap(_.flatMap(identity))

  /** PQ codebook table ↔ driver array round trip — the persistence
    * face ([[centroidsToDF]]'s twin for the sub-quantizers): one row
    * per (subspace, centroid), `j, c, v`. Write beside the code table;
    * [[booksFromDF]] restores the exact nested layout (order by (j, c)
    * — lossless, like the centroid round trip). */
  def booksToDF(spark: org.apache.spark.sql.SparkSession,
                books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for {
      (sub, j) <- books.zipWithIndex
      (cent, c) <- sub.zipWithIndex
    } yield (j, c, cent.toSeq)).toSeq.toDF("j", "c", "v")
  }

  def booksFromDF(df: DataFrame): Array[Array[Array[Double]]] =
    df.select("j", "c", "v").collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))

  case class PqCodeRow(vec_id: Long, codes: Array[Byte], codes_arr: Array[Int], rerr: Double)

  /** PQ-encode the corpus under FIXED codebooks: `vec_id, codes
    * (binary, m bytes — the storage/scoring face), codes_arr
    * (array<int> twin for the HOF parity oracle in `check_pq_adc`),
    * rerr` = ‖x − x̂‖ (reconstruction error of the normalized vector;
    * since queries are unit length, |⟨q,x⟩ − adc(q,codes)| ≤ rerr —
    * the Cauchy–Schwarz bound `check_pq_adc` audits per pair).
    * Per subspace the code is the argmin-‖·‖² centroid, lowest index
    * on exact ties — deterministic given the books, so appending
    * per-batch code tables equals a rebuild over the union (the
    * [[ivfAssign]] lifecycle). A typed map, like [[quantizeInt8]]:
    * encoding is a build-time corpus pass (m·ksub·dsub mul-adds per
    * row, no shuffle), not the query hot path. */
  def pqEncode(embs: DataFrame, books: Array[Array[Array[Double]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val m = books.length
    val dsub = books.head.head.length
    val bks = books // stable local for the closure (no outer capture)
    embs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, vf) =>
        if (vf.length != m * dsub) sys.error(
          s"pqEncode: dim ${vf.length} != m*dsub ${m * dsub} for $id")
        val v = normalizeUnit(vf)
        val codes = new Array[Byte](m)
        val codesArr = new Array[Int](m)
        var errSq = 0.0
        var j = 0
        while (j < m) {
          val cb = bks(j)
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cb.length) {
            var dsq = 0.0; var t = 0
            while (t < dsub) {
              val diff = v(j * dsub + t) - cb(c)(t)
              dsq += diff * diff
              t += 1
            }
            if (dsq < bestD) { bestD = dsq; best = c }
            c += 1
          }
          codes(j) = best.toByte
          codesArr(j) = best
          errSq += bestD
          j += 1
        }
        PqCodeRow(id, codes, codesArr, math.sqrt(errSq))
      }.toDF()
  }

  /** Per-query ADC lookup tables under the same books: `vec_id, qv
    * (normalized query), lut` with `lut[j·ksub + c] = ⟨q_j, books(j)(c)⟩`
    * (inner-product tables — corpus vectors are unit-normalized, so
    * ADC approximates cosine). m·ksub·dsub mul-adds per QUERY row,
    * done once; scoring a candidate then costs m loads regardless of
    * dim. Typed map over the (small) query batch. */
  def pqQueryLuts(queries: DataFrame, books: Array[Array[Array[Double]]],
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val m = books.length
    val ksub = books.head.length
    val dsub = books.head.head.length
    val bks = books
    queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, vf) =>
        if (vf.length != m * dsub) sys.error(
          s"pqQueryLuts: dim ${vf.length} != m*dsub ${m * dsub} for $id")
        val q = normalizeUnit(vf)
        val lut = new Array[Double](m * ksub)
        var j = 0
        while (j < m) {
          val cb = bks(j)
          var c = 0
          while (c < ksub) {
            var s = 0.0; var t = 0
            while (t < dsub) { s += q(j * dsub + t) * cb(c)(t); t += 1 }
            lut(j * ksub + c) = s
            c += 1
          }
          j += 1
        }
        (id, q, lut)
      }.toDF("vec_id", "qv", "lut")
  }

  /** PQ-ADC ANN: top-k by asymmetric-distance score — the corpus as
    * m-byte codes, each query as one m·ksub LUT, scoring in the
    * codegen'd [[graft.functions.PqAdc]] loop, ranked/tie-broken by
    * [[topKByCos]] exactly like every other ANN face (the ADC score
    * stands in the `cos` slot). `queryPred` bounds the QUERY side;
    * the corpus side is the code table — at scale the query batch
    * (with LUTs) broadcasts and the code stream never materializes
    * floats. `books` from one [[pqTrain]] call when composing with
    * the check laws, so the quantizer trains once.
    *
    * `rerank > 0` is the production IVFADC-with-refinement shape
    * (Jégou et al. §V): the compressed scan shortlists the ADC
    * top-`rerank` per query, then ONLY those nq·rerank rows join back
    * to the float corpus for exact cosine — so the full corpus streams
    * as m-byte codes and float reads are proportional to the answer,
    * not the corpus. Lossy codes decide the SHORTLIST; exact scores
    * decide the ANSWER — on an isotropic corpus that lifts ε-recall@1
    * from ~0.5 (pure ADC, 8-byte codes) to ≥ 0.99 at rerank=32.
    * `rerank = 0` returns the pure-ADC ranking (the face the
    * Cauchy–Schwarz law audits). */
  def annPq(embs: DataFrame, k: Int, m: Int = 8, ksub: Int = 16,
            sampleSize: Int = 0, rerank: Int = 0,
            idCol: String = "vec_id", vecCol: String = "embedding",
            queryPred: Column = lit(true),
            books: Option[Array[Array[Array[Double]]]] = None,
            precomputedCodes: Option[DataFrame] = None): DataFrame = {
    val spark = embs.sparkSession
    val bks = books.getOrElse(pqTrain(embs, m, ksub, sampleSize, idCol, vecCol))
    // precomputedCodes: a pqEncode output under the SAME books (the
    // maintained code table, or a scratch copy shared across faces) —
    // skips the full-corpus encode pass, the costliest PQ build step
    val codes = precomputedCodes
      .getOrElse(pqEncode(embs, bks, idCol, vecCol))
      .select(col("vec_id").as("nn_id"), col("codes"))
      .repartition(spark.sparkContext.defaultParallelism)
    val luts = pqQueryLuts(embs.where(queryPred), bks, idCol, vecCol)
      .select(col("vec_id"), col("lut"))
    val scored = codes.join(broadcast(luts), col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        graft.functions.Native.pqAdcNative(spark, col("codes"), col("lut")).as("cos"))
    if (rerank <= 0) topKByCos(scored, k)
    else rerankExact(scored, embs, k, rerank, idCol, vecCol, queryPred)
  }

  /** Exact-cosine refinement of a lossy candidate ranking: keep the
    * approximate top-`rerank` per query, join ONLY those nq·rerank
    * rows back to the float corpus, score exactly, return the true
    * top-k of the shortlist — float reads ∝ answer, not corpus.
    *
    * The shortlist is a bounded [[graft.functions.TopKByCosAgg]]
    * aggregate, NOT a rank window: the candidate stream (N·nprobe·
    * occupancy rows for IVFADC with every vector querying) partially
    * aggregates map-side to ≤ rerank entries per query before the
    * shuffle, where a window would shuffle and sort every candidate
    * (measured 78 s → 8 s on the 10× scaling fixture, byte-identical
    * answers — the total order (cos desc, nn_id asc) admits exactly
    * one top-k set, pinned on planted ties in NativeFunctionsSpec).
    * Rank semantics aren't needed here — the exact re-score assigns
    * the final order. */
  private def rerankExact(scored: DataFrame, embs: DataFrame, k: Int,
                          rerank: Int, idCol: String, vecCol: String,
                          queryPred: Column): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be ≥ k=$k")
    val topk = udaf(new graft.functions.TopKByCosAgg(rerank))
    val shortlist = scored.groupBy("vec_id")
      .agg(topk(col("nn_id"), col("cos")).as("tk"))
      .select(col("vec_id"), explode(col("tk")).as("e"))
      .select(col("vec_id"), col("e.nn_id").as("nn_id"))
    exactScoreShortlist(shortlist, embs, k, idCol, vecCol, queryPred)
  }

  /** Exact scoring of a `vec_id, nn_id` shortlist: join the nq·R rows
    * back to the float corpus, one codegen'd dot each, true top-k —
    * the SELF-QUERY rerank of the one-shot faces (`queryPred` slicing
    * `embs`, so queries ARE corpus rows). nq is corpus-sized there, and
    * broadcasting the nq·R shortlist would ship O(N·R) rows to every
    * executor — measured +29% on `ann_pq` at the sf0.1 fixture,
    * unboundedly worse at scale. The shortlist stays the stream side:
    * join the query floats (the side the upstream ADC scan already
    * bounded — every ADC face broadcasts per-query LUTs, so nq is
    * capped by the same memory argument), then the corpus floats
    * unhinted, letting size estimates pick broadcast at fixture scale
    * and shuffle at corpus scale. A stored index reranks from its
    * packed float segments instead ([[annIvfPqGatherRerank]]). */
  private def exactScoreShortlist(shortlist: DataFrame, embs: DataFrame,
                                  k: Int, idCol: String, vecCol: String,
                                  queryPred: Column): DataFrame = {
    val spark = embs.sparkSession
    val q = normalized(embs.where(queryPred), idCol, vecCol, "vec_id", "va")
    val c = normalized(embs, idCol, vecCol, "nn_id", "vb")
    topKByCos(shortlist.join(broadcast(q), "vec_id").join(c, "nn_id")
      .select(col("vec_id"), col("nn_id"),
        graft.functions.Native.dotNative(spark, col("va"), col("vb")).as("cos")), k)
  }

  /** IVFADC (Jégou et al. §V): IVF candidate generation composed with
    * PQ-ADC scoring — the shape a billion-vector deployment actually
    * runs. The index is the join of the two MAINTAINED tables this
    * file already audits (ivfAssign's list assignment ⊎ pqEncode's
    * m-byte codes, both append == rebuild under their persisted
    * quantizers), so a query probes its `nprobe` nearest lists and
    * streams ONLY those lists' codes through the codegen'd ADC loop:
    * candidate cost ∝ N·nprobe/nlist pairs × m bytes each — the
    * corpus's floats are touched only by the final exact rerank
    * (∝ nq·rerank rows). Degenerate law (`check_ivfpq`):
    * nprobe = nlist with rerank = 0 equals [[annPq]]'s pure-ADC
    * ranking exactly — same books ⇒ same codes, LUTs, scores, and
    * tie-breaks. Both quantizers train once (pass `centroids`/`books`
    * to share with other faces). */
  def annIvfPq(embs: DataFrame, k: Int, nlist: Int, nprobe: Int,
               m: Int = 8, ksub: Int = 16, rerank: Int = 0,
               sampleSize: Int = 0,
               idCol: String = "vec_id", vecCol: String = "embedding",
               queryPred: Column = lit(true),
               centroids: Option[Array[Array[Double]]] = None,
               books: Option[Array[Array[Array[Double]]]] = None,
               precomputedCodes: Option[DataFrame] = None): DataFrame = {
    val (cents, bks) = trainIvfPq(embs, nlist, m, ksub, sampleSize,
      idCol, vecCol, centroids, books)
    val index = ivfAssign(embs, cents, idCol, vecCol).select("nn_id", "list")
      .join(precomputedCodes.getOrElse(pqEncode(embs, bks, idCol, vecCol))
        .select(col("vec_id").as("nn_id"), col("codes")), "nn_id")
    annIvfPqFromIndex(index, embs, k, nprobe, cents, bks, rerank,
      idCol, vecCol, queryPred)
  }

  /** IVFADC search against an ASSIGNED index: `index` is the join of
    * the list assignments and PQ codes (`nn_id, list, codes` — e.g.
    * `readTable(ivfPath) ⋈ readTable(pqPath)` from the
    * [[graft.streaming.ContinuousIngest]] lifecycle, under the
    * persisted quantizers), so a search need not re-assign or
    * re-encode the corpus. `embs` supplies the query vectors (rows
    * selected by `queryPred`) and is the rerank float store, so
    * queries are corpus rows here; the maintained serving faces
    * rerank external queries from the packed float segments instead
    * ([[annIvfPqGatherRerank]]). [[annIvfPq]] is exactly this over a
    * freshly-built index, so the faces cannot drift (the
    * ContinuousIngestSpec law compares them through real parquet
    * round trips).
    *
    * `excludeSelf` is the ID-NAMESPACE contract: id equality means
    * SAME DOCUMENT. The default drops a candidate whose id equals
    * the query id (the dedup/self-query convention — a vector must
    * not answer itself). An EXTERNAL query batch whose ids are a
    * separate namespace that may collide with corpus ids must pass
    * `excludeSelf = false`, or a query that happens to share an id
    * with its true nearest corpus row silently loses that answer. */
  def annIvfPqFromIndex(index: DataFrame, embs: DataFrame, k: Int, nprobe: Int,
                        cents: Array[Array[Double]],
                        bks: Array[Array[Array[Double]]], rerank: Int = 0,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        queryPred: Column = lit(true),
                        excludeSelf: Boolean = true): DataFrame = {
    val spark = embs.sparkSession
    if (rerank <= 0) {
      // flat per-candidate scoring — the face the degenerate law
      // compares against annPq row-for-row
      val probe = adcProbe(embs, bks, cents, nprobe, idCol, vecCol, queryPred)
      val scored = probe.join(index, Seq("list"))
        .where(if (excludeSelf) col("vec_id") =!= col("nn_id") else lit(true))
        .select(col("vec_id"), col("nn_id"),
          graft.functions.Native.pqAdcNative(spark, col("codes"), col("lut")).as("cos"))
      topKByCos(scored, k)
    } else {
      require(rerank >= k, s"rerank=$rerank must be ≥ k=$k")
      // FAISS-style list scan: pack each inverted list ONCE (ids in
      // nn_id order beside their concatenated m-byte codes), then one
      // PqAdcTopK call per (query, probed list) row keeps the list's
      // best R+1 in a bounded loop — no 1-row-per-candidate join, so
      // the N·nprobe·occupancy candidate stream never pays per-row
      // join/aggregate machinery (measured 115 s → ~9 s at the 10×
      // scaling fixture, identical answers). The packed table is
      // ~nlist rows ∝ √N — broadcastable until ~10⁹ vectors, a list
      // equi-join beyond. R+1 so a self-hit cannot cost a slot.
      //
      // Skew guard: a packed row is O(|list|·m) bytes, so ONE hot
      // Voronoi cell could blow past single-row/broadcast limits long
      // before the balanced-occupancy estimate says it would. Lists
      // are therefore split into ≤ 64Ki-entry segments (512 KiB of
      // codes at m=8) before packing: a probe row joins every segment
      // of its list, each segment returns its own sorted top-(R+1),
      // and MergeTopKAgg merges them per query exactly like the
      // nprobe list-tops — byte-identical answers (each candidate
      // lives in exactly one segment and the total order is shared).
      // The segment window adds a per-list sort but NO extra shuffle:
      // HashPartitioning(list) already satisfies the (list, _seg)
      // grouping.
      val segSize = 1 << 16
      val segW = org.apache.spark.sql.expressions.Window
        .partitionBy("list").orderBy("nn_id")
      val packed = index
        .withColumn("_seg", ((row_number().over(segW) - 1) / segSize).cast("int"))
        .groupBy("list", "_seg").agg(
          array_sort(collect_list(struct(col("nn_id"), col("codes")))).as("ent"))
        .select(col("list"),
          transform(col("ent"), e => e.getField("nn_id")).as("ids"),
          aggregate(col("ent"), lit(Array.emptyByteArray),
            (acc, e) => concat(acc, e.getField("codes"))).as("packed"))
      exactScoreShortlist(pqPackedShortlist(packed, embs, nprobe, cents, bks,
        rerank, idCol, vecCol, queryPred, excludeSelf),
        embs, k, idCol, vecCol, queryPred)
    }
  }

  /** LUT-carrying probe rows `(vec_id, lut, list)` — one row per
    * (query, probed list), HASH-PARTITIONED BY QUERY ID so the
    * packed-list join (broadcast build side) preserves the
    * partitioning and the per-query merge aggregation runs with NO
    * shuffle. One definition shared by the flat and packed scans so
    * the partitioning trick cannot drift between them. */
  private def adcProbe(embs: DataFrame, bks: Array[Array[Array[Double]]],
                       cents: Array[Array[Double]], nprobe: Int,
                       idCol: String, vecCol: String,
                       queryPred: Column): DataFrame = {
    val spark = embs.sparkSession
    val flat = lit(cents.flatten)
    pqQueryLuts(embs.where(queryPred), bks, idCol, vecCol)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("lut"),
        explode(graft.functions.Native.topDotNative(spark, col("qv"), flat, nprobe)
          .getField("list")).as("list"))
  }

  /** The ADC candidate stage against a packed code-segment table
    * ([[pqPack]]'s layout, or the inline window pack
    * [[annIvfPqFromIndex]] builds for a computed index), stopped at
    * the `(vec_id, nn_id)` shortlist: queries probe their `nprobe`
    * nearest lists, one [[graft.functions.PqAdcTopK]] call per
    * (query, segment) row keeps the segment's ADC-best R+1 in a
    * bounded loop, the shared-order [[graft.functions.MergeTopKAgg]]
    * merges per query, and the self-hit is dropped when
    * `excludeSelf`. Answers are segmentation-independent (each
    * candidate lives in exactly one segment and the total order is
    * shared), so the maintained per-batch `pq_packed` table and the
    * one-shot inline pack shortlist identically — and the maintained
    * face never re-joins or re-packs the corpus-sized code table per
    * query call (before pack-once, every serving batch paid a full
    * index shuffle + window — measured 3.0 s per 100-query batch at a
    * 200k corpus, dominated by the pack).
    *
    * The broadcast is explicit: the packed table is (m + 8)
    * bytes/vector (the ids array costs 8 beside the m-byte code —
    * ~16 GB at 10⁹ vectors and m = 8, past Spark's 8 GB broadcast
    * cap, so the hard wall sits near ~4×10⁸ vectors). Past it the
    * remedy is a NON-broadcast list equi-join or sharding the PACKED
    * table by list range — sharding the query batch does nothing,
    * the index side's size is independent of nq. A stored table's
    * size estimate would let the planner pick broadcast correctly on
    * its own, but the inline-pack caller's estimate is corpus-sized
    * through the join+groupBy lineage, and one shared hint keeps
    * both plans identical. */
  private[graft] def pqPackedShortlist(packed: DataFrame, embs: DataFrame,
                                       nprobe: Int, cents: Array[Array[Double]],
                                       bks: Array[Array[Array[Double]]],
                                       rerank: Int, idCol: String,
                                       vecCol: String, queryPred: Column,
                                       excludeSelf: Boolean): DataFrame = {
    val spark = embs.sparkSession
    val probe = adcProbe(embs, bks, cents, nprobe, idCol, vecCol, queryPred)
    val perList = probe.join(broadcast(packed), Seq("list"))
      .select(col("vec_id"),
        graft.functions.Native.pqAdcTopKNative(spark, col("packed"),
          col("ids"), col("lut"), rerank + 1).as("tk"))
    // merge the nprobe sorted list-tops per query (one aggregator
    // call per LIST row, not per candidate — and shuffle-free under
    // the probe's vec_id partitioning), then drop a self-hit and
    // keep R; order is preserved by the merge, so no re-sort
    val mergeTop = udaf(new graft.functions.MergeTopKAgg(rerank + 1))
    perList.groupBy("vec_id")
      .agg(mergeTop(col("tk")).as("cand"))
      .select(col("vec_id"),
        explode(slice(
          if (excludeSelf)
            filter(col("cand"), e => e.getField("nn_id") =!= col("vec_id"))
          else col("cand"), 1, rerank)).as("e"))
      .select(col("vec_id"), col("e.nn_id").as("nn_id"))
  }

  /** The union of every query's `nprobe` nearest centroid lists — the
    * only lists a candidate can come from, so a stored-index search
    * prunes its packed-segment reads to exactly these. An ACTION over
    * the nq query rows (no corpus scan): bounded by the same serving
    * contract that caps nq. */
  private[graft] def probedLists(queries: DataFrame,
                                 cents: Array[Array[Double]], nprobe: Int,
                                 idCol: String, vecCol: String): Array[Int] = {
    val spark = queries.sparkSession
    val flat = lit(cents.flatten)
    normalized(queries, idCol, vecCol, "id", "v")
      .select(explode(graft.functions.Native.topDotNative(spark, col("v"), flat, nprobe)
        .getField("list")).as("list"))
      .distinct()
      .collect().map(_.getInt(0)).sorted
  }

  /** The reranked IVFADC search of a STORED index, served from the
    * index alone: the ADC shortlist over the packed code segments
    * `codes` ([[pqPackedShortlist]]), rerank floats GATHERED from the
    * packed float segments `floats` ([[ivfPack]]'s layout, which
    * persists [[ivfAssign]]'s unit vectors verbatim —
    * [[graft.functions.Native.gatherVecsNative]], one binary search
    * per candidate id per surviving segment). Queries are EXTERNAL
    * rows (`idCol`, `vecCol`), so no corpus float table is scanned:
    * float reads are candidate-proportional up to scan granularity.
    *
    * EAGER: the shortlist must be known before the gather filter can
    * be built, so this runs the candidate stage at CALL time (one
    * action — nq·rerank id pairs, bounded by the serving contract that
    * already caps nq through the broadcast per-query LUTs) and returns
    * the lazy rerank plan. `probed` is [[probedLists]] at `nprobe`; the
    * gather's `list IN (probed)` filter reaches the parquet scan, and
    * with `spark.sql.parquet.pushdown.inFilterThreshold` raised to ≥
    * the probed-list count (default 10 — serving sessions should set
    * it, as the specs do) parquet's row-group dictionary filter skips
    * segments of unprobed lists.
    *
    * The gathered store is candidate-sized, so both the shortlist and
    * the query floats broadcast onto it and nothing shuffles (PlanSpec
    * pins zero shuffled joins). Skipping re-normalization of the
    * stored unit vectors keeps the answers BYTE-identical to the
    * one-shot self-query rerank: a unit vector re-normalized in
    * floating point moves by an ulp (‖v‖ evaluates to 1.0±ε), which
    * could flip a cosine tie. */
  private[graft] def annIvfPqGatherRerank(codes: DataFrame, floats: DataFrame,
                                          queries: DataFrame, k: Int,
                                          nprobe: Int, probed: Array[Int],
                                          cents: Array[Array[Double]],
                                          bks: Array[Array[Array[Double]]],
                                          rerank: Int, idCol: String,
                                          vecCol: String,
                                          excludeSelf: Boolean): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be ≥ k=$k")
    val spark = queries.sparkSession
    import spark.implicits._
    val pairs = pqPackedShortlist(codes, queries, nprobe, cents, bks,
        rerank, idCol, vecCol, lit(true), excludeSelf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val wanted = pairs.map(_._2).distinct.sorted
    val shortlist = spark.createDataset(pairs.toSeq).toDF("vec_id", "nn_id")
    val store = floats
      .where(col("list").isin(probed.toSeq: _*))
      .select(explode(graft.functions.Native.gatherVecsNative(spark,
        col("packed"), col("ids"), wanted)).as("e"))
      .select(col("e.nn_id").as("nn_id"), col("e.vb").as("vb"))
    val q = normalized(queries, idCol, vecCol, "vec_id", "va")
    topKByCos(store
      .join(broadcast(shortlist), "nn_id")
      .join(broadcast(q), "vec_id")
      .select(col("vec_id"), col("nn_id"),
        graft.functions.Native.dotNative(spark, col("va"), col("vb")).as("cos")), k)
  }
}
