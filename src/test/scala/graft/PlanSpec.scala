package graft

import graft.queries.Tables
import org.apache.spark.sql.functions._

/** Plan-shape checks: the optimizations the engine depends on must be
  * visible in the physical plan (column pruning to the scan, filter
  * pushdown, partial aggregation before shuffle, broadcast for small
  * dims, codegen'd native kernels). Guards against regressions that
  * correctness tests can't see. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("points projection prunes the lineitem scan to 2 columns") {
    val p = plan(Tables.points(spark, sf001))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_extendedprice") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      s"scan not pruned: $readSchema")
  }

  test("filters push down to the parquet scan") {
    val df = Tables.lineitem(spark, sf001).where(col("l_quantity") > 10)
      .select("l_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)]"), p)
  }

  test("ORC scan pushes filters and prunes columns like parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc_plan")
    try {
      graft.sources.Docs.toOrc(
        Tables.documents(spark, sf001)
          .select("doc_id", "text", "lang", "source", "n_chars"),
        s"$dir/docs", numFiles = 2)
      val df = graft.sources.Docs.fromOrc(spark, s"$dir/docs")
        .where(col("lang") === "en").select("doc_id", "lang")
      val p = plan(df)
      assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), p)
      assert(p.contains("ReadSchema") && !p.contains("text:string"),
        s"ORC scan reads pruned columns only:\n$p")
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }
  }

  test("cell histogram plans partial+final HashAggregate (map-side combine)") {
    val p = plan(graft.ops.Grid.cellHistogram(Tables.points(spark, sf001), 0.7))
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_count"), s"no partial aggregation:\n$p")
  }

  test("3-way dim join broadcasts the small sides") {
    val p = plan(SparkEntry.queries("join_brand_nation")(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dim joins must not sort-merge")
  }

  test("Points.withIds is distributed: no global-sort Window, parallelism kept") {
    import graft.sources.Points
    val pts = Tables.points(spark, sf0001).repartition(8)
    val withIds = Points.withIds(pts)
    // the old formulation was row_number() over an un-partitioned
    // Window — a single-task global sort; the rewrite must not plan one
    assert(!withIds.queryExecution.executedPlan.toString.contains("Window"))
    assert(withIds.rdd.getNumPartitions > 1, "id assignment collapsed to one partition")
    // semantics unchanged: ids are exactly 1..N, ascending with (x, y)
    import spark.implicits._
    val rows = withIds.orderBy("id")
      .select("x", "y", "id").as[(Double, Double, Long)].collect()
    assert(rows.map(_._3).toSeq == (1L to rows.length.toLong).toSeq)
    val coords = rows.map(r => (r._1, r._2)).toSeq
    assert(coords == coords.sorted)
  }

  test("neighborCounts is a strip sweep: no join, no shuffle_hash hint, two exchanges") {
    import spark.implicits._
    val pts = Seq((1L, 0.0, 0.0), (2L, 0.5, 0.5), (3L, 3.0, 1.5)).toDF("id", "x", "y")
    val nc = graft.ops.Outliers.neighborCounts(pts, 1.0)
    val p = plan(nc)
    assert(!p.contains("Join"), s"pair join planned:\n$p")
    assert(!nc.queryExecution.analyzed.toString.toLowerCase.contains("shuffle_hash"), p)
    // the tree's Exchange nodes: the strip repartition, then the id aggregate
    val exchanges = p.linesIterator.takeWhile(_.nonEmpty)
      .count(_.matches(""".*Exchange \(\d+\)$"""))
    assert(exchanges == 2, s"expected 2 exchanges:\n$p")
    assert(p.contains("REPARTITION_BY_NUM") && p.contains("ENSURE_REQUIREMENTS"), p)
  }

  test("rpBucket plans codegen'd dot products, not interpreted HOF folds") {
    val embs = Tables.embeddings(spark, sf0001)
    val df = graft.ops.Similarity.annBucketed(embs, 1, dim = 64, nBits = 4, seed = 42L)
    val p = plan(df)
    assert(p.contains("graft_dot"), p.take(800))
    assert(!p.contains("aggregate(zip_with"), "interpreted HOF fold back in the bucket path")
  }

  test("IVF/k-center assignment is one codegen'd TopDot pass: no Window, no explode blowup, no cache") {
    val embs = Tables.embeddings(spark, sf0001)
    val kc = plan(graft.ops.Similarity.kcenterAssign(embs, 8))
    assert(kc.contains("graft_top_dot"), kc.take(800))
    assert(!kc.contains("Window"), "centroid assignment must not rank via a window")
    assert(!kc.contains("posexplode"), "centroid assignment must not explode the centroid array")
    val ivf = plan(graft.ops.Similarity.annIvf(embs, 1, nlist = 16, nprobe = 4))
    assert(ivf.contains("graft_top_dot"), ivf.take(800))
    // round 14: the exact IVF scan picks its formulation by dim (the
    // measured crossover, Similarity.PackedScanMinDim): below it the
    // candidate equi-join + codegen'd dot wins — the fixture's dim-64
    // embeddings must take that path, with NO pack window in the plan;
    // at/above it (or under an explicit segSize) the PACKED DotTopK
    // segment scan wins — pinned via segSize below. Answers are
    // byte-identical either way (ScaleOpsSpec degeneration law).
    assert(embs.first().getSeq[Float](1).length <
      graft.ops.Similarity.PackedScanMinDim,
      "fixture dim crossed PackedScanMinDim — re-pin both plan shapes")
    assert(ivf.contains("graft_dot") && !ivf.contains("graft_dot_topk"),
      "small-dim IVF should score candidates in the equi-join formulation")
    assert(!ivf.contains("Window"),
      "small-dim IVF must not pay the pack window")
    assert(!ivf.contains("InMemoryRelation"), "IVF must not cache the assignment table")
    val ivfPacked = plan(graft.ops.Similarity.annIvfFromIndex(
      graft.ops.Similarity.ivfAssign(embs,
        graft.ops.Similarity.ivfCentroids(embs, 16)),
      embs, k = 1, nprobe = 4,
      graft.ops.Similarity.ivfCentroids(embs, 16), segSize = 512))
    assert(ivfPacked.contains("graft_dot_topk"),
      "packed-list scan missing under explicit segSize — " +
        "per-candidate scoring join is back on the packed path")
  }

  test("k>1 rank windows carry a PARTIAL WindowGroupLimit (pre-shuffle top-k prune)") {
    // Spark's InferWindowGroupLimit turns `row_number ≤ k` into a
    // partial per-partition top-k BEFORE the shuffle — the reason the
    // k>1 ranking paths are scale-safe without a custom aggregate.
    // The rule needs the rank filter adjacent to the window; a
    // refactor that breaks adjacency silently reverts to shuffling
    // every candidate row, which this pin catches.
    val embs = Tables.embeddings(spark, sf0001)
    val p = graft.ops.Similarity.cosineTopK(embs, 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"no partial WindowGroupLimit under the k=3 rank window:\n${p.take(1200)}")
  }

  test("multi-probe k=1 ranks via map-side max_by: no Window, no dedup") {
    val embs = Tables.embeddings(spark, sf0001)
    val p = plan(graft.ops.Similarity.annMultiProbe(embs, 1, dim = 64, nBits = 4, seed = 42L))
    assert(!p.contains("Window"), "k=1 multiprobe must not rank via a window")
    assert(p.contains("max_by"), p.take(800))
  }

  test("runtime bloom filter injects on a selective shuffle join (pre-shuffle row pruning)") {
    // the 100 TB shuffle-join lever broadcast can't give: when the dim
    // side carries a selective predicate, Catalyst builds a bloom
    // filter of its join keys and applies it to the fact side BEFORE
    // the shuffle, so non-matching fact rows never ship. Local-mode
    // scans are under the 10 GB application-side default, so the test
    // lowers that threshold — on a real cluster the defaults fire.
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.lineitem(spark, sf001)
      val dim = Tables.part(spark, sf001).where(col("p_size") === 1)
      val j = li.join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(count(lit(1)).as("n"))
      val p = plan(j)
      assert(p.contains("might_contain"),
        s"no runtime bloom filter on the fact side:\n${p.take(1500)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("incrementalNewBloom: codegen'd bloom probe, only maybe-hits reach the verify anti-join") {
    import graft.ops.Dedup
    val docs = Tables.documents(spark, sf001)
    val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val df = Dedup.incrementalNewBloom(
      docs.where(pmod(col("doc_id"), lit(5)) === 0), corpus,
      expectedDigests = corpus.count())
    val p = plan(df)
    // the bloom probe is Spark's runtime-filter expression (codegen'd),
    // present on BOTH union branches (negated on the definite-new one)
    assert(p.contains("might_contain"), s"no bloom probe in plan:\n${p.take(1200)}")
    // exactly one verify join: the definite-new branch bypasses it
    // (FormattedMode prints each join once in the tree and once in the
    // detail section — count the detail's "Join type:" lines)
    val antiJoins = p.linesIterator.count(_.contains("Join type: LeftAnti"))
    assert(antiJoins == 1, s"expected 1 anti-join (maybe-hits only), got $antiJoins")
    assert(p.contains("Union"), p.take(600))
  }

  test("AQE splits a skewed join partition at runtime (OptimizeSkewedJoin)") {
    // the free path before reaching for Skew.saltedJoin: when runtime
    // stats surface the skew, AQE re-plans the sort-merge join so the
    // hot key's partition is split across tasks. Local fixtures are
    // tiny, so the skew thresholds shrink accordingly — on a real
    // cluster the defaults (256 MB threshold, factor 5) fire instead.
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // 95% of probe rows share key 0 → one shuffle partition holds
      // nearly the whole probe side; build side is uniform
      val probe = spark.range(200000)
        .select(when(col("id") % 20 < 19, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val build = spark.range(1000).select(col("id").as("bk"))
      val j = probe.join(build, col("k") === col("bk"))
      j.collect() // AQE decides on RUNTIME stats: execute this plan
      val executed = j.queryExecution.executedPlan.toString
      assert(executed.contains("skew=true"),
        s"AQE did not mark the join skewed:\n${executed.take(1500)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted join plans a shuffled hash join on (key, salt), never broadcast") {
    // a broadcast would defeat the salting (no per-key reduce task to
    // overload), and the probe side must not pay a sort — the point of
    // the operator is spreading a hot key over `salts` shuffle
    // partitions of a hash join
    val p = plan(SparkEntry.queries("join_events_segment_salted")(spark, sf0001))
    assert(p.contains("ShuffledHashJoin"), s"salted join not shuffled-hash:\n${p.take(1200)}")
    assert(!p.contains("BroadcastHashJoin"),
      "salted join degenerated to broadcast — salt columns dropped from the join keys?")
    // both salt columns participate in the equi-join keys
    assert(p.contains("_psalt") && p.contains("_bsalt"), p.take(1200))
  }

  test("contamination probe broadcasts the benchmark grams; packing windows per shard") {
    val p1 = plan(SparkEntry.queries("text_contamination")(spark, sf001))
    assert(p1.contains("BroadcastHashJoin") || p1.contains("BroadcastExchange"),
      s"benchmark gram set not broadcast:\n${p1.take(1000)}")
    val p2 = plan(SparkEntry.queries("pack_chunks")(spark, sf001))
    // the running-sum window must partition by shard — a global
    // (single-partition) window would serialize the whole corpus
    assert(p2.contains("Window") && p2.contains("shard"), p2.take(1000))
    assert(!p2.contains("SinglePartition"),
      s"packing window collapsed to a single partition:\n${p2.take(1000)}")
  }

  test("tokenBudgetSample: running-sum window is bucket-parallel, never single-partition") {
    val docs = Tables.documents(spark, sf001)
    val p = plan(graft.ops.Freq.tokenBudgetSample(docs,
      graft.ops.Text.tokenCount(col("text")), 1000L, "source", "doc_id"))
    // the corpus-sized window must partition by (group, _b) — the
    // whole point of the two-level prefix sum; only the tiny
    // bucket-totals window runs per group
    assert(p.contains("Window"), p.take(800))
    assert(p.linesIterator.exists(l => l.contains("_b#") && l.contains("partitionspec")
      || l.contains("PartitionSpec: [group") && l.contains("_b")
      || (l.contains("Arguments") && l.contains("windowspecdefinition") && l.contains("_b"))),
      s"no window partitioned by the order-key bucket:\n${p.take(1500)}")
    assert(!p.contains("SinglePartition"),
      s"prefix-sum window collapsed to a single partition:\n${p.take(1000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p.take(800))
  }

  test("fairShareSample: corpus prefix window stays bucket-parallel; budgets broadcast") {
    val docs = Tables.documents(spark, sf001)
    val p = plan(graft.ops.Freq.fairShareSample(docs,
      graft.ops.Text.tokenCount(col("text")), 26000L, "source", "doc_id"))
    // the corpus-sized running sum must stay partitioned by
    // (group, _b) — the groups-table windows (#sources rows) are the
    // only single-partition steps, by design
    assert(p.linesIterator.exists(l => (l.contains("PartitionSpec")
      || l.contains("windowspecdefinition")) && l.contains("_b#")),
      s"corpus prefix-sum window not bucket-parallel:\n${p.take(1500)}")
    // the #groups-row budgets table joins the corpus broadcast-side
    assert(p.contains("BroadcastHashJoin"),
      s"budgets not broadcast into the selection join:\n${p.take(1000)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("export_plan: composed dataflow keeps the stage plans — bucket-parallel windows, broadcast budgets, no cartesian") {
    val p = plan(graft.SparkEntry.queries("export_plan")(spark, sf001))
    // the funnel + fair-share prefix sums stay bucket-parallel
    assert(p.linesIterator.exists(l => (l.contains("PartitionSpec")
      || l.contains("windowspecdefinition")) && l.contains("_b#")),
      s"prefix-sum window not bucket-parallel in the composition:\n${p.take(1500)}")
    // metadata-sized sides (budgets, shard target) join broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"budgets not broadcast in the composition:\n${p.take(1000)}")
    // the only nested-loop shapes are the 1-row scalar cross joins
    // (corpus total / shard target) — never a data × data cartesian
    assert(!p.contains("CartesianProduct"), p.take(1000))
  }

  test("semanticAssignRouted: coarse routing in the scan, broadcast cell table, no cartesian") {
    val embs = Tables.embeddings(spark, sf0001)
    val tree = graft.ops.Similarity.hierarchicalCentroids(embs, 8)
    val p = plan(graft.ops.Similarity.semanticAssignRouted(embs, tree,
      nAssign = 2, nRoute = 2))
    assert(p.contains("graft_top_dot"), p.take(800)) // coarse + child argmax
    // the per-cell child table (≤ √k rows) must broadcast into the
    // routed join — shuffling the corpus on the coarse cell id would
    // serialize the explode
    assert(p.contains("BroadcastHashJoin"),
      s"cell table not broadcast:\n${p.take(1000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"routed assignment fell back to an all-pairs join:\n${p.take(1000)}")
  }

  test("semanticNearDupPairs: cluster equi-join with codegen'd kernels, no nested loop") {
    val embs = Tables.embeddings(spark, sf0001)
    val p = plan(graft.ops.Similarity.semanticNearDupPairs(embs, 0.45, nClusters = 4))
    assert(p.contains("graft_top_dot"), p.take(800)) // spill assignment
    assert(p.contains("graft_dot"), p.take(800))     // pair scoring
    // pairs must come from an equi-join on the cluster id — the a<b
    // predicate is a post-join filter, never the join itself
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no equi-join on cluster:\n${p.take(1000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"semantic dedup fell back to an all-pairs join:\n${p.take(1000)}")
  }

  test("PQ paths: broadcast LUTs + codegen'd ADC; IVFADC routes via an equi-join on list") {
    val embs = Tables.embeddings(spark, sf0001)
    val books = graft.ops.Similarity.pqTrain(embs, m = 8, ksub = 16)
    val pq = plan(graft.ops.Similarity.annPq(embs, 1, books = Some(books)))
    assert(pq.contains("graft_pq_adc"), pq.take(800))
    // the query batch (with LUTs) must broadcast against the code
    // stream — a shuffled/cartesian pair join would move the corpus
    assert(pq.contains("BroadcastNestedLoopJoin"),
      s"LUT side not broadcast:\n${pq.take(1000)}")
    assert(!pq.contains("CartesianProduct"), pq.take(800))
    val ipq = plan(graft.ops.Similarity.annIvfPq(embs, 1, nlist = 8,
      nprobe = 4, centroids = Some(graft.ops.Similarity.ivfCentroids(embs, 8)),
      books = Some(books)))
    assert(ipq.contains("graft_pq_adc") && ipq.contains("graft_top_dot"),
      ipq.take(800))
    // candidates come from probing inverted lists — an equi-join on
    // the list id, never an all-pairs fallback
    assert(ipq.contains("SortMergeJoin") || ipq.contains("ShuffledHashJoin")
      || ipq.contains("BroadcastHashJoin"),
      s"no equi-join on list:\n${ipq.take(1000)}")
    assert(!ipq.contains("CartesianProduct") && !ipq.contains("NestedLoop"),
      s"IVFADC fell back to an all-pairs join:\n${ipq.take(1000)}")
    // the reranked face must scan PACKED lists behind a broadcast —
    // a shuffled list join would move the LUT-carrying probe side
    // (measured 2× the whole query), and per-candidate scoring would
    // reintroduce the 179M-row stream the packed scan exists to avoid
    val ipr = plan(graft.ops.Similarity.annIvfPq(embs, 1, nlist = 8,
      nprobe = 4, rerank = 16,
      centroids = Some(graft.ops.Similarity.ivfCentroids(embs, 8)),
      books = Some(books)))
    assert(ipr.contains("graft_pq_adc_topk"), ipr.take(800))
    assert(ipr.contains("BroadcastHashJoin"),
      s"packed list table not broadcast:\n${ipr.take(1000)}")
    // the SERVING face (external bounded query batch against a STORED
    // index — the plan annIvfPqMaintained runs) must never shuffle a
    // join side: the ADC shortlist scans the stored pq_packed segments
    // behind a broadcast with no Window and no corpus-sized groupBy
    // (the pack cost must not reappear at query time in any form), and
    // the rerank gathers floats from the stored ivf_packed segments,
    // with the id-only shortlist (nq·R two-long rows) and the query
    // floats broadcast onto the candidate-sized gather — ZERO
    // shuffled joins (a SortMergeJoin here means an index-sized side
    // moved). The one-shot `ipr` plan above legitimately shuffles
    // while BUILDING its index and its SELF-QUERY rerank deliberately
    // does NOT broadcast the corpus-sized shortlist (measured +29% on
    // ann_pq at sf0.1), so the pin lives on the stored-index face.
    val idxDir = java.nio.file.Files.createTempDirectory("graft_planspec_idx")
    try {
      import org.apache.spark.sql.functions.{col, lit}
      val cents = graft.ops.Similarity.ivfCentroids(embs, 8)
      val assigned = graft.ops.Similarity.ivfAssign(embs, cents)
      graft.ops.Similarity.pqPack(assigned.select("nn_id", "list")
          .join(graft.ops.Similarity.pqEncode(embs, books)
            .select(col("vec_id").as("nn_id"), col("codes")), "nn_id"), m = 8)
        .write.mode("overwrite").parquet(s"${idxDir}_adc")
      graft.ops.Similarity.ivfPack(assigned, dim = cents.head.length)
        .write.mode("overwrite").parquet(idxDir.toString)
      val codes = spark.read.parquet(s"${idxDir}_adc")
      val queries = embs.where(col("vec_id") % 100 === 0)
      val sp = plan(graft.ops.Similarity.pqPackedShortlist(codes, queries,
        nprobe = 4, cents, books, rerank = 16, "vec_id", "embedding",
        lit(true), excludeSelf = true))
      assert(!sp.contains("SortMergeJoin") && !sp.contains("ShuffledHashJoin"),
        s"packed-ADC shortlist shuffled a join side:\n${sp.take(1500)}")
      assert(!sp.contains("Window"),
        s"packed-ADC shortlist re-packs at query time:\n${sp.take(1500)}")
      assert(sp.contains("graft_pq_adc_topk"), sp.take(800))
      val probed = graft.ops.Similarity.probedLists(queries, cents, 4,
        "vec_id", "embedding")
      val qp = plan(graft.ops.Similarity.annIvfPqGatherRerank(codes,
        spark.read.parquet(idxDir.toString), queries, k = 1, nprobe = 4,
        probed, cents, books, rerank = 16, "vec_id", "embedding",
        excludeSelf = true))
      assert(qp.contains("graft_gather_vecs"), qp.take(800))
      assert(!qp.contains("SortMergeJoin") && !qp.contains("ShuffledHashJoin"),
        s"maintained-index rerank shuffled a join side:\n${qp.take(1500)}")
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Seq(idxDir, Path.of(s"${idxDir}_adc")).foreach { d =>
        try Files.walk(d).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
    }
  }

  test("filtered serving scan: probed-list In-filter reaches the packed parquet scan") {
    import org.apache.spark.sql.functions._
    val embs = Tables.embeddings(spark, sf0001)
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_planspec_flt")
    try {
      val cents = graft.ops.Similarity.ivfCentroids(embs, 8)
      graft.ops.Similarity.ivfPack(
          graft.ops.Similarity.ivfAssign(embs, cents), dim)
        .write.mode("overwrite").parquet(dir.toString)
      // a serving session raises the In-push threshold (see
      // annIvfFilteredMaintained's scaladoc); the spec does the same
      // so the pin matches the deployment plan
      val key = "spark.sql.parquet.pushdown.inFilterThreshold"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "100")
      try {
        val probed = Seq(0, 1, 2, 3, 4)
        val index = graft.ops.Similarity.ivfUnpack(
            spark.read.parquet(dir.toString)
              .where(col("list").isin(probed: _*)))
          .join(embs.where(col("label") < 3)
            .select(col("vec_id").as("nn_id")), Seq("nn_id"), "left_semi")
        val p = plan(graft.ops.Similarity.annIvfFromIndex(index,
          embs.where(col("vec_id") % 50 === 0), 1, 4, cents))
        // the pruning filter must reach the packed scan itself — a
        // post-scan Filter would read every list's segments
        assert(p.linesIterator.exists(l =>
          l.contains("PushedFilters") && l.contains("In(list")),
          s"probed-list In filter not pushed to the packed scan:\n${p.take(1500)}")
        assert(!p.contains("CartesianProduct"), p.take(800))
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    } finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }
  }

  test("partitioned warehouse layout: filter becomes PartitionFilters, values roundtrip") {
    import graft.sources.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_part_test").toString
    val docs = Tables.documents(spark, sf0001)
    Warehouse.writePartitioned(docs, s"$tmp/docs", Seq("lang"))
    // more than one lang directory exists, so pruning has something to prune
    assert(docs.select("lang").distinct().count() > 1)
    val rd = Warehouse.readPartitioned(spark, s"$tmp/docs").where(col("lang") === "en")
    val p = plan(rd)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("lang"), s"partition filter not pushed to directories: $pf")
    // the lang predicate must be a DIRECTORY filter, not a data filter
    assert(!p.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("lang")), p.take(1200))
    // layout roundtrip preserves the rows exactly
    val back = Warehouse.readPartitioned(spark, s"$tmp/docs")
      .select(docs.columns.map(col).toIndexedSeq: _*)
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
  }

  test("bucketed tables join with no Exchange: the shuffle was paid at write time") {
    import graft.sources.Warehouse
    val orders = Tables.orders(spark, sf0001).select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.customer(spark, sf0001).select("c_custkey", "c_mktsegment")
    Warehouse.writeBucketed(orders, "wh_orders_b", "o_custkey", 4)
    Warehouse.writeBucketed(cust, "wh_cust_b", "c_custkey", 4)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("wh_orders_b")
        .join(spark.table("wh_cust_b"), col("o_custkey") === col("c_custkey"))
      val p = plan(j)
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n${p.take(1500)}")
      // same rows as the plain join
      val plainCnt = orders.join(cust, col("o_custkey") === col("c_custkey")).count()
      assert(j.count() == plainCnt)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS wh_orders_b")
      spark.sql("DROP TABLE IF EXISTS wh_cust_b")
    }
  }

  test("native dot product present; partial aggregation precedes the shuffle") {
    val df = SparkEntry.queries("ann_cosine_nn")(spark, sf001)
    val p = plan(df)
    assert(p.contains("graft_dot"), p.take(800))
    // map-side partial agg before Exchange: the N² candidate rows are
    // reduced to one row per vec_id before any shuffle
    val lines = p.linesIterator.toSeq
    val aggIdx = lines.indexWhere(l => l.contains("SortAggregate") || l.contains("HashAggregate"))
    assert(aggIdx >= 0)
    df.collect() // execute THIS queryExecution (count() would plan its own)
    val executed = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Op" in the executed tree
    assert(executed.contains("*("), executed.take(800))
  }
}
