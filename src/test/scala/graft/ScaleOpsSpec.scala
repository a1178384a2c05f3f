package graft

import graft.ops.{Similarity, Skew}
import graft.queries.Tables
import org.apache.spark.sql.functions._

/** Scale-path operators: multi-probe ANN recall, salted aggregation
  * equivalence, bucketed co-located joins. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("annMultiProbe: full coverage (every vector gets a neighbor) and high recall@1") {
    val embs = Tables.embeddings(spark, sf0001)
    val n = embs.count()
    val exact = Similarity.cosineTopK(embs, 1)
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    val multi = Similarity.annMultiProbe(embs, 1, dim = 64, nBits = 4)
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    val plain = Similarity.annBucketed(embs, 1, dim = 64, nBits = 4)
      .select("vec_id").distinct().count()
    assert(multi.size == n, s"multi-probe covered ${multi.size} of $n (plain: $plain)")
    val recall = multi.count { case (v, nn) => exact(v) == nn }.toDouble / n
    assert(recall >= 0.5, s"recall@1 $recall") // 4-bit probe-1 on random vectors
  }

  test("nBitsFor/nlistFor: expected occupancy stays bounded as the corpus grows") {
    // the scale law itself: 2^nBitsFor(N) ≥ N/target throughout the
    // un-clamped range, so candidate-join cost ≈ N·target — linear —
    // from test SFs through ~10^9 vectors; and the rule is monotone
    val target = 64L
    for (exp <- 7 to 29; n = 1L << exp) {
      val bits = Similarity.nBitsFor(n, target)
      assert(bits <= 24)
      if (n <= (target << 24))
        assert(n.toDouble / (1L << bits) <= target.toDouble,
          s"occupancy blew past target at n=$n (nBits=$bits)")
    }
    val grown = Seq(500L, 5000L, 500000L, 50000000L).map(Similarity.nBitsFor(_))
    assert(grown == grown.sorted && grown.distinct.size > 2,
      s"nBits must grow with corpus size: $grown")
    val lists = Seq(500L, 50000L, 5000000L).map(Similarity.nlistFor(_))
    assert(lists == lists.sorted && lists.head >= 16 && lists.last <= 1024, lists.toString)
  }

  test("derived nBits yields roughly balanced real buckets (occupancy within 4x target)") {
    // seeded synthetic corpus 4x the sf0.001 embeddings: rpBucket with
    // the derived nBits must spread it over many buckets with mean
    // occupancy near the target — the law the query layer relies on
    val rnd = new scala.util.Random(99)
    val dim = 16
    val n = 2048
    val target = 64L
    val vecs = Seq.tabulate(n)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()).toSeq)).toDF("vec_id", "embedding")
    val nBits = Similarity.nBitsFor(n, target)
    val occ = vecs.select(Similarity.rpBucket(col("embedding"), dim, nBits, 42L).as("b"))
      .groupBy("b").count().select("count").as[Long].collect()
    assert(occ.sum == n)
    assert(occ.length > (1 << nBits) / 4, s"only ${occ.length} of ${1 << nBits} buckets hit")
    val mean = occ.sum.toDouble / occ.length
    assert(mean <= 4.0 * target, s"mean occupancy $mean vs target $target")
  }

  test("annIvf: nprobe=nlist degenerates to exact brute force; nprobe=4 has coverage+recall") {
    val embs = Tables.embeddings(spark, sf0001)
    val n = embs.count()
    val exact = Similarity.cosineTopK(embs, 1)
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    val full = Similarity.annIvf(embs, 1, nlist = 8, nprobe = 8)
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    assert(full == exact, "nprobe=nlist must equal brute force")
    val partial = Similarity.annIvf(embs, 1, nlist = 16, nprobe = 4)
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    assert(partial.size == n) // every query probes >=1 non-empty list (its own)
    val recall = partial.count { case (v, nn) => exact(v) == nn }.toDouble / n
    assert(recall >= 0.4, s"IVF recall@1 $recall")
  }

  test("annIvfFiltered: planted ineligible distractor; full probing == exact filtered; adaptive widening restores exactness") {
    val rnd = new scala.util.Random(11)
    val dim = 8
    def unit(v: Array[Double]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat).toSeq
    }
    // labels i % 9, eligible = label < 3 ⇒ selectivity ≈ 1/3
    val base = (1L to 60L).map { i =>
      (i, unit(Array.fill(dim)(rnd.nextGaussian())), (i % 9).toInt)
    }
    // the planted triangle: for query 9001, the INELIGIBLE 9002 is
    // strictly closer than the eligible 9003 — pre-filter search must
    // answer 9003; post-filtering an unfiltered top-1 (= 9002) would
    // drop the query entirely and silently lose the eligible answer
    val q = Array(1.0, 0, 0, 0, 0, 0, 0, 0)
    val near = Array(0.999, 0.045, 0, 0, 0, 0, 0, 0)
    val elig = Array(0.98, 0.199, 0, 0, 0, 0, 0, 0)
    val rows = base ++ Seq((9001L, unit(q), 5), (9002L, unit(near), 5),
      (9003L, unit(elig), 0))
    val embs = rows.toDF("vec_id", "embedding", "label")
    val pred = col("label") < 3
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    val exact = top1(Similarity.cosineTopK(embs, 1, corpusPred = pred))
    assert(exact(9001L) == 9003L, "exact filtered NN must be the eligible answer")
    val unfiltered = top1(Similarity.cosineTopK(embs, 1))
    assert(unfiltered(9001L) == 9002L, "fixture: the distractor must win unfiltered")
    // full probing scans every eligible candidate ⇒ exact filtered brute
    val fullProbe = top1(Similarity.annIvfFiltered(embs, 1, nlist = 6,
      nprobe = 6, corpusPred = pred))
    assert(fullProbe == exact, "nprobe=nlist filtered must equal exact filtered brute")
    // containment: every reported neighbor satisfies the predicate
    val eligIds = rows.filter(_._3 < 3).map(_._1).toSet
    assert(fullProbe.values.forall(eligIds), "an ineligible neighbor leaked")
    // adaptive widening: at sel ≈ 1/3, nprobe = 2 widens to
    // ceil(2/sel) ≥ 6 = nlist ⇒ the selective filter still gets the
    // exact answer set — the compensation annIvfFiltered exists for
    val adaptive = top1(Similarity.annIvfFiltered(embs, 1, nlist = 6,
      nprobe = 2, corpusPred = pred))
    assert(adaptive == exact,
      "selectivity-widened probing must restore the exact filtered answers here")
    // the ADC twin under the same fixture: pre-filter means the
    // ineligible distractor is NOT IN THE INDEX, so with full
    // probing and a rerank wide enough to hold every eligible
    // candidate the product path is exact-filtered too — including
    // the planted triangle the unfiltered search gets wrong
    val fltAdc = top1(Similarity.annIvfPqFiltered(embs, 1, nlist = 6,
      nprobe = 6, corpusPred = pred, m = 4, ksub = 8, rerank = 32))
    assert(fltAdc == exact,
      "full-probe filtered IVFADC with an all-eligible rerank must equal exact filtered brute")
    val fltAdcAdaptive = top1(Similarity.annIvfPqFiltered(embs, 1, nlist = 6,
      nprobe = 2, corpusPred = pred, m = 4, ksub = 8, rerank = 32))
    assert(fltAdcAdaptive == exact,
      "selectivity-widened filtered IVFADC must restore the exact filtered answers here")
  }

  test("queryPred: query-batch results equal the full run filtered to the batch") {
    val embs = Tables.embeddings(spark, sf0001)
    val pred = pmod(col("vec_id"), lit(3)) === 0
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vec_id", "nn_id").as[(Long, Long)].collect().toSet
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = Seq(
      ("cosineTopK",
        Similarity.cosineTopK(embs, 1).where(pred),
        Similarity.cosineTopK(embs, 1, queryPred = pred)),
      ("annBucketed",
        Similarity.annBucketed(embs, 1, dim = 64, nBits = 4).where(pred),
        Similarity.annBucketed(embs, 1, dim = 64, nBits = 4, queryPred = pred)),
      ("annMultiProbe",
        Similarity.annMultiProbe(embs, 1, dim = 64, nBits = 4).where(pred),
        Similarity.annMultiProbe(embs, 1, dim = 64, nBits = 4, queryPred = pred)),
      ("annIvf",
        Similarity.annIvf(embs, 1, nlist = 8, nprobe = 2).where(pred),
        Similarity.annIvf(embs, 1, nlist = 8, nprobe = 2, queryPred = pred)))
    cases.foreach { case (name, full, batch) =>
      assert(pairs(full) == pairs(batch), s"$name: query-batch diverged from filtered full run")
    }
  }

  test("ivfAssign/annIvfFromIndex: append == rebuild; index search == one-shot annIvf") {
    val embs = Tables.embeddings(spark, sf0001)
    val cents = Similarity.ivfCentroids(embs, nlist = 8)
    // centroid table round trip is lossless and order-restoring
    val rt = Similarity.centroidsFromDF(
      Similarity.centroidsToDF(spark, cents).orderBy(col("list").desc))
    assert(rt.length == cents.length &&
      rt.zip(cents).forall { case (a, b) => a.sameElements(b) })
    // appending per-batch assignment tables == one pass over the union
    val isNew = pmod(col("vec_id"), lit(5)) === 0
    val appended = Similarity.ivfAssign(embs.where(!isNew), cents)
      .unionByName(Similarity.ivfAssign(embs.where(isNew), cents))
    val rebuilt = Similarity.ivfAssign(embs, cents)
    assert(appended.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(appended).isEmpty,
      "per-batch ivfAssign union must equal the single-pass assignment table")
    // searching the appended index == the one-shot operator
    val fromIdx = Similarity.annIvfFromIndex(appended, embs, 3, nprobe = 4, cents)
    val oneShot = Similarity.annIvf(embs, 3, nlist = 8, nprobe = 4,
      centroids = Some(cents))
    assert(fromIdx.exceptAll(oneShot).isEmpty && oneShot.exceptAll(fromIdx).isEmpty,
      "annIvfFromIndex over the appended index must equal annIvf")
  }

  test("PQ: encode append == rebuild; LUT twin parity; rerank answers near-exact") {
    val embs = Tables.embeddings(spark, sf0001)
    val books = Similarity.pqTrain(embs, m = 8, ksub = 16)
    assert(books.length == 8 && books.forall(_.length == 16) &&
      books.forall(_.forall(_.length == 8)))
    // encoding is deterministic under fixed books: per-batch code
    // tables union to the single-pass table (the ivfAssign lifecycle)
    val isNew = pmod(col("vec_id"), lit(5)) === 0
    val appended = Similarity.pqEncode(embs.where(!isNew), books)
      .unionByName(Similarity.pqEncode(embs.where(isNew), books))
    val rebuilt = Similarity.pqEncode(embs, books)
    assert(appended.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(appended).isEmpty,
      "per-batch pqEncode union must equal the single-pass code table")
    // the LUT really holds subspace dots: scoring a vector's OWN codes
    // against its own LUT reconstructs Σ_j ⟨q_j, centroid(code_j)⟩,
    // which must equal the ADC score of (codes, lut) — native vs a
    // driver-side fold over the books
    val one = rebuilt.join(
        Similarity.pqQueryLuts(embs, books), "vec_id")
      .select(col("vec_id"), col("codes_arr"), col("lut"),
        graft.functions.Native.pqAdcNative(spark, col("codes"), col("lut")).as("adc"))
      .limit(100).collect()
    one.foreach { r =>
      val codes = r.getSeq[Int](1)
      val lut = r.getSeq[Double](2)
      var s = 0.0
      codes.zipWithIndex.foreach { case (c, j) => s += lut(j * 16 + c) }
      assert(s == r.getDouble(3), s"ADC diverged from driver fold for ${r.getLong(0)}")
    }
    // rerank=32 production face: argmax-recall vs brute force — same
    // exact-match bar as the annMultiProbe test (0.5: on an isotropic
    // corpus THE argmax is separated from 2nd-best by ~0.03 cosine, so
    // exact-argmax recall is not the contract; the ε-quality floors —
    // 0.85+, measured ~0.99 — live in check_pq_adc)
    val exact = Similarity.cosineTopK(embs, 1)
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    val pqr = Similarity.annPq(embs, 1, rerank = 32, books = Some(books))
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    assert(pqr.size == exact.size, "rerank face must cover every query")
    val recall = pqr.count { case (v, nn) => exact(v) == nn }.toDouble / exact.size
    assert(recall >= 0.5, s"PQ rerank recall@1 $recall")
  }

  test("semanticNearDupPairs: sound vs exact verifier, csim parity, recall >= 0.75") {
    val embs = Tables.embeddings(spark, sf0001)
    val sem = Similarity.semanticNearDupPairs(embs, 0.45, nClusters = 4)
      .select("a", "b", "csim").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val brute = Similarity.cosineNearDupPairs(embs, 0.45)
      .select("a", "b", "csim").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(sem.nonEmpty, "fixture must contain near-dup pairs")
    sem.foreach { case (pair, c) =>
      assert(brute.contains(pair), s"semantic pair $pair not in exact verifier")
      assert(math.abs(brute(pair) - c) <= 1e-9, s"csim drift at $pair")
    }
    // the default spill (nAssign=2) recovers most Voronoi-straddling
    // pairs: 6/7 here vs 3/7 single-assignment — the fixture's pairs
    // sit at cosine 0.45-0.51, far from coincident, so this is the
    // HARD case for cluster-local dedup (the check law runs the
    // product parameters, nAssign=3, floored at 0.85)
    assert(sem.size >= math.ceil(0.75 * brute.size).toInt,
      s"recall ${sem.size}/${brute.size}")
  }

  test("annIvfPq: nprobe=nlist degenerates to annPq exactly; nprobe<nlist covers and ranks well") {
    val embs = Tables.embeddings(spark, sf0001)
    val cents = Similarity.ivfCentroids(embs, 8)
    val books = Similarity.pqTrain(embs, m = 8, ksub = 16)
    val degen = Similarity.annIvfPq(embs, 1, nlist = 8, nprobe = 8,
      centroids = Some(cents), books = Some(books))
    val flat = Similarity.annPq(embs, 1, books = Some(books))
    assert(degen.exceptAll(flat).isEmpty && flat.exceptAll(degen).isEmpty,
      "probing every list must equal the flat ADC ranking exactly")
    // the packed-list rerank path's strongest law: probing every list
    // with rerank ≥ N makes the shortlist the whole corpus, so the
    // exact re-score must reproduce brute force row-for-row — any
    // packing/scan/merge defect (a dropped code, a wrong LUT slot, a
    // truncated merge) surfaces as a changed answer
    val n = embs.count().toInt
    val all = Similarity.annIvfPq(embs, 3, nlist = 8, nprobe = 8,
      rerank = n, centroids = Some(cents), books = Some(books))
    val brute = Similarity.cosineTopK(embs, 3)
    assert(all.exceptAll(brute).isEmpty && brute.exceptAll(all).isEmpty,
      "full-probe full-rerank IVFADC must equal exact brute force")
    // the partial-probe reranked face: full coverage, and exact-argmax
    // recall at the annIvf-test bar (the ε-quality floor lives in
    // check_ivfpq)
    val exact = Similarity.cosineTopK(embs, 1)
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    val part = Similarity.annIvfPq(embs, 1, nlist = 16, nprobe = 4,
        rerank = 32, centroids = Some(Similarity.ivfCentroids(embs, 16)),
        books = Some(books))
      .select("vec_id", "nn_id").as[(Long, Long)].collect().toMap
    assert(part.size == exact.size, "every query probes ≥ 1 non-empty list")
    val recall = part.count { case (v, nn) => exact(v) == nn }.toDouble / exact.size
    assert(recall >= 0.4, s"IVFADC recall@1 $recall")
  }

  test("semanticAssign/semanticNewPairs: append == rebuild; old + new pairs == one-shot") {
    val embs = Tables.embeddings(spark, sf0001)
    val cents = Similarity.ivfCentroids(embs, 8)
    val isNew = pmod(col("vec_id"), lit(5)) === 0
    // appending per-batch spill-assignment tables == one pass
    val oldIdx = Similarity.semanticAssign(embs.where(!isNew), cents, nAssign = 3)
    val batchIdx = Similarity.semanticAssign(embs.where(isNew), cents, nAssign = 3)
    val appended = oldIdx.unionByName(batchIdx)
    val rebuilt = Similarity.semanticAssign(embs, cents, nAssign = 3)
    assert(appended.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(appended).isEmpty,
      "per-batch semanticAssign union must equal the single-pass table")
    // pairs from the appended index == the one-shot operator
    val fromIdx = Similarity.semanticPairsFromIndex(appended, 0.45)
    val oneShot = Similarity.semanticNearDupPairs(embs, 0.45, nClusters = 8,
      nAssign = 3, centroids = Some(cents))
    assert(fromIdx.exceptAll(oneShot).isEmpty && oneShot.exceptAll(fromIdx).isEmpty,
      "semanticPairsFromIndex over the appended index must equal the one-shot")
    // incremental completeness: both-old pairs ⊎ batch-touching pairs
    // == the full pair set, csim doubles included
    val incremental = Similarity.semanticPairsFromIndex(oldIdx, 0.45)
      .unionByName(Similarity.semanticNewPairs(batchIdx, appended, 0.45))
    assert(incremental.exceptAll(oneShot).isEmpty && oneShot.exceptAll(incremental).isEmpty,
      "old pairs + semanticNewPairs must equal the one-shot pair set")
    // the batch actually contributes pairs (the law is not vacuous)
    assert(Similarity.semanticNewPairs(batchIdx, appended, 0.45).count() > 0,
      "fixture planted no batch-touching semantic pairs")
  }

  test("kcenterAssign: every vector assigned, <=k clusters, distances in [0,2]") {
    val embs = Tables.embeddings(spark, sf0001)
    val got = Similarity.kcenterAssign(embs, k = 8)
      .as[(Long, Int, Double)].collect()
    assert(got.length == embs.count())
    assert(got.map(_._2).distinct.length <= 8)
    assert(got.forall { case (_, _, d) => d >= 0.0 && d <= 2.0 })
  }

  test("salted aggregation == direct groupBy on a skewed key") {
    // 90% of rows share one key
    val rows = (0L until 10000L).map(i => (if (i % 10 == 0) i % 7 + 10 else 1L, 1.0 + (i % 3)))
    val df = rows.toDF("k", "v").repartition(8)
    val direct = df.groupBy("k").agg(count(lit(1)).as("cnt")).as[(Long, Long)].collect().toMap
    val salted = Skew.saltedCount(df, "k", salts = 16).as[(Long, Long)].collect().toMap
    assert(salted == direct)
    val directSum = df.groupBy("k").agg(sum("v").as("sum")).as[(Long, Double)].collect().toMap
    val saltedSum = Skew.saltedSum(df, "k", "v", 16).as[(Long, Double)].collect().toMap
    // v values are small integers -> sums exact in IEEE, orders irrelevant
    assert(saltedSum == directSum)
  }

  test("salted join == plain join on a skewed key (multiset, incl. duplicates)") {
    // 90% of probe rows share one key; build has duplicate keys too,
    // so the test covers fan-out rows (each probe row must meet EACH
    // matching build row exactly once — the replicated build side
    // could silently double-count if the salt ranges overlapped)
    val probe = (0L until 10000L)
      .map(i => (if (i % 10 == 0) i % 7 + 10 else 1L, i))
      .toDF("k", "pv").repartition(8)
    val build = ((0L until 20L) ++ Seq(1L, 1L, 12L))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("bk", "bv").repartition(4)
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "pv", "bk", "bv").as[(Long, Long, Long, Long)]
        .collect().groupBy(identity).view.mapValues(_.length).toMap
    val direct = multiset(probe.join(build, col("k") === col("bk")))
    val salted = multiset(Skew.saltedJoin(probe, build, "k", "bk", salts = 16))
    assert(salted == direct)
  }

  test("compaction: many small files -> few range-clustered files, rows exact") {
    // the small-files maintenance pass: 64 tiny files compact into 4;
    // the row multiset survives exactly, and because the rewrite
    // range-partitions on the sort key, each output file covers a
    // tight disjoint key range (min/max data-skipping survives)
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val rows = (0L until 4000L).map(i => (i, s"v${i % 97}"))
    rows.toDF("k", "v").repartition(64).write.parquet(s"$tmp/small")
    val (before, after) = graft.sources.Warehouse.compact(
      spark, s"$tmp/small", s"$tmp/compacted", Seq("k"), targetRowsPerFile = 1000L)
    assert(before >= 32, s"fixture should start fragmented, got $before files")
    assert(after <= 5, s"expected ~4 compacted files, got $after")
    val back = spark.read.parquet(s"$tmp/compacted")
    assert(back.as[(Long, String)].collect().sorted.toSeq == rows.sorted)
    // disjoint tight ranges: per-file k-extents sum to ~the key span
    // (overlapping files would sum to a multiple of it)
    val exts = back
      .withColumn("part", org.apache.spark.sql.functions.spark_partition_id())
      .groupBy("part").agg((max("k") - min("k")).as("ext"))
      .select("ext").as[Long].collect()
    assert(exts.sum <= 4100, s"file key ranges overlap: ${exts.toSeq}")
  }

  test("z-order layout bounds BOTH dims per file; linear sort leaves one unbounded") {
    // the data-skipping premise, measured: range-partition 4096 points
    // into 16 files by (a) x alone and (b) z-order, then compare each
    // file's extent in the NON-leading dimension y — min/max stats on
    // a z-ordered layout prune y-selective scans, x-slabs never do
    val rnd = new scala.util.Random(77)
    val pts = Seq.fill(4096)((rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("x", "y")
      .withColumn("ci", floor(col("x")).cast("long"))
      .withColumn("cj", floor(col("y")).cast("long"))
    def meanYExtent(df: org.apache.spark.sql.DataFrame): Double = {
      val exts = df
        .withColumn("part", org.apache.spark.sql.functions.spark_partition_id())
        .groupBy("part").agg((max("y") - min("y")).as("ext"))
        .select("ext").as[Double].collect()
      exts.sum / exts.length
    }
    val byX = meanYExtent(pts.repartitionByRange(16, col("x")))
    val byZ = meanYExtent(pts.repartitionByRange(16,
      graft.ops.Grid.zValue(col("ci"), col("cj"))))
    assert(byX > 90.0, s"x-slabs should span ~full y range, got $byX")
    assert(byZ < 0.6 * byX, s"z-order y-extent $byZ not < 0.6 x-slab $byX")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    // external table paths in /tmp (warehouse.dir is a static conf);
    // the in-memory catalog only records the metadata
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Tables.orders(spark, sf0001)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/b_orders").saveAsTable("b_orders")
    Tables.lineitem(spark, sf0001)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/b_lineitem").saveAsTable("b_lineitem")
    // force SortMergeJoin (tiny test tables would auto-broadcast and
    // hide the bucketing): bucketed SMJ must need NO exchange
    val joined = spark.table("b_lineitem").hint("merge")
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    joined.collect()
    // bucketed-on-key join: SortMergeJoin with NO Exchange feeding it
    assert(plan.contains("SortMergeJoin"), plan.take(600))
    val exchangeBeforeJoin = plan.linesIterator
      .dropWhile(l => !l.contains("SortMergeJoin"))
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchangeBeforeJoin == 0, s"join still shuffles:\n$plan")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }

  test("quantizeInt8: codes in range, reconstruction within half a step, constants exact") {
    val embs = Seq(
      (1L, Array(-1.0f, 0.0f, 0.25f, 1.0f)),
      (2L, Array(0.5f, 0.5f, 0.5f)), // constant vector
      (3L, Array(3.25f, -7.5f, 0.125f, 2.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(embs)
    val qs = q.as[Similarity.QuantVec].collect().map(v => v.vec_id -> v).toMap
    assert(qs(1L).qmin == -1.0f && qs(1L).qmax == 1.0f)
    assert(qs.values.forall(_.codes.forall(c => c >= -127 && c <= 127)))
    assert(qs(2L).codes.forall(_ == 0))
    val deq = Similarity.dequantizeInt8(q).as[(Long, Array[Float])]
      .collect().toMap
    // constant vector reconstructs exactly
    assert(deq(2L).toSeq == Seq(0.5f, 0.5f, 0.5f))
    // everything else within half a quantization step
    for ((id, orig) <- Map(1L -> Array(-1.0f, 0.0f, 0.25f, 1.0f),
                           3L -> Array(3.25f, -7.5f, 0.125f, 2.5f, 0.0f))) {
      val step = (qs(id).qmax.toDouble - qs(id).qmin.toDouble) / 254.0
      orig.zip(deq(id)).foreach { case (v, vhat) =>
        assert(math.abs(v - vhat) <= step / 2 + 1e-6,
          s"vec $id: $v vs $vhat (step $step)")
      }
    }
    // endpoints map to the extreme codes
    assert(qs(1L).codes(0) == -127 && qs(1L).codes(3) == 127)
  }

  test("quantizeCodeSums matches a hand fold; empty vector fails loudly") {
    val embs = Seq((7L, Array(-1.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    // codes: -127, round(0.5*254)-127 = 0, 127 -> sum 0, wsum = -127 + 0 + 3*127
    val r = Similarity.quantizeCodeSums(embs).head()
    assert(r.getAs[Long]("dim") == 3L)
    assert(r.getAs[Long]("code_sum") == 0L)
    assert(r.getAs[Long]("code_wsum") == -127L + 3L * 127L)
    val bad = Seq((8L, Array.empty[Float])).toDF("vec_id", "embedding")
    val e = intercept[Exception] { Similarity.quantizeInt8(bad).count() }
    assert(msgs(e).exists(_.contains("vec_id=8")), e.getMessage)
  }
}
