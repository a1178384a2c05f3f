package graft

import graft.functions.{GraftExtensions, Native}
import org.apache.spark.sql.SparkSessionExtensions

class NativeFunctionsSpec extends SparkSpec {

  test("native functions are SQL-callable after registration") {
    Native.register(spark)
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(dot == 11.0)
    val mds = spark.sql(
      "SELECT graft_min_dist_sq(0.0D, 0.0D, array(3.0D, 4.0D, 1.0D, 0.0D)) AS d")
      .head().getDouble(0)
    assert(mds == 1.0) // (1,0) is nearer than (3,4)
  }

  test("type check rejects wrong argument types with a clear error") {
    Native.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(1, 2)").collect()
    }
    assert(e.getMessage.contains("graft_dot"))
  }

  test("GraftExtensions injects both functions (builder smoke)") {
    // applying the extensions object must not throw
    new GraftExtensions().apply(new SparkSessionExtensions)
    // one more input: a session BUILT with the extension resolves every
    // name Native.register installs (one table drives both)
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    Native.register(spark)
    val installed = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(installed.size == 11 && installed.contains("graft_zorder"),
      installed.toSeq.sorted.mkString(","))
    // a fresh session over the running context: clear the shared
    // session for the build, then restore it for every later suite
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext =
      try SparkSession.builder().withExtensions(new GraftExtensions)
        .getOrCreate()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    assert(ext ne spark, "the builder reused the shared session")
    val missing = installed.filterNot(n =>
      ext.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty,
      s"extension-built session misses ${missing.toSeq.sorted.mkString(",")}")
  }

  test("WordNgrams matches the interpreted HOF formulation, including edges") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def hof(toks: Column, n: Int): Column =
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
        .otherwise(array().cast("array<string>"))
    val edges = Seq("", "one", "a b", "a b c", "x,y;z x", "7 7 7 7").toDF("text")
    val docs = queries.Tables.documents(spark, sf0001)
      .select("text").limit(300).unionByName(edges)
    for (n <- Seq(2, 3, 5)) {
      val toks = graft.ops.Text.tokens(col("text"))
      val bad = docs
        .select(graft.ops.Text.wordNgrams(col("text"), n).as("a"), hof(toks, n).as("b"))
        .where(!(col("a") <=> col("b")))
        .count()
      assert(bad == 0, s"n-gram mismatch at n=$n")
    }
  }

  test("rpBucket literal hyperplanes are bit-identical to the seeded HOF formulation") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val dim = 64; val nBits = 4; val seed = 42L
    def hofBucket(vec: Column): Column =
      (0 until nBits).map { b =>
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), lit(dim - 1)),
            (x, i) => x.cast("double") *
              (pmod(xxhash64(i, lit(b), lit(seed)), lit(1L << 32)).cast("double")
                / lit((1L << 32).toDouble) - lit(0.5))),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    val bad = queries.Tables.embeddings(spark, sf0001)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(graft.ops.Similarity.rpBucket(col("v"), dim, nBits, seed).as("a"),
        hofBucket(col("v")).as("b"))
      .where(col("a") =!= col("b"))
      .count()
    assert(bad == 0, "bucket ids diverged from the seeded HOF reference")
  }

  test("TopDot: SQL surface, ordering, ties, and k > nlist") {
    Native.register(spark)
    // 2 centroids, k=3 > nlist → both, ordered by (dot desc, list asc)
    val r = spark.sql(
      "SELECT graft_top_dot(array(1.0D, 0.0D), array(0.0D, 1.0D, 1.0D, 0.0D), 3) AS t")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(x => (x.getInt(0), x.getDouble(1))) == Seq((1, 1.0), (0, 0.0)))
    // duplicate dots: lower list index wins the tie
    val tie = spark.sql(
      "SELECT graft_top_dot(array(1.0D), array(2.0D, 2.0D, 3.0D), 2) AS t")
      .head().getSeq[org.apache.spark.sql.Row](0).map(_.getInt(0))
    assert(tie == Seq(2, 0))
  }

  test("TopDot: a data/centroid dimension mismatch fails loudly") {
    Native.register(spark)
    // vec dim 3 vs flat length 4 — truncation would score garbage slices
    val e = intercept[Exception] {
      spark.sql(
        "SELECT graft_top_dot(array(1.0D, 0.0D, 0.0D), array(0.0D, 1.0D, 1.0D, 0.0D), 1) AS t")
        .head()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("dim mismatch")), e.getMessage)
  }

  test("PqAdc: hand-computed score, SQL surface, loud failures") {
    Native.register(spark)
    // codes X'0102' (m=2) against a 6-entry LUT → ksub=3:
    // score = lut[0·3+1] + lut[1·3+2] = 20 + 3
    val s = spark.sql(
      "SELECT graft_pq_adc(X'0102', array(10D, 20D, 30D, 1D, 2D, 3D)) AS s")
      .head().getDouble(0)
    assert(s == 23.0)
    // unsigned code bytes: X'FF' is centroid 255, not −1
    val u = spark.sql(
      s"SELECT graft_pq_adc(X'FF', array(${(0 to 255).map(i => s"${i}D").mkString(",")})) AS s")
      .head().getDouble(0)
    assert(u == 255.0)
    // empty codes + empty LUT = 0.0 (the empty-dot analog)
    val z = spark.sql(
      "SELECT graft_pq_adc(X'', CAST(array() AS array<double>)) AS s")
      .head().getDouble(0)
    assert(z == 0.0)
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    // LUT length not a multiple of m — a truncating ksub would read
    // a neighboring subspace's slice
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_pq_adc(X'0001', array(1D, 2D, 3D, 4D, 5D)) AS s").head()
    }
    assert(msgs(e1).exists(_.contains("not a multiple")), e1.getMessage)
    // code ≥ ksub — an overread would score another subspace's slot
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_pq_adc(X'03', array(1D, 2D, 3D)) AS s").head()
    }
    assert(msgs(e2).exists(_.contains("out of range")), e2.getMessage)
  }

  test("TopKByCosAgg == rank-window top-k, planted ties included") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // candidates with deliberate cos ties within and across queries,
    // over enough partitions that the merge path runs
    val scored = spark.range(3000).select(
        pmod(col("id"), lit(7)).as("vec_id"),
        col("id").as("nn_id"),
        (pmod(xxhash64(col("id")), lit(5)).cast("double") / 5.0).as("cos"))
      .repartition(8)
    for (k <- Seq(1, 3, 32)) {
      val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nn_id"))
      val win = scored.withColumn("rk", row_number().over(w))
        .where(col("rk") <= k).select("vec_id", "nn_id")
        .as[(Long, Long)].collect().toSet
      val topk = udaf(new graft.functions.TopKByCosAgg(k))
      val agg = scored.groupBy("vec_id")
        .agg(topk(col("nn_id"), col("cos")).as("tk"))
        .select(col("vec_id"), explode(col("tk")).as("e"))
        .select(col("vec_id"), col("e.nn_id"))
        .as[(Long, Long)].collect().toSet
      assert(agg === win, s"k=$k: aggregate top-k diverged from the rank window")
    }
  }

  test("TopDot matches a driver-side twin on real embeddings") {
    import org.apache.spark.sql.functions._
    val embs = queries.Tables.embeddings(spark, sf0001)
    val cents = graft.ops.Similarity.ivfCentroids(embs, 8)
    val flat = lit(cents.flatten)
    val rows = embs
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("t", Native.topDotNative(spark, col("v"), flat, 3))
      .limit(200).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      // same i-ascending IEEE accumulation order as the expression
      val dots = cents.map { c =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += c(i) * v(i); i += 1 }
        s
      }
      val exp = dots.zipWithIndex.sortBy { case (d, i) => (-d, i) }.take(3).map(_._2).toSeq
      val got = r.getSeq[org.apache.spark.sql.Row](2).map(_.getInt(0))
      assert(got == exp, s"top-3 lists diverged for vec ${r.getLong(0)}")
    }
  }

  test("zorder: matches a bit-by-bit reference interleave; ordering; range guard") {
    import graft.functions.InterleaveBits
    // bit-by-bit reference on signed inputs via the same +2^31 bias
    def ref(i: Long, j: Long): Long = {
      val bi = i + 0x80000000L; val bj = j + 0x80000000L
      var z = 0L
      for (b <- 0 until 32)
        z |= (((bi >> b) & 1L) << (2 * b)) | (((bj >> b) & 1L) << (2 * b + 1))
      z ^ Long.MinValue // signed-comparable form (see InterleaveBits.zValue)
    }
    val rnd = new scala.util.Random(3)
    val cases = Seq((0L, 0L), (-1L, 1L), (Int.MaxValue.toLong, Int.MinValue.toLong)) ++
      Seq.fill(200)((rnd.nextInt().toLong, rnd.nextInt().toLong))
    for ((i, j) <- cases)
      assert(InterleaveBits.zValue(i, j) == ref(i, j), s"($i, $j)")
    // z respects quadrant order: all-negative quadrant < all-positive
    assert(InterleaveBits.zValue(-5L, -5L) < InterleaveBits.zValue(5L, 5L))
    intercept[IllegalArgumentException] {
      InterleaveBits.zValue(Int.MaxValue.toLong + 1, 0L)
    }
    // SQL surface agrees with the static twin
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = Seq((3L, 5L)).toDF("i", "j")
      .select(graft.ops.Grid.zValue(col("i"), col("j"))).as[Long].head()
    assert(got == InterleaveBits.zValue(3L, 5L))
  }

  test("interpreted eval path (nullSafeEval) agrees with codegen results") {
    import graft.functions.{DotProduct, MinDistSq}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val d = DotProduct(dArr(Seq(1.0, 2.0)), dArr(Seq(3.0, 4.0))).eval(null)
    assert(d == 11.0)
    val m = MinDistSq(Literal(0.0), Literal(0.0), dArr(Seq(3.0, 4.0, 1.0, 0.0))).eval(null)
    assert(m == 1.0)
  }

  private def dArr(xs: Seq[Double]) = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    Literal.create(ArrayData.toArrayData(xs.toArray), ArrayType(DoubleType))
  }
  private def lArr(xs: Seq[Long]) = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    Literal.create(ArrayData.toArrayData(xs.toArray), ArrayType(LongType))
  }

  test("GatherVecs: found ids emitted in order with their slices; absent ids skipped; wanted dedup/sort") {
    import graft.functions.GatherVecs
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    // segment: ids [2, 5, 9], dim 2, packed = vec2|vec5|vec9
    val packed = dArr(Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6))
    val ids = lArr(Seq(2L, 5L, 9L))
    def run(wanted: Seq[Long]): Seq[(Long, Seq[Double])] = {
      val out = GatherVecs(packed, ids, lArr(wanted)).eval(null)
        .asInstanceOf[ArrayData]
      (0 until out.numElements()).map { i =>
        val row = out.getStruct(i, 2)
        (row.getLong(0),
          row.getArray(1).toDoubleArray().toSeq)
      }
    }
    assert(run(Seq(1L, 5L, 9L, 100L)) ===
      Seq((5L, Seq(0.3, 0.4)), (9L, Seq(0.5, 0.6))))
    // unsorted + duplicated wanted set gathers identically (the
    // expression dedups and sorts its literal once)
    assert(run(Seq(9L, 5L, 9L, 1L, 5L)) === run(Seq(1L, 5L, 9L)))
    assert(run(Seq.empty) === Seq.empty)
    assert(run(Seq(1L, 3L, 100L)) === Seq.empty)
    // layout guards fail loudly
    intercept[IllegalArgumentException] {
      GatherVecs(dArr(Seq(0.1)), lArr(Seq.empty), lArr(Seq(1L))).eval(null)
    }
    intercept[IllegalArgumentException] {
      GatherVecs(dArr(Seq(0.1, 0.2, 0.3)), lArr(Seq(1L, 2L)), lArr(Seq(1L))).eval(null)
    }
  }

  test("GatherVecs over ivfPack segments == ivfUnpack filtered to the wanted ids (exact doubles)") {
    import graft.ops.Similarity
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 8
    val rows = (1L to 300L).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i, v.map(_ / n).toSeq, (i % 5).toInt)
    }
    val index = rows.toDF("nn_id", "vb", "list")
    val packed = Similarity.ivfPack(index, dim, segSize = 32)
    val wanted = Array(3L, 77L, 150L, 151L, 299L, 9999L)
    val got = packed
      .select(explode(Native.gatherVecsNative(spark, col("packed"),
        col("ids"), wanted)).as("e"))
      .select(col("e.nn_id").as("nn_id"), col("e.vb").as("vb"))
    val want = Similarity.ivfUnpack(packed)
      .where(col("nn_id").isin(wanted.toSeq: _*))
      .select("nn_id", "vb")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "gather must recover exactly the unpack-then-filter rows")
    assert(got.count() === 5, "every present wanted id found exactly once")
    // the one packer: both payloads under both segment rules unpack to
    // their input rows, and the packed scans answer identically under
    // either rule (segments of ≤ 32 entries, so every list splits)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val embs = rows.map { case (i, v, _) => (i, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(embs, 5)
    val books = Similarity.pqTrain(embs, m = 4, ksub = 16)
    val floats = Similarity.ivfAssign(embs, cents)
    val codes = floats.select("nn_id", "list").join(Similarity.pqEncode(embs, books)
      .select(col("vec_id").as("nn_id"), col("codes")), "nn_id")
    val queries = embs.where(col("vec_id") % 7 === 0)
    val answers = Seq(Similarity.HashSegments(), Similarity.WindowSegments).map { rule =>
      val pf = Similarity.packSegments(floats, Similarity.Floats(dim), rule, segSize = 32)
      val pc = Similarity.packSegments(codes, Similarity.Codes(4), rule, segSize = 32)
      assert(pf.count() > 5 && pc.count() > 5, s"$rule: lists were not split")
      if (rule == Similarity.WindowSegments)
        assert(pf.where(size(col("ids")) > 32).isEmpty, "oversized window segment")
      assert(same(Similarity.ivfUnpack(pf), floats.select("nn_id", "vb", "list")),
        s"$rule: float unpack != input rows")
      assert(same(Similarity.pqUnpack(pc), codes.select("nn_id", "list", "codes")),
        s"$rule: code unpack != input rows")
      (Similarity.annIvfFromPacked(pf, queries, 3, 2, cents)
        .as[(Long, Long, Int)].collect().toSet,
       Similarity.pqPackedShortlist(pc, queries, 2, cents, books, 8,
         "vec_id", "embedding", lit(true), excludeSelf = true)
         .as[(Long, Long)].collect().toSet)
    }
    assert(answers.head._1.nonEmpty && answers.head._2.nonEmpty)
    assert(answers.head === answers.last,
      "hash and window segments must answer identically")
  }
}
