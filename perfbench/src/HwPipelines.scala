package graftbench

import scala.collection.mutable

import graft.ops.{Fft, Freq, Outliers}
import graft.pipelines.{Hw1, Hw2, Hw3}
import graft.sources.Points
import graft.streaming.Bounded
import org.apache.spark.sql.functions.col

/** `hw_pipelines`: the paper's three programs on their own inputs — a
  * headerless `x,y` CSV point cloud (Hw1, Hw2) and an `ord, item`
  * stream of parquet chunks (Hw3 over `Bounded.fileStream`) — then the
  * catalog queries over fixed tables. */
object HwPipelines {
  val D = 0.1
  val M = 3
  val K = 10
  val L = 4
  val K2 = 60
  val Phi = 0.07
  val Eps = 0.03
  val Delta = 0.1

  // the constants of the `outlier_exact` catalog query (OutlierQueries)
  val CatalogDx = 0.5
  val CatalogM = 10
  val CatalogK = 20
  val FftM = 10 // FftQueries' M
  val CatalogQueries = Seq("outlier_exact", "fft_outliers")

  def run(c: Ctx): Unit = {
    val csv = s"${c.input}/points.csv"
    val items = s"${c.input}/items"
    val catalogDir = s"${c.input}/catalog"
    val n = c.spark.read.parquet(items).count()

    def batchPass(cloud: String, k: Int): (Seq[String], Bounded.StreamState, Double, Double, Double) = {
      val (l1, t1) = c.span("pipelines.Hw1.run")(Hw1.run(c.spark, cloud, D, M, K, L))
      val (_, t2) = c.span("pipelines.Hw2.run")(Hw2.run(c.spark, cloud, M, K2, L))
      val (st, t3) = c.op("hw3") {
        val m = math.ceil(1.0 / Phi).toInt
        val stickyP = math.min(1.0, Freq.stickyRate(Phi, Eps, Delta) / n)
        val s = Tracer.span("streaming.Bounded.run")(Bounded.run(
          Bounded.fileStream(c.spark, items), n, m, stickyP, 42L, s"${c.work}/hw3-ckpt-$k"))
        Tracer.span("pipelines.Hw3.report")(Hw3.report(s, n, Phi, Eps, Delta, "events"))
        s
      }
      (l1, st, t1, t2, t3)
    }
    // warm-up: one untimed pass over a small cloud (JIT, code generation,
    // file listings); a cold pass varies by a quarter from run to run
    batchPass(s"${c.input}/warmup.csv", 0)
    c.setupDone()

    // one timed pass over the large cloud, where Hw1's pair join and
    // cell aggregates, not the number of jobs, set the time
    var hw1 = Seq.empty[String]
    var state: Bounded.StreamState = null
    c.batch {
      val (l1, st, t1, t2, t3) = batchPass(csv, 1)
      hw1 = l1; state = st
      c.metric("hw1_s", t1, "s")
      c.metric("hw2_s", t2, "s")
      c.metric("hw3_s", t3, "s")
      t1 + t2 + t3
    }
    c.tracedApart(layerCalls(c, csv))
    // the rest of the catalog, once; it also warms the driver's planning
    // code for the request loop
    Catalog.run(c, catalogDir, c.seed)

    // interactive part: the two catalog queries that run the paper's
    // pipelines through `SparkEntry`, each built and forced with count()
    val queries = graft.SparkEntry.queries
    val build, exec = CatalogQueries.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    def request(): Double = CatalogQueries.map { q =>
      Tracer.span(s"queries.$q") {
        val (df, b) = c.op(s"queries.$q build")(queries(q)(c.spark, catalogDir))
        val (_, e) = c.op(s"queries.$q count")(df.count())
        build(q) += b; exec(q) += e
        b + e
      }
    }.sum
    // warm-up: the driver-side planning code is still being compiled
    // over the first few requests
    (1 to 5).foreach(_ => request())
    c.requests(min = 5, round = 1)(_ => request())
    for (q <- CatalogQueries) {
      c.layer(s"queries.$q.build_s", Stats.median(build(q).toSeq))
      c.layer(s"queries.$q.exec_s", Stats.median(exec(q).toSeq))
    }
    verify(c, csv, items, hw1, state)
    verifyCatalog(c, catalogDir, queries)
  }

  /** Hw1's and then Hw2's composition of public `sources`/`ops`
    * functions, call for call and action for action, each call in a span
    * of its own, so that their layer counters are measured apart from
    * the pipelines (whose spans cannot split them). */
  private def layerCalls(c: Ctx, csv: String): Unit = {
    val pts = Points.fromCsv(c.spark, csv, L).cache()
    pts.count()
    val withIds = Tracer.span("sources.Points.withIds")(Points.withIds(pts))
    Tracer.span("ops.Outliers.neighborCounts") {
      val outliers = Outliers.neighborCounts(withIds, D).where(col("cnt") <= M)
      outliers.count()
      outliers.orderBy(col("cnt"), col("id")).limit(K).join(withIds, "id").collect()
    }
    Tracer.span("ops.Outliers.approxOutlierCounts")(Outliers.approxOutlierCounts(pts, D, M).head())
    val coreset = Tracer.span("ops.Fft.coreset")(Fft.coreset(pts, K2, L))
    val radius = Tracer.span("ops.Fft.radius")(Fft.radius(pts, Fft.seqFFT(coreset, K2)))
    Tracer.span("ops.Outliers.approxOutlierCounts")(Outliers.approxOutlierCounts(pts, radius, M).head())
    pts.unpersist()
  }

  private def field(lines: Seq[String], prefix: String): Long =
    lines.find(_.startsWith(prefix)).map(_.stripPrefix(prefix).trim.toLong)
      .getOrElse(sys.error(s"no '$prefix' line in report"))

  /** Checks against plain-Scala references computed from the inputs. */
  private def verify(c: Ctx, csv: String, items: String, hw1: Seq[String],
                     state: Bounded.StreamState): Unit = {
    val pts = scala.io.Source.fromFile(csv)
    val xy = try pts.getLines().map { l =>
      val Array(x, y) = l.split(','); (x.toDouble, y.toDouble)
    }.toArray finally pts.close()
    val exact = field(hw1, "Number of Outliers =")
    val ref = localOutliers(xy, D, M)
    c.check("hw1_exact_matches_grid_reference", exact == ref, s"engine $exact, reference $ref")
    val sure = field(hw1, "Number of sure outliers=")
    val unc = field(hw1, "Number of uncertain points=")
    c.check("hw1_sure_le_exact_le_sure_plus_uncertain", sure <= exact && exact <= sure + unc,
      s"sure $sure, exact $exact, uncertain $unc")

    val counts = mutable.HashMap.empty[Long, Long]
    c.spark.read.parquet(items).select("item").collect().foreach { r =>
      counts(r.getLong(0)) = counts.getOrElse(r.getLong(0), 0L) + 1L
    }
    val n = counts.values.sum
    val trueFreq = counts.collect { case (k, v) if v >= Phi * n => k }.toSeq.sorted
    c.check("hw3_exact_frequent_matches_local_count", state.exactFrequent(Phi) == trueFreq,
      s"engine ${state.exactFrequent(Phi)}, reference $trueFreq")
    val m = math.ceil(1.0 / Phi).toInt
    c.check("hw3_reservoir_size", state.reservoir.size == m,
      s"reservoir ${state.reservoir.size}, expected $m")
    val sticky = state.stickyFrequent(Phi, Eps).toSet
    c.check("hw3_sticky_reports_every_true_frequent_item", trueFreq.forall(sticky),
      s"missing ${trueFreq.filterNot(sticky)}")
    c.info("points", xy.length)
    c.info("items", n)
  }

  /** `outlier_exact` is the first K (id, count) pairs by (count, id) of
    * the exact outliers; `fft_outliers` must bracket the exact count at
    * its own radius: sure ≤ exact ≤ sure + uncertain. */
  private def verifyCatalog(c: Ctx, dir: String,
                            queries: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame]): Unit = {
    val li = c.spark.read.parquet(s"$dir/lineitem.parquet").select(
      (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
      (col("l_extendedprice") / 1000.0).as("x"), col("l_quantity").as("y")).collect()
    val ids = li.map(_.getLong(0))
    val xy = li.map(r => (r.getDouble(1), r.getDouble(2)))
    val cnt = neighborCounts(xy, CatalogDx)
    val ref = ids.indices.filter(cnt(_) <= CatalogM).map(i => (ids(i), cnt(i).toLong))
      .sortBy(t => (t._2, t._1)).take(CatalogK)
    val got = queries("outlier_exact")(c.spark, dir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cnt"))).toSeq.sortBy(t => (t._2, t._1))
    c.check("catalog_outlier_exact_matches_reference", got == ref,
      s"engine ${got.take(5)}..., reference ${ref.take(5)}...")
    val f = queries("fft_outliers")(c.spark, dir).collect().head
    val (sure, unc, r) = (f.getAs[Long]("sure"), f.getAs[Long]("uncertain"), f.getAs[Double]("radius"))
    val exact = neighborCounts(xy, r).count(_ <= FftM).toLong
    c.check("catalog_fft_outliers_bracket_exact", sure <= exact && exact <= sure + unc,
      s"sure $sure, exact $exact, uncertain $unc at radius $r")
  }

  /** Points with at most `m` points (itself included) within distance
    * `d`, by bucketing on a side-`d` grid and scanning the 3×3 block. */
  def localOutliers(xy: Array[(Double, Double)], d: Double, m: Int): Long =
    neighborCounts(xy, d).count(_ <= m).toLong

  /** Per point, the points (itself included) within distance `d`. */
  def neighborCounts(xy: Array[(Double, Double)], d: Double): Array[Int] = {
    val cells = xy.indices.groupBy { i =>
      (math.floor(xy(i)._1 / d).toLong, math.floor(xy(i)._2 / d).toLong)
    }
    val d2 = d * d
    xy.indices.map { i =>
      val (x, y) = xy(i)
      val (bi, bj) = (math.floor(x / d).toLong, math.floor(y / d).toLong)
      var cnt = 0
      for (di <- -1L to 1L; dj <- -1L to 1L; j <- cells.getOrElse((bi + di, bj + dj), Nil)) {
        val dx = x - xy(j)._1
        val dy = y - xy(j)._2
        if (dx * dx + dy * dy <= d2) cnt += 1
      }
      cnt
    }.toArray
  }
}
