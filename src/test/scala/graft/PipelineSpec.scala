package graft

import graft.ops.Outliers
import graft.pipelines.{Hw1, Hw2, Hw3}
import java.nio.file.Files

/** End-to-end pipeline façades on a desk-checkable 15-point fixture
  * (same shape as the reference's TestN15: small clusters + isolated
  * points, synthesized here — not copied), a seeded TestN15-shaped
  * twin for the O(N²) parity, and seeded NYC-pickup-shaped clouds at
  * the scales of the reference's uber-10k/100k for the radius and
  * bracket laws. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // 2 tight pairs, one 4-cluster, 3 isolated points
  private val fixture = Seq(
    (0.0, 0.0), (0.1, 0.0),
    (5.0, 5.0), (5.1, 5.0), (5.0, 5.1), (5.1, 5.1),
    (9.0, 1.0), (9.1, 1.0),
    (2.0, 8.0), (7.0, 9.0), (1.0, 4.0),
    (3.0, 3.0), (3.1, 3.0), (3.0, 3.1), (2.9, 3.0),
  )

  private def writeCsv(name: String, pts: Iterator[String]): String = {
    val dir = Files.createTempDirectory("graft_pts").toString
    val f = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(f)
    pts.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  private lazy val csvPath: String =
    writeCsv("pts.csv", fixture.iterator.map { case (x, y) => s"$x,$y" })

  /** TestN15-shaped (x∈[0.4,4.32], y∈[0.9,5.1]; clusters of 2, 3 and
    * 4 points plus isolated ones, 2-decimal coordinates), seeded. */
  private val seededN15: Seq[(Double, Double)] = {
    val r = new scala.util.Random(15L)
    def round2(v: Double): Double = math.rint(v * 100.0) / 100.0
    def u(lo: Double, hi: Double): Double = round2(lo + r.nextDouble() * (hi - lo))
    val pts = scala.collection.mutable.LinkedHashSet.empty[(Double, Double)]
    Seq(2, 3, 4).foreach { k =>
      val (cx, cy) = (u(0.8, 3.9), u(1.3, 4.7))
      def near(p: (Double, Double)): Boolean =
        math.abs(p._1 - cx) < 0.3 && math.abs(p._2 - cy) < 0.3
      while (pts.count(near) < k) {
        val p = (round2(cx + r.nextGaussian() * 0.12),
          round2(cy + r.nextGaussian() * 0.12))
        if (near(p)) pts += p
      }
    }
    while (pts.size < 15) pts += ((u(0.4, 4.32), u(0.9, 5.1)))
    pts.toSeq
  }

  /** NYC-pickup-shaped cloud at the reference's uber-10k/100k scale
    * (lat∈[40.23,41.37], lon∈[−74.70,−72.92], skewed density): a
    * dense core, two borough-sized blobs, two tight airport hotspots
    * and a thin uniform background, 4-decimal coordinates. Seeded. */
  private def uberShaped(n: Int, seed: Long): String = {
    val r = new scala.util.Random(seed)
    // (share, lat, lon, sigma lat, sigma lon); the rest is background
    val blobs = Seq(
      (0.55, 40.755, -73.980, 0.030, 0.020),
      (0.15, 40.680, -73.960, 0.030, 0.030),
      (0.12, 40.740, -73.880, 0.030, 0.030),
      (0.06, 40.645, -73.785, 0.006, 0.006),
      (0.06, 40.772, -73.872, 0.005, 0.005))
    val cum = blobs.scanLeft(0.0)(_ + _._1).tail
    writeCsv(s"uber-$n.csv", Iterator.fill(n) {
      val pick = cum.indexWhere(r.nextDouble() < _)
      val (lat, lon) =
        if (pick < 0) (40.23 + r.nextDouble() * 1.14, -74.70 + r.nextDouble() * 1.78)
        else {
          val (_, a, b, sa, sb) = blobs(pick)
          (a + r.nextGaussian() * sa, b + r.nextGaussian() * sb)
        }
      "%.4f,%.4f".formatLocal(java.util.Locale.ROOT, lat, lon)
    })
  }

  private def field(lines: Seq[String], prefix: String): String =
    lines.find(_.startsWith(prefix)).get.stripPrefix(prefix)

  test("Hw1: exact + approx outlier report, desk-checked") {
    // D=0.5, M=2: neighborhoods within 0.5 — the two pairs have
    // cnt 2 (self+1), the two 4-clusters cnt 4, isolated cnt 1.
    // Outliers (cnt<=2): 2 pairs (4 pts) + 3 isolated = 7 points
    val lines = Hw1.run(spark, csvPath, d = 0.5, m = 2, k = 3, l = 2)
    assert(lines.exists(_ == "Number of points = 15"))
    assert(lines.exists(_ == "Number of Outliers = 7"))
    assert(lines.count(_.startsWith("Point: (")) == 3)
    assert(lines.exists(_.startsWith("Number of sure outliers= ")))
    assert(lines.exists(_.startsWith("Cell: (")))
    // bracket invariant on the same run
    val sure = lines.find(_.startsWith("Number of sure outliers= ")).get.split("= ")(1).toLong
    val unc  = lines.find(_.startsWith("Number of uncertain points= ")).get.split("= ")(1).toLong
    assert(sure <= 7 && 7 <= sure + unc)
  }

  test("Hw1 matches the O(N²) exactOutliersLocal twin on TestN15-shaped inputs, two parameter sets") {
    // the engine orders outliers by (cnt, id) where id is the (x, y)
    // rank (Points.withIds), so the twin is fed the points in the same
    // sorted order — then twin index order == engine id order and the
    // printed top-K sequences must agree exactly
    for (input <- Seq(fixture, seededN15)) {
      assert(input.distinct.length == 15)
      val sorted = input.map { case (x, y) => graft.Point(x, y) }
        .sortBy(p => (p.x, p.y)).toArray
      val path = writeCsv("n15.csv", input.iterator.map { case (x, y) => s"$x,$y" })
      for ((d, m, k) <- Seq((0.5, 2, 3), (1.0, 3, 5))) {
        val expected = Outliers.exactOutliersLocal(sorted, d, m)
        val lines = Hw1.run(spark, path, d = d, m = m, k = k, l = 2)
        assert(lines.contains("Number of points = 15"))
        assert(lines.contains(s"Number of Outliers = ${expected.length}"),
          s"outlier count diverged at D=$d M=$m")
        val expLines = expected.take(k).map { case (i, _) =>
          s"Point: (${sorted(i).x}, ${sorted(i).y})"
        }.toSeq
        assert(lines.filter(_.startsWith("Point: (")) == expLines,
          s"top-K points diverged at D=$d M=$m K=$k")
        // cross-validation on the same run: sure ≤ exact ≤ sure+unc
        val sure = field(lines, "Number of sure outliers= ").toLong
        val unc = field(lines, "Number of uncertain points= ").toLong
        assert(sure <= expected.length && expected.length <= sure + unc)
      }
    }
  }

  test("Hw1+Hw2 on NYC-pickup-shaped clouds at 10k and 100k points: radius and bracket laws") {
    // 10k: structure + the radius laws (a ~1-degree cloud: the k-center
    // radius is positive and below the data diameter)
    val p10k = uberShaped(10000, seed = 10L)
    val l10k = Hw2.run(spark, p10k, m = 3, k = 16, l = 4)
    assert(l10k.contains("Number of points = 10000"))
    val r10k = field(l10k, "Radius = ").toDouble
    assert(r10k > 0.0 && r10k < 2.0, s"radius $r10k outside sane range")
    val sure10k = field(l10k, "Number of sure outliers= ").toLong
    val unc10k = field(l10k, "Number of uncertain points= ").toLong
    assert(sure10k >= 0 && unc10k >= 0 && sure10k + unc10k <= 10000)
    // 100k: the cross-algorithm bracket law (grid-approx sure ≤ exact
    // ≤ sure+uncertain, two INDEPENDENT formulations agreeing) and the
    // radius laws
    val p100k = uberShaped(100000, seed = 100L)
    val l1 = Hw1.run(spark, p100k, d = 0.004, m = 5, k = 8, l = 8)
    assert(l1.contains("Number of points = 100000"))
    val exact = field(l1, "Number of Outliers = ").toLong
    val sure = field(l1, "Number of sure outliers= ").toLong
    val unc = field(l1, "Number of uncertain points= ").toLong
    assert(sure <= exact && exact <= sure + unc,
      s"bracket law violated at 100k: sure=$sure exact=$exact unc=$unc")
    val l2 = Hw2.run(spark, p100k, m = 5, k = 16, l = 8)
    assert(l2.contains("Number of points = 100000"))
    val radius = field(l2, "Radius = ").toDouble
    assert(radius > 0.0 && radius < 2.0, s"radius $radius outside sane range")
  }

  test("Hw2: MRFFT radius + outliers report") {
    val lines = Hw2.run(spark, csvPath, m = 2, k = 4, l = 2)
    assert(lines.exists(_ == "Number of points = 15"))
    val radius = lines.find(_.startsWith("Radius = ")).get.split("= ")(1).toDouble
    assert(radius > 0 && radius < 12)
    assert(lines.exists(_.startsWith("Running time of MRFFT Round 1 = ")))
    assert(lines.exists(_.startsWith("Running time of MRFFT Round 3 = ")))
  }

  test("Hw2.referenceConf: the reference's locality relaxation lands in the build conf") {
    // G029HW2.py:148 — conf.set("spark.locality.wait", "0s"); a
    // scheduler conf, so parity is at session BUILD time
    val c = Hw2.referenceConf(new org.apache.spark.SparkConf(false))
    assert(c.get("spark.locality.wait") === "0s")
  }

  test("Hw3: frequent-items report with +/- annotations") {
    val xs = (Seq.fill(40)(7L) ++ Seq.fill(25)(9L) ++ (100L until 135L))
    val items = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("ord", "item")
    val lines = Hw3.run(items, n = 100L, phi = 0.2, eps = 0.1, delta = 0.1, port = "test")
    assert(lines.exists(_ == "INPUT PROPERTIES"))
    assert(lines.exists(_ == "n = 100 phi = 0.2 epsilon = 0.1 delta = 0.1 port = test"))
    assert(lines.exists(_ == "Number of true frequent items = 2"))
    assert(lines.exists(_ == "Size m of the sample = 5"))
    // every annotated line is "<item> +" or "<item> -"
    val annotated = lines.filter(l => l.endsWith(" +") || l.endsWith(" -"))
    assert(annotated.nonEmpty)
    // true frequent (7, 9) printed as bare items in the exact section
    assert(lines.contains("7") && lines.contains("9"))
  }
}
