package graft

import graft.ops.{Grid, Outliers}
import org.apache.spark.sql.functions._

class GridSpec extends SparkSpec {
  import spark.implicits._

  test("cellify quantizes with side=D/(2*sqrt(2))") {
    val side = Grid.sideFor(2.0)
    assert(math.abs(side - 0.7071067811865476) < 1e-15)
    val df = Seq((0.0, 0.0), (0.7, 0.0), (0.71, 0.0), (-0.1, -0.1))
      .toDF("x", "y")
    val cells = Grid.cellify(df, side).select("ci", "cj").as[(Long, Long)].collect()
    assert(cells(0) == ((0L, 0L)))
    assert(cells(1) == ((0L, 0L)))   // 0.70/side < 1
    assert(cells(2) == ((1L, 0L)))   // 0.71/side > 1
    assert(cells(3) == ((-1L, -1L))) // floor of negative
  }

  test("n3n7 on a hand-built 3-cell grid") {
    // cells (0,0):2 pts, (1,0):3 pts, (5,5):1 pt  (side=1.0)
    val pts = Seq.fill(2)((0.5, 0.5)) ++ Seq.fill(3)((1.5, 0.5)) ++ Seq((5.5, 5.5))
    val cells = Grid.cellHistogram(pts.toDF("x", "y"), 1.0)
    val stats = Grid.n3n7(cells).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // (0,0) and (1,0) are within each other's 3x3 AND 7x7; (5,5) isolated
    assert(stats((0L, 0L)) == ((2L, 5L, 5L)))
    assert(stats((1L, 0L)) == ((3L, 5L, 5L)))
    assert(stats((5L, 5L)) == ((1L, 1L, 1L)))
  }

  test("n3n7: N7 counts cells at Chebyshev distance exactly 3, N3 does not") {
    val pts = Seq((0.5, 0.5), (3.5, 0.5)) // cells (0,0) and (3,0): |di|=3
    val stats = Grid.n3n7(Grid.cellHistogram(pts.toDF("x", "y"), 1.0)).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(3), r.getLong(4)))).toMap
    assert(stats((0L, 0L)) == ((1L, 2L))) // n3=self only, n7 includes (3,0)
    assert(stats((3L, 0L)) == ((1L, 2L)))
  }

  test("exact outliers: distributed grid join == local O(N^2) on random points") {
    val rnd = new scala.util.Random(7)
    val pts = Array.fill(300)(Point(rnd.nextDouble() * 10, rnd.nextDouble() * 10))
    val d = 0.8; val m = 5
    val local = Outliers.exactOutliersLocal(pts, d, m) // (idx, cnt)
    val df = pts.zipWithIndex.map { case (p, i) => (i.toLong, p.x, p.y) }
      .toSeq.toDF("id", "x", "y")
    val dist = Outliers.neighborCounts(df, d)
      .where(col("cnt") <= m).orderBy("cnt", "id")
      .as[(Long, Long)].collect()
    assert(dist.map(t => (t._1.toInt, t._2.toInt)).toSeq == local.toSeq)
  }

  test("neighborCounts strip sweep == local O(N^2) on the sweep's edge cases") {
    def check(name: String, pts: Seq[(Double, Double)], d: Double): Unit = {
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }.toDF("id", "x", "y")
      val out = Outliers.neighborCounts(df, d)
      val cnt = out.schema("cnt")
      assert(cnt.dataType == org.apache.spark.sql.types.LongType && !cnt.nullable, s"$name: $cnt")
      val got = out.as[(Long, Long)].collect()
      assert(got.length == pts.length && got.map(_._1).distinct.length == pts.length,
        s"$name: not one row per input id")
      val want = Outliers.exactOutliersLocal(pts.map { case (x, y) => Point(x, y) }.toArray,
        d, Int.MaxValue).map { case (i, c) => (i.toLong, c.toLong) }.toMap
      assert(got.toMap == want, name)
    }
    check("single point", Seq((0.3, 0.7)), 1.0)
    check("duplicate coordinates", Seq.fill(5)((2.0, 3.0)) ++ Seq((2.0, 4.0), (2.0, 5.5)), 1.0)
    // 3-4-5 triangles: distances of exactly D in both axes and diagonally
    check("pairs exactly D apart", Seq((0.0, 0.0), (5.0, 0.0), (3.0, 4.0), (-3.0, -4.0),
      (0.0, 5.0), (0.0, -5.0)), 5.0)
    check("strip boundaries y = kD, kD ± D",
      for (k <- -3 to 3; x <- Seq(0.0, 0.5, 1.0)) yield (x, k.toDouble), 1.0)
    check("negative coordinates", Seq((-0.5, -0.5), (-1.2, -0.9), (-1.0, -1.0),
      (-3.5, -2.0), (-3.0, -2.5)), 1.0)
    check("every point in one strip", (0 until 40).map(i => (i * 0.3, 0.5 + (i % 3) * 0.1)), 1.0)
    // strips 0 and 2 are occupied: strips 1 and 3 hold only halo rows
    check("halo-only strips", Seq((0.0, 0.2), (0.4, 0.9), (0.2, 2.1), (0.6, 2.95)), 1.0)
    val rnd = new scala.util.Random(11)
    check("quarter lattice: duplicates, exact-D pairs, negatives",
      Seq.fill(400)(((rnd.nextInt(17) - 8) * 0.25, (rnd.nextInt(17) - 8) * 0.25)), 0.5)
  }

  test("approx bracket invariant: sure <= exact <= sure+uncertain") {
    val rnd = new scala.util.Random(13)
    val pts = Array.fill(400)(Point(rnd.nextDouble() * 20, rnd.nextDouble() * 20))
    val d = 1.0; val m = 3
    val exact = Outliers.exactOutliersLocal(pts, d, m).length
    val df = pts.map(p => (p.x, p.y)).toSeq.toDF("x", "y")
    val row = Outliers.approxOutlierCounts(df, d, m).head()
    val (sure, uncertain) = (row.getLong(0), row.getLong(1))
    assert(sure <= exact, s"sure=$sure exact=$exact")
    assert(exact <= sure + uncertain, s"exact=$exact sure+unc=${sure + uncertain}")
  }
}
