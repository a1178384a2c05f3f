package graft.ops

import graft.Point
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** (D,M)-outlier detection: exact and grid-approximate.
  *
  * Reference semantics (`HWK_1/G029HW1.py`):
  *  - Exact (`ExactOutliers`, lines 16-49): for each point, count the
  *    points at distance ≤ D (the point itself counts, init 1); a
  *    (D,M)-outlier has count ≤ M. Output the outlier count and the
  *    first K outliers by non-decreasing neighbor count.
  *  - Approximate (`MRApproxOutliers`, lines 96-120): on the
  *    side = D/(2√2) grid, a cell's points are *sure* outliers when
  *    N7 ≤ M, *uncertain* when N3 ≤ M < N7; also report the K
  *    smallest non-empty cells.
  *
  * The reference's exact path is a driver-side O(N²) loop capped at
  * N ≤ 200 000 (`HWK_1/G029HW1.py:18-32,155`). Here the all-pairs
  * distance theta-join is a strip sweep ([[Outliers.neighborCounts]]):
  * one shuffle on the strip key, one on id for the per-point sum — no
  * pair rows, no join, no driver collect, at any scale.
  */
object Outliers {

  /** A sweep-window row: a point's home or halo copy and its pair count so far. */
  private final class Slot(val id: Long, val x: Double, val y: Double, val halo: Boolean) {
    var cnt = 0L
  }

  /** Per-point neighbor counts within distance D.
    *
    * Input: points with unique non-null `id` and non-null coords `x`,
    * `y`. Output: `id, cnt` (non-null bigint) where cnt includes the
    * point itself (reference init `counter = 1`, `HWK_1/G029HW1.py:24`).
    *
    * Strips `s = floor(y / D)`: each point has a home row in `s` and a
    * halo row in `s + 1`, so every pair within D meets in exactly one
    * strip, as home×home or halo×home (halo×halo is skipped). Each strip
    * is swept in x order with a window of the rows within D in x; a row
    * leaves the window with its count, so memory is bounded by the
    * window. A hot strip is one task, though: AQE cannot split it.
    */
  def neighborCounts(points0: DataFrame, d: Double): DataFrame = {
    val spark = points0.sparkSession
    import spark.implicits._
    val d2 = d * d
    points0
      .select(col("id"), col("x"), col("y"), floor(col("y") / lit(d)).as("s"))
      .select(col("id"), col("x"), col("y"),
        posexplode(array(col("s"), col("s") + 1L)).as(Seq("halo", "s")))
      .repartition(spark.sparkContext.defaultParallelism, col("s"))
      .sortWithinPartitions("s", "x")
      .select(col("id"), col("x"), col("y"), col("s"), col("halo") === 1)
      .as[(Long, Double, Double, Long, Boolean)]
      .mapPartitions { rows =>
        val win = mutable.ArrayDeque.empty[Slot]
        val out = mutable.ArrayDeque.empty[(Long, Long)]
        var strip = 0L
        // home rows always (zero too: no join back), halo rows if counted
        def retire(r: Slot): Unit = if (!r.halo || r.cnt > 0) out += ((r.id, r.cnt))
        new Iterator[(Long, Long)] {
          def hasNext: Boolean = {
            while (out.isEmpty && rows.hasNext) {
              val (id, x, y, s, halo) = rows.next()
              if (s != strip) { win.foreach(retire); win.clear(); strip = s }
              // (x − x_head)² > D² rounds like the predicate: a pruned
              // row is never one the predicate would accept
              while (win.nonEmpty && { val dx = x - win.head.x; dx * dx > d2 })
                retire(win.removeHead())
              val cur = new Slot(id, x, y, halo)
              win.foreach { o =>
                if (!(halo && o.halo) && Point.distSq(x, y, o.x, o.y) <= d2) {
                  o.cnt += 1; cur.cnt += 1
                }
              }
              win += cur
            }
            if (out.isEmpty) { win.foreach(retire); win.clear() }
            out.nonEmpty
          }
          def next(): (Long, Long) = if (hasNext) out.removeHead() else Iterator.empty.next()
        }
      }
      .toDF("id", "npairs")
      .groupBy("id")
      .agg((coalesce(sum(col("npairs")), lit(0L)) + 1L).as("cnt"))
      .select(col("id").cast(points0.schema("id").dataType), col("cnt"))
  }

  /** Exact (D,M)-outliers: points with ≤ M neighbors (self included),
    * first K by (cnt, id) — the id tiebreak replaces the reference's
    * input-order-dependent stable sort (`HWK_1/G029HW1.py:45-49`). */
  def exactOutliers(points: DataFrame, d: Double, m: Int, k: Int): DataFrame =
    neighborCounts(points, d)
      .where(col("cnt") <= lit(m))
      .orderBy(col("cnt"), col("id"))
      .limit(k)

  /** Driver-side O(N²) twin of the reference's `ExactOutliers`
    * (`HWK_1/G029HW1.py:16-49`) — used in tests to cross-validate the
    * distributed formulation on small inputs. */
  def exactOutliersLocal(pts: Array[Point], d: Double, m: Int): Array[(Int, Int)] = {
    val n = pts.length
    val counts = Array.fill(n)(1)
    val d2 = d * d
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (Point.distSq(pts(i), pts(j)) <= d2) { counts(i) += 1; counts(j) += 1 }
        j += 1
      }
      i += 1
    }
    (0 until n).filter(counts(_) <= m).map(i => (i, counts(i))).sortBy(t => (t._2, t._1)).toArray
  }

  /** Cell-level stats of MRApproxOutliers: `ci, cj, sz, n3, n7`. */
  def cellStats(points: DataFrame, d: Double): DataFrame =
    Grid.n3n7(Grid.cellHistogram(points, Grid.sideFor(d)))

  /** The two scalars of MRApproxOutliers (`HWK_1/G029HW1.py:112-113`):
    * sure = Σ sz where N7 ≤ M; uncertain = Σ sz where N3 ≤ M < N7. */
  def approxOutlierCounts(points: DataFrame, d: Double, m: Int): DataFrame =
    cellStats(points, d).agg(
      coalesce(sum(when(col("n7") <= m, col("sz"))), lit(0L)).as("sure"),
      coalesce(sum(when(col("n3") <= m && col("n7") > m, col("sz"))), lit(0L)).as("uncertain"))

  /** First K non-empty cells by non-decreasing size
    * (`HWK_1/G029HW1.py:114-120`), (ci,cj) tiebreak for determinism. */
  def smallestCells(points: DataFrame, d: Double, k: Int): DataFrame =
    Grid.cellHistogram(points, Grid.sideFor(d))
      .orderBy(col("sz"), col("ci"), col("cj"))
      .limit(k)
}
