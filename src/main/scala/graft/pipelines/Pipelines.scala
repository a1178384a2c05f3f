package graft.pipelines

import graft.ops.{Fft, Outliers}
import graft.sources.Points
import graft.streaming.Bounded
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-user façades replicating the reference's three programs — same
  * parameters, same computation, same stdout line formats — so a user
  * of `jiecksanguin/BigData_HWK` can switch engines and run every
  * query they run today. The underlying execution is the Spark-SQL
  * operator library (no driver-side O(N²), no collect of histograms).
  */
object Hw1 {

  /** HW1 (`HWK_1/G029HW1.py:123-174`): exact + approximate
    * (D,M)-outliers from a CSV of points. Returns the report lines
    * it also prints (formats per `G029HW1.py:42-49,117-120,152-170`). */
  def run(spark: SparkSession, path: String, d: Double, m: Int, k: Int, l: Int,
          exactCap: Long = 200000L): Seq[String] = {
    val out = Seq.newBuilder[String]
    val pts = Points.fromCsv(spark, path, l).cache()
    try {
      val n = pts.count()
      out += s"$path D=$d M=$m K=$k L=$l"
      out += s"Number of points = $n"

      if (n <= exactCap) {
        val t0 = System.nanoTime()
        val withIds = Points.withIds(pts)
        // pin only the small outlier set: count and top-K share one
        // sweep (r20: caching the id'd points starved execution memory)
        val outliers = Outliers.neighborCounts(withIds, d)
          .where(col("cnt") <= m).persist()
        try {
          val nOut = outliers.count()
          // re-sort driver-side: the join after limit(k) does not
          // guarantee the orderBy survives into collect()
          val topK = outliers.orderBy(col("cnt"), col("id")).limit(k)
            .join(withIds, "id").select(col("x"), col("y"), col("cnt"), col("id"))
            .collect()
            .sortBy(r => (r.getLong(2), r.getLong(3)))
          out += s"Number of Outliers = $nOut"
          topK.foreach(r => out += s"Point: (${r.getDouble(0)}, ${r.getDouble(1)})")
        } finally outliers.unpersist()
        out += s"Running time of ExactOutliers = ${(System.nanoTime() - t0) / 1e6} ms"
      }

      val t1 = System.nanoTime()
      val counts = Outliers.approxOutlierCounts(pts, d, m).head()
      val cells = Outliers.smallestCells(pts, d, k).collect()
      out += s"Number of sure outliers= ${counts.getLong(0)}"
      out += s"Number of uncertain points= ${counts.getLong(1)}"
      cells.foreach(r => out += s"Cell: (${r.getLong(0)}, ${r.getLong(1)}) Size = ${r.getLong(2)}")
      out += s"Running time of MRApproxOutliers = ${(System.nanoTime() - t1) / 1e6} ms"
    } finally pts.unpersist()
    val lines = out.result()
    lines.foreach(println)
    lines
  }
}

object Hw2 {

  /** The reference's session tuning (`HWK_2/G029HW2.py:148`): relax
    * data locality so the small FFT rounds never idle waiting for a
    * preferred executor. `spark.locality.wait` is a SCHEDULER conf
    * read at SparkContext construction — apply this to the conf the
    * session is BUILT with (a running session cannot change it):
    * `SparkSession.builder.config(Hw2.referenceConf(new SparkConf))`. */
  def referenceConf(conf: org.apache.spark.SparkConf): org.apache.spark.SparkConf =
    conf.set("spark.locality.wait", "0s")

  /** HW2 (`HWK_2/G029HW2.py:132-177`): MRFFT clustering radius feeding
    * the grid outlier detector (formats per lines 87-105,128-129,
    * 144-173). */
  def run(spark: SparkSession, path: String, m: Int, k: Int, l: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    out += s"$path M=$m K=$k L=$l"
    val pts = Points.fromCsv(spark, path, l).cache()
    try {
      out += s"Number of points = ${pts.count()}"

      val t1 = System.nanoTime()
      val coreset = Fft.coreset(pts, k, l)
      out += s"Running time of MRFFT Round 1 = ${(System.nanoTime() - t1) / 1e6} ms"
      val t2 = System.nanoTime()
      val centers = Fft.seqFFT(coreset, k)
      out += s"Running time of MRFFT Round 2 = ${(System.nanoTime() - t2) / 1e6} ms"
      val t3 = System.nanoTime()
      val radius = Fft.radius(pts, centers)
      out += s"Running time of MRFFT Round 3 = ${(System.nanoTime() - t3) / 1e6} ms"
      out += s"Radius = $radius"

      val t4 = System.nanoTime()
      val counts = Outliers.approxOutlierCounts(pts, radius, m).head()
      out += s"Number of sure outliers= ${counts.getLong(0)}"
      out += s"Number of uncertain points= ${counts.getLong(1)}"
      out += s"Running time of MRApproxOutliers = ${(System.nanoTime() - t4) / 1e6} ms"
    } finally pts.unpersist()
    val lines = out.result()
    lines.foreach(println)
    lines
  }
}

object Hw3 {

  /** HW3 (`HWK_3/G029HW3.py:68-156`): bounded-stream frequent items —
    * exact, reservoir, sticky — with the +/- true-frequency
    * annotations (formats per lines 121-156). `items` is any ordered
    * `ord, item` DataFrame (batch twin) or use [[Bounded.run]] with a
    * streaming source first and pass its state here. */
  def run(items: DataFrame, n: Long, phi: Double, eps: Double, delta: Double,
          seed: Long = 42L, port: String = "events"): Seq[String] = {
    val m = math.ceil(1.0 / phi).toInt
    val r = graft.ops.Freq.stickyRate(phi, eps, delta)
    val state = Bounded.batchTwin(items, n, m, math.min(1.0, r / n), seed)
    report(state, n, phi, eps, delta, port)
  }

  /** Format a finished stream state as the reference's report. */
  def report(state: Bounded.StreamState, n: Long, phi: Double, eps: Double,
             delta: Double, port: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    out += "INPUT PROPERTIES"
    out += s"n = $n phi = $phi epsilon = $eps delta = $delta port = $port"
    out += "EXACT ALGORITHM"
    out += s"Number of items in the data structure = ${state.histogram.size}"
    val trueFreq = state.exactFrequent(phi)
    out += s"Number of true frequent items = ${trueFreq.size}"
    out += "True frequent items:"
    trueFreq.foreach(i => out += s"$i")
    val trueSet = trueFreq.toSet
    out += "RESERVOIR SAMPLING"
    out += s"Size m of the sample = ${math.ceil(1.0 / phi).toInt}"
    val resItems = state.reservoirItems
    out += s"Number of estimated frequent items = ${resItems.size}"
    out += "Estimated frequent items:"
    resItems.foreach(i => out += (if (trueSet(i)) s"$i +" else s"$i -"))
    out += "STICKY SAMPLING"
    out += s"Number of items in the Hash Table = ${state.sticky.size}"
    val stickyFreq = state.stickyFrequent(phi, eps)
    out += s"Number of estimated frequent items = ${stickyFreq.size}"
    out += "Estimated frequent items:"
    stickyFreq.foreach(i => out += (if (trueSet(i)) s"$i +" else s"$i -"))
    val lines = out.result()
    lines.foreach(println)
    lines
  }
}
