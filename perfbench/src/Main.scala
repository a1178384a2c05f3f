package graftbench

import scala.collection.mutable

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  * `graftbench.Main <workload> <inputDir> <workDir> <outFile> <seconds> <trace> <seed>`.
  *
  * Each workload has two timed parts after set-up (JVM start, session,
  * input registration, any untimed warm-up): a batch part, then a closed
  * loop of interactive requests, one client, after an untimed warm-up;
  * `hw_pipelines` runs its catalog pass between them. A traced run
  * records the whole batch part, the catalog pass and every other round
  * of requests, so the request loop gives the tracing overhead from
  * within one JVM. The result is written to `outFile` as one JSON object.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("oracle-sql")) {
      // `oracle-sql <outFile> <query>...`: the DuckDB oracles of the
      // named queries, for expect.py
      val w = new java.io.PrintWriter(args(1), "UTF-8")
      try w.println(Json(graft.SparkEntry.oracleSql.filter { case (k, _) => args.drop(2).contains(k) }))
      finally w.close()
      return
    }
    val Array(workload, input, work, outFile, seconds, trace, seed) = args
    OldGen.install()
    val cpus = Runtime.getRuntime.availableProcessors()
    val conf = new SparkConf()
      .setMaster(s"local[$cpus]")
      .setAppName(s"graftbench-$workload")
      .set("spark.sql.shuffle.partitions", cpus.toString)
      .set("spark.sql.legacy.parquet.nanosAsLong", "true")
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      .set("spark.local.dir", s"$work/spark-local")
      .set("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = SparkSession.builder()
      .config(graft.pipelines.Hw2.referenceConf(conf)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Ctx(spark, input, work, seconds.toDouble, trace == "1", seed.toLong)
    val ok =
      try {
        workload match {
          case "hw_pipelines" => HwPipelines.run(c)
          case "ingest" => Lifecycle.run(c)
          case other => sys.error(s"unknown workload $other")
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          c.fail(s"run aborted: $e")
          false
      }
    c.metric("old_gen_peak_after_gc_mb", OldGen.peakMb, "MB")
    val result = c.result(ok) ++ Map(
      "workload" -> workload,
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "cpus" -> cpus)
    spark.stop()
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.println(Json(result ++ Map("peak_rss_mb" -> peakRssMb())))
    finally w.close()
    c.spansFile.foreach { f =>
      val sw = new java.io.PrintWriter(f, "UTF-8")
      try sw.println(Json(c.tracer.get.dump())) finally sw.close()
    }
  }

  /** The JVM's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** The largest G1 old-generation occupancy right after a collection:
  * the live data the program kept, where `peak_rss_mb` also holds the
  * garbage and headroom the collector chose to keep under `-Xmx`. */
object OldGen {
  @volatile var peakMb = 0.0

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          Option(info.getGcInfo.getMemoryUsageAfterGc.get("G1 Old Gen")).foreach { u =>
            peakMb = math.max(peakMb, u.getUsed / 1048576.0)
          }
        }
    }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** What a workload sees: the session, its inputs, the clock and the
  * recorders for timings, checks and failures. */
final class Ctx(val spark: SparkSession, val input: String, val work: String,
                val seconds: Double, traced: Boolean, val seed: Long) {
  private val startNs = System.nanoTime()
  // process start, so set-up includes JVM start and session creation
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val startWallMs = System.currentTimeMillis()
  private var setupS = Double.NaN
  private var batchS = Double.NaN
  private val untracedLat = mutable.ArrayBuffer.empty[Double]
  private val tracedLat = mutable.ArrayBuffer.empty[Double]
  private val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private val perLayer = mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0L
  private var failed = 0L

  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark.sparkContext)) else None
  def spansFile: Option[String] = tracer.map(_ => s"$work/../spans.json")

  /** Mark the end of set-up: everything before this is `setup_s`. */
  def setupDone(): Unit =
    setupS = (startWallMs - jvmStartMs) / 1e3 + (System.nanoTime() - startNs) / 1e9

  /** `f`, traced in a traced run. */
  def traced[T](f: => T): T = {
    tracer.foreach(Tracer.on)
    try f finally Tracer.off()
  }

  /** The batch part: `f` once, traced in a traced run. `f` returns
    * `batch_s` from the times of its timed operations (checks it
    * interleaves stay out). */
  def batch(f: => Double): Unit = batchS = traced(f)

  /** In a traced run only: `f` under a tracer of its own, whose span
    * counters become per-layer metrics but whose jobs stay out of the
    * `spark.*` totals. For calls that only exist to be traced. */
  def tracedApart(f: => Unit): Unit = if (tracer.isDefined) {
    val t = new Tracer(spark.sparkContext)
    Tracer.on(t)
    try f finally Tracer.off()
    for ((span, cs) <- t.report(); (k, v) <- cs) layer(s"$span.$k", v)
  }

  /** Closed loop, one client: request `i` is sent when request `i - 1`
    * has completed. Runs whole rounds of `round` requests until at
    * least `min` ran and `seconds` have elapsed; odd rounds of a traced
    * run are traced. `req(i)` returns its latency in seconds. One
    * latency sample is a round's mean, so a rotation of unequal request
    * kinds gives samples of one distribution. */
  def requests(min: Int, round: Int)(req: Int => Double): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = tracer.isDefined && (i / round) % 2 == 1
      if (on) Tracer.on(tracer.get)
      val s = try (i until i + round).map(req).sum / round finally if (on) Tracer.off()
      (if (on) tracedLat else untracedLat) += s
      i += round
    }
  }

  /** Round latencies of the untraced requests. */
  def latencies: Seq[Double] = untracedLat.toSeq

  /** Time one operation; a thrown error counts as failed and propagates.
    * Each operation's time goes to the JVM log. */
  def op[T](label: String)(f: => T): (T, Double) = {
    attempted += 1
    val t = System.nanoTime()
    try {
      val r = f
      val s = (System.nanoTime() - t) / 1e9
      System.err.println(f"[op] $label%-52s $s%9.3f s")
      (r, s)
    } catch { case e: Throwable => failed += 1; throw e }
  }

  /** [[op]] inside a [[Tracer.span]] of the same name. */
  def span[T](name: String, root: Option[String] = None)(f: => T): (T, Double) =
    op(name)(Tracer.span(name, root)(f))

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) System.err.println(s"[check] FAILED $name: $detail")
  }

  def fail(why: String): Unit = { failed += 1; attempted += 1; extra("error") = why }

  /** A workload-specific end-to-end figure, printed by name. */
  def metric(name: String, value: Double, unit: String): Unit = named(name) = (value, unit)
  def info(name: String, value: Any): Unit = extra(name) = value
  def layer(name: String, value: Double): Unit = perLayer(name) = value

  def result(ok: Boolean): Map[String, Any] = {
    val layers = tracer.map { t =>
      val rep = t.report()
      rep.flatMap { case (span, cs) => cs.map { case (k, v) => s"$span.$k" -> v } } ++ t.totals()
    }.getOrElse(Map.empty) ++ perLayer
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    Map(
      "ok" -> ok,
      "setup_s" -> setupS,
      "batch_s" -> batchS,
      "request_p50_s" -> med(untracedLat.toSeq),
      "requests" -> untracedLat.toSeq,
      "traced_requests" -> tracedLat.toSeq,
      "request_trace_overhead_s" -> (med(tracedLat.toSeq) - med(untracedLat.toSeq)),
      "attempted" -> attempted,
      "failed" -> failed,
      "named" -> named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "checks" -> checks.toSeq,
      "info" -> extra,
      "per_layer" -> layers)
  }
}
