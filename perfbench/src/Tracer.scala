package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Span recorder plus a SparkListener, both owned by the benchmark.
  *
  * A span wraps one call into a graft module: name, start, end and
  * parent. While a span is open its id rides the driver thread's local
  * properties, so every job it triggers (also from threads Spark forks
  * for broadcasts and subqueries) carries it and lands on the innermost
  * open span. Each job also records the first `graft.*` frame of its
  * call site, so jobs launched inside a pipeline are attributed to the
  * `ops`/`sources` function that ran the action.
  *
  * Tracing is off unless [[Tracer.on]] installs a tracer: then
  * [[Tracer.span]] is one volatile read and no listener is registered.
  * Spans and jobs stay in memory; [[Tracer.report]] derives the
  * per-layer counters and [[Tracer.dump]] writes them out at exit.
  */
object Tracer {
  private val SpanProp = "graftbench.span"
  @volatile private var current: Tracer = _

  /** Run `f` inside a span named `<module>.<Object>.<function>`.
    * `root` is a directory listed before and after the call: new or
    * rewritten files under it count as the span's `files_written`. */
  def span[T](name: String, root: Option[String] = None)(f: => T): T = {
    val t = current
    if (t == null) f else t.record(name, root, f)
  }

  /** Start recording into `t`; spans and jobs accumulate across calls. */
  def on(t: Tracer): Unit = {
    t.sc.addSparkListener(t.listener)
    current = t
  }

  /** Stop recording: the listener is removed once it has caught up. */
  def off(): Unit = {
    val t = current
    if (t != null) {
      current = null
      t.drain()
      t.sc.removeSparkListener(t.listener)
    }
  }

  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                        var endNs: Long, startMs: Long, var endMs: Long,
                        var filesWritten: Long = 0L, var bytesWritten: Long = 0L)

  final class Job(val id: Int, val span: Int, val startMs: Long, val callSite: String) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
  }

  /** `graft.pipelines.Hw1$.run(Pipelines.scala:29)` → `pipelines.Hw1.run`,
    * `graft.ops.Fft$.$anonfun$coreset$2(…)` → `ops.Fft.coreset`;
    * an action the benchmark itself ran → `bench.<its frame>`. */
  def graftFrame(details: String): String = {
    val frames = details.split('\n').map(_.trim)
    // a lambda is attributed to the method that defines it
    def short(f: String, prefix: String) =
      f.takeWhile(_ != '(').stripPrefix(prefix).replace("$.", ".")
        .replaceAll("""\$anonfun\$([^$]+)\$\d+""", "$1").replace("$", "")
    frames.find(_.startsWith("graft.")).map(short(_, "graft."))
      .orElse(frames.find(_.startsWith("graftbench.")).map("bench." + short(_, "graftbench.")))
      .getOrElse("other")
  }

  /** (path → (size, mtime)) for every file under `root`. */
  def listing(root: String): Map[String, (Long, Long)] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map { f =>
          f.toString -> (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis)
        }.toMap
      finally s.close()
    }
  }
}

final class Tracer(val sc: SparkContext) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  // SQL jobs often run on a pool thread whose stack has no graft frame:
  // their call site is the one the SQL execution recorded at the action
  private val sqlSite = new ConcurrentHashMap[Long, String]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSite.get(id.toLong)))
        .getOrElse(graftFrame(e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")))
      val j = new Job(e.jobId, span, e.time, site)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => sqlSite.put(x.executionId, graftFrame(x.details))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }

  private def record[T](name: String, root: Option[String], f: => T): T = {
    val before = root.map(listing)
    val parent = open.headOption
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      System.nanoTime(), -1L, System.currentTimeMillis(), -1L)
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      for (b <- before; r <- root) {
        val changed = listing(r).filter { case (k, v) => !b.get(k).contains(v) }
        s.filesWritten = changed.size.toLong
        s.bytesWritten = changed.values.map(_._1).sum
      }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(sc)

  private def jobsOf(ids: Set[Int]): Seq[Job] =
    jobs.values().asScala.filter(j => ids.contains(j.span)).toSeq

  private def subtree(s: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(k => go(k.id))
    go(s.id)
  }

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  private def allJobIntervals: Seq[(Long, Long)] =
    jobs.values().asScala.toSeq.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))

  /** Counters of one span, inclusive of its children. */
  def counters(s: Span): Map[String, Double] = {
    val js = jobsOf(subtree(s))
    val wallS = (s.endNs - s.startNs) / 1e9
    val childCover = covered(spans.filter(_.parent == s.id).toSeq.map(c => (c.startNs, c.endNs)),
      s.startNs, s.endNs) / 1e9
    val jobCover = covered(allJobIntervals, s.startMs, s.endMs) / 1e3
    Map(
      "wall_s" -> wallS,
      "self_s" -> math.max(0.0, wallS - childCover),
      "jobs" -> js.size.toDouble,
      "tasks" -> js.map(_.tasks).sum.toDouble,
      "exec_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
      "input_bytes" -> js.map(_.inputBytes).sum.toDouble,
      "driver_gap_s" -> math.max(0.0, (s.endMs - s.startMs) / 1e3 - jobCover),
      "files_written" -> s.filesWritten.toDouble,
      "bytes_written" -> s.bytesWritten.toDouble)
  }

  /** Per span name, each counter's median over that name's calls. */
  def report(): Map[String, Map[String, Double]] =
    spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      val cs = ss.map(counters)
      name -> cs.head.keys.map(k => k -> Stats.median(cs.map(_(k)))).toMap
    }

  /** Engine totals over every job this tracer saw. */
  def totals(): Map[String, Double] = {
    val js = jobs.values().asScala.toSeq
    val wallMs = if (spans.isEmpty) 0L else spans.map(_.endMs).max - spans.map(_.startMs).min
    val topLevel = spans.filter(_.parent == -1).toSeq
    val gapMs = topLevel.map(s => (s.endMs - s.startMs) - covered(allJobIntervals, s.startMs, s.endMs)).sum
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.exec_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "spark.driver_gap_s" -> math.max(0L, gapMs) / 1e3,
      "spark.shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
      "spark.traced_wall_s" -> wallMs / 1e3)
  }

  /** Jobs per first-graft-frame call site, with their counters. */
  def callSites(): Map[String, Map[String, Double]] =
    jobs.values().asScala.toSeq.groupBy(_.callSite).map { case (k, js) =>
      k -> Map("jobs" -> js.size.toDouble, "tasks" -> js.map(_.tasks).sum.toDouble,
        "exec_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble)
    }

  /** Every span and job, for the spans file written at exit. */
  def dump(): Map[String, Any] = Map(
    "spans" -> spans.toSeq.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "wall_s" -> (s.endNs - s.startNs) / 1e9,
      "files_written" -> s.filesWritten, "bytes_written" -> s.bytesWritten)),
    "jobs" -> jobs.values().asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "call_site" -> j.callSite, "tasks" -> j.tasks, "exec_cpu_s" -> j.cpuNs / 1e9,
      "shuffle_bytes" -> j.shuffleBytes, "input_bytes" -> j.inputBytes)),
    "call_sites" -> callSites())
}
