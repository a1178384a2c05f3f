package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the given SF.
  *
  * Protocol: THREE INTERLEAVED FULL SWEEPS over the whole query list
  * (sweep 1 runs every query once, then sweep 2, then sweep 3), and
  * the reported value is the minimum PER QUERY ACROSS SWEEPS. Same
  * three evaluations per query as the r9–r17 min-of-3, same
  * rationale (first runs are dominated by Janino codegen + JIT —
  * measured ~10s on 32-aggregate plans vs ~1s steady-state — and the
  * baseline reports run averages, not cold starts), but
  * contention-proof where back-to-back reps were not: r17's driver
  * artifact showed a contiguous ALPHABETICAL block of queries 3–34×
  * slow in ALL three reps — a sustained external contention window
  * maps exactly onto back-to-back reps and min-of-3 cannot filter
  * it, and none of it reproduced on the same tree (adjudicated
  * environment). Interleaved, a sustained window hits each query in
  * at most ONE sweep, so the min across sweeps rejects it; and
  * `bench_out.json` keeps every per-sweep value plus per-sweep
  * totals, so a poisoned sweep is VISIBLE in the artifact instead of
  * inferred from git archaeology. The CAUSE rides too (r18 verdict
  * item): `sweep_env` records wall-clock + `/proc/loadavg` at each
  * sweep start and at the end, and the stdout line carries the
  * 1-minute values as `"load":[...]` — a noisy round's adjudication
  * reads its evidence straight from the artifact.
  *
  * Output: the FULL result (per-query seconds at ns precision,
  * errors) goes to `bench_out.json`; stdout gets ONE compact JSON
  * line as the LAST print. BOTH lines carry the same "value"
  * semantics — the total over ALL queries that ran, checks included —
  * plus the decomposition `main_sec` (product queries) and
  * `checks_sec` (the `check_*` invariant gates; min-of-3, so largely
  * scratch-cache-warm), `checks_cold_sec` (sum of each check's FIRST
  * run in this JVM — what a cold validation pass actually costs, kept
  * honest against per-JVM caching trims), and the protocol
  * tags `"agg":"min","runs":3,"protocol":"interleaved_sweeps"`, so
  * cross-round headline comparison is self-describing. The driver
  * captures only the final ~2000 chars of stdout — a TAIL window — so
  * the stdout line puts the per-query map FIRST and the headline
  * scalars LAST: if the grown query map overflows the window, the
  * clip eats query entries at the head, never the scalars (r17's
  * driver artifact had lost value/main_sec to exactly that clip).
  * sbt's "[success]" epilogue is suppressed (build.sbt `showSuccess`),
  * per-query values are rounded to 10 ms, and `check_*` queries
  * appear only in the `checks_*` scalars. A stderr warning fires if
  * the line outgrows the 1985-char budget.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // Untimed global warmup: the first measured query otherwise absorbs
    // one-time costs shared by every plan — Spark-core JIT, codegen
    // framework classloading, parquet footer reads of the SF tables
    // (observed as a trivial groupBy-count reading 0.18 s in one driver
    // round and 2.72 s in the next with identical code). The flagship
    // entry exercises scan→shuffle→agg; the per-table counts touch
    // every footer at the benched SF.
    try {
      SparkEntry.entry(spark).count()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      spark.read.parquet(s"$sfDir/events.parquet").count()
      spark.read.parquet(s"$sfDir/documents.parquet").count()
      spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    } catch {
      // keep the run alive, but a failed warmup must be VISIBLE —
      // otherwise the first measured query silently re-absorbs the
      // JIT/footer costs the warmup exists to strip
      case e: Throwable =>
        System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // a failing query must be VISIBLE in the output — a swallowed
      // error would masquerade as a fast timing
      try { fn(spark, sfDir).count() }
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val t = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      t
    }
    // the noise EVIDENCE rides the artifact (r18 verdict: two rounds
    // of box-load adjudication had to reconstruct the cause from git
    // archaeology and controls — record it at the source instead):
    // wall-clock + /proc/loadavg before each sweep and after the last
    def loadavg(): Seq[Double] =
      try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq.empty[Double] }
    val sweepEnv = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Double])]
    // three interleaved full sweeps (see the protocol scaladoc)
    val sweeps: IndexedSeq[Map[String, Double]] = (1 to 3).map { _ =>
      sweepEnv += ((System.currentTimeMillis(), loadavg()))
      named.map { case (name, fn) => name -> once(name, fn) }.toMap
    }
    sweepEnv += ((System.currentTimeMillis(), loadavg()))
    val results: Seq[(String, Seq[Double])] =
      named.map { case (name, _) => (name, sweeps.map(_(name))) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    // a failing query fails FAST — summing its time would make a
    // breakage read as a speedup, so the headline total counts only
    // queries that ran (the errors list flags the rest)
    val total = results.collect { case (k, v) if !failed(k) => v.min }.sum
    val mainTotal = results.collect {
      case (k, v) if !failed(k) && !k.startsWith("check_") => v.min }.sum
    val checksTotal = results.collect {
      case (k, v) if !failed(k) && k.startsWith("check_") => v.min }.sum
    // the honest COLD cost of a validation pass: several checks ride
    // the per-JVM scratch/quantizer caches, so their across-sweep min
    // mostly measures cache warmth — the SWEEP-1 run of each check is
    // the one that actually built its inputs (in sweep 1's
    // alphabetical order; later checks legitimately reuse earlier
    // checks' scratch, exactly like a real cold validation run would)
    val checksCold = results.collect {
      case (k, v) if !failed(k) && k.startsWith("check_") => v.head }.sum
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-sweep visibility: a contention window poisons at most one
    // sweep, and these fields let a reader SEE which one (totals over
    // non-failing queries, plus every per-sweep per-query value)
    val sweepTotals = sweeps
      .map(m => named.collect { case (k, _) if !failed(k) => m(k) }.sum)
      .mkString("[", ",", "]")
    val sweepsJson = sweeps.map(m =>
        named.map { case (k, _) => "\"" + k + "\":" + m(k) }
          .mkString("{", ",", "}"))
      .mkString("[", ",", "]")
    // sweep_env: one {t_ms, load:[1m,5m,15m]} per sweep START plus a
    // final one at the end — the box-contention evidence a poisoned
    // sweep's adjudication reads straight from the artifact
    val sweepEnvJson = sweepEnv.map { case (t, l) =>
      s"""{"t_ms":$t,"load":${l.mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]")
    // "errors" lists queries whose execution threw (timings for those
    // are meaningless and excluded from the totals)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","main_sec":$mainTotal,""" +
      s""""checks_sec":$checksTotal,"checks_cold_sec":$checksCold,""" +
      s""""runs":3,"protocol":"interleaved_sweeps","errors":$errs,"agg":"min",""" +
      s""""sweep_totals":$sweepTotals,"sweep_env":$sweepEnvJson,""" +
      s""""queries":$qs,"sweeps":$sweepsJson,"sf":"$sfDir"}"""
    // full-fidelity JSON to a file (survives any stdout framing)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case _: Throwable => () }
    // compact stdout line — see the scaladoc's 2000-char-window budget.
    // value/main_sec/checks_sec/agg/runs appear in EVERY compaction
    // stage with the same semantics as bench_out.json (value = full
    // total incl. checks); only the per-query map compacts. Values are
    // rounded (trailing zeros stripped) and the sf dir reported by
    // basename — purely to keep the line inside the window as queries
    // accumulate; bench_out.json always keeps full precision.
    def rd(v: Double, decimals: Int): String =
      BigDecimal(v).setScale(decimals, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    val mainQ = results.filter { case (k, _) => !k.startsWith("check_") }
    val errsPart = if (failed.isEmpty) "" else s""""errors":$errs,"""
    val sfName = new java.io.File(sfDir).getName
    // the driver keeps the TAIL 2000 chars of stdout — so the
    // headline scalars ride at the END of the line, where clipping
    // can never reach them (r17's driver artifact lost value/main_sec
    // because they led the line and the grown query map pushed them
    // out of the window); the per-query map leads and is the only
    // part that may clip (full fidelity is in bench_out.json either
    // way)
    val sweepTotalsCompact = sweeps
      .map(m => rd(named.collect { case (k, _) if !failed(k) => m(k) }.sum, 1))
      .mkString("[", ",", "]")
    def stdoutLine(withUnit: Boolean, decimals: Int): String = {
      val qsCompact = mainQ.map { case (k, v) => "\"" + k + "\":" + rd(v.min, decimals) }
        .mkString("{", ",", "}")
      val unitPart = if (withUnit) """"unit":"sec",""" else ""
      // 1-min loadavg at each sweep start + end: the contention
      // evidence, compact (~30 chars), riding just before the
      // headline scalars so a tail-window clip never eats it
      val loadCompact = sweepEnv.map(_._2.headOption.getOrElse(-1.0))
        .map(rd(_, 1)).mkString("[", ",", "]")
      s"""{"metric":"total","queries":$qsCompact,${errsPart}$unitPart""" +
        s""""agg":"min","runs":3,"protocol":"interleaved_sweeps",""" +
        s""""sweep_totals":$sweepTotalsCompact,"sf":"$sfName",""" +
        s""""load":$loadCompact,""" +
        s""""main_sec":${rd(mainTotal, 2)},"checks_sec":${rd(checksTotal, 2)},""" +
        s""""checks_cold_sec":${rd(checksCold, 2)},"value":${rd(total, 2)}}"""
    }
    // adaptive stages: drop the unit tag (values are always seconds) →
    // coarsen per-query values to 100 ms. Budget 1985: the line plus
    // its newline must fit the 2000-char window with NOTHING after it
    // (sbt epilogue suppressed, unprefixed stdout — build.sbt). If
    // even stage 3 overflows, the head of the query map clips; the
    // scalars at the end survive any clip.
    val compact = Seq(
      stdoutLine(withUnit = true, decimals = 2),
      stdoutLine(withUnit = false, decimals = 2),
      stdoutLine(withUnit = false, decimals = 1))
      .find(_.length <= 1985)
      .getOrElse(stdoutLine(withUnit = false, decimals = 1))
    if (compact.length > 1985)
      System.err.println(s"[bench] stdout line ${compact.length} chars — " +
        "over the 1985 budget; the driver's tail window clips the HEAD " +
        "of the query map (headline scalars ride at the end, unclipped)")
    println(compact)
    spark.stop()
  }
}
