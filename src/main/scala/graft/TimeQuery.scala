package graft


/** Dev utility: time (and optionally explain) a subset of SparkEntry
  * queries without paying for the whole bench sweep.
  *
  * Usage: runMain graft.TimeQuery <sfDir> <name1,name2,...> [runs]
  * Env:   SPARK_GRAFT_EXPLAIN=1 → print the formatted plan once per
  *        query before timing.
  *        SPARK_GRAFT_ROWS=1 → inspection mode: row count + sample
  *        INSTEAD of timings (the inspection pass costs an extra
  *        evaluation and clears every session cache, so same-process
  *        timings would not be comparable to plain runs).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.local(Sessions.envCores("32"))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
        fn(spark, sfDir).explain("formatted")
      // SPARK_GRAFT_ROWS=1 → INSPECTION MODE: print the row count and
      // a sample (the check_* queries' violation rows, without a
      // Verify sweep) and SKIP the timing loop — the inspection run
      // evaluates the query an extra time and its cleanup drops every
      // session cache (including any a query pack deliberately
      // holds), so timings taken in the same process would be neither
      // comparable to plain runs nor cheap. count + limit(20), never
      // a full collect — the flag can name a corpus-scale query.
      if (sys.env.get("SPARK_GRAFT_ROWS").contains("1")) {
        val df = fn(spark, sfDir)
        println(s"ROWS $name n=${df.count()}")
        df.limit(20).collect().foreach(r => println(s"  $r"))
        spark.sharedState.cacheManager.clearCache()
      } else {
        val times = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val t = (System.nanoTime() - t0) / 1e9
          spark.sharedState.cacheManager.clearCache()
          t
        }
        println(f"TIME $name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}")
      }
    }
    spark.stop()
  }
}
