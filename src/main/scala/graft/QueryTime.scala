package graft


/** Dev tool: time a handful of named SparkEntry queries under the
  * exact Bench protocol (same session config, same untimed warmup
  * semantics via a first discarded run, min-of-3, cache cleared
  * between queries) without paying for the full suite.
  *
  * Usage: `runMain graft.QueryTime <sfDir> <query> [query ...]`
  * Honors `SPARK_GRAFT_CPUS` like Bench.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryTime <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = Sessions.local()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      once() // discard: JIT/codegen warm, matching Bench's global warmup role
      spark.sharedState.cacheManager.clearCache()
      val times = Seq(once(), once(), once())
      spark.sharedState.cacheManager.clearCache()
      println(f"$name%-28s min=${times.min}%.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
