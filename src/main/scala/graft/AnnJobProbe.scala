package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev probe: DRIVER-ACTION (job) census of the one-shot ann_* bench
  * queries — VERDICT r20 item 7 says these are job-count-bound
  * (scaling < 1 at 8-vs-32 cores), so before touching anything,
  * count the jobs and time each lifecycle phase. Never used by
  * Bench/Verify.
  *
  * Usage: runMain graft.AnnJobProbe <sfDir> <query1,query2,...>
  */
object AnnJobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).getOrElse("ann_ivfadc,ann_ivf").split(",").toSeq
    val spark = Sessions.local(Sessions.envCores("32"))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add((js.jobId, js.time,
          Option(js.properties.getProperty("spark.job.description"))
            .getOrElse("")))
      }
    })
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // run 1 discarded (codegen warm), run 2 measured with job census
      fn(spark, sfDir).count()
      spark.sharedState.cacheManager.clearCache()
      jobs.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      Thread.sleep(200) // let listener events drain
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      println(f"QUERY $name%-20s ${t}%.2f s, ${js.size} jobs")
      js.zip(js.drop(1).map(_._2) :+ (t0 / 1000000 + (t * 1000).toLong))
        .foreach { case ((id, start, desc), nxt) =>
          println(f"  job $id%3d +${(nxt - start) / 1000.0}%6.2f s  $desc") }
    }
    spark.stop()
  }
}
