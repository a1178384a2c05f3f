package graft

import org.apache.spark.sql.functions._

/** Runnable demo of the three reference-program façades:
  * `sbt 'runMain graft.Demo [sfDir]'` — generates a small CSV point
  * set, runs Hw1 (exact+approx outliers) and Hw2 (MRFFT), then Hw3
  * (bounded-stream frequent items) over the events table.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local("8", logLevel = "WARN")

    // points CSV derived from lineitem (same projection as the queries)
    val csvDir = java.nio.file.Files.createTempDirectory("graft_demo").toString + "/pts"
    graft.queries.Tables.points(spark, sfDir)
      .select(col("x"), col("y"))
      .coalesce(1).write.option("header", "false").csv(csvDir)

    println("=== HW1: exact + approximate (D,M)-outliers ===")
    graft.pipelines.Hw1.run(spark, csvDir, d = 2.0, m = 10, k = 5, l = 8)
    println("=== HW2: MRFFT k-center + outliers ===")
    graft.pipelines.Hw2.run(spark, csvDir, m = 10, k = 8, l = 8)
    println("=== HW3: bounded-stream frequent items ===")
    val items = graft.queries.Tables.events(spark, sfDir)
      .select(col("event_id").as("ord"), col("user_id").as("item"))
    // phi just under the uniform share so the heavy tail qualifies at
    // any SF (users are near-uniform; outlier params are tuned for the
    // sf0.001 density — at larger SF expect zero outliers, not a bug)
    graft.pipelines.Hw3.run(items, n = 1000L, phi = 0.008, eps = 0.004, delta = 0.1)
    spark.stop()
  }
}
