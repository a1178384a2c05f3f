package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory behind every main and the test
  * suites: `cores` executor threads and as many shuffle partitions,
  * UTC session time, nanosecond parquet timestamps read as long
  * (events.parquet carries TIMESTAMP(NANOS); no query projects raw
  * ts), no UI. `extra` adds per-caller settings. */
object Sessions {
  /** Cores from `SPARK_GRAFT_CPUS` — the mains' knob. */
  def envCores(default: String = "4"): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def local(cores: String = envCores(), logLevel: String = "ERROR",
            extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
