package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("8", logLevel = "WARN",
    extra = Map("spark.app.name" -> "graft-test",
      // saveAsTable targets (bucketed-layout tests) go to a temp dir,
      // not ./spark-warehouse in the repo
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_wh_test").toString))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001  = "/root/testdata/sf0.01"

  /** All messages down a (possibly wrapped) exception's cause chain —
    * Spark buries the interesting text a few levels deep. */
  def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
}
