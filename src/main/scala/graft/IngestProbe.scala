package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe: phase-level timing of the `ingest_floatonce_replay`
  * lifecycle (the bench's most expensive query) — bootstrap vs the
  * per-batch appends vs the replay vs the final read, so optimization
  * effort goes where the seconds are. Mirrors the DocQueries body
  * exactly; never used by Bench/Verify.
  *
  * Usage: runMain graft.IngestProbe <sfDir>   (SPARK_GRAFT_CPUS as Bench)
  */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCores("32"))
    import graft.queries.Tables
    import graft.ops.{Dedup, Similarity}
    import graft.streaming.ContinuousIngest
    import graft.streaming.ContinuousIngest.{AnnParams, IngestParams, IngestState}
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PHASE $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f"); r
    }
    (1 to 2).foreach { round =>
      println(s"== round $round ==")
      val nAll = Tables.documentsCount(spark, sfDir)
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        .join(Tables.embeddings(spark, sfDir)
          .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
        .cache()
      val p = IngestParams(expectedDigests = math.max(1L, nAll), fpp = 0.05,
        nearDup = false,
        ann = Some(AnnParams(nlist = Similarity.nlistFor(nAll))),
        storeEmbeddingsInDocs = false)
      val root = java.nio.file.Files.createTempDirectory("graft_ingest_probe")
      try {
        val st = IngestState(root.toString)
        val r = t("minmax")(docs.agg(min("doc_id"), max("doc_id")).head())
        val (lo, hi) = (r.getLong(0), r.getLong(1))
        val k = 3
        def batchOf(i: Int): DataFrame = {
          val b0 = lo + (hi - lo + 1) * i / k
          val b1 = lo + (hi - lo + 1) * (i + 1) / k
          docs.where(col("doc_id") >= b0 && col("doc_id") < b1)
        }
        val b0 = batchOf(0)
        val boot = t("boot_dedup") {
          val b = b0.join(Dedup.exactDupFlags(b0).where(!col("is_dup"))
            .select("doc_id"), Seq("doc_id"), "left_semi").cache()
          b.count(); b
        }
        t("bootstrap")(ContinuousIngest.bootstrap(boot, st, p))
        boot.unpersist()
        val quant = t("loadQuantizers")(
          Some(ContinuousIngest.loadQuantizers(spark, st, p.ann.get)))
        (1 until k).foreach { i =>
          t(s"ingestBatch $i")(
            ContinuousIngest.ingestBatch(batchOf(i), i.toLong, st, p, quant)) }
        t("replay")(
          ContinuousIngest.ingestBatch(batchOf(k - 1), (k - 1).toLong, st, p, quant))
        t("read+checkpoint")(
          ContinuousIngest.readTable(spark, st.docsPath)
            .select(col("doc_id"), md5(col("text")).as("digest"))
            .localCheckpoint().count())
      } finally {
        docs.unpersist()
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Throwable => () }
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
