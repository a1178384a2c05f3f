package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe: A/B the two corpusRarity formulations — the r19
  * occurrence-stream plan (count + join + per-doc agg over raw gram
  * occurrences) vs the r20 (doc, gram)-count pre-aggregation — on
  * SHORT docs (the sf0.1 fixture as-is, ~300 chars, collapse factor
  * ≈1) and LONG docs (the same corpus concatenated into multi-KB docs,
  * where within-doc gram repetition is what the pre-agg exists to
  * collapse). Interleaved min-of-3 per the box-noise protocol; noop
  * sink. Never used by Bench/Verify.
  *
  * Usage: runMain graft.RarityAbProbe <sfDir>
  */
object RarityAbProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCores("32"))
    import graft.queries.Tables

    val n = 3; val rareMax = 2L
    def gramsOf(docs: DataFrame): DataFrame = {
      val chars = filter(split(lower(col("text")), ""), ch => ch =!= lit(""))
      docs.select(col("doc_id"),
        explode(graft.functions.Native.wordNgramsNative(chars, n)).as("g"))
    }
    // r19 formulation: raw occurrence stream through count + join + agg
    def rarityOld(docs: DataFrame): DataFrame = {
      val grams = gramsOf(docs)
      val cnts = grams.groupBy("g").agg(count(lit(1)).as("cf"))
      grams.join(cnts, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tri"),
          sum(col("cf")).as("sum_freq"),
          min(col("cf")).as("min_freq"),
          sum(when(col("cf") <= rareMax, 1L).otherwise(0L)).as("n_rare"))
        .withColumn("rare_ratio",
          round(col("n_rare").cast("double") / col("n_tri").cast("double"), 6))
    }
    // r20 formulation: (doc, gram) pre-agg (mirrors Text.corpusRarity)
    def rarityNew(docs: DataFrame): DataFrame = {
      val perDoc = gramsOf(docs).groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val cnts = perDoc.groupBy("g").agg(sum(col("c")).as("cf"))
      perDoc.join(cnts, "g")
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tri"),
          sum(col("c") * col("cf")).as("sum_freq"),
          min(col("cf")).as("min_freq"),
          sum(when(col("cf") <= rareMax, col("c")).otherwise(0L)).as("n_rare"))
        .withColumn("rare_ratio",
          round(col("n_rare").cast("double") / col("n_tri").cast("double"), 6))
    }

    val short = Tables.documents(spark, sfDir).select("doc_id", "text")
    // long docs: ~32 source docs concatenated per output doc (multi-KB)
    val long = short
      .groupBy((col("doc_id") / 32).cast("long").as("doc_id"))
      .agg(concat_ws(" ", collect_list(col("text"))).as("text"))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // collapse factors, for the record
    def collapse(docs: DataFrame): (Long, Long, Double) = {
      val g = gramsOf(docs)
      val r = g.agg(count(lit(1))).head().getLong(0)
      val d = g.groupBy("doc_id", "g").agg(count(lit(1)))
        .agg(count(lit(1))).head().getLong(0)
      (r, d, r.toDouble / d)
    }
    val (sr, sd, sc) = collapse(short)
    println(f"SHORT grams=$sr distinct_per_doc=$sd collapse=$sc%.2f")
    val (lr, ld, lc) = collapse(long)
    println(f"LONG  grams=$lr distinct_per_doc=$ld collapse=$lc%.2f")

    // pin the long frame so both variants read the same materialized
    // input (its groupBy-concat build would otherwise ride every run)
    val longP = long.localCheckpoint()
    val variants: Seq[(String, DataFrame)] = Seq(
      "short_old" -> rarityOld(short), "short_new" -> rarityNew(short),
      "long_old" -> rarityOld(longP), "long_new" -> rarityNew(longP))
    val acc = scala.collection.mutable.Map[String, Double]()
      .withDefaultValue(Double.MaxValue)
    (1 to 3).foreach { sweep =>
      variants.foreach { case (name, df) =>
        val s = time(run(df))
        acc(name) = math.min(acc(name), s)
        println(f"sweep $sweep $name%-10s $s%.2f")
      }
    }
    println(acc.toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=$v%.2f" }.mkString("MIN ", " ", ""))
    spark.stop()
  }
}
