package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed range (interval) join — the second join shape Spark's
  * optimizer has no native strategy for: `point.v ∈ [lo, hi)` plans as
  * BroadcastNestedLoopJoin (|L|×|R| comparisons) when written as a raw
  * theta-join. Same family as the engine's 7×7 cell join
  * (`Grid.n3n7`): quantize to a grid so the predicate becomes an
  * EQUI-join on the bucket key plus a residual filter.
  *
  * Buckets of width `bucketWidth`: a point falls in exactly one
  * bucket; an interval explodes to every bucket it overlaps. A
  * (point, interval) pair can therefore meet on at most ONE bucket —
  * no post-join dedup. Cost ∝ Σ interval-span/width + matches, never
  * |L|×|R|; both sides shuffle on the bucket key, so matches stay
  * co-located on a cluster. Pick `bucketWidth` near the typical
  * interval length: much smaller explodes intervals into many buckets,
  * much larger funnels unrelated points into shared buckets (both
  * still correct — the residual filter decides — just wasteful; a
  * pathological giant interval is bounded by `maxBucketsPerInterval`,
  * enforced at runtime with a loud error, the same knob as grid
  * side-length in the outlier join).
  */
object RangeJoin {

  /** Buckets an interval overlaps: `sequence(bucket(lo), bucket(hi))`,
    * guarded — an interval spanning more than `maxBuckets` buckets
    * fails the job with a clear message instead of silently exploding
    * to millions of rows (or tripping Spark's sequence-length limit
    * with an opaque error); mis-sized `bucketWidth` is a planning bug
    * the caller must see. `hi` is exclusive in both joins but
    * sequence() is inclusive — the extra edge bucket is harmless (the
    * residual predicate rejects the non-overlap). */
  private def bucketSpan(lo: Column, hi: Column, bucketWidth: Double,
                         maxBuckets: Long): Column = {
    val b0 = floor(lo / bucketWidth).cast("long")
    val b1 = floor(hi / bucketWidth).cast("long")
    when(b1 - b0 < lit(maxBuckets), sequence(b0, b1))
      .otherwise(raise_error(format_string(
        s"RangeJoin: interval [%s, %s) spans more than $maxBuckets " +
          s"buckets at bucketWidth=$bucketWidth — widen bucketWidth or raise " +
          "maxBucketsPerInterval", lo, hi)))
  }

  /** `points` must carry a double column `v` (+ payload); `intervals`
    * must carry double columns `lo`, `hi` (+ payload); payload names
    * must not collide. Returns every (point, interval) row pair with
    * `lo ≤ v < hi` — inner semantics, all columns from both sides. */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      bucketWidth: Double,
                      maxBucketsPerInterval: Long = 10000L): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(maxBucketsPerInterval > 0, "maxBucketsPerInterval must be positive")
    val collisions = points.columns.toSet.intersect(intervals.columns.toSet)
    require(collisions.isEmpty, s"column collision: ${collisions.mkString(",")}")
    val pB = points.withColumn("_b", floor(col("v") / bucketWidth))
    val iB = intervals.withColumn("_b",
      explode(bucketSpan(col("lo"), col("hi"), bucketWidth, maxBucketsPerInterval)))
    pB.join(iB, Seq("_b"))
      .where(col("v") >= col("lo") && col("v") < col("hi"))
      .drop("_b")
  }

  /** Interval × interval OVERLAP join (half-open semantics: intervals
    * `[lo, hi)` and `[lo2, hi2)` match iff `lo < hi2 AND lo2 < hi`),
    * optionally scoped to equal values of shared `keys` columns —
    * "pairs of sessions by the same user that overlap in time".
    *
    * `left` carries `lo`, `hi` (+ payload); `right` carries `lo2`,
    * `hi2` (+ payload); `keys` name columns present on BOTH sides;
    * all other names must not collide (self-joins rename one side).
    *
    * Both sides explode to the buckets they span and equi-join on
    * `keys + bucket`. A pair can share MANY buckets, so each pair is
    * counted only in its canonical bucket — the bucket where the
    * overlap STARTS (`bucket(max(lo, lo2))`), which both sides
    * provably cover: exactly-once output with no post-join dedup
    * shuffle. Cost ∝ Σ span/width + matches, never |L|×|R|; on a
    * cluster both sides shuffle on (keys, bucket) so matching pairs
    * stay co-located. */
  def intervalOverlap(left: DataFrame, right: DataFrame,
                      bucketWidth: Double,
                      keys: Seq[String] = Nil,
                      maxBucketsPerInterval: Long = 10000L): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(maxBucketsPerInterval > 0, "maxBucketsPerInterval must be positive")
    keys.foreach { k =>
      require(left.columns.contains(k) && right.columns.contains(k),
        s"key column $k must exist on both sides")
    }
    val collisions =
      left.columns.toSet.intersect(right.columns.toSet) -- keys.toSet
    require(collisions.isEmpty, s"column collision: ${collisions.mkString(",")}")
    val lB = left.withColumn("_b",
      explode(bucketSpan(col("lo"), col("hi"), bucketWidth, maxBucketsPerInterval)))
    val rB = right.withColumn("_b",
      explode(bucketSpan(col("lo2"), col("hi2"), bucketWidth, maxBucketsPerInterval)))
    lB.join(rB, keys :+ "_b")
      .where(col("lo") < col("hi2") && col("lo2") < col("hi") &&
        col("_b") === floor(greatest(col("lo"), col("lo2")) / bucketWidth).cast("long"))
      .drop("_b")
  }
}
