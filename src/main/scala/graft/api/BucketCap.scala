package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Guard against degenerate bucket/block keys before a self-join.
  *
  * A bucketed self-join (LSH bands, SimHash chunks, blocked near-dup) is
  * quadratic PER BUCKET: one degenerate bucket of 10^6 identical documents
  * is 5·10^11 pairs on its own. Capping is the standard production guard —
  * identical-content floods are exact dedup's job, not the near-dup join's.
  *
  * The cap is FULLY LAZY: [[cap]] builds a broadcast left-anti join against
  * the aggregated oversized-key frame, so constructing the plan launches no
  * Spark job (the round-2 design ran an eager census at plan time — an
  * unexpected side effect for an otherwise-lazy API, and a full extra pass
  * over the bands lineage per call site). The census is still available for
  * auditing via [[oversized]] — drops should be inspected, not silent.
  *
  * Cost note: at execution the capped frame computes its input lineage once
  * more for the census aggregation (broadcast side). Persist the input when
  * it feeds a self-join anyway (both `graft.operators.Dedup` band frames
  * do), and the census rides the cached stage.
  */
object BucketCap {

  /** Census of oversized buckets: one row per `keys` value with more than
    * `maxBucket` members (`n_members`). Run `.collect()`/`.show()` on this
    * to audit what [[cap]] will drop. */
  def oversized(df: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > maxBucket)

  /** Drop every row whose `keys` bucket exceeds `maxBucket` members.
    * Lazy: no job until the returned plan executes. The oversized-key set
    * is tiny by construction (≤ total/maxBucket keys), hence broadcast. */
  def cap(df: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket $maxBucket too small to form any pair")
    df.join(
      broadcast(oversized(df, keys, maxBucket).select(keys.map(col): _*)),
      keys, "left_anti")
  }
}
