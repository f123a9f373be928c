package graft

import org.apache.spark.sql.functions._

import graft.api.BucketCap

/** The banding flood guard under every MinHash/SimHash dedup path: buckets
  * larger than the cap are excluded wholesale (conservative: dedup goes
  * blind on them, never quadratic), everything else passes untouched.
  */
class BucketCapSpec extends SparkSpec {
  import spark.implicits._

  // 3 buckets: a=5 members, b=3, c=1
  private def frame = Seq(
    ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L),
    ("b", 10L), ("b", 11L), ("b", 12L),
    ("c", 20L)).toDF("bv", "id")

  test("oversized census reports exactly the buckets past the cap") {
    val over = BucketCap.oversized(frame, Seq("bv"), maxBucket = 3)
      .as[(String, Long)].collect().toMap
    assert(over == Map("a" -> 5L))
    assert(BucketCap.oversized(frame, Seq("bv"), maxBucket = 5).count() == 0)
  }

  test("cap drops oversized buckets wholesale, keeps the rest untouched") {
    val kept = BucketCap.cap(frame, Seq("bv"), maxBucket = 3)
      .as[(String, Long)].collect().toSet
    assert(kept.map(_._1) == Set("b", "c"), "only the a-bucket is past the cap")
    assert(kept == frame.as[(String, Long)].collect().toSet.filter(_._1 != "a"),
      "surviving rows must pass through unmodified")
  }
}
