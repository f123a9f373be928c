package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._

/** ZhiYan-sink semantics (`ZhiYanSink.java:69-115`): the reference buffers
  * per-message delays and reports each through the SDK's `avgMetric` — a
  * remote AVG aggregate. In Spark that aggregation is first-class: a
  * watermarked tumbling-window AVG, reported per window from `foreachBatch`.
  * The reference's 1000-msg/10-s flush thresholds map to the micro-batch
  * trigger; its requeue-on-failure (`ZhiYanSink.java:95-97`) maps to batch
  * retry from the WAL.
  */
object MetricSink {

  /** Windowed delay aggregate over the fan-out's delay stream
    * (`delay_ms`, `event_time`). Watermark bounds state — late rows beyond
    * 1 minute are dropped (upgrade: the reference has no event time at all,
    * `DataStreamProcessingJob.java:119`). An input that already carries a
    * watermark on `event_time` — [[StatefulOps.dedupWithinWatermark]]
    * output — keeps it: Spark refuses to redefine a watermark, and the one
    * watermark then bounds both operators' state. */
  def windowedAvg(delays: DataFrame, windowLen: String = "10 seconds"): DataFrame =
    (if (delays.schema("event_time").metadata.contains(EventTimeWatermark.delayKey)) delays
     else delays.withWatermark("event_time", "1 minute"))
      .groupBy(window(col("event_time"), windowLen))
      .agg(
        count(lit(1)).as("n"),
        avg(col("delay_ms")).as("avg_delay_ms"),
        min(col("delay_ms")).as("min_delay_ms"),
        max(col("delay_ms")).as("max_delay_ms"))
      .select(
        col("window.start").as("win_start"),
        col("n"), col("avg_delay_ms"), col("min_delay_ms"), col("max_delay_ms"))
}
