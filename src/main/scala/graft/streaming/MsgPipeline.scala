package graft.streaming

import graft.operators.MsgCodec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference job's dataflow (SURVEY.md §3.2) as a Structured Streaming
  * pipeline: source of raw wire-format strings → fixed-width parse → 1→N
  * fan-out → batched sinks.
  *
  * Reference parity notes:
  *   - side outputs (`OutputTag`, `DataStreamProcessingJob.java:38-66`) are
  *     reproduced as one `foreachBatch` that caches one narrow frame per
  *     micro-batch (the parsed session rows, without the raw `value`) and
  *     feeds both outputs from it — the reference's one-pass guarantee,
  *     which two independent streaming queries would NOT give (they would
  *     re-read the source);
  *   - the checkpoint-coupled ack protocol (`PulsarSource.java:79-118`) maps
  *     to the offset/commit WAL under `checkpointLocation` — no custom code;
  *   - delivery: at-least-once into sinks with an idempotence hook
  *     (`batchId`), an upgrade over the reference which silently DROPS a
  *     batch on HTTP failure (`CTSDBSink.java:163-170,182`).
  */
object MsgPipeline {

  /** Parse a stream/batch of raw messages (column `value`) into the wire
    * schema. Rows failing the length guard are dropped from the parsed
    * view, matching `DataStreamProcessingJob.java:47-50`. */
  def parse(msgs: DataFrame): DataFrame =
    msgs.where(MsgCodec.guard(col("value")))
      .select(
        col("value"),
        MsgCodec.parseModule(col("value")).as("module"),
        MsgCodec.parseSendTs(col("value")).as("send_ts"),
        MsgCodec.parseTail(col("value")).as("tail"))

  /** The `session-output` side stream: payload tails of session msgs. */
  def sessionStream(parsed: DataFrame): DataFrame =
    parsed.where(MsgCodec.isSession(col("module")))
      .select(col("tail"))

  /** The `zhiyan-output` side stream: per-message processing delay (ms). */
  def delayStream(parsed: DataFrame, nowMs: Long): DataFrame =
    parsed.where(MsgCodec.isSession(col("module")) && col("send_ts").isNotNull)
      .select(
        MsgCodec.delayMs(col("send_ts"), lit(nowMs)).as("delay_ms"),
        timestamp_millis(col("send_ts")).as("event_time"))

  /** Stream-static enrichment join (SURVEY.md §2.B joins row): the
    * streaming side keeps its micro-batch incrementality; the static dim
    * is broadcast per batch — no stream-side shuffle. At scale the dim
    * table re-reads per batch pick up slowly-changing updates for free. */
  def enrich(parsed: DataFrame, dim: DataFrame, joinCols: Seq[String]): DataFrame =
    parsed.join(broadcast(dim), joinCols, "left_outer")

  /** Single-pass streaming fan-out: one source read per micro-batch, both
    * sinks fed from one cached frame, batchId passed through for sink
    * idempotence.
    *
    * The cached frame holds only what the two outputs read — the session
    * rows' `module`, `send_ts` and `tail` — and is coalesced to the
    * session's task slots, so each sink job runs one wave of tasks however
    * many source partitions the batch spans (a task per partition would
    * queue 12 blocking POSTs on 4 slots for 3 topics × 4 partitions).
    * Coalescing concatenates whole source partitions, so record order
    * within a partition is kept. */
  def runFanOut(
      msgs: DataFrame,
      checkpointDir: String,
      nowMs: () => Long,
      sessionSink: (Dataset[String], Long) => Unit,
      metricSink: (DataFrame, Long) => Unit): StreamingQuery = {
    msgs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val sessions = parse(batch)
          .where(MsgCodec.isSession(col("module")))
          .select("module", "send_ts", "tail")
          .coalesce(spark.sparkContext.defaultParallelism)
          .persist()
        try {
          import spark.implicits._
          sessionSink(sessionStream(sessions).as[String], batchId)
          metricSink(delayStream(sessions, nowMs()), batchId)
        } finally sessions.unpersist()
        ()
      }
      .start()
  }
}
