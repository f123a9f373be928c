package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine operator: a Spark implementation plus (when
  * SQL-expressible) a DuckDB oracle over the same parquet tables.
  *
  * Determinism contract (SURVEY.md §2.B): terminal ORDER BY on a unique
  * key, ROUND(x, 4) on float outputs, UTC session timezone, no wall-clock
  * reads. Double-typed aggregates route through DECIMAL(18,6) partial sums
  * so the result is independent of partition/accumulation order — the
  * DuckDB hash-match demands bit-identical values.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))

  /** Streaming-only / non-SQL-expressible op: driver records rows>0 only. */
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None)
}

/** Central persist switch: materialize multi-consumer pipeline stages. */
object Persisting {
  def maybe(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
}

/** Lineage cap for iterative loops (PageRank, connected components, BPE):
  * every round must cut the plan or the lineage grows O(rounds) and the
  * optimizer re-walks it each iteration.
  *
  * Default is `localCheckpoint` — executor-local blocks, fastest, but NOT
  * fault-tolerant: losing an executor mid-loop kills the job (acceptable in
  * local[32], where executor == driver). On a real cluster set
  * `spark.graft.checkpointDir` to a durable path (HDFS/S3): rounds then use
  * RELIABLE `checkpoint`, so executor loss replays from the last round's
  * files instead of failing the loop. `CheckpointSpec` pins that both modes
  * converge to bit-identical results. */
object Checkpointing {
  def cut(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint(true)
      case _ => df.localCheckpoint(true)
    }
  }
}
