package graft.streaming

import graft.api.{Manifest, SegmentedState, StateManifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming face of [[graft.api.IncrementalJoin]]: maintain the inner
  * equi-join view of TWO append-only row feeds arriving interleaved on one
  * stream (rows tagged 'A' / 'B' by `sideCol` — the single-topic CDC
  * shape), with the same delta rule per micro-batch:
  *
  * {{{  ΔJ = ΔA ⋈ B_prev  ∪  A_prev ⋈ ΔB  ∪  ΔA ⋈ ΔB  }}}
  *
  * State layout under `root/`: `A/batch=<id>/`, `B/batch=<id>/` hold the
  * accumulated sides, `view/batch=<id>/` the per-batch join increments.
  * The root is a [[graft.api.SegmentedState]] root: one commit publishes a
  * batch's three directories together with its id in the manifest's
  * batch ledger, and every read takes the live list, so a batch that
  * crashed before its commit is never read and its replay overwrites its
  * directories. A replay of a committed batch is a no-op (`StreamingSpec`
  * replays batches, and pins the maintained view bit-identical to the
  * batch [[graft.api.IncrementalJoin.maintain]] and to the full join — the
  * suite's fifth batch↔stream parity pair).
  *
  * Scale shape: per batch, two delta-vs-history joins and one delta-delta
  * join — the view is never rescanned; history sides are plain parquet a
  * production build would bucket by the join key (see
  * `Layout.writeBucketed`) so the delta joins co-partition without
  * shuffling history.
  */
object StreamJoinView {

  /** Column sets of the maintained join: `keys` on both sides, `aCols`
    * from 'A' rows, `bCols` from 'B' rows; `sideCol` holds the tag.
    * `signCol`, when set, names a ±1 column on every delta row and
    * switches the view to SIGNED semantics ([[graft.api.IncrementalJoin
    * .maintainSigned]]): retractions flow through the maintained join by
    * sign-product multiplication — the streaming face of CDC-with-deletes
    * IVM. Read the live view through [[netView]] in that mode. */
  final case class JoinViewSpec(
      keys: Seq[String], aCols: Seq[String], bCols: Seq[String],
      sideCol: String = "side", signCol: Option[String] = None)

  private val Dirs = Seq("A", "B", "view")

  private object Kind extends SegmentedState.Kind {
    def onDisk(root: String): Seq[String] =
      Dirs.flatMap(d => SegmentedState.children(s"$root/$d").map(n => s"$d/$n"))
    def batchOf(name: String): Option[Long] =
      name.split("/batch=", 2).lift(1).flatMap(_.toLongOption)
  }

  /** The union of the live directories under `dir` (`A`, `B` or `view`) of
    * the manifest `m`; None when it lists none. */
  private def read(spark: SparkSession, root: String, m: Option[Manifest],
      dir: String): Option[DataFrame] = {
    val segs = m.map(Kind.tracked).getOrElse(Nil).filter(_.startsWith(s"$dir/"))
    if (segs.isEmpty) None else Some(spark.read.parquet(segs.map(sg => s"$root/$sg"): _*))
  }

  /** Apply one micro-batch (idempotent on `batchId`). The delta rule is
    * order-dependent (batch N's increment joins its delta against the
    * batches before N only — later batches' increments claim the cross
    * terms against N), and the sides read here are the live list of the
    * manifest this batch commits on, which holds exactly the batches
    * before it: a replay sees the state the first attempt saw. */
  def applyBatch(batch: DataFrame, batchId: Long, root: String,
      spec: JoinViewSpec): Unit = SegmentedState.writing(root) {
    val base = StateManifest.current(root)
    if (!base.exists(_.lastBatch >= batchId)) {
      val spark = batch.sparkSession
      val extra = spec.signCol.toSeq
      val aCols = spec.keys ++ spec.aCols ++ extra
      val bCols = spec.keys ++ spec.bCols ++ extra
      val dA = batch.filter(col(spec.sideCol) === "A").select(aCols.map(col): _*)
      val dB = batch.filter(col(spec.sideCol) === "B").select(bCols.map(col): _*)
      val aPrev = read(spark, root, base, "A").map(_.select(aCols.map(col): _*))
      val bPrev = read(spark, root, base, "B").map(_.select(bCols.map(col): _*))
      def j(a: DataFrame, b: DataFrame) = spec.signCol match {
        case Some(sc) => graft.api.IncrementalJoin.joinSignedPair(a, b, spec.keys, sc)
        case None => a.join(b, spec.keys)
      }
      val deltaJ = Seq(
        bPrev.map(b => j(dA, b)), // ΔA ⋈ B_prev
        aPrev.map(a => j(a, dB)), // A_prev ⋈ ΔB
        Some(j(dA, dB))           // ΔA ⋈ ΔB
      ).flatten.reduce(_ unionByName _)
      deltaJ.write.mode("overwrite").parquet(s"$root/view/batch=$batchId")
      dA.write.mode("overwrite").parquet(s"$root/A/batch=$batchId")
      dB.write.mode("overwrite").parquet(s"$root/B/batch=$batchId")
      SegmentedState.publish(root, base, Some(batchId),
        StateManifest.schemaFingerprint(deltaJ.schema))(
        _ ++ Dirs.map(d => s"$d/batch=$batchId"))
    }
  }

  /** The maintained view (all committed increments so far). */
  def view(spark: SparkSession, root: String): Option[DataFrame] =
    read(spark, root, StateManifest.current(root), "view")

  /** Signed-mode live view: net count per distinct row, retracted rows
    * gone ([[graft.api.IncrementalJoin.net]] over the increments). */
  def netView(spark: SparkSession, root: String, spec: JoinViewSpec): Option[DataFrame] =
    view(spark, root).map(v =>
      graft.api.IncrementalJoin.net(v,
        spec.signCol.getOrElse(sys.error("netView requires a signed JoinViewSpec"))))

  /** Wire a tagged stream into the maintained join view. */
  def maintain(tagged: DataFrame, root: String, checkpoint: String,
      spec: JoinViewSpec): org.apache.spark.sql.streaming.StreamingQuery =
    tagged.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) => applyBatch(b, id, root, spec))
      .start()
}
