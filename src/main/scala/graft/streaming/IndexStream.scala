package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity
import graft.sources.Tables

/** H20: streaming vector-index maintenance — the ingestion half of a
  * vector store: embeddings arriving on a stream are cell-assigned
  * against the index's PINNED centroid model (read once at stream
  * start — cell geometry must never drift between micro-batches, the
  * H12 shared-arithmetic rule: the assignment expression is the same
  * `Similarity.assignCells` the batch build uses) and landed under the
  * index's delta layout partitioned by `(batch_id, cell)` through
  * `Tables.landEachBatch` — a replayed micro-batch replaces exactly its
  * own subtree, so the delta is exactly-once BY LAYOUT (A6b's sink
  * discipline), with no read-modify-write of existing cells.
  *
  * Serving reads base ∪ delta with the same cell pruning as the
  * one-shot probe: query I/O stays nProbes cells of base plus nProbes
  * cells of delta regardless of how many batches have landed. A
  * compaction that folds delta files into the base layout is the A13
  * small-file pass applied per cell directory — same machinery, no new
  * semantics.
  */
object IndexStream {

  /** Maintain `dir`'s delta from a stream of (vec_id, embedding) rows,
    * landed under `delta/batch_id=<id>/cell=<c>/`.
    */
  def maintainIvfIndex(stream: DataFrame, dir: String,
                       checkpoint: String): StreamingQuery = {
    val cents = Similarity.readCentroids(stream.sparkSession, dir)
    Tables.landEachBatch(stream, s"$dir/delta", checkpoint, Seq("cell"))(batch =>
      Similarity.assignCells(Similarity.withNorm(batch), cents))
  }

  /** Base ∪ delta with per-vec_id precedence: the LATEST delta batch's
    * row wins over earlier batches, which win over base — so a vector
    * re-ingested (or updated) through the stream occupies exactly one
    * slot with its freshest embedding instead of two slots with stale
    * and fresh scores (round-6 advice). Precedence is the delta's own
    * batch_id (base rows rank −1). An exact re-ingest tied WITHIN one
    * batch is value-identical so any pick serves the same answer; two
    * DIFFERENT updates to one vec_id in one micro-batch have no
    * arrival order to honor (the source is a file listing), so the
    * tie breaks on xxhash64(embedding) with the embedding ARRAY itself
    * as the final key — a TOTAL order over distinct values (a 32-bit
    * hash alone can collide across two distinct updates, making the
    * row_number winner arrival-order-dependent — the round-7 advice),
    * so the same winner serves on every probe, replay, and compaction.
    */
  private def dedupPreferDelta(base: DataFrame,
                               delta: Option[DataFrame]): DataFrame = {
    val cols = Seq("vec_id", "embedding", "nrm", "cell").map(col)
    delta match {
      case None => base.select(cols: _*)
      case Some(d) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id"))
          .orderBy(col("pri").desc, xxhash64(col("embedding")), col("embedding"))
        base.select(cols :+ lit(-1L).as("pri"): _*)
          .unionByName(d.select(cols :+ col("batch_id").cast("long").as("pri"): _*))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select(cols: _*)
    }
  }

  /** Fold the accumulated delta into the base layout — the A13
    * small-file compaction applied to the index: base ∪ delta (latest
    * row per vec_id — see [[dedupPreferDelta]]) rewritten as one
    * `cell=`-partitioned table through the SHARED staging swap
    * (`Tables.replaceTable`): the new layout is complete in a
    * sibling staging dir before the live tree is touched, the swap is a
    * metadata-only rename with its result CHECKED, and a crash in the
    * delete-to-rename window is healed by the next compact or probe's
    * read (round-6 advice — the hand-rolled
    * delete-then-rename here was the one swap sink outside that
    * discipline). Probes before and after serve identical results
    * (spec'd bit-exact); run it when delta file counts start to
    * dominate probe I/O — the same trigger A13 uses.
    */
  def compactIndexDelta(spark: SparkSession, dir: String): Unit = {
    val base = Tables.readLanded(spark, s"$dir/vectors")
    val delta = Tables.readIfPresent(spark, s"$dir/delta")
    if (delta.isEmpty) return
    Tables.replaceTable(dedupPreferDelta(base, delta), s"$dir/vectors", Seq("cell"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/delta"), true)
  }

  /** Probe base ∪ delta with an external query vector — the serve path
    * of the maintained index. Identical routing/scoring/ordering to
    * `Similarity.probeIvfIndexVec`; both legs prune to the probe
    * cells (partition filters on `cell=`), and within the probed cells
    * each vec_id contributes its FRESHEST row ([[dedupPreferDelta]] —
    * the per-vec_id window runs on the pruned nProbes-cell slice, not
    * the corpus). Caveat, documented: an update that MOVES a vector to
    * a different cell is reconciled globally at compaction; between
    * compactions the stale copy is shadowed only when its cell is
    * probed alongside the fresh one — the standard bounded-staleness
    * trade of a delta-maintained index.
    */
  def probeMaintained(spark: SparkSession, dir: String, qVec: Array[Float],
                      k: Int, nProbes: Int = 2): DataFrame = {
    val cents = Similarity.readCentroids(spark, dir)
    val qNrm = math.sqrt(qVec.map(x => x.toDouble * x.toDouble).sum)
    require(qNrm > 0, "query vector has zero norm")
    val probeCells = Similarity.probeCellsFor(cents, qVec, qNrm, nProbes)
    val base = Tables.readLanded(spark, s"$dir/vectors")
    val delta = Tables.readIfPresent(spark, s"$dir/delta")
    dedupPreferDelta(
      base.filter(col("cell").isin(probeCells: _*)),
      delta.map(_.filter(col("cell").isin(probeCells: _*))))
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        (Similarity.dot(col("embedding"), typedLit(qVec.toSeq))
          / (col("nrm") * lit(qNrm))).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** H37: streaming BAND-INDEX maintenance — the dedup twin of
    * [[maintainIvfIndex]]: documents arriving on a stream are banded
    * per micro-batch (the SAME `Dedup.bandKeyed` expressions the batch
    * index build uses — the H12 shared-arithmetic rule) and landed
    * under `dir`, each micro-batch as an overwrite of its own
    * `batch_id=<id>` subtree, so a replayed micro-batch replaces
    * exactly that subtree: the delta is exactly-once BY LAYOUT. This is what makes
    * streamed dedup-index maintenance sound where a managed-table
    * append is not (a replayed append would double band rows; see
    * PLANS round 11 — the set-sim index keeps the batch-refresh path
    * for exactly that reason). Serving is
    * `Dedup.incrementalCandidatesStreamed` (bucketed base ∪ landed
    * delta vs the new load); compaction is [[graft.operators.Dedup.refreshBandIndex]]
    * absorbing the landed rows into the bucketed table.
    */
  def maintainBandDelta(stream: DataFrame, dir: String,
                        checkpoint: String): StreamingQuery =
    Tables.landEachBatch(stream, dir, checkpoint)(graft.operators.Dedup.bandKeyed)
}
