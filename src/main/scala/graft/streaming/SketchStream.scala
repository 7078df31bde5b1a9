package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Relational
import graft.sources.Tables

/** H12: streaming sketch maintenance — the count-min cell table kept up
  * to date by the stream itself, so heavy hitters are served from a
  * fixed-size state table without ever re-scanning raw history.
  *
  * Exactly-once by LAYOUT, not by fencing: each micro-batch sketches its
  * own rows ([[Relational.cmsCells]] — one digest per row, partial agg)
  * and overwrites its own `batch_id=<id>` subtree with them, so a
  * replayed batch (crash between sink write and checkpoint commit)
  * replaces that subtree instead of double-adding
  * — the additive analogue of the A6b exactly-once sink. Serving merges
  * cells across batch partitions with an integer sum, which is
  * associative and commutative, so the served sketch is BIT-IDENTICAL
  * to the one-shot batch sketch over the same rows, whatever the
  * batching (asserted exactly in the spec — the streaming counterpart
  * of b35_cms_merge's shared-oracle proof).
  *
  * Scale: per batch the exchange carries ≤ depth×2^17 integer cells per
  * partition; the state table grows by ≤ 4 MB per micro-batch, and
  * [[consolidateCells]] bounds the partition COUNT by folding aged
  * batches into one consolidated partition (integer cell addition —
  * served estimates provably unchanged). Like A13 it is a single-writer
  * op: run it only with the stream quiesced — a micro-batch committing
  * mid-consolidation would be silently dropped by the swap (see
  * [[graft.sources.Tables.compactPartitioned]]).
  */
object SketchStream {

  /** Run the maintenance stream: sketch each micro-batch of `stream` on
    * `keyCol`, land cells under `cellsDir/batch_id=<id>/`.
    */
  def maintainCms(stream: DataFrame, keyCol: String, cellsDir: String,
                  checkpoint: String): StreamingQuery =
    Tables.landEachBatch(stream, cellsDir, checkpoint)(Relational.cmsCells(_, keyCol))

  /** Serve heavy hitters from the maintained cell table: cell-wise sum
    * across batch partitions (integer — exact), then the same
    * threshold estimate the batch sketch uses. `keyed` supplies the
    * candidate key set (typically the dimension table or the distinct
    * keys of the period under investigation — never raw history).
    */
  def heavyHittersFromCells(keyed: DataFrame, cellsDir: String,
                            keyCol: String, threshold: Long): DataFrame = {
    val merged = Tables.readLanded(keyed.sparkSession, cellsDir)
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    Relational.cmsThresholdEstimate(keyed, merged, keyCol, threshold)
  }

  /** H33: streaming WINDOWED-distinct maintenance — B45's daily HLL
    * register cells kept up to date by the stream, so trailing-window
    * distinct counts are served from ≤ days×256 integer cells without
    * re-scanning raw history.
    *
    * Same exactly-once-by-layout sink as [[maintainCms]], with one
    * strictly stronger property: register max is IDEMPOTENT, not just
    * associative+commutative, so even a batch that double-lands its
    * cells (the failure the subtree overwrite exists to fence) could not
    * change a served value — the layout discipline is kept for
    * uniformity, but the algebra no longer depends on it. Serving
    * merges cells across batch partitions by (day, bucket) max and
    * runs the SHARED [[Relational.windowHllFromCells]] close, so the
    * served report is BIT-IDENTICAL to the one-shot batch b45 over the
    * same rows, whatever the batching (spec'd at doubleToLongBits).
    *
    * Scale: per batch the exchange carries ≤ touched-days×256 cells;
    * retention is structural — cells are keyed by day, so aging out
    * history older than the serve horizon is a partition drop, not a
    * fold (contrast [[consolidateCells]]).
    */
  def maintainDailyHll(stream: DataFrame, keyCol: String, dayCol: String,
                       cellsDir: String, checkpoint: String): StreamingQuery =
    Tables.landEachBatch(stream, cellsDir, checkpoint) { batch =>
      Relational.dailyHllCells(
        batch.select(col(dayCol).as("ship_day"), col(keyCol)), keyCol)
    }

  /** Serve per-day trailing-window distinct-count estimates from the
    * maintained cell table: (day, bucket) max across batch partitions
    * (idempotent — exact under any replay), then the shared B45 close.
    */
  def windowDistinctFromCells(spark: org.apache.spark.sql.SparkSession,
                              cellsDir: String,
                              windowDays: Int = 60): DataFrame = {
    val merged = Tables.readLanded(spark, cellsDir)
      .groupBy(col("ship_day"), col("bucket"))
      .agg(max(col("rho")).as("rho"))
    Relational.windowHllFromCells(merged, windowDays)
  }

  /** H34: streaming WINDOWED-quantile maintenance — B46's daily
    * histogram cells kept up to date by the stream. The grid [lo, hi]
    * is a FIXED MODEL PARAMETER here (in production: pinned from
    * history before the stream starts — the LSH-planes pattern), not
    * derived per batch: cells are mergeable across batches only
    * because every batch buckets against the same grid.
    *
    * The algebra contrast with [[maintainDailyHll]] is the point:
    * histogram counts merge by ADDITION, which is associative and
    * commutative but NOT idempotent, so this sink — like
    * [[maintainCms]], unlike the HLL one — genuinely depends on the
    * exactly-once-by-layout discipline (a double-landed replay would
    * double-count). Serving sums cells across batch partitions and
    * runs the SHARED [[Relational.windowQuantileFromCells]] close, so
    * the served trailing quantiles are BIT-IDENTICAL to the batch b46
    * computed on the same grid over the same rows.
    */
  def maintainDailyHist(stream: DataFrame, valueCol: String, dayCol: String,
                        lo: Double, hi: Double,
                        cellsDir: String, checkpoint: String): StreamingQuery =
    Tables.landEachBatch(stream, cellsDir, checkpoint) { batch =>
      val stats = batch.sparkSession.range(1)
        .select(lit(lo).as("lo"), lit(hi).as("hi"))
      Relational.dailyHistCells(
        batch.select(col(dayCol).as("ship_day"), col(valueCol)), valueCol, stats)
    }

  /** Serve per-day trailing-window quantiles from the maintained cell
    * table: (day, bucket) SUM across batch partitions (exact integer
    * addition — the b37_hist_merge law), then the shared B46 close on
    * the same fixed grid.
    */
  def windowQuantilesFromCells(spark: org.apache.spark.sql.SparkSession,
                               cellsDir: String, lo: Double, hi: Double,
                               windowDays: Int = 60): DataFrame = {
    val merged = Tables.readLanded(spark, cellsDir)
      .groupBy(col("ship_day"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    val stats = spark.range(1).select(lit(lo).as("lo"), lit(hi).as("hi"))
    Relational.windowQuantileFromCells(merged, stats, windowDays)
  }

  /** H35: streaming exact-k sample maintenance — I25's bottom-k
    * algebra served online: each micro-batch keeps its own k smallest
    * (hk, id) rows (a k-row "cell" per batch — [[graft.operators
    * .Profile.uniformSampleK]] applied to the batch), lands them under
    * `batch_id=` exactly-once by layout, and serving re-cuts the union
    * to the global bottom-k — BIT-IDENTICAL to the one-shot i12 sample
    * over every row ever seen, because each of the global k smallest
    * is smallest within its own batch (the i25 law, with micro-batches
    * as the shards). The eval sample stays fresh under continuous
    * ingest at k rows per batch landed and ≤ batches·k read per serve,
    * never a corpus rescan.
    *
    * Algebra note (the h33/h34 taxonomy): bottom-k union is idempotent
    * UNDER DEDUP BY ID — serving dedups (id) defensively, so even a
    * double-landed replay (which the subtree overwrite already fences)
    * could not push a legitimate row out of the cut with a duplicate.
    */
  def maintainSampleCells(stream: DataFrame, k: Int, cellsDir: String,
                          checkpoint: String,
                          idCol: String = "doc_id"): StreamingQuery =
    Tables.landEachBatch(stream, cellsDir, checkpoint)(
      graft.operators.Profile.uniformSampleK(_, k, idCol))

  /** Serve the maintained sample: dedup by id across batch partitions,
    * re-cut the bottom-k — equals the one-shot batch sample exactly.
    */
  def sampleFromCells(spark: org.apache.spark.sql.SparkSession,
                      cellsDir: String, k: Int,
                      idCol: String = "doc_id"): DataFrame = {
    Tables.readLanded(spark, cellsDir)
      .select(col(idCol), col("source"), col("hk"))
      .distinct()
      .orderBy(col("hk"), col(idCol))
      .limit(k)
  }

  /** Retention for the cell table: under a long-lived stream the
    * `batch_id=` partitions grow without bound (one per micro-batch
    * forever), so listing cost — not data size — eventually dominates
    * every serve. This pass folds every batch older than the newest
    * `keepLast` into ONE consolidated partition (`batch_id=-1`) by
    * cell-wise integer addition — the same associative merge serving
    * performs, so served estimates are BIT-IDENTICAL before and after
    * (spec'd), and re-consolidation folds the previous `-1` partition
    * in by the same arithmetic (idempotent under repetition).
    *
    * The newest `keepLast` batches stay physically untouched because
    * they are the replay surface: after a crash the stream re-runs only
    * its newest uncommitted batch, whose subtree overwrite must land
    * on that batch's OWN subtree — folding it away would turn
    * the replay's overwrite into a double-add. Any `keepLast >= 1`
    * therefore preserves exactly-once; larger values just keep more
    * recent batches individually inspectable.
    *
    * Crash-safe via the same staged swap as A13 ([[graft.sources.Tables
    * .swapBatches]]): readers and crashes see the old layout or the new
    * one, never a mix. SINGLE-WRITER like A13 — run only with the
    * maintenance stream quiesced (between triggers or stopped).
    */
  def consolidateCells(spark: org.apache.spark.sql.SparkSession,
                       cellsDir: String, keepLast: Int = 4): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1 (got $keepLast): the newest " +
      "batch is the crash-replay surface and must stay unconsolidated")
    // partition-path values read back as int when they fit; pin to long
    val cells = Tables.readLanded(spark, cellsDir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    val maxRow = cells.filter(col("batch_id") >= 0)
      .agg(max(col("batch_id")).as("m")).head()
    if (maxRow.isNullAt(0)) return // only the consolidated partition left
    val cutoff = maxRow.getLong(0) - (keepLast - 1)
    val old = cells.filter(col("batch_id") < cutoff) // includes a prior -1
    if (old.isEmpty) return
    val folded = old.groupBy(col("r"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("r"), col("bucket"), col("cnt"), lit(-1L).as("batch_id"))
    val keep = cells.filter(col("batch_id") >= cutoff)
      .select(col("r"), col("bucket"), col("cnt"), col("batch_id"))
    Tables.swapBatches(folded.unionByName(keep), cellsDir)
  }
}
