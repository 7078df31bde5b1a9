package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Fraud
import graft.sources.Tables

/** H17: streaming distribution-drift monitor — the c23/c24 grid kept up
  * to date by the stream itself, so "has live spend drifted from the
  * reference distribution" is answered from a fixed-size cell table
  * without re-scanning raw history (the H12 cell-maintenance pattern
  * applied to a test statistic instead of a sketch).
  *
  * The grid [lo, hi] is PINNED at monitor creation (a drift score is
  * only meaningful against a fixed reference binning — and every
  * micro-batch must bucket identically), via [[Fraud.driftBucket]], the
  * same expression the batch statistics compile.
  *
  * Exactly-once by LAYOUT (H12's contract): each micro-batch overwrites
  * its own `batch_id=<id>` subtree with its per-bucket counts, so a
  * crash-replayed batch replaces that subtree rather than
  * double-counting. Serving merges cells with an integer sum —
  * associative, commutative — so the served grid equals the one-shot
  * batch histogram over the same rows bit-for-bit, whatever the
  * batching; and because the PSI is then computed by the SHARED
  * [[Fraud.psiFromCells]] arithmetic, the streamed monitor's score is
  * BIT-IDENTICAL to the batch c24 statistic over the same data
  * (asserted in StreamingSpec H17).
  *
  * Scale: the exchange per batch carries ≤256 integer cells per
  * partition; the state table grows one tiny partition per micro-batch,
  * and no retention fold exists for it yet, so its `batch_id=`
  * subtrees grow without bound. [[SketchStream.consolidateCells]]
  * folds only count-min cells: it selects `(r, bucket, cnt)`, which a
  * drift cell table does not have.
  */
object DriftStream {

  /** Maintain the incoming-side cell table: bucket each micro-batch of
    * `stream` (a `value` column) on the pinned grid and land counts
    * under `cellsDir/batch_id=<id>/`.
    */
  def maintainDriftCells(stream: DataFrame, lo: Double, hi: Double,
                         cellsDir: String, checkpoint: String): StreamingQuery =
    Tables.landEachBatch(stream, cellsDir, checkpoint) { batch =>
      batch.filter(col("value").isNotNull)
        .select(Fraud.driftBucket(col("value"), lo, hi).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    }

  /** H21: streaming vocabulary-drift monitor — the text twin of the
    * value-grid monitor above: each micro-batch of documents lands its
    * term counts under `batch_id=` (same exactly-once-by-layout
    * contract), and serving scores the merged term cells against a
    * pinned reference vocabulary through the SHARED Fraud.psiFromCells
    * arithmetic — so the live "has the corpus's language shifted"
    * score is bit-identical to the batch F21 statistic over the same
    * rows (asserted in StreamingSpec H21). Cells are keyed on the TERM
    * (psiFromCells never looks at the key, only the count pair), and
    * PSI's no-smoothing variant absorbs unseen terms on either side.
    * The term derivation is TextAnalysis.termCells on both paths — one
    * shared expression, no drift.
    */
  def maintainTermCells(stream: DataFrame, cellsDir: String,
                        checkpoint: String): StreamingQuery =
    Tables.landEachBatch(stream, cellsDir, checkpoint)(
      graft.operators.TextAnalysis.termCells)

  /** The maintained term cells merged against a reference cell table
    * (`term`, `cnt` — typically termCells of the training corpus) —
    * ONE builder for both serve paths below, so the exact and top-K
    * scores are computed from the identical cell table by construction.
    */
  private def mergedTermCells(spark: SparkSession, cellsDir: String,
                              reference: DataFrame): DataFrame = {
    val incoming = Tables.readLanded(spark, cellsDir)
      .groupBy(col("term")).agg(sum(col("cnt")).as("c1"))
    reference.select(col("term"), col("cnt").cast("long").as("c0"))
      .join(incoming, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("c0"), lit(0L)).as("c0"),
        coalesce(col("c1"), lit(0L)).as("c1"))
  }

  /** Serve the vocabulary PSI of the maintained term cells against a
    * reference cell table (`term`, `cnt` — typically termCells of the
    * training corpus).
    */
  def vocabPsiFromCells(spark: SparkSession, cellsDir: String,
                        reference: DataFrame): DataFrame =
    Fraud.psiFromCells(
      mergedTermCells(spark, cellsDir, reference).select(col("c0"), col("c1")))

  /** Serve the AT-SCALE vocabulary PSI: the same merged term cells as
    * [[vocabPsiFromCells]], scored through the top-K + tail cut
    * (`TextAnalysis.psiTopKFromCells` — the shared cut, so the served
    * score is bit-identical to the batch `f21_vocab_psi_topk` over the
    * same rows, spec'd in StreamingSpec H21). This is the serving shape
    * for a web-scale vocabulary: the PSI algebra touches ≤ topK+1
    * cells however many terms the monitor has accumulated.
    */
  def vocabPsiTopKFromCells(spark: SparkSession, cellsDir: String,
                            reference: DataFrame,
                            topK: Int = 256): DataFrame =
    graft.operators.TextAnalysis.psiTopKFromCells(
      mergedTermCells(spark, cellsDir, reference), topK)

  /** Serve the PSI of the maintained incoming cells against a reference
    * cell table (`bucket`, `cnt` — typically the training/last-known-
    * good histogram on the same grid). Missing buckets on either side
    * are zero-mass cells; the shared [[Fraud.psiFromCells]] then applies
    * the standard no-smoothing variant (both-sides-present cells only,
    * totals over everything).
    */
  def psiFromDriftCells(spark: SparkSession, cellsDir: String,
                        reference: DataFrame): DataFrame = {
    val incoming = Tables.readLanded(spark, cellsDir)
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("c1"))
    val ref = reference.select(col("bucket"), col("cnt").as("c0"))
    Fraud.psiFromCells(
      ref.join(incoming, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("c0"), lit(0L)).as("c0"),
          coalesce(col("c1"), lit(0L)).as("c1")))
  }

  /** H26: streaming embedding-drift monitor — E19 kept live: as
    * embeddings arrive, the per-dimension centroid comparison (ref
    * slice vs incoming slice) stays current without rescanning vector
    * history. E19's fixed-point design is what makes this a NATIVE
    * streaming aggregation with UNCONDITIONAL batch parity (H23's
    * order-free class): the shared quantize projection emits integral
    * (dim, slice, qx) rows, the four per-dim accumulators are
    * commutative-associative integer adds the state store merges in
    * any arrival order/batching, and the shared close divides out the
    * means per emission. Complete-mode output is the full 64-row drift
    * table each batch; the final emission over the corpus is
    * BIT-IDENTICAL to batch E19 (asserted in StreamingSpec H26 — no
    * watermark reorder stage needed, the algebra does the work).
    * State: 64 dims × (2 longs + 2 counts) — nothing grows with
    * volume.
    */
  def embeddingDriftMonitor(stream: DataFrame): DataFrame = {
    import graft.operators.Similarity
    Similarity.driftClose(
      Similarity.quantizedComponents(stream)
        .groupBy(col("dim"))
        .agg(Similarity.driftSumExprs.head, Similarity.driftSumExprs.tail: _*))
  }
}
