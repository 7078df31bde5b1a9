package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Tables

/** Structured-Streaming assembly of the reference pipeline
  * (reference: src/spark/jobs/spark.py process_stream / write_streams):
  * schema'd streaming file read → 15-min watermark → stream-static
  * left-outer enrichment joins → rule scoring ([[scoredStream]]), and
  * 1-minute tumbling windowed trends over the scored rows (approx
  * distinct, like the reference). [[start]] lands the scored stream in
  * the date-partitioned parquet sink exactly-once, through
  * `Tables.landEachBatch`.
  *
  * Scale: the stream side carries the watermark and all state is
  * windowed+watermarked, so state store size is bounded; dimension sides
  * are static and broadcast; the sink rebalances on its partition
  * columns before writing (no small-file explosion, and no single-task
  * funnel for a batch that lands in one leaf).
  */
object FraudStream {

  /** Stream-static enrichment + fraud scoring on reference-schema
    * transactions. Keeps the reference's literal rule constants
    * (amount > 500, percent discount) because this path consumes the
    * reference's own CSV schema.
    */
  def scoredStream(tx: DataFrame, users: DataFrame, products: DataFrame,
                   watermark: String = "15 minutes"): DataFrame = {
    val u = users
      .withColumnRenamed("country", "user_country")
      .withColumnRenamed("name", "user_name")
    val p = products
      .withColumnRenamed("country", "product_country")
      .withColumnRenamed("name", "product_name")
    tx.withWatermark("timestamp", watermark)
      .join(u, Seq("user_id"), "left_outer")
      .join(p, Seq("product_id"), "left_outer")
      .withColumn("country_mismatch",
        when(col("user_country") =!= col("product_country"), 1).otherwise(0))
      .withColumn("high_value_flag", when(col("amount") > 500, 1).otherwise(0))
      .withColumn("fraud_score",
        col("country_mismatch") * 0.5 + col("high_value_flag") * 0.5)
      .withColumn("discounted_price",
        when(col("base_price").isNotNull && col("discount").isNotNull,
          col("base_price") - col("base_price") * col("discount") / 100)
          .otherwise(lit(null)))
  }

  /** Shared trend scaffold: tumbling window × key, amount sum + the
    * reference's approx_count_distinct, formatted window bounds.
    */
  private def trend(scored: DataFrame, keyCol: String, sumAlias: String,
                    windowLen: String): DataFrame =
    scored
      .groupBy(window(col("timestamp"), windowLen), col(keyCol))
      .agg(sum(col("amount")).as(sumAlias),
           approx_count_distinct(col("transaction_id")).as("num_transactions"))
      .withColumn("window_start", date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("window_end", date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss"))
      .drop("window")

  /** Per-user spend trend — streaming twin of c6_user_spend_trend. */
  def userSpendTrend(scored: DataFrame, windowLen: String = "1 minute"): DataFrame =
    trend(scored, "user_id", "total_spent", windowLen)

  /** Per-category sales trend — streaming twin of c7_category_trend. */
  def categoryTrend(scored: DataFrame, windowLen: String = "1 minute"): DataFrame =
    trend(scored, "category", "total_sales", windowLen)

  /** Streaming dedup within the watermark: late duplicates of a key seen
    * inside the watermark horizon are dropped; state is GC'd past it
    * (reference capability: exactly-once upsert keyed on transaction_id).
    */
  def dedupWithinWatermark(tx: DataFrame, watermark: String = "15 minutes"): DataFrame =
    tx.withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark("transaction_id")

  /** Stream-stream correlation: join the transaction stream with a
    * second event stream on user within a bounded event-time lag. Both
    * sides carry watermarks and the join condition bounds event time
    * relative to transaction time, so Spark can GC join state — without
    * the time bound, stream-stream join state grows forever.
    */
  def correlateStreams(tx: DataFrame, events: DataFrame,
                       watermark: String = "15 minutes",
                       maxLag: String = "10 minutes"): DataFrame = {
    val t = tx.withWatermark("timestamp", watermark)
    val e = events
      .select(col("user_id").as("e_user_id"), col("ts").as("event_ts"),
              col("event_type"))
      .withWatermark("event_ts", watermark)
    t.join(e,
        col("user_id") === col("e_user_id") &&
        col("event_ts") >= col("timestamp") &&
        col("event_ts") <= col("timestamp") + expr(s"INTERVAL $maxLag"))
      .drop("e_user_id")
  }

  /** Per-user session spend over the stream: `session_window` with the
    * watermark bounding session state (a session closes — and emits, in
    * append mode — once the watermark passes its end + gap).
    */
  def userSessions(tx: DataFrame, gap: String = "1 minute",
                   watermark: String = "1 minute"): DataFrame =
    tx.withWatermark("timestamp", watermark)
      .groupBy(session_window(col("timestamp"), gap), col("user_id"))
      .agg(sum(col("amount")).as("total_spent"), count(lit(1)).as("n_tx"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("user_id"), col("total_spent"), col("n_tx"))

  /** H18: streaming spend-trend maintenance — the batch c6 statistic
    * kept current by the stream itself (the H12/H17 cell pattern applied
    * to the windowed trend the reference sinks in complete mode,
    * spark.py:171-200 — re-expressed so nothing is ever rewritten).
    *
    * Each micro-batch overwrites its own `batch_id=<id>` subtree with
    * per-(hour-window, user) PARTIAL cells (exactly-once by layout: a
    * crash-replayed batch replaces its own subtree). A cell
    * holds the batch's exact DECIMAL(18,6) spend sum — decimal addition
    * is associative/commutative, so serving folds partials into the same
    * exact total the one-shot batch aggregate computes, whatever the
    * batching — plus the batch's distinct event count.
    *
    * Contract for the count side (same as every keyed event log): an
    * `event_id` never spans two micro-batches — true for exactly-once
    * file-stream delivery of a keyed fact; an at-least-once feed needs
    * [[dedupWithinWatermark]] upstream. Under that contract the served
    * trend is BIT-IDENTICAL to `c6_user_spend_trend` over the same rows
    * at the doubleToLongBits level (asserted in StreamingSpec H18).
    *
    * Scale: the exchange per batch carries one cell per (window, user)
    * touched by the batch — partial-aggregated map-side; the state table
    * grows one tiny partition per micro-batch, and no retention fold
    * exists for it yet, so its `batch_id=` subtrees grow without
    * bound. [[SketchStream.consolidateCells]] folds only count-min
    * cells: it selects `(r, bucket, cnt)`, which a spend-trend cell
    * table does not have.
    */
  def maintainSpendTrendCells(events: DataFrame, cellsDir: String,
                              checkpoint: String): StreamingQuery =
    Tables.landEachBatch(events, cellsDir, checkpoint) { batch =>
      batch
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("dec_sum"),
             countDistinct(col("event_id")).as("n_events"))
        .select(col("window.start").as("ws"), col("window.end").as("we"),
                col("user_id"), col("dec_sum"), col("n_events"))
    }

  /** Serve the user-spend trend from the maintained cells: fold the
    * decimal partials (exact) and the per-batch distinct counts, then
    * apply c6's exact projection — same column names, same formatting,
    * same terminal double cast.
    */
  def spendTrendFromCells(spark: SparkSession, cellsDir: String): DataFrame = {
    Tables.readLanded(spark, cellsDir)
      .groupBy(col("ws"), col("we"), col("user_id"))
      .agg(sum(col("dec_sum")).as("dec_total"),
           sum(col("n_events")).as("num_events"))
      .select(graft.Cols.fmtTs(col("ws")).as("window_start"),
              graft.Cols.fmtTs(col("we")).as("window_end"),
              col("user_id"),
              col("dec_total").cast("double").as("total_spent"),
              col("num_events"))
  }

  /** End-to-end pipeline start (reference: write_streams foreachBatch):
    * scored records land exactly-once ([[Tables.landEachBatch]]) in a
    * date-partitioned parquet sink laid out
    * batch_id/payment_method/tx_year/tx_month/tx_day, so a batch
    * replayed after a crash replaces its own subtree instead of
    * appending duplicates. AvailableNow makes the same query usable for
    * backfills and for deterministic tests.
    */
  def start(spark: SparkSession, inputPath: String, users: DataFrame,
            products: DataFrame, sinkPath: String,
            checkpointPath: String): StreamingQuery = {
    val tx = Tables.readCsvStream(spark, inputPath, Tables.transactionSchema)
    Tables.landEachBatch(scoredStream(tx, users, products), sinkPath, checkpointPath,
      "payment_method" +: Tables.dateParts)(Tables.withDateParts(_, "timestamp"))
  }
}
