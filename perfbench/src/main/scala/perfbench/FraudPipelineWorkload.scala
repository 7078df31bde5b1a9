package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Profile
import graft.sources.Tables
import graft.streaming.FraudStream

/** fraud_pipeline: the reference's product path end to end — the fraud
  * stream, then the nightly warehouse load of what it landed.
  *
  * Stream: three sink queries run together over a watched directory of
  * transaction CSV micro-files: the scored stream into the exactly-once
  * date-partitioned sink, and the per-user and per-category 1-minute
  * trends (update mode, each trigger's updated windows appended with its
  * batch id). Files are pre-rendered by run.py into `staged/`; a single
  * generator thread publishes them on a fixed schedule, whether or not
  * the stream keeps up (open loop), and keeps each file's due and publish
  * time in memory. After the steady phase a staged backlog is published
  * at once and drained. Which trigger took which file is read afterwards
  * from each query's checkpoint.
  *
  * Nightly load (the docs/ORCHESTRATION.md DAG, one client, closed loop),
  * with the streams stopped: audit → merge into a parquet warehouse →
  * jdbc_load into Derby → compact the sink. Set-up runs the same DAG
  * over an older version of the warm-up's rows (another amount, an
  * earlier batch id), so the measured load runs warm and both replaces
  * those versions in both warehouses and inserts new keys.
  */
object FraudPipelineWorkload {
  val queries = Seq("scored", "user_trend", "category_trend")
  val keys = Seq("transaction_id", "timestamp")
  val partCols = Seq("payment_method", "tx_year", "tx_month", "tx_day")
  val table = "TX_WH"
  val columnTypes = "transaction_id VARCHAR(32)"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/stream"
    val staged = s"$dir/staged"
    val watch = s"$dir/watch"
    val sink = s"$dir/sink/scored"
    Files.createDirectories(Paths.get(watch))
    val steady = ctx.int("steady_files")
    val intervalUs = (ctx.seconds * 1e6 / steady).toLong
    val gen = mutable.Buffer[Map[String, Any]]()
    var next = 0

    /** Publish the next `n` staged files as one directory under `watch/`
      * (the stream reads `watch/<group>/`): the files are gathered in a
      * private directory first and appear together with one rename, so a
      * trigger never sees part of a group.
      */
    def publish(n: Int, phase: String, due: Long): Unit = {
      val names = (next until next + n).map(i => f"tx-$i%05d.csv")
      val group = s"$phase-$next"
      val pending = Files.createDirectories(Paths.get(s"$dir/pending/$group"))
      names.foreach(f => Util.publish(s"$staged/$f", s"$pending/$f"))
      Util.publish(pending.toString, s"$watch/$group")
      val written = Util.nowMicros
      gen.synchronized {
        names.foreach(f => gen += Map("file" -> f, "phase" -> phase, "due_us" -> due,
          "written_us" -> written))
      }
      next += n
    }

    // the sinks run on the stream threads from the warm-up on; their spans
    // are recorded once the measured phase starts
    val tracer = new AtomicReference(new Tracer(false))
    val t0 = System.nanoTime()
    val users = Tables.readCsv(spark, s"$dir/dims/users.csv", Tables.userSchema)
    val products = Tables.readCsv(spark, s"$dir/dims/products.csv", Tables.productSchema)
    val tx = Tables.readCsvStream(spark, s"$watch/*", Tables.transactionSchema)
    val scored = FraudStream.scoredStream(tx, users, products)

    def trendSink(df: DataFrame, name: String): StreamingQuery =
      df.writeStream.queryName(name).outputMode("update")
        .option("checkpointLocation", s"$dir/ck/$name")
        .foreachBatch { (b: DataFrame, id: Long) =>
          tracer.get.span(s"sink.$name") {
            b.withColumn("batch_id", lit(id)).write.mode("append").parquet(s"$dir/sink/$name")
          }
        }
        .start()

    val running = Seq(
      scored.writeStream.queryName("scored")
        .option("checkpointLocation", s"$dir/ck/scored")
        .foreachBatch { (b: DataFrame, id: Long) =>
          tracer.get.span("sources.land") {
            Tables.writeDatePartitionedExactlyOnce(b, "timestamp", sink, id)
          }
        }
        .start(),
      trendSink(FraudStream.userSpendTrend(scored), "user_trend"),
      trendSink(FraudStream.categoryTrend(scored), "category_trend"))

    def settle(): Unit = running.foreach(_.processAllAvailable())

    /** Open loop: file i is due at start + i × interval. */
    def steadyPhase(): Map[String, Any] = {
      val lagsMs = mutable.Buffer[Double]()
      val start = Util.nowMicros + 20000
      val thread = new Thread(() => (0 until steady).foreach { i =>
        val due = start + i * intervalUs
        val wait = due - Util.nowMicros
        if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
        ctx.tracer.span("generator.publish")(publish(1, "steady", due))
        lagsMs += (Util.nowMicros - due) / 1000.0
      }, "perfbench-generator")
      thread.start()
      thread.join()
      ctx.tracer.span("streaming.settle")(settle())
      Map("gen_lag_ms" -> Util.median(lagsMs.toSeq), "gen_lag_max_ms" -> lagsMs.max)
    }

    /** The staged backlog, published at once and drained. */
    def drainPhase(): Unit = {
      publish(ctx.int("backlog_files"), "backlog", Util.nowMicros)
      ctx.tracer.span("streaming.drain")(settle())
    }

    val wh = s"${ctx.work}/wh"
    val warehouse = s"$wh/warehouse"
    val url = Tables.jdbcUrl(s"$wh/derby")

    /** The nightly load DAG over a landed sink: audit, merge, jdbc_load,
      * compact, each timed. Compaction must preserve the sink's content
      * hash and every audit rule must pass.
      */
    def nightlyLoad(t: Tracer, landed: String): Map[String, Any] = {
      val sinkBefore = Util.listing(landed)
      val (audit, auditMs) = Util.timed(t.span("operators.audit") {
        val rows = spark.read.parquet(landed)
        Profile.qualityAudit(
          rows.select(col("transaction_id").as("o_orderkey"), col("user_id").as("o_custkey")),
          rows.select(col("transaction_id").as("l_orderkey"), lit(0.0).as("l_discount")))
          .collect()
      })
      val warehouseBefore = Util.listing(warehouse)
      val (_, mergeMs) = Util.timed(t.span("sources.merge") {
        Tables.incrementalLoad(spark, landed, warehouse, keys, Seq(col("batch_id")))
      })
      val rewritten = Util.bytes(Util.written(warehouseBefore, Util.listing(warehouse)))
      val (_, jdbcMs) = Util.timed(t.span("sources.jdbc") {
        Tables.jdbcMergeLoad(spark, spark.read.parquet(landed), url, table, keys, columnTypes)
      })
      val before = Util.contentHash(spark.read.parquet(landed))
      val (_, compactMs) = Util.timed(t.span("sources.compact") {
        Tables.compactPartitioned(spark, landed, partCols)
      })
      val after = Util.contentHash(spark.read.parquet(landed))
      if (before != after) ctx.failures += s"compaction changed $landed: $before -> $after"
      audit.filterNot(_.getAs[Boolean]("passed")).foreach(r =>
        ctx.failures += s"audit rule ${r.getString(0)} failed on $landed")
      Map[String, Any]("audit_ms" -> auditMs, "merge_ms" -> mergeMs, "jdbc_ms" -> jdbcMs,
        "compact_ms" -> compactMs, "compact_files_in" -> sinkBefore.size,
        "merge_bytes_rewritten" -> rewritten, "compact_files_out" -> Util.files(landed).size)
    }

    var stopped = false
    try {
      publish(ctx.int("warmup_files"), "warmup", Util.nowMicros)
      settle()
      // the whole DAG once over an older version of the warm-up's rows,
      // landed in a sink of its own (compaction must not touch the live
      // one) under a batch id below the stream's: the measured load then
      // runs warm, and must replace these versions in both warehouses
      val older = spark.read.parquet(sink).drop("batch_id", "tx_year", "tx_month", "tx_day")
        .withColumn("amount", col("amount") + 1.0)
      Tables.writeDatePartitionedExactlyOnce(older, "timestamp", s"$wh/warmup_sink", -1L)
      nightlyLoad(new Tracer(false), s"$wh/warmup_sink")
      ctx.out("warmup_s") = (System.nanoTime() - t0) / 1e9

      tracer.set(ctx.tracer)
      val landedBefore = Util.listing(sink)
      val (steadyResult, nightly, landed, jobMs) = ctx.measure {
        val s = steadyPhase()
        // the measured job: catch-up on the backlog, then the nightly load
        val j0 = System.nanoTime()
        drainPhase()
        // compaction is a single-writer maintenance op: quiesce the sink
        running.foreach(_.stop())
        stopped = true
        // what the measured stream wrote into the sink
        val landed = Util.written(landedBefore, Util.listing(sink))
        val load = nightlyLoad(ctx.tracer, sink)
        (s, load, landed, Util.ms(j0))
      }
      ctx.out("steady") = steadyResult
      ctx.out("load") = nightly
      ctx.out("job_s") = jobMs / 1000
      ctx.out("land_files") = landed.size
      ctx.out("land_bytes") = Util.bytes(landed)
      Tables.jdbcRead(spark, url, table).write.parquet(s"$wh/derby_dump")
      ctx.out("jdbc_rows") = spark.read.parquet(s"$wh/derby_dump").count()
      ctx.listeners.foreach { ls =>
        ctx.layers ++= ls.streamMetrics("scored")
        ctx.layers("streaming.gen_lag_ms") = steadyResult("gen_lag_ms")
        ctx.layers("sources.land_ms") = ctx.tracer.totalsMs.getOrElse("sources.land", 0.0)
        ctx.out("triggers") = ls.triggerRecords
      }
    } finally {
      if (!stopped) running.foreach(_.stop())
    }
    ctx.out("generated") = gen.toSeq
    ctx.out("queries") = queries
  }
}
