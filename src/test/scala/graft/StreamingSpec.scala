package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.{CurationStream, FraudStream, SketchStream, Stateful}

/** Structured-streaming pipeline (SURVEY §2 A2, A5, H1–H3). */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def writeTxCsv(dir: String, name: String, rows: Seq[String]): Unit =
    Files.writeString(Paths.get(dir, name),
      ("transaction_id,user_id,product_id,store_id,amount,payment_method,country,timestamp"
        +: rows).mkString("", "\n", "\n"))

  private def usersDf = {
    import spark.implicits._
    Seq((1, "Ada", "a@x", "FRANCE", "2024-01-01 00:00:00"),
        (2, "Bo", "b@x", "KENYA", "2024-01-01 00:00:00"))
      .toDF("user_id", "name", "email", "country", "signup_date")
  }

  private def productsDf = {
    import spark.implicits._
    Seq((10, "Watch", "gadgets", 1000.0, "acme", "FRANCE", true, 10.0),
        (20, "Pen", "office", 2.0, "acme", "KENYA", true, 0.0))
      .toDF("product_id", "name", "category", "base_price", "supplier",
            "country", "in_stock", "discount")
  }

  test("H1 end-to-end: stream read → enrich → score → partitioned sink") {
    val in = tmpDir("graft_stream_in")
    val sink = tmpDir("graft_stream_sink")
    val ckpt = tmpDir("graft_stream_ckpt")
    writeTxCsv(in, "b0.csv", Seq(
      "t1,1,20,s1,600.0,card,FRANCE,2024-03-01T10:00:00.000Z", // mismatch + high value
      "t2,2,20,s1,5.0,cash,KENYA,2024-03-01T10:00:30.000Z"))   // neither

    val q = FraudStream.start(spark, in, usersDf, productsDf, sink, ckpt)
    q.awaitTermination()

    val out = Tables.readPartitioned(spark, sink)
    assert(out.count() === 2)
    val byId = out.collect().map(r => r.getAs[String]("transaction_id") -> r).toMap
    assert(byId("t1").getAs[Double]("fraud_score") === 1.0)
    assert(byId("t2").getAs[Double]("fraud_score") === 0.0)
    // reference sink layout: payment_method + date parts from event time,
    // under the exactly-once sink's leading batch id
    assert(Files.exists(Paths.get(sink, "batch_id=0", "payment_method=card", "tx_year=2024",
      "tx_month=3", "tx_day=1")))
    // discounted_price: base 2.0, discount 0% (reference percent semantics)
    assert(byId("t1").getAs[Double]("discounted_price") === 2.0)
  }

  test("H1b end-to-end sink is exactly-once: a batch replayed after a lost commit lands once") {
    val in = tmpDir("graft_stream_replay_in")
    val sink = tmpDir("graft_stream_replay_sink")
    val ckpt = tmpDir("graft_stream_replay_ckpt")
    writeTxCsv(in, "b0.csv", Seq(
      "t1,1,20,s1,600.0,card,FRANCE,2024-03-01T10:00:00.000Z",
      "t2,2,20,s1,5.0,cash,KENYA,2024-03-01T10:00:30.000Z"))
    FraudStream.start(spark, in, usersDf, productsDf, sink, ckpt).awaitTermination()
    // crash between the sink write and the checkpoint commit: batch 0's
    // offsets are logged, its commit is not, so the restart replays it
    Files.delete(Paths.get(ckpt, "commits", "0"))
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    FraudStream.start(spark, in, usersDf, productsDf, sink, ckpt).awaitTermination()
    val ids = Tables.readPartitioned(spark, sink)
      .select("transaction_id").collect().map(_.getString(0)).toSeq.sorted
    assert(ids === Seq("t1", "t2"), "the replayed batch appended duplicates")
  }

  test("H11 streaming embedding near-dup gate: in-bucket near-dups dropped, rest admitted") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val in = tmpDir("graft_h11_in")
    val ckpt = tmpDir("graft_h11_ckpt")
    Files.writeString(Paths.get(in, "vecs.json"), Seq(
      """{"vec_id":1,"embedding":[2.0,2.0,2.0,2.0]}""",   // parallel to corpus -> same bucket, cos 1 -> dropped
      """{"vec_id":2,"embedding":[-1.0,-1.0,-1.0,-1.0]}""", // antipodal -> every sign flips -> admitted
      """{"vec_id":3,"embedding":[0.0,0.0,0.0,0.0]}"""    // zero norm -> dropped (no direction)
    ).mkString("\n"))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val corpus = Seq((100L, Seq(1f, 1f, 1f, 1f))).toDF("vec_id", "embedding")
    val admitted = CurationStream.embedNearDupGate(
      spark.readStream.schema(schema).json(in), corpus)
    admitted.writeStream.format("memory").queryName("h11")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val out = spark.sql("SELECT vec_id FROM h11").collect().map(_.getLong(0)).toSet
    assert(out === Set(2L), s"admitted wrong set: $out")
  }

  test("H10 streaming curation gate: dedup + quality floor + bloom decontamination") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val in = tmpDir("graft_cur_in")
    val ckpt = tmpDir("graft_cur_ckpt")
    val benchText = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val bloom = CurationStream.benchmarkGramBloom(
      Seq((100L, benchText)).toDF("doc_id", "text"))
    assert(bloom.nonEmpty)
    // doc 1: clean; doc 2: exact dup of 1 (same text); doc 3: too short;
    // doc 4: shares an 8-gram with the benchmark -> blocked
    Files.writeString(Paths.get(in, "docs.json"), Seq(
      """{"doc_id":1,"ts":"2024-03-01T10:00:00.000Z","text":"clean doc alpha beta gamma delta epsilon zeta"}""",
      """{"doc_id":2,"ts":"2024-03-01T10:00:01.000Z","text":"clean doc alpha beta gamma delta epsilon zeta"}""",
      """{"doc_id":3,"ts":"2024-03-01T10:00:02.000Z","text":"too short"}""",
      s"""{"doc_id":4,"ts":"2024-03-01T10:00:03.000Z","text":"prefix $benchText suffix"}""")
      .mkString("\n"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).json(in)
    val admitted = CurationStream.curationGate(stream, bloom)
    admitted.writeStream.format("memory").queryName("curated")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val out = spark.sql("SELECT doc_id, n_tokens FROM curated").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set(1L), s"admitted wrong set: ${out.keySet}")
    assert(out(1L) === 8L)
    // empty benchmark -> no contamination gate: doc 4 becomes admissible
    val admitted2 = CurationStream.curationGate(
      spark.readStream.schema(schema).json(in), benchBloom = None)
    admitted2.writeStream.format("memory").queryName("curated2")
      .option("checkpointLocation", tmpDir("graft_cur_ckpt2"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val out2 = spark.sql("SELECT doc_id FROM curated2").collect().map(_.getLong(0)).toSet
    assert(out2 === Set(1L, 4L))
  }

  test("H12 streaming CMS maintenance equals the one-shot batch sketch exactly") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val in = tmpDir("graft_cms_in")
    val ckpt = tmpDir("graft_cms_ckpt")
    val cells = tmpDir("graft_cms_cells")
    val li = Tables.table(spark, SF, "lineitem").select(col("l_orderkey"))
    // several files -> several micro-batches, so the merge path is real
    li.repartition(4).write.mode("overwrite").json(in)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("l_orderkey", LongType))))
      .option("maxFilesPerTrigger", 1).json(in)
    SketchStream.maintainCms(stream, "l_orderkey", cells, ckpt).awaitTermination()
    assert(spark.read.parquet(cells).select("batch_id").distinct().count() > 1,
      "stream must have run as multiple micro-batches")
    val streamed = SketchStream.heavyHittersFromCells(li, cells, "l_orderkey", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val batch = graft.operators.Relational.queries("b35_heavy_hitters_cms")(spark, SF)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(streamed === batch,
      "the maintained sketch must reproduce the one-shot batch sketch bit-exactly")
    // a candidate key the stream never saw has empty cells -> estimate 0:
    // it must not survive on a single collision-inflated cell
    import spark.implicits._
    val withAbsent = li.union(Seq(999999999L).toDF("l_orderkey"))
    val served = SketchStream.heavyHittersFromCells(withAbsent, cells, "l_orderkey", 1)
      .collect().map(_.getLong(0)).toSet
    assert(!served.contains(999999999L),
      "an absent key must estimate 0, not ride a colliding cell")
  }

  test("H33 streaming windowed-HLL maintenance equals the one-shot batch b45 exactly") {
    import org.apache.spark.sql.types.{DateType, LongType, StructField, StructType}
    val in = tmpDir("graft_whll_in")
    val ckpt = tmpDir("graft_whll_ckpt")
    val cells = tmpDir("graft_whll_cells")
    val li = Tables.table(spark, SF, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_day"), col("l_orderkey"))
    // random 4-way split: every file carries a slice of MANY days, so
    // the serve path's cross-batch (day, bucket) max merge is real
    li.repartition(4).write.mode("overwrite").json(in)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("ship_day", DateType),
        StructField("l_orderkey", LongType))))
      .option("maxFilesPerTrigger", 1).json(in)
    SketchStream.maintainDailyHll(stream, "l_orderkey", "ship_day", cells, ckpt)
      .awaitTermination()
    assert(spark.read.parquet(cells).select("batch_id").distinct().count() > 1,
      "stream must have run as multiple micro-batches")
    def key(r: org.apache.spark.sql.Row) = (r.getDate(0).toString,
      java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getLong(2))
    val served = SketchStream.windowDistinctFromCells(spark, cells)
      .collect().map(key).toSet
    val batch = graft.operators.Relational.queries("b45_window_hll")(spark, SF)
      .collect().map(key).toSet
    assert(served === batch,
      "the maintained windowed sketch must reproduce batch b45 bit-exactly")
    assert(served.nonEmpty)
  }

  test("H34 streaming windowed-quantile maintenance equals the one-shot batch b46 exactly") {
    import org.apache.spark.sql.types.{DateType, DoubleType, StructField, StructType}
    val in = tmpDir("graft_whist_in")
    val ckpt = tmpDir("graft_whist_ckpt")
    val cells = tmpDir("graft_whist_cells")
    val li = Tables.table(spark, SF, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_day"),
        col("l_extendedprice"))
    // the grid is a FIXED model parameter; pin it to the corpus bounds
    // so the batch b46 (which derives the same bounds) is the twin
    val st = li.agg(min(col("l_extendedprice")), max(col("l_extendedprice"))).head()
    val (lo, hi) = (st.getDouble(0), st.getDouble(1))
    li.repartition(4).write.mode("overwrite").json(in)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("ship_day", DateType),
        StructField("l_extendedprice", DoubleType))))
      .option("maxFilesPerTrigger", 1).json(in)
    SketchStream.maintainDailyHist(stream, "l_extendedprice", "ship_day",
      lo, hi, cells, ckpt).awaitTermination()
    assert(spark.read.parquet(cells).select("batch_id").distinct().count() > 1,
      "stream must have run as multiple micro-batches")
    def key(r: org.apache.spark.sql.Row) = (r.getDate(0).toString,
      java.lang.Double.doubleToLongBits(r.getDouble(1)),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))
    val served = SketchStream.windowQuantilesFromCells(spark, cells, lo, hi)
      .collect().map(key).toSet
    val batch = graft.operators.Relational.queries("b46_window_quantile")(spark, SF)
      .collect().map(key).toSet
    assert(served === batch,
      "the maintained windowed histogram must reproduce batch b46 bit-exactly")
    assert(served.nonEmpty)
  }

  test("H35 streaming sample maintenance equals the one-shot batch i12 sample exactly") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val in = tmpDir("graft_samp_in")
    val ckpt = tmpDir("graft_samp_ckpt")
    val cells = tmpDir("graft_samp_cells")
    val docs = Tables.table(spark, SF, "documents")
      .select(col("doc_id"), col("source"))
    // random 4-way split: the global bottom-k straddles batches, so
    // the serve-side re-cut across batch cells is real
    docs.repartition(4).write.mode("overwrite").json(in)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType))))
      .option("maxFilesPerTrigger", 1).json(in)
    SketchStream.maintainSampleCells(stream, k = 37, cells, ckpt)
      .awaitTermination()
    assert(spark.read.parquet(cells).select("batch_id").distinct().count() > 1,
      "stream must have run as multiple micro-batches")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("hk"))).sortBy(_._1).toSeq
    val served = rows(SketchStream.sampleFromCells(spark, cells, k = 37))
    val batch = rows(graft.operators.Profile.uniformSampleK(docs, k = 37))
    assert(served === batch,
      "the maintained sample must equal the one-shot batch sample exactly")
    assert(served.size === 37)
  }

  test("H33/H34 sink algebra: a double-landed batch is invisible to the HLL max, corrupting to the histogram sum") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.types.{DateType, DoubleType, LongType, StructField, StructType}
    // simulate the failure the exactly-once layout fences — a batch's
    // cells landing TWICE under different batch_ids — by copying one
    // batch partition wholesale. The HLL serve (register MAX:
    // idempotent) must not move a bit; the histogram serve (count SUM:
    // not idempotent) must corrupt. This pins the taxonomy's claims as
    // behavior, not prose.
    def doubleLand(cells: String): Unit = {
      val src = new java.io.File(cells).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).head
      val dst = Paths.get(cells, "batch_id=999")
      Files.createDirectories(dst)
      src.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.copy(f.toPath, dst.resolve(f.getName), StandardCopyOption.REPLACE_EXISTING)
      }
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getDate(0).toString,
        java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSet
    // HLL side
    val li = Tables.table(spark, SF, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_day"), col("l_orderkey"))
    val inH = tmpDir("graft_dl_hll_in"); val cellsH = tmpDir("graft_dl_hll_cells")
    li.repartition(3).write.mode("overwrite").json(inH)
    SketchStream.maintainDailyHll(
      spark.readStream.schema(StructType(Seq(StructField("ship_day", DateType),
        StructField("l_orderkey", LongType))))
        .option("maxFilesPerTrigger", 1).json(inH),
      "l_orderkey", "ship_day", cellsH, tmpDir("graft_dl_hll_ck")).awaitTermination()
    val beforeH = rows(SketchStream.windowDistinctFromCells(spark, cellsH)
      .select(col("ship_day"), col("est_ndv")))
    doubleLand(cellsH)
    val afterH = rows(SketchStream.windowDistinctFromCells(spark, cellsH)
      .select(col("ship_day"), col("est_ndv")))
    assert(afterH === beforeH,
      "a double-landed batch must be invisible to the idempotent register max")
    // histogram side
    val lq = Tables.table(spark, SF, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_day"), col("l_extendedprice"))
    val st = lq.agg(min(col("l_extendedprice")), max(col("l_extendedprice"))).head()
    val inQ = tmpDir("graft_dl_hist_in"); val cellsQ = tmpDir("graft_dl_hist_cells")
    lq.repartition(3).write.mode("overwrite").json(inQ)
    SketchStream.maintainDailyHist(
      spark.readStream.schema(StructType(Seq(StructField("ship_day", DateType),
        StructField("l_extendedprice", DoubleType))))
        .option("maxFilesPerTrigger", 1).json(inQ),
      "l_extendedprice", "ship_day", st.getDouble(0), st.getDouble(1),
      cellsQ, tmpDir("graft_dl_hist_ck")).awaitTermination()
    val beforeQ = rows(SketchStream.windowQuantilesFromCells(
      spark, cellsQ, st.getDouble(0), st.getDouble(1))
      .filter(col("quantile") === 0.5).select(col("ship_day"), col("est_value")))
    doubleLand(cellsQ)
    val afterQ = rows(SketchStream.windowQuantilesFromCells(
      spark, cellsQ, st.getDouble(0), st.getDouble(1))
      .filter(col("quantile") === 0.5).select(col("ship_day"), col("est_value")))
    assert(afterQ !== beforeQ,
      "a double-landed batch MUST corrupt the additive histogram — if it " +
        "doesn't, the exactly-once fence is dead weight and the taxonomy is wrong")
  }

  test("H12 retention: consolidating aged cell batches leaves served estimates identical") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val in = tmpDir("graft_cmsret_in")
    val ckpt = tmpDir("graft_cmsret_ckpt")
    val cells = tmpDir("graft_cmsret_cells")
    val li = Tables.table(spark, SF, "lineitem").select(col("l_orderkey"))
    li.repartition(4).write.mode("overwrite").json(in)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("l_orderkey", LongType))))
      .option("maxFilesPerTrigger", 1).json(in)
    SketchStream.maintainCms(stream, "l_orderkey", cells, ckpt).awaitTermination()
    def batchIds() = spark.read.parquet(cells)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val before = SketchStream.heavyHittersFromCells(li, cells, "l_orderkey", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val idsBefore = batchIds()
    assert(idsBefore.size > 2, s"need >2 batches to consolidate, got $idsBefore")
    SketchStream.consolidateCells(spark, cells, keepLast = 1)
    // layout: exactly the newest batch + the consolidated partition
    assert(batchIds() === Set(-1L, idsBefore.max),
      s"consolidation must leave {-1, newest}, got ${batchIds()}")
    val after = SketchStream.heavyHittersFromCells(li, cells, "l_orderkey", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(after === before,
      "served estimates must be identical before/after consolidation")
    // idempotent: nothing older than the newest batch remains to fold,
    // and a re-run folds the -1 partition back into an equal -1
    SketchStream.consolidateCells(spark, cells, keepLast = 1)
    assert(batchIds() === Set(-1L, idsBefore.max))
    val again = SketchStream.heavyHittersFromCells(li, cells, "l_orderkey", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(again === before, "re-consolidation must not change estimates")
    // crash in the swap's rename window: target gone, the only copy in
    // the hidden staging dir — both the serve path and the next
    // consolidation must self-heal instead of throwing (or worse,
    // a later swap destroying the stranded copy)
    val target = new org.apache.hadoop.fs.Path(cells)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}__graft_staging")
    assert(fs.rename(target, staging), "test setup: simulate the crash window")
    val healed = SketchStream.heavyHittersFromCells(li, cells, "l_orderkey", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(healed === before, "serve after a simulated swap crash must self-heal")
    assert(fs.rename(target, staging), "test setup: crash again")
    SketchStream.consolidateCells(spark, cells, keepLast = 1)
    assert(batchIds() === Set(-1L, idsBefore.max),
      "consolidation after a simulated swap crash must self-heal first")
  }

  test("H13 streaming EWMA serves values bit-identical to the batch c16 feature") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}
    val in = tmpDir("graft_ewma_in")
    val ckpt = tmpDir("graft_ewma_ckpt")
    val batchDir = tmpDir("graft_ewma_batch")
    // two users, interleaved times, split across two files (= two
    // micro-batches at maxFilesPerTrigger=1) so state carries across
    val rows = Seq(
      (1L, 101L, "2024-01-01 10:00:00", 4.0), (2L, 202L, "2024-01-01 10:00:30", 8.0),
      (3L, 101L, "2024-01-01 10:01:00", 2.0), (4L, 101L, "2024-01-01 10:02:00", 6.0),
      (5L, 202L, "2024-01-01 10:03:00", 1.5), (6L, 101L, "2024-01-01 10:04:00", 3.25))
    def json(r: (Long, Long, String, Double)) =
      s"""{"event_id":${r._1},"user_id":${r._2},"ts":"${r._3.replace(' ', 'T')}.000Z","value":${r._4}}"""
    Files.writeString(Paths.get(in, "a.json"), rows.take(3).map(json).mkString("\n"))
    Files.writeString(Paths.get(in, "b.json"), rows.drop(3).map(json).mkString("\n"))
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .as[graft.streaming.Stateful.Ev]
    graft.streaming.Stateful.ewmaFeatures(stream)
      .writeStream.format("memory").queryName("ewma_online")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val online = spark.sql("SELECT event_id, ewma_value FROM ewma_online").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the offline (batch c16) feature over the same events
    rows.map { case (e, u, t, v) =>
        (e, u, java.sql.Timestamp.valueOf(t).getTime * 1000000L, v) }
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("event_type", lit("purchase")).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$batchDir/events.parquet")
    val offline = graft.operators.Fraud.queries("c16_ewma_spend")(spark, batchDir)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma_value")).toMap
    assert(online.keySet === offline.keySet)
    online.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ===
        java.lang.Double.doubleToLongBits(offline(id)),
        s"event $id: online $v != offline ${offline(id)} — training-serving skew")
    }
  }

  test("H16 streaming CUSUM serves scores bit-identical to the batch c18 statistic") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}
    val in = tmpDir("graft_cusum_in")
    val ckpt = tmpDir("graft_cusum_ckpt")
    val batchDir = tmpDir("graft_cusum_batch")
    // awkward decimals exercise the double->DECIMAL(18,6) cast parity;
    // user 202 dips negative (clamp) then crosses h=200 (flag)
    val rows = Seq(
      (1L, 101L, "2024-01-01 10:00:00", 60.1234567),
      (2L, 202L, "2024-01-01 10:00:30", 10.5),
      (3L, 101L, "2024-01-01 10:01:00", 39.9999994),
      (4L, 202L, "2024-01-01 10:01:30", 10.1),
      (5L, 101L, "2024-01-01 10:02:00", 120.25),
      (6L, 202L, "2024-01-01 10:02:30", 293.0000005),
      (7L, 101L, "2024-01-01 10:03:00", 29.75),
      (8L, 202L, "2024-01-01 10:03:30", 300.0))
    def json(r: (Long, Long, String, Double)) =
      s"""{"event_id":${r._1},"user_id":${r._2},"ts":"${r._3.replace(' ', 'T')}.000Z","value":${r._4}}"""
    Files.writeString(Paths.get(in, "a.json"), rows.take(4).map(json).mkString("\n"))
    Files.writeString(Paths.get(in, "b.json"), rows.drop(4).map(json).mkString("\n"))
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .as[graft.streaming.Stateful.Ev]
    graft.streaming.Stateful.cusumScores(stream)
      .writeStream.format("memory").queryName("cusum_online")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val online = spark.sql("SELECT event_id, cusum, shift_flag FROM cusum_online")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    rows.map { case (e, u, t, v) =>
        (e, u, java.sql.Timestamp.valueOf(t).getTime * 1000000L, v) }
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("event_type", lit("purchase")).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$batchDir/events.parquet")
    val offline = graft.operators.Fraud.queries("c18_cusum_shift")(spark, batchDir)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Double]("cusum"), r.getAs[Boolean]("shift_flag")))).toMap
    assert(online.keySet === offline.keySet)
    online.foreach { case (id, (v, f)) =>
      assert(java.lang.Double.doubleToLongBits(v) ===
        java.lang.Double.doubleToLongBits(offline(id)._1),
        s"event $id: online $v != offline ${offline(id)._1} — training-serving skew")
      assert(f === offline(id)._2, s"event $id flag skew")
    }
    // the fixture actually exercises both regimes
    assert(online.values.exists(_._2) && online.values.exists(!_._2))
  }

  test("H22 streaming reactivation alerts match the batch c26 report bit-exactly") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}
    val in = tmpDir("graft_react_in")
    val ckpt = tmpDir("graft_react_ckpt")
    val batchDir = tmpDir("graft_react_batch")
    // awkward decimals exercise the DECIMAL(18,6) sum parity; user 1
    // goes dormant 3 days and bursts (flag), user 2's long-gap return
    // is ordinary spend (no flag); the file split puts the burst in a
    // LATER micro-batch than the history it is judged against
    val rows = Seq(
      (1L, 1L, "2024-01-01 09:00:00", 10.1234567),
      (2L, 1L, "2024-01-02 09:00:00", 9.8765433),
      (10L, 2L, "2024-01-01 09:00:00", 100.0),
      (3L, 1L, "2024-01-05 09:00:00", 30.5),
      (11L, 2L, "2024-01-10 09:00:00", 120.0),
      (4L, 1L, "2024-01-06 09:00:00", 1.0))
    def json(r: (Long, Long, String, Double)) =
      s"""{"event_id":${r._1},"user_id":${r._2},"ts":"${r._3.replace(' ', 'T')}.000Z","value":${r._4}}"""
    Files.writeString(Paths.get(in, "a.json"), rows.take(3).map(json).mkString("\n"))
    Files.writeString(Paths.get(in, "b.json"), rows.drop(3).map(json).mkString("\n"))
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .as[graft.streaming.Stateful.Ev]
    graft.streaming.Stateful.reactivationAlerts(stream)
      .writeStream.format("memory").queryName("react_online")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val online = spark.sql(
      "SELECT event_id, gap_days, prior_mean, value FROM react_online")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2)),
          r.getDouble(3)))).toMap
    rows.map { case (e, u, t, v) =>
        (e, u, java.sql.Timestamp.valueOf(t).getTime * 1000000L, v) }
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("event_type", lit("purchase")).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$batchDir/events.parquet")
    val offline = graft.operators.Fraud.queries("c26_reactivation")(spark, batchDir)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("gap_days"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("prior_mean")),
          r.getAs[Double]("value")))).toMap
    assert(online.keySet === Set(3L), s"only the dormant burst flags, got ${online.keySet}")
    assert(online === offline, "streamed alerts must equal the batch report bit-exactly")
    // the judged mean is the exact decimal of the two prior spends
    assert(online(3L)._1 === 3L && online(3L)._2 ===
      java.lang.Double.doubleToLongBits(10.0))
  }

  // Shared fixture driver for the out-of-order H13/H16/H22 specs (r7
  // verdict item 4): writes the given per-batch JSON files (one file =
  // one micro-batch), appends TWO sentinel-user files whose late
  // timestamps push the event-time watermark past every real event —
  // so the reorder stage's buffered tail flushes through the trailing
  // no-data/data batches — runs `op` through a memory sink, and
  // returns the collected rows with the sentinel user filtered out.
  private def runOoo[O](name: String, batches: Seq[Seq[String]],
      sentinelTs: Seq[String], select: String)(
      op: org.apache.spark.sql.Dataset[Stateful.Ev] => org.apache.spark.sql.Dataset[O])
      : Array[org.apache.spark.sql.Row] = {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val in = tmpDir(s"graft_ooo_${name}_in")
    val ckpt = tmpDir(s"graft_ooo_${name}_ckpt")
    // FileStreamSource orders batches by file modification time, and
    // same-millisecond writes tie-break ARBITRARILY (observed: reversed)
    // — pin strictly increasing mtimes so the delivery order IS the
    // declared batch order, which is the whole point of these fixtures
    val t0 = System.currentTimeMillis()
    def writeAt(path: java.nio.file.Path, body: String, slot: Int): Unit = {
      Files.writeString(path, body)
      Files.setLastModifiedTime(path,
        java.nio.file.attribute.FileTime.fromMillis(t0 - 60000L + slot * 1000L))
    }
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeAt(Paths.get(in, f"b$i%02d.json"), rows.mkString("\n"), i)
    }
    sentinelTs.zipWithIndex.foreach { case (t, i) =>
      writeAt(Paths.get(in, f"s$i%02d.json"),
        oooJson(900L + i, 999L, t, 0.0), batches.length + i)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in).as[Stateful.Ev]
    op(stream).writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.sql(s"SELECT $select FROM $name WHERE user_id <> 999").collect()
  }

  private def oooJson(e: Long, u: Long, t: String, v: Double): String =
    s"""{"event_id":$e,"user_id":$u,"ts":"${t.replace(' ', 'T')}.000Z","value":$v}"""

  private def oooBatchDir(rows: Seq[(Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = tmpDir("graft_ooo_batch")
    rows.map { case (e, u, t, v) =>
        (e, u, java.sql.Timestamp.valueOf(t).getTime * 1000000L, v) }
      .toDF("event_id", "user_id", "ts", "value")
      .withColumn("event_type", lit("purchase")).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("H16 contract edge: out-of-order replay diverges; the watermark reorder restores parity") {
    // user 101 in EVENT time: 10:00 v=10 (clamps), 10:01 v=120, 10:02
    // v=30; ARRIVAL delivers the 10:00 event one micro-batch AFTER its
    // successors — the replay/backfill contract violated
    val rows = Seq((1L, 101L, "2024-01-01 10:00:00", 10.0),
      (2L, 101L, "2024-01-01 10:01:00", 120.0),
      (3L, 101L, "2024-01-01 10:02:00", 30.0))
    val batches = Seq(
      Seq(oooJson(2L, 101L, rows(1)._3, 120.0), oooJson(3L, 101L, rows(2)._3, 30.0)),
      Seq(oooJson(1L, 101L, rows(0)._3, 10.0)))
    val sentinels = Seq("2024-01-01 11:00:00", "2024-01-01 11:01:00")
    val offline = graft.operators.Fraud.queries("c18_cusum_shift")(spark, oooBatchDir(rows))
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("cusum")).toMap
    val plain = runOoo("cusum_ooo_plain", batches, sentinels, "event_id, cusum")(
      Stateful.cusumScores(_)).map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the edge, pinned: the arrival-order fold scores the late event
    // against state it should have PRECEDED (120's residual instead of
    // a fresh clamp)
    assert(plain(1L) !== offline(1L),
      s"arrival-order fold must diverge on the late event (both ${plain(1L)})")
    val reordered = runOoo("cusum_ooo_reorder", batches, sentinels, "event_id, cusum")(
      Stateful.cusumScoresReordered(_)).map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(reordered.keySet === offline.keySet, "every buffered event must flush")
    reordered.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ===
        java.lang.Double.doubleToLongBits(offline(id)),
        s"event $id: reordered $v != batch ${offline(id)}")
    }
  }

  test("H13 contract edge: out-of-order replay diverges; the watermark reorder restores parity") {
    val rows = Seq((1L, 101L, "2024-01-01 10:00:00", 4.0),
      (2L, 101L, "2024-01-01 10:01:00", 2.0),
      (3L, 101L, "2024-01-01 10:02:00", 6.0))
    val batches = Seq(
      Seq(oooJson(2L, 101L, rows(1)._3, 2.0), oooJson(3L, 101L, rows(2)._3, 6.0)),
      Seq(oooJson(1L, 101L, rows(0)._3, 4.0)))
    val sentinels = Seq("2024-01-01 11:00:00", "2024-01-01 11:01:00")
    val offline = graft.operators.Fraud.queries("c16_ewma_spend")(spark, oooBatchDir(rows))
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma_value")).toMap
    val plain = runOoo("ewma_ooo_plain", batches, sentinels, "event_id, ewma_value")(
      Stateful.ewmaFeatures(_)).map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(plain(1L) !== offline(1L),
      s"arrival-order fold must diverge on the late event (both ${plain(1L)})")
    val reordered = runOoo("ewma_ooo_reorder", batches, sentinels, "event_id, ewma_value")(
      Stateful.ewmaFeaturesReordered(_)).map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(reordered.keySet === offline.keySet, "every buffered event must flush")
    reordered.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ===
        java.lang.Double.doubleToLongBits(offline(id)),
        s"event $id: reordered $v != batch ${offline(id)}")
    }
  }

  test("H32 contract edge: a late early event claims its successor's alert; the reorder restores c39") {
    // u101 in EVENT time: three in-band amounts a minute apart — the
    // batch flags the THIRD (e3, n=3). Arrival delivers e1 a
    // micro-batch late: the arrival-order fold counts e2,e3 (no
    // alert), then e1 against the full buffer — the alert fires on
    // the WRONG transaction (e1), not merely late
    val rows = Seq((1L, 101L, "2024-01-01 10:00:00", 95.0),
      (2L, 101L, "2024-01-01 10:01:00", 92.0),
      (3L, 101L, "2024-01-01 10:02:00", 99.0))
    val batches = Seq(
      Seq(oooJson(2L, 101L, rows(1)._3, 92.0), oooJson(3L, 101L, rows(2)._3, 99.0)),
      Seq(oooJson(1L, 101L, rows(0)._3, 95.0)))
    val sentinels = Seq("2024-01-01 11:00:00", "2024-01-01 11:01:00")
    val offline = graft.operators.Fraud.queries("c39_structuring")(spark, oooBatchDir(rows))
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_band")).toMap
    assert(offline === Map(3L -> 3L), s"batch flags the third event (got $offline)")
    val plain = runOoo("struct_ooo_plain", batches, sentinels, "event_id, n_band")(
      Stateful.structuringAlerts(_)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain === Map(1L -> 3L),
      s"the arrival-order fold must mis-attribute the alert (got $plain)")
    val reordered = runOoo("struct_ooo_reorder", batches, sentinels, "event_id, n_band")(
      Stateful.structuringAlertsReordered(_)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reordered === offline,
      s"the watermark reorder must restore the batch flag set (got $reordered)")
  }

  test("H32 ordered replay serves exactly the batch c39 flag set on the real corpus") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val in = tmpDir("graft_struct_in")
    val ckpt = tmpDir("graft_struct_ckpt")
    val events = Tables.table(spark, SF, "events")
    val obs = events.select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Double]("value")))
      .sortBy(t => (t._3.toInstant.getEpochSecond, t._3.toInstant.getNano, t._1))
    // the stated tie precondition: no same-μs same-user in-band pair
    val ties = obs.filter(t => t._4 >= 90.0 && t._4 < 100.0)
      .groupBy(t => (t._2, t._3)).values.filter(_.length > 1)
    assert(ties.isEmpty, "corpus precondition violated: same-μs in-band pair")
    // ts rides as integer MICROS (JSON timestamp parsing would risk
    // ms truncation, and the frame edges are decided at μs precision)
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    def json(t: (Long, Long, java.sql.Timestamp, Double)) =
      s"""{"event_id":${t._1},"user_id":${t._2},"ts_us":${micros(t._3)},"value":${t._4}}"""
    val cut = obs.length / 2
    Files.writeString(Paths.get(in, "a.json"), obs.take(cut).map(json).mkString("\n"))
    Files.writeString(Paths.get(in, "b.json"), obs.drop(cut).map(json).mkString("\n"))
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("ts_us")).as("ts"), col("value"))
      .as[Stateful.Ev](org.apache.spark.sql.Encoders.product[Stateful.Ev])
    Stateful.structuringAlerts(stream)
      .writeStream.format("memory").queryName("struct_corpus")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val online = spark.sql("SELECT event_id, n_band FROM struct_corpus").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val offline = graft.operators.Fraud.queries("c39_structuring")(spark, SF)
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_band")).toMap
    assert(offline.nonEmpty, "the sized corpus must flag")
    assert(online === offline,
      "ordered replay must serve exactly the batch flag set")
  }

  test("H22 contract edge: the burst arriving before its history kills the alert; the reorder restores it") {
    // in EVENT time user 1 builds a two-day history then bursts after a
    // 3-day dormancy (the c26 alert); ARRIVAL delivers the burst FIRST,
    // so the plain fold sees it as a first-ever event — no prior, no
    // alert, silently
    val rows = Seq((1L, 1L, "2024-01-01 09:00:00", 10.1234567),
      (2L, 1L, "2024-01-02 09:00:00", 9.8765433),
      (3L, 1L, "2024-01-05 09:00:00", 30.5))
    val batches = Seq(
      Seq(oooJson(3L, 1L, rows(2)._3, 30.5)),
      Seq(oooJson(1L, 1L, rows(0)._3, 10.1234567),
        oooJson(2L, 1L, rows(1)._3, 9.8765433)))
    val sentinels = Seq("2024-01-20 09:00:00", "2024-01-20 10:00:00")
    val offline = graft.operators.Fraud.queries("c26_reactivation")(spark, oooBatchDir(rows))
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("gap_days"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("prior_mean"))))).toMap
    assert(offline.keySet === Set(3L), "the batch report flags the burst")
    val plain = runOoo("react_ooo_plain", batches, sentinels,
      "event_id, gap_days, prior_mean")(Stateful.reactivationAlerts(_))
    assert(plain.isEmpty,
      "arrival-order fold must MISS the alert when the burst precedes its history")
    val reordered = runOoo("react_ooo_reorder", batches, sentinels,
      "event_id, gap_days, prior_mean")(Stateful.reactivationAlertsReordered(_))
      .map(r => r.getLong(0) ->
        ((r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))).toMap
    assert(reordered === offline,
      "the reordered alert must equal the batch report bit-exactly")
  }

  test("H28 streaming decayed spend: batch c34 parity at the last event, ordered AND under disorder") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, "2024-03-08 09:00:00", 40.0),
      (2L, 1L, "2024-03-09 09:00:00", 20.0),
      (3L, 1L, "2024-03-10 09:00:00", 10.0),
      (10L, 2L, "2024-01-05 09:00:00", 999.0), // 46 days stale → drops
      (11L, 2L, "2024-02-20 09:00:00", 7.25))
    val evDf = rows.toDF("event_id", "user_id", "ts", "value")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts")).as("ts"), col("value"))
    val offline = graft.operators.Fraud.decayedSpend(evDf).collect()
      .map(r => r.getAs[Long]("user_id") -> ((r.getAs[Long]("n_recent"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("decayed_spend"))))).toMap
    assert(offline(1L)._1 === 3L && offline(2L)._1 === 1L)
    def lastServed(rows: Array[org.apache.spark.sql.Row]): Map[Long, (Long, Long)] =
      rows.collect {
        case r if r.getLong(1) == 3L || r.getLong(1) == 11L =>
          r.getLong(0) -> ((r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
      }.toMap
    // ordered replay through the plain operator
    val orderedBatches = Seq(
      rows.take(3).map(r => oooJson(r._1, r._2, r._3, r._4)),
      rows.drop(3).map(r => oooJson(r._1, r._2, r._3, r._4)))
    val plain = lastServed(runOoo("decay_plain", orderedBatches, Nil,
      "user_id, event_id, n_recent, decayed_spend")(Stateful.decayedFeatures(_)))
    assert(plain === offline,
      "ordered online serve must equal the batch c34 feature bit-exactly")
    // DISORDERED replay (each user's last event arrives first) through
    // the reordered variant
    val oooBatches = Seq(
      Seq(oooJson(3L, 1L, rows(2)._3, 10.0), oooJson(11L, 2L, rows(4)._3, 7.25)),
      rows.take(2).map(r => oooJson(r._1, r._2, r._3, r._4)) :+
        oooJson(10L, 2L, rows(3)._3, 999.0))
    val sentinels = Seq("2024-03-25 09:00:00", "2024-03-25 10:00:00")
    val reordered = lastServed(runOoo("decay_reorder", oooBatches, sentinels,
      "user_id, event_id, n_recent, decayed_spend")(
      Stateful.decayedFeaturesReordered(_)))
    assert(reordered === offline,
      "the reordered serve must restore batch parity under disorder")
  }

  // H27 fixture driver: typed-event sibling of runOoo (event_type
  // instead of value), same mtime pinning and sentinel-flush mechanics.
  private def typedJson(e: Long, u: Long, t: String, ty: String): String =
    s"""{"event_id":$e,"user_id":$u,"ts":"${t.replace(' ', 'T')}.000Z","event_type":"$ty"}"""

  private def runMotifStream(name: String, batches: Seq[Seq[String]],
      sentinelTs: Seq[String])(
      op: org.apache.spark.sql.Dataset[Stateful.TypedEv] =>
        org.apache.spark.sql.Dataset[Stateful.MotifHit])
      : Map[Long, (String, String, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val in = tmpDir(s"graft_motif_${name}_in")
    val ckpt = tmpDir(s"graft_motif_${name}_ckpt")
    val t0 = System.currentTimeMillis()
    def writeAt(path: java.nio.file.Path, body: String, slot: Int): Unit = {
      Files.writeString(path, body)
      Files.setLastModifiedTime(path,
        java.nio.file.attribute.FileTime.fromMillis(t0 - 60000L + slot * 1000L))
    }
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeAt(Paths.get(in, f"b$i%02d.json"), rows.mkString("\n"), i)
    }
    sentinelTs.zipWithIndex.foreach { case (t, i) =>
      writeAt(Paths.get(in, f"s$i%02d.json"),
        typedJson(900L + i, 999L, t, "zz"), batches.length + i)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in).as[Stateful.TypedEv]
    op(stream).writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.sql(s"SELECT event_id, t1, t2, t3 FROM $name WHERE user_id <> 999")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
  }

  private def motifBatchDf(rows: Seq[(Long, Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "ts", "event_type")
      .select(col("event_id"), col("user_id"),
        to_timestamp(col("ts")).as("ts"), col("event_type"))
  }

  test("H27 streaming motif screen matches the batch c33 occurrences across a state-carrying batch cut") {
    val motifs = Seq(("a", "b", "c"))
    // user 1 completes a→b→c with the completing event in a LATER
    // micro-batch than its two predecessors (state carry); user 2 runs
    // the permuted a→c→b — no hit
    val rows = Seq(
      (1L, 1L, "2024-01-01 09:00:00", "a"),
      (2L, 1L, "2024-01-01 09:01:00", "b"),
      (10L, 2L, "2024-01-01 09:00:00", "a"),
      (11L, 2L, "2024-01-01 09:01:00", "c"),
      (3L, 1L, "2024-01-01 09:02:00", "c"),
      (12L, 2L, "2024-01-01 09:02:00", "b"))
    val batches = Seq(
      rows.take(4).map(r => typedJson(r._1, r._2, r._3, r._4)),
      rows.drop(4).map(r => typedJson(r._1, r._2, r._3, r._4)))
    val online = runMotifStream("motif_parity", batches, Nil)(
      Stateful.motifAlerts(_, motifs))
    val offline = graft.operators.Fraud.motifOccurrences(motifBatchDf(rows), motifs)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("t1"), r.getAs[String]("t2"), r.getAs[String]("t3")))).toMap
    assert(offline === Map(3L -> (("a", "b", "c"))), "batch flags exactly the completion")
    assert(online === offline, "streamed hits must equal the batch screen exactly")
  }

  test("H27 contract edge: disorder forms a phantom trigram and misses the real one; the reorder restores both") {
    val motifs = Seq(("a", "b", "c"), ("b", "c", "a"))
    // EVENT time: a(1) b(2) c(3) — the only true trigram is a,b,c
    // (event 3). ARRIVAL delivers b,c first, then a: the plain fold
    // sees the phantom b,c,a (flags event 1 — a false alert) and never
    // sees a,b,c (the true hit silently lost)
    val rows = Seq(
      (1L, 7L, "2024-01-01 10:00:00", "a"),
      (2L, 7L, "2024-01-01 10:01:00", "b"),
      (3L, 7L, "2024-01-01 10:02:00", "c"))
    val batches = Seq(
      Seq(typedJson(2L, 7L, rows(1)._3, "b"), typedJson(3L, 7L, rows(2)._3, "c")),
      Seq(typedJson(1L, 7L, rows(0)._3, "a")))
    val sentinels = Seq("2024-01-01 11:00:00", "2024-01-01 11:01:00")
    val offline = graft.operators.Fraud.motifOccurrences(motifBatchDf(rows), motifs)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(offline === Set(3L))
    val plain = runMotifStream("motif_ooo_plain", batches, sentinels)(
      Stateful.motifAlerts(_, motifs))
    assert(plain.keySet === Set(1L),
      s"the arrival-order fold must flag the phantom and miss the real hit, got ${plain.keySet}")
    val reordered = runMotifStream("motif_ooo_reorder", batches, sentinels)(
      Stateful.motifAlertsReordered(_, motifs))
    assert(reordered.keySet === offline, "the reorder must restore the batch hit set")
    assert(reordered(3L) === (("a", "b", "c")))
  }

  // H30 fixture driver: runMotifStream's shape with the attribution
  // output columns (same mtime pinning and sentinel-flush mechanics).
  private def runTouchStream(name: String, batches: Seq[Seq[String]],
      sentinelTs: Seq[String])(
      op: org.apache.spark.sql.Dataset[Stateful.TypedEv] =>
        org.apache.spark.sql.Dataset[Stateful.TouchCredit])
      : Map[(Long, Long), (String, Long, Long, Boolean)] = {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    val in = tmpDir(s"graft_touch_${name}_in")
    val ckpt = tmpDir(s"graft_touch_${name}_ckpt")
    val t0 = System.currentTimeMillis()
    def writeAt(path: java.nio.file.Path, body: String, slot: Int): Unit = {
      Files.writeString(path, body)
      Files.setLastModifiedTime(path,
        java.nio.file.attribute.FileTime.fromMillis(t0 - 60000L + slot * 1000L))
    }
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeAt(Paths.get(in, f"b$i%02d.json"), rows.mkString("\n"), i)
    }
    sentinelTs.zipWithIndex.foreach { case (t, i) =>
      writeAt(Paths.get(in, f"s$i%02d.json"),
        typedJson(900L + i, 999L, t, "zz"), batches.length + i)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in).as[Stateful.TypedEv]
    op(stream).writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.sql(s"""SELECT purchase_id, touch_id, touch_type, n_touches,
                         weight, is_last_touch
                  FROM $name WHERE user_id <> 999""")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3),
          java.lang.Double.doubleToLongBits(r.getDouble(4)), r.getBoolean(5))))
      .toMap
  }

  private def touchBatchMap(rows: Seq[(Long, Long, String, String)])
      : Map[(Long, Long), (String, Long, Long, Boolean)] =
    graft.operators.Fraud.touchAttribution(motifBatchDf(rows))
      .collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("touch_id")) ->
        ((r.getAs[String]("touch_type"), r.getAs[Long]("n_touches"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("weight")),
          r.getAs[Boolean]("is_last_touch")))).toMap

  test("H30 streaming attribution matches the batch c36 report across a state-carrying batch cut") {
    // user 1: two touches then a purchase (the purchase lands in a
    // LATER micro-batch — state carry), then a fourth-touch + second
    // purchase whose window evicts touch 1 but RE-credits touch 2 (a
    // purchase must not consume touches); user 2's lone touch is 8
    // days stale — her purchase earns no rows, exactly like the batch
    // inner join
    val rows = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-03 10:00:00", "click"),
      (10L, 2L, "2024-01-01 10:00:00", "view"),
      (3L, 1L, "2024-01-05 10:00:00", "purchase"),
      (4L, 1L, "2024-01-06 10:00:00", "view"),
      (5L, 1L, "2024-01-10 09:00:00", "purchase"),
      (11L, 2L, "2024-01-09 10:00:00", "purchase"))
    val offline = touchBatchMap(rows)
    assert(offline.keySet === Set((3L, 1L), (3L, 2L), (5L, 2L), (5L, 4L)),
      "batch: purchase 3 credits touches 1+2; purchase 5 evicts 1, re-credits 2, adds 4")
    assert(offline((5L, 2L))._2 === 2L && offline((5L, 4L))._4 === true)
    val batches = Seq(
      rows.take(3).map(r => typedJson(r._1, r._2, r._3, r._4)),
      rows.drop(3).map(r => typedJson(r._1, r._2, r._3, r._4)))
    val online = runTouchStream("touch_parity", batches, Nil)(
      Stateful.touchCredits(_))
    assert(online === offline,
      "streamed credits must equal the batch attribution table bit-exactly")
  }

  test("H30 contract edge: a purchase arriving before its touch mis-splits every weight; the reorder restores the report") {
    // EVENT time: view(1) click(2) purchase(3); ARRIVAL delivers the
    // view one micro-batch after the purchase — the plain fold serves
    // n=1/weight=1.0 to the click alone (a WRONG report, not a missing
    // one)
    val rows = Seq(
      (1L, 7L, "2024-01-01 10:00:00", "view"),
      (2L, 7L, "2024-01-01 10:01:00", "click"),
      (3L, 7L, "2024-01-01 10:02:00", "purchase"))
    val offline = touchBatchMap(rows)
    assert(offline.keySet === Set((3L, 1L), (3L, 2L)))
    assert(offline((3L, 1L))._2 === 2L)
    val batches = Seq(
      Seq(typedJson(2L, 7L, rows(1)._3, "click"), typedJson(3L, 7L, rows(2)._3, "purchase")),
      Seq(typedJson(1L, 7L, rows(0)._3, "view")))
    val sentinels = Seq("2024-01-01 11:00:00", "2024-01-01 11:01:00")
    val plain = runTouchStream("touch_ooo_plain", batches, sentinels)(
      Stateful.touchCredits(_))
    assert(plain.keySet === Set((3L, 2L)) && plain((3L, 2L))._2 === 1L,
      s"the arrival-order fold must credit the click alone at n=1, got $plain")
    val reordered = runTouchStream("touch_ooo_reorder", batches, sentinels)(
      Stateful.touchCreditsReordered(_))
    assert(reordered === offline,
      "the reordered credits must equal the batch report bit-exactly")
  }

  test("H21 streaming vocabulary monitor serves PSI bit-identical to the batch f21 statistic") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = Tables.table(spark, SF, "documents")
    val ref = graft.operators.TextAnalysis.termCells(
      docs.filter(col("doc_id") % 2 === 0))
    val in = tmpDir("graft_vocab_in")
    val cells = tmpDir("graft_vocab_cells")
    val ckpt = tmpDir("graft_vocab_ckpt")
    docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
      .repartition(3).write.mode("overwrite").json(in)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    graft.streaming.DriftStream.maintainTermCells(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in),
      cells, ckpt).awaitTermination()
    assert(spark.read.parquet(cells).select("batch_id").distinct().count() > 1,
      "term cells must have landed across multiple micro-batches")
    val online = graft.streaming.DriftStream
      .vocabPsiFromCells(spark, cells, ref).collect()(0)
    val batch = graft.operators.TextAnalysis
      .queries("f21_vocab_psi")(spark, SF).collect()(0)
    assert(java.lang.Double.doubleToLongBits(online.getAs[Double]("psi")) ===
      java.lang.Double.doubleToLongBits(batch.getAs[Double]("psi")),
      s"streamed vocab PSI ${online.getAs[Double]("psi")} != batch ${batch.getAs[Double]("psi")}")
    assert(online.getAs[Long]("n_cells_used") === batch.getAs[Long]("n_cells_used"))
    assert(online.getAs[Long]("n0") === batch.getAs[Long]("n0"))
    assert(online.getAs[Long]("n1") === batch.getAs[Long]("n1"))
    // the at-scale serve (top-K + tail cut) is bit-identical to the
    // batch f21b statistic over the same rows — same shared cut code
    val onlineTopK = graft.streaming.DriftStream
      .vocabPsiTopKFromCells(spark, cells, ref, topK = 16).collect()(0)
    val batchTopK = graft.operators.TextAnalysis
      .queries("f21_vocab_psi_topk")(spark, SF).collect()(0)
    assert(java.lang.Double.doubleToLongBits(onlineTopK.getAs[Double]("psi")) ===
      java.lang.Double.doubleToLongBits(batchTopK.getAs[Double]("psi")),
      s"streamed top-K PSI ${onlineTopK.getAs[Double]("psi")} != batch ${batchTopK.getAs[Double]("psi")}")
    assert(onlineTopK.getAs[Long]("n_cells_used") === batchTopK.getAs[Long]("n_cells_used"))
    assert(onlineTopK.getAs[Long]("n0") === batchTopK.getAs[Long]("n0"))
    assert(onlineTopK.getAs[Long]("n1") === batchTopK.getAs[Long]("n1"))
    // and the cut actually engaged: the 31-word vocabulary exceeds
    // K=16, so the top-K serve touches strictly fewer cells (16 top +
    // the real tail cell) than the exact one
    assert(onlineTopK.getAs[Long]("n_cells_used") <= 17L &&
      onlineTopK.getAs[Long]("n_cells_used") < online.getAs[Long]("n_cells_used"))
  }

  test("H17 streaming drift monitor serves PSI bit-identical to the batch c24 statistic") {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    // the real corpus split by parity: slice 0 is the pinned reference,
    // slice 1 arrives as a 2-micro-batch stream — exactly c24's two
    // slices, so the served score must equal the batch statistic
    val ev = graft.sources.Tables.table(spark, SF, "events")
      .filter(col("value").isNotNull)
    val bounds = ev.agg(min(col("value")), max(col("value"))).head()
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val ref = ev.filter(col("event_id") % 2 === 0)
      .select(graft.operators.Fraud.driftBucket(col("value"), lo, hi).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val in = tmpDir("graft_drift_in")
    val cells = tmpDir("graft_drift_cells")
    val ckpt = tmpDir("graft_drift_ckpt")
    val slice1 = ev.filter(col("event_id") % 2 === 1)
      .select(col("value")).collect().map(_.getDouble(0))
    val (a, b) = slice1.splitAt(slice1.length / 2)
    // Double.toString round-trips exactly through the JSON reader
    Files.writeString(Paths.get(in, "a.json"),
      a.map(v => s"""{"value":$v}""").mkString("\n"))
    Files.writeString(Paths.get(in, "b.json"),
      b.map(v => s"""{"value":$v}""").mkString("\n"))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("value DOUBLE"))
      .option("maxFilesPerTrigger", 1).json(in)
    graft.streaming.DriftStream
      .maintainDriftCells(stream, lo, hi, cells, ckpt).awaitTermination()
    val online = graft.streaming.DriftStream
      .psiFromDriftCells(spark, cells, ref).collect()(0)
    val batch = graft.operators.Fraud.queries("c24_psi_drift")(spark, SF).collect()(0)
    assert(java.lang.Double.doubleToLongBits(online.getAs[Double]("psi")) ===
      java.lang.Double.doubleToLongBits(batch.getAs[Double]("psi")),
      s"streamed PSI ${online.getAs[Double]("psi")} != batch ${batch.getAs[Double]("psi")}")
    assert(online.getAs[Long]("n_cells_used") === batch.getAs[Long]("n_cells_used"))
    assert(online.getAs[Long]("n0") === batch.getAs[Long]("n0"))
    assert(online.getAs[Long]("n1") === batch.getAs[Long]("n1"))
    // a committed-checkpoint restart processes nothing and serves the
    // same score (replay safety on the serve path)
    graft.streaming.DriftStream
      .maintainDriftCells(spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("value DOUBLE"))
        .option("maxFilesPerTrigger", 1).json(in), lo, hi, cells, ckpt)
      .awaitTermination()
    val again = graft.streaming.DriftStream
      .psiFromDriftCells(spark, cells, ref).collect()(0)
    assert(java.lang.Double.doubleToLongBits(again.getAs[Double]("psi")) ===
      java.lang.Double.doubleToLongBits(online.getAs[Double]("psi")))
  }

  test("H23 streaming shard manifest equals batch I23 exactly under REVERSED arrival") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val in = tmpDir("graft_manifest_in")
    val ckpt = tmpDir("graft_manifest_ckpt")
    val docs = Tables.table(spark, SF, "documents")
    // the real corpus through the SHARED projection, delivered in
    // REVERSED doc order across two micro-batches — the arrival shape
    // that breaks every order-dependent fold; the commutative state
    // must not care
    val obs = graft.operators.Profile.shardObservations(docs)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("hv")))
      .sortBy(-_._1)
    def json(t: (Long, Long, Long, Long)) =
      s"""{"doc_id":${t._1},"shard":${t._2},"n_tokens":${t._3},"hv":${t._4}}"""
    val cut = obs.length / 2
    Files.writeString(Paths.get(in, "a.json"), obs.take(cut).map(json).mkString("\n"))
    Files.writeString(Paths.get(in, "b.json"), obs.drop(cut).map(json).mkString("\n"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("shard", LongType), StructField("n_tokens", LongType),
      StructField("hv", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .as[Stateful.ShardObs](org.apache.spark.sql.Encoders.product[Stateful.ShardObs])
    Stateful.shardManifestStream(stream)
      .writeStream.format("memory").queryName("manifest_stream")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_docs"), r.getAs[Long]("shard_tokens"),
        r.getAs[Long]("n_seqs"), r.getAs[Long]("min_doc"),
        r.getAs[Long]("max_doc"), r.getAs[Long]("checksum"))
    // final state per shard = the row with the largest n_docs (monotone)
    val online = spark.sql("SELECT * FROM manifest_stream").collect()
      .groupBy(_.getAs[Long]("shard"))
      .map { case (s, rows) => s -> key(rows.maxBy(_.getAs[Long]("n_docs"))) }
    val offline = graft.operators.Profile.shardManifest(docs).collect()
      .map(r => r.getAs[Long]("shard") -> key(r)).toMap
    assert(online === offline,
      "reversed-arrival streaming manifest must equal the batch manifest bit-for-bit")
    // and the intermediate emissions are genuinely incremental: some
    // shard emitted twice (both batches touched it) with growing counts
    val twice = spark.sql("SELECT * FROM manifest_stream").collect()
      .groupBy(_.getAs[Long]("shard")).filter(_._2.length >= 2)
    assert(twice.nonEmpty, "two batches over 32 shards must revisit at least one shard")
    twice.foreach { case (_, rows) =>
      val ns = rows.map(_.getAs[Long]("n_docs")).sorted
      assert(ns.distinct.length === ns.length, "revisits must grow the doc count")
    }
  }

  test("H31 streaming Benford screen equals batch c37 exactly under REVERSED arrival") {
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val in = tmpDir("graft_benford_in")
    val ckpt = tmpDir("graft_benford_ckpt")
    val events = Tables.table(spark, SF, "events")
    // the real corpus in REVERSED event order across two micro-batches —
    // the arrival shape that breaks order-dependent folds; commutative
    // digit counts must not care (the H23 parity class)
    val obs = events.select(col("event_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
        r.getAs[Double]("value")))
      .sortBy(-_._1)
    def json(t: (Long, String, Double)) =
      s"""{"event_type":"${t._2}","value":${t._3}}"""
    val cut = obs.length / 2
    Files.writeString(Paths.get(in, "a.json"), obs.take(cut).map(json).mkString("\n"))
    Files.writeString(Paths.get(in, "b.json"), obs.drop(cut).map(json).mkString("\n"))
    val schema = StructType(Seq(StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .as[Stateful.BenfordObs](org.apache.spark.sql.Encoders.product[Stateful.BenfordObs])
    Stateful.benfordScreenStream(stream)
      .writeStream.format("memory").queryName("benford_stream")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("n_amounts"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("chi2")),
        r.getAs[Boolean]("benford_flag"))
    // final state per type = the row with the largest n_amounts (monotone)
    val online = spark.sql("SELECT * FROM benford_stream").collect()
      .groupBy(_.getAs[String]("event_type"))
      .map { case (t, rows) => t -> key(rows.maxBy(_.getAs[Long]("n_amounts"))) }
    val offline = graft.operators.Fraud.benfordScreen(events).collect()
      .map(r => r.getAs[String]("event_type") -> key(r)).toMap
    assert(online === offline,
      "reversed-arrival streaming screen must equal batch c37 bit-for-bit")
    // the screen is genuinely incremental: both batches carry every
    // event type at this corpus size, so revisits must grow the count
    val twice = spark.sql("SELECT * FROM benford_stream").collect()
      .groupBy(_.getAs[String]("event_type")).filter(_._2.length >= 2)
    assert(twice.nonEmpty, "two batches over 5 types must revisit at least one")
    twice.foreach { case (_, rows) =>
      val ns = rows.map(_.getAs[Long]("n_amounts")).sorted
      assert(ns.distinct.length === ns.length, "revisits must grow the count")
    }
  }

  test("H14 streaming token-budget gate admits exactly the batch I11 prefix") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val in = tmpDir("graft_tokgate_in")
    val ckpt = tmpDir("graft_tokgate_ckpt")
    // the real corpus through the SHARED projection, delivered in global
    // (hk, doc_id) order split across two micro-batches — the
    // hash-order-monotone replay the parity contract requires
    val obs = graft.operators.Profile
      .tokenObservations(Tables.table(spark, SF, "documents"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("hk")))
      .sortBy(t => (t._4, t._1))
    def json(t: (Long, String, Long, Long)) =
      s"""{"doc_id":${t._1},"source":"${t._2}","n_tokens":${t._3},"hk":${t._4}}"""
    val cut = obs.length / 3
    Files.writeString(Paths.get(in, "a.json"), obs.take(cut).map(json).mkString("\n"))
    Files.writeString(Paths.get(in, "b.json"), obs.drop(cut).map(json).mkString("\n"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("n_tokens", LongType),
      StructField("hk", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .as[Stateful.DocTokens]
    Stateful.tokenBudgetGate(stream)
      .writeStream.format("memory").queryName("tok_gate")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val online = spark.sql("SELECT * FROM tok_gate").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"))).toSet
    val offline = graft.operators.Profile.queries("i11_token_budget")(spark, SF)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"))).toSet
    assert(online === offline,
      s"streaming gate and batch I11 disagree: ${online.diff(offline).size} extra, " +
        s"${offline.diff(online).size} missing")
    // soundness under ARBITRARY (non-hash-monotone) arrival: doc_id
    // order across two batches — the gate must still admit a valid
    // greedy prefix and never exceed the budget
    val in2 = tmpDir("graft_tokgate_in2")
    val ckpt2 = tmpDir("graft_tokgate_ckpt2")
    val byId = obs.sortBy(_._1)
    val cut2 = byId.length / 2
    Files.writeString(Paths.get(in2, "a.json"), byId.take(cut2).map(json).mkString("\n"))
    Files.writeString(Paths.get(in2, "b.json"), byId.drop(cut2).map(json).mkString("\n"))
    val stream2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in2)
      .as[Stateful.DocTokens]
    Stateful.tokenBudgetGate(stream2)
      .writeStream.format("memory").queryName("tok_gate_ooo")
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val ooo = spark.sql("SELECT * FROM tok_gate_ooo").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"))).toSet
    // local replay of the gate's contract: per batch, per source, docs
    // in (hk, doc_id) order; cum carries across batches
    var cums = Map.empty[String, Long].withDefaultValue(0L)
    val expected = Seq(byId.take(cut2), byId.drop(cut2)).flatMap { batch =>
      batch.groupBy(_._2).toSeq.flatMap { case (src, docs) =>
        docs.sortBy(t => (t._4, t._1)).flatMap { case (id, _, n, _) =>
          val c = cums(src) + n
          cums += src -> c
          if (c <= 800L) Some((id, src, n, c)) else None
        }
      }
    }.toSet
    assert(ooo === expected, "arbitrary-arrival admission must replay the greedy contract")
    ooo.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.map(_._4).max <= 800L, s"source $src exceeded the budget")
    }
  }

  test("H36 streaming learned-vocab gate admits exactly the batch I11b prefix") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.functions.{col, struct, to_json}
    import graft.operators.TextAnalysis
    val in = tmpDir("graft_bpegate_in")
    val ckpt = tmpDir("graft_bpegate_ckpt")
    val docs = Tables.table(spark, SF, "documents")
    // BUILD once: the lexicon is learned from the batch corpus with
    // bpeSegment's own defaults (the i11b path) and becomes literal
    // model state for the stream — the build-once/apply-many seam
    val merges = TextAnalysis.pmiCollocations(docs, 5, 16)
      .select(col("gram")).collect().map(_.getString(0)).toIndexedSeq
    assert(merges.nonEmpty, "the corpus must yield a non-trivial lexicon")
    // APPLY many: raw documents (not pre-counted observations — the
    // stream tokenizes) delivered hash-order-monotone in two slices
    val rows = docs
      .select(col("doc_id"),
        to_json(struct(col("doc_id"), col("source"), col("text"))).as("j"),
        graft.operators.Profile.tokenAdmissionHash.as("hk"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("j"), r.getAs[Long]("hk")))
      .sortBy(t => (t._3, t._1))
    val cut = rows.length / 2
    Files.writeString(Paths.get(in, "a.json"), rows.take(cut).map(_._2).mkString("\n"))
    Files.writeString(Paths.get(in, "b.json"), rows.drop(cut).map(_._2).mkString("\n"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    Stateful.bpeTokenBudgetGate(stream, merges)
      .writeStream.format("memory").queryName("bpe_gate")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val online = spark.sql("SELECT * FROM bpe_gate").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"))).toSet
    val offline = graft.operators.Profile.queries("i11b_budget_bpe")(spark, SF)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens"))).toSet
    assert(online === offline,
      s"streaming learned-vocab gate and batch I11b disagree: " +
        s"${online.diff(offline).size} extra, ${offline.diff(online).size} missing")
    // the learned vocab must actually bind: at least one admitted doc's
    // count differs from its whitespace count (the merges fired), and
    // the i11/i11b prefixes differ on this corpus (the budget effect
    // the operator exists to surface)
    val ws = graft.operators.Profile.queries("i11_token_budget")(spark, SF)
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(online.map(_._1) !== ws,
      "learned-vocab admission must differ from whitespace admission on this corpus")
  }

  test("H37 streaming band-index maintenance equals the batch form; replay is idempotent") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.functions.{col, struct, to_json}
    import graft.operators.Dedup
    val dir = tmpDir("graft_banddelta")
    val ckpt = tmpDir("graft_banddelta_ckpt")
    val in = tmpDir("graft_banddelta_in")
    val docs = Tables.table(spark, SF, "documents").select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 7 =!= 1
      && col("doc_id") % 7 =!= 2)
    val s1 = docs.filter(col("doc_id") % 7 === 1)
    val s2 = docs.filter(col("doc_id") % 7 === 2)
    val newLoad = docs.filter(col("doc_id") % 7 === 0)
    def slice(df: org.apache.spark.sql.DataFrame, f: String): Unit =
      Files.writeString(Paths.get(in, f),
        df.select(to_json(struct(col("doc_id"), col("text"))).as("j"))
          .collect().map(_.getString(0)).mkString("\n"))
    slice(s1, "a.json")
    slice(s2, "b.json")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def drain(ck: String): Unit =
      graft.streaming.IndexStream.maintainBandDelta(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in),
        dir, ck).awaitTermination()
    Dedup.buildBandIndex(base, "graft_bidx_h37", buckets = 8)
    try {
      def candidates(): Set[(Long, Long)] =
        Dedup.incrementalCandidatesStreamed(spark, "graft_bidx_h37", dir, newLoad)
          .collect()
          .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      // serve BEFORE the stream has landed anything (round-11 advice:
      // this used to throw on the empty delta dir): the answer is the
      // lineage-fresh form over the base alone
      val preStream = candidates()
      val baseOnly = Dedup.incrementalCandidates(base, newLoad).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(preStream === baseOnly,
        "serving before any landed batch must fall back to base-only candidates")
      drain(ckpt)
      val got = candidates()
      // the serve contract: bucketed base + stream-landed delta equals
      // the lineage-fresh incremental candidates over everything landed
      val fresh = Dedup.incrementalCandidates(
        base.unionByName(s1).unionByName(s2), newLoad).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(got === fresh,
        "streamed band delta must equal the lineage-fresh incremental candidates")
      assert(got.nonEmpty, "the sf0.01 split has cross pairs")
      // replay: the same batches land again under a fresh checkpoint —
      // dynamic partition overwrite replaces each batch's own subtree,
      // so the landed content (and the serve result) is unchanged
      drain(tmpDir("graft_banddelta_ckpt2"))
      assert(candidates() === got, "a full replay must be idempotent by layout")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bidx_h37_bands")
    }
  }

  test("H15 streaming SCD2 maintenance equals the batch build; replay is idempotent") {
    import org.apache.spark.sql.functions.{col, when}
    val wh = tmpDir("graft_scd2_wh") + "/scd2"
    // the real change stream in global (ts, event_id) order — the
    // ordered-CDC-replay contract — split into three micro-batches
    val changes = Tables.table(spark, SF, "events")
      .withColumn("op", when(col("event_id") % 10 < 2, "D").otherwise("U"))
      .select("user_id", "event_id", "event_type", "value", "ts", "op")
      .orderBy(col("ts"), col("event_id"))
      .collect()
    def toDf(rows: Array[org.apache.spark.sql.Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4),
        changesSchema)
    lazy val changesSchema = Tables.table(spark, SF, "events")
      .withColumn("op", when(col("event_id") % 10 < 2, "D").otherwise("U"))
      .select("user_id", "event_id", "event_type", "value", "ts", "op").schema
    val cuts = Seq(changes.length / 3, 2 * changes.length / 3, changes.length)
    var lo = 0
    val batches = cuts.map { hi => val b = changes.slice(lo, hi); lo = hi; b }
    batches.foreach(b => Tables.scd2MergeBatch(toDf(b), wh))
    def snapshot() = spark.read.parquet(wh).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("version"), r.getAs[String]("valid_from"),
        r.getAs[String]("valid_to"), r.getAs[Boolean]("is_current"))).toSet
    val maintained = snapshot()
    val batch = graft.operators.Relational.queries("i14_scd2_history")(spark, SF)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("version"), r.getAs[String]("valid_from"),
        r.getAs[String]("valid_to"), r.getAs[Boolean]("is_current"))).toSet
    assert(maintained === batch,
      s"maintained SCD2 diverges from batch build: ${maintained.diff(batch).size} extra, " +
        s"${batch.diff(maintained).size} missing")
    // crash-replay of the LAST micro-batch must reconstruct the same table
    Tables.scd2MergeBatch(toDf(batches.last), wh)
    assert(snapshot() === batch, "replaying the last batch changed the table")
  }

  test("A5 micro-batch ingest honors maxFilesPerTrigger (bounded batches)") {
    val in = tmpDir("graft_mb_in")
    val ckpt = tmpDir("graft_mb_ckpt")
    (0 until 4).foreach { i =>
      writeTxCsv(in, s"b$i.csv",
        Seq(s"t$i,1,10,s1,10.0,card,FRANCE,2024-03-01T10:0$i:00.000Z"))
    }
    var batches = Vector.empty[Long]
    val q = Tables.readCsvStream(spark, in, Tables.transactionSchema, maxFilesPerTrigger = 1)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches = batches :+ b.count())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.sum === 4)
    assert(batches.length === 4, s"expected 4 single-file micro-batches, got $batches")
  }

  test("H7 foreachBatch MERGE into warehouse is idempotent and keeps latest") {
    val in = tmpDir("graft_mrg_in")
    val ckpt = tmpDir("graft_mrg_ckpt")
    val wh = tmpDir("graft_mrg_wh") + "/tbl"
    writeTxCsv(in, "b0.csv", Seq(
      "t1,1,10,s1,10.0,card,FRANCE,2024-03-01T10:00:00.000Z",
      "t2,1,10,s1,20.0,card,FRANCE,2024-03-01T10:01:00.000Z"))
    writeTxCsv(in, "b1.csv", Seq(
      "t1,1,10,s1,99.0,card,FRANCE,2024-03-01T10:05:00.000Z", // newer t1
      "t3,1,10,s1,30.0,card,FRANCE,2024-03-01T10:06:00.000Z"))
    def run(): Unit = {
      val q = Tables.readCsvStream(spark, in, Tables.transactionSchema, maxFilesPerTrigger = 1)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          Tables.mergeIntoWarehouse(b, wh, Seq("transaction_id"), Seq(col("timestamp"))))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    val rows = spark.read.parquet(wh).collect()
      .map(r => r.getAs[String]("transaction_id") -> r.getAs[Double]("amount")).toMap
    assert(rows === Map("t1" -> 99.0, "t2" -> 20.0, "t3" -> 30.0))
    // replay the whole stream against the same warehouse (fresh
    // checkpoint = every batch re-delivered): MERGE keeps it identical
    val ckpt2 = tmpDir("graft_mrg_ckpt2")
    val q2 = Tables.readCsvStream(spark, in, Tables.transactionSchema)
      .writeStream
      .option("checkpointLocation", ckpt2)
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        Tables.mergeIntoWarehouse(b, wh, Seq("transaction_id"), Seq(col("timestamp"))))
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val replayed = spark.read.parquet(wh).collect()
      .map(r => r.getAs[String]("transaction_id") -> r.getAs[Double]("amount")).toMap
    assert(replayed === rows)
  }

  test("H2 streaming dedup within watermark drops replayed keys") {
    val in = tmpDir("graft_dd_in")
    val ckpt = tmpDir("graft_dd_ckpt")
    writeTxCsv(in, "b0.csv", Seq(
      "t1,1,10,s1,10.0,card,FRANCE,2024-03-01T10:00:00.000Z",
      "t1,1,10,s1,10.0,card,FRANCE,2024-03-01T10:00:05.000Z", // replay
      "t2,1,10,s1,20.0,card,FRANCE,2024-03-01T10:01:00.000Z"))
    val q = FraudStream.dedupWithinWatermark(
        Tables.readCsvStream(spark, in, Tables.transactionSchema))
      .writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.sql("SELECT transaction_id FROM dedup_out")
      .collect().map(_.getString(0)).sorted
    assert(ids.toSeq === Seq("t1", "t2"))
  }

  test("H3 stateful velocity alerts fire once per threshold crossing") {
    val in = tmpDir("graft_vel_in")
    val ckpt = tmpDir("graft_vel_ckpt")
    writeTxCsv(in, "b0.csv", Seq(
      "t1,1,10,s1,10.0,card,FRANCE,2024-03-01T10:00:00.000Z",
      "t2,1,10,s1,20.0,card,FRANCE,2024-03-01T10:00:10.000Z",
      "t3,1,10,s1,30.0,card,FRANCE,2024-03-01T10:00:20.000Z",
      "t4,2,10,s1,40.0,card,FRANCE,2024-03-01T10:00:30.000Z"))
    import spark.implicits._
    val txs = Tables.readCsvStream(spark, in, Tables.transactionSchema)
      .select(col("user_id"), col("amount"), col("timestamp").as("ts"))
      .as[Stateful.Tx]
    val q = Stateful.velocityAlerts(txs, threshold = 3)
      .writeStream.format("memory").queryName("vel_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val alerts = spark.sql("SELECT * FROM vel_out").collect()
    assert(alerts.length === 1)
    assert(alerts(0).getAs[Int]("user_id") === 1)
    assert(alerts(0).getAs[Long]("n") === 3L)
    assert(alerts(0).getAs[Double]("total") === 60.0)
  }

  test("H8 stateful z-score anomaly alerts on the outlier only") {
    val in = tmpDir("graft_an_in")
    val ckpt = tmpDir("graft_an_ckpt")
    // user 1: four ~10.0 amounts establish stats, then a 500.0 outlier;
    // user 2: steady amounts, no alert
    writeTxCsv(in, "b0.csv", Seq(
      "t1,1,10,s1,10.0,card,FRANCE,2024-03-01T10:00:00.000Z",
      "t2,1,10,s1,11.0,card,FRANCE,2024-03-01T10:00:10.000Z",
      "t3,1,10,s1,9.0,card,FRANCE,2024-03-01T10:00:20.000Z",
      "t4,1,10,s1,10.0,card,FRANCE,2024-03-01T10:00:30.000Z",
      "t5,1,10,s1,500.0,card,FRANCE,2024-03-01T10:00:40.000Z",
      "t6,2,10,s1,20.0,card,FRANCE,2024-03-01T10:00:50.000Z",
      "t7,2,10,s1,21.0,card,FRANCE,2024-03-01T10:01:00.000Z"))
    import spark.implicits._
    val txs = Tables.readCsvStream(spark, in, Tables.transactionSchema)
      .select(col("user_id"), col("amount"), col("timestamp").as("ts"))
      .as[Stateful.Tx]
    val q = Stateful.anomalyAlerts(txs, zThreshold = 5.0)
      .writeStream.format("memory").queryName("anom_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val alerts = spark.sql("SELECT * FROM anom_out").collect()
    assert(alerts.length === 1, alerts.mkString(";"))
    assert(alerts(0).getAs[Int]("user_id") === 1)
    assert(alerts(0).getAs[Double]("amount") === 500.0)
    assert(alerts(0).getAs[Long]("n_prior") === 4L)
    assert(alerts(0).getAs[Double]("zscore") > 100.0)
  }

  test("H9 transformWithState running spend accumulates across micro-batches") {
    val in = tmpDir("graft_tws_in")
    val ckpt = tmpDir("graft_tws_ckpt")
    writeTxCsv(in, "b0.csv", Seq(
      "t1,1,10,s1,10.0,card,FRANCE,2024-03-01T10:00:00.000Z",
      "t2,1,10,s1,20.0,card,FRANCE,2024-03-01T10:00:10.000Z"))
    writeTxCsv(in, "b1.csv", Seq(
      "t3,1,10,s1,30.0,card,FRANCE,2024-03-01T10:01:00.000Z",
      "t4,2,10,s1,40.0,card,FRANCE,2024-03-01T10:01:10.000Z"))
    // transformWithState requires the RocksDB state store; scope the
    // provider change to this test
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      val txs = Tables.readCsvStream(spark, in, Tables.transactionSchema, maxFilesPerTrigger = 1)
        .select(col("user_id"), col("amount"), col("timestamp").as("ts"))
        .as[Stateful.Tx]
      val q = Stateful.runningSpend(txs)
        .writeStream.format("memory").queryName("tws_out")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // last emitted total per user reflects ALL their rows across batches
      val last = spark.sql("SELECT * FROM tws_out").collect()
        .groupBy(_.getAs[Int]("user_id"))
        .map { case (u, rs) => u -> rs.maxBy(_.getAs[Long]("n")) }
      assert(last(1).getAs[Long]("n") === 3L)
      assert(last(1).getAs[Double]("total") === 60.0)
      assert(last(2).getAs[Long]("n") === 1L)
      assert(last(2).getAs[Double]("total") === 40.0)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("H6 checkpoint recovery: restart resumes without reprocessing") {
    val in = tmpDir("graft_ck_in")
    val sink = tmpDir("graft_ck_sink")
    val ckpt = tmpDir("graft_ck_ckpt")
    writeTxCsv(in, "b0.csv", Seq(
      "t1,1,10,s1,10.0,card,FRANCE,2024-03-01T10:00:00.000Z"))
    FraudStream.start(spark, in, usersDf, productsDf, sink, ckpt).awaitTermination()
    // new data lands between runs; same checkpoint, new query instance
    writeTxCsv(in, "b1.csv", Seq(
      "t2,2,20,s1,20.0,cash,KENYA,2024-03-01T10:05:00.000Z"))
    FraudStream.start(spark, in, usersDf, productsDf, sink, ckpt).awaitTermination()
    val ids = Tables.readPartitioned(spark, sink)
      .select("transaction_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq === Seq("t1", "t2"), "each batch exactly once across restarts")
  }

  test("H4 streaming session windows close as the watermark advances") {
    val in = tmpDir("graft_sw_in")
    val ckpt = tmpDir("graft_sw_ckpt")
    // user 1: two sessions (gap > 1 min); a later anchor batch advances
    // the watermark past both session ends so append mode emits them
    writeTxCsv(in, "b0.csv", Seq(
      "t1,1,10,s1,10.0,card,FRANCE,2024-03-01T10:00:00.000Z",
      "t2,1,10,s1,15.0,card,FRANCE,2024-03-01T10:00:30.000Z",
      "t3,1,10,s1,40.0,card,FRANCE,2024-03-01T10:05:00.000Z"))
    writeTxCsv(in, "b1.csv", Seq(
      "t9,2,10,s1,1.0,card,FRANCE,2024-03-01T10:30:00.000Z"))
    val tx = Tables.readCsvStream(spark, in, Tables.transactionSchema, maxFilesPerTrigger = 1)
    val q = FraudStream.userSessions(tx)
      .writeStream.format("memory").queryName("sessions_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.sql(
      "SELECT session_start, session_end, user_id, total_spent, n_tx FROM sessions_out WHERE user_id = 1")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3), r.getLong(4))).sortBy(_._1)
    assert(rows.length === 2, s"two closed sessions expected, got ${rows.mkString(";")}")
    assert(rows(0) === ("2024-03-01 10:00:00", "2024-03-01 10:01:30", 25.0, 2L))
    assert(rows(1) === ("2024-03-01 10:05:00", "2024-03-01 10:06:00", 40.0, 1L))
  }

  test("H5 stream-stream join correlates within the time bound only") {
    val txIn = tmpDir("graft_ss_tx")
    val evIn = tmpDir("graft_ss_ev")
    val ckpt = tmpDir("graft_ss_ckpt")
    writeTxCsv(txIn, "b0.csv", Seq(
      "t1,1,10,s1,10.0,card,FRANCE,2024-03-01T10:00:00.000Z"))
    Files.writeString(Paths.get(evIn, "e0.csv"),
      "event_id,user_id,ts,event_type\n" +
        "1,1,2024-03-01T10:02:00.000Z,click\n" +   // within 10 min → joins
        "2,1,2024-03-01T10:30:00.000Z,click\n" +   // too late → dropped
        "3,2,2024-03-01T10:01:00.000Z,click\n")    // other user → dropped
    val evSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    val joined = FraudStream.correlateStreams(
      Tables.readCsvStream(spark, txIn, Tables.transactionSchema),
      Tables.readCsvStream(spark, evIn, evSchema))
    val q = joined.writeStream.format("memory").queryName("corr_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.sql("SELECT transaction_id, event_ts FROM corr_out").collect()
    assert(rows.length === 1, rows.mkString(";"))
    assert(rows(0).getString(0) === "t1")
  }

  test("A2b schema'd JSON stream read (producer payload shape)") {
    val in = tmpDir("graft_js_in")
    val ckpt = tmpDir("graft_js_ckpt")
    Files.writeString(Paths.get(in, "b0.json"),
      """{"transaction_id":"t1","user_id":1,"product_id":10,"store_id":"s1","amount":42.5,"payment_method":"card","country":"FRANCE","timestamp":"2024-03-01T10:00:00.000Z"}
        |{"transaction_id":"t2","user_id":2,"product_id":20,"store_id":"s2","amount":7.0,"payment_method":"cash","country":"KENYA","timestamp":"2024-03-01T10:01:00.000Z"}
        |""".stripMargin)
    val q = Tables.readJsonStream(spark, in, Tables.transactionSchema)
      .writeStream.format("memory").queryName("json_out")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.sql("SELECT transaction_id, amount, timestamp FROM json_out ORDER BY transaction_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getString(0) === "t1" && rows(0).getDouble(1) === 42.5)
    assert(!rows(0).isNullAt(2), "timestamp must parse to a typed column")
  }

  test("H1 trend aggregation over the stream (windowed, approx distinct)") {
    val in = tmpDir("graft_tr_in")
    val ckpt = tmpDir("graft_tr_ckpt")
    writeTxCsv(in, "b0.csv", Seq(
      "t1,1,10,s1,100.0,card,FRANCE,2024-03-01T10:00:10.000Z",
      "t2,1,10,s1,50.0,card,FRANCE,2024-03-01T10:00:40.000Z",
      "t3,2,10,s1,70.0,card,KENYA,2024-03-01T10:02:00.000Z"))
    val scored = FraudStream.scoredStream(
      Tables.readCsvStream(spark, in, Tables.transactionSchema), usersDf, productsDf)
    // both reference trend sinks over the same scored stream
    Seq(FraudStream.userSpendTrend(scored) -> "trend_out",
        FraudStream.categoryTrend(scored) -> "category_trend_out").foreach {
      case (trend, name) =>
        trend.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$ckpt/$name")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
    }
    val rows = spark.sql(
      "SELECT user_id, total_spent, num_transactions, window_start FROM trend_out")
      .collect()
    val u1 = rows.filter(_.getInt(0) == 1)
    assert(u1.length === 1)
    assert(u1(0).getAs[Double]("total_spent") === 150.0)
    assert(u1(0).getAs[Long]("num_transactions") === 2L)
    assert(u1(0).getAs[String]("window_start") === "2024-03-01 10:00:00")
    // all three rows are product 10 ("gadgets"): two in the 10:00
    // window, one in 10:02
    val gadgets = spark.sql(
      """SELECT window_start, total_sales, num_transactions FROM category_trend_out
        |WHERE category = 'gadgets' ORDER BY window_start""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(gadgets === Seq(("2024-03-01 10:00:00", 150.0, 2L),
      ("2024-03-01 10:02:00", 70.0, 1L)))
  }

  test("H18 streaming trend cells serve the batch c6 statistic bit-identically") {
    // the real events fact delivered as a 3-micro-batch stream through
    // the foreachBatch cell sink; the served fold must equal the batch
    // c6 aggregate at the doubleToLongBits level (the r5 verdict's
    // training-serving parity gap for the trend sink)
    val ev = Tables.table(spark, SF, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val in = tmpDir("graft_trend_in")
    val cells = tmpDir("graft_trend_cells")
    val ckpt = tmpDir("graft_trend_ckpt")
    ev.repartition(3).write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    FraudStream.maintainSpendTrendCells(stream, cells, ckpt).awaitTermination()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("window_start"), r.getAs[Long]("user_id")) ->
        ((r.getAs[Double]("total_spent"), r.getAs[Long]("num_events")))).toMap
    val served = keyed(FraudStream.spendTrendFromCells(spark, cells))
    val batch = keyed(graft.operators.Fraud.queries("c6_user_spend_trend")(spark, SF))
    assert(served.keySet === batch.keySet)
    assert(batch.nonEmpty)
    batch.foreach { case (k, (total, n)) =>
      assert(java.lang.Double.doubleToLongBits(served(k)._1) ===
        java.lang.Double.doubleToLongBits(total),
        s"$k: served total_spent ${served(k)._1} != batch $total — trend sink skew")
      assert(served(k)._2 === n, s"$k num_events skew")
    }
    // a committed-checkpoint restart replays nothing and serves the same
    val again = FraudStream.maintainSpendTrendCells(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in),
      cells, ckpt)
    again.awaitTermination()
    assert(keyed(FraudStream.spendTrendFromCells(spark, cells)) === served)
  }

  test("H18 streaming Gopher gate equals the batch F15 decisions bit-exactly") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val in = tmpDir("graft_gopher_in")
    val ckpt = tmpDir("graft_gopher_ckpt")
    import spark.implicits._
    // the real corpus admits nothing (word-soup fails the required-
    // stopword gate) — append one crafted passing doc so the admitted
    // set is exercised, not vacuously empty
    val passing = "the of " + Seq.fill(48)("word").mkString(" ")
    val docs = Tables.table(spark, SF, "documents").select($"doc_id", $"text")
      .unionByName(Seq((100000L, passing)).toDF("doc_id", "text"))
    docs.repartition(3).write.mode("overwrite").json(in)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    graft.streaming.CurationStream.gopherGate(stream)
      .writeStream.format("memory").queryName("gopher_gate")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_words"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("mean_word_len")),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("symbol_ratio")),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("alpha_word_frac")),
        r.getAs[Long]("req_stop_hits"), r.getAs[Boolean]("passes_gopher")))
    }.toMap
    val streamed = keyed(spark.table("gopher_gate"))
    val batch = keyed(graft.operators.TextAnalysis.gopherRules(docs))
    assert(streamed.size === batch.size && streamed.size === 501)
    assert(streamed === batch, "stream and batch F15 decisions must be bit-identical")
    val admitted = streamed.filter(_._2._6).keySet
    assert(admitted === Set(100000L), "exactly the crafted doc passes the full battery")
  }

  test("H24 streaming span-strip gate equals the batch F22 rewrite bit-exactly") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.operators.TextAnalysis
    val in = tmpDir("graft_strip_in")
    val ckpt = tmpDir("graft_strip_ckpt")
    val docs = Tables.table(spark, SF, "documents").select(col("doc_id"), col("text"))
    // the template MODEL: collected once from the corpus at plan-build
    // time (bounded — the frequent-gram list, not the corpus)
    val templates = TextAnalysis.frequentGrams(docs)
    assert(templates.nonEmpty, "the generated corpus must yield templates (near-dup clusters)")
    docs.repartition(3).write.mode("overwrite").json(in)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    graft.streaming.CurationStream.spanStripGate(stream, templates)
      .writeStream.format("memory").queryName("span_strip")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))
    }.toMap
    val streamed = keyed(spark.table("span_strip"))
    // parity target 1: the row-local twin on the same templates
    val rowLocal = keyed(TextAnalysis.stripWithTemplates(docs, templates))
    // parity target 2: the DISTRIBUTED batch operator deriving the
    // frequent set in-plan — the corpus-derived model closes the loop
    val batch = keyed(TextAnalysis.boilerplateStrip(docs))
    assert(streamed.size === 500)
    assert(streamed === rowLocal, "stream and row-local strip must be identical")
    assert(streamed === batch,
      "gate(templates = frequentGrams(corpus)) must equal the batch F22 verbatim")
    assert(streamed.values.exists(_._2 > 0), "the gate must actually strip something")
  }

  test("H26 streaming embedding drift equals batch E19 — order-free algebra, no reorder stage") {
    import graft.operators.Similarity
    import graft.streaming.DriftStream
    val emb = Tables.table(spark, SF, "embeddings")
    val in = tmpDir("graft_edrift_in")
    val ckpt = tmpDir("graft_edrift_ckpt")
    // multiple files, arbitrary arrival order — parity is UNCONDITIONAL
    // (commutative integer adds), so unlike H22 no mtime pinning and no
    // watermark reorder stage is needed
    emb.select(col("vec_id"), col("embedding"))
      .repartition(4).write.mode("overwrite").parquet(in)
    val schema = emb.select(col("vec_id"), col("embedding")).schema
    DriftStream.embeddingDriftMonitor(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in))
      .writeStream.format("memory").queryName("emb_drift")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getAs[Long]("dim") -> ((
        java.lang.Double.doubleToLongBits(r.getAs[Double]("mean_ref")),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("mean_inc")),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("drift"))))
    }.toMap
    val streamed = keyed(spark.table("emb_drift"))
    val batch = keyed(Similarity.embeddingDrift(emb))
    assert(streamed.size === 64)
    assert(streamed === batch,
      "the complete-mode final emission must equal batch E19 bit-for-bit")
  }

  test("H25 streaming flat-frame gate equals the batch G12 screen bit-exactly") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.operators.Multimodal
    val in = tmpDir("graft_flat_in")
    val ckpt = tmpDir("graft_flat_ckpt")
    import spark.implicits._
    // real corpus + crafted dead-air items so both branches of the
    // screen are exercised in-stream
    val docs = Tables.table(spark, SF, "documents").select($"doc_id", $"text")
      .unionByName(Seq(
        100000L -> ("x" * 192),                     // 3-frame flat run
        100001L -> ("ab" * 32 + ("abcdefghijklmnopqrstuvwxyz" * 3).take(64)))
        .toDF("doc_id", "text"))
    docs.repartition(3).write.mode("overwrite").json(in)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    graft.streaming.CurationStream
      .flatFrameGate(Multimodal.withPayload(stream))
      .writeStream.format("memory").queryName("flat_gate")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_frames"),
        r.getAs[Long]("n_flat"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("flat_frac")),
        r.getAs[Long]("max_flat_run")))
    }.toMap
    val streamed = keyed(spark.table("flat_gate"))
    val batch = keyed(Multimodal.flatFrames(Multimodal.withPayload(docs)))
    assert(streamed.size === 502)
    assert(streamed === batch, "stream and batch G12 must be bit-identical")
    assert(streamed(100000L) === ((3L, 3L,
      java.lang.Double.doubleToLongBits(1.0), 3L)), "pure dead air flags wholly")
    assert(streamed(100001L)._2 === 1L, "the mixed item flags only its flat frame")
  }

  test("H20 streaming index maintenance: maintained probe equals a full rebuild bit-exactly") {
    import graft.operators.Similarity
    import graft.streaming.IndexStream
    val emb = Tables.table(spark, SF, "embeddings")
    val baseDir = tmpDir("graft_ivf_base")
    val fullDir = tmpDir("graft_ivf_full")
    val in = tmpDir("graft_ivf_in")
    val ckpt = tmpDir("graft_ivf_ckpt")
    val base = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    Similarity.buildIvfIndex(base, baseDir)
    // the reference: one-shot batch build over the SAME corpus (both
    // seed centroids from the first 16 ids, all < 400 → same model)
    Similarity.buildIvfIndex(emb, fullDir)
    delta.select("vec_id", "embedding").repartition(3)
      .write.mode("overwrite").parquet(in)
    val schema = delta.select("vec_id", "embedding").schema
    IndexStream.maintainIvfIndex(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in),
      baseDir, ckpt).awaitTermination()
    assert(spark.read.parquet(s"$baseDir/delta")
      .select("batch_id").distinct().count() > 1,
      "the delta must have landed across multiple micro-batches")
    val qVec = emb.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("score")))).toSeq
    val served = keyed(IndexStream.probeMaintained(spark, baseDir, qVec, 20))
    val rebuilt = keyed(Similarity.probeIvfIndexVec(spark, fullDir, qVec, 20))
    assert(served === rebuilt,
      "streamed-in vectors must serve identically to a batch rebuild")
    // exactly-once: draining the SAME input against the SAME checkpoint
    // adds nothing and serves the same answer
    val before = spark.read.parquet(s"$baseDir/delta").count()
    IndexStream.maintainIvfIndex(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in),
      baseDir, ckpt).awaitTermination()
    assert(spark.read.parquet(s"$baseDir/delta").count() === before)
    assert(keyed(IndexStream.probeMaintained(spark, baseDir, qVec, 20)) === served)
    // compaction folds the delta into the base layout; the probe is
    // unchanged bit-for-bit and the delta directory is gone
    IndexStream.compactIndexDelta(spark, baseDir)
    assert(keyed(IndexStream.probeMaintained(spark, baseDir, qVec, 20)) === served)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$baseDir/delta")),
      "compaction must clear the delta")
    // and the compacted base alone now serves the full corpus (the
    // one-shot probe path, no delta leg)
    assert(keyed(Similarity.probeIvfIndexVec(spark, baseDir, qVec, 20)) === served)
  }

  test("H20 delta precedence: a re-ingested vec_id serves ONCE with its freshest embedding") {
    import graft.operators.Similarity
    import graft.streaming.IndexStream
    import spark.implicits._
    val emb = Tables.table(spark, SF, "embeddings")
    val dir = tmpDir("graft_ivf_upd")
    val in = tmpDir("graft_ivf_upd_in")
    val ckpt = tmpDir("graft_ivf_upd_ckpt")
    Similarity.buildIvfIndex(emb, dir)
    def embOf(id: Long): Seq[Float] =
      emb.filter(col("vec_id") === id).select("embedding").head().getSeq[Float](0)
    val (eA, eB) = (embOf(6L), embOf(7L))
    val schema = emb.select("vec_id", "embedding").schema
    def drain(): Unit = IndexStream.maintainIvfIndex(
      spark.readStream.schema(schema).parquet(in), dir, ckpt).awaitTermination()
    // batch 0 re-ingests vec 5 as eA; batch 1 (a later AvailableNow
    // drain over the same checkpoint) updates it again to eB — the
    // advice scenario: without precedence the stale and fresh rows
    // would each occupy a top-k slot
    Seq((5L, eA)).toDF("vec_id", "embedding").write.mode("append").parquet(in)
    drain()
    Seq((5L, eB)).toDF("vec_id", "embedding").write.mode("append").parquet(in)
    drain()
    assert(spark.read.parquet(s"$dir/delta").filter(col("vec_id") === 5L).count() === 2,
      "both updates must be in the delta layout")
    // query along the freshest embedding: its cell is certainly probed
    val res = IndexStream.probeMaintained(spark, dir, eB.toArray, 10).collect()
    val ids = res.map(_.getAs[Long]("vec_id"))
    assert(ids.length === ids.distinct.length,
      s"a vec_id occupies two top-k slots: ${ids.mkString(",")}")
    // (score desc, vec_id asc) ties 5-as-eB with the real 7 — 5 first
    assert(ids.take(2).toSeq === Seq(5L, 7L),
      s"the updated vector must serve its fresh embedding, got ${ids.toSeq}")
    // compaction reconciles globally: exactly one vec-5 row, the latest
    IndexStream.compactIndexDelta(spark, dir)
    val after = spark.read.parquet(s"$dir/vectors").filter(col("vec_id") === 5L).collect()
    assert(after.length === 1, "compaction must keep one row per vec_id")
    assert(after.head.getAs[scala.collection.Seq[Float]]("embedding").toSeq === eB,
      "compaction must keep the LATEST batch's embedding")
    val resAfter = IndexStream.probeMaintained(spark, dir, eB.toArray, 10).collect()
      .map(_.getAs[Long]("vec_id"))
    assert(resAfter.take(2).toSeq === Seq(5L, 7L))
  }

  test("H29 syntactic gate: corpus near-dups blocked via band+verify, fresh/short docs admitted") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import spark.implicits._
    val in = tmpDir("graft_syn_in")
    val ckpt = tmpDir("graft_syn_ckpt")
    // the SAME strings whose band collision the D2 spec pins — the
    // md5-derived hashes are fixed, so the collision is deterministic
    val base = "key agg row scan slow fast table value part hash merge batch spark window"
    val nearDup = "key agg row scan slow fast table value part hash merge batch spark query"
    val corpus = Seq(10L -> base,
      11L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
      .toDF("doc_id", "text")
    Files.writeString(Paths.get(in, "a.json"),
      s"""{"doc_id":1,"text":"$nearDup"}""" + "\n" +
      """{"doc_id":2,"text":"completely fresh words about nothing shared anywhere at all today"}""" + "\n")
    Files.writeString(Paths.get(in, "b.json"),
      s"""{"doc_id":3,"text":"$base"}""" + "\n" +
      """{"doc_id":4,"text":"tiny"}""" + "\n")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    graft.streaming.CurationStream.syntacticNearDupGate(stream, corpus)
      .writeStream.format("memory").queryName("syn_gate")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val admitted = spark.table("syn_gate").collect().map(_.getAs[Long]("doc_id")).toSet
    // 1: 11/13-Jaccard near-dup of corpus doc 10 → banded AND verified →
    // blocked; 3: exact copy → blocked; 2: unrelated → admitted; 4: a
    // 1-token doc has no shingles — no syntactic evidence → admitted
    assert(admitted === Set(2L, 4L),
      s"expected the near-dup and the copy blocked, got $admitted")
  }

  test("H19 corpus-digest gate: known corpus text blocked, fresh text admitted, stateless") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import spark.implicits._
    val in = tmpDir("graft_cdg_in")
    val ckpt = tmpDir("graft_cdg_ckpt")
    val corpus = Seq("old doc one", "old doc two").toDF("text")
      .select(org.apache.spark.sql.functions.md5($"text").as("content_hash"))
    Files.writeString(Paths.get(in, "a.json"),
      """{"doc_id":1,"text":"old doc one"}""" + "\n" +
      """{"doc_id":2,"text":"brand new doc"}""" + "\n")
    Files.writeString(Paths.get(in, "b.json"),
      """{"doc_id":3,"text":"old doc two"}""" + "\n" +
      """{"doc_id":4,"text":"another new doc"}""" + "\n")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    graft.streaming.CurationStream.corpusDedupGate(stream, corpus)
      .writeStream.format("memory").queryName("corpus_gate")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val admitted = spark.table("corpus_gate").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(admitted === Set(2L, 4L),
      "corpus texts must be blocked across BOTH micro-batches, fresh texts admitted")
  }
}
