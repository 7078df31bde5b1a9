package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{BloomFunctions, MinHashFunctions, PairFunctions, VectorFunctions}

/** batch_queries: one client in a closed loop over the read-only corpus,
  * running a fixed mix of `SparkEntry.queries`.
  * Each measured pass runs every query of the mix once, in an order
  * drawn from the seed. A query's time is split into the builder call
  * that returns its DataFrame (which may run eager checkpoints) and the
  * execution.
  *
  * Every pass, the warm-up's included, executes each query into its
  * order-insensitive content hash (a full scan of every output row and
  * column, like the `noop` sink, plus one small aggregate), so each
  * measured pass runs the plans the warm-up compiled and every result is
  * checked. The warm-up pass runs the mix in its fixed order: which
  * queries run first decides what the JIT compiles and how, and a seeded
  * warm-up order moved single queries by up to 2x and whole passes by
  * 25% between seeds.
  */
object BatchWorkload {
  /** One query per open performance question of the engine: the m1
    * curation DAG, a cloned-session iterative loop (c30), native pair
    * expansion (c27), an unpartitioned window (b43), the batch twin of the
    * stream's spend trend (c6) and the vector kernels (e3).
    */
  val mix = Seq("m1_curation_pipeline", "c6_user_spend_trend", "b43_feature_scale",
    "c27_collusion_pairs", "c30_collusion_pagerank", "e3_ann_ivf")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = ctx.opts("corpus")
    var pass = 0

    /** One pass of the mix in `order`; each query's DataFrame is executed
      * into its content hash. */
    def onePass(tracer: Tracer, order: Seq[String]): Seq[Map[String, Any]] = {
      val r = order.map { q =>
        tracer.unit = s"pass$pass/$q"
        val (df, buildMs) = Util.timed(tracer.span(s"operators.$q.build") {
          SparkEntry.queries(q)(spark, corpus)
        })
        val (out, execMs) = Util.timed(tracer.span(s"operators.$q.exec")(Util.contentHash(df)))
        Map[String, Any]("query" -> q, "pass" -> pass, "build_ms" -> buildMs,
          "exec_ms" -> execMs, "out" -> out)
      }
      pass += 1
      r
    }
    val (warm, warmMs) = Util.timed(onePass(new Tracer(false), mix))
    ctx.out("warmup_s") = warmMs / 1000
    ctx.out("warmup_runs") = warm
    val rng = new scala.util.Random(ctx.seed)
    ctx.out("runs") = ctx.measure(ctx.repeat(onePass(ctx.tracer, rng.shuffle(mix))).flatten)
    if (ctx.opts.get("dump").contains("1")) {
      mix.foreach(q => SparkEntry.queries(q)(spark, corpus).write.mode("overwrite")
        .parquet(s"${ctx.work}/dump/$q"))
      Json.write(s"${ctx.work}/dump/oracle_sql.json",
        mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    }
  }
}

/** ns/row of each native `graft.functions` expression, timed over a
  * cached frame through the `noop` sink (best of three), in traced runs.
  */
object FunctionProbes {
  val rows = 200000L

  def run(spark: SparkSession): Map[String, Double] = {
    val base = spark.range(rows).select(
      col("id"),
      transform(sequence(lit(0), lit(15)), i => concat(lit("w"), ((col("id") * 31 + i) % 5000).cast("string")))
        .as("shingles"),
      sequence(col("id"), col("id") + 7).as("bucket"),
      transform(sequence(lit(0), lit(63)), i => sin(col("id") + i).cast("float")).as("va"),
      transform(sequence(lit(0), lit(63)), i => cos(col("id") - i).cast("float")).as("vb"))
      .cache()
    base.count()
    val bloom = spark.range(rows / 2)
      .agg(BloomFunctions.bloomFilterAgg(col("id") * 2, rows / 2, rows * 4))
      .head().getAs[Array[Byte]](0)
    def best(c: org.apache.spark.sql.Column): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        base.select(c.as("x")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble / rows
      }.min
    try Map(
      "functions.minhash_ns_per_row" -> best(MinHashFunctions.minhashSig(col("shingles"))),
      "functions.pair_expand_ns_per_row" -> best(PairFunctions.pairExpand(col("bucket"), "a", "b")),
      "functions.vec_dot_ns_per_row" -> best(VectorFunctions.vecDot(col("va"), col("vb"))),
      "functions.bloom_ns_per_row" -> best(BloomFunctions.mightContain(lit(bloom), col("id"))))
    finally base.unpersist()
  }
}
