package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, SparkEntry}
import graft.sources.Tables

/** The one diagnostic main over `SparkEntry.queries`, run on the
  * engine's own session (`GraftSession.local`, width from
  * `SPARK_GRAFT_CPUS`, else the core count):
  *
  *   runMain graft.tools.Probe <time|explain|plansize|scale> <sfDir> <names|--all> [reps]
  *
  * `names` is comma-separated; `--all` selects every query.
  *  - `time`: one untimed warm-up pass, then `reps` (default 3) measured
  *    passes through the noop sink; prints every rep with the classes
  *    Janino compiled during it (`compiled=N`), then each query's min.
  *    The warm-up takes the first codegen and JIT; a rep is warm only
  *    if it compiled nothing, which holds while the selection's
  *    generated classes fit in Spark's codegen cache and the query
  *    bakes no per-run literal into its generated code.
  *  - `explain`: executes each query and prints its finalized physical
  *    plan (the AQE final plan, initial plan cut off) and its length.
  *  - `plansize`: chars of each query's pre-execution physical plan,
  *    largest first, nothing executed — the plan-size census.
  *  - `scale`: one JSON line of corpus text volume (docs, text bytes,
  *    tokens), then one per query with shuffle MB written and rows out
  *    from the same execution ([[Bench.shuffleWriteMbAndRows]]) and the
  *    shuffle bytes per doc and per text byte — the bytes denominator a
  *    super-linear time exponent needs.
  */
object Probe {
  private val usage =
    "usage: Probe <time|explain|plansize|scale> <sfDir> <names|--all> [reps]"
  private val modes = Set("time", "explain", "plansize", "scale")

  private[tools] type Query = (String, (SparkSession, String) => DataFrame)

  /** (mode, sfDir, selected queries, reps), checked before any session
    * is built: a bad argument fails at once instead of after Spark's
    * start-up (or, for `reps` 0, after `time`'s whole warm-up pass). */
  private[tools] def parse(args: Array[String]): (String, String, Seq[Query], Int) = {
    require(args.length >= 3, usage)
    val Array(mode, sfDir, selection) = args.take(3)
    require(modes(mode), s"unknown mode '$mode'; $usage")
    val reps = if (args.length > 3) args(3).toInt else 3
    require(reps >= 1, s"reps must be at least 1, got $reps; $usage")
    val queries = SparkEntry.queries
    val names =
      if (selection == "--all") queries.keys.toSeq.sorted
      else selection.split(",").toSeq
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    (mode, sfDir, names.map(n => n -> queries(n)), reps)
  }

  def main(args: Array[String]): Unit = {
    val (mode, sfDir, selected, reps) = parse(args)
    val spark = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(GraftSession.local())(c => GraftSession.local(c.toInt))
    try mode match {
      case "time" => time(spark, sfDir, selected, reps)
      case "explain" => explain(spark, sfDir, selected)
      case "plansize" => planSize(spark, sfDir, selected)
      case "scale" => scale(spark, sfDir, selected)
    } finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, selected: Seq[Query],
                   reps: Int): Unit = {
    // seconds and classes compiled (the JVM-wide Janino counter)
    def once(fn: (SparkSession, String) => DataFrame): (Double, Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    selected.foreach { case (n, fn) =>
      val (_, c) = once(fn)
      println(f"$n%-32s warm-up (untimed) compiled=$c")
    }
    val readings = (1 to reps).flatMap { r =>
      selected.map { case (n, fn) =>
        val (t, c) = once(fn)
        println(f"$n%-32s rep$r $t%8.3f s compiled=$c")
        n -> t
      }
    }
    selected.foreach { case (n, _) =>
      println(f"$n%-32s min  ${readings.filter(_._1 == n).map(_._2).min}%8.3f s")
    }
  }

  private def explain(spark: SparkSession, sfDir: String,
                      selected: Seq[Query]): Unit =
    selected.foreach { case (n, fn) =>
      val df = fn(spark, sfDir)
      df.collect() // finalizes df's own adaptive plan
      val plan = df.queryExecution.executedPlan.toString
        .split("""\+- == Initial Plan ==""").head.stripTrailing()
      println(s"===== $n =====")
      println(plan)
      println(s"plan chars: ${plan.length}")
    }

  private def planSize(spark: SparkSession, sfDir: String,
                       selected: Seq[Query]): Unit = {
    val sizes = selected.flatMap { case (n, fn) =>
      try Some(n -> fn(spark, sfDir).queryExecution.executedPlan.toString.length)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[probe] $n failed: ${e.getMessage}")
          None
      }
    }
    sizes.sortBy(-_._2).foreach { case (n, s) => println(f"$s%9d  $n") }
  }

  private def scale(spark: SparkSession, sfDir: String,
                    selected: Seq[Query]): Unit = {
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // coalesce: SUM over an empty table is NULL, and getLong would throw
    val vol = Tables.table(spark, sfDir, "documents").agg(
      count(lit(1)).as("docs"),
      coalesce(sum(length(col("text"))), lit(0L)).as("text_bytes"),
      coalesce(sum(size(split(col("text"), " "))), lit(0L)).as("tokens")).head()
    println(s"""{"sf":"$sfDir","docs":${vol.getLong(0)},""" +
      s""""text_bytes":${vol.getLong(1)},"tokens":${vol.getLong(2)}}""")
    selected.foreach { case (n, fn) =>
      val t0 = System.nanoTime()
      val (mb, out) = Bench.shuffleWriteMbAndRows(fn(spark, sfDir))
      val secs = (System.nanoTime() - t0) / 1e9
      // an empty documents table still emits valid JSON (-1 sentinel)
      def perUnit(den: Long): String =
        if (den > 0) num(mb * 1e6 / den) else "-1"
      println(s"""{"query":"$n","sf":"$sfDir",""" +
        s""""shuffle_mb":${num(mb)},"rows_out":$out,""" +
        s""""secs_with_collect":${num(secs)},""" +
        s""""shuffle_bytes_per_doc":${perUnit(vol.getLong(0))},""" +
        s""""shuffle_bytes_per_text_byte":${perUnit(vol.getLong(1))}}""")
    }
  }
}
