package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Engine side of the benchmark: runs one workload on one session built
  * by `GraftSession.local` and writes its raw timings, counters and
  * check artifacts to `<work>/jvm_result.json`. `run.py` generates the
  * inputs before this starts and turns the raw results into metrics.
  *
  * Arguments are `key=value` pairs: `workload`, `work` (the run's
  * scratch directory inside the checkout), `seconds`, `trace` (0|1),
  * `seed`, `cores`, plus the workload's own keys.
  *
  * With `trace=1` the listeners and spans record the measured phase and
  * the traced run also probes the native `graft.functions` expressions.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainWallMs = System.currentTimeMillis()
    val opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = opts("work")
    val out = mutable.LinkedHashMap[String, Any](
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "main_wall_ms" -> mainWallMs)
    val failures = mutable.Buffer[String]()
    val t0 = System.nanoTime()
    val spark = GraftSession.local(opts("cores").toInt)
    out("session_s") = (System.nanoTime() - t0) / 1e9
    try {
      val ctx = Ctx(spark, opts, work, opts("seconds").toDouble, opts("trace") == "1",
        opts("seed").toLong, out, failures)
      opts("workload") match {
        case "fraud_pipeline" => FraudPipelineWorkload.run(ctx)
        case "batch_queries" => BatchWorkload.run(ctx)
        case other => failures += s"unknown workload $other"
      }
      if (ctx.trace) {
        ctx.layers ++= FunctionProbes.run(spark)
        out("layers") = ctx.layers.toMap
      }
    } catch {
      case e: Throwable =>
        val sw = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(sw))
        failures += sw.toString
    } finally {
      out("peak_heap_mb") = Heap.peakMb
      out("failures") = failures.toSeq
      Json.write(s"$work/jvm_result.json", out)
      spark.stop()
    }
  }
}

/** What every workload gets: the session, its options and the result
  * map it fills in.
  */
final case class Ctx(spark: SparkSession, opts: Map[String, String], work: String,
                     seconds: Double, trace: Boolean, seed: Long,
                     out: mutable.Map[String, Any], failures: mutable.Buffer[String]) {
  def int(key: String): Int = opts(key).toInt

  /** Registered before the workload starts anything, counting only
    * during the traced phase.
    */
  val listeners: Option[Listeners] = if (trace) Some(new Listeners(spark)) else None

  val tracer = new Tracer(trace)

  /** Runs the measured phase; in a traced run the listeners count and
    * the spans are recorded while it runs, and their readings are added
    * to the result as `layers` and `spans`.
    */
  def measure[T](body: => T): T = {
    val (cpu0, jit0) = (Jvm.cpuMs, Jvm.jitMs)
    val r = listeners match {
      case None => body
      case Some(ls) =>
        ls.start()
        try body
        finally {
          ls.stop()
          layers ++= ls.metrics
          out("spans") = tracer.records
        }
    }
    out("cpu_ms") = Jvm.cpuMs - cpu0
    out("jit_ms") = Jvm.jitMs - jit0
    out("heap_live_mb") = Heap.liveMb
    r
  }

  /** Per-layer readings of a traced run. */
  val layers = scala.collection.mutable.Map[String, Any]()

  /** Runs `unit` at least once, then again for as long as another run
    * of the same length still fits in the measuring time.
    */
  def repeat[T](unit: => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.Buffer[T]()
    var last = 0.0
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      val u0 = System.nanoTime()
      out += unit
      last = (System.nanoTime() - u0) / 1e9
    }
    out.toSeq
  }
}

object Util {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  def nowMicros: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Order-insensitive content hash: row count and the exact sum of the
    * per-row xxhash64 over the columns taken in name order.
    */
  def contentHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Parquet data files under `dir`. */
  def files(dir: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
          val n = f.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith(".")
        }.toList
      } finally s.close()
    }
  }

  /** Parquet data files, each with its size and modification time (ns). */
  type Listing = Map[java.nio.file.Path, (Long, Long)]

  def listing(dir: String): Listing =
    files(dir).map(f => f -> (Files.size(f),
      Files.getLastModifiedTime(f).to(java.util.concurrent.TimeUnit.NANOSECONDS))).toMap

  /** The files of `after` that are new or changed since `before`. */
  def written(before: Listing, after: Listing): Listing =
    after.filter { case (f, v) => !before.get(f).contains(v) }

  def bytes(l: Listing): Long = l.values.map(_._1).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def publish(from: String, to: String): Unit =
    Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)
}
