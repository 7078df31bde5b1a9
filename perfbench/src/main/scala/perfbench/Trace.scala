package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the engine: name, wall interval, the span that
  * caused it (0 for a root) and the unit of work it belongs to.
  */
final case class Span(id: Long, parent: Long, unit: String, name: String,
                      startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into each public entry point,
  * kept in memory and written out when the run ends. When disabled,
  * `span` runs its body with no bookkeeping at all.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile var unit: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), unit, name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Total duration per span name, in milliseconds. */
  def totalsMs: Map[String, Double] =
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum }

  def records: Seq[Map[String, Any]] = all.map(s => Map("id" -> s.id, "parent" -> s.parent,
    "unit" -> s.unit, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Progress of one streaming trigger. */
final case class Trigger(query: String, batchId: Long, rows: Long,
                         durations: Map[String, Long], stateRows: Long,
                         stateMemoryBytes: Long, stateCommitMs: Long)

/** The listeners of a traced run: Spark scheduling, task execution and
  * shuffle counters (SparkListener), Catalyst driver phases
  * (QueryExecutionListener) and per-trigger streaming progress
  * (StreamingQueryListener).
  *
  * They are registered when the workload starts, before any streaming
  * query clones the session (a clone copies the listeners registered at
  * that moment), and count only while `active`.
  */
final class Listeners(spark: SparkSession) {
  @volatile private var active = false
  private var t0 = 0L
  private var wallNs = 0L

  val jobs, stages, tasks = new AtomicLong()
  val schedulerDelayMs, executorRunMs, executorCpuNs, gcMs = new AtomicLong()
  val shuffleWriteBytes, shuffleReadBytes, spillBytes = new AtomicLong()
  val analysisMs, optimizationMs, planningMs = new DoubleAdder()
  private val triggers = new ConcurrentLinkedQueue[Trigger]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        executorRunMs.addAndGet(m.executorRunTime)
        executorCpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillBytes.addAndGet(m.diskBytesSpilled)
        // the UI's scheduler delay: task wall time not spent deserializing,
        // running or serializing the result
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        schedulerDelayMs.addAndGet(math.max(0L, e.taskInfo.duration - busy))
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        val phases = qe.tracker.phases
        phases.get("analysis").foreach(p => analysisMs.add(p.durationMs.toDouble))
        phases.get("optimization").foreach(p => optimizationMs.add(p.durationMs.toDouble))
        phases.get("planning").foreach(p => planningMs.add(p.durationMs.toDouble))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (active) {
      val p = e.progress
      val ops = p.stateOperators
      triggers.add(Trigger(p.name, p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  })

  def start(): Unit = { t0 = System.nanoTime(); active = true }

  def stop(): Unit = {
    wallNs = System.nanoTime() - t0
    // the listener bus is asynchronous: let it deliver the phase's events
    org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)
    active = false
  }

  def metrics: Map[String, Double] = Map(
    "catalyst.analysis_ms" -> analysisMs.sum,
    "catalyst.optimization_ms" -> optimizationMs.sum,
    "catalyst.planning_ms" -> planningMs.sum,
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.scheduler_delay_ms" -> schedulerDelayMs.get.toDouble,
    "spark.executor_run_ms" -> executorRunMs.get.toDouble,
    "spark.executor_cpu_ms" -> executorCpuNs.get / 1e6,
    "spark.parallelism" -> (if (wallNs > 0) executorRunMs.get * 1e6 / wallNs else 0.0),
    "spark.gc_ms" -> gcMs.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleReadBytes.get.toDouble,
    "spark.spill_bytes" -> spillBytes.get.toDouble)

  def allTriggers: Seq[Trigger] = triggers.asScala.toSeq

  /** Median per-trigger phase times of one streaming query (over its
    * triggers that read data), its trigger count and rows per trigger,
    * plus the state store totals across all queries: the latest state
    * size of each query summed, and commit time summed over triggers.
    */
  def streamMetrics(query: String): Map[String, Double] = {
    val withData = allTriggers.filter(t => t.query == query && t.rows > 0)
    val latest = allTriggers.groupBy(_.query).values.map(_.maxBy(_.batchId))
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets", "triggerExecution").map(p => s"streaming.${p}_ms" ->
      Util.median(withData.map(_.durations.getOrElse(p, 0L).toDouble))).toMap ++ Map(
      "streaming.triggers" -> withData.size.toDouble,
      "streaming.rows_per_trigger" -> Util.median(withData.map(_.rows.toDouble)),
      "streaming.state_rows" -> latest.map(_.stateRows).sum.toDouble,
      "streaming.state_memory_bytes" -> latest.map(_.stateMemoryBytes).sum.toDouble,
      "streaming.state_commit_ms" -> allTriggers.map(_.stateCommitMs).sum.toDouble)
  }

  def triggerRecords: Seq[Map[String, Any]] = allTriggers.map(t => Map[String, Any](
    "query" -> t.query, "batch" -> t.batchId, "rows" -> t.rows,
    "durations" -> t.durations, "state_rows" -> t.stateRows,
    "state_memory_bytes" -> t.stateMemoryBytes, "state_commit_ms" -> t.stateCommitMs))
}

object Heap {
  private val mb = 1024.0 * 1024.0

  /** Peak used heap so far, summed over the heap memory pools, in MB. */
  def peakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / mb

  /** Heap still in use after a full collection, in MB: the live set,
    * which unlike the peak does not depend on when the collector ran.
    */
  def liveMb: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb
  }
}

/** CPU the JVM process has used so far (all threads) and the time its
  * JIT compilers have spent, in ms.
  */
object Jvm {
  def cpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def jitMs: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Write `v` as JSON to `path` via a temporary file and a rename. */
  def write(path: String, v: Any): Unit = {
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.write(tmp, mapper.writeValueAsBytes(v))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
