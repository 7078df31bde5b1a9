package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Capability derived from the reference pipeline's session setup
  * (reference: src/spark/jobs/spark.py:31-66), re-expressed for Spark 4:
  * AQE on (runtime re-plan / skew-join split), UTC session timezone so
  * event-time windows are deterministic, and shuffle partitions sized to
  * the actual parallelism instead of the 200 default. On a real cluster
  * the same builder is used with a cluster master URL and
  * `spark.sql.shuffle.partitions` sized to ~2-3x total cores.
  *
  * Spark keeps every class it generates (whole-stage and expression
  * codegen) in one JVM-wide cache of `spark.sql.codegen.cache.maxEntries`
  * classes, 100 by default. One pass of a six-query batch mix needs ~240
  * distinct classes and the full query corpus about 2,860, so at 100
  * each query evicts the classes of the query before it and every pass
  * compiles everything again (Janino on the driver, then the JIT).
  * [[CodegenCacheEntries]] holds the corpus's whole working set. The
  * conf is static and the cache is sized once, when the code generator
  * first initializes, so it must be set here, before the JVM generates
  * any code.
  *
  * The cache is keyed by class loader as well as by code, and with
  * per-session artifact isolation (Spark's default) every session gets
  * its own executor class loader. graft adds no per-session jars or
  * files, so isolation is off and all sessions share one loader. No
  * engine code makes a second session, and a measurement could not
  * show the conf does nothing without one: `Probe time --all` at
  * sf0.001 on 4 cores, two runs each way, alternating, compiled 2,834
  * and 2,848 classes in the warm-up and 112 and 104 in the warm rep
  * with it, 2,846 and 2,855 and 149 and 102 without it. So it stays.
  */
object GraftSession {
  /** Generated classes kept compiled across queries: the corpus's
    * measured working set (~2,860 classes) with headroom. */
  private val CodegenCacheEntries = 4096

  def local(cores: Int = math.min(Runtime.getRuntime.availableProcessors, 32)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftSparkExtensions)
      .getOrCreate()
    // getOrCreate may have returned a pre-existing session whose
    // extensions were fixed at creation — register directly as well.
    graft.functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
