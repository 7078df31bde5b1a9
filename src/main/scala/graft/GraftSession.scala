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
  */
object GraftSession {
  def local(cores: Int = math.min(Runtime.getRuntime.availableProcessors, 32)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
