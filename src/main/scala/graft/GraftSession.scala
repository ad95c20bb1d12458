package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.window.WindowExec

/** The one place a graft Spark session is built. Every main and the shared
  * test session come from here, so all of them run the same optimizer
  * surface: the rules and SQL functions of [[GraftExtensions]].
  */
object GraftSession {

  /** Local cores for the drivers that take no core count on their command
    * line: `SPARK_GRAFT_CPUS`, else the host's available processors.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  /** A fresh session on `master` with `shufflePartitions` shuffle
    * partitions, UTC, no UI, AQE on, GraftExtensions installed and log
    * level WARN, except that `WindowExec` logs at ERROR: its "No Partition
    * Defined for Window operation" warning fires on every global window,
    * and AuditLintSpec already holds each such window to a
    * metadata-bounded input.
    *
    * getOrCreate() returns any active or default session as it is and
    * silently ignores withExtensions, so both are cleared first.
    */
  def apply(master: String, shufflePartitions: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // a file-based read of hundreds of individual paths: above the default
      // parallelPartitionDiscovery threshold (32) Spark launches a listing
      // JOB with one task per path, pure scheduling overhead for small path
      // sets; list them on the driver instead
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      // reliable-checkpoint files are deleted as their RDDs get GC'd, so a
      // long sweep doesn't accumulate checkpoint scratch on disk
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel(classOf[WindowExec].getName, Level.ERROR)
    spark
  }
}
