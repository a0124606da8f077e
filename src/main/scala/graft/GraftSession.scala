package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * Local mode is a stand-in for a real cluster: shuffle partitions are sized
  * to the local cores (not the 200 default), AQE is on so skewed shuffles
  * re-plan at runtime, and auto-broadcast stays enabled so dimension tables
  * (region/nation/part at TPC-H scale; type/role dictionaries in the
  * statement engine) never shuffle.
  *
  * `SPARK_GRAFT_CPUS` sets the local task threads; unset, it is the host's
  * processor count.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def local(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The driver testdata stores `events.ts` as parquet TIMESTAMP(NANOS);
      // Spark reads it as a nanosecond epoch long under this flag.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // reliable boundaries outside a BlockScope.scoped region (batch
      // runs) leave their checkpoint files to the ContextCleaner
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
