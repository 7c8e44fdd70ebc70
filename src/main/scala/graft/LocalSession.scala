package graft

import org.apache.spark.sql.SparkSession

/** The local session the harness mains share: `local[cpus]`, one shuffle
  * partition per core, UTC session time, Spark UI off, driver log level
  * `logLevel`. `cpus` defaults to `SPARK_GRAFT_CPUS`, else the host's cores
  * capped at 32. */
object LocalSession {
  def apply(logLevel: String,
            cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
              math.min(32, Runtime.getRuntime.availableProcessors()).toString)
           ): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
