package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session every main runs on: `local[cpus]` with one
  * shuffle partition per core, a UTC session clock, nanosecond parquet
  * timestamps read as epoch longs instead of failing the table read, no
  * UI, the given driver log level, and quiet checkpoint-unpersist
  * warnings (see [[graft.plans.Checkpoints.quietUnpersistWarnings]]). */
object LocalSession {
  def apply(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.plans.Checkpoints.quietUnpersistWarnings()
    spark
  }
}
