package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder the mains and the specs share:
  * `cpus` worker threads and as many shuffle partitions, events'
  * nanosecond timestamps read as LONG (`nanosAsLong`, which
  * [[graft.io.Tables.events]] normalizes), a UTC session zone, and no
  * UI. Returns the active session when one exists. */
object GraftSession {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
