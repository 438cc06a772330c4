package graft

import org.apache.spark.sql.SparkSession

/** The local session of the mains and the specs: `local[cpus]`, one
  * shuffle partition per core, UTC, no UI. */
object LocalSession {
  def apply(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
