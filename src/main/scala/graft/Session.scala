package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for the dev tools and the test fixture: a
  * `local[cpus]` master with as many shuffle partitions as cores, UTC,
  * `nanosAsLong` (which `Tables.events` relies on) and no UI. Callers add
  * their own settings on top and call `getOrCreate()`. Bench and Verify
  * keep their own copy of the same five settings, so their mains read
  * unchanged.
  */
object Session {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
