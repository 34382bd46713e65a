package graft.core

import org.apache.spark.sql.SparkSession

/** The driver-contract session: `local[cpus]`, shuffle partitions =
  * cpus, AQE on, UTC, UI off, shuffle and spill on tmpfs when the host
  * has one ([[FastLocalDir]]). The mains and the test suites build their
  * sessions here, so a measured number and a tested result share one conf. */
object Session {
  def local(cpus: Int): SparkSession = {
    FastLocalDir.install()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
