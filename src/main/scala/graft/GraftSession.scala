package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a session: every entry point (Bench, Verify,
  * Scratch, the test session, the dev mains) gets the configuration the
  * DuckDB oracle assumes — UTC session time zone, the graft expression
  * extensions — plus the same width rules, so no caller can drift.
  */
object GraftSession {
  /** The core count from `$SPARK_GRAFT_CPUS`, else 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with `cpus` shuffle partitions. With `sfDir`,
    * AQE's initial partition count derives from the fixture's bytes (see
    * [[graft.sources.FileSizing.initialShufflePartitions]]): a fixed width
    * either spills at sf100 or taxes every sub-second sf0.1 query.
    */
  def local(cpus: Int, sfDir: Option[String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    sfDir.foreach(d => b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      graft.sources.FileSizing.initialShufflePartitions(d, cpus)))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
