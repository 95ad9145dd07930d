package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point (Bench, Verify, Probe,
  * ScaleSlope) runs on, so a key inspected with Probe runs on the engine
  * Bench times: `local[SPARK_GRAFT_CPUS]` (default 4), one shuffle
  * partition per core, UTC, DSv2 key-grouped partitioning on (the
  * graft-log partition clustering skips the Exchange for partition-keyed
  * aggregates), no UI, log level WARN. `conf` pairs are applied last, so
  * a caller's own setting wins.
  */
object Session {
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
