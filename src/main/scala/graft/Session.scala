package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point (Bench, Verify, Probe,
  * ScaleSlope) runs on, so a key inspected with Probe runs on the engine
  * Bench times: `local[SPARK_GRAFT_CPUS]` (default 4), one shuffle
  * partition per core, UTC, DSv2 key-grouped partitioning on (the
  * graft-log partition clustering skips the Exchange for partition-keyed
  * aggregates), no UI, log level WARN. `conf` pairs are applied last, so
  * a caller's own setting wins.
  *
  * This object also owns every change a query makes to a session's conf:
  * [[withConf]] scopes a setting to a body, and [[keepForScans]] is the
  * one setting a query leaves behind on purpose. Nothing else under
  * `src/main` calls `conf.set` or `conf.unset` (SessionSpec scans for it).
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

  /** Runs `body` with `settings` applied to `s`, then leaves `s`'s conf
    * as it found it: a key that had an explicit setting gets its value
    * back, and a key that had none is unset, whether `body` returns or
    * throws. The priors come from `conf.getAll`, which holds only explicit
    * settings: `conf.get` and `getOption` answer a registered key's
    * default, and writing that back would leave an explicit setting the
    * session never had. Nested scopes on one key restore in order.
    *
    * Settings a plan reads when it is planned or executed must be used up
    * inside the scope (plan it, collect it, or await the stream).
    */
  def withConf[T](s: SparkSession, settings: (String, String)*)(
      body: => T): T = {
    val explicit = s.conf.getAll
    val priors = settings.map { case (k, _) => k -> explicit.get(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally priors.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Sets `key` on `s` and leaves it set: for a setting that a scan reads
    * when it executes, which may be long after the query that found it
    * needed returns (the NANOS events footer, see `Tables`).
    */
  def keepForScans(s: SparkSession, key: String, value: String): Unit =
    s.conf.set(key, value)
}
