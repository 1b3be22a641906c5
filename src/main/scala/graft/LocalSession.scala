package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the command-line mains (`Bench`, `Verify`,
  * `Smoke`, `Explain`, `ScaleSmoke`, `GateSoak`, `StreamSoak`,
  * `RecallGate`): a local session with the settings the production
  * queries assume, so no main drifts from another.
  *
  *  - `local[cpus]` with `cpus` from `SPARK_GRAFT_CPUS`, defaulting to the
  *    JVM's available processors, and one shuffle partition per core;
  *  - the library's extensions ([[graft.functions.GraftExtensions]]);
  *  - UTC session time zone;
  *  - `nanosAsLong`: `events.parquet` carries TIMESTAMP(NANOS), read as
  *    nanos longs;
  *  - UI off, log level WARN. */
object LocalSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
