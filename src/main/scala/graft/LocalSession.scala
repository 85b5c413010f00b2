package graft

import org.apache.spark.sql.SparkSession

/** The one builder of graft's local session, used by every main and by the
  * tests: `cpus` worker threads and as many shuffle partitions, the graft
  * extensions, UTC, AQE, nanosecond timestamps read as longs (the oldest
  * events fixtures), a 1M-row in-memory window buffer and no UI. Callers
  * set their own log level. */
object LocalSession {
  /** `SPARK_GRAFT_CPUS`, 32 when unset. */
  def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(cpus: String = envCpus): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
