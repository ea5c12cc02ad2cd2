package graft.util

import org.apache.spark.sql.SparkSession

/** The one session the CLI mains (Bench, Verify, Probe) run in, so a
  * probe measures the session the bench times: `local[SPARK_GRAFT_CPUS]`
  * (default 4) with as many shuffle partitions, UTC, the graft SQL
  * extensions, `nanosAsLong` pinned (events.parquet is TIMESTAMP(NANOS);
  * see the `Tables.events` scaladoc on the setting's session-global scope),
  * no UI, WARN logs.
  */
object Session {
  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
