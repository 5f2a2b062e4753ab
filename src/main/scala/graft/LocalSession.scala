package graft

import org.apache.spark.sql.SparkSession

/** The local session the bench, verify and tool mains run on: `local[N]`
  * with N shuffle partitions, N = `SPARK_GRAFT_CPUS` (default 4), UTC
  * session time, parquet nanosecond timestamps read as longs, no UI, and
  * WARN logging.
  */
object LocalSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
