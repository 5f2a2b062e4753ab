package graft.tools

import graft.SparkEntry

/** Time (and optionally explain) a single registered query.
  * Usage: BenchOne <queryName> [sfDir] [explain]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.LocalSession()
    val fn = SparkEntry.queries(name)
    if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
    // warm-up on the smallest SF, then two timed runs. The timed action is a
    // noop write (materializes every column); count() lets Catalyst prune
    // projection-shaped queries to nothing — same methodology as Bench.
    try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val n = fn(spark, sfDir).count()
      println(f"$name run$i: $secs%.2f s ($n rows)")
    }
    spark.stop()
  }
}
