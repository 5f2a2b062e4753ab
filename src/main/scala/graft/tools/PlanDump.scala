package graft.tools

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization round's plan-evidence artifact
  * (`plans/r21/<query>_<tag>.txt`). Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <tag> <query>[,<query>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args.take(4)
    val spark = graft.LocalSession()
    new java.io.File(outDir).mkdirs()
    names.split(",").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${q}_$tag.txt"), plan)
      println(s"dumped $q -> $outDir/${q}_$tag.txt")
    }
    spark.stop()
  }
}
