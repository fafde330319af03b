package graft

/** Plan-capture utility for the optimization rounds: writes
  * `.explain("formatted")` for named queries to `<outDir>/<name>_<tag>.txt`
  * so plan claims in OPTIMIZATION_r*.md are checkable against committed
  * files.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [query1,query2,...]
  * (no query list = all registered queries).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r17")
    val tag = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Tuning.session("graft-plandump")

    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"), plan)
      println(s"[plandump] wrote $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
