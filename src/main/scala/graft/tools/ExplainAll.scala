package graft.tools

/** Bulk plan capture for the optimization rounds:
  * `runMain graft.tools.ExplainAll <outDir> <suffix> <q1,q2,...|all>`
  * writes `<outDir>/<query>_<suffix>.txt` with the formatted physical
  * plan of each named query — the `plans/rNN/` before/after artifacts
  * the optimization deliverable commits. [[graft.Session]] builds the
  * session, as it does Bench's, so the captured plan is the benched
  * plan. */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args(2) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = graft.Session.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[explainall] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
