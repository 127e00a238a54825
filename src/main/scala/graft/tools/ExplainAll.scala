package graft.tools

import scala.util.matching.Regex

/** Bulk plan capture for the optimization rounds:
  * `runMain graft.tools.ExplainAll <outDir> <suffix> <q1,q2,...|all>`
  * writes `<outDir>/<query>_<suffix>.txt` with the formatted physical
  * plan of each named query — the `plans/rNN/` before/after artifacts
  * the optimization deliverable commits. [[graft.Session]] builds the
  * session, as it does Bench's, so the captured plan is the benched
  * plan. Each plan is written [[normalize]]d, so two captures compare
  * with a plain `diff -r`. */
object ExplainAll {
  private val RunDependent: Seq[(Regex, String)] = Seq(
    """#\d+""".r -> "#n",
    """plan_id=\d+""".r -> "plan_id=n",
    """\$\$Lambda[^@\s,()\[\]]*""".r -> Regex.quoteReplacement("$$Lambda"),
    """@[0-9a-f]+\b""".r -> "@hex",
    """RDD\[\d+\]""".r -> "RDD[n]",
    """\.scala:\d+""".r -> ".scala:n")

  /** `plan` with what differs between two runs of the same tree
    * replaced: expression ids (`#123`), `plan_id=`, object hashes
    * (`@1a2b`), RDD ids (`RDD[42]`), lambda class names and
    * `*.scala:<line>` call sites. What the ids decide is left as it is:
    * `q_profile`'s Expand lists its distinct-aggregate groups in an
    * order that follows expression ids, so that order can still differ
    * between two captures of the same tree. */
  def normalize(plan: String): String =
    RunDependent.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }

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
      val txt = normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[explainall] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
