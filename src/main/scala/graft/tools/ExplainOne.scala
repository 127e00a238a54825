package graft.tools

/** Plan-audit harness for a single registered query:
  * `runMain graft.tools.ExplainOne <query> [sfDir] [runs]` prints the
  * formatted physical plan and, when runs > 0, warm wall timings to a
  * noop sink (the Bench measurement shape) — the ".explain and iterate
  * until it's the plan you'd want" loop as a one-liner. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Session.local()
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).explain("formatted")
    (0 until runs).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      println(f"[explainone] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
