package graft

import org.apache.spark.sql.SparkSession

/** graft's Spark session policy, in one place. Every main and the
  * test suites build their session here, so a per-query cost measured
  * by one entry point is comparable with the same query run by any
  * other: same shuffle width rule, same adaptive execution, same
  * codegen cache, same extensions.
  *
  *  - [[local]]: the ready `local[cores]` session the mains use;
  *  - [[builder]]: the same policy on a builder, for a caller that
  *    needs another master or adds deployment conf (the ght2dm CLI,
  *    the test suites, local-cluster mode). */
object Session {
  /** Worker cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The policy keys [[builder]] sets besides master and shuffle width. */
  private[graft] val settings: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    // 114 queries x ~10 codegen units thrash the default 100-entry
    // generated-class cache: measured 1708 janino compiles (vs 1225
    // distinct units) and ~260 s extra aggregate JIT work across one
    // grouped pass. Size the cache to hold the whole workload.
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // custom functions and the plan rules come in through the standard
    // extensions hook
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    // applied when the SparkContext starts, as setLogLevel("WARN") would be
    "spark.log.level" -> "WARN")

  /** A builder carrying the policy, with `partitions` shuffle
    * partitions on `master`. */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config(settings)

  /** `target/<sub>` under the working directory (the checkout, when
    * run through sbt or perfbench), as an absolute path: the folder a
    * main or a query fixture writes its scratch files to. */
  def targetDir(sub: String): String =
    java.nio.file.Paths.get("target", sub).toAbsolutePath.toString

  /** The `local[cores]` session, shuffle width = cores. */
  def local(): SparkSession = builder(s"local[$cores]", cores).getOrCreate()
}
