package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Artifact robustness contract (round-11 lesson): one query failing —
  * or one oracle entry whose SQL STRING cannot even be constructed
  * (e.g. the PSL classpath resource missing from a raw `java -cp
  * classes` launch) — must never zero the round's artifacts. Every
  * query that runs is written; oracle_sql.json is rendered per-entry
  * from SparkEntry.oracleSqlSafe (each [[graft.entry.QuerySpec]]'s
  * oracle thunk under its own `try`) with failures recorded by name in a
  * sibling oracle_failures.json; the process exits non-zero iff
  * anything failed, AFTER writing everything that succeeded. */
object Verify {
  def main(args: Array[String]): Unit = {
    val rc = run(args(0), args(1), args.drop(2).toSet)
    if (rc != 0) sys.exit(rc)
  }

  /** Exit-code-returning body (specs call this directly so a failure
    * cannot kill the test JVM). Returns the number of failed queries
    * plus failed oracle entries. */
  def run(sfDir: String, outDir: String, only: Set[String]): Int = {
    // a live session (the spec path) is used as it is: building through
    // Session.local() would apply its runtime SQL confs to it (shuffle
    // width included) for every later user. Only a session this run
    // created is stopped.
    val live = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).filter(!_.sparkContext.isStopped)
    val spark = live.getOrElse(Session.local())
    new java.io.File(outDir).mkdirs()
    var failedQueries = List.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failedQueries ::= (name -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      // queries are independent: drop anything an operator persisted so
      // cached blocks don't accumulate heap pressure across the run
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + String.valueOf(s).flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Per-entry rendering: even the registry ACCESS is guarded so a
    // failure while building it still yields an artifact with a named
    // failure record.
    val entries: Seq[(String, Either[String, String])] =
      try SparkEntry.oracleSqlSafe
      catch { case e: Throwable =>
        Seq("__oracle_map__" ->
          Left(s"${e.getClass.getName}: ${e.getMessage}"))
      }
    val ok = entries.collect { case (k, Right(v)) => k -> v }
    val bad = entries.collect { case (k, Left(err)) => k -> err }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      ok.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // failure markers: queries that threw + oracle entries that could
    // not be constructed, by name, in one sibling artifact
    val failJson =
      s"""{"queries": ${failedQueries.reverse
           .map { case (k, e) => s"${q(k)}: ${q(e)}" }.mkString("{", ",", "}")},
         | "oracle_entries": ${bad
           .map { case (k, e) => s"${q(k)}: ${q(e)}" }.mkString("{", ",", "}")}}
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/oracle_failures.json"), failJson)
    bad.foreach { case (k, e) =>
      System.err.println(s"[verify] oracle entry $k failed: $e") }
    if (live.isEmpty) spark.stop()
    failedQueries.size + bad.size
  }
}
