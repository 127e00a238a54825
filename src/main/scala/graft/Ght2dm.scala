package graft

import org.apache.spark.sql.SparkSession

/** The reference's command-line entry point, Spark-first:
  * `ght2dm [-v] [-d] [-nocheck] <config>` (ght2dm.go:1123-1158;
  * all three reference flags). Reads the same
  * JSON config shape (`ghtorrent_folders`, with a `warehouse_dir`
  * output in place of the reference's PostgreSQL target), echoes the
  * per-entity progress the reference prints while visiting
  * (ght2dm.go:1027-1031), runs [[Ingest.run]], and exits non-zero on
  * a fatal error — so a user driving the reference from a shell or a
  * cron job can point the same invocation at this jar.
  *
  * Error accounting mirrors fail/fatal (ght2dm.go:1061-1106): an
  * unreadable config or an import error is fatal (exit 1, message on
  * stderr, `-d` adds the failing context); per-row decode failures
  * inside an import are the engine's permissive-decode drops and are
  * REPORTED, not fatal, matching the reference's per-doc `fail` that
  * logs and continues.
  */
object Ght2dm {
  private def usage(err: String => Unit): Unit = {
    err("usage: ght2dm [-v] [-d] [-nocheck] <config>")
    err("  -v        verbose: per-entity progress and row counts")
    err("  -d        debug: failing context on errors")
    err("  -nocheck  do not check if an entry is already present " +
      "(only use when there is no duplicate)")
  }

  /** The whole CLI minus process concerns: parses flags, loads the
    * config, runs the pipeline against `sessionFor(cfg)`, and returns
    * the exit STATUS (0 ok, 1 fatal) instead of exiting — testable,
    * and embeddable in a driver that must not `System.exit`. */
  def runCli(args: Array[String], out: String => Unit,
             err: String => Unit,
             sessionFor: Ingest.Config => SparkSession): Int = {
    val (flags, pos) = args.partition(_.startsWith("-"))
    val verbose = flags.contains("-v")
    val debug = flags.contains("-d")
    // -nocheck (ght2dm.go:1126): bulk-load fast path that skips the
    // existence-check stages in Ingest.run
    val noCheck = flags.contains("-nocheck")
    val unknown = flags.filterNot(Set("-v", "-d", "-nocheck"))
    if (unknown.nonEmpty || pos.length != 1) { usage(err); return 1 }

    val cfg =
      try Ingest.Config.load(pos(0))
      catch {
        case e: Exception =>
          err(s"ght2dm: cannot read config '${pos(0)}': ${e.getMessage}")
          return 1
      }
    val spark = sessionFor(cfg)
    try {
      if (verbose)
        cfg.ghtorrentFolders.foreach { f =>
          val entity = new java.io.File(f).getName
          graft.sources.DumpSource.listDateOrdered(f).foreach(p =>
            out(s"[$entity] processing '${new java.io.File(p).getName}'"))
        }
      val tables = Ingest.run(spark, cfg, noCheck)
      if (verbose)
        tables.toSeq.sortBy(_._1).foreach { case (name, _) =>
          // readAuto: a versioned root holds generations, not parquet
          val n = graft.sources.Warehouse.readAuto(spark,
            s"${cfg.warehouseDir}/$name").count()
          out(s"[$name] $n rows -> ${cfg.warehouseDir}/$name")
        }
      0
    } catch {
      case e: Exception =>
        val ctx = if (debug) s" [${e.getClass.getSimpleName}]" else ""
        err(s"ght2dm: import failed$ctx: ${e.getMessage}")
        1
    }
  }

  def main(args: Array[String]): Unit = {
    var started: Option[SparkSession] = None
    val status = runCli(args, println, System.err.println, _ => {
      val s = Session.builder(
          sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"), Session.cores)
        .appName("ght2dm").getOrCreate()
      started = Some(s); s
    })
    started.foreach(_.stop())
    if (status != 0) sys.exit(status)
  }
}
