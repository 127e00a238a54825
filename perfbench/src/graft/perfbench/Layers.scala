package graft.perfbench

/** The metric catalogue. Every workload reports every end-to-end metric
  * in an untraced run and every per-layer metric in a traced run; a
  * layer a workload never calls reports 0. */
object Layers {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_s" -> "docs/s", "batch_p50_s" -> "s",
    "batch_tail_s" -> "s", "seq_s" -> "s", "makespan_s" -> "s",
    "cpu_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_fetch_wait_s" -> "s", "spark.spill_bytes" -> "bytes",
    "spark.core_busy_frac" -> "ratio",
    "sources.scan_s" -> "s", "sources.docs_scanned" -> "count",
    "sources.bytes" -> "bytes", "ingest.scan_amplification" -> "ratio",
    "decode.s" -> "s", "decode.null_docs" -> "count",
    "ingest.import_users_s" -> "s", "ingest.import_repos_s" -> "s",
    "ingest.import_relations_s" -> "s",
    "operators.latest_wins_s" -> "s", "operators.dense_ids_s" -> "s",
    "operators.resolve_s" -> "s",
    "warehouse.write_s" -> "s", "warehouse.bytes_written" -> "bytes",
    "merge.s" -> "s", "merge.rows_rewritten" -> "count",
    "merge.write_amplification" -> "ratio",
    "stream.batch_p50_s" -> "s", "stream.batch_max_s" -> "s",
    "stream.add_batch_s" -> "s", "stream.wal_commit_s" -> "s",
    "stream.commit_offsets_s" -> "s", "stream.latest_offset_s" -> "s",
    "stream.planning_s" -> "s", "stream.overhead_s" -> "s") ++
    Curation.queries.flatMap { case (q, _) =>
      Seq(s"query.$q.s" -> "s", s"query.$q.cpu_s" -> "s", s"query.$q.jobs" -> "count") } ++
    Curation.families.map(f => s"queries.${f}_s" -> "s") :+
    ("trace.overhead_s" -> "s")

  /** Exactly the catalogue's metrics for this run's mode, in catalogue
    * order (measured values where given, 0 for layers not exercised),
    * followed by the informational metrics outside the catalogue. */
  def complete(trace: Boolean, measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    val wanted = if (trace) perLayer else endToEnd
    val missing = wanted.map(_._1).filterNot(byName.contains)
    require(trace || missing.isEmpty, s"end-to-end metrics not measured: $missing")
    val catalogue = (endToEnd ++ perLayer).map(_._1).toSet
    wanted.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) } ++
      measured.filterNot(m => catalogue(m.name))
  }

  /** The end-to-end metrics from per-operation walls (`opWalls`) and
    * per-pass walls/CPU; `docs` is the input size of one pass.
    * `peak_rss_mb` is informational only: it varies by more than a tenth
    * from run to run. */
  def e2e(docs: Double, opWalls: Seq[Double],
          seqWalls: Seq[Double], passWalls: Seq[Double],
          passCpu: Seq[Double]): Seq[Metric] = Seq(
    Metric("docs_per_s", docs / Sys.median(passWalls), "docs/s"),
    Metric("batch_p50_s", Sys.median(opWalls), "s"),
    Metric("batch_tail_s", Sys.percentile(opWalls, Sys.TailPercentile), "s"),
    Metric("seq_s", Sys.median(seqWalls), "s"),
    Metric("makespan_s", Sys.median(passWalls), "s"),
    Metric("cpu_s", Sys.median(passCpu), "s"),
    Metric("peak_rss_mb", Sys.peakRssMb(), "MB"))
}
