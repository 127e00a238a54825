package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** 1-minute load average and uptime seconds, read at capture time so
    * a bench JSON carries its own contamination evidence: ambient host
    * load (a concurrent sbt/test JVM) inflates per-query times 2-7×,
    * and without load figures IN the artifact a contaminated capture
    * can only be inferred from cross-round diffs (the round-7
    * post-mortem). Returns (-1, -1) where /proc is unavailable. */
  private def loadEvidence(): (Double, Double) =
    try {
      val la = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
      val up = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/uptime"))).split("\\s+")(0).toDouble
      (la, up)
    } catch { case _: Exception => (-1.0, -1.0) }

  /** Cumulative process CPU time (ns) — per-query CPU seconds ride in
    * the bench JSON next to wall time, so a row contaminated by
    * ambient host load is detectable PER QUERY (wall ≫ cpu/32 means
    * the query waited on the scheduler, not on its own work), rather
    * than only per-run from the loadavg fields. */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Labeled scale counter-examples: queries kept oracle-green to
    * demonstrate a known failure mode whose scale-safe twin is the
    * headline path. They are still timed (under "counterexamples" in
    * the JSON) but EXCLUDED from seq_total/value — a deliberate
    * negative exhibit should not ride the headline total it exists to
    * warn about. q_embed_neardup: fixed LSH depth (bits=7), Σ|bucket|²
    * candidate blow-up as n grows; the benched scale path is
    * q_embed_neardup_auto (depth ∝ log2(n/targetBucket)). */
  val counterExamples: Set[String] = Set("q_embed_neardup")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (loadBefore, uptimeBefore) = loadEvidence()
    val spark = Session.local()
    // untimed warm-up: session/codegen infra + file-index init, so the
    // alphabetically-first query doesn't absorb one-time session cost
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // optional subset capture (scale-point sweeps, e.g. the sf3 table
    // in BASELINE.md): SPARK_GRAFT_ONLY=q_a,q_b limits both passes to
    // the named queries; unset = the full per-round contract
    val only: Set[String] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def selected(n: String): Boolean = only.isEmpty || only(n)
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cpuSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cold = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.ListBuffer[String]()
    // the noop sink materializes EVERY output column (count() would
    // let the optimizer prune unreferenced projections, under-timing
    // expression-heavy queries). Returns (wall, processCpu) seconds.
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      ((System.nanoTime() - t0) / 1e9, (processCpuNs() - c0) / 1e9)
    }
    // PASS 1 — sequential per-query timings: two runs, min reported —
    // steady-state plan execution, mirroring the DuckDB baseline's warm
    // second run and amortizing one-time janino codegen compile out of
    // the number. These are the honest per-query figures; each includes
    // Spark's fixed ~0.3 s job-submission overhead.
    var maxLoad = loadBefore
    // the CC trio (q_cluster_best / q_dedup_clusters / q_neardup_prune)
    // shares one materialized cluster-labels frame across the pass, as
    // runAll already does for the grouped pass: the labeling is paid
    // ONCE, timed explicitly below ("cc_labels_sec", counted into
    // seq_total), and each trio query's own timing is its retention
    // policy over the shared frame. Attributing the labeling to its own
    // line instead of a trio member keeps min-of-samples honest — the
    // cost can neither vanish (cached re-samples) nor be triple-counted.
    var ccLabelsSec = 0.0
    var ccLabelsRuns: Seq[Double] = Nil
    SparkEntry.withClusterLabelSharing(spark, sfDir) {
    if (only.isEmpty || only.exists(SparkEntry.ccTrio)) {
      // min-of-2 priming (round-16 verdict item 4): the one-shot prime
      // measured a 7.6-25 s band on identical code (cold-codegen
      // jitter), polluting seq_total both directions across rounds.
      // Label twice, report the min — the same min-of-samples
      // treatment every other row gets. DISCLOSED cost accounting: the
      // labeling compute is paid twice per bench run but counted once
      // (exactly like every query's 2-5 adaptive samples); both raw
      // runs ride in the JSON under "cc_labels_runs".
      ccLabelsRuns = (1 to 2).map { _ =>
        SparkEntry.resetClusterLabels(spark, sfDir)
        val ccT0 = System.nanoTime()
        SparkEntry.primeClusterLabels(spark, sfDir)
        (System.nanoTime() - ccT0) / 1e9
      }
      ccLabelsSec = ccLabelsRuns.min
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => selected(q._1)).foreach { case (name, fn) =>
      try {
        // ambient host load (driver runs tests/judge JVMs concurrently)
        // inflates single runs 2-7×, and two rounds running it produced
        // phantom regressions in the round artifact. Adaptive sampling:
        // keep timing (max 5 runs) until the two BEST samples agree
        // within 25% — a capture only settles on a number two
        // independent runs could reproduce. At idle this is the same
        // 2-run minimum as before.
        val samples = scala.collection.mutable.ArrayBuffer(once(fn))
        cold(name) = samples.head._1
        samples += once(fn)
        while (samples.length < 5 && {
          val b = samples.map(_._1).sorted.take(2); b(1) > b(0) * 1.25
        }) samples += once(fn)
        val best = samples.minBy(_._1)
        timings(name) = best._1
        // the CPU figure travels with the SAME sample as the reported
        // wall minimum, so (wall, cpu) stay a coherent pair
        cpuSec(name) = best._2
        maxLoad = math.max(maxLoad, loadEvidence()._1)
      } catch {
        case e: Throwable =>
          // a failed query is reported as failed (-1), never as a timing
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          timings(name) = -1.0
          failed += name
      }
      // queries are independent: drop anything an operator persisted so
      // cached blocks don't build heap pressure that taxes later queries
      spark.catalog.clearCache()
    }
    }
    // PASS 2 — grouped shared-session execution via SparkEntry.runAll
    // (the library entry point; the bench only picks LPT order and
    // times the makespan): the whole (warm) query set submitted
    // concurrently to the one session, longest-first by the pass-1
    // timings so the makespan is work-bound, not tail-bound. This is
    // how a user actually runs a query workload — one Spark app,
    // overlapping jobs — and it amortizes the per-query fixed job
    // overhead that pass 1 pays 50×. A concurrent failure surfaces
    // (pass 1 already proved each query runs alone).
    val okNames = SparkEntry.queries.keys.toSeq
      .filter(n => selected(n) && !failed.contains(n) && !counterExamples(n))
      .sortBy(n => -timings.getOrElse(n, 0.0))
    val parallelism = math.min(12, math.max(1, okNames.size))
    // min of two makespans: a 12-way one-shot makespan is exposed to
    // ambient-host noise the way single pass-1 runs were (measured
    // 40-180 s for identical work under a noisy neighbor — the same
    // failure mode the adaptive pass-1 sampling fixed in round 8), so
    // the grouped figure gets the same min-of-samples treatment.
    val groupedRuns = (1 to 2).map { _ =>
      val gStart = System.nanoTime()
      SparkEntry.runAll(spark, sfDir, parallelism, okNames)((_, df) =>
        df.write.mode("overwrite").format("noop").save())
      val t = (System.nanoTime() - gStart) / 1e9
      spark.catalog.clearCache()
      t
    }
    val groupedTotal = groupedRuns.min
    val qs = timings.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Double.toString, not f"%.3f": the f-interpolator is
    // default-locale-sensitive and would emit comma decimal
    // separators (invalid JSON) under e.g. de_DE
    val cs = cpuSec.map { case (k, v) =>
      "\"" + k + "\":" + (math.rint(v * 1000) / 1000).toString }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ces = counterExamples.toSeq.sorted
      .map(n => "\"" + n + "\":" + timings.getOrElse(n, -1.0))
      .mkString("{", ",", "}")
    // headline total excludes the labeled counter-example rows: they
    // demonstrate failure modes their auto twins fix, and 16% of an
    // sf1 total spent on a deliberate negative exhibit misreads as a
    // regression (round-10 verdict)
    val seqTotal = timings.collect {
      case (n, v) if v >= 0 && !counterExamples(n) => v
    }.sum + ccLabelsSec
    // seq_total_all keeps the counter-example rows IN, so round-over-
    // round totals stay comparable with pre-bracketing BASELINE rows
    // (advice round 11): readers diff seq_total_all against old totals
    // and seq_total against new ones.
    val seqTotalAll = timings.collect {
      case (_, v) if v >= 0 => v
    }.sum + ccLabelsSec
    val coldTotal = cold.values.sum
    // process CPU seconds behind seq_total (same query set), so the
    // compact line carries wall and CPU side by side
    val cpuTotal = math.rint(cpuSec.collect {
      case (n, v) if !counterExamples(n) => v
    }.sum * 1000) / 1000
    // "value" is the SEQUENTIAL per-query total (sum of pass-1 warm
    // minimums) — the apples-to-apples headline against BASELINE.md and
    // prior rounds. The 12-way grouped-pass makespan is informative but
    // not comparable across rounds (scheduler contention noise), so it
    // rides under its own key, "grouped_total".
    val (loadAfter, uptimeAfter) = loadEvidence()
    // load_warning: the capture STARTED under ambient load — per-query
    // numbers are minimums over adaptive re-samples and should still be
    // close to idle figures, but treat cross-round diffs with care.
    // Keyed on loadavg_before only: loadavg_max necessarily includes
    // the bench's own 32-thread execution (the 1-minute average does
    // not decay between queries), so it is contamination EVIDENCE for
    // a reader, not a usable ambient-load signal.
    val loadWarning = loadBefore > 2.0
    val ccRuns = ccLabelsRuns.mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total","value":$seqTotal,"unit":"sec","parallelism":$parallelism,"queries":$qs,"cpu_sec":$cs,"failed":$fs,"counterexamples":$ces,"seq_total":$seqTotal,"seq_total_all":$seqTotalAll,"cc_labels_sec":$ccLabelsSec,"cc_labels_runs":$ccRuns,"grouped_total":$groupedTotal,"grouped_runs":${groupedRuns.mkString("[", ",", "]")},"cold_total":$coldTotal,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"loadavg_max":$maxLoad,"load_warning":$loadWarning,"uptime_before":$uptimeBefore,"uptime_after":$uptimeAfter,"sf":"$sfDir"}"""
    // The FULL per-query line (the historical contract: every query's
    // wall + cpu seconds). At 168 queries it is ~4.5 KB — larger than
    // the 2000-char stdout tail the driver keeps, which left
    // BENCH_r13..r16.json unparseable (`parsed: null`, four rounds of
    // per-query ground truth lost — round-16 verdict item 1). So the
    // full line ALSO lands in a sidecar file, and a COMPACT line
    // (aggregates only, well under 1 KB) prints LAST so the tail
    // always contains one complete, parseable JSON line.
    println(fullLine)
    try {
      val side = java.nio.file.Paths.get("target/bench_full.json")
      java.nio.file.Files.createDirectories(side.getParent)
      java.nio.file.Files.write(side,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Exception =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":$seqTotal,"unit":"sec","parallelism":$parallelism,"n_queries":${timings.size},"queries_file":"target/bench_full.json","cpu_total":$cpuTotal,"failed":$fs,"counterexamples":$ces,"seq_total":$seqTotal,"seq_total_all":$seqTotalAll,"cc_labels_sec":$ccLabelsSec,"cc_labels_runs":$ccRuns,"grouped_total":$groupedTotal,"grouped_runs":${groupedRuns.mkString("[", ",", "]")},"cold_total":$coldTotal,"loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"loadavg_max":$maxLoad,"load_warning":$loadWarning,"uptime_before":$uptimeBefore,"uptime_after":$uptimeAfter,"sf":"$sfDir"}""")
    spark.stop()
  }
}
