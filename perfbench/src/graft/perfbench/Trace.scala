package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, MicroBatchScanExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of the Spark runtime's task metrics, overall and per job
  * group (the group a query runs under is its name). */
final class SparkStats extends SparkListener {
  final class Totals {
    val jobs, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead,
      fetchWaitMs, spill = new AtomicLong()
  }
  val all = new Totals
  private val groups = new ConcurrentHashMap[String, Totals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
  private def totals(g: String): Totals = groups.computeIfAbsent(g, _ => new Totals)
  def of(g: String): Totals = totals(g)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    all.jobs.incrementAndGet()
    group(e.properties).foreach { g =>
      totals(g).jobs.incrementAndGet()
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val targets = all +: Option(stageGroup.get(e.stageId)).map(totals).toSeq
      targets.foreach { t =>
        t.tasks.incrementAndGet()
        t.runMs.addAndGet(m.executorRunTime)
        t.cpuNs.addAndGet(m.executorCpuTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        t.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** The `spark.*` per-layer metrics over a region of `wallS` seconds. */
  def metrics(wallS: Double, cores: Int): Seq[Metric] = Seq(
    Metric("spark.jobs", all.jobs.get.toDouble, "count"),
    Metric("spark.tasks", all.tasks.get.toDouble, "count"),
    Metric("spark.task_run_s", all.runMs.get / 1e3, "s"),
    Metric("spark.task_cpu_s", all.cpuNs.get / 1e9, "s"),
    Metric("spark.gc_s", all.gcMs.get / 1e3, "s"),
    Metric("spark.shuffle_write_bytes", all.shuffleWrite.get.toDouble, "bytes"),
    Metric("spark.shuffle_read_bytes", all.shuffleRead.get.toDouble, "bytes"),
    Metric("spark.shuffle_fetch_wait_s", all.fetchWaitMs.get / 1e3, "s"),
    Metric("spark.spill_bytes", all.spill.get.toDouble, "bytes"),
    Metric("spark.core_busy_frac", all.runMs.get / 1e3 / (wallS * cores), "ratio"))
}

/** Sums the rows each action read out of `graft.sources.DumpDataSource`
  * batch and micro-batch scans (their `numOutputRows` SQL metric),
  * walking adaptive stages. */
final class DumpScanRows extends QueryExecutionListener {
  val rows = new AtomicLong()

  private def scanned(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanned(a.executedPlan)
    case s: QueryStageExec => scanned(s.plan)
    case _: ReusedExchangeExec => 0L
    case b: BatchScanExec if b.table.isInstanceOf[graft.sources.DumpTable] =>
      b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case m: MicroBatchScanExec if m.stream.isInstanceOf[graft.sources.DumpMicroBatchStream] =>
      m.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(scanned).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    rows.addAndGet(scanned(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
