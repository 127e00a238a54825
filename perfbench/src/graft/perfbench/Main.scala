package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

final case class Metric(name: String, value: Double, unit: String)

/** A workload run's result: its metrics, and how many checked
  * operations it attempted and how many failed or gave a wrong result. */
final case class Outcome(metrics: Seq[Metric], attempted: Long, failed: Long)

/** Options shared by every workload. `toy` shrinks every input so the
  * whole benchmark runs in seconds (the self-test); `wrongExpected`
  * deliberately corrupts one expected count so the self-test can see
  * `failed_frac > 0`. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val cores: Int, val dir: String, val toy: Boolean,
                val wrongExpected: Boolean, val expectedFile: String,
                val jvmStartMs: Long, val sessionReadyMs: Long) {
  private var attempted = 0L
  private var failed = 0L

  /** Record one checked operation; mismatches go to stderr. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what $detail")
    }
  }
  /** An operation that threw: counted as attempted and failed. */
  def failedOp(what: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    System.err.println(s"[perfbench] operation failed: $what: $e")
  }
  def outcome(metrics: Seq[Metric]): Outcome = Outcome(metrics, attempted, failed)
}

object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opts("cores").toInt
    val dir = opts("dir")
    if (opts.contains("gen-curation")) {
      // one-off: write the curation dataset for the expected-count oracle run
      val spark = Session.build(cores, dir)
      try CurationGen.write(spark, opts("gen-curation"), Curation.datasetSeed,
        opts("scale").toDouble)
      finally spark.stop()
      return
    }
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val loadBefore = Sys.loadavg()
    val spark = Session.build(cores, dir)
    val ctx = new Ctx(spark, seed, opts("seconds").toDouble,
      opts("trace") == "1", cores, dir, opts.get("toy").contains("1"),
      opts.get("wrong-expected").contains("1"), opts("expected"), jvmStartMs,
      System.currentTimeMillis())
    val out =
      try workload match {
        case "import_batch" => ImportBatch.run(ctx)
        case "curation_queries" => Curation.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    val loadAfter = Sys.loadavg()
    def emit(m: Metric): Unit = println(
      s"""{"metric":"${m.name}","value":${Sys.num(m.value)},"unit":"${m.unit}",""" +
      s""""workload":"$workload","seed":$seed}""")
    Layers.complete(ctx.trace, out.metrics).foreach(emit)
    emit(Metric("failed_frac", out.failed.toDouble / math.max(1L, out.attempted), "ratio"))
    emit(Metric("loadavg_before", loadBefore, "load"))
    emit(Metric("loadavg_after", loadAfter, "load"))
    println(s"""{"attempted":${out.attempted},"failed":${out.failed}}""")
  }
}

object Session {
  def build(cores: Int, dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Process, timing and statistics helpers. */
object Sys {
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** (result, wall seconds, process CPU seconds) of `f`. */
  def timed[T](f: => T): (T, Double, Double) = {
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
  }
  def wall(f: => Any): Double = timed(f)._2

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The tail latency percentile: too few operations fit in one run to
    * leave 10 beyond a high percentile, so the tail is p90 of them. */
  val TailPercentile = 90.0

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  def rmrf(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.listFiles()).foreach(_.foreach(x => rmrf(x.getPath)))
    f.delete()
  }

  /** Materialize every column of `df` without keeping the result. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Session setup metrics: JVM start to session ready, the median of
    * the repeated input generations, and the untimed warm-up. */
  def setup(ctx: Ctx, genS: Seq[Double], warmS: Double): Seq[Metric] = {
    val sessionS = (ctx.sessionReadyMs - ctx.jvmStartMs) / 1e3
    Seq(Metric("setup_s", sessionS + median(genS) + warmS, "s"),
      Metric("setup.session_s", sessionS, "s"),
      Metric("setup.gen_s", median(genS), "s"),
      Metric("setup.warmup_s", warmS, "s"))
  }

  /** Run passes until `seconds` have been spent measuring (at least one). */
  def measure[T](seconds: Double, minPasses: Int = 1)(pass: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      out += pass(out.size)
      System.err.println(f"[perfbench] pass ${out.size - 1} took ${(System.nanoTime() - p0) / 1e9}%.3f s")
    }
    out.toSeq
  }
}
