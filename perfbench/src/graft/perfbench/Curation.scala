package graft.perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `curation_queries`: a fixed, stratified subset of `SparkEntry.queries`
  * over a generated copy of the star schema + corpus. Each query runs
  * alone and in sequence (noop sink, so every column is materialized),
  * then the whole set runs through `SparkEntry.runAll` longest first. */
object Curation {
  /** (query, family): a stratified subset sized so one sequential plus
    * one runAll pass fits a run. It leaves out the queries that write
    * fixtures to fixed paths (the dump/WARC/tar round-trips, the CC trio). */
  val queries: Seq[(String, String)] = Seq(
    "q_pagerank" -> "graph",
    "q_knn_density" -> "vector", "q_ann_ivfpq" -> "vector",
    "q_bpe_encode" -> "text", "q_quality_score" -> "text",
    "q_gopher_rep" -> "text", "q_minhash_pairs" -> "text",
    "q_latest_wins" -> "relational", "q_anti_join_new" -> "relational",
    "q_surrogate_ids" -> "relational", "q_resolve_collabo" -> "relational",
    "q_pricing_summary" -> "relational",
    "q_users_projection" -> "fixed", "q_clean_strings" -> "fixed")
  val families: Seq[String] = queries.map(_._2).distinct

  /** The dataset does not vary with `--seed` (its expected row counts
    * are stored with the benchmark); the seed orders the sequential pass. */
  val datasetSeed = 42L
  def scale(ctx: Ctx): Double = if (ctx.toy) 0.01 else 0.1

  /** Expected row count per query at this run's scale. */
  def expected(ctx: Ctx): Map[String, Long] = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ctx.expectedFile)), "UTF-8")
    val key = if (ctx.toy) "toy" else "full"
    val j = org.json4s.jackson.JsonMethods.parse(txt) \ key
    require((j \ "scale").extract[Double] == scale(ctx),
      s"${ctx.expectedFile} [$key] was produced at another scale")
    val rows = (j \ "rows").extract[Map[String, Long]]
    if (ctx.wrongExpected) rows.updated(queries.head._1, rows(queries.head._1) + 1)
    else rows
  }

  /** Materialize `df` through the noop sink and return its row count. */
  private def sink(df: DataFrame, tag: String): Long = {
    val obs = Observation(tag)
    Sys.noop(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sf = s"${ctx.dir}/sf"
    val gens = (0 until 3).map { _ =>
      Sys.rmrf(sf)
      val (rows, w, _) = Sys.timed(CurationGen.write(spark, sf, datasetSeed, scale(ctx)))
      (rows, w)
    }
    val (inputRows, genS) = (gens.last._1, gens.map(_._2))
    val exp = expected(ctx)
    val names = queries.map(_._1)
    var tagSeq = 0
    def runOne(name: String): (Long, Double, Double) = {
      tagSeq += 1
      val (rows, w, c) = Sys.timed(sink(SparkEntry.queries(name)(spark, sf), s"$name#$tagSeq"))
      spark.catalog.clearCache()
      (rows, w, c)
    }
    def checkRows(pass: String, name: String, rows: Long): Unit =
      ctx.check(s"$pass $name", rows == exp(name), s"rows=$rows expected=${exp(name)}")

    val rng = new scala.util.Random(ctx.seed)

    /** One sequential pass (seeded order) and one runAll pass (longest
      * first by the sequential walls); returns per-query walls and CPU,
      * the runAll wall, and the pass's CPU. */
    def pass(i: Int, group: Boolean): (Map[String, (Double, Double)], Double, Double) = {
      val c0 = Sys.cpuNs()
      val seq = rng.shuffle(names).map { name =>
        if (group) spark.sparkContext.setJobGroup(name, name)
        try {
          val (rows, w, c) = runOne(name)
          checkRows(s"seq pass $i", name, rows)
          name -> (w, c)
        } catch { case e: Exception => ctx.failedOp(s"seq pass $i $name", e); name -> (0.0, 0.0) }
        finally if (group) spark.sparkContext.clearJobGroup()
      }.toMap
      val order = names.sortBy(n => -seq(n)._1)
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
      val makespan = Sys.wall {
        try SparkEntry.runAll(spark, sf, parallelism = ctx.cores, names = order) {
          (name, df) => counts.put(name, sink(df, s"$name#runAll$i"))
        } catch { case e: Exception => ctx.failedOp(s"runAll pass $i", e) }
      }
      spark.catalog.clearCache()
      names.foreach(n => Option(counts.get(n)).foreach(r => checkRows(s"runAll pass $i", n, r)))
      (seq, makespan, (Sys.cpuNs() - c0) / 1e9)
    }

    // warm-up: one full pass (sequential and runAll), untimed
    val warmS = Sys.wall(pass(-1, group = false))
    val budget = if (ctx.trace) ctx.seconds / 2 else ctx.seconds
    val passes = Sys.measure(budget)(i => pass(i, group = false))
    val seqWalls = passes.map(_._1.values.map(_._1).sum)
    // a query's latency is the median of its walls over the passes
    val queryWalls = names.map(n => Sys.median(passes.map(_._1(n)._1)))
    val e2e = Sys.setup(ctx, genS, warmS) ++ Layers.e2e(inputRows.toDouble,
      queryWalls, seqWalls, passes.map(_._2), passes.map(_._3))

    val layers = if (!ctx.trace) Nil else {
      val stats = new SparkStats
      spark.sparkContext.addSparkListener(stats)
      val (seq, makespan, _) = pass(passes.size, group = true)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(stats)
      val tracedWall = seq.values.map(_._1).sum + makespan
      // one more untraced pass after the traced one, so the overhead is
      // not the JIT speed-up between earlier and later passes
      val after = pass(passes.size + 1, group = false)
      val untraced = Sys.median((passes :+ after).map(p => p._1.values.map(_._1).sum + p._2))
      queries.flatMap { case (q, _) => Seq(
        Metric(s"query.$q.s", seq(q)._1, "s"),
        Metric(s"query.$q.cpu_s", seq(q)._2, "s"),
        Metric(s"query.$q.jobs", stats.of(q).jobs.get.toDouble, "count")) } ++
      families.map(f => Metric(s"queries.${f}_s",
        queries.collect { case (q, `f`) => seq(q)._1 }.sum, "s")) ++
      stats.metrics(tracedWall, ctx.cores) ++
      Seq(Metric("trace.overhead_s", tracedWall - untraced, "s"))
    }
    ctx.outcome(e2e ++ layers)
  }
}
