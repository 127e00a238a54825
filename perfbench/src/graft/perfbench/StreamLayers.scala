package graft.perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Ingest
import graft.sources.DumpSource

/** The continuous importer's layers, measured in `import_batch`'s traced
  * run over the dump set's `users` shards: a drain of
  * `Ingest.runUsersStream(maxFilesPerTrigger = 1)` into an empty
  * warehouse (its progress split by phase), then a replay of the
  * foreachBatch body per shard with the merge call timed. Every
  * micro-batch merges into and rewrites the whole warehouse, so merge
  * cost grows over the drain while batch size stays fixed. */
object StreamLayers {
  private val tables = Seq("users", "gh_users", "gh_organizations")

  private def secs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)

  /** One checked operation per warehouse table: exact row count and
    * github_id uniqueness. */
  private def verify(ctx: Ctx, what: String, wh: String, exp: Map[String, Long]): Unit =
    tables.foreach { t =>
      try {
        val r = ctx.spark.read.parquet(s"$wh/$t")
          .agg(count(lit(1)), count_distinct(col("github_id"))).head()
        ctx.check(s"$what $t", r.getLong(0) == exp(t) && r.getLong(1) == exp(t),
          s"rows=${r.getLong(0)} distinct_ids=${r.getLong(1)} expected=${exp(t)}")
      } catch { case e: Exception => ctx.failedOp(s"$what $t", e) }
    }

  def traced(ctx: Ctx, folder: String, docs: Long, exp: Map[String, Long]): Seq[Metric] = {
    val spark = ctx.spark
    val shards = DumpSource.listDateOrdered(folder).reverse
    val wh = s"${ctx.dir}/wh/stream"
    val q = Ingest.runUsersStream(spark, folder, wh, s"${ctx.dir}/ckpt/stream",
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.durationMs.containsKey("addBatch")).toSeq
    ctx.check("stream micro-batches", progress.size == shards.size,
      s"${progress.size} micro-batches for ${shards.size} shards")
    verify(ctx, "stream", wh, exp)
    Sys.rmrf(wh)
    def med(f: StreamingQueryProgress => Double) = Sys.median(progress.map(f))

    val replay = s"${ctx.dir}/wh/replay"
    var mergeS = 0.0
    var rewritten = 0L
    shards.foreach { shard =>
      val batch = spark.read.format("graft.sources.DumpDataSource").load(shard)
        .select(Ingest.decodeDoc(col("doc"), Ingest.userSchema).as("e"))
        .select(col("e.*")).persist()
      batch.count()
      val (users, ghUsers, ghOrgs) = Ingest.importUsers(batch)
      // exactly the foreachBatch body of Ingest.runUsersStream
      mergeS += Sys.wall(Ingest.mergeParquetAll(spark, Seq(
        (users, s"$replay/users", Seq("github_id")),
        (ghUsers, s"$replay/gh_users", Seq("github_id")),
        (ghOrgs, s"$replay/gh_organizations", Seq("github_id")))))
      rewritten += tables.map(t => spark.read.parquet(s"$replay/$t").count()).sum
      batch.unpersist()
    }
    verify(ctx, "merge replay", replay, exp)
    Sys.rmrf(replay)

    Seq(
      Metric("merge.s", mergeS, "s"),
      Metric("merge.rows_rewritten", rewritten.toDouble, "count"),
      Metric("merge.write_amplification", rewritten.toDouble / docs, "ratio"),
      Metric("stream.batch_p50_s", med(secs(_, "triggerExecution")), "s"),
      Metric("stream.batch_max_s", progress.map(secs(_, "triggerExecution")).max, "s"),
      Metric("stream.add_batch_s", med(secs(_, "addBatch")), "s"),
      Metric("stream.wal_commit_s", med(secs(_, "walCommit")), "s"),
      Metric("stream.commit_offsets_s", med(secs(_, "commitOffsets")), "s"),
      Metric("stream.latest_offset_s", med(secs(_, "latestOffset")), "s"),
      Metric("stream.planning_s", med(secs(_, "queryPlanning")), "s"),
      Metric("stream.overhead_s",
        med(p => secs(p, "triggerExecution") - secs(p, "addBatch")), "s"))
  }
}
