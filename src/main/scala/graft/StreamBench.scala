package graft

import org.apache.spark.sql.functions._

/** Streaming-throughput benchmark — the sustained-rate evidence for
  * the two continuously-running surfaces (the streaming parity specs
  * prove CORRECTNESS at toy scale; this measures RATE at volume):
  *
  *  1. continuous dump ingestion: the DSv2 MicroBatchStream over a
  *     daily-shard folder, through `Ingest.runUsersStream` — decode,
  *     dispatch, normalize, project, and idempotent warehouse merge
  *     per micro-batch, checkpointed (the full production path, not a
  *     count()).
  *  2. `rateAnomalyStream`: watermarked hourly windowed aggregation
  *     scored against frozen historical stats — the stateful shape;
  *     state rows / memory are read from the query's progress so the
  *     "state is bounded by rate × window" claim carries a measured
  *     number next to it.
  *
  * Usage: `runMain graft.StreamBench [nDocs] [nEvents] [nFiles]`
  * (defaults 10M / 10M / 20). Prints one JSON line per surface.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(10000000)
    val nEvents = args.drop(1).headOption.map(_.toInt).getOrElse(10000000)
    val nFiles = args.drop(2).headOption.map(_.toInt).getOrElse(20)
    val spark = Session.local()

    val dir = Session.targetDir("stream_bench")
    def clean(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.exists()) {
        def rm(x: java.io.File): Unit = {
          if (x.isDirectory) x.listFiles().foreach(rm)
          x.delete()
        }
        rm(f)
      }
      f.mkdirs()
    }

    // ---- 1: streaming users ingest over the dump MicroBatchStream ----
    val folder = s"$dir/users"
    clean(folder); clean(s"$dir/wh"); clean(s"$dir/ckpt")
    val perFile = nDocs / nFiles
    (0 until nFiles).foreach { f =>
      // month spreads beyond 28 shards — f%28 alone silently overwrites
      // earlier files and corrupts the docs/sec accounting
      val month = f / 28 + 1
      val day = f % 28 + 1
      require(month <= 12, s"nFiles > 336 exceeds the date namespace: $nFiles")
      IngestBench.writeFile(
        s"$folder/2014-${"%02d".format(month)}-${"%02d".format(day)}.bson",
        f, perFile, 4096)
    }
    val t0 = System.nanoTime()
    // 2 shards per micro-batch: the bounded-catch-up shape (10 batches
    // over the 20-file backlog), each batch running the full decode →
    // project → idempotent warehouse merge
    val q1 = Ingest.runUsersStream(spark, folder, s"$dir/wh", s"$dir/ckpt",
      maxFilesPerTrigger = Some(2))
    q1.awaitTermination() // AvailableNow drains the folder and stops
    val sec1 = (System.nanoTime() - t0) / 1e9
    val batches1 = q1.recentProgress.length
    val whRows = spark.read.parquet(s"$dir/wh/users").count()
    println(s"""{"metric":"stream_users_rows_per_sec","value":${(nDocs / sec1).round},"input_docs":$nDocs,"warehouse_users":$whRows,"sec":$sec1,"micro_batches":$batches1,"files":$nFiles}""")

    // ---- 2: rateAnomalyStream over an events file stream ----
    val evDir = s"$dir/events"
    clean(evDir); clean(s"$dir/ckpt2")
    // 8 event types over a 72-hour span; event time grows with id, and
    // the slices are written as SEPARATE sequential jobs so file
    // modification times — the file source's arrival order — follow
    // event time. The watermark then advances monotonically across
    // micro-batches and finalized hours leave the state store: the
    // live-feed shape, where state stays bounded by rate × window even
    // though the whole run covers 72 hours × 8 types.
    val per = nEvents / nFiles
    (0 until nFiles).foreach { f =>
      val tmp = s"$dir/evtmp"
      clean(tmp)
      spark.range(f.toLong * per, (f + 1).toLong * per)
        .select(
          concat(lit("t"), (col("id") % 8).cast("string")).as("event_type"),
          timestamp_seconds(lit(1700000000L) +
            col("id") * 72L * 3600L / nEvents +
            (col("id") % 3600)).as("ts"))
        .coalesce(4)
        .write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (pf, i) =>
          java.nio.file.Files.move(pf.toPath,
            new java.io.File(evDir, f"ev_$f%04d_$i.parquet").toPath)
        }
    }
    val evSchema = "event_type STRING, ts TIMESTAMP"
    val statsFrozen = graft.operators.Profile
      .rateStats(spark.read.parquet(evDir), "event_type", "ts")
      .persist()
    statsFrozen.count()
    val stream = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", 4)
      .parquet(evDir)
    val scored = graft.streaming.EventsStreaming
      .rateAnomalyStream(stream, statsFrozen, watermark = "2 hours")
    val t1 = System.nanoTime()
    val q2 = scored.writeStream.format("noop")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val sec2 = (System.nanoTime() - t1) / 1e9
    val progress = q2.recentProgress
    val stateRowsMax = progress.flatMap(_.stateOperators.map(_.numRowsTotal))
      .foldLeft(0L)(math.max)
    val stateMemMax = progress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
      .foldLeft(0L)(math.max)
    println(s"""{"metric":"stream_rate_anomaly_events_per_sec","value":${(nEvents / sec2).round},"input_events":$nEvents,"sec":$sec2,"micro_batches":${progress.count(_.numInputRows > 0)},"state_rows_max":$stateRowsMax,"state_memory_bytes_max":$stateMemMax}""")
    spark.stop()
  }
}
