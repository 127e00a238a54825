package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DumpSource

class DumpSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String = TestSpark.tempDir("dumpspec")

  test("round-trips length-prefixed docs (ght2dm.go:202-236 framing)") {
    val dir = tmpDir()
    val docs = Seq("""{"a":1}""", """{"a":2}""", """{"a":3}""")
    DumpSource.writeDump(s"$dir/2014-01-01.bson", docs.iterator.map(_.getBytes(UTF_8)))
    val got = spark.read.format("graft.sources.DumpDataSource")
      .load(s"$dir/2014-01-01.bson")
      .select($"doc_index", $"doc".cast("string"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == docs.zipWithIndex.map { case (d, i) => (i.toLong, d) })
  }

  test("one input partition per file; empty docs and large docs survive") {
    val dir = tmpDir()
    val big = "x" * 100000
    DumpSource.writeDump(s"$dir/2014-01-01.bson", Iterator("".getBytes(UTF_8)))
    DumpSource.writeDump(s"$dir/2014-01-02.bson", Iterator(big.getBytes(UTF_8)))
    val df = spark.read.format("graft.sources.DumpDataSource")
      .load(s"$dir/2014-01-01.bson", s"$dir/2014-01-02.bson")
    assert(df.rdd.getNumPartitions == 2)
    val lens = df.select(length($"doc".cast("string"))).as[Int].collect().sorted
    assert(lens.toSeq == Seq(0, 100000))
  }

  test("load(p1, p2) reads paths that contain a comma") {
    val dir = tmpDir()
    Files.createDirectories(Paths.get(s"$dir/with,comma"))
    DumpSource.writeDump(s"$dir/2014-01-01.bson", Iterator("a".getBytes(UTF_8)))
    DumpSource.writeDump(s"$dir/with,comma/2014-01-02.bson",
      Iterator("b".getBytes(UTF_8)))
    val docs = spark.read.format("graft.sources.DumpDataSource")
      .load(s"$dir/2014-01-01.bson", s"$dir/with,comma/2014-01-02.bson")
      .select($"doc".cast("string")).as[String].collect().sorted.toSeq
    assert(docs == Seq("a", "b"))
  }

  test("sidecar-indexed fat file splits into multiple partitions, " +
    "rows byte-identical to the unsplit read") {
    val dir = tmpDir()
    val path = s"$dir/2014-01-03.bson"
    val docs = (0 until 2000).map(i => s"""{"i":$i,"pad":"${"y" * 500}"}""")
    // written WITH an index checkpoint every 100 docs
    DumpSource.writeDump(path, docs.iterator.map(_.getBytes(UTF_8)),
      indexEvery = 100)
    def read(opts: Map[String, String]) = {
      val r = spark.read.format("graft.sources.DumpDataSource")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(path)
    }
    // ~1 MiB of frames, 64 KiB splits -> many partitions
    val split = read(Map("splitBytes" -> (64 * 1024).toString))
    assert(split.rdd.getNumPartitions > 1,
      s"expected sub-file splits, got ${split.rdd.getNumPartitions}")
    val unsplit = read(Map("splitBytes" -> "0"))
    assert(unsplit.rdd.getNumPartitions == 1)
    val a = split.select($"doc_index", $"doc".cast("string"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val b = unsplit.select($"doc_index", $"doc".cast("string"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(a == b)
    assert(a.map(_._1) == (0L until 2000L))
    assert(a.map(_._2) == docs)
    // an index retrofitted with buildDumpIndex plans the same splits
    val retro = s"$dir/2014-01-04.bson"
    DumpSource.writeDump(retro, docs.iterator.map(_.getBytes(UTF_8)))
    DumpSource.buildDumpIndex(retro, every = 100)
    val viaRetro = spark.read.format("graft.sources.DumpDataSource")
      .option("splitBytes", (64 * 1024).toString).load(retro)
    assert(viaRetro.rdd.getNumPartitions == split.rdd.getNumPartitions)
    assert(viaRetro.count() == 2000)
    // an unindexed file under the default split size stays 1 partition
    val plain = s"$dir/2014-01-05.bson"
    DumpSource.writeDump(plain, docs.iterator.take(10).map(_.getBytes(UTF_8)))
    assert(spark.read.format("graft.sources.DumpDataSource")
      .load(plain).rdd.getNumPartitions == 1)
  }

  test("malformed frame (truncated doc) raises a clear error") {
    val dir = tmpDir()
    // length says 100 bytes but only 3 follow
    val bytes = Array[Byte](104, 0, 0, 0) ++ "abc".getBytes(UTF_8)
    Files.write(Paths.get(s"$dir/2014-01-01.bson"), bytes)
    val ex = intercept[SparkException] {
      spark.read.format("graft.sources.DumpDataSource")
        .load(s"$dir/2014-01-01.bson").count()
    }
    assert(ex.getMessage.contains("malformed") ||
      Option(ex.getCause).exists(_.getMessage.contains("malformed")))
  }

  test("streaming: a growing dump folder is consumed exactly once " +
    "across restarts (checkpointed file offset)") {
    val root = tmpDir()
    val dir = s"$root/dumps"
    Files.createDirectories(Paths.get(dir))
    val ckpt = s"$root/_ckpt"
    val sink = s"$root/out"
    DumpSource.writeDump(s"$dir/2014-01-01.bson",
      Iterator("""{"a":1}""".getBytes(UTF_8), """{"a":2}""".getBytes(UTF_8)))

    // memory sinks cannot recover a checkpoint; a parquet sink can, and
    // restart-resume is exactly what this test is about
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft.sources.DumpDataSource")
        .load(dir)
        .select($"path", $"doc".cast("string").as("doc"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }

    runOnce()
    val first = spark.read.parquet(sink).as[(String, String)].collect()
    assert(first.length == 2)
    assert(first.forall(_._1.endsWith("2014-01-01.bson")))

    // a new daily shard lands; restart picks up ONLY the new file
    DumpSource.writeDump(s"$dir/2014-01-02.bson",
      Iterator("""{"a":3}""".getBytes(UTF_8)))
    runOnce()
    val second = spark.read.parquet(sink).as[(String, String)].collect()
    assert(second.length == 3, second.mkString(","))
    assert(second.count(_._1.endsWith("2014-01-02.bson")) == 1)
  }

  test("streaming admission control: maxFilesPerTrigger drains a " +
    "backlog in bounded micro-batches under AvailableNow, exactly once") {
    val root = tmpDir()
    val dir = s"$root/dumps"
    Files.createDirectories(Paths.get(dir))
    (1 to 5).foreach { d =>
      DumpSource.writeDump(s"$dir/2014-01-0$d.bson",
        Iterator(s"""{"a":$d}""".getBytes(UTF_8)))
    }
    val q = spark.readStream.format("graft.sources.DumpDataSource")
      .option("maxFilesPerTrigger", 2)
      .load(dir)
      .select($"path", $"doc".cast("string").as("doc"))
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/_ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()
    val out = spark.read.parquet(s"$root/out").as[(String, String)].collect()
    assert(out.length == 5) // every doc, exactly once
    assert(out.map(_._1).distinct.length == 5)
    // 5 files at 2 per trigger = 3 non-empty batches, not one big one
    assert(batches.length == 3,
      s"expected 3 bounded micro-batches, got ${batches.length}")
  }

  test("listDateOrdered filters to date-named files, newest first " +
    "(ght2dm.go:985-1058)") {
    val dir = tmpDir()
    Seq("2014-01-02.bson", "2014-03-01.bson", "2014-01-30.bson",
      "README.txt", "not-a-date.bson").foreach { n =>
      Files.write(Paths.get(s"$dir/$n"), "x".getBytes(UTF_8))
    }
    val got = DumpSource.listDateOrdered(dir).map(_.split("/").last)
    assert(got == Seq("2014-03-01.bson", "2014-01-30.bson", "2014-01-02.bson"))
  }
}
