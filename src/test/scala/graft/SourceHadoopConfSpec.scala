package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DumpSource, DumpTable, FileTable, TarSource, WarcSource}

/** The local filesystem under its own scheme, so it resolves only
  * through a Hadoop conf that registers it ([[SchemeFs.settings]]).
  * The cache is disabled for the scheme, so a lookup through a conf
  * without the registration cannot pick up an instance created
  * through one with it. `failRenames` makes `rename` report failure
  * the HDFS way: by returning false. */
class SchemeFs extends RawLocalFileSystem {
  override def getUri: URI = SchemeFs.Uri
  override def rename(src: Path, dst: Path): Boolean =
    !SchemeFs.failRenames && super.rename(src, dst)
}

object SchemeFs {
  val Scheme = "graftscheme"
  val Uri: URI = URI.create(s"$Scheme:///")
  @volatile var failRenames = false

  val settings: Seq[(String, String)] = Seq(
    s"fs.$Scheme.impl" -> classOf[SchemeFs].getName,
    s"fs.$Scheme.impl.disable.cache" -> "true")

  /** A fresh local directory, addressed through the scheme. */
  def tmpDir(prefix: String): String =
    s"$Scheme://" + Files.createTempDirectory(prefix).toString
}

/** How the dump, WARC and tar sources hand the driver's Hadoop conf to
  * their partition readers: as a broadcast, so the reader factories
  * stay small, and still carrying the session-scoped settings. */
class SourceHadoopConfSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // the scans and the fixture writers capture the active session's conf
  override def beforeAll(): Unit =
    org.apache.spark.sql.SparkSession.setActiveSession(spark)

  private def serializedBytes(o: AnyRef): Int = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(o); out.close()
    bytes.size()
  }

  private val tables: Seq[(String, Seq[String] => Table with SupportsRead)] = Seq(
    "dump" -> (new DumpTable(_)),
    "warc" -> (new FileTable(WarcSource, _)),
    "tar" -> (new FileTable(TarSource, _)))

  test("batch and micro-batch reader factories serialize to under 8 KiB") {
    val dir = Files.createTempDirectory("factory_size").toString
    tables.foreach { case (kind, table) =>
      val scan = table(Seq(dir))
        .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      val factories = Seq(
        "batch" -> scan.toBatch.createReaderFactory(),
        "micro-batch" -> scan.toMicroBatchStream(s"$dir/_ck_$kind")
          .createReaderFactory())
      factories.foreach { case (mode, factory) =>
        val n = serializedBytes(factory)
        assert(n < 8 * 1024, s"$kind $mode reader factory is $n bytes")
      }
    }
  }

  // planning asks once per copy of the scan node, and a stream once
  // per micro-batch; each ask used to cost a fresh broadcast of the
  // whole conf
  test("a batch scan broadcasts its conf once, however often its factory is asked for") {
    val dir = Files.createTempDirectory("factory_once").toString
    tables.foreach { case (kind, table) =>
      val scan = table(Seq(dir))
        .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      val batch = scan.toBatch
      assert(batch.createReaderFactory() eq batch.createReaderFactory(),
        s"$kind batch scan built a second reader factory")
      val stream = scan.toMicroBatchStream(s"$dir/_ck_$kind")
      assert(stream.createReaderFactory() eq stream.createReaderFactory(),
        s"$kind stream built a second reader factory")
    }
  }

  test("session-scoped Hadoop settings reach the executor-side readers") {
    SchemeFs.settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = SchemeFs.tmpDir("session_scheme")
      DumpSource.writeDump(s"$dir/dump/2014-01-01.bson",
        Iterator("a", "bb", "ccc").map(_.getBytes(UTF_8)))
      WarcSource.writeWarc(s"$dir/crawl/crawl.warc", Iterator(
        "http://corpus.local/1" -> "one".getBytes(UTF_8),
        "http://corpus.local/2" -> "two".getBytes(UTF_8)))
      TarSource.writeTar(s"$dir/shards/shard.tar", Iterator(
        "1.txt" -> "x".getBytes(UTF_8), "1.cls" -> "y".getBytes(UTF_8)))

      val docs = spark.read.format("graft.sources.DumpDataSource")
        .load(s"$dir/dump/2014-01-01.bson")
        .select($"doc".cast("string")).as[String].collect().sorted.toSeq
      assert(docs == Seq("a", "bb", "ccc"))
      val records = spark.read.format("graft.sources.WarcDataSource")
        .load(s"$dir/crawl/crawl.warc")
        .select($"target_uri", $"content".cast("string"))
        .as[(String, String)].collect().sorted.toSeq
      assert(records == Seq(
        "http://corpus.local/1" -> "one", "http://corpus.local/2" -> "two"))
      val entries = spark.read.format("graft.sources.TarDataSource")
        .load(s"$dir/shards/shard.tar")
        .select($"name", $"payload".cast("string"))
        .as[(String, String)].collect().sorted.toSeq
      assert(entries == Seq("1.cls" -> "y", "1.txt" -> "x"))

      // the micro-batch factories ship the same conf
      def drain(format: String, folder: String, value: String): Seq[String] = {
        val name = s"scheme_fs_$format"
        val q = spark.readStream.format(s"graft.sources.${format}DataSource")
          .load(s"$dir/$folder")
          .selectExpr(s"cast($value as string) as v")
          .writeStream.format("memory").queryName(name)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        spark.table(name).as[String].collect().sorted.toSeq
      }
      assert(drain("Dump", "dump", "doc") == Seq("a", "bb", "ccc"))
      assert(drain("Warc", "crawl", "content") == Seq("one", "two"))
      assert(drain("Tar", "shards", "payload") == Seq("x", "y"))
    } finally SchemeFs.settings.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
