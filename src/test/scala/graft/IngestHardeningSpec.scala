package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DumpMicroBatchStream, DumpOffset, DumpSource, FileFormat, FileMicroBatchStream, TarSource, WarcSource}

/** Failure-path coverage of the continuous-ingestion machinery: the
  * crash-safe warehouse swap, relation batches racing their dimension
  * tables, surrogate-key continuity when a re-shipped repo drifts its
  * composite key, and the file sources' append-only offset guard.
  */
class IngestHardeningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(Paths.get("/root/repo/target"), prefix).toString

  private def writeDocs(path: String, docs: Seq[String]): Unit =
    DumpSource.writeDump(path, docs.iterator.map(_.getBytes(UTF_8)))

  private def fs(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ids(path: String): Set[Long] =
    spark.read.parquet(path).select($"id").as[Long].collect().toSet

  test("merge recovers a crash between rename-aside and rename-in " +
    "(target missing, complete __tmp present)") {
    val dir = tmpDir("merge_crash_tmp"); val t = s"$dir/t"
    Ingest.mergeParquetAll(spark, Seq((Seq(1L, 2L).toDF("id"), t, Seq("id"))))
    // simulate the crash window: the swap renamed the target aside and
    // died before renaming the merged tmp in — tmp holds the COMPLETE
    // merged table (incl. _SUCCESS), target is gone
    assert(fs(t).rename(new Path(t), new Path(s"$t.__tmp")))
    Ingest.mergeParquetAll(spark, Seq((Seq(3L).toDF("id"), t, Seq("id"))))
    assert(ids(t) == Set(1L, 2L, 3L)) // nothing lost, batch merged on top
    assert(!fs(t).exists(new Path(s"$t.__tmp")))
  }

  test("merge recovers a crash right after rename-aside " +
    "(target missing, only __old present)") {
    val dir = tmpDir("merge_crash_old"); val t = s"$dir/t"
    Ingest.mergeParquetAll(spark, Seq((Seq(1L, 2L).toDF("id"), t, Seq("id"))))
    assert(fs(t).rename(new Path(t), new Path(s"$t.__old")))
    Ingest.mergeParquetAll(spark, Seq((Seq(3L).toDF("id"), t, Seq("id"))))
    assert(ids(t) == Set(1L, 2L, 3L))
    assert(!fs(t).exists(new Path(s"$t.__old")))
  }

  test("a partial __tmp next to an intact target is discarded, not " +
    "recovered (phase-1 crash on a later run)") {
    val dir = tmpDir("merge_stale_tmp"); val t = s"$dir/t"
    Ingest.mergeParquetAll(spark, Seq((Seq(1L).toDF("id"), t, Seq("id"))))
    // partial write: directory without _SUCCESS
    Files.createDirectories(Paths.get(s"$t.__tmp"))
    Files.writeString(Paths.get(s"$t.__tmp/garbage"), "not parquet")
    Ingest.mergeParquetAll(spark, Seq((Seq(2L).toDF("id"), t, Seq("id"))))
    assert(ids(t) == Set(1L, 2L))
    assert(!fs(t).exists(new Path(s"$t.__tmp")))
  }

  test("a recovery rename that reports failure aborts the merge and " +
    "keeps the complete __tmp") {
    // the swap's file operations resolve through the context-wide conf
    val hc = spark.sparkContext.hadoopConfiguration
    SchemeFs.settings.foreach { case (k, v) => hc.set(k, v) }
    try {
      val t = SchemeFs.tmpDir("merge_rename_fails") + "/t"
      // the crash window: target gone, complete merged table in __tmp
      Seq(1L, 2L).toDF("id").write.parquet(s"$t.__tmp")
      SchemeFs.failRenames = true
      val e = try intercept[java.io.IOException] {
        Ingest.mergeParquetAll(spark, Seq((Seq(3L).toDF("id"), t, Seq("id"))))
      } finally SchemeFs.failRenames = false
      assert(e.getMessage.contains("rename"))
      assert(!fs(t).exists(new Path(t)))
      assert(ids(s"$t.__tmp") == Set(1L, 2L))
      // once renames work again, the next merge recovers and loses nothing
      Ingest.mergeParquetAll(spark, Seq((Seq(3L).toDF("id"), t, Seq("id"))))
      assert(ids(t) == Set(1L, 2L, 3L))
    } finally SchemeFs.settings.foreach { case (k, _) => hc.unset(k) }
  }

  test("relation batches arriving before their dimension tables skip " +
    "instead of killing the stream, and resolve on re-ship") {
    val dir = tmpDir("rel_before_dims")
    Seq("users", "org_members").foreach(e =>
      Files.createDirectories(Paths.get(s"$dir/$e")))
    val wh = s"$dir/warehouse"
    // the membership shard lands FIRST — no dimension table exists yet
    writeDocs(s"$dir/org_members/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","org":"devmine","type":"User"}"""))
    def run(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.processAllAvailable(); q.stop()
    }
    run(Ingest.runStream(spark, "org_members", s"$dir/org_members", wh, s"$dir/_ck_m"))
    assert(!fs(wh).exists(new Path(s"$wh/gh_users_organizations")))

    writeDocs(s"$dir/users/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","type":"User","name":"Alice","email":"a@x.org","created_at":"2013-01-01T00:00:00Z","updated_at":"","followers":1,"following":1,"hireable":true}""",
      """{"id":3,"login":"devmine","type":"Organization","name":"DevMine","created_at":"2013-03-01T00:00:00Z","updated_at":""}"""))
    writeDocs(s"$dir/org_members/2014-01-02.bson", Seq(
      """{"id":1,"login":"alice","org":"devmine","type":"User"}"""))
    run(Ingest.runStream(spark, "users", s"$dir/users", wh, s"$dir/_ck_u"))
    run(Ingest.runStream(spark, "org_members", s"$dir/org_members", wh, s"$dir/_ck_m"))
    assert(spark.read.parquet(s"$wh/gh_users_organizations").count() == 1)
  }

  test("a re-shipped repo whose language drifts case (same clone_path, " +
    "new github id) inserts consistently — no dangling repository_id") {
    val dir = tmpDir("repos_lang_drift")
    Files.createDirectories(Paths.get(s"$dir/repos"))
    val wh = s"$dir/warehouse"
    def repo(id: Int, lang: String, day: Int): String =
      s"""{"id":$id,"name":"ght2dm","full_name":"devmine/ght2dm","language":"$lang","clone_url":"https://github.example/devmine/ght2dm.git","owner":{"login":"devmine"},"fork":false,"forks_count":1,"open_issues_count":5,"stargazers_count":10,"subscribers_count":2,"watchers_count":10,"size_in_kb":512,"created_at":"2014-01-01T00:00:00Z","updated_at":"2014-01-0${day}T10:00:00Z","pushed_at":"2014-01-0${day}T09:00:00Z"}"""
    writeDocs(s"$dir/repos/2014-01-01.bson", Seq(repo(100, "Go", 1)))
    def runOnce(): Unit = {
      val q = Ingest.runStream(spark, "repos", s"$dir/repos", wh, s"$dir/_ck")
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    // clone_path lowercases the language, primary_language keeps case:
    // "GO" collides on clone_path but passes both freshness anti-joins
    writeDocs(s"$dir/repos/2014-01-02.bson", Seq(repo(300, "GO", 2)))
    runOnce()
    val repos = spark.read.parquet(s"$wh/repositories")
    val gh = spark.read.parquet(s"$wh/gh_repositories")
    val repoIds = repos.select($"id").as[Long].collect().toSet
    val ghRefs = gh.select($"repository_id").as[Long].collect().toSet
    assert(gh.count() == 2) // both github ids present
    assert(ghRefs.subsetOf(repoIds),
      s"dangling repository_id: $ghRefs not in $repoIds")
  }

  test("dump offset json round-trips, including the legacy count-only " +
    "format") {
    val o = DumpOffset(3, Some("2014-01-03.bson"))
    assert(DumpOffset.fromJson(o.json()) == o)
    assert(DumpOffset.fromJson("7") == DumpOffset(7, None))
  }

  test("a shard arriving late with an older date than committed files " +
    "fails loudly instead of silently skipping data") {
    val dir = tmpDir("late_shard")
    writeDocs(s"$dir/2014-01-02.bson", Seq("""{"x":1}"""))
    val stream = new DumpMicroBatchStream(Seq(dir),
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val committed = stream.latestOffset()
    assert(committed.asInstanceOf[DumpOffset] ==
      DumpOffset(1, Some("2014-01-02.bson")))
    // an OLDER shard lands after the offset was committed
    writeDocs(s"$dir/2014-01-01.bson", Seq("""{"x":2}"""))
    val latest = stream.latestOffset()
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(committed, latest)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("every file format's stream fails loudly on a shard sorting " +
    "before its committed files, quoting that format's contract") {
    val body = "x".getBytes(UTF_8)
    Seq[(FileFormat, String, String, String => Unit)](
      (DumpSource, "2014-01-02.bson", "2014-01-01.bson",
        p => DumpSource.writeDump(p, Iterator(body))),
      (WarcSource, "shard-01.warc", "shard-00.warc",
        p => WarcSource.writeWarc(p, Iterator("http://corpus.local/" -> body))),
      (TarSource, "shard-01.tar", "shard-00.tar",
        p => TarSource.writeTar(p, Iterator("0.txt" -> body)))
    ).foreach { case (format, first, late, write) =>
      val dir = tmpDir(s"late_${format.name}")
      write(s"$dir/$first")
      val stream = new FileMicroBatchStream(format, Seq(dir),
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      val committed = stream.latestOffset()
      assert(committed == DumpOffset(1, Some(first)))
      write(s"$dir/$late")
      val e = intercept[IllegalStateException] {
        stream.planInputPartitions(committed, stream.latestOffset())
      }
      assert(e.getMessage.startsWith(s"${format.name} folder is not append-only"),
        e.getMessage)
      assert(e.getMessage.endsWith(format.orderingContract), e.getMessage)
    }
  }

  test("schema drift tolerance: missing fields parse as null, unknown " +
    "fields are ignored, malformed docs drop instead of crashing") {
    val dir = tmpDir("schema_drift")
    Files.createDirectories(Paths.get(s"$dir/users"))
    writeDocs(s"$dir/users/2014-01-01.bson", Seq(
      // current shape
      """{"id":1,"login":"alice","type":"User","name":"Alice","created_at":"2013-01-01T00:00:00Z"}""",
      // older dump shape: fields missing entirely
      """{"id":2,"login":"bob","type":"User"}""",
      // newer dump shape: extra fields the schema doesn't know
      """{"id":3,"login":"carol","type":"User","new_api_field":{"x":1},"another":"y"}""",
      // corrupted doc: not JSON at all
      """xx%%not-json%%""",
      // JSON but wrong shape for the id
      """{"id":"not-a-number","login":"mallory","type":"User"}"""))
    val raw = Ingest.readEntity(spark, s"$dir/users", Ingest.userSchema)
    val (users, ghUsers, _) = Ingest.importUsers(raw)
    val logins = ghUsers.select($"login").as[String].collect().toSet
    // the three parseable users survive; mallory parses with null id
    // (PERMISSIVE mode nulls the bad field, login still read)
    assert(logins == Set("alice", "bob", "carol", "mallory"), logins)
    assert(users.count() == 4)
    // missing updated_at/created_at stay null after normalization
    val bob = ghUsers.filter($"login" === "bob")
      .select($"created_at", $"updated_at").collect().head
    assert(bob.isNullAt(0) && bob.isNullAt(1))
  }
}
