package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DumpSource

/** End-to-end pipeline test on GHTorrent-shaped fixture dumps — the
  * `ght2dm <config>` flow (ght2dm.go:1129-1158) run through
  * [[Ingest.run]].
  */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeDocs(path: String, docs: Seq[String]): Unit =
    DumpSource.writeDump(path, docs.iterator.map(_.getBytes(UTF_8)))

  private lazy val root: String = {
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest").toString
    Seq("users", "repos", "org_members", "repo_collaborators")
      .foreach(e => Files.createDirectories(Paths.get(s"$dir/$e")))

    writeDocs(s"$dir/users/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","type":"User","name":"Alice","email":"a@x.org","created_at":"2013-01-01T00:00:00Z","updated_at":"2013-06-01T00:00:00Z","followers":10,"following":2,"hireable":true}""",
      """{"id":2,"login":"bob","type":"User","name":"Bob","email":"","created_at":"2013-02-01T00:00:00Z","updated_at":"","followers":0,"following":0,"hireable":false}""",
      """{"id":3,"login":"devmine","type":"Organization","name":"DevMine","created_at":"2013-03-01T00:00:00Z","updated_at":""}"""))
    // a later dump re-ships alice (idempotent re-import)
    writeDocs(s"$dir/users/2014-01-02.bson", Seq(
      """{"id":1,"login":"alice","type":"User","name":"Alice","email":"a@x.org","created_at":"2013-01-01T00:00:00Z","updated_at":"2013-07-01T00:00:00Z","followers":11,"following":2,"hireable":true}"""))

    // repo 100 appears in both dumps: day-2 snapshot has newer
    // updated_at and fewer open issues -> latest-wins keeps it.
    // repo 101 has empty language -> filtered by the non-empty guard.
    writeDocs(s"$dir/repos/2014-01-01.bson", Seq(
      """{"id":100,"name":"ght2dm","full_name":"devmine/ght2dm","language":"Go","clone_url":"https://github.example/devmine/ght2dm.git","html_url":"https://github.example/devmine/ght2dm","owner":{"login":"devmine"},"fork":false,"forks_count":1,"open_issues_count":5,"stargazers_count":10,"subscribers_count":2,"watchers_count":10,"size_in_kb":512,"created_at":"2014-01-01T00:00:00Z","updated_at":"2014-01-01T10:00:00Z","pushed_at":"2014-01-01T09:00:00Z"}""",
      """{"id":101,"name":"nolang","full_name":"alice/nolang","language":"","clone_url":"https://github.example/alice/nolang.git","owner":{"login":"alice"},"fork":false,"forks_count":0,"open_issues_count":0,"stargazers_count":0,"subscribers_count":0,"watchers_count":0,"size_in_kb":1,"created_at":"2014-01-01T00:00:00Z","updated_at":"2014-01-01T00:00:00Z","pushed_at":""}"""))
    writeDocs(s"$dir/repos/2014-01-02.bson", Seq(
      """{"id":100,"name":"ght2dm","full_name":"devmine/ght2dm","language":"Go","clone_url":"https://github.example/devmine/ght2dm.git","html_url":"https://github.example/devmine/ght2dm","owner":{"login":"devmine"},"fork":false,"forks_count":2,"open_issues_count":3,"stargazers_count":12,"subscribers_count":2,"watchers_count":12,"size_in_kb":600,"created_at":"2014-01-01T00:00:00Z","updated_at":"2014-01-02T10:00:00Z","pushed_at":"2014-01-02T09:00:00Z"}"""))

    writeDocs(s"$dir/org_members/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","org":"devmine","type":"User"}""",
      """{"id":2,"login":"ghost","org":"devmine","type":"User"}"""))

    writeDocs(s"$dir/repo_collaborators/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","repo":"ght2dm","owner":"devmine"}""",
      """{"id":2,"login":"alice","repo":"unknown","owner":"nobody"}"""))

    Files.writeString(Paths.get(s"$dir/graft.conf"),
      s"""{"ghtorrent_folders": ["$dir/users", "$dir/repos",
         |  "$dir/org_members", "$dir/repo_collaborators"],
         | "warehouse_dir": "$dir/warehouse"}""".stripMargin)
    dir
  }

  private lazy val out: Map[String, org.apache.spark.sql.DataFrame] =
    Ingest.run(spark, Ingest.Config.load(s"$root/graft.conf"))

  test("config loads like readConfig (ght2dm.go:186-199)") {
    val cfg = Ingest.Config.load(s"$root/graft.conf")
    assert(cfg.ghtorrentFolders.size == 4)
    assert(cfg.warehouseDir.endsWith("/warehouse"))
  }

  test("users are type-dispatched; orgs land in gh_organizations") {
    assert(out("users").select($"username").as[String].collect().toSet ==
      Set("alice", "bob"))
    assert(out("gh_organizations").select($"login").as[String]
      .collect().toSeq == Seq("devmine"))
  }

  test("updated_at falls back to created_at (ght2dm.go:352-354) and " +
    "re-shipped users stay unique by github id") {
    val bob = out("gh_users").filter($"login" === "bob")
      .select($"updated_at").as[String].head()
    assert(bob == "2013-02-01T00:00:00Z")
    assert(out("gh_users").filter($"login" === "alice").count() == 1)
  }

  test("repos: latest-wins keeps the newest snapshot, empty-language " +
    "guard drops, surrogate ids assigned (insert_from_tmp_tables.sql)") {
    val repos = out("repositories")
    assert(repos.count() == 1) // nolang filtered by primary_language<>''
    val gh = out("gh_repositories")
    val row = gh.select($"open_issues_count", $"forks_count").as[(Long, Long)].head()
    assert(row == ((3L, 2L))) // day-2 snapshot won
    // the split shares the surrogate key
    val rid = repos.select($"id").as[Long].head()
    assert(gh.select($"repository_id").as[Long].head() == rid)
  }

  test("org members resolve login->id; unknown logins drop " +
    "(ght2dm.go:757-765)") {
    val got = out("gh_users_organizations")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L))) // alice(1) -> devmine(3); ghost dropped
  }

  test("repo collaborators resolve via owner/repo full_name " +
    "(ght2dm.go:890-935)") {
    val got = out("users_repositories").as[(Long, Long)].collect().toSet
    val rid = out("repositories").select($"id").as[Long].head()
    assert(got == Set((1L, rid))) // alice on devmine/ght2dm; unknown repo dropped
  }

  test("re-import against existing tables inserts nothing (the double " +
    "anti-join of insert_from_tmp_tables.sql:52-54)") {
    val raw = Ingest.readEntity(spark, s"$root/repos", Ingest.repoSchema)
    val (repos1, gh1) = Ingest.importRepos(raw)
    // replaying the same dumps with the first import as "existing"
    // must produce zero fresh rows (miss required in BOTH tables)
    val (repos2, _) = Ingest.importRepos(raw,
      existingRepos = Some(repos1.select($"clone_path",
        $"primary_language")),
      existingGhRepos = Some(gh1.select($"github_id")))
    assert(repos2.count() == 0)
    // dropping one side of the check is not enough: a repo missing
    // from repositories but present in gh_repositories still skips
    val (repos3, _) = Ingest.importRepos(raw,
      existingGhRepos = Some(gh1.select($"github_id")))
    assert(repos3.count() == 0)
  }

  test("continuous ingestion: streamed dumps merge incrementally into " +
    "the warehouse, idempotent per github id") {
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_stream").toString
    Files.createDirectories(Paths.get(s"$dir/users"))
    val wh = s"$dir/warehouse"; val ckpt = s"$dir/_ckpt"
    writeDocs(s"$dir/users/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","type":"User","name":"Alice","email":"a@x.org","created_at":"2013-01-01T00:00:00Z","updated_at":"2013-06-01T00:00:00Z","followers":1,"following":1,"hireable":true}""",
      """{"id":3,"login":"devmine","type":"Organization","name":"DevMine","created_at":"2013-03-01T00:00:00Z","updated_at":""}"""))

    def runOnce(): Unit = {
      val q = Ingest.runStream(spark, "users", s"$dir/users", wh, ckpt)
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(spark.read.parquet(s"$wh/users").count() == 1)
    assert(spark.read.parquet(s"$wh/gh_organizations").count() == 1)

    // day 2: one genuinely new user + a re-ship of alice (must not dup)
    writeDocs(s"$dir/users/2014-01-02.bson", Seq(
      """{"id":1,"login":"alice","type":"User","name":"Alice","email":"a@x.org","created_at":"2013-01-01T00:00:00Z","updated_at":"2013-07-01T00:00:00Z","followers":2,"following":1,"hireable":true}""",
      """{"id":2,"login":"bob","type":"User","name":"Bob","email":"b@x.org","created_at":"2013-02-01T00:00:00Z","updated_at":"","followers":0,"following":0,"hireable":false}"""))
    runOnce()
    val logins = spark.read.parquet(s"$wh/gh_users")
      .select($"login").as[String].collect().sorted.toSeq
    assert(logins == Seq("alice", "bob"), s"got $logins")
    assert(spark.read.parquet(s"$wh/users").count() == 2)
  }

  test("continuous repo ingestion: ids continue across batches, " +
    "re-ships and replays insert nothing") {
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_repos_stream").toString
    Files.createDirectories(Paths.get(s"$dir/repos"))
    val wh = s"$dir/warehouse"; val ckpt = s"$dir/_ckpt"
    writeDocs(s"$dir/repos/2014-01-01.bson", Seq(
      """{"id":100,"name":"ght2dm","full_name":"devmine/ght2dm","language":"Go","clone_url":"https://github.example/devmine/ght2dm.git","owner":{"login":"devmine"},"fork":false,"forks_count":1,"open_issues_count":5,"stargazers_count":10,"subscribers_count":2,"watchers_count":10,"size_in_kb":512,"created_at":"2014-01-01T00:00:00Z","updated_at":"2014-01-01T10:00:00Z","pushed_at":"2014-01-01T09:00:00Z"}"""))

    def runOnce(): Unit = {
      val q = Ingest.runStream(spark, "repos", s"$dir/repos", wh, ckpt)
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    val first = spark.read.parquet(s"$wh/repositories")
      .select($"id", $"name").as[(Long, String)].collect().toSet
    assert(first == Set((1L, "ght2dm")))

    // day 2: a new repo + a re-ship of repo 100 (newer snapshot)
    writeDocs(s"$dir/repos/2014-01-02.bson", Seq(
      """{"id":100,"name":"ght2dm","full_name":"devmine/ght2dm","language":"Go","clone_url":"https://github.example/devmine/ght2dm.git","owner":{"login":"devmine"},"fork":false,"forks_count":2,"open_issues_count":3,"stargazers_count":12,"subscribers_count":2,"watchers_count":12,"size_in_kb":600,"created_at":"2014-01-01T00:00:00Z","updated_at":"2014-01-02T10:00:00Z","pushed_at":"2014-01-02T09:00:00Z"}""",
      """{"id":200,"name":"repo2","full_name":"alice/repo2","language":"Rust","clone_url":"https://github.example/alice/repo2.git","owner":{"login":"alice"},"fork":false,"forks_count":0,"open_issues_count":0,"stargazers_count":1,"subscribers_count":1,"watchers_count":1,"size_in_kb":64,"created_at":"2014-01-02T00:00:00Z","updated_at":"2014-01-02T00:00:00Z","pushed_at":"2014-01-02T00:00:00Z"}"""))
    runOnce()
    val second = spark.read.parquet(s"$wh/repositories")
      .select($"id", $"name").as[(Long, String)].collect().toSet
    // re-shipped repo 100 did not duplicate; repo2's id continued at 2
    assert(second == Set((1L, "ght2dm"), (2L, "repo2")), s"got $second")
    val ghIds = spark.read.parquet(s"$wh/gh_repositories")
      .select($"repository_id").as[Long].collect().sorted.toSeq
    assert(ghIds == Seq(1L, 2L))
  }

  test("continuous relation ingestion: members resolve against streamed " +
    "dims; unresolved rows drop and resolve on re-ship") {
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_rel_stream").toString
    Seq("users", "org_members").foreach(e =>
      Files.createDirectories(Paths.get(s"$dir/$e")))
    val wh = s"$dir/warehouse"
    writeDocs(s"$dir/users/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","type":"User","name":"Alice","email":"a@x.org","created_at":"2013-01-01T00:00:00Z","updated_at":"","followers":1,"following":1,"hireable":true}""",
      """{"id":3,"login":"devmine","type":"Organization","name":"DevMine","created_at":"2013-03-01T00:00:00Z","updated_at":""}"""))
    // membership references bob, whose user doc hasn't arrived yet
    writeDocs(s"$dir/org_members/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","org":"devmine","type":"User"}""",
      """{"id":2,"login":"bob","org":"devmine","type":"User"}"""))

    def run(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.processAllAvailable(); q.stop()
    }
    run(Ingest.runStream(spark, "users", s"$dir/users", wh, s"$dir/_ck_u"))
    run(Ingest.runStream(spark, "org_members", s"$dir/org_members", wh, s"$dir/_ck_m"))
    val first = spark.read.parquet(s"$wh/gh_users_organizations")
      .as[(Long, Long)].collect().toSet
    assert(first == Set((1000001L, 2000003L)) || first == Set((1L, 3L)),
      s"got $first") // alice resolved; bob dropped (dim missing)
    assert(first.size == 1)

    // bob's user doc arrives + membership re-shipped -> resolves now
    writeDocs(s"$dir/users/2014-01-02.bson", Seq(
      """{"id":2,"login":"bob","type":"User","name":"Bob","email":"b@x.org","created_at":"2013-02-01T00:00:00Z","updated_at":"","followers":0,"following":0,"hireable":false}"""))
    writeDocs(s"$dir/org_members/2014-01-02.bson", Seq(
      """{"id":2,"login":"bob","org":"devmine","type":"User"}"""))
    run(Ingest.runStream(spark, "users", s"$dir/users", wh, s"$dir/_ck_u"))
    run(Ingest.runStream(spark, "org_members", s"$dir/org_members", wh, s"$dir/_ck_m"))
    val second = spark.read.parquet(s"$wh/gh_users_organizations")
      .as[(Long, Long)].collect().toSet
    assert(second.size == 2, s"got $second")
  }

  test("a REAL BSON-framed users dump (mongodump shape) parses through " +
    "the same pipeline and matches the JSON-framed result exactly") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest-bson").toString
    Files.createDirectories(Paths.get(s"$dir/users"))
    // the SAME three users as the JSON fixture's day-1 dump, as framed
    // BSON bodies: int32/int64 mixed on purpose (mongo exports both)
    DumpSource.writeDump(s"$dir/users/2014-01-01.bson", Iterator(
      Bson.docBody(Seq("id" -> 1L, "login" -> "alice", "type" -> "User",
        "name" -> "Alice", "email" -> "a@x.org",
        "created_at" -> "2013-01-01T00:00:00Z",
        "updated_at" -> "2013-06-01T00:00:00Z",
        "followers" -> 10, "following" -> 2L, "hireable" -> true,
        "gravatar_id" -> "ignored-unknown-field")),
      Bson.docBody(Seq("id" -> 2L, "login" -> "bob", "type" -> "User",
        "name" -> "Bob", "email" -> "",
        "created_at" -> "2013-02-01T00:00:00Z", "updated_at" -> "",
        "followers" -> 0L, "following" -> 0L, "hireable" -> false)),
      Bson.docBody(Seq("id" -> 3L, "login" -> "devmine",
        "type" -> "Organization", "name" -> "DevMine",
        "created_at" -> "2013-03-01T00:00:00Z", "updated_at" -> ""))))
    val (users, ghUsers, ghOrgs) = Ingest.importUsers(
      Ingest.readEntity(spark, s"$dir/users", Ingest.userSchema))
    assert(users.select($"username").as[String].collect().toSet ==
      Set("alice", "bob"))
    assert(ghOrgs.select($"login").as[String].collect().toSeq == Seq("devmine"))
    // int32-encoded followers coerced into the BIGINT column, bob's
    // empty updated_at fell back to created_at — same as the JSON path
    val alice = ghUsers.filter($"login" === "alice")
      .select($"followers_count", $"updated_at")
      .as[(Long, String)].head()
    assert(alice == ((10L, "2013-06-01T00:00:00Z")))
    val bob = ghUsers.filter($"login" === "bob")
      .select($"updated_at").as[String].head()
    assert(bob == "2013-02-01T00:00:00Z")
  }

  test("a BSON-framed repos dump decodes owner.login through the nested " +
    "struct and runs the full importRepos pipeline") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest-bson-r").toString
    Files.createDirectories(Paths.get(s"$dir/repos"))
    DumpSource.writeDump(s"$dir/repos/2014-01-01.bson", Iterator(
      Bson.docBody(Seq("id" -> 100L, "name" -> "ght2dm",
        "full_name" -> "devmine/ght2dm", "language" -> "Go",
        "clone_url" -> "https://github.example/devmine/ght2dm.git",
        "owner" -> Seq("id" -> 3L, "login" -> "devmine"),
        "fork" -> false, "forks_count" -> 1L, "open_issues_count" -> 5,
        "stargazers_count" -> 10L, "subscribers_count" -> 2L,
        "watchers_count" -> 10L, "size_in_kb" -> 512L,
        "created_at" -> "2014-01-01T00:00:00Z",
        "updated_at" -> "2014-01-01T10:00:00Z",
        "pushed_at" -> "2014-01-01T09:00:00Z"))))
    val (repos, ghRepos) = Ingest.importRepos(
      Ingest.readEntity(spark, s"$dir/repos", Ingest.repoSchema))
    val r = repos.select($"clone_path", $"primary_language")
      .as[(String, String)].head()
    assert(r == (("go/devmine/ght2dm", "Go")))
    assert(ghRepos.select($"github_id").as[Long].head() == 100L)
  }

  test("a BSON-framed commits dump decodes the parents ARRAY and nested " +
    "commit struct; importCommits dedups per sha first-wins") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest-bson-c").toString
    Files.createDirectories(Paths.get(s"$dir/commits"))
    def commitDoc(sha: String, msg: String, date: String,
                  parents: Seq[String], login: Any = "alice") =
      Bson.docBody(Seq("sha" -> sha,
        "url" -> s"https://api.github.example/commits/$sha",
        "author" -> Seq("id" -> 1L, "login" -> login),
        "committer" -> Seq("id" -> 1L, "login" -> login),
        "commit" -> Seq("message" -> msg, "comment_count" -> 2,
          "author" -> Seq("name" -> "Alice", "email" -> "a@x.org",
            "date" -> date),
          "committer" -> Seq("name" -> "Alice", "email" -> "a@x.org",
            "date" -> date)),
        "parents" -> Bson.BArray(parents.map(p => Seq("sha" -> p)))))
    DumpSource.writeDump(s"$dir/commits/2014-01-01.bson", Iterator(
      // a merge commit with TWO parents, and a message with a NUL byte
      commitDoc("c1", "merge\u0000 branch", "2014-01-01T10:00:00Z",
        Seq("p1", "p2")),
      // root commit: empty parents array, unmapped author (no login)
      commitDoc("c0", "initial", "2014-01-01T09:00:00Z", Nil, null),
      // duplicate sha from a re-shipped dump: first-wins per sha
      commitDoc("c1", "merge later copy", "2014-01-02T10:00:00Z",
        Seq("p1", "p2"))))
    val commits = Ingest.importCommits(
      Ingest.readEntity(spark, s"$dir/commits", Ingest.commitSchema))
    val rows = commits
      .select($"sha", $"message", $"parent_shas", $"author_login")
      .as[(String, String, Seq[String], Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) == Seq("c0", "c1"))
    // NUL stripped, earliest copy won, parents in order
    assert(rows(1)._2 == "merge branch")
    assert(rows(1)._3 == Seq("p1", "p2"))
    assert(rows(0)._3 == Nil)
    assert(rows(0)._4.isEmpty && rows(1)._4.contains("alice"))
    assert(commits.select($"authored_at".cast("string"))
      .as[String].collect().toSet ==
      Set("2014-01-01 09:00:00", "2014-01-01 10:00:00"))
  }

  test("a BSON-framed events dump decodes actor/repo/org structs; " +
    "importEvents dedups per event id") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest-bson-e").toString
    Files.createDirectories(Paths.get(s"$dir/events"))
    def eventDoc(id: String, typ: String, at: String, org: Any) =
      Bson.docBody(Seq("id" -> id, "type" -> typ, "public" -> true,
        "created_at" -> at,
        "actor" -> Seq("id" -> 1L, "login" -> "alice"),
        "repo" -> Seq("id" -> 100L, "name" -> "devmine/ght2dm"),
        "org" -> org,
        "payload" -> Seq("action" -> "opened", "number" -> 7L)))
    DumpSource.writeDump(s"$dir/events/2014-01-01.bson", Iterator(
      eventDoc("2001", "PushEvent", "2014-01-01T10:00:00Z",
        Seq("id" -> 3L, "login" -> "devmine")),
      eventDoc("2002", "IssuesEvent", "2014-01-01T11:00:00Z", null),
      eventDoc("2001", "PushEvent", "2014-01-01T10:00:00Z",
        Seq("id" -> 3L, "login" -> "devmine")))) // re-shipped duplicate
    val events = Ingest.importEvents(
      Ingest.readEntity(spark, s"$dir/events", Ingest.eventSchema))
    val rows = events.select($"event_id", $"event_type", $"actor_login",
        $"repo_full_name", $"org_login")
      .as[(String, String, String, String, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      ("2001", "PushEvent", "alice", "devmine/ght2dm", Some("devmine")),
      ("2002", "IssuesEvent", "alice", "devmine/ght2dm", None)))
  }

  test("BSON-framed issues and pull_requests dumps decode; latest-wins " +
    "per id keeps the newest shipped state") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest-bson-ip").toString
    Files.createDirectories(Paths.get(s"$dir/issues"))
    Files.createDirectories(Paths.get(s"$dir/pull_requests"))
    def issueDoc(id: Long, state: String, updated: String,
                 labels: Seq[String], assignee: Any) =
      Bson.docBody(Seq("id" -> id, "number" -> (id + 10L),
        "state" -> state, "title" -> s"issue $id", "body" -> "text",
        "comments" -> 3,
        "user" -> Seq("id" -> 1L, "login" -> "alice"),
        "assignee" -> assignee,
        "labels" -> Bson.BArray(labels.map(n =>
          Seq("name" -> n, "color" -> "f00"))),
        "created_at" -> "2014-01-01T00:00:00Z",
        "updated_at" -> updated, "closed_at" -> ""))
    DumpSource.writeDump(s"$dir/issues/2014-01-01.bson", Iterator(
      issueDoc(500L, "open", "2014-01-01T10:00:00Z", Seq("bug"),
        Seq("id" -> 2L, "login" -> "bob")),
      // the re-shipped newer state closes it and adds a label
      issueDoc(500L, "closed", "2014-01-02T10:00:00Z",
        Seq("bug", "wontfix"), null),
      issueDoc(501L, "open", "2014-01-01T11:00:00Z", Nil, null)))
    val issues = Ingest.importIssues(
      Ingest.readEntity(spark, s"$dir/issues", Ingest.issueSchema))
    val got = issues.select($"github_id", $"state", $"label_names",
        $"assignee_login")
      .as[(Long, String, Seq[String], Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (500L, "closed", Seq("bug", "wontfix"), None),
      (501L, "open", Nil, None)))

    def prDoc(id: Long, merged: Boolean, updated: String) =
      Bson.docBody(Seq("id" -> id, "number" -> 7L, "state" -> "closed",
        "title" -> "add feature", "merged" -> merged,
        "additions" -> 120L, "deletions" -> 8L, "changed_files" -> 3,
        "user" -> Seq("id" -> 1L, "login" -> "alice"),
        "head" -> Seq("sha" -> "h1", "ref" -> "feature",
          "repo" -> Seq("id" -> 200L, "full_name" -> "alice/fork")),
        "base" -> Seq("sha" -> "b1", "ref" -> "master",
          "repo" -> Seq("id" -> 100L, "full_name" -> "devmine/ght2dm")),
        "created_at" -> "2014-01-01T00:00:00Z",
        "updated_at" -> updated,
        "merged_at" -> (if (merged) "2014-01-02T00:00:00Z" else ""),
        "closed_at" -> "2014-01-02T00:00:00Z"))
    DumpSource.writeDump(s"$dir/pull_requests/2014-01-01.bson", Iterator(
      prDoc(900L, merged = false, "2014-01-01T10:00:00Z"),
      prDoc(900L, merged = true, "2014-01-02T10:00:00Z")))
    val prs = Ingest.importPullRequests(Ingest.readEntity(
      spark, s"$dir/pull_requests", Ingest.pullRequestSchema))
    val pr = prs.select($"github_id", $"merged", $"head_repo_full_name",
        $"base_repo_full_name", $"merged_at".cast("string"))
      .as[(Long, Boolean, String, String, Option[String])].head()
    assert(pr == ((900L, true, "alice/fork", "devmine/ght2dm",
      Some("2014-01-02 00:00:00"))))
  }

  test("watchers dedup to first starred_at per (login, repo)") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest-bson-w").toString
    Files.createDirectories(Paths.get(s"$dir/watchers"))
    def w(id: Long, login: String, at: String) =
      Bson.docBody(Seq("id" -> id, "login" -> login, "repo" -> "ght2dm",
        "owner" -> "devmine", "created_at" -> at))
    DumpSource.writeDump(s"$dir/watchers/2014-01-01.bson", Iterator(
      w(1L, "alice", "2014-01-01T08:00:00Z"),
      w(2L, "alice", "2014-01-02T08:00:00Z"), // re-shipped next day
      w(3L, "bob", "2014-01-02T09:00:00Z")))
    val got = Ingest.importWatchers(Ingest.readEntity(
        spark, s"$dir/watchers", Ingest.watcherSchema))
      .select($"login", $"repo_full_name", $"starred_at".cast("string"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("alice", "devmine/ght2dm", "2014-01-01 08:00:00"),
      ("bob", "devmine/ght2dm", "2014-01-02 09:00:00")))
  }

  test("continuous commits ingestion: shards stream in, first shipped " +
    "copy wins per sha across batches") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_commits_stream").toString
    Files.createDirectories(Paths.get(s"$dir/commits"))
    val wh = s"$dir/warehouse"; val ckpt = s"$dir/_ckpt"
    def commitDoc(sha: String, msg: String, date: String) =
      Bson.docBody(Seq("sha" -> sha,
        "author" -> Seq("id" -> 1L, "login" -> "alice"),
        "committer" -> Seq("id" -> 1L, "login" -> "alice"),
        "commit" -> Seq("message" -> msg, "comment_count" -> 0L,
          "author" -> Seq("name" -> "Alice", "email" -> "a@x",
            "date" -> date),
          "committer" -> Seq("name" -> "Alice", "email" -> "a@x",
            "date" -> date)),
        "parents" -> Bson.BArray(Nil)))
    DumpSource.writeDump(s"$dir/commits/2014-01-01.bson", Iterator(
      commitDoc("c1", "first copy", "2014-01-01T10:00:00Z")))
    def runOnce(): Unit = {
      val q = Ingest.runStream(spark, "commits", s"$dir/commits", wh, ckpt)
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(spark.read.parquet(s"$wh/commits").count() == 1)
    // day 2 re-ships c1 with a different message + a new commit: the
    // merged table keeps day-1's copy and adds only c2
    DumpSource.writeDump(s"$dir/commits/2014-01-02.bson", Iterator(
      commitDoc("c1", "later copy", "2014-01-02T10:00:00Z"),
      commitDoc("c2", "second", "2014-01-02T11:00:00Z")))
    runOnce()
    val got = spark.read.parquet(s"$wh/commits")
      .select($"sha", $"message").as[(String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(("c1", "first copy"), ("c2", "second")), s"got $got")
    // the events twin on the same scaffold: stream two shards with a
    // re-shipped id, merged table stays unique per event id
    Files.createDirectories(Paths.get(s"$dir/events"))
    def eventDoc(id: String, at: String) =
      Bson.docBody(Seq("id" -> id, "type" -> "PushEvent",
        "public" -> true, "created_at" -> at,
        "actor" -> Seq("id" -> 1L, "login" -> "alice"),
        "repo" -> Seq("id" -> 100L, "name" -> "devmine/ght2dm"),
        "org" -> null))
    DumpSource.writeDump(s"$dir/events/2014-01-01.bson", Iterator(
      eventDoc("e1", "2014-01-01T10:00:00Z")))
    DumpSource.writeDump(s"$dir/events/2014-01-02.bson", Iterator(
      eventDoc("e1", "2014-01-01T10:00:00Z"),
      eventDoc("e2", "2014-01-02T10:00:00Z")))
    val q = Ingest.runStream(spark, "events", s"$dir/events", wh, s"$dir/_cke")
    q.processAllAvailable(); q.stop()
    val evs = spark.read.parquet(s"$wh/events")
      .select($"event_id").as[String].collect().sorted.toSeq
    assert(evs == Seq("e1", "e2"), s"got $evs")
  }

  test("comment dumps (both anchor kinds) and fork dumps decode and " +
    "dedup through the shared comment schema") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest-bson-cf").toString
    Files.createDirectories(Paths.get(s"$dir/commit_comments"))
    Files.createDirectories(Paths.get(s"$dir/forks"))
    DumpSource.writeDump(s"$dir/commit_comments/2014-01-01.bson", Iterator(
      Bson.docBody(Seq("id" -> 7000L, "body" -> "nice commit",
        "commit_id" -> "c1", "position" -> 3L, "line" -> 10L,
        "path" -> "src/a.go",
        "user" -> Seq("id" -> 1L, "login" -> "alice"),
        "created_at" -> "2014-01-01T10:00:00Z",
        "updated_at" -> "2014-01-01T10:00:00Z")),
      // issue-comment shape: issue_id anchor, no commit fields
      Bson.docBody(Seq("id" -> 7001L, "body" -> "agree",
        "issue_id" -> 500L,
        "user" -> Seq("id" -> 2L, "login" -> "bob"),
        "created_at" -> "2014-01-02T10:00:00Z",
        "updated_at" -> "2014-01-02T10:00:00Z")),
      // re-shipped newer edit of 7001: latest-wins
      Bson.docBody(Seq("id" -> 7001L, "body" -> "agree (edited)",
        "issue_id" -> 500L,
        "user" -> Seq("id" -> 2L, "login" -> "bob"),
        "created_at" -> "2014-01-02T10:00:00Z",
        "updated_at" -> "2014-01-03T10:00:00Z"))))
    // an ISSUE comment colliding with commit comment 7000's id:
    // separate GitHub id sequences, so BOTH must survive (identity is
    // (kind, id), not id alone)
    DumpSource.writeDump(s"$dir/commit_comments/2014-01-02.bson", Iterator(
      Bson.docBody(Seq("id" -> 7000L, "body" -> "issue side",
        "issue_id" -> 501L,
        "user" -> Seq("id" -> 2L, "login" -> "bob"),
        "created_at" -> "2014-01-03T10:00:00Z",
        "updated_at" -> "2014-01-03T10:00:00Z"))))
    val comments = Ingest.importComments(Ingest.readEntity(
      spark, s"$dir/commit_comments", Ingest.commentSchema))
    val got = comments.select($"kind", $"github_id", $"body",
        $"commit_sha", $"issue_id", $"author_login")
      .as[(String, Long, String, Option[String], Option[Long], String)]
      .collect().sortBy(r => (r._2, r._1)).toSeq
    assert(got == Seq(
      ("commit", 7000L, "nice commit", Some("c1"), None, "alice"),
      ("issue", 7000L, "issue side", None, Some(501L), "bob"),
      ("issue", 7001L, "agree (edited)", None, Some(500L), "bob")))

    DumpSource.writeDump(s"$dir/forks/2014-01-01.bson", Iterator(
      Bson.docBody(Seq("id" -> 8000L, "name" -> "ght2dm",
        "full_name" -> "alice/ght2dm",
        "owner" -> Seq("id" -> 1L, "login" -> "alice"),
        "parent" -> Seq("id" -> 100L, "full_name" -> "devmine/ght2dm"),
        "created_at" -> "2014-01-05T10:00:00Z"))))
    val forks = Ingest.importForks(Ingest.readEntity(
      spark, s"$dir/forks", Ingest.forkSchema))
    val f = forks.select($"fork_github_id", $"full_name",
        $"parent_full_name", $"owner_login")
      .as[(Long, String, String, String)].head()
    assert(f == ((8000L, "alice/ght2dm", "devmine/ght2dm", "alice")))
  }

  test("run() routes the extended entity folders: commits land as a " +
    "table, both comment folders merge into one comments table") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest-ext-run").toString
    Seq("commits", "commit_comments", "issue_comments")
      .foreach(e => Files.createDirectories(Paths.get(s"$dir/$e")))
    DumpSource.writeDump(s"$dir/commits/2014-01-01.bson", Iterator(
      Bson.docBody(Seq("sha" -> "c1",
        "author" -> Seq("id" -> 1L, "login" -> "alice"),
        "committer" -> Seq("id" -> 1L, "login" -> "alice"),
        "commit" -> Seq("message" -> "m", "comment_count" -> 0L,
          "author" -> Seq("name" -> "A", "email" -> "a@x",
            "date" -> "2014-01-01T00:00:00Z"),
          "committer" -> Seq("name" -> "A", "email" -> "a@x",
            "date" -> "2014-01-01T00:00:00Z")),
        "parents" -> Bson.BArray(Nil)))))
    def comment(id: Long, commit: Any, issue: Any) =
      Bson.docBody(Seq("id" -> id, "body" -> "b", "commit_id" -> commit,
        "issue_id" -> issue,
        "user" -> Seq("id" -> 1L, "login" -> "alice"),
        "created_at" -> "2014-01-01T00:00:00Z",
        "updated_at" -> "2014-01-01T00:00:00Z"))
    DumpSource.writeDump(s"$dir/commit_comments/2014-01-01.bson",
      Iterator(comment(1L, "c1", null)))
    DumpSource.writeDump(s"$dir/issue_comments/2014-01-01.bson",
      Iterator(comment(1L, null, 500L))) // same id, different kind
    Files.writeString(Paths.get(s"$dir/graft.conf"),
      s"""{"ghtorrent_folders": ["$dir/commits",
         |  "$dir/commit_comments", "$dir/issue_comments"],
         | "warehouse_dir": "$dir/warehouse"}""".stripMargin)
    val tables = Ingest.run(spark, Ingest.Config.load(s"$dir/graft.conf"))
    assert(tables.keySet == Set("commits", "comments"))
    assert(spark.read.parquet(s"$dir/warehouse/commits").count() == 1)
    val kinds = spark.read.parquet(s"$dir/warehouse/comments")
      .select($"kind").as[String].collect().sorted.toSeq
    assert(kinds == Seq("commit", "issue"), s"got $kinds")
  }

  test("all tables land in the warehouse as parquet") {
    val tables = Seq("users", "gh_users", "gh_organizations",
      "repositories", "gh_repositories", "gh_users_organizations",
      "users_repositories")
    tables.foreach { t =>
      val n = spark.read.parquet(s"$root/warehouse/$t").count()
      assert(n >= 0, s"$t unreadable") // presence + readability
    }
  }

  test("run() on a relation-only config resolves dims from an existing " +
    "warehouse, and fails with guidance when neither source exists") {
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_relonly").toString
    Seq("users", "org_members").foreach(e =>
      Files.createDirectories(Paths.get(s"$dir/$e")))
    writeDocs(s"$dir/users/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","type":"User","name":"Alice","email":"a@x.org","created_at":"2013-01-01T00:00:00Z","updated_at":"","followers":1,"following":1,"hireable":true}""",
      """{"id":3,"login":"devmine","type":"Organization","name":"DevMine","created_at":"2013-03-01T00:00:00Z","updated_at":""}"""))
    writeDocs(s"$dir/org_members/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","org":"devmine","type":"User"}"""))
    // no users folder AND no warehouse: a clear error, not a bare NPE
    val err = intercept[IllegalArgumentException] {
      Ingest.run(spark,
        Ingest.Config(Seq(s"$dir/org_members"), s"$dir/wh_empty"))
    }
    assert(err.getMessage.contains("gh_users"), err.getMessage)
    assert(err.getMessage.contains("org_members"), err.getMessage)
    // a prior users-only run fills the warehouse; the relation-only
    // config then resolves against it (the reference resolves against
    // the live DB the same way, ght2dm.go:757-765)
    Ingest.run(spark, Ingest.Config(Seq(s"$dir/users"), s"$dir/wh"))
    val out = Ingest.run(spark,
      Ingest.Config(Seq(s"$dir/org_members"), s"$dir/wh"))
    val got = out("gh_users_organizations").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L)), s"got $got")
  }

  test("run() with versioned_warehouse commits tables as generations: " +
    "a re-import lands a NEW generation (readers keep their snapshot) " +
    "and relation-only configs resolve dims from the versioned layout") {
    import graft.sources.Warehouse
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_vers").toString
    Seq("users", "org_members").foreach(e =>
      Files.createDirectories(Paths.get(s"$dir/$e")))
    writeDocs(s"$dir/users/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","type":"User","name":"Alice","email":"a@x.org","created_at":"2013-01-01T00:00:00Z","updated_at":"","followers":1,"following":1,"hireable":true}""",
      """{"id":3,"login":"devmine","type":"Organization","name":"DevMine","created_at":"2013-03-01T00:00:00Z","updated_at":""}"""))
    writeDocs(s"$dir/org_members/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","org":"devmine","type":"User"}"""))
    // the JSON flag parses (graft extension, default false)
    val cfgPath = s"$dir/graft.conf"
    Files.writeString(Paths.get(cfgPath),
      s"""{"ghtorrent_folders": ["$dir/users"], "warehouse_dir": "$dir/wh",
         | "versioned_warehouse": true}""".stripMargin)
    val cfg = Ingest.Config.load(cfgPath)
    assert(cfg.versionedWarehouse)

    Ingest.run(spark, cfg)
    val gen1 = Warehouse.currentGeneration(spark, s"$dir/wh/users").get
    assert(gen1.endsWith("gen-00000001"))
    assert(Warehouse.read(spark, s"$dir/wh/users").count() == 1) // alice
    // re-import: a NEW generation; the old one stays on disk for
    // readers that resolved before the re-import
    Ingest.run(spark, cfg)
    assert(Warehouse.currentGeneration(spark, s"$dir/wh/users").get
      .endsWith("gen-00000002"))
    assert(spark.read.parquet(gen1).count() == 1)
    // relation-only config resolves dims through the VERSIONED layout
    // (readAuto), producing the same resolution as the plain layout
    val out = Ingest.run(spark, Ingest.Config(
      Seq(s"$dir/org_members"), s"$dir/wh", versionedWarehouse = true))
    val got = out("gh_users_organizations").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L)), s"got $got")
  }

  test("continuous issues/PR ingestion: newest updated_at wins across " +
    "batches; an older replay never overwrites newer warehouse state") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_issues_stream").toString
    Seq("issues", "pull_requests").foreach(e =>
      Files.createDirectories(Paths.get(s"$dir/$e")))
    val wh = s"$dir/warehouse"
    def issueDoc(id: Long, state: String, updated: String) =
      Bson.docBody(Seq("id" -> id, "number" -> 1L, "state" -> state,
        "title" -> "t", "body" -> "b", "comments" -> 0L,
        "user" -> Seq("id" -> 1L, "login" -> "alice"),
        "labels" -> Bson.BArray(Nil),
        "created_at" -> "2014-01-01T00:00:00Z",
        "updated_at" -> updated, "closed_at" -> ""))
    def runIssues(): Unit = {
      val q = Ingest.runStream(spark, "issues", s"$dir/issues", wh, s"$dir/_cki")
      q.processAllAvailable(); q.stop()
    }
    DumpSource.writeDump(s"$dir/issues/2014-01-02.bson", Iterator(
      issueDoc(500L, "open", "2014-01-02T10:00:00Z")))
    runIssues()
    // day 3 ships an OLDER snapshot of 500 (out-of-order replay) plus
    // a new issue: the stale copy must lose to the warehouse row
    DumpSource.writeDump(s"$dir/issues/2014-01-03.bson", Iterator(
      issueDoc(500L, "stale", "2014-01-01T09:00:00Z"),
      issueDoc(501L, "open", "2014-01-03T09:00:00Z")))
    runIssues()
    val afterStale = spark.read.parquet(s"$wh/issues")
      .select($"github_id", $"state").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(afterStale == Seq((500L, "open"), (501L, "open")),
      s"got $afterStale")
    // day 4 genuinely updates 500 -> newest copy replaces
    DumpSource.writeDump(s"$dir/issues/2014-01-04.bson", Iterator(
      issueDoc(500L, "closed", "2014-01-04T10:00:00Z")))
    runIssues()
    val afterNew = spark.read.parquet(s"$wh/issues")
      .filter($"github_id" === 500L).select($"state").as[String].head()
    assert(afterNew == "closed")

    // the PR twin on the same merge policy
    def prDoc(id: Long, merged: Boolean, updated: String) =
      Bson.docBody(Seq("id" -> id, "number" -> 7L, "state" -> "open",
        "title" -> "t", "merged" -> merged,
        "additions" -> 1L, "deletions" -> 1L, "changed_files" -> 1L,
        "user" -> Seq("id" -> 1L, "login" -> "alice"),
        "head" -> Seq("sha" -> "h", "ref" -> "f",
          "repo" -> Seq("id" -> 200L, "full_name" -> "alice/fork")),
        "base" -> Seq("sha" -> "b", "ref" -> "m",
          "repo" -> Seq("id" -> 100L, "full_name" -> "devmine/ght2dm")),
        "created_at" -> "2014-01-01T00:00:00Z",
        "updated_at" -> updated, "merged_at" -> "", "closed_at" -> ""))
    def runPrs(): Unit = {
      val q = Ingest.runStream(spark, "pull_requests", s"$dir/pull_requests",
        wh, s"$dir/_ckp")
      q.processAllAvailable(); q.stop()
    }
    DumpSource.writeDump(s"$dir/pull_requests/2014-01-02.bson", Iterator(
      prDoc(900L, merged = true, "2014-01-02T10:00:00Z")))
    runPrs()
    DumpSource.writeDump(s"$dir/pull_requests/2014-01-03.bson", Iterator(
      prDoc(900L, merged = false, "2014-01-01T09:00:00Z"))) // stale
    runPrs()
    val pr = spark.read.parquet(s"$wh/pull_requests")
      .select($"github_id", $"merged").as[(Long, Boolean)].head()
    assert(pr == ((900L, true)), s"got $pr")
  }

  test("continuous comments/watchers/forks ingestion: folder-tagged " +
    "comment kinds merge latest-wins; stars and forks keep the earliest") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_cwf_stream").toString
    Seq("commit_comments", "issue_comments", "watchers", "forks")
      .foreach(e => Files.createDirectories(Paths.get(s"$dir/$e")))
    val wh = s"$dir/warehouse"
    def commentDoc(id: Long, body: String, updated: String) =
      Bson.docBody(Seq("id" -> id, "body" -> body,
        "user" -> Seq("id" -> 1L, "login" -> "alice"),
        "created_at" -> "2014-01-01T00:00:00Z", "updated_at" -> updated))
    def runComments(folder: String, ck: String): Unit = {
      val q = Ingest.runStream(spark, folder, s"$dir/$folder", wh, ck)
      q.processAllAvailable(); q.stop()
    }
    // same id through BOTH kind streams into the ONE comments table:
    // the folder decides the kind (neither doc carries an anchor
    // field, so payload inference would misfile the commit one)
    DumpSource.writeDump(s"$dir/commit_comments/2014-01-01.bson",
      Iterator(commentDoc(7000L, "commit side", "2014-01-01T10:00:00Z")))
    DumpSource.writeDump(s"$dir/issue_comments/2014-01-01.bson",
      Iterator(commentDoc(7000L, "issue side", "2014-01-01T10:00:00Z")))
    runComments("commit_comments", s"$dir/_ckcc")
    runComments("issue_comments", s"$dir/_ckic")
    // an edited commit comment re-ships newer; a stale issue copy too
    DumpSource.writeDump(s"$dir/commit_comments/2014-01-02.bson",
      Iterator(commentDoc(7000L, "commit edited", "2014-01-02T10:00:00Z")))
    DumpSource.writeDump(s"$dir/issue_comments/2014-01-02.bson",
      Iterator(commentDoc(7000L, "issue stale", "2013-12-31T10:00:00Z")))
    runComments("commit_comments", s"$dir/_ckcc")
    runComments("issue_comments", s"$dir/_ckic")
    val got = spark.read.parquet(s"$wh/comments")
      .select($"kind", $"body").as[(String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(("commit", "commit edited"), ("issue", "issue side")),
      s"got $got")
    intercept[IllegalArgumentException] {
      Ingest.runStream(spark, "comments", s"$dir/watchers", wh, s"$dir/_ckx")
    }

    // watchers: a LATER batch ships an EARLIER star -> replaces
    def watcherDoc(at: String) =
      Bson.docBody(Seq("id" -> 1L, "login" -> "alice", "repo" -> "ght2dm",
        "owner" -> "devmine", "created_at" -> at))
    def runWatchers(): Unit = {
      val q = Ingest.runStream(spark, "watchers", s"$dir/watchers", wh,
        s"$dir/_ckw")
      q.processAllAvailable(); q.stop()
    }
    DumpSource.writeDump(s"$dir/watchers/2014-01-02.bson",
      Iterator(watcherDoc("2014-01-02T08:00:00Z")))
    runWatchers()
    DumpSource.writeDump(s"$dir/watchers/2014-01-03.bson",
      Iterator(watcherDoc("2014-01-01T08:00:00Z"))) // earlier sighting
    runWatchers()
    val star = spark.read.parquet(s"$wh/watchers")
      .select($"starred_at".cast("string")).as[String].collect().toSeq
    assert(star == Seq("2014-01-01 08:00:00"), s"got $star")

    // forks: earliest forked_at wins per fork id
    def forkDoc(at: String) =
      Bson.docBody(Seq("id" -> 8000L, "name" -> "ght2dm",
        "full_name" -> "alice/ght2dm",
        "owner" -> Seq("id" -> 1L, "login" -> "alice"),
        "parent" -> Seq("id" -> 100L, "full_name" -> "devmine/ght2dm"),
        "created_at" -> at))
    def runForks(): Unit = {
      val q = Ingest.runStream(spark, "forks", s"$dir/forks", wh, s"$dir/_ckf")
      q.processAllAvailable(); q.stop()
    }
    DumpSource.writeDump(s"$dir/forks/2014-01-02.bson",
      Iterator(forkDoc("2014-01-02T08:00:00Z")))
    runForks()
    DumpSource.writeDump(s"$dir/forks/2014-01-03.bson",
      Iterator(forkDoc("2014-01-01T08:00:00Z")))
    runForks()
    val fork = spark.read.parquet(s"$wh/forks")
      .select($"forked_at".cast("string")).as[String].collect().toSeq
    assert(fork == Seq("2014-01-01 08:00:00"), s"got $fork")
  }

  test("repo_labels, geo_locations, followers decode, dedup by their " +
    "natural keys, and route through run()") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_r8_kinds").toString
    Seq("repo_labels", "geo_locations", "followers").foreach(e =>
      Files.createDirectories(Paths.get(s"$dir/$e")))
    // label 42 re-ships recolored: the NEWEST dump file's copy wins
    // (no payload timestamp; newest-first visitation order decides)
    DumpSource.writeDump(s"$dir/repo_labels/2014-01-01.bson", Iterator(
      Bson.docBody(Seq("id" -> 42L, "name" -> "bug", "color" -> "red",
        "default" -> true, "repo" -> "ght2dm", "owner" -> "devmine")),
      Bson.docBody(Seq("id" -> 43L, "name" -> "docs", "color" -> "green",
        "default" -> false, "repo" -> "ght2dm", "owner" -> "devmine"))))
    DumpSource.writeDump(s"$dir/repo_labels/2014-01-02.bson", Iterator(
      Bson.docBody(Seq("id" -> 42L, "name" -> "bug", "color" -> "blue",
        "default" -> true, "repo" -> "ght2dm", "owner" -> "devmine"))))
    // Paris re-geocodes with a newer updated_at -> latest wins
    DumpSource.writeDump(s"$dir/geo_locations/2014-01-01.bson", Iterator(
      Bson.docBody(Seq("location" -> "Paris", "lat" -> 48.85,
        "long" -> 2.35, "country_code" -> "fr", "state" -> "IDF",
        "city" -> "Paris", "status" -> "OK",
        "updated_at" -> "2014-01-01T00:00:00Z")),
      Bson.docBody(Seq("location" -> "Paris", "lat" -> 48.86,
        "long" -> 2.35, "country_code" -> "fr", "state" -> "IDF",
        "city" -> "Paris", "status" -> "OK",
        "updated_at" -> "2014-01-02T00:00:00Z")),
      Bson.docBody(Seq("location" -> "nowhere", "status" -> "failed",
        "updated_at" -> "2014-01-01T00:00:00Z"))))
    // alice->bob re-ships daily; the earliest sighting survives
    DumpSource.writeDump(s"$dir/followers/2014-01-01.bson", Iterator(
      Bson.docBody(Seq("id" -> 1L, "login" -> "alice", "follows" -> "bob",
        "created_at" -> "2014-01-01T08:00:00Z")),
      Bson.docBody(Seq("id" -> 1L, "login" -> "alice", "follows" -> "bob",
        "created_at" -> "2014-01-02T08:00:00Z")),
      Bson.docBody(Seq("id" -> 2L, "login" -> "bob", "follows" -> "alice",
        "created_at" -> "2014-01-03T08:00:00Z"))))
    Files.writeString(Paths.get(s"$dir/graft.conf"),
      s"""{"ghtorrent_folders": ["$dir/repo_labels",
         |  "$dir/geo_locations", "$dir/followers"],
         | "warehouse_dir": "$dir/warehouse"}""".stripMargin)
    val tables = Ingest.run(spark, Ingest.Config.load(s"$dir/graft.conf"))
    assert(tables.keySet ==
      Set("repo_labels", "geo_locations", "followers"))
    val labels = spark.read.parquet(s"$dir/warehouse/repo_labels")
      .select($"label_github_id", $"name", $"color", $"is_default",
        $"repo_full_name")
      .as[(Long, String, String, Boolean, String)]
      .collect().sortBy(_._1).toSeq
    assert(labels == Seq(
      (42L, "bug", "blue", true, "devmine/ght2dm"),
      (43L, "docs", "green", false, "devmine/ght2dm")), s"got $labels")
    val geo = spark.read.parquet(s"$dir/warehouse/geo_locations")
      .select($"location", $"lat", $"status")
      .as[(String, Option[Double], String)].collect()
      .sortBy(_._1).toSeq
    assert(geo == Seq(("Paris", Some(48.86), "OK"),
      ("nowhere", None, "failed")), s"got $geo")
    val follows = spark.read.parquet(s"$dir/warehouse/followers")
      .select($"follower_login", $"followed_login",
        $"followed_at".cast("string"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(follows == Seq(
      ("alice", "bob", "2014-01-01 08:00:00"),
      ("bob", "alice", "2014-01-03 08:00:00")), s"got $follows")
  }

  test("issue_events, pull_request_comments and pull_request_commits " +
    "decode and route through run() — the full GHTorrent dump surface") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_r8_tail").toString
    Seq("issue_events", "pull_request_comments", "pull_request_commits")
      .foreach(e => Files.createDirectories(Paths.get(s"$dir/$e")))
    // event 1 re-ships identically (timeline entries are immutable);
    // event 2 carries the closing commit sha
    DumpSource.writeDump(s"$dir/issue_events/2014-01-01.bson", Iterator(
      Bson.docBody(Seq("id" -> 1L, "event" -> "labeled",
        "actor" -> Seq("id" -> 1L, "login" -> "alice"),
        "issue_id" -> 500L, "repo" -> "ght2dm", "owner" -> "devmine",
        "created_at" -> "2014-01-01T08:00:00Z")),
      Bson.docBody(Seq("id" -> 2L, "event" -> "closed",
        "commit_id" -> "beef01",
        "actor" -> Seq("id" -> 2L, "login" -> "bob"),
        "issue_id" -> 500L, "repo" -> "ght2dm", "owner" -> "devmine",
        "created_at" -> "2014-01-02T08:00:00Z"))))
    DumpSource.writeDump(s"$dir/issue_events/2014-01-02.bson", Iterator(
      Bson.docBody(Seq("id" -> 1L, "event" -> "labeled",
        "actor" -> Seq("id" -> 1L, "login" -> "alice"),
        "issue_id" -> 500L, "repo" -> "ght2dm", "owner" -> "devmine",
        "created_at" -> "2014-01-01T08:00:00Z"))))
    // a review comment has NO commit_id/issue_id anchor in this dump:
    // payload inference would misfile it as 'issue'; the folder tag
    // must pin kind='pull_request'
    DumpSource.writeDump(s"$dir/pull_request_comments/2014-01-01.bson",
      Iterator(Bson.docBody(Seq("id" -> 9000L, "body" -> "nit: rename",
        "path" -> "a.go", "position" -> 3L,
        "user" -> Seq("id" -> 1L, "login" -> "alice"),
        "created_at" -> "2014-01-01T00:00:00Z",
        "updated_at" -> "2014-01-01T00:00:00Z"))))
    // sha 'abc' belongs to TWO PRs (the key is the pair); the (2,abc)
    // pair also re-ships on day 2 and must not duplicate
    DumpSource.writeDump(s"$dir/pull_request_commits/2014-01-01.bson",
      Iterator(
        Bson.docBody(Seq("sha" -> "abc", "pr_id" -> 1L,
          "author" -> Seq("id" -> 1L, "login" -> "alice"),
          "commit" -> Seq("message" -> "fix",
            "author" -> Seq("name" -> "Alice", "email" -> "a@x.org",
              "date" -> "2014-01-01T07:00:00Z")))),
        Bson.docBody(Seq("sha" -> "abc", "pr_id" -> 2L,
          "author" -> Seq("id" -> 1L, "login" -> "alice"),
          "commit" -> Seq("message" -> "fix",
            "author" -> Seq("name" -> "Alice", "email" -> "a@x.org",
              "date" -> "2014-01-01T07:00:00Z"))))))
    DumpSource.writeDump(s"$dir/pull_request_commits/2014-01-02.bson",
      Iterator(Bson.docBody(Seq("sha" -> "abc", "pr_id" -> 2L,
        "author" -> Seq("id" -> 1L, "login" -> "alice"),
        "commit" -> Seq("message" -> "fix",
          "author" -> Seq("name" -> "Alice", "email" -> "a@x.org",
            "date" -> "2014-01-01T07:00:00Z"))))))
    Files.writeString(Paths.get(s"$dir/graft.conf"),
      s"""{"ghtorrent_folders": ["$dir/issue_events",
         |  "$dir/pull_request_comments", "$dir/pull_request_commits"],
         | "warehouse_dir": "$dir/warehouse"}""".stripMargin)
    val tables = Ingest.run(spark, Ingest.Config.load(s"$dir/graft.conf"))
    assert(tables.keySet ==
      Set("issue_events", "comments", "pull_request_commits"))
    val ev = spark.read.parquet(s"$dir/warehouse/issue_events")
      .select($"event_github_id", $"event", $"commit_sha", $"issue_id",
        $"actor_login", $"repo_full_name")
      .as[(Long, String, Option[String], Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(ev == Seq(
      (1L, "labeled", None, 500L, "alice", "devmine/ght2dm"),
      (2L, "closed", Some("beef01"), 500L, "bob", "devmine/ght2dm")),
      s"got $ev")
    val cm = spark.read.parquet(s"$dir/warehouse/comments")
      .select($"kind", $"github_id", $"body")
      .as[(String, Long, String)].collect().toSeq
    assert(cm == Seq(("pull_request", 9000L, "nit: rename")), s"got $cm")
    val prc = spark.read.parquet(s"$dir/warehouse/pull_request_commits")
      .select($"pr_id", $"sha", $"author_login", $"message")
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(prc == Seq((1L, "abc", "alice", "fix"),
      (2L, "abc", "alice", "fix")), s"got $prc")
  }

  test("continuous repo_labels/geo_locations/followers/issue_events/" +
    "pull_request_commits ingestion: each kind's merge policy holds " +
    "across micro-batches") {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_r8_streams").toString
    Seq("repo_labels", "geo_locations", "followers", "issue_events",
      "pull_request_commits")
      .foreach(e => Files.createDirectories(Paths.get(s"$dir/$e")))
    val wh = s"$dir/warehouse"
    def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.processAllAvailable(); q.stop()
    }
    // labels carry no timestamp: the NEWER batch's recolor must win
    def labelDoc(color: String) =
      Bson.docBody(Seq("id" -> 42L, "name" -> "bug", "color" -> color,
        "default" -> true, "repo" -> "ght2dm", "owner" -> "devmine"))
    DumpSource.writeDump(s"$dir/repo_labels/2014-01-01.bson",
      Iterator(labelDoc("red")))
    drain(Ingest.runStream(spark, "repo_labels", s"$dir/repo_labels", wh,
      s"$dir/_ckl"))
    DumpSource.writeDump(s"$dir/repo_labels/2014-01-02.bson",
      Iterator(labelDoc("blue")))
    drain(Ingest.runStream(spark, "repo_labels", s"$dir/repo_labels", wh,
      s"$dir/_ckl"))
    val color = spark.read.parquet(s"$wh/repo_labels")
      .select($"color").as[String].collect().toSeq
    assert(color == Seq("blue"), s"got $color")

    // a LATER batch replaying an OLDER geocode must NOT roll back
    def geoDoc(lat: Double, updated: String) =
      Bson.docBody(Seq("location" -> "Paris", "lat" -> lat,
        "long" -> 2.35, "country_code" -> "fr", "state" -> "IDF",
        "city" -> "Paris", "status" -> "OK", "updated_at" -> updated))
    DumpSource.writeDump(s"$dir/geo_locations/2014-01-01.bson",
      Iterator(geoDoc(48.86, "2014-01-02T00:00:00Z")))
    drain(Ingest.runStream(spark, "geo_locations", s"$dir/geo_locations", wh,
      s"$dir/_ckg"))
    DumpSource.writeDump(s"$dir/geo_locations/2014-01-02.bson",
      Iterator(geoDoc(48.00, "2014-01-01T00:00:00Z"))) // stale replay
    drain(Ingest.runStream(spark, "geo_locations", s"$dir/geo_locations", wh,
      s"$dir/_ckg"))
    val lat = spark.read.parquet(s"$wh/geo_locations")
      .select($"lat").as[Double].collect().toSeq
    assert(lat == Seq(48.86), s"got $lat")

    // followers: earliest sighting wins even when it arrives later
    def followDoc(at: String) =
      Bson.docBody(Seq("id" -> 1L, "login" -> "alice", "follows" -> "bob",
        "created_at" -> at))
    DumpSource.writeDump(s"$dir/followers/2014-01-02.bson",
      Iterator(followDoc("2014-01-02T08:00:00Z")))
    drain(Ingest.runStream(spark, "followers", s"$dir/followers", wh,
      s"$dir/_ckfo"))
    DumpSource.writeDump(s"$dir/followers/2014-01-03.bson",
      Iterator(followDoc("2014-01-01T08:00:00Z")))
    drain(Ingest.runStream(spark, "followers", s"$dir/followers", wh,
      s"$dir/_ckfo"))
    val fat = spark.read.parquet(s"$wh/followers")
      .select($"followed_at".cast("string")).as[String].collect().toSeq
    assert(fat == Seq("2014-01-01 08:00:00"), s"got $fat")

    // issue_events: insert-if-absent — a re-ship can't duplicate
    def ievDoc(id: Long) =
      Bson.docBody(Seq("id" -> id, "event" -> "closed",
        "actor" -> Seq("id" -> 1L, "login" -> "alice"),
        "issue_id" -> 500L, "repo" -> "ght2dm", "owner" -> "devmine",
        "created_at" -> "2014-01-01T08:00:00Z"))
    DumpSource.writeDump(s"$dir/issue_events/2014-01-01.bson",
      Iterator(ievDoc(1L)))
    drain(Ingest.runStream(spark, "issue_events", s"$dir/issue_events", wh,
      s"$dir/_ckie"))
    DumpSource.writeDump(s"$dir/issue_events/2014-01-02.bson",
      Iterator(ievDoc(1L), ievDoc(2L)))
    drain(Ingest.runStream(spark, "issue_events", s"$dir/issue_events", wh,
      s"$dir/_ckie"))
    val ids = spark.read.parquet(s"$wh/issue_events")
      .select($"event_github_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L), s"got $ids")

    // pull_request_commits: the (pr, sha) PAIR is the merge key
    def prcDoc(pr: Long) =
      Bson.docBody(Seq("sha" -> "abc", "pr_id" -> pr,
        "author" -> Seq("id" -> 1L, "login" -> "alice"),
        "commit" -> Seq("message" -> "fix",
          "author" -> Seq("name" -> "Alice", "email" -> "a@x.org",
            "date" -> "2014-01-01T07:00:00Z"))))
    DumpSource.writeDump(s"$dir/pull_request_commits/2014-01-01.bson",
      Iterator(prcDoc(1L)))
    drain(Ingest.runStream(spark, "pull_request_commits",
      s"$dir/pull_request_commits", wh, s"$dir/_ckpc"))
    DumpSource.writeDump(s"$dir/pull_request_commits/2014-01-02.bson",
      Iterator(prcDoc(1L), prcDoc(2L)))
    drain(Ingest.runStream(spark, "pull_request_commits",
      s"$dir/pull_request_commits", wh, s"$dir/_ckpc"))
    val pairs = spark.read.parquet(s"$wh/pull_request_commits")
      .select($"pr_id", $"sha").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(pairs == Seq((1L, "abc"), (2L, "abc")), s"got $pairs")
  }

  test("-nocheck skips the existence-check stages: duplicate inputs " +
    "pass through; the default path dedups; usage lists all three " +
    "reference flags (ght2dm.go:341,415,732,891,1126)") {
    out // force the shared fixture
    val conf2 = s"$root/graft_nocheck.conf"
    Files.writeString(Paths.get(conf2),
      s"""{"ghtorrent_folders": ["$root/users", "$root/repos",
         |  "$root/org_members", "$root/repo_collaborators"],
         | "warehouse_dir": "$root/warehouse_nocheck"}""".stripMargin)
    val errs = collection.mutable.Buffer.empty[String]
    val status = Ght2dm.runCli(Array("-nocheck", conf2),
      _ => (), errs += _, _ => spark)
    assert(status == 0 && errs.isEmpty, s"errs=$errs")
    // alice is re-shipped by the day-2 dump: -nocheck double-inserts
    // her (the reference's documented only-use-when-no-duplicate
    // behavior); the checked path keeps exactly one
    val noCheckUsers = spark.read.parquet(s"$root/warehouse_nocheck/users")
    assert(noCheckUsers.filter($"username" === "alice").count() == 2)
    assert(out("users").filter($"username" === "alice").count() == 1)
    // bad flag prints a usage that documents -nocheck
    val errs2 = collection.mutable.Buffer.empty[String]
    assert(Ght2dm.runCli(Array("-bogus", conf2), _ => (), errs2 += _,
      _ => spark) == 1)
    assert(errs2.exists(_.contains("-nocheck")), s"errs=$errs2")
  }

  test("the ght2dm CLI: verbose run succeeds with the reference's " +
    "per-entity progress lines; bad flags and a bad config are fatal " +
    "(exit 1) without touching Spark (ght2dm.go:1129-1158)") {
    out // force the shared fixture so $root/graft.conf exists
    val printed = collection.mutable.Buffer.empty[String]
    val errs = collection.mutable.Buffer.empty[String]
    val status = Ght2dm.runCli(Array("-v", s"$root/graft.conf"),
      printed += _, errs += _, _ => spark)
    assert(status == 0 && errs.isEmpty, s"errs=$errs")
    assert(printed.exists(_.matches(
      raw"\[users\] processing '2014-01-0\d\.bson'")), s"got $printed")
    assert(printed.exists(_.startsWith("[gh_users] ")), s"got $printed")

    var touched = false
    assert(Ght2dm.runCli(Array("-x", s"$root/graft.conf"),
      _ => (), errs += _, { _ => touched = true; spark }) == 1)
    assert(Ght2dm.runCli(Array(s"$root/no_such.conf"),
      _ => (), errs += _, { _ => touched = true; spark }) == 1)
    assert(!touched, "fatal paths must not build a session")
    assert(errs.exists(_.startsWith("usage:")) &&
      errs.exists(_.contains("cannot read config")), s"errs=$errs")
  }

  test("the ght2dm CLI's verbose row counts read a versioned warehouse " +
    "through its generations: every run exits 0") {
    val dir = Files.createTempDirectory(
      Paths.get("target"), "ingest_vcli").toAbsolutePath.toString
    Files.createDirectories(Paths.get(s"$dir/users"))
    writeDocs(s"$dir/users/2014-01-01.bson", Seq(
      """{"id":1,"login":"alice","type":"User","name":"Alice","email":"a@x.org","created_at":"2013-01-01T00:00:00Z","updated_at":"","followers":1,"following":1,"hireable":true}"""))
    val cfgPath = s"$dir/graft.conf"
    Files.writeString(Paths.get(cfgPath),
      s"""{"ghtorrent_folders": ["$dir/users"], "warehouse_dir": "$dir/wh",
         | "versioned_warehouse": true}""".stripMargin)
    (1 to 2).foreach { run =>
      val printed = collection.mutable.Buffer.empty[String]
      val errs = collection.mutable.Buffer.empty[String]
      val status = Ght2dm.runCli(Array("-v", cfgPath), printed += _,
        errs += _, _ => spark)
      assert(status == 0 && errs.isEmpty, s"run $run: errs=$errs")
      assert(printed.exists(_.startsWith("[users] 1 rows")),
        s"run $run: got $printed")
    }
  }

  test("snapshot-isolated generations: a reader that resolved before a " +
    "merge keeps its complete old snapshot; a new reader sees the merge") {
    import graft.sources.Warehouse
    import org.apache.spark.sql.functions.col
    val tbl = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "whgen").toString + "/users"

    def batch(rows: (Long, String, String)*) =
      rows.toSeq.toDF("id", "v", "updated_at")
    val ordered = Some(Seq(col("updated_at").desc_nulls_last))

    // generation 1
    Ingest.mergeParquetOrderedAllVersioned(spark, Seq(
      (batch((1L, "a1", "2014-01-01"), (2L, "b1", "2014-01-01")),
        tbl, Seq("id"), ordered)))
    // reader A resolves NOW and holds the resolved path across merges
    val resolvedA = Warehouse.currentGeneration(spark, tbl).get

    // generation 2: id 1 updated (newer), id 3 inserted
    Ingest.mergeParquetOrderedAllVersioned(spark, Seq(
      (batch((1L, "a2", "2014-02-01"), (3L, "c1", "2014-01-15")),
        tbl, Seq("id"), ordered)))

    // reader A still reads its ORIGINAL complete snapshot
    val oldSnap = spark.read.parquet(resolvedA)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(oldSnap == Seq((1L, "a1", "2014-01-01"), (2L, "b1", "2014-01-01")))
    // a NEW reader resolves the merged generation (latest-wins on id 1)
    val newSnap = Warehouse.read(spark, tbl)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(newSnap == Seq((1L, "a2", "2014-02-01"),
      (2L, "b1", "2014-01-01"), (3L, "c1", "2014-01-15")))

    // generation 3 + cleanup(keep=2): gen-1 retires, reader A's path
    // is gone but gen-2 (the previous) is still readable
    Ingest.mergeParquetOrderedAllVersioned(spark, Seq(
      (batch((2L, "b2", "2014-03-01")), tbl, Seq("id"), ordered)))
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(resolvedA)),
      "gen-1 should be cleaned under keep=2")
    assert(Warehouse.read(spark, tbl).count() == 3)
    // the pointer log holds exactly the retained window
    val ptrs = fs.listStatus(
      new org.apache.hadoop.fs.Path(tbl, "_gen")).map(_.getPath.getName)
      .filter(_.endsWith(".ptr")).sorted
    assert(ptrs.toSeq == Seq("00000002.ptr", "00000003.ptr"))

    // commitGeneration refuses an empty write (no pointer advances)
    val before = Warehouse.currentGeneration(spark, tbl)
    intercept[IllegalArgumentException] {
      Warehouse.commitGeneration(spark, tbl)(_ => ())
    }
    assert(Warehouse.currentGeneration(spark, tbl) == before)

    // a LOST POINTER RACE surfaces as an error, never as silent
    // clobbering: a "concurrent writer" lands the same pointer number
    // inside the commit window (between the next-number read and the
    // pointer rename — the writer callback runs exactly there), so the
    // atomic create-rename hits an existing destination and fails. The
    // loser's generation data is cleaned up and readers resolve the
    // winner's pointer.
    val log = new org.apache.hadoop.fs.Path(tbl, "_gen")
    val racedPtr = new org.apache.hadoop.fs.Path(log, "00000004.ptr")
    val ex = intercept[java.io.IOException] {
      Warehouse.commitGeneration(spark, tbl) { p =>
        batch((9L, "z", "2014-09-09")).write.parquet(p)
        // the concurrent winner points its generation at gen-00000003
        val out = fs.create(racedPtr, true)
        out.write("gen-00000003".getBytes("UTF-8")); out.close()
      }
    }
    assert(ex.getMessage.contains("lost a race"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tbl, "gen-00000004")),
      "loser's generation data must be cleaned after a lost race")
    assert(Warehouse.read(spark, tbl).count() == 3)
  }

  test("streams onto a VERSIONED root auto-route through generations: " +
    "initVersioned declares the layout once, every micro-batch merge " +
    "commits a new snapshot, no rename-swap artifacts touch the root") {
    import graft.functions.Bson
    import graft.sources.Warehouse
    val dir = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "ingest_vstream").toString
    Files.createDirectories(Paths.get(s"$dir/commits"))
    val wh = s"$dir/warehouse"; val ckpt = s"$dir/_ckpt"
    Warehouse.initVersioned(spark, s"$wh/commits") // declared ONCE
    def commitDoc(sha: String, msg: String, date: String) =
      Bson.docBody(Seq("sha" -> sha,
        "author" -> Seq("id" -> 1L, "login" -> "alice"),
        "committer" -> Seq("id" -> 1L, "login" -> "alice"),
        "commit" -> Seq("message" -> msg, "comment_count" -> 0L,
          "author" -> Seq("name" -> "Alice", "email" -> "a@x",
            "date" -> date),
          "committer" -> Seq("name" -> "Alice", "email" -> "a@x",
            "date" -> date)),
        "parents" -> Bson.BArray(Nil)))
    def runOnce(): Unit = {
      val q = Ingest.runStream(spark, "commits", s"$dir/commits", wh, ckpt)
      q.processAllAvailable(); q.stop()
    }
    DumpSource.writeDump(s"$dir/commits/2014-01-01.bson", Iterator(
      commitDoc("c1", "first copy", "2014-01-01T10:00:00Z")))
    runOnce()
    // generation 1 committed; a reader pins it
    val pinned = Warehouse.resolveAuto(spark, s"$wh/commits")
    assert(Warehouse.readAuto(spark, s"$wh/commits").count() == 1)
    // day 2: re-ship of c1 (first-wins must hold ACROSS generations)
    // + a new commit -> the stream merge commits generation 2
    DumpSource.writeDump(s"$dir/commits/2014-01-02.bson", Iterator(
      commitDoc("c1", "later copy", "2014-01-02T10:00:00Z"),
      commitDoc("c2", "second", "2014-01-02T11:00:00Z")))
    runOnce()
    val got = Warehouse.readAuto(spark, s"$wh/commits")
      .select($"sha", $"message").as[(String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(("c1", "first copy"), ("c2", "second")), s"got $got")
    // the pinned reader still sees its complete generation-1 snapshot
    assert(Warehouse.readAt(spark, pinned).count() == 1)
    // the root holds ONLY the generation layout: no plain parquet, no
    // rename-swap side dirs (the swap path would have clobbered it)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(s"$wh/commits"))
      .map(_.getPath.getName).toSet
    assert(entries.forall(n => n.startsWith("gen-") || n == "_gen"),
      s"unexpected root entries: $entries")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wh/commits.__tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wh/commits.__old")))
  }

  test("the repos stream onto VERSIONED roots reads its existing tables " +
    "through the generation layout: ids continue, no swap artifacts") {
    import graft.sources.Warehouse
    val dir = Files.createTempDirectory(
      Paths.get("target"), "ingest_vrepos").toAbsolutePath.toString
    Files.createDirectories(Paths.get(s"$dir/repos"))
    val wh = s"$dir/warehouse"; val ckpt = s"$dir/_ckpt"
    val roots = Seq(s"$wh/repositories", s"$wh/gh_repositories")
    roots.foreach(Warehouse.initVersioned(spark, _)) // declared ONCE
    def runOnce(): Unit = {
      val q = Ingest.runStream(spark, "repos", s"$dir/repos", wh, ckpt)
      q.processAllAvailable(); q.stop()
    }
    writeDocs(s"$dir/repos/2014-01-01.bson", Seq(
      """{"id":100,"name":"ght2dm","full_name":"devmine/ght2dm","language":"Go","clone_url":"https://github.example/devmine/ght2dm.git","owner":{"login":"devmine"},"fork":false,"forks_count":1,"open_issues_count":5,"stargazers_count":10,"subscribers_count":2,"watchers_count":10,"size_in_kb":512,"created_at":"2014-01-01T00:00:00Z","updated_at":"2014-01-01T10:00:00Z","pushed_at":"2014-01-01T09:00:00Z"}"""))
    runOnce()
    // day 2: a re-ship of repo 100 + a new repo
    writeDocs(s"$dir/repos/2014-01-02.bson", Seq(
      """{"id":100,"name":"ght2dm","full_name":"devmine/ght2dm","language":"Go","clone_url":"https://github.example/devmine/ght2dm.git","owner":{"login":"devmine"},"fork":false,"forks_count":2,"open_issues_count":3,"stargazers_count":12,"subscribers_count":2,"watchers_count":12,"size_in_kb":600,"created_at":"2014-01-01T00:00:00Z","updated_at":"2014-01-02T10:00:00Z","pushed_at":"2014-01-02T09:00:00Z"}""",
      """{"id":200,"name":"repo2","full_name":"alice/repo2","language":"Rust","clone_url":"https://github.example/alice/repo2.git","owner":{"login":"alice"},"fork":false,"forks_count":0,"open_issues_count":0,"stargazers_count":1,"subscribers_count":1,"watchers_count":1,"size_in_kb":64,"created_at":"2014-01-02T00:00:00Z","updated_at":"2014-01-02T00:00:00Z","pushed_at":"2014-01-02T00:00:00Z"}"""))
    runOnce()
    val got = Warehouse.readAuto(spark, s"$wh/repositories")
      .select($"id", $"name").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "ght2dm"), (2L, "repo2")), s"got $got")
    assert(Warehouse.readAuto(spark, s"$wh/gh_repositories").count() == 2)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    roots.foreach { root =>
      val entries = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).toSet
      assert(entries.forall(n => n.startsWith("gen-") || n == "_gen"),
        s"unexpected entries under $root: $entries")
    }
  }

  test("pin-one-generation reads: resolveAuto + readAt hold a multi-scan " +
    "job's view steady across a concurrent merge; existsAuto treats an " +
    "empty versioned layout as not-yet-readable") {
    import graft.sources.Warehouse
    import org.apache.spark.sql.functions.col
    val tbl = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "whpin").toString + "/docs"
    // layout declared but nothing committed: not readable as data
    Warehouse.initVersioned(spark, tbl)
    assert(Warehouse.isVersionedRoot(spark, tbl))
    assert(!Warehouse.existsAuto(spark, tbl))
    val ordered = Some(Seq(col("v").desc_nulls_last))
    Ingest.mergeParquetOrderedAllVersioned(spark, Seq(
      (Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl, Seq("id"), ordered)))
    assert(Warehouse.existsAuto(spark, tbl))
    // a funnel/overlap-style job pins ONCE and scans twice; a merge
    // lands between its scans
    val pinned = Warehouse.resolveAuto(spark, tbl)
    val scan1 = Warehouse.readAt(spark, pinned).count()
    Ingest.mergeParquetOrderedAllVersioned(spark, Seq(
      (Seq((3L, "c")).toDF("id", "v"), tbl, Seq("id"), ordered)))
    val scan2 = Warehouse.readAt(spark, pinned).count()
    assert(scan1 == 2 && scan2 == 2, "mid-job commit changed the job's view")
    // per-call resolution (the hazard the pin exists to avoid) DOES
    // see the new generation
    assert(Warehouse.readAuto(spark, tbl).count() == 3)
    // on a PLAIN parquet dir the pin degrades to the path itself
    val plain = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "whplain").toString + "/t"
    Seq((1L, "x")).toDF("id", "v").write.parquet(plain)
    assert(Warehouse.resolveAuto(spark, plain) == plain)
    assert(Warehouse.readAt(spark, plain).count() == 1)
  }

  /** A seeded four-entity dump set (BSON bodies, four daily shards per
    * entity) with re-shipped users and repos; returns (root, docs). */
  private def fourEntityDumps(prefix: String): (String, Long) = {
    import graft.functions.Bson
    val dir = Files.createTempDirectory(Paths.get("target").toAbsolutePath, prefix).toString
    val shards = 4
    def login(k: Int) = if (k % 20 == 0) s"org_$k" else s"user_$k"
    def day(i: Int) = java.time.LocalDate.of(2014, 1, 1).plusDays(i.toLong)
    var docs = 0L
    def write(entity: String, n: Int)(shipped: Int => Seq[(Int, Array[Byte])]): Unit = {
      Files.createDirectories(Paths.get(s"$dir/$entity"))
      val byShard = (0 until n).flatMap(shipped).groupBy(_._1)
      (0 until shards).foreach { sh =>
        val bodies = byShard.getOrElse(sh, Nil).map(_._2)
        docs += bodies.size
        DumpSource.writeDump(s"$dir/$entity/${day(sh)}.bson", bodies.iterator)
      }
    }
    def shardOf(i: Int, n: Int) = i * shards / n
    def later(sh: Int) = math.min(sh + 1, shards - 1)
    write("users", 400) { k =>
      def doc(updated: String) = Bson.docBody(Seq("id" -> (1000L + k),
        "login" -> login(k), "type" -> (if (k % 20 == 0) "Organization" else "User"),
        "name" -> s"Name $k", "email" -> s"u$k@example.org",
        "created_at" -> "2013-01-01T00:00:00Z", "updated_at" -> updated,
        "followers" -> k.toLong, "following" -> 1L, "hireable" -> (k % 2 == 0)))
      val sh = shardOf(k, 400)
      (sh, doc("2013-06-01T00:00:00Z")) +:
        (if (k % 10 == 3) Seq(later(sh) -> doc("2013-07-01T00:00:00Z")) else Nil)
    }
    def owner(j: Int) = login((j * 7) % 400)
    write("repos", 300) { j =>
      def doc(updated: String, openIssues: Long) = Bson.docBody(Seq(
        "id" -> (5000L + j), "name" -> s"repo_$j",
        "full_name" -> s"${owner(j)}/repo_$j",
        "language" -> Seq("Go", "Rust", "Scala")(j % 3),
        "clone_url" -> s"https://github.example/${owner(j)}/repo_$j.git",
        "owner" -> Seq("login" -> owner(j)), "fork" -> false,
        "forks_count" -> 0L, "open_issues_count" -> openIssues,
        "stargazers_count" -> 1L, "subscribers_count" -> 1L,
        "watchers_count" -> 1L, "size_in_kb" -> 10L,
        "created_at" -> "2014-01-01T00:00:00Z", "updated_at" -> updated,
        "pushed_at" -> updated))
      val sh = shardOf(j, 300)
      (sh, doc("2014-01-01T10:00:00Z", 5L)) +:
        (if (j % 10 == 4) Seq(later(sh) -> doc("2014-01-02T10:00:00Z", 3L)) else Nil)
    }
    write("org_members", 150) { i =>
      Seq(shardOf(i, 150) -> Bson.docBody(Seq("id" -> i.toLong,
        "login" -> login(i * 13 % 400 | 1), "org" -> s"org_${i % 20 * 20}",
        "type" -> "User")))
    }
    write("repo_collaborators", 200) { i =>
      val j = i * 11 % 300
      Seq(shardOf(i, 200) -> Bson.docBody(Seq("id" -> i.toLong,
        "login" -> login(i * 17 % 400 | 1), "repo" -> s"repo_$j",
        "owner" -> owner(j))))
    }
    (dir, docs)
  }

  private def fourEntityConfig(dir: String, warehouse: String) =
    Ingest.Config(Seq("users", "repos", "org_members", "repo_collaborators")
      .map(e => s"$dir/$e"), warehouse)

  /** Rows `DumpSource` batch scans emitted across every executed plan;
    * a persisted frame's plan counts once, at its materialization. */
  private final class DumpScanRows
      extends org.apache.spark.sql.util.QueryExecutionListener {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val rows = new java.util.concurrent.atomic.AtomicLong()
    private val cachedSeen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    private def scanned(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => scanned(a.executedPlan)
      case s: QueryStageExec => scanned(s.plan)
      case _: ReusedExchangeExec => 0L
      case m: InMemoryTableScanExec =>
        if (cachedSeen.add(m.relation.cacheBuilder)) scanned(m.relation.cachedPlan)
        else 0L
      case b: BatchScanExec if b.table.isInstanceOf[graft.sources.DumpTable] =>
        b.metrics("numOutputRows").value
      case other => (other.children ++ other.subqueries).map(scanned).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      rows.addAndGet(scanned(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  test("run() scans each dump folder once: the rows DumpSource emits " +
    "equal the input docs") {
    val (dir, docs) = fourEntityDumps("ingest_onescan")
    val scans = new DumpScanRows
    spark.listenerManager.register(scans)
    val out = try {
      val t = Ingest.run(spark, fourEntityConfig(dir, s"$dir/wh"))
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      t
    } finally spark.listenerManager.unregister(scans)
    assert(scans.rows.get == docs,
      s"DumpSource emitted ${scans.rows.get} rows for $docs docs " +
        f"(${scans.rows.get.toDouble / docs}%.2fx)")
    // the tables are the import's, not an artefact of the counting
    val counts = Seq("users", "gh_users", "gh_organizations", "repositories",
      "gh_repositories").map(t => t -> spark.read.parquet(s"$dir/wh/$t").count()).toMap
    assert(counts == Map("users" -> 380L, "gh_users" -> 380L,
      "gh_organizations" -> 20L, "repositories" -> 300L, "gh_repositories" -> 300L),
      s"got $counts")
    assert(out("users_repositories").count() > 0)
    assert(out("gh_users_organizations").count() > 0)
  }

  test("run() commit failure: the error names a table, no write is still " +
    "running on return, and no persisted frame outlives the call on the " +
    "failure or the success path") {
    val (dir, _) = fourEntityDumps("ingest_commitfail")
    val sc = spark.sparkContext
    // every table's write fails: the warehouse lies below a regular file
    Files.writeString(Paths.get(s"$dir/blocker"), "not a directory")
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStarts.put(e.jobId, e.time)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobEnds.put(e.jobId, e.time)
    }
    // DedupSpec's leak check: the one persistent RDD a run may leave is
    // the surrogate-id copy Surrogate.rangeDenseIds pins for the repos
    // frames it returns; the persisted users/repos frames must be gone
    def leakedBy(body: => Unit): Int = {
      val before = sc.getPersistentRDDs.keySet
      body
      (sc.getPersistentRDDs.keySet -- before).size
    }
    sc.addSparkListener(jobs)
    var returnedAt = 0L
    val failedLeak = try leakedBy {
      val e = intercept[RuntimeException] {
        try Ingest.run(spark, fourEntityConfig(dir, s"$dir/blocker/wh"))
        finally returnedAt = System.currentTimeMillis()
      }
      val tables = Seq("users", "gh_users", "gh_organizations", "repositories",
        "gh_repositories", "gh_users_organizations", "users_repositories")
      assert(tables.exists(t => e.getMessage.contains(s"table $t ")), e.getMessage)
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(jobs)
    val running = jobStarts.keySet.asScala -- jobEnds.keySet.asScala
    assert(running.isEmpty, s"jobs still running after run() returned: $running")
    assert(jobStarts.values.asScala.forall(_ <= returnedAt),
      "a job started after run() returned")
    assert(failedLeak <= 1, s"$failedLeak persistent RDDs left by the failed run")
    val okLeak = leakedBy(Ingest.run(spark, fourEntityConfig(dir, s"$dir/wh")))
    assert(okLeak <= 1, s"$okLeak persistent RDDs left by the successful run")
  }
}
