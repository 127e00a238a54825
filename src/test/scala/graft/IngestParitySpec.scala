package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bson
import graft.sources.DumpSource

/** [[Ingest.run]] and [[Ingest.runStream]] read one entity table: over
  * the same dump set, a batch import and a single-batch stream into an
  * empty warehouse must land the same rows in every table. */
class IngestParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String = Files.createTempDirectory(
    Files.createDirectories(Paths.get("target")), prefix).toAbsolutePath.toString

  private def user(id: Long, login: String, kind: String, updated: String,
                   followers: Long) =
    Bson.docBody(Seq("id" -> id, "login" -> login, "type" -> kind,
      "name" -> login.capitalize, "email" -> s"$login@x.org",
      "hireable" -> true, "followers" -> followers, "following" -> 1L,
      "created_at" -> "2013-01-01T00:00:00Z", "updated_at" -> updated))

  private def repo(id: Long, name: String, owner: String, lang: String,
                   openIssues: Long, updated: String) =
    Bson.docBody(Seq("id" -> id, "name" -> name,
      "full_name" -> s"$owner/$name", "language" -> lang,
      "clone_url" -> s"https://github.example/$owner/$name.git",
      "owner" -> Seq("login" -> owner), "fork" -> false,
      "forks_count" -> 1L, "open_issues_count" -> openIssues,
      "stargazers_count" -> 3L, "subscribers_count" -> 1L,
      "watchers_count" -> 3L, "size_in_kb" -> 64L,
      "created_at" -> "2014-01-01T00:00:00Z", "updated_at" -> updated,
      "pushed_at" -> updated))

  private def commit(sha: String, msg: String, date: String) =
    Bson.docBody(Seq("sha" -> sha,
      "author" -> Seq("id" -> 1L, "login" -> "alice"),
      "committer" -> Seq("id" -> 1L, "login" -> "alice"),
      "commit" -> Seq("message" -> msg, "comment_count" -> 0L,
        "author" -> Seq("name" -> "Alice", "email" -> "a@x", "date" -> date),
        "committer" -> Seq("name" -> "Alice", "email" -> "a@x", "date" -> date)),
      "parents" -> Bson.BArray(Seq(Seq("sha" -> s"$sha-parent")))))

  private def event(id: String, at: String) =
    Bson.docBody(Seq("id" -> id, "type" -> "PushEvent", "public" -> true,
      "created_at" -> at, "actor" -> Seq("id" -> 1L, "login" -> "alice"),
      "repo" -> Seq("id" -> 100L, "name" -> "devmine/ght2dm"),
      "org" -> Seq("id" -> 3L, "login" -> "devmine")))

  private def issue(id: Long, state: String, updated: String) =
    Bson.docBody(Seq("id" -> id, "number" -> (id - 499L), "state" -> state,
      "title" -> s"issue $id", "body" -> "text", "comments" -> 1L,
      "user" -> Seq("id" -> 1L, "login" -> "alice"),
      "labels" -> Bson.BArray(Seq(Seq("name" -> "bug", "color" -> "red"))),
      "created_at" -> "2014-01-01T00:00:00Z", "updated_at" -> updated))

  private def pullRequest(id: Long, merged: Boolean, updated: String) =
    Bson.docBody(Seq("id" -> id, "number" -> 1L, "state" -> "open",
      "title" -> "fix", "body" -> "b", "merged" -> merged,
      "additions" -> 3L, "deletions" -> 1L, "changed_files" -> 1L,
      "user" -> Seq("id" -> 1L, "login" -> "alice"),
      "head" -> Seq("sha" -> "h1", "ref" -> "topic",
        "repo" -> Seq("id" -> 200L, "full_name" -> "alice/ght2dm")),
      "base" -> Seq("sha" -> "b1", "ref" -> "master",
        "repo" -> Seq("id" -> 100L, "full_name" -> "devmine/ght2dm")),
      "created_at" -> "2014-01-01T00:00:00Z", "updated_at" -> updated))

  private def comment(id: Long, body: String, updated: String) =
    Bson.docBody(Seq("id" -> id, "body" -> body,
      "user" -> Seq("id" -> 1L, "login" -> "alice"),
      "created_at" -> "2014-01-01T00:00:00Z", "updated_at" -> updated))

  private def watcher(login: String, at: String) =
    Bson.docBody(Seq("id" -> 1L, "login" -> login, "repo" -> "ght2dm",
      "owner" -> "devmine", "created_at" -> at))

  private def fork(id: Long, at: String) =
    Bson.docBody(Seq("id" -> id, "name" -> "ght2dm",
      "full_name" -> s"user$id/ght2dm",
      "owner" -> Seq("id" -> id, "login" -> s"user$id"),
      "parent" -> Seq("id" -> 100L, "full_name" -> "devmine/ght2dm"),
      "created_at" -> at))

  private def label(id: Long, name: String, color: String) =
    Bson.docBody(Seq("id" -> id, "name" -> name, "color" -> color,
      "default" -> false, "repo" -> "ght2dm", "owner" -> "devmine"))

  private def geo(location: String, lat: Double, updated: String) =
    Bson.docBody(Seq("location" -> location, "lat" -> lat, "long" -> 2.35,
      "country_code" -> "fr", "state" -> "IDF", "city" -> location,
      "status" -> "OK", "updated_at" -> updated))

  private def follower(login: String, follows: String, at: String) =
    Bson.docBody(Seq("id" -> 1L, "login" -> login, "follows" -> follows,
      "created_at" -> at))

  private def issueEvent(id: Long, event: String, at: String) =
    Bson.docBody(Seq("id" -> id, "event" -> event,
      "actor" -> Seq("id" -> 1L, "login" -> "alice"), "issue_id" -> 500L,
      "repo" -> "ght2dm", "owner" -> "devmine", "created_at" -> at))

  private def prCommit(prId: Long, sha: String) =
    Bson.docBody(Seq("sha" -> sha, "pr_id" -> prId,
      "author" -> Seq("id" -> 1L, "login" -> "alice"),
      "commit" -> Seq("message" -> "fix",
        "author" -> Seq("name" -> "Alice", "email" -> "a@x",
          "date" -> "2014-01-01T07:00:00Z"))))

  /** Two dump days per entity, the second re-shipping some keys as a
    * GHTorrent re-crawl would: newer or older snapshots of editable
    * rows, identical copies of immutable ones. */
  private val dumps: Seq[(String, Seq[Array[Byte]], Seq[Array[Byte]])] = Seq(
    ("users",
      Seq(user(1L, "alice", "User", "2013-06-01T00:00:00Z", 10L),
        user(3L, "devmine", "Organization", "2013-03-01T00:00:00Z", 0L)),
      Seq(user(1L, "alice", "User", "2013-07-01T00:00:00Z", 11L),
        user(2L, "bob", "User", "2013-02-01T00:00:00Z", 0L))),
    ("repos",
      Seq(repo(100L, "ght2dm", "devmine", "Go", 5L, "2014-01-01T10:00:00Z"),
        repo(101L, "nolang", "alice", "", 0L, "2014-01-01T00:00:00Z")),
      Seq(repo(100L, "ght2dm", "devmine", "Go", 3L, "2014-01-02T10:00:00Z"),
        repo(200L, "repo2", "alice", "Rust", 0L, "2014-01-02T00:00:00Z"))),
    ("commits",
      Seq(commit("c1", "first", "2014-01-01T10:00:00Z"),
        commit("c2", "second", "2014-01-01T11:00:00Z")),
      Seq(commit("c1", "first", "2014-01-01T10:00:00Z"),
        commit("c3", "third", "2014-01-02T10:00:00Z"))),
    ("events",
      Seq(event("e1", "2014-01-01T10:00:00Z"), event("e2", "2014-01-01T11:00:00Z")),
      Seq(event("e1", "2014-01-01T10:00:00Z"), event("e3", "2014-01-02T10:00:00Z"))),
    ("issues",
      Seq(issue(500L, "open", "2014-01-01T00:00:00Z")),
      Seq(issue(500L, "closed", "2014-01-02T00:00:00Z"),
        issue(501L, "open", "2014-01-02T00:00:00Z"))),
    ("pull_requests",
      Seq(pullRequest(900L, merged = false, "2014-01-01T00:00:00Z")),
      Seq(pullRequest(900L, merged = true, "2014-01-02T00:00:00Z"))),
    ("commit_comments",
      Seq(comment(7000L, "commit v1", "2014-01-01T10:00:00Z")),
      Seq(comment(7000L, "commit v2", "2014-01-02T10:00:00Z"))),
    ("issue_comments",
      Seq(comment(7000L, "issue side", "2014-01-01T10:00:00Z")),
      Seq(comment(7000L, "issue stale", "2013-12-31T10:00:00Z"))),
    ("pull_request_comments",
      Seq(comment(9000L, "nit", "2014-01-01T10:00:00Z")),
      Seq(comment(9001L, "lgtm", "2014-01-02T10:00:00Z"))),
    ("watchers",
      Seq(watcher("alice", "2014-01-02T08:00:00Z")),
      Seq(watcher("alice", "2014-01-01T08:00:00Z"),
        watcher("bob", "2014-01-03T08:00:00Z"))),
    ("forks",
      Seq(fork(8000L, "2014-01-02T08:00:00Z")),
      Seq(fork(8000L, "2014-01-01T08:00:00Z"), fork(8001L, "2014-01-02T09:00:00Z"))),
    ("repo_labels",
      Seq(label(42L, "bug", "red"), label(43L, "docs", "green")),
      Seq(label(42L, "bug", "blue"))),
    ("geo_locations",
      Seq(geo("Paris", 48.85, "2014-01-01T00:00:00Z")),
      Seq(geo("Paris", 48.86, "2014-01-02T00:00:00Z"),
        geo("Lyon", 45.76, "2014-01-02T00:00:00Z"))),
    ("followers",
      Seq(follower("alice", "bob", "2014-01-01T08:00:00Z")),
      Seq(follower("alice", "bob", "2014-01-02T08:00:00Z"),
        follower("bob", "alice", "2014-01-03T08:00:00Z"))),
    ("issue_events",
      Seq(issueEvent(1L, "labeled", "2014-01-01T08:00:00Z"),
        issueEvent(2L, "closed", "2014-01-02T08:00:00Z")),
      Seq(issueEvent(1L, "labeled", "2014-01-01T08:00:00Z"))),
    ("pull_request_commits",
      Seq(prCommit(1L, "abc"), prCommit(2L, "abc")),
      Seq(prCommit(2L, "abc"), prCommit(2L, "def"))))

  /** Every table each dump folder writes. */
  private val tablesOf = Map(
    "users" -> Seq("users", "gh_users", "gh_organizations"),
    "repos" -> Seq("repositories", "gh_repositories"),
    "commit_comments" -> Seq("comments"),
    "issue_comments" -> Seq("comments"),
    "pull_request_comments" -> Seq("comments"))

  test("run() and a single-batch runStream land the same rows in every " +
    "table of every entity without a dimension dependency") {
    val dir = tmpDir("ingest_parity")
    dumps.foreach { case (entity, day1, day2) =>
      Files.createDirectories(Paths.get(s"$dir/dumps/$entity"))
      DumpSource.writeDump(s"$dir/dumps/$entity/2014-01-01.bson", day1.iterator)
      DumpSource.writeDump(s"$dir/dumps/$entity/2014-01-02.bson", day2.iterator)
    }
    val entities = dumps.map(_._1)
    val batchWh = s"$dir/batch"
    val streamWh = s"$dir/stream"
    val written = Ingest.run(spark, Ingest.Config(
      entities.map(e => s"$dir/dumps/$e"), batchWh)).keySet
    entities.foreach { entity =>
      val q = Ingest.runStream(spark, entity, s"$dir/dumps/$entity",
        streamWh, s"$dir/_ck/$entity")
      q.processAllAvailable(); q.stop()
    }
    val tables = entities.flatMap(e => tablesOf.getOrElse(e, Seq(e))).distinct
    assert(written == tables.toSet)
    tables.foreach { t =>
      def rows(wh: String) = spark.read.parquet(s"$wh/$t")
        .collect().map(_.toString).sorted.toSeq
      val batch = rows(batchWh)
      assert(batch.nonEmpty, t)
      assert(rows(streamWh) == batch, s"table $t")
    }
  }

  test("runStream rejects an unknown entity before a query starts, " +
    "naming the known ones") {
    val dir = tmpDir("ingest_unknown")
    val ckpt = s"$dir/_ck"
    val e = intercept[IllegalArgumentException] {
      Ingest.runStream(spark, "comments", s"$dir/comments", s"$dir/wh", ckpt)
    }
    assert(e.getMessage.contains("'comments'"), e.getMessage)
    (Seq("org_members", "repo_collaborators") ++ dumps.map(_._1)).foreach(k =>
      assert(e.getMessage.contains(k), s"$k missing from: ${e.getMessage}"))
    assert(!Files.exists(Paths.get(ckpt)), "no checkpoint for a rejected entity")
    assert(!Files.exists(Paths.get(s"$dir/wh")))
  }
}
