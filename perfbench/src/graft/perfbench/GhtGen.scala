package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.functions.Bson
import graft.sources.DumpSource

/** Seeded synthetic GHTorrent dump set: four entity folders
  * (`users`, `repos`, `org_members`, `repo_collaborators`) of
  * mongodump-style `YYYY-MM-DD.bson` shards with real BSON bodies
  * (`Bson.docBody`) and no sidecar index.
  *
  * Every document is a pure function of (seed, entity, index), so the
  * generator also derives the exact row counts the import must produce
  * without running Spark. Shape:
  *  - users: every 50th account is an Organization; 5% of accounts are
  *    re-shipped in a later shard with a newer `updated_at`;
  *  - repos: 10% re-shipped with newer `updated_at`/`pushed_at` and fewer
  *    open issues (a unique latest-wins winner); 1% carry an empty
  *    language, which the import's non-empty-key guard drops;
  *  - org_members / repo_collaborators: distinct (user, target) pairs; 1%
  *    name a login that is absent, 0.5% of collaborator rows name an
  *    absent repo, and 2% of member rows are shipped twice.
  */
final case class GhtSizes(users: Int, repos: Int, members: Int,
                          collaborators: Int, shards: Int)

final case class GhtExpected(tables: Map[String, Long], inputDocs: Long)

object GhtGen {
  val entities: Seq[String] = Seq("users", "repos", "org_members", "repo_collaborators")
  private val langs = Seq("Go", "Rust", "Scala", "Python", "C", "Java", "Ruby")

  private def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(seed: Long, a: Long, b: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, a, b), n.toLong).toInt

  private def isOrg(k: Int): Boolean = k % 50 == 0
  private def login(k: Int): String = if (isOrg(k)) s"org_$k" else s"user_$k"
  private def reshipUser(k: Int): Boolean = k % 20 == 7
  private def reshipRepo(j: Int): Boolean = j % 10 == 3
  private def repoLang(seed: Long, j: Int): String =
    if (j % 100 == 42) "" else langs(pick(seed, 2, j, langs.size))

  /** Indices of the non-organization accounts. */
  private def userIdx(s: GhtSizes): IndexedSeq[Int] = (0 until s.users).filterNot(isOrg)
  private def orgIdx(s: GhtSizes): IndexedSeq[Int] = (0 until s.users).filter(isOrg)

  private def repoOwner(seed: Long, s: GhtSizes, j: Int): Int = pick(seed, 3, j, s.users)

  private def shardOf(i: Int, n: Int, shards: Int): Int = (i.toLong * shards / n).toInt
  private def later(shard: Int, shards: Int): Int = math.min(shard + 1, shards - 1)

  private def shardName(i: Int): String = {
    val d = java.time.LocalDate.of(2014, 1, 1).plusDays(i.toLong)
    s"$d.bson"
  }

  private def ts(base: String, secs: Long): String =
    java.time.Instant.parse(base).plusSeconds(secs).toString

  private def userDoc(seed: Long, k: Int, version: Int): Array[Byte] = {
    val id = 1000L + k
    Bson.docBody(Seq(
      "_id" -> f"$id%024x",
      "id" -> id,
      "login" -> login(k),
      "type" -> (if (isOrg(k)) "Organization" else "User"),
      "name" -> s"Name $k",
      "email" -> s"u$k@example.org",
      "company" -> s"company ${pick(seed, 4, k, 97)}",
      "location" -> s"city ${pick(seed, 5, k, 31)}",
      "bio" -> s"bio of account $k",
      "avatar_url" -> s"https://avatars.example/u/$id",
      "html_url" -> s"https://github.example/${login(k)}",
      "hireable" -> (pick(seed, 6, k, 2) == 0),
      "followers" -> (pick(seed, 7, k, 1000) + version),
      "following" -> pick(seed, 8, k, 100),
      "created_at" -> ts("2012-01-01T00:00:00Z", k.toLong),
      "updated_at" -> ts(if (version == 0) "2014-01-01T00:00:00Z"
                         else "2014-06-01T00:00:00Z", k.toLong)))
  }

  private def repoDoc(seed: Long, s: GhtSizes, j: Int, version: Int): Array[Byte] = {
    val id = 5000000L + j
    val owner = login(repoOwner(seed, s, j))
    val name = s"repo_$j"
    Bson.docBody(Seq(
      "id" -> id,
      "name" -> name,
      "full_name" -> s"$owner/$name",
      "description" -> s"repository number $j",
      "homepage" -> s"https://pages.example/$j",
      "language" -> repoLang(seed, j),
      "default_branch" -> "master",
      "master_branch" -> "master",
      "html_url" -> s"https://github.example/$owner/$name",
      "clone_url" -> s"https://github.example/$owner/$name.git",
      "owner" -> Seq("login" -> owner, "id" -> (1000L + repoOwner(seed, s, j))),
      "fork" -> (pick(seed, 9, j, 3) == 0),
      "forks_count" -> pick(seed, 10, j, 50).toLong,
      "open_issues_count" -> (pick(seed, 11, j, 20) + 10 - 5 * version).toLong,
      "stargazers_count" -> pick(seed, 12, j, 500).toLong,
      "subscribers_count" -> pick(seed, 13, j, 40).toLong,
      "watchers_count" -> pick(seed, 14, j, 500).toLong,
      "size_in_kb" -> pick(seed, 15, j, 9000).toLong,
      "created_at" -> ts("2011-01-01T00:00:00Z", j.toLong),
      "updated_at" -> ts(if (version == 0) "2014-01-01T00:00:00Z"
                         else "2014-07-01T00:00:00Z", j.toLong),
      "pushed_at" -> ts(if (version == 0) "2013-12-01T00:00:00Z"
                        else "2014-06-15T00:00:00Z", j.toLong)))
  }

  // relation row i → (user account index or absent, target)
  private def memberRow(s: GhtSizes, i: Int, us: IndexedSeq[Int],
                        os: IndexedSeq[Int]): (String, String) = {
    val u = if (i % 100 == 5) s"ghost_$i" else login(us(i % us.size))
    (u, login(os((i + i / us.size) % os.size)))
  }

  private def collabRow(seed: Long, s: GhtSizes, i: Int,
                        us: IndexedSeq[Int]): (String, String, String, Int) = {
    val u = if (i % 100 == 11) s"ghost_$i" else login(us(i % us.size))
    val j = (i + i / us.size) % s.repos
    val repo = if (i % 200 == 13) s"missing_repo_$i" else s"repo_$j"
    (u, repo, login(repoOwner(seed, s, j)), j)
  }

  /** The docs of one entity that ship in shard `sh`, in index order. */
  private def shardDocs(seed: Long, s: GhtSizes, entity: String,
                        sh: Int): Iterator[Array[Byte]] = {
    val n = s.shards
    // primary copy in its own shard, optional second copy one shard later
    def shipped(count: Int, twice: Int => Boolean)(doc: (Int, Int) => Array[Byte]) =
      (0 until count).iterator.flatMap { i =>
        val p = shardOf(i, count, n)
        (if (p == sh) Iterator(doc(i, 0)) else Iterator.empty) ++
          (if (twice(i) && later(p, n) == sh) Iterator(doc(i, 1)) else Iterator.empty)
      }
    entity match {
      case "users" =>
        shipped(s.users, reshipUser)((k, v) => userDoc(seed, k, v))
      case "repos" =>
        shipped(s.repos, reshipRepo)((j, v) => repoDoc(seed, s, j, v))
      case "org_members" =>
        val (us, os) = (userIdx(s), orgIdx(s))
        shipped(s.members, _ % 50 == 9) { (i, _) =>
          val (u, o) = memberRow(s, i, us, os)
          Bson.docBody(Seq("id" -> (9000000L + i), "login" -> u,
            "org" -> o, "type" -> "member"))
        }
      case "repo_collaborators" =>
        val us = userIdx(s)
        shipped(s.collaborators, _ => false) { (i, _) =>
          val (u, repo, owner, _) = collabRow(seed, s, i, us)
          Bson.docBody(Seq("id" -> (8000000L + i), "login" -> u,
            "repo" -> repo, "owner" -> owner))
        }
    }
  }

  /** Write `entities` under `root/<entity>/` — one Spark task per
    * (entity, shard) — and return the number of docs written. */
  def write(spark: SparkSession, root: String, seed: Long, s: GhtSizes,
            entities: Seq[String] = entities): Long = {
    val jobs = for (e <- entities; sh <- 0 until s.shards) yield (e, sh)
    entities.foreach(e => new java.io.File(s"$root/$e").mkdirs())
    spark.sparkContext.parallelize(jobs, jobs.size).map { case (e, sh) =>
      var count = 0L
      DumpSource.writeDump(s"$root/$e/${shardName(sh)}",
        shardDocs(seed, s, e, sh).map { d => count += 1; d })
      count
    }.reduce(_ + _)
  }

  /** Exact output row counts of `Ingest.run` over [[write]]'s output. */
  def expected(seed: Long, s: GhtSizes): GhtExpected = {
    val us = userIdx(s)
    val os = orgIdx(s)
    val goodRepo = (0 until s.repos).map(j => repoLang(seed, j).nonEmpty)
    val repos = goodRepo.count(identity).toLong
    val members = (0 until s.members).map(i => memberRow(s, i, us, os))
      .filterNot(_._1.startsWith("ghost_")).distinct.size.toLong
    val collabs = (0 until s.collaborators).map(i => collabRow(seed, s, i, us))
      .filter { case (u, repo, _, j) =>
        !u.startsWith("ghost_") && !repo.startsWith("missing_") && goodRepo(j) }
      .map { case (u, _, _, j) => (u, j) }.distinct.size.toLong
    val docs =
      s.users + (0 until s.users).count(reshipUser) +
      s.repos + (0 until s.repos).count(reshipRepo) +
      s.members + (0 until s.members).count(_ % 50 == 9) +
      s.collaborators
    GhtExpected(Map(
      "users" -> us.size.toLong,
      "gh_users" -> us.size.toLong,
      "gh_organizations" -> os.size.toLong,
      "repositories" -> repos,
      "gh_repositories" -> repos,
      "gh_users_organizations" -> members,
      "users_repositories" -> collabs), docs.toLong)
  }

  /** Docs in the `users` folder alone (the stream layers' input). */
  def userDocs(s: GhtSizes): Long = s.users + (0 until s.users).count(reshipUser)
}
