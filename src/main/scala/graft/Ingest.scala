package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.functions.Normalize
import graft.operators.{Dedup, Resolve, Surrogate}
import graft.sources.DumpSource

/** The composed pipeline — what `ght2dm <config>` does end-to-end
  * (ght2dm.go:1129-1158), on GHTorrent-shaped entities:
  *
  * for each configured dump folder (entity = folder basename,
  * ght2dm.go:1153-1156), visit `YYYY-MM-DD` files newest-first, read
  * length-prefixed docs, parse, normalize, and load:
  *
  *  - `users`: type-dispatch User/Organization; project into
  *    users/gh_users/gh_organizations with the reference's
  *    normalizations (ght2dm.go:238-431)
  *  - `repos`: stage, latest-wins dedup per clone_path, anti-join vs
  *    existing, surrogate ids, repositories/gh_repositories split
  *    (ght2dm.go:492-623 + db/insert_from_tmp_tables.sql)
  *  - `org_members`: login→id broadcast resolution
  *    (ght2dm.go:655-810)
  *  - `repo_collaborators`: login + full_name→id resolution
  *    (ght2dm.go:812-959)
  *
  * Docs decode per-row by content: real BSON bodies (what a GHTorrent
  * mongodump shard contains) through [[graft.plans.FromBson]] —
  * the binary twin of the reference's mgo/bson unmarshalling
  * (ght2dm.go:277-315) — and JSON-encoded bodies (the container's
  * test fixtures) through `from_json`. A BSON body's first byte is an
  * element type (≤ 0x13), a JSON doc's is `{`, so one byte dispatches
  * (see [[decodeDoc]]).
  *
  * Each entity's facts — folder name, doc schema, output tables and
  * their merge keys and merge order — are one row of the entity table
  * ([[EntitySpec]], `entities` below), which both [[run]] and
  * [[runStream]] read.
  */
object Ingest {

  /** Parsed config (ght2dm.conf.example: `ghtorrent_folders` +
    * database target → here a staging/warehouse directory). */
  case class Config(ghtorrentFolders: Seq[String], warehouseDir: String,
                    versionedWarehouse: Boolean = false)

  object Config {
    /** Minimal JSON config reader (readConfig, ght2dm.go:186-199).
      * The optional `"versioned_warehouse": true` flag (graft
      * extension) commits each output table as a
      * [[graft.sources.Warehouse]] generation instead of an in-place
      * overwrite, so readers concurrent with a re-import keep a
      * complete snapshot. */
    def load(path: String): Config = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(txt)
      Config(
        (j \ "ghtorrent_folders").extract[Seq[String]],
        (j \ "warehouse_dir").extract[String],
        (j \ "versioned_warehouse").extractOrElse[Boolean](false))
    }
  }

  val userSchema: StructType = StructType.fromDDL(
    """id BIGINT, login STRING, avatar_url STRING, html_url STRING,
      |type STRING, name STRING, company STRING, bio STRING,
      |location STRING, email STRING, hireable BOOLEAN,
      |followers BIGINT, following BIGINT,
      |created_at STRING, updated_at STRING""".stripMargin.replaceAll("\n", " "))

  val repoSchema: StructType = StructType.fromDDL(
    """id BIGINT, name STRING, full_name STRING, description STRING,
      |homepage STRING, language STRING, default_branch STRING,
      |master_branch STRING, html_url STRING, clone_url STRING,
      |fork BOOLEAN, forks_count BIGINT, open_issues_count BIGINT,
      |stargazers_count BIGINT, subscribers_count BIGINT,
      |watchers_count BIGINT, size_in_kb BIGINT,
      |created_at STRING, updated_at STRING, pushed_at STRING,
      |owner STRUCT<login: STRING>""".stripMargin.replaceAll("\n", " "))

  val orgMemberSchema: StructType = StructType.fromDDL(
    "id BIGINT, login STRING, org STRING, type STRING")

  val repoCollaboratorSchema: StructType = StructType.fromDDL(
    "id BIGINT, login STRING, repo STRING, owner STRING")

  /** GHTorrent `commits` collection (GitHub commit API shape). The
    * reference stops at 4 entity kinds (ght2dm.go:1153-1156); these
    * ride the SAME decode path — one more `StructType` each, including
    * the `parents` array the scalar-only schemas couldn't carry. */
  val commitSchema: StructType = StructType.fromDDL(
    """sha STRING, url STRING,
      |author STRUCT<id: BIGINT, login: STRING>,
      |committer STRUCT<id: BIGINT, login: STRING>,
      |commit STRUCT<message: STRING, comment_count: BIGINT,
      |  author: STRUCT<name: STRING, email: STRING, date: STRING>,
      |  committer: STRUCT<name: STRING, email: STRING, date: STRING>>,
      |parents ARRAY<STRUCT<sha: STRING>>""".stripMargin.replaceAll("\n", " "))

  /** GHTorrent `events` collection (GitHub event feed shape; `id` is a
    * STRING in the API). */
  val eventSchema: StructType = StructType.fromDDL(
    """id STRING, type STRING, public BOOLEAN, created_at STRING,
      |actor STRUCT<id: BIGINT, login: STRING>,
      |repo STRUCT<id: BIGINT, name: STRING>,
      |org STRUCT<id: BIGINT, login: STRING>""".stripMargin.replaceAll("\n", " "))

  /** GHTorrent `issues` collection (GitHub issue API shape; `labels`
    * exercises the ARRAY<STRUCT> decode). */
  val issueSchema: StructType = StructType.fromDDL(
    """id BIGINT, number BIGINT, state STRING, title STRING, body STRING,
      |comments BIGINT,
      |user STRUCT<id: BIGINT, login: STRING>,
      |assignee STRUCT<id: BIGINT, login: STRING>,
      |labels ARRAY<STRUCT<name: STRING, color: STRING>>,
      |created_at STRING, updated_at STRING,
      |closed_at STRING""".stripMargin.replaceAll("\n", " "))

  /** GHTorrent `pull_requests` collection (GitHub PR API shape; the
    * head/base refs carry the repos the PR bridges). */
  val pullRequestSchema: StructType = StructType.fromDDL(
    """id BIGINT, number BIGINT, state STRING, title STRING, body STRING,
      |merged BOOLEAN, additions BIGINT, deletions BIGINT,
      |changed_files BIGINT,
      |user STRUCT<id: BIGINT, login: STRING>,
      |head STRUCT<sha: STRING, ref: STRING,
      |  repo: STRUCT<id: BIGINT, full_name: STRING>>,
      |base STRUCT<sha: STRING, ref: STRING,
      |  repo: STRUCT<id: BIGINT, full_name: STRING>>,
      |created_at STRING, updated_at STRING, merged_at STRING,
      |closed_at STRING""".stripMargin.replaceAll("\n", " "))

  /** GHTorrent `watchers` collection (stargazer rows; GHTorrent stamps
    * the retrieval keys `repo`/`owner` next to the raw API fields,
    * same as org_members/repo_collaborators). */
  val watcherSchema: StructType = StructType.fromDDL(
    """id BIGINT, login STRING, repo STRING, owner STRING,
      |created_at STRING""".stripMargin.replaceAll("\n", " "))

  /** GHTorrent `commit_comments` / `issue_comments` collections — the
    * GitHub comment API shape is shared; the anchor differs
    * (`commit_id` sha vs GHTorrent's stamped `issue_id`), so one
    * schema carries both and [[importComments]] keeps whichever anchor
    * the row has. */
  val commentSchema: StructType = StructType.fromDDL(
    """id BIGINT, body STRING, commit_id STRING, issue_id BIGINT,
      |position BIGINT, line BIGINT, path STRING,
      |user STRUCT<id: BIGINT, login: STRING>,
      |created_at STRING, updated_at STRING""".stripMargin.replaceAll("\n", " "))

  /** GHTorrent `forks` collection (repository objects carrying their
    * `parent` ref). */
  val forkSchema: StructType = StructType.fromDDL(
    """id BIGINT, name STRING, full_name STRING,
      |owner STRUCT<id: BIGINT, login: STRING>,
      |parent STRUCT<id: BIGINT, full_name: STRING>,
      |created_at STRING""".stripMargin.replaceAll("\n", " "))

  /** GHTorrent `repo_labels` collection (GitHub label API shape, with
    * GHTorrent's stamped `repo`/`owner` retrieval keys — same stamping
    * as org_members/watchers). Label ids are a GitHub id sequence of
    * their own. */
  val repoLabelSchema: StructType = StructType.fromDDL(
    """id BIGINT, name STRING, color STRING, url STRING,
      |default BOOLEAN, repo STRING, owner STRING"""
      .stripMargin.replaceAll("\n", " "))

  /** GHTorrent `geo_locations` geocoding cache (one doc per distinct
    * free-text `location` string seen on user profiles, with the
    * resolved coordinates; `status` records whether geocoding
    * succeeded). The natural key is the location TEXT, not an id. */
  val geoLocationSchema: StructType = StructType.fromDDL(
    """location STRING, lat DOUBLE, long DOUBLE, country_code STRING,
      |state STRING, city STRING, status STRING, updated_at STRING"""
      .stripMargin.replaceAll("\n", " "))

  /** GHTorrent `followers` collection (follower user rows stamped with
    * the followed login in `follows`, the org_members stamping
    * pattern). */
  val followerSchema: StructType = StructType.fromDDL(
    "id BIGINT, login STRING, follows STRING, created_at STRING")

  /** GHTorrent `issue_events` collection (issue timeline entries —
    * closed/reopened/labeled/referenced… — with GHTorrent's stamped
    * `issue_id`/`repo`/`owner` retrieval keys; timeline entries are
    * immutable once emitted). */
  val issueEventSchema: StructType = StructType.fromDDL(
    """id BIGINT, event STRING, commit_id STRING,
      |actor STRUCT<id: BIGINT, login: STRING>,
      |issue_id BIGINT, repo STRING, owner STRING,
      |created_at STRING""".stripMargin.replaceAll("\n", " "))

  /** GHTorrent `pull_request_commits` collection (commit API objects
    * stamped with the retrieval PR id — the (pr, sha) relation; one
    * commit can belong to several PRs, so the natural key is the
    * PAIR, not the sha). */
  val pullRequestCommitSchema: StructType = StructType.fromDDL(
    """sha STRING, pr_id BIGINT,
      |author STRUCT<id: BIGINT, login: STRING>,
      |commit STRUCT<message: STRING,
      |  author: STRUCT<name: STRING, email: STRING, date: STRING>>"""
      .stripMargin.replaceAll("\n", " "))

  /** Per-row decode dispatch. A JSON doc starts with `{` and never
    * ends with 0x00; BSON always ends with the 0x00 terminator — in
    * BOTH shapes [[graft.functions.BsonDecoder.decode]] accepts: a
    * prefix-stripped body (what [[graft.sources.DumpSource]] emits;
    * starts with a type byte, never `{`) and a full document (whose
    * first byte is the low length byte and CAN be 0x7B = `{` when
    * totalLen ≡ 123 mod 256 — the terminator check keeps such docs on
    * the BSON branch instead of feeding them to from_json). Both
    * `when` branches are codegen'd and evaluated lazily per row. */
  def decodeDoc(doc: org.apache.spark.sql.Column, schema: StructType): org.apache.spark.sql.Column = {
    val isJson = substring(doc, 1, 1) === lit("{".getBytes(
      java.nio.charset.StandardCharsets.US_ASCII)) &&
      doc.substr(length(doc), lit(1)) =!= lit(Array(0.toByte))
    when(isJson, from_json(doc.cast("string"), schema))
      .otherwise(graft.plans.BsonFunctions.fromBson(doc, schema))
  }

  /** Read one entity folder: date-ordered files → framed docs →
    * parsed columns (BSON or JSON bodies, see [[decodeDoc]]). */
  def readEntity(spark: SparkSession, folder: String, schema: StructType): DataFrame = {
    val paths = DumpSource.listDateOrdered(folder)
    require(paths.nonEmpty, s"no YYYY-MM-DD.bson files in $folder")
    decodeAll(spark.read.format("graft.sources.DumpDataSource").load(paths: _*),
      schema)
  }

  /** Framed docs (batch or streaming) → parsed columns. */
  private def decodeAll(docs: DataFrame, schema: StructType): DataFrame =
    docs.select(decodeDoc(col("doc"), schema).as("e")).select(col("e.*"))

  private def clean(c: String) = Normalize.removeNullBytes(col(c))
  private def cleanDate(c: String) =
    Normalize.emptyToNull(Normalize.removeNullBytes(col(c)))

  /** Keep one row per `key`: the first under `order` (the reference's
    * fetch*ID existence-check semantics, set-based). NOTE: rows tying
    * on `order` pick a nondeterministic winner — give `order` a
    * tie-breaker if the dumps can carry same-key same-order rows with
    * differing payloads. */
  private def firstBy(df: DataFrame, key: org.apache.spark.sql.Column,
                      order: org.apache.spark.sql.Column*): DataFrame =
    df.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(key)
          .orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** users folder → (users, gh_users, gh_organizations).
    * Mirrors importUsers (ght2dm.go:238-337): per-doc type dispatch,
    * updated_at<-created_at fill, idempotency by github id.
    *
    * `noCheck` is the reference's `-nocheck` bulk-load fast path
    * (ght2dm.go:341,376,415,1126): skip the fetch*ID existence
    * semantics — here the per-id `firstBy` dedup — when the caller
    * guarantees the input carries no duplicates. Duplicate inputs then
    * pass through duplicated, exactly as the reference would
    * double-insert. */
  def importUsers(raw: DataFrame,
                  noCheck: Boolean = false): (DataFrame, DataFrame, DataFrame) =
    projectUsers(dedupUsers(raw, noCheck))

  /** The dedup half of [[importUsers]]: one row per github id (all
    * three user tables read this frame). */
  def dedupUsers(raw: DataFrame, noCheck: Boolean = false): DataFrame = {
    val filtered = raw.filter(col("login").isNotNull)
    if (noCheck) filtered
    else firstBy(filtered, col("id"),
      coalesce(col("updated_at"), col("created_at")).desc_nulls_last)
  }

  /** The projection half of [[importUsers]]: deduped users → (users,
    * gh_users, gh_organizations). */
  def projectUsers(deduped: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val users = deduped.filter(col("type") === "User")
    val orgs = deduped.filter(col("type") === "Organization")
    val usersOut = users.select(
      clean("login").as("username"), clean("name").as("name"),
      clean("email").as("email"), col("id").as("github_id"))
    val ghUsersOut = users.select(
      col("id").as("github_id"), clean("login").as("login"),
      clean("bio").as("bio"), clean("company").as("company"),
      clean("email").as("email"), col("hireable"),
      clean("location").as("location"), clean("avatar_url").as("avatar_url"),
      clean("html_url").as("html_url"),
      col("followers").as("followers_count"),
      col("following").as("following_count"),
      cleanDate("created_at").as("created_at"),
      Normalize.coalesceUpdated(cleanDate("updated_at"), cleanDate("created_at"))
        .as("updated_at"))
    val ghOrgsOut = orgs.select(
      clean("login").as("login"), col("id").as("github_id"),
      clean("avatar_url").as("avatar_url"), clean("html_url").as("html_url"),
      clean("name").as("name"), clean("company").as("company"),
      clean("location").as("location"), clean("email").as("email"),
      cleanDate("created_at").as("created_at"),
      Normalize.coalesceUpdated(cleanDate("updated_at"), cleanDate("created_at"))
        .as("updated_at"))
    (usersOut, ghUsersOut, ghOrgsOut)
  }

  /** repos folder → (repositories, gh_repositories).
    * Mirrors importRepos + insert_repos(): staging projection with
    * clone_path derivation and date normalization, latest-wins dedup,
    * non-empty-key guards, surrogate repository ids, two-table split.
    *
    * The reference's "already inserted" check is a DOUBLE anti-join
    * (insert_from_tmp_tables.sql:52-54): miss in gh_repositories by
    * github_id AND miss in repositories by (clone_path,
    * primary_language). Pass the existing tables to replay an
    * incremental import; both are key-only projections, so they
    * broadcast at dimension scale. */
  def importRepos(raw: DataFrame,
                  existingRepos: Option[DataFrame] = None,
                  existingGhRepos: Option[DataFrame] = None): (DataFrame, DataFrame) =
    projectRepos(dedupRepos(raw, existingRepos, existingGhRepos))

  /** The dedup half of [[importRepos]]: staging projection, latest-wins,
    * non-empty-key guards and the double anti-join — the fresh repos,
    * before surrogate ids (both repo tables read this frame). */
  def dedupRepos(raw: DataFrame,
                 existingRepos: Option[DataFrame] = None,
                 existingGhRepos: Option[DataFrame] = None): DataFrame = {
    val staged = raw.select(
      clean("name").as("name"),
      clean("language").as("primary_language"),
      clean("clone_url").as("clone_url"),
      Normalize.clonePath(col("language"), col("owner.login"), col("name"))
        .as("clone_path"),
      lit("git").as("vcs"),
      col("id").as("github_id"),
      clean("full_name").as("full_name"),
      clean("description").as("description"),
      clean("homepage").as("homepage"),
      col("fork"),
      clean("default_branch").as("default_branch"),
      clean("master_branch").as("master_branch"),
      clean("html_url").as("html_url"),
      col("forks_count"), col("open_issues_count"), col("stargazers_count"),
      col("subscribers_count"), col("watchers_count"), col("size_in_kb"),
      cleanDate("created_at").cast("timestamp").as("created_at"),
      cleanDate("updated_at").cast("timestamp").as("updated_at"),
      cleanDate("pushed_at").cast("timestamp").as("pushed_at"))
    val latest = Dedup.latestWins(staged, keys = Seq("clone_path"),
      maxCols = Seq("updated_at", "pushed_at"), minCols = Seq("open_issues_count"))
    val guards = Seq(col("clone_url") =!= "", col("clone_path") =!= "",
      col("primary_language") =!= "")
    val guarded = guards.foldLeft(latest)((df, g) => df.filter(g))
    val afterGh = existingGhRepos match {
      case Some(e) => Dedup.antiJoinNew(guarded,
        e.select(col("github_id")), Seq("github_id"))
      case None => guarded
    }
    existingRepos match {
      case Some(e) => Dedup.antiJoinNew(afterGh,
        e.select(col("clone_path"), col("primary_language")),
        Seq("clone_path", "primary_language"))
      case None => afterGh
    }
  }

  /** The projection half of [[importRepos]]: fresh repos → dense
    * surrogate ids → (repositories, gh_repositories). Eager: the id
    * assignment runs its jobs at call time. */
  def projectRepos(fresh: DataFrame): (DataFrame, DataFrame) = {
    // dense ids per clone_path (ties share an id, as dense_rank would)
    // without a single-partition global sort: rank the DISTINCT keys
    // scale-safely, then join the ids back on the dedup key
    val keyIds = Surrogate.rangeDenseIds(
      fresh.select(col("clone_path")).dropDuplicates(),
      Seq(col("clone_path")), "repository_id")
    val withIds = fresh.join(keyIds, "clone_path")
    val repositories = withIds.select(
      col("repository_id").as("id"), col("name"), col("primary_language"),
      col("clone_url"), col("clone_path"), col("vcs"))
    val ghRepositories = withIds.select(
      col("repository_id"), col("github_id"), col("full_name"),
      col("description"), col("homepage"), col("fork"), col("default_branch"),
      col("master_branch"), col("html_url"), col("forks_count"),
      col("open_issues_count"), col("stargazers_count"),
      col("subscribers_count"), col("watchers_count"), col("size_in_kb"),
      col("created_at"), col("updated_at"), col("pushed_at"))
    (repositories, ghRepositories)
  }

  /** commits folder → flat `commits` table: first-wins dedup per sha
    * (re-shipped dumps repeat commits), the reference's normalization
    * idioms (null-byte strip, empty→NULL dates), parent shas flattened
    * to an array column. Author/committer logins may be NULL (commits
    * by unmapped emails have no account objects in the API). */
  def importCommits(raw: DataFrame): DataFrame = {
    val deduped = firstBy(raw.filter(col("sha").isNotNull), col("sha"),
      col("commit.author.date").asc_nulls_last)
    deduped.select(
      clean("sha").as("sha"),
      col("author.id").as("author_github_id"),
      Normalize.removeNullBytes(col("author.login")).as("author_login"),
      col("committer.id").as("committer_github_id"),
      Normalize.removeNullBytes(col("committer.login")).as("committer_login"),
      Normalize.removeNullBytes(col("commit.message")).as("message"),
      col("commit.comment_count").as("comment_count"),
      Normalize.emptyToNull(Normalize.removeNullBytes(col("commit.author.date")))
        .cast("timestamp").as("authored_at"),
      Normalize.emptyToNull(Normalize.removeNullBytes(col("commit.committer.date")))
        .cast("timestamp").as("committed_at"),
      transform(coalesce(col("parents"),
        array().cast("array<struct<sha:string>>")), p => p.getField("sha"))
        .as("parent_shas"))
  }

  /** events folder → flat `events` table: first-wins dedup per event
    * id, actor/repo/org references flattened for downstream joins. */
  def importEvents(raw: DataFrame): DataFrame = {
    val deduped = firstBy(raw.filter(col("id").isNotNull), col("id"),
      col("created_at").asc_nulls_last)
    deduped.select(
      clean("id").as("event_id"),
      clean("type").as("event_type"),
      col("public"),
      Normalize.emptyToNull(Normalize.removeNullBytes(col("created_at")))
        .cast("timestamp").as("created_at"),
      col("actor.id").as("actor_github_id"),
      Normalize.removeNullBytes(col("actor.login")).as("actor_login"),
      col("repo.id").as("repo_github_id"),
      Normalize.removeNullBytes(col("repo.name")).as("repo_full_name"),
      col("org.id").as("org_github_id"),
      Normalize.removeNullBytes(col("org.login")).as("org_login"))
  }

  /** issues folder → flat `issues` table: latest-wins dedup per issue
    * id (re-shipped dumps carry the issue's newest state; updated_at
    * decides), label names flattened to an array column. */
  def importIssues(raw: DataFrame): DataFrame = {
    val deduped = firstBy(raw.filter(col("id").isNotNull), col("id"),
      col("updated_at").desc_nulls_last)
    deduped.select(
      col("id").as("github_id"),
      col("number"),
      clean("state").as("state"),
      Normalize.removeNullBytes(col("title")).as("title"),
      Normalize.removeNullBytes(col("body")).as("body"),
      col("comments").as("comment_count"),
      col("user.id").as("reporter_github_id"),
      Normalize.removeNullBytes(col("user.login")).as("reporter_login"),
      col("assignee.id").as("assignee_github_id"),
      Normalize.removeNullBytes(col("assignee.login")).as("assignee_login"),
      transform(coalesce(col("labels"),
        array().cast("array<struct<name:string,color:string>>")),
        l => l.getField("name")).as("label_names"),
      Normalize.emptyToNull(Normalize.removeNullBytes(col("created_at")))
        .cast("timestamp").as("created_at"),
      Normalize.emptyToNull(Normalize.removeNullBytes(col("updated_at")))
        .cast("timestamp").as("updated_at"),
      Normalize.emptyToNull(Normalize.removeNullBytes(col("closed_at")))
        .cast("timestamp").as("closed_at"))
  }

  /** pull_requests folder → flat `pull_requests` table: latest-wins
    * per PR id; head/base refs flattened for downstream joins on
    * full_name. */
  def importPullRequests(raw: DataFrame): DataFrame = {
    val deduped = firstBy(raw.filter(col("id").isNotNull), col("id"),
      col("updated_at").desc_nulls_last)
    deduped.select(
      col("id").as("github_id"),
      col("number"),
      clean("state").as("state"),
      Normalize.removeNullBytes(col("title")).as("title"),
      Normalize.removeNullBytes(col("body")).as("body"),
      col("merged"),
      col("additions"), col("deletions"), col("changed_files"),
      col("user.id").as("author_github_id"),
      Normalize.removeNullBytes(col("user.login")).as("author_login"),
      Normalize.removeNullBytes(col("head.sha")).as("head_sha"),
      Normalize.removeNullBytes(col("head.ref")).as("head_ref"),
      Normalize.removeNullBytes(col("head.repo.full_name"))
        .as("head_repo_full_name"),
      Normalize.removeNullBytes(col("base.sha")).as("base_sha"),
      Normalize.removeNullBytes(col("base.ref")).as("base_ref"),
      Normalize.removeNullBytes(col("base.repo.full_name"))
        .as("base_repo_full_name"),
      Normalize.emptyToNull(Normalize.removeNullBytes(col("created_at")))
        .cast("timestamp").as("created_at"),
      Normalize.emptyToNull(Normalize.removeNullBytes(col("updated_at")))
        .cast("timestamp").as("updated_at"),
      Normalize.emptyToNull(Normalize.removeNullBytes(col("merged_at")))
        .cast("timestamp").as("merged_at"),
      Normalize.emptyToNull(Normalize.removeNullBytes(col("closed_at")))
        .cast("timestamp").as("closed_at"))
  }

  /** watchers folder → (user login, "owner/repo" full_name, starred_at)
    * rows, deduped (a star re-ships on every dump day it survives);
    * resolution to warehouse ids composes with [[Resolve.joinDim]]
    * exactly like repo_collaborators. */
  def importWatchers(raw: DataFrame): DataFrame =
    raw.filter(clean("login") =!= "" && clean("owner") =!= "" &&
        clean("repo") =!= "") // per-component: "/x" or "x/" never joins
      .select(clean("login").as("login"),
        concat(clean("owner"), lit("/"), clean("repo")).as("repo_full_name"),
        Normalize.emptyToNull(Normalize.removeNullBytes(col("created_at")))
          .cast("timestamp").as("starred_at"))
      .groupBy(col("login"), col("repo_full_name"))
      .agg(min(col("starred_at")).as("starred_at"))

  /** commit_comments / issue_comments folders → flat `comments` table:
    * latest-wins per (kind, id) — commit-comment and issue-comment ids
    * are SEPARATE GitHub sequences, so the anchor kind must be part of
    * the identity or a cross-kind id collision silently drops a row
    * when both folders load into the one shared table. `kind` rides in
    * the output; merge downstream on (kind, github_id).
    *
    * Kind comes from a `source_kind` column when the caller tagged
    * rows at read time from the source FOLDER (run() and the comments
    * stream do) — authoritative, because a commit comment whose
    * commit_id is missing or failed the permissive decode must not be
    * reclassified. Payload inference (commit_id null-ness) is the
    * fallback for untagged frames only. */
  def importComments(raw: DataFrame): DataFrame = {
    val inferred = when(col("commit_id").isNotNull, "commit").otherwise("issue")
    val kinded = raw.filter(col("id").isNotNull)
      .withColumn("kind",
        if (raw.columns.contains("source_kind"))
          coalesce(col("source_kind"), inferred)
        else inferred)
      .drop("source_kind")
    val deduped = firstBy(kinded, struct(col("kind"), col("id")),
      col("updated_at").desc_nulls_last)
    deduped.select(
      col("kind"),
      col("id").as("github_id"),
      clean("body").as("body"),
      clean("commit_id").as("commit_sha"),
      col("issue_id"),
      col("position"), col("line"),
      clean("path").as("path"),
      col("user.id").as("author_github_id"),
      clean("user.login").as("author_login"),
      cleanDate("created_at").cast("timestamp").as("created_at"),
      cleanDate("updated_at").cast("timestamp").as("updated_at"))
  }

  /** forks folder → flat `forks` table: first-wins per fork repo id,
    * parent ref flattened for joins on full_name. */
  def importForks(raw: DataFrame): DataFrame = {
    val deduped = firstBy(raw.filter(col("id").isNotNull), col("id"),
      col("created_at").asc_nulls_last)
    deduped.select(
      col("id").as("fork_github_id"),
      clean("full_name").as("full_name"),
      col("owner.id").as("owner_github_id"),
      clean("owner.login").as("owner_login"),
      col("parent.id").as("parent_github_id"),
      clean("parent.full_name").as("parent_full_name"),
      cleanDate("created_at").cast("timestamp").as("forked_at"))
  }

  /** repo_labels folder → flat `repo_labels` table: latest-wins per
    * label id (labels are renamed/recolored in place on GitHub, so a
    * re-ship carries the newest state; there is no payload timestamp,
    * so within one dump set the NEWEST file's copy — which
    * [[graft.sources.DumpSource]] visits first — wins:
    * `monotonically_increasing_id` carries the input partition
    * ordinal in its high bits and the source maps one partition per
    * file in newest-first visitation order (a batch scan and a stream
    * micro-batch alike), so ascending id order IS visitation order,
    * computed narrowly before the window shuffle). */
  def importRepoLabels(raw: DataFrame): DataFrame = {
    val deduped = firstBy(raw.filter(col("id").isNotNull &&
        clean("owner") =!= "" && clean("repo") =!= ""),
      col("id"), monotonically_increasing_id().asc)
    deduped.select(
      col("id").as("label_github_id"),
      clean("name").as("name"),
      clean("color").as("color"),
      col("default").as("is_default"),
      concat(clean("owner"), lit("/"), clean("repo")).as("repo_full_name"))
  }

  /** geo_locations folder → geocoding cache keyed by the location
    * TEXT: latest-wins per location by `updated_at` (the cache is
    * refreshed in place when a geocode is retried). */
  def importGeoLocations(raw: DataFrame): DataFrame = {
    val deduped = firstBy(raw.filter(col("location").isNotNull),
      col("location"), col("updated_at").desc_nulls_last)
    deduped.select(
      clean("location").as("location"),
      col("lat"), col("long"),
      clean("country_code").as("country_code"),
      clean("state").as("state"),
      clean("city").as("city"),
      clean("status").as("status"),
      cleanDate("updated_at").cast("timestamp").as("updated_at"))
  }

  /** followers folder → (follower login, followed login, followed_at)
    * rows: earliest sighting wins per edge (a follow re-ships on
    * every dump day it survives, like a watcher star). */
  def importFollowers(raw: DataFrame): DataFrame =
    raw.filter(clean("login") =!= "" && clean("follows") =!= "")
      .select(clean("login").as("follower_login"),
        clean("follows").as("followed_login"),
        cleanDate("created_at").cast("timestamp").as("followed_at"))
      .groupBy(col("follower_login"), col("followed_login"))
      .agg(min(col("followed_at")).as("followed_at"))

  /** issue_events folder → flat `issue_events` table: first-wins per
    * event id (timeline entries are immutable — any re-shipped copy
    * is identical, so the tiebreak only needs determinism). */
  def importIssueEvents(raw: DataFrame): DataFrame = {
    val deduped = firstBy(raw.filter(col("id").isNotNull), col("id"),
      monotonically_increasing_id().asc)
    deduped.select(
      col("id").as("event_github_id"),
      clean("event").as("event"),
      col("issue_id"),
      clean("commit_id").as("commit_sha"),
      col("actor.id").as("actor_github_id"),
      clean("actor.login").as("actor_login"),
      concat(clean("owner"), lit("/"), clean("repo")).as("repo_full_name"),
      cleanDate("created_at").cast("timestamp").as("created_at"))
  }

  /** pull_request_commits folder → (pr_id, sha) relation rows with the
    * flattened commit header: first-wins per PAIR — a commit re-ships
    * under every PR that contains it, and under the same PR on every
    * dump day the PR survives; the payload is immutable. */
  def importPullRequestCommits(raw: DataFrame): DataFrame = {
    val deduped = firstBy(
      raw.filter(col("pr_id").isNotNull && clean("sha") =!= ""),
      struct(col("pr_id"), col("sha")),
      monotonically_increasing_id().asc)
    deduped.select(
      col("pr_id"),
      clean("sha").as("sha"),
      col("author.id").as("author_github_id"),
      clean("author.login").as("author_login"),
      clean("commit.message").as("message"),
      cleanDate("commit.author.date").cast("timestamp").as("authored_at"))
  }

  /** org_members folder → gh_users_organizations via broadcast
    * login→id resolution; unresolved rows drop (the reference's
    * "failed to retrieve" skip, ght2dm.go:757-765). `noCheck` skips the
    * relation-existence dedup (ght2dm.go:732's `if !*nocheck` guard on
    * the already-exists query): duplicate member rows pass through. */
  def importOrgMembers(raw: DataFrame, ghUsers: DataFrame,
                       ghOrgs: DataFrame, noCheck: Boolean = false): DataFrame = {
    val all = raw.select(clean("login").as("m_login"), clean("org").as("m_org"))
    val members = if (noCheck) all else all.dropDuplicates()
    val u = ghUsers.select(col("login").as("u_login"), col("github_id").as("gh_user_id"))
    val o = ghOrgs.select(col("login").as("o_login"), col("github_id").as("gh_organization_id"))
    val resolved = Resolve.joinDim(
        Resolve.joinDim(members, u, Seq(("m_login", "u_login"))),
        o, Seq(("m_org", "o_login")))
      .select(col("gh_user_id"), col("gh_organization_id"))
    if (noCheck) resolved else resolved.dropDuplicates()
  }

  /** repo_collaborators folder → users_repositories via login +
    * "owner/repo" full_name resolution (ght2dm.go:890-935). `noCheck`
    * skips the relation-existence dedup (ght2dm.go:891). */
  def importRepoCollaborators(raw: DataFrame, ghUsers: DataFrame,
                              ghRepositories: DataFrame,
                              noCheck: Boolean = false): DataFrame = {
    val all = raw.select(clean("login").as("c_login"),
        concat(clean("owner"), lit("/"), clean("repo")).as("c_full_name"))
    val collabs = if (noCheck) all else all.dropDuplicates()
    val u = ghUsers.select(col("login").as("u_login"), col("github_id").as("user_id"))
    val r = ghRepositories.select(col("full_name").as("r_full_name"),
      col("repository_id"))
    val resolved = Resolve.joinDim(
        Resolve.joinDim(collabs, u, Seq(("c_login", "u_login"))),
        r, Seq(("c_full_name", "r_full_name")))
      .select(col("user_id"), col("repository_id"))
    if (noCheck) resolved else resolved.dropDuplicates()
  }

  /** Idempotent warehouse merge of one or more tables: for each
    * (incoming, path, keys), existing ∪ (incoming \ existing by key).
    * TWO-PHASE: every merged frame is first materialized to its temp
    * dir — while ALL target paths are still intact, because one
    * table's incoming lineage may lazily read another table's current
    * files (the repos pipeline anti-joins against `repositories`
    * while also merging `gh_repositories`) — and only then are all
    * temp dirs swapped in. At warehouse scale this maps onto a
    * transactional table format's multi-table MERGE; plain parquet +
    * staged swap keeps the same semantics catalog-free. */
  private[graft] def mergeParquetAll(spark: SparkSession,
      merges: Seq[(DataFrame, String, Seq[String])]): Unit =
    mergeParquetOrderedAll(spark,
      merges.map { case (df, p, k) => (df, p, k, None) })

  /** [[mergeParquetAll]] generalized with a per-table merge POLICY:
    * `order = None` is insert-if-absent (first batch to ship a key
    * wins — right for immutable kinds: commits, events, users'
    * github_id identity), while `order = Some(sortExprs)` keeps, per
    * key, the FIRST row under that ordering across existing ∪
    * incoming, incoming winning exact ties so a re-shipped identical
    * snapshot converges. Each entity's policy is declared in its
    * [[EntitySpec]] row. The ordered path shuffles existing ∪ incoming
    * once on the key — the same cost class as the anti-join the
    * insert-if-absent path pays, and at warehouse scale the policy
    * maps onto a MERGE ... WHEN MATCHED AND incoming.ord > existing
    * .ord THEN UPDATE in a transactional table format. */
  private[graft] def mergeParquetOrderedAll(spark: SparkSession,
      allMerges: Seq[(DataFrame, String, Seq[String],
                      Option[Seq[org.apache.spark.sql.Column]])]): Unit = {
    // LAYOUT AUTO-ROUTING: a generation-versioned root (its `_gen` log
    // exists — Warehouse.initVersioned declares it once) must never go
    // through the rename-swap below: spark.read.parquet on the root
    // would double-read gen dirs and the swap would destroy the
    // layout. Detecting here covers every caller — each runStream
    // micro-batch merge and mergeParquetAll — so a stream pointed at a
    // versioned warehouse gets snapshot-isolated commits with no flag
    // on any entry point.
    val (versioned, merges) = allMerges.partition { case (_, path, _, _) =>
      graft.sources.Warehouse.isVersionedRoot(spark, path) }
    if (versioned.nonEmpty) mergeParquetOrderedAllVersioned(spark, versioned)
    if (merges.isEmpty) return
    val hc = spark.sparkContext.hadoopConfiguration
    // phase 0: recover any interrupted prior swap BEFORE reading the
    // current state. Invariant of the swap protocol below: the target
    // can only be missing between rename-aside and rename-in, at which
    // point `__tmp` holds the COMPLETE merged table — so recovery is
    // always "finish the swap", never data loss.
    merges.foreach { case (_, path, _, _) => recoverSwap(hc, path) }
    // phase 1: compute + write every merge to its temp dir — while ALL
    // target paths are still intact (see scaladoc), the tables
    // concurrently
    val staged = commitPhase(Nil)(merges.map { case (incoming, path, keys, order) =>
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hc)
      val merged =
        if (fs.exists(new org.apache.hadoop.fs.Path(path)))
          mergedFrame(spark.read.parquet(path), incoming, keys, order)
        else incoming
      path -> merged
    }) { (path, merged) => merged.write.mode("overwrite").parquet(s"$path.__tmp") }
    // phase 2: swap via rename-aside — the old data is never deleted
    // before the new data is in place, so a crash at ANY point leaves
    // either the old or the fully-merged table recoverable
    staged.foreach { case (path, _) =>
      val tmp = s"$path.__tmp"
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hc)
      val target = new org.apache.hadoop.fs.Path(path)
      val old = new org.apache.hadoop.fs.Path(s"$path.__old")
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(target)) renameOrThrow(fs, target, old)
      renameOrThrow(fs, new org.apache.hadoop.fs.Path(tmp), target)
      fs.delete(old, true)
    }
  }

  /** HDFS-style FileSystems report rename failure by returning false,
    * not by throwing. Unchecked, a failed rename-in leaves the target
    * missing while the run reports success, and a failed recovery
    * rename lets the next merge overwrite the complete `__tmp` with
    * the incoming batch alone. */
  private def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
                            src: org.apache.hadoop.fs.Path,
                            dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  /** One commit phase: persist the frames several of its tables read
    * (once, MEMORY_AND_DISK), build the tables while those are
    * persisted — a build may run jobs (the repos' surrogate ids do),
    * which then fill the cache instead of scanning around it — and
    * `write` every table concurrently, one pool thread per table. The
    * shared frames are released in a `finally`. A failed write is
    * rethrown naming its table once every started write has settled
    * ([[Concurrently.run]]); tables that already committed stay
    * committed. Returns the built tables. */
  private def commitPhase(shared: Seq[DataFrame])(
      build: => Seq[(String, DataFrame)])(
      write: (String, DataFrame) => Unit): Seq[(String, DataFrame)] = {
    shared.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      val tables = build
      Concurrently.run(tables.map { case (name, df) =>
        name -> (() => write(name, df)) }, tables.size)(
        name => s"table $name failed to commit")
      tables
    } finally shared.foreach(_.unpersist(blocking = false))
  }

  /** The per-table merge policy shared by the rename-swap path and the
    * generation-versioned path: existing ∪ incoming reduced to one row
    * per key under the table's ordering (None = insert-if-absent). */
  private def mergedFrame(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String],
      order: Option[Seq[org.apache.spark.sql.Column]]): DataFrame = {
    val aligned = incoming.select(existing.columns.toIndexedSeq.map(col): _*)
    order match {
      case None =>
        Dedup.idempotentUpsert(existing, aligned, keys)
      case Some(ord) =>
        firstBy(
          existing.withColumn("__src", lit(0))
            .unionByName(aligned.withColumn("__src", lit(1))),
          struct(keys.map(col): _*),
          ord :+ col("__src").desc: _*)
          .drop("__src")
    }
  }

  /** [[mergeParquetOrderedAll]] over SNAPSHOT-ISOLATED tables
    * ([[graft.sources.Warehouse]] manifest-pointer generations):
    * existing = the current committed generation, the merged result
    * commits as the NEXT generation, retired generations are retained
    * (`keepGenerations`) so readers that resolved before this merge
    * keep a complete immutable snapshot — there is no rename-aside
    * window at all, closing the concurrent-reader gap of the swap
    * path. */
  private[graft] def mergeParquetOrderedAllVersioned(spark: SparkSession,
      merges: Seq[(DataFrame, String, Seq[String],
                   Option[Seq[org.apache.spark.sql.Column]])],
      keepGenerations: Int = 2): Unit =
    merges.foreach { case (incoming, root, keys, order) =>
      val merged =
        graft.sources.Warehouse.currentGeneration(spark, root) match {
          case Some(cur) =>
            mergedFrame(spark.read.parquet(cur), incoming, keys, order)
          case None => incoming
        }
      graft.sources.Warehouse.commitGeneration(spark, root)(p =>
        merged.write.parquet(p))
      graft.sources.Warehouse.cleanup(spark, root, keepGenerations)
    }

  /** Finish or roll back a swap interrupted by a crash (see
    * [[mergeParquetAll]] phase 2). Target missing + `__tmp` present →
    * the merge completed but the swap didn't: rename the merged data
    * in. Target missing + only `__old` → roll the old table back.
    * Target present → any leftover side dirs are stale; drop them. */
  private def recoverSwap(hc: org.apache.hadoop.conf.Configuration,
                          path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hc)
    val target = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path.__tmp")
    val old = new org.apache.hadoop.fs.Path(s"$path.__old")
    // `_SUCCESS` distinguishes a completed merge write from a partial
    // one (a crash mid-write on a first-ever merge also leaves the
    // target missing, but with an incomplete tmp dir)
    val tmpComplete = fs.exists(tmp) &&
      fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))
    if (!fs.exists(target)) {
      if (tmpComplete) renameOrThrow(fs, tmp, target)
      else if (fs.exists(old)) renameOrThrow(fs, old, target)
    }
    if (fs.exists(target)) {
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (fs.exists(old)) fs.delete(old, true)
    }
  }

  /** One table an entity's decoded docs become, with its cross-batch
    * merge policy ([[mergeParquetOrderedAll]]): `keys` identify a row;
    * `order = None` is insert-if-absent, `Some(ord)` keeps the first row
    * per key under `ord` over existing ∪ incoming. */
  private case class EntityTable(name: String, keys: Seq[String],
      order: Option[Seq[org.apache.spark.sql.Column]] = None)

  /** What [[EntitySpec.toTables]] gets besides the decoded docs: the
    * warehouse roots of the entity's own tables (in `tables` order), its
    * dimension frames (in `dims` order) and the `-nocheck` flag (false
    * in a stream). */
  private case class ImportCtx(spark: SparkSession, roots: Seq[String],
      dims: Seq[DataFrame], noCheck: Boolean)

  /** One row of the entity table: the dump folder name, the doc schema,
    * the tables the decoded docs become and `toTables`, which builds one
    * frame per table. `dims` names the warehouse tables the entity
    * resolves against; `sourceKind`, when set, is stamped on every
    * decoded row as `source_kind`. */
  private case class EntitySpec(entity: String, schema: StructType,
      tables: Seq[EntityTable],
      toTables: (ImportCtx, DataFrame) => Seq[DataFrame],
      dims: Seq[String] = Nil, sourceKind: Option[String] = None) {
    def tagged(decoded: DataFrame): DataFrame =
      sourceKind.fold(decoded)(k => decoded.withColumn("source_kind", lit(k)))
  }

  /** A row whose decoded docs become one table through `importFn`. */
  private def plain(entity: String, schema: StructType, table: EntityTable)(
      importFn: DataFrame => DataFrame): EntitySpec =
    EntitySpec(entity, schema, Seq(table), (_, batch) => Seq(importFn(batch)))

  // insert-if-absent on github_id, the identity of a user or org
  private val usersEntity = EntitySpec("users", userSchema,
    Seq("users", "gh_users", "gh_organizations").map(EntityTable(_, Seq("github_id"))),
    { (_, batch) =>
      val (users, ghUsers, ghOrgs) = importUsers(batch)
      Seq(users, ghUsers, ghOrgs)
    })

  // a stream batch runs the full staged → latest-wins → double-anti-join
  // pipeline against the CURRENT warehouse and shifts the fresh
  // surrogate ids past its maximum (the `RETURNING id` sequence
  // continuing across imports), so replaying a batch after a failure
  // yields zero fresh rows. repositories merges on the anti-join's
  // composite key (insert_from_tmp_tables.sql:52-54): clone_path alone
  // would drop a re-shipped repo whose language changed, leaving its
  // gh_repositories row dangling
  private val reposEntity = EntitySpec("repos", repoSchema, Seq(
      EntityTable("repositories", Seq("clone_path", "primary_language")),
      EntityTable("gh_repositories", Seq("github_id"))),
    { (ctx, batch) =>
      val Seq(existing, existingGh) = ctx.roots.map(r =>
        dimsIfPresent(ctx.spark, Seq(r)).map(_.head))
      val (repos, gh) = importRepos(batch,
        existingRepos = existing.map(_.select(col("clone_path"),
          col("primary_language"))),
        existingGhRepos = existingGh.map(_.select(col("github_id"))))
      val base = existing.map(_.agg(max(col("id"))).head())
        .collect { case r if !r.isNullAt(0) => r.getLong(0) }
        .getOrElse(0L)
      Seq(repos.withColumn("id", col("id") + base),
        gh.withColumn("repository_id", col("repository_id") + base))
    })

  /** The comment kinds, one per source folder `<kind>_comments`. All
    * feed the one `comments` table, which is safe because the anchor
    * kind is part of [[importComments]]' identity: the kinds are
    * separate GitHub id sequences, so neither a batch union nor
    * concurrent streams can cross-collide on id. The kind is TAGGED
    * from the folder: inferring it from commit_id null-ness would
    * reclassify a commit comment whose sha failed the permissive decode
    * as an issue comment. Latest-wins per (kind, id) by `updated_at`,
    * because comments are editable. */
  private def commentsEntity(kind: String) = EntitySpec(s"${kind}_comments",
    commentSchema, Seq(EntityTable("comments", Seq("kind", "github_id"),
      Some(Seq(col("updated_at").desc_nulls_last)))),
    (_, batch) => Seq(importComments(batch)), sourceKind = Some(kind))

  /** The entities `run` builds straight from their row, in `run`'s
    * order. Users and repos are not here: `run` builds their tables
    * from frames it persists once and shares across tables. */
  private val tableEntities: Seq[EntitySpec] = Seq(
    // the relations resolve against the CURRENT dims; a stream batch
    // arriving before its dims is skipped, not fatal, and its rows
    // resolve when re-shipped (the reference's skip-on-missing-id,
    // ght2dm.go:757-765)
    EntitySpec("org_members", orgMemberSchema,
      Seq(EntityTable("gh_users_organizations",
        Seq("gh_user_id", "gh_organization_id"))),
      (ctx, batch) =>
        Seq(importOrgMembers(batch, ctx.dims(0), ctx.dims(1), ctx.noCheck)),
      dims = Seq("gh_users", "gh_organizations")),
    EntitySpec("repo_collaborators", repoCollaboratorSchema,
      Seq(EntityTable("users_repositories", Seq("user_id", "repository_id"))),
      (ctx, batch) =>
        Seq(importRepoCollaborators(batch, ctx.dims(0), ctx.dims(1), ctx.noCheck)),
      dims = Seq("gh_users", "gh_repositories"))) ++
    Seq("commit", "issue", "pull_request").map(commentsEntity) ++ Seq(
    // insert-if-absent: across stream batches the EARLIER shipped copy
    // wins, the first-wins policy the batch import applies within a
    // dump set
    plain("commits", commitSchema, EntityTable("commits", Seq("sha")))(importCommits),
    plain("events", eventSchema, EntityTable("events", Seq("event_id")))(importEvents),
    // latest `updated_at` wins: a re-shipped OLDER snapshot (an
    // out-of-order dump replay) must not overwrite newer warehouse state
    plain("issues", issueSchema, EntityTable("issues", Seq("github_id"),
      Some(Seq(col("updated_at").desc_nulls_last))))(importIssues),
    plain("pull_requests", pullRequestSchema, EntityTable("pull_requests",
      Seq("github_id"), Some(Seq(col("updated_at").desc_nulls_last))))(
      importPullRequests),
    // oldest-wins: the cross-batch twin of importWatchers' within-batch
    // min(starred_at); a late batch carrying an EARLIER star replaces it
    plain("watchers", watcherSchema, EntityTable("watchers",
      Seq("login", "repo_full_name"), Some(Seq(col("starred_at").asc_nulls_last))))(
      importWatchers),
    // earliest forked_at: the cross-batch twin of importForks' first-wins
    plain("forks", forkSchema, EntityTable("forks", Seq("fork_github_id"),
      Some(Seq(col("forked_at").asc_nulls_last))))(importForks),
    // incoming-wins: labels are renamed/recolored in place and carry no
    // payload timestamp, so batch arrival order (each batch is a newer
    // dump day) is the only freshness signal. The constant sort ties
    // every pair and the merge's incoming-wins-ties rule keeps the
    // newest batch's copy
    plain("repo_labels", repoLabelSchema, EntityTable("repo_labels",
      Seq("label_github_id"), Some(Seq(lit(0).asc))))(importRepoLabels),
    // latest `updated_at`: the cache refreshes in place on geocode retry,
    // and an out-of-order replay must not roll a fresher fix back
    plain("geo_locations", geoLocationSchema, EntityTable("geo_locations",
      Seq("location"), Some(Seq(col("updated_at").desc_nulls_last))))(
      importGeoLocations),
    // earliest followed_at per edge: the cross-batch twin of
    // importFollowers' within-batch min, like a watcher's star
    plain("followers", followerSchema, EntityTable("followers",
      Seq("follower_login", "followed_login"),
      Some(Seq(col("followed_at").asc_nulls_last))))(importFollowers),
    // insert-if-absent: timeline entries are immutable
    plain("issue_events", issueEventSchema,
      EntityTable("issue_events", Seq("event_github_id")))(importIssueEvents),
    // insert-if-absent per (pr, sha): the payload is immutable and the
    // pair re-ships daily
    plain("pull_request_commits", pullRequestCommitSchema,
      EntityTable("pull_request_commits", Seq("pr_id", "sha")))(
      importPullRequestCommits))

  /** The entity table: every entity [[run]] and [[runStream]] import. */
  private val entities: Seq[EntitySpec] = usersEntity +: reposEntity +: tableEntities

  /** Continuous ingestion of one entity: stream its dump folder (new
    * daily shards become micro-batches, see
    * [[graft.sources.DumpMicroBatchStream]]) and merge every batch into
    * the warehouse with the SAME operators the batch path uses, under
    * the entity's per-table merge policy. `foreachBatch` is the standard
    * bridge from a stream to batch merge logic. Exactly-once per file
    * via the checkpointed source offset + idempotent merge keys;
    * AvailableNow. `entity` is a dump folder name [[run]] knows (the
    * comment kinds are `commit_comments`, `issue_comments` and
    * `pull_request_comments`); anything else is rejected before a query
    * starts. */
  def runStream(spark: SparkSession, entity: String, folder: String,
                warehouseDir: String, checkpoint: String,
                maxFilesPerTrigger: Option[Int] = None):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val spec = entities.find(_.entity == entity).getOrElse(
      throw new IllegalArgumentException(s"unknown entity '$entity'; " +
        s"known entities: ${entities.map(_.entity).mkString(", ")}"))
    val roots = spec.tables.map(t => s"$warehouseDir/${t.name}")
    val reader = spark.readStream.format("graft.sources.DumpDataSource")
    // bounded catch-up: cap each micro-batch at N daily shards so a
    // backlog drains in bounded-memory steps with bounded per-batch
    // warehouse merges (the source freezes the listing under
    // AvailableNow, so the drain has a fixed endpoint either way)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    decodeAll(reader.load(folder), spec.schema)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dimsIfPresent(spark, spec.dims.map(d => s"$warehouseDir/$d")).foreach { dims =>
          val frames = spec.toTables(ImportCtx(spark, roots, dims, noCheck = false),
            spec.tagged(batch))
          mergeParquetOrderedAll(spark, spec.tables.lazyZip(frames).lazyZip(roots)
            .map((t, df, root) => (df, root, t.keys, t.order)))
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** [[runStream]] for `users`. */
  def runUsersStream(spark: SparkSession, folder: String, warehouseDir: String,
                     checkpoint: String, maxFilesPerTrigger: Option[Int] = None):
      org.apache.spark.sql.streaming.StreamingQuery =
    runStream(spark, "users", folder, warehouseDir, checkpoint, maxFilesPerTrigger)

  /** All dimension tables read, or None if any is not yet present. */
  private def dimsIfPresent(spark: SparkSession,
                            paths: Seq[String]): Option[Seq[DataFrame]] = {
    // existsAuto, not fs.exists: a versioned root whose log exists but
    // holds no committed generation is LAYOUT, not data — reading it
    // would fail, so the batch must be skipped like any missing dim
    if (paths.forall(graft.sources.Warehouse.existsAuto(spark, _)))
      Some(paths.map(graft.sources.Warehouse.readAuto(spark, _))) else None
  }

  /** Run the whole pipeline over a config; writes each output table to
    * `<warehouseDir>/<table>` parquet and returns the DataFrames.
    *
    * Each entity folder is scanned once: the deduped users frame (read
    * by users, gh_users, gh_organizations and, as a dimension, both
    * relations) and the fresh repos frame (read by repositories,
    * gh_repositories and users_repositories) are persisted for the
    * duration of the call — the reference's stage-once-then-fill-every-
    * table flow (db/insert_from_tmp_tables.sql). The tables' writes
    * then run concurrently. If a write fails, every started write is
    * allowed to settle and the first failure is rethrown naming its
    * table; tables that already committed stay committed, as they
    * would under a one-table-at-a-time order.
    *
    * `noCheck` = the reference's `-nocheck` flag (ght2dm.go:1126):
    * skip every is-it-already-present stage — the per-id user dedup
    * and the relation-existence dedups — for bulk loads the caller
    * knows are duplicate-free. The repos pipeline's latest-wins/
    * anti-join SQL stage is NOT gated: the reference runs
    * insert_from_tmp_tables.sql unconditionally. */
  def run(spark: SparkSession, cfg: Config,
          noCheck: Boolean = false): Map[String, DataFrame] = {
    val byEntity = cfg.ghtorrentFolders.map(f =>
      new java.io.File(f).getName -> f).toMap
    def read(spec: EntitySpec): Option[DataFrame] = byEntity.get(spec.entity)
      .map(folder => spec.tagged(readEntity(spark, folder, spec.schema)))
    val usersDeduped = read(usersEntity).map(dedupUsers(_, noCheck))
    val reposFresh = read(reposEntity).map(dedupRepos(_))
    commitPhase(usersDeduped.toSeq ++ reposFresh)(
        runTables(spark, cfg, read, usersDeduped, reposFresh, noCheck)) {
      (name, df) =>
        val root = s"${cfg.warehouseDir}/$name"
        // auto-detect too: a root previously declared versioned must
        // never be clobbered by a plain overwrite from a config that
        // forgot the flag
        if (cfg.versionedWarehouse ||
            graft.sources.Warehouse.isVersionedRoot(spark, root))
          graft.sources.Warehouse.commitGeneration(spark, root)(p =>
            df.write.parquet(p))
        else
          df.write.mode("overwrite").parquet(root)
    }.toMap
  }

  /** [[run]]'s output tables, built over the (persisted) deduped users
    * and fresh repos frames. */
  private def runTables(spark: SparkSession, cfg: Config,
      read: EntitySpec => Option[DataFrame], usersDeduped: Option[DataFrame],
      reposFresh: Option[DataFrame], noCheck: Boolean): Seq[(String, DataFrame)] = {
    var out = Map.empty[String, DataFrame]
    def add(spec: EntitySpec, frames: Seq[DataFrame]): Unit =
      out ++= spec.tables.map(_.name).zip(frames)
    usersDeduped.foreach { deduped =>
      val (users, ghUsers, ghOrgs) = projectUsers(deduped)
      add(usersEntity, Seq(users, ghUsers, ghOrgs))
    }
    reposFresh.foreach { fresh =>
      val (repos, ghRepos) = projectRepos(fresh)
      add(reposEntity, Seq(repos, ghRepos))
    }
    // relation kinds resolve against dimensions: from this run's
    // imports when the dim folders are configured, else from the
    // EXISTING warehouse (like a relation stream) — and fail with
    // guidance when neither exists, instead of the bare NPE a null dim
    // frame used to cause (the reference resolves against the live DB,
    // ght2dm.go:757-765, so a relation-only config degrades there
    // rather than crashes)
    def dim(table: String, forKind: String): DataFrame =
      out.getOrElse(table,
        dimsIfPresent(spark, Seq(s"${cfg.warehouseDir}/$table")) match {
          case Some(Seq(df)) => df
          case _ => throw new IllegalArgumentException(
            s"config lists '$forKind' but no source for dimension '$table': " +
            s"configure the dim folder too, or run against a warehouse " +
            s"(${cfg.warehouseDir}) that already holds $table")
        })
    // entities sharing a table (the comment kinds) import as one union
    tableEntities.map(_.tables.head.name).distinct.foreach { table =>
      val specs = tableEntities.filter(_.tables.head.name == table)
      val decoded = specs.flatMap(read)
      if (decoded.nonEmpty) {
        val spec = specs.head
        val ctx = ImportCtx(spark,
          spec.tables.map(t => s"${cfg.warehouseDir}/${t.name}"),
          spec.dims.map(dim(_, spec.entity)), noCheck)
        add(spec, spec.toTables(ctx, decoded.reduce(_ unionByName _)))
      }
    }
    out.toSeq
  }
}
