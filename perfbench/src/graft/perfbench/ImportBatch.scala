package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ingest
import graft.functions.Normalize
import graft.operators.{Dedup, Resolve, Surrogate}
import graft.sources.DumpSource

/** `import_batch`: `Ingest.run` over a seeded four-entity dump set into
  * a fresh warehouse per pass — the paper's import end to end. Its
  * traced run also measures the continuous importer ([[StreamLayers]]). */
object ImportBatch {
  def sizes(ctx: Ctx): GhtSizes =
    if (ctx.toy) GhtSizes(users = 2000, repos = 1500, members = 600,
      collaborators = 900, shards = 2 * ctx.cores)
    else GhtSizes(users = 9000, repos = 6000, members = 3000,
      collaborators = 5000, shards = 2 * ctx.cores)

  /** Untimed passes before the first timed one: the JIT keeps speeding
    * a pass up for several passes after the first, cold one. */
  val WarmPasses = 2

  val schemas = Map(
    "users" -> Ingest.userSchema, "repos" -> Ingest.repoSchema,
    "org_members" -> Ingest.orgMemberSchema,
    "repo_collaborators" -> Ingest.repoCollaboratorSchema)

  /** Generate the dump set three times (timed; setup_s takes the
    * median) and keep the last copy. */
  def generate(ctx: Ctx, s: GhtSizes, entities: Seq[String]): (String, Long, Seq[Double]) = {
    val runs = (0 until 3).map { i =>
      val root = s"${ctx.dir}/input/g$i"
      val (docs, w, _) = Sys.timed(GhtGen.write(ctx.spark, root, ctx.seed, s, entities))
      if (i > 0) Sys.rmrf(s"${ctx.dir}/input/g${i - 1}")
      (root, docs, w)
    }
    (runs.last._1, runs.last._2, runs.map(_._3))
  }

  def expected(ctx: Ctx, s: GhtSizes): GhtExpected = {
    val e = GhtGen.expected(ctx.seed, s)
    if (ctx.wrongExpected) e.copy(tables = e.tables.updated("users", e.tables("users") + 1))
    else e
  }

  /** Check the committed warehouse: exact row counts, key uniqueness and
    * dense surrogate ids, in one Spark job. One checked operation per
    * table. */
  def verify(ctx: Ctx, wh: String, exp: Map[String, Long], pass: String): Unit = {
    val tables = exp.keys.toSeq.sorted
    val found = try tables.map { table =>
        val key = table match {
          case "gh_users" | "users" | "gh_organizations" => Seq("github_id")
          case "repositories" => Seq("clone_path", "primary_language")
          case "gh_repositories" => Seq("repository_id")
          case "gh_users_organizations" => Seq("gh_user_id", "gh_organization_id")
          case "users_repositories" => Seq("user_id", "repository_id")
        }
        val id = table match {
          case "repositories" => col("id")
          case "gh_repositories" => col("repository_id")
          case _ => lit(null).cast("long")
        }
        ctx.spark.read.parquet(s"$wh/$table").agg(lit(table).as("t"),
          count(lit(1)).as("n"), count_distinct(struct(key.map(col): _*)).as("d"),
          min(id).cast("long").as("lo"), max(id).cast("long").as("hi"))
      }.reduce(_ unionByName _).collect().map(r => r.getString(0) -> r).toMap
    catch { case e: Exception =>
      tables.foreach(t => ctx.failedOp(s"$pass $t", e))
      return
    }
    tables.foreach { t =>
      val r = found(t)
      val (rows, n, distinct) = (exp(t), r.getLong(1), r.getLong(2))
      // ids, where the table has them, must be exactly 1..rows
      val dense = r.isNullAt(3) || (r.getLong(3) == 1 && r.getLong(4) == rows)
      ctx.check(s"$pass $t", n == rows && distinct == rows && dense,
        s"rows=$n expected=$rows distinct_keys=$distinct ids=[${r.get(3)},${r.get(4)}]")
    }
  }

  private def importPass(ctx: Ctx, root: String, wh: String): Unit =
    Ingest.run(ctx.spark, Ingest.Config(GhtGen.entities.map(e => s"$root/$e"), wh))

  def run(ctx: Ctx): Outcome = {
    val s = sizes(ctx)
    val (root, docs, genS) = generate(ctx, s, GhtGen.entities)
    val exp = expected(ctx, s)
    ctx.check("generated docs", docs == exp.inputDocs, s"$docs vs ${exp.inputDocs}")
    val warmS = Sys.wall((0 until (if (ctx.toy) 1 else WarmPasses)).foreach { i =>
      importPass(ctx, root, s"${ctx.dir}/wh/warm$i")
      verify(ctx, s"${ctx.dir}/wh/warm$i", exp.tables, s"warm-up $i")
      Sys.rmrf(s"${ctx.dir}/wh/warm$i")
    })
    val budget = if (ctx.trace) ctx.seconds / 2 else ctx.seconds
    val passes = Sys.measure(budget, minPasses = if (ctx.trace || ctx.toy) 1 else 2) { i =>
      val wh = s"${ctx.dir}/wh/p$i"
      val (_, w, c) = Sys.timed(importPass(ctx, root, wh))
      verify(ctx, wh, exp.tables, s"pass $i")
      Sys.rmrf(wh)
      (w, c)
    }
    val walls = passes.map(_._1)
    val e2e = Sys.setup(ctx, genS, warmS) ++
      Layers.e2e(docs.toDouble, walls, walls, walls, passes.map(_._2))
    val layers = if (!ctx.trace) Nil else
      traced(ctx, root, docs, exp, walls) ++
        StreamLayers.traced(ctx, s"$root/users", GhtGen.userDocs(s),
          exp.tables.filter { case (t, _) => Set("users", "gh_users", "gh_organizations")(t) })
    ctx.outcome(e2e ++ layers)
  }

  /** The traced pass (listeners attached) and the per-layer replay. */
  def traced(ctx: Ctx, root: String, docs: Long, exp: GhtExpected,
             untraced: Seq[Double]): Seq[Metric] = {
    val spark = ctx.spark
    val stats = new SparkStats
    val scans = new DumpScanRows
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(scans)
    val wh = s"${ctx.dir}/wh/traced"
    val tracedWall = Sys.wall(importPass(ctx, root, wh))
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(stats)
    spark.listenerManager.unregister(scans)
    verify(ctx, wh, exp.tables, "traced pass")
    Sys.rmrf(wh)
    // one more untraced pass after the traced one, so the overhead is not
    // the JIT speed-up between earlier and later passes
    val after = Sys.wall(importPass(ctx, root, s"${ctx.dir}/wh/after"))
    verify(ctx, s"${ctx.dir}/wh/after", exp.tables, "pass after the traced one")
    Sys.rmrf(s"${ctx.dir}/wh/after")

    val folders = GhtGen.entities.map(e => e -> s"$root/$e")
    val dumpFrames = folders.map { case (e, f) =>
      e -> spark.read.format("graft.sources.DumpDataSource")
        .load(DumpSource.listDateOrdered(f): _*)
    }
    val scanS = dumpFrames.map { case (_, df) => Sys.wall(Sys.noop(df)) }.sum
    val scanned = dumpFrames.map(_._2.count()).sum
    val readS = folders.map { case (e, f) =>
      Sys.wall(Sys.noop(Ingest.readEntity(spark, f, schemas(e)))) }.sum
    val nullDocs = dumpFrames.map { case (e, df) =>
      df.filter(Ingest.decodeDoc(col("doc"), schemas(e)).isNull).count() }.sum

    // operator and import layers, against persisted decoded inputs
    val raw = folders.map { case (e, f) =>
      val df = Ingest.readEntity(spark, f, schemas(e)).persist()
      df.count()
      e -> df
    }.toMap
    def pinned(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
    val (users, ghUsers, ghOrgs) = Ingest.importUsers(raw("users"))
    val usersS = Sys.wall(Seq(users, ghUsers, ghOrgs).foreach(Sys.noop))
    val (repos, ghRepos) = Ingest.importRepos(raw("repos"))
    val reposS = Sys.wall(Seq(repos, ghRepos).foreach(Sys.noop))
    val outs = Seq("users" -> users, "gh_users" -> ghUsers,
      "gh_organizations" -> ghOrgs, "repositories" -> repos,
      "gh_repositories" -> ghRepos).map { case (n, df) => n -> pinned(df) }.toMap
    val members = Ingest.importOrgMembers(raw("org_members"),
      outs("gh_users"), outs("gh_organizations"))
    val collabs = Ingest.importRepoCollaborators(raw("repo_collaborators"),
      outs("gh_users"), outs("gh_repositories"))
    val relationsS = Sys.wall(Seq(members, collabs).foreach(Sys.noop))
    val allOuts = outs ++ Map("gh_users_organizations" -> pinned(members),
      "users_repositories" -> pinned(collabs))

    val staged = pinned(raw("repos").select(
      Normalize.clonePath(col("language"), col("owner.login"), col("name")).as("clone_path"),
      col("id"), col("language"), col("open_issues_count"),
      col("updated_at").cast("timestamp").as("updated_at"),
      col("pushed_at").cast("timestamp").as("pushed_at")))
    val latestS = Sys.wall(Sys.noop(Dedup.latestWins(staged, Seq("clone_path"),
      Seq("updated_at", "pushed_at"), Seq("open_issues_count"))))
    val keys = pinned(staged.select(col("clone_path")).dropDuplicates())
    val denseS = Sys.wall(Sys.noop(
      Surrogate.rangeDenseIds(keys, Seq(col("clone_path")), "repository_id")))
    val memberRows = raw("org_members").select(col("login").as("m_login"), col("org").as("m_org"))
    val resolveS = Sys.wall(Sys.noop(Resolve.joinDim(
      Resolve.joinDim(memberRows,
        allOuts("gh_users").select(col("login").as("u_login"), col("github_id").as("u_id")),
        Seq(("m_login", "u_login"))),
      allOuts("gh_organizations").select(col("login").as("o_login"), col("github_id").as("o_id")),
      Seq(("m_org", "o_login")))))

    val out = s"${ctx.dir}/wh/layers"
    val writeS = Sys.wall(allOuts.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$out/$n") })
    val written = Sys.dirBytes(out)
    Sys.rmrf(out)
    spark.catalog.clearCache()

    stats.metrics(tracedWall, ctx.cores) ++ Seq(
      Metric("sources.scan_s", scanS, "s"),
      Metric("sources.docs_scanned", scanned.toDouble, "count"),
      Metric("sources.bytes", Sys.dirBytes(root).toDouble, "bytes"),
      Metric("ingest.scan_amplification", scans.rows.get.toDouble / docs, "ratio"),
      Metric("decode.s", readS - scanS, "s"),
      Metric("decode.null_docs", nullDocs.toDouble, "count"),
      Metric("ingest.import_users_s", usersS, "s"),
      Metric("ingest.import_repos_s", reposS, "s"),
      Metric("ingest.import_relations_s", relationsS, "s"),
      Metric("operators.latest_wins_s", latestS, "s"),
      Metric("operators.dense_ids_s", denseS, "s"),
      Metric("operators.resolve_s", resolveS, "s"),
      Metric("warehouse.write_s", writeS, "s"),
      Metric("warehouse.bytes_written", written.toDouble, "bytes"),
      Metric("trace.overhead_s", tracedWall - Sys.median(untraced :+ after), "s"))
  }
}
