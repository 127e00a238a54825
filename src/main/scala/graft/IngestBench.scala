package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.DumpSource

/** Ingestion-throughput benchmark against the reference's profile.
  *
  * The reference imports users row-at-a-time — one BSON unmarshal plus
  * 1-2 synchronous Postgres round-trips per row (ght2dm.go:277-315,
  * 440-490) — which bounds it to roughly 5-20k rows/s single-node
  * (BASELINE.md). This main measures the same logical work in graft:
  * framed dump files → parse → type dispatch → normalization →
  * dedup-by-id → the three projections → parquet warehouse write.
  *
  * Usage: `runMain graft.IngestBench [nDocs] [nFiles] [indexEvery]`
  * (defaults 500000 x 10 x 4096). Prints one JSON line with rows/s.
  * `indexEvery > 0` writes the sidecar offset index per dump file, so
  * the reader splits fat files into ~64 MB sub-file partitions;
  * `indexEvery = 0` reproduces the one-partition-per-file cap for
  * before/after comparison.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(500000)
    val nFiles = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val indexEvery = args.drop(2).headOption.map(_.toInt).getOrElse(4096)
    val spark = Session.local()

    val dir = s"/root/repo/target/ingest_bench"
    // wipe stale dump files (and their sidecar indexes) from previous
    // runs with different nFiles — the reader visits the whole folder,
    // so leftovers silently contaminate both input volume and the
    // planned partition count
    def cleanDir(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles().foreach(_.delete())
      f.mkdirs()
    }
    val folder = s"$dir/users"
    cleanDir(folder)
    val perFile = nDocs / nFiles
    // deterministic synthetic GHTorrent-shaped user docs; ~5% re-ships
    // (same id, newer updated_at) so the dedup path does real work
    (0 until nFiles).foreach { f =>
      val day = f % 28 + 1
      writeFile(s"$folder/2014-01-${"%02d".format(day)}.bson", f, perFile, indexEvery)
    }

    // files × sub-file splits actually planned for the scan (the
    // sidecar index is what lifts this above nFiles)
    val scanParts = Ingest.readEntity(spark, folder, Ingest.userSchema)
      .rdd.getNumPartitions
    val t0 = System.nanoTime()
    val raw = Ingest.readEntity(spark, folder, Ingest.userSchema)
    val (users, ghUsers, ghOrgs) = Ingest.importUsers(raw)
    val wh = s"$dir/warehouse"
    users.write.mode("overwrite").parquet(s"$wh/users")
    ghUsers.write.mode("overwrite").parquet(s"$wh/gh_users")
    ghOrgs.write.mode("overwrite").parquet(s"$wh/gh_organizations")
    val sec = (System.nanoTime() - t0) / 1e9
    val outRows = spark.read.parquet(s"$wh/users").count() +
      spark.read.parquet(s"$wh/gh_organizations").count()
    println(s"""{"metric":"ingest_users_rows_per_sec","value":${(nDocs / sec).round},"input_docs":$nDocs,"output_entities":$outRows,"sec":$sec,"files":$nFiles,"scan_partitions":$scanParts,"index_every":$indexEvery}""")

    // repos path: staging projection + latest-wins dedup + guards +
    // double anti-join (vs an empty warehouse) + surrogate ids + the
    // two-table split — the reference's PL/pgSQL insert_from_tmp_tables
    val repoFolder = s"$dir/repos"
    cleanDir(repoFolder)
    (0 until nFiles).foreach { f =>
      val day = f % 28 + 1
      writeRepoFile(s"$repoFolder/2014-01-${"%02d".format(day)}.bson", f, perFile, indexEvery)
    }
    val t1 = System.nanoTime()
    val rawRepos = Ingest.readEntity(spark, repoFolder, Ingest.repoSchema)
    val (repos, ghRepos) = Ingest.importRepos(rawRepos)
    repos.write.mode("overwrite").parquet(s"$wh/repositories")
    ghRepos.write.mode("overwrite").parquet(s"$wh/gh_repositories")
    val sec2 = (System.nanoTime() - t1) / 1e9
    val repoRows = spark.read.parquet(s"$wh/repositories").count()
    println(s"""{"metric":"ingest_repos_rows_per_sec","value":${(nDocs / sec2).round},"input_docs":$nDocs,"output_repos":$repoRows,"sec":$sec2,"files":$nFiles}""")
    spark.stop()
  }

  private def writeRepoFile(path: String, fileIdx: Int, n: Int, indexEvery: Int): Unit = {
    val langs = Seq("Go", "Rust", "Scala", "Python", "C")
    val docs = (0 until n).iterator.map { i =>
      // 10% re-ships of the previous file's repos (newer snapshot, so
      // latest-wins has real work); distinct clone_paths otherwise
      val reship = i % 10 == 0 && fileIdx > 0
      val id = if (reship) (fileIdx - 1).toLong * n + i else fileIdx.toLong * n + i
      val day = fileIdx % 28 + 1
      val lang = langs((id % langs.size).toInt)
      s"""{"id":$id,"name":"repo_$id","full_name":"owner${id % 1000}/repo_$id","language":"$lang","clone_url":"https://git.example/owner${id % 1000}/repo_$id.git","html_url":"https://h.example/$id","owner":{"login":"owner${id % 1000}"},"fork":${id % 3 == 0},"forks_count":${id % 50},"open_issues_count":${(id + fileIdx) % 20},"stargazers_count":${id % 500},"subscribers_count":${id % 40},"watchers_count":${id % 500},"size_in_kb":${id % 9000},"created_at":"2013-06-01T00:00:00Z","updated_at":"2014-01-${"%02d".format(day)}T0${i % 10}:00:00Z","pushed_at":"2014-01-${"%02d".format(day)}T00:00:00Z"}"""
        .getBytes(UTF_8)
    }
    DumpSource.writeDump(path, docs, indexEvery)
  }

  private[graft] def writeFile(path: String, fileIdx: Int, n: Int, indexEvery: Int): Unit = {
    val docs = (0 until n).iterator.map { i =>
      val reship = i % 20 == 0 && fileIdx > 0
      val id = if (reship) (fileIdx - 1).toLong * n + i else fileIdx.toLong * n + i
      val isOrg = id % 50 == 0
      val day = fileIdx % 28 + 1
      val t = s"2014-01-${"%02d".format(day)}T00:00:0${i % 10}Z"
      val typ = if (isOrg) "Organization" else "User"
      s"""{"id":$id,"login":"user_$id","type":"$typ","name":"User $id","email":"u$id@example.org","company":"c${id % 97}","location":"loc${id % 31}","bio":"bio of $id","avatar_url":"https://a.example/$id","html_url":"https://h.example/$id","hireable":${id % 2 == 0},"followers":${id % 1000},"following":${id % 100},"created_at":"2013-01-01T00:00:00Z","updated_at":"$t"}"""
        .getBytes(UTF_8)
    }
    DumpSource.writeDump(path, docs, indexEvery)
  }
}
