package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Normalize, TextFunctions}
import graft.operators._
import graft.plans.HashExpressions
import graft.sources.DumpSource
import graft.streaming.EventsStreaming

/** Driver contract — see SURVEY.md §2 for the operator inventory each
  * query demonstrates. Every oracle-checked query aliases its output
  * columns identically in the Spark code and the DuckDB SQL, and follows
  * the portability rules in SURVEY.md §5 (decimal-exact double sums,
  * dates/epochs instead of raw timestamps, RE2-safe regexes).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * The reference's analytical heart: latest-wins dedup
    * (insert_from_tmp_tables.sql:39-51). */
  def entry(spark: SparkSession): DataFrame =
    qLatestWins(spark, "/root/testdata/sf0.001")

  // ---- helpers -----------------------------------------------------------

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The shared near-dup test corpus: documents plus a deterministic
    * truncated copy of each (doc_id+100000, last word dropped) so the
    * near-dup operators demonstrably find planted pairs. Used by
    * q_minhash_pairs / q_simhash_pairs / q_dedup_clusters /
    * q_neardup_prune and replayed verbatim by their DuckDB oracles'
    * `corpus` CTE — change both together or not at all. */
  private def neardupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val mutated = docs.select((col("doc_id") + 100000L).as("doc_id"),
      regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
    docs.unionByName(mutated)
  }

  /** The CC trio (q_dedup_clusters / q_neardup_prune / q_cluster_best)
    * runs the SAME simhash-pair connected-components labeling and
    * differs only in retention policy. Standalone, each query computes
    * it itself (sequential semantics unchanged); inside [[runAll]],
    * when two or more of the trio are in the group, the labels frame is
    * computed ONCE, persisted, and shared — the iterative CC rounds are
    * the dominant cost, so the group pays them once instead of 3×. */
  private val clusterLabelCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private val ccTrio = Set("q_dedup_clusters", "q_neardup_prune", "q_cluster_best")

  /** Planted-copy corpus for the embedding near-dup family: the
    * embeddings table UNIONed with a deterministically perturbed copy
    * of each vector (component d gets sin(d + id)·scale, ids shifted
    * +100000) — perturb FIRST, rename after: with both in one select
    * list the lambda's col("vec_id") would resolve against the
    * select's own lateral alias. The SQL twin is the base/pert CTE
    * pair with the matching amplitude. */
  private def perturbedUnion(emb0: DataFrame, scale: Double): DataFrame = {
    val emb = emb0.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val perturbed = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + sin(i.cast("double") + col("vec_id").cast("double")) * scale)
          .as("embedding"))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    emb.unionByName(perturbed)
  }

  private def computeClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val corpus = neardupCorpus(s, dir)
    val pairs = NearDup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
    Dedup.connectedComponents(corpus.select(col("doc_id")), pairs,
      "doc_id", "id_a", "id_b")
  }

  private def clusterLabels(s: SparkSession, dir: String): DataFrame = {
    val key = (s, dir)
    val cached = clusterLabelCache.get(key)
    if (cached != null) cached
    else if (labelSharingEnabled.contains(key)) {
      // SEQUENTIAL sharing path ([[withClusterLabelSharing]]): the first
      // trio query pays the iterative CC compute and materializes the
      // (doc_id, label) frame — to scratch PARQUET, not .persist(),
      // because callers that isolate queries (the bench) clearCache()
      // between them, which would silently drop a persisted frame and
      // turn "shared" back into 3× recompute. The frame is metadata-
      // sized (two longs per doc), so the write+read-back is cheap.
      val path = s"/root/repo/target/scratch/cc_labels_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
      computeClusterLabels(s, dir).write.mode("overwrite").parquet(path)
      val labels = s.read.parquet(path)
      val prev = clusterLabelCache.putIfAbsent(key, labels)
      if (prev != null) prev else labels
    } else computeClusterLabels(s, dir)
  }

  private val labelSharingEnabled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  /** Share the CC trio's common cluster-labels frame across SEQUENTIAL
    * query executions within `body` — the one-session counterpart of
    * [[runAll]]'s grouped amortization. The first trio query computes
    * the labels once (and carries the full cost); the other two read
    * the materialized frame back. Results are identical to standalone
    * execution (the labeling is deterministic; RunAllSpec pins parity),
    * so this is purely a 3×→1× cost change for workloads that run the
    * whole query set back to back, e.g. the bench's pass 1. */
  /** Force the shared cluster-labels materialization NOW, so a caller
    * can time it as its own explicit step instead of having it land
    * inside whichever trio query happens to run first (a min-of-samples
    * timer would otherwise report only the cheap cached re-read and the
    * CC cost would vanish from the accounting). No-op unless sharing is
    * enabled for (spark, dir). */
  def primeClusterLabels(spark: SparkSession, dir: String): Unit =
    if (labelSharingEnabled.contains((spark, dir))) { clusterLabels(spark, dir); () }

  /** Drop the shared cluster-labels frame so the next
    * [[primeClusterLabels]] recomputes it — lets a benchmark take
    * min-of-samples over the labeling itself (the labels are
    * deterministic, so every prime materializes the identical frame).
    * No-op outside a [[withClusterLabelSharing]] scope. */
  def resetClusterLabels(spark: SparkSession, dir: String): Unit = {
    clusterLabelCache.remove((spark, dir)); ()
  }

  def withClusterLabelSharing[T](spark: SparkSession, dir: String)(body: => T): T = {
    val key = (spark, dir)
    val added = labelSharingEnabled.add(key)
    try body
    finally if (added) {
      labelSharingEnabled.remove(key)
      clusterLabelCache.remove(key)
    }
  }

  /** orders staged like tmp_gh_repositories, replaying each row as two
    * dump snapshots (the reference re-imports daily dumps, so the same
    * clone_path appears once per dump): the later snapshot has a newer
    * updated_at (o_date+30) and fewer open issues (lower o_totalprice).
    * o_orderkey plays clone_path, o_date plays updated_at,
    * o_totalprice plays open_issues_count. */
  private def stagedOrders(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      col("o_orderdate").cast("date").as("o_date"), col("o_totalprice"))
    val v1 = base.select(col("o_orderkey"), col("o_custkey"), col("o_date"),
      (col("o_totalprice") + 10).as("o_totalprice"))
    val v2 = base.select(col("o_orderkey"), col("o_custkey"),
      date_add(col("o_date"), 30).as("o_date"), col("o_totalprice"))
    v1.unionByName(v2)
  }

  private def qLatestWins(s: SparkSession, dir: String): DataFrame =
    Dedup.latestWins(stagedOrders(s, dir),
      keys = Seq("o_orderkey"), maxCols = Seq("o_date"), minCols = Seq("o_totalprice"))

  private val latestWinsSql =
    """SELECT DISTINCT o_orderkey, o_custkey, o_date, o_totalprice FROM (
      |  SELECT o_orderkey, o_custkey, o_date, o_totalprice,
      |         max(o_date) OVER (PARTITION BY o_orderkey) AS mx,
      |         min(o_totalprice) OVER (PARTITION BY o_orderkey) AS mn
      |  FROM (
      |    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_date,
      |           o_totalprice + 10 AS o_totalprice FROM orders
      |    UNION ALL
      |    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) + 30 AS o_date,
      |           o_totalprice FROM orders) staged) t
      |WHERE o_date = mx AND o_totalprice = mn""".stripMargin

  /** Deterministic per-sf scratch dir for dump fixtures (inside the
    * repo's target dir; never touches the read-only testdata). */
  private def dumpDir(dir: String): String =
    s"/root/repo/target/dumps/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** Grouped shared-session execution as a LIBRARY feature: submit the
    * named queries' sinks concurrently to one session. Spark's fixed
    * per-query job-submission cost (~0.3 s on local mode) is paid once
    * per in-flight slot rather than once per query, and the scheduler
    * overlaps unrelated stages — how a real workload runs a query set,
    * and the shape behind the bench's grouped pass. Results are
    * identical to running each query alone (queries share nothing but
    * the session; `RunAllSpec` pins the parity).
    *
    * `sink` materializes each query (write, collect, count —
    * caller's choice) on the pool thread. Order of `names` is the
    * submission order: put long-running queries first (LPT) to bound
    * the makespan. The first failure cancels what hasn't started,
    * waits for the queries already running, and is rethrown with its
    * query's name ([[Concurrently.run]]). */
  def runAll(spark: SparkSession, dir: String, parallelism: Int = 8,
             names: Seq[String] = queries.keys.toSeq.sorted)
            (sink: (String, DataFrame) => Unit): Unit = {
    require(parallelism >= 1, "parallelism must be >= 1")
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // Shared-computation amortization: when >= 2 of the CC trio run in
    // this group, materialize their common cluster-labels frame once
    // (persisted) instead of re-running the iterative CC per query.
    // Row-level results are unchanged (RunAllSpec pins grouped ==
    // sequential); only populated for the duration of this call.
    val sharedLabels =
      if (names.count(ccTrio) >= 2 &&
          !clusterLabelCache.containsKey((spark, dir))) {
        val labels = computeClusterLabels(spark, dir).persist()
        labels.count()
        clusterLabelCache.put((spark, dir), labels)
        Some(labels)
      } else None
    try {
      Concurrently.run(names.map(name =>
          name -> (() => sink(name, queries(name)(spark, dir)))), parallelism)(
        name => s"runAll: query $name failed")
    } finally {
      sharedLabels.foreach { labels =>
        clusterLabelCache.remove((spark, dir))
        labels.unpersist()
      }
    }
  }

  // ---- the contract ------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2a-3: users narrow projection (ght2dm.go:414-431)
    "q_users_projection" -> ((s, dir) => Projections.users(t(s, dir, "customer"))),

    // §2a-4: gh_users 14-col projection (ght2dm.go:375-411) incl. the
    // updated_at<-created_at fill (§2a-10)
    "q_ghusers_projection" -> ((s, dir) => Projections.ghUsers(t(s, dir, "customer"))),

    // §2a-2: entity type dispatch (ght2dm.go:294-315)
    "q_entity_dispatch" -> ((s, dir) =>
      Projections.dispatch(t(s, dir, "customer"))
        .select(col("c_custkey"), col("entity_type"))),

    // §2a-5: gh_organizations projection (ght2dm.go:340-372)
    "q_ghorgs_projection" -> ((s, dir) =>
      Projections.ghOrganizations(t(s, dir, "customer"))),

    // §2a-7: derived clone_path key (ght2dm.go:551-567)
    "q_clone_path" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Normalize.clonePath(col("p_type"), col("p_brand"), col("p_name"))
          .as("clone_path"))),

    // §2a-8: null-byte strip (ght2dm.go:573-575); the null byte is
    // injected because the synthetic data contains none
    "q_clean_strings" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        Normalize.removeNullBytes(concat(col("props"), lit("\u0000")))
          .as("props_clean"))),

    // §2a-9: empty-string -> NULL (ght2dm.go:581-594)
    "q_empty_to_null" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        Normalize.emptyToNull(col("props")).as("props_n"),
        Normalize.emptyToNull(lit("")).as("always_null"))),

    // §2a-10: updated_at <- coalesce(updated_at, created_at)
    "q_date_coalesce" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        Normalize.coalesceUpdated(
          when(col("o_orderkey") % 5 === 0, lit(null).cast("date"))
            .otherwise(col("o_orderdate").cast("date")),
          date_sub(col("o_orderdate").cast("date"), 30)).as("updated_at"))),

    // §2a-11: latest-wins dedup (insert_from_tmp_tables.sql:39-51)
    "q_latest_wins" -> ((s, dir) => qLatestWins(s, dir)),

    // §2a-12: anti-join vs existing + non-empty-key guard
    // (insert_from_tmp_tables.sql:52-54)
    "q_anti_join_new" -> ((s, dir) =>
      Dedup.antiJoinNew(
        qLatestWins(s, dir),
        existing = t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey")),
        keys = Seq("o_orderkey"),
        guards = Seq(col("o_totalprice") > 0))),

    // §2a-13: surrogate id assignment (insert_from_tmp_tables.sql:59-61).
    // rangeDenseIds = dense_rank semantics on the post-dedup key WITHOUT
    // a single-partition global sort (range partition + per-partition
    // rank + broadcast offsets)
    "q_surrogate_ids" -> ((s, dir) =>
      Surrogate.rangeDenseIds(
        t(s, dir, "part").select(
          Normalize.clonePath(col("p_type"), col("p_brand"), col("p_name"))
            .as("clone_path")).dropDuplicates(),
        keys = Seq(col("clone_path")), idName = "repo_id",
        // one-shot query: lazy composition keeps the plan inspectable
        // (PlanSpec) and skips the checkpoint write; the leak-guarding
        // default materialize=true is for per-micro-batch callers
        materialize = false)),

    // §2a-14: org-membership resolution via broadcast dim joins
    // (ght2dm.go:657-772)
    "q_resolve_members" -> ((s, dir) => {
      val orders = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      Resolve.joinDim(
          Resolve.joinDim(orders, cust, Seq(("o_custkey", "c_custkey"))),
          nat, Seq(("c_nationkey", "n_nationkey")))
        .select(col("o_orderkey"), col("c_name").as("login"),
          col("n_name").as("nation"))
    }),

    // §2a-15: repo-collaborator resolution, multi-hop + composite
    // full_name key (ght2dm.go:814-959)
    "q_resolve_collabo" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      val prt = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      Resolve.joinDim(
          Resolve.joinDim(li, sup, Seq(("l_suppkey", "s_suppkey"))),
          prt, Seq(("l_partkey", "p_partkey")))
        .select(col("l_orderkey"), col("l_linenumber"), col("s_name"), col("p_name"),
          concat(col("s_name"), lit("/"), col("p_name")).as("full_name"))
    }),

    // §2a-16: idempotent upsert (fetch*ID existence checks,
    // ght2dm.go:440-490)
    "q_idempotent_upsert" -> ((s, dir) => {
      val all = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      Dedup.idempotentUpsert(
        existing = all.filter(col("c_custkey") % 2 === 0),
        incoming = all, keys = Seq("c_custkey"))
    }),

    // §2a-1,6,17: length-prefixed dump source via DataSource V2, with
    // date-ordered file visitation; round-trips customer rows through
    // framed JSON docs (ght2dm.go:202-236, 985-1058)
    "q_dump_source" -> ((s, dir) => {
      val out = dumpDir(dir)
      val src = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      // stage: write 4 date-named dump shards, one per partition
      src.repartition(4, col("c_custkey")).toJSON.foreachPartition {
        (it: Iterator[String]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          DumpSource.writeDump(f"$out/2014-01-${pid + 1}%02d.bson",
            it.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      val paths = DumpSource.listDateOrdered(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, c_mktsegment STRING")
      s.read.format("graft.sources.DumpDataSource").load(paths: _*)
        .select(from_json(col("doc").cast("string"), schema).as("j"))
        .select(col("j.c_custkey").as("c_custkey"), col("j.c_name").as("c_name"),
          col("j.c_mktsegment").as("c_mktsegment"))
    }),

    // §2a-1 (BSON variant): the same round-trip through REAL framed
    // BSON documents (mongodump shape) decoded by the FromBson
    // expression — the reference's mgo/bson unmarshal path
    // (ght2dm.go:277-315), not a JSON stand-in
    "q_dump_source_bson" -> ((s, dir) => {
      val out = dumpDir(dir) + "_bson"
      val src = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      src.repartition(4, col("c_custkey")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          DumpSource.writeDump(f"$out/2014-01-${pid + 1}%02d.bson",
            it.map(r => graft.functions.Bson.docBody(Seq(
              "c_custkey" -> r.getLong(0), "c_name" -> r.getString(1),
              "c_mktsegment" -> r.getString(2)))))
      }
      val paths = DumpSource.listDateOrdered(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, c_mktsegment STRING")
      s.read.format("graft.sources.DumpDataSource").load(paths: _*)
        .select(graft.plans.BsonFunctions.fromBson(col("doc"), schema).as("j"))
        .select(col("j.c_custkey").as("c_custkey"), col("j.c_name").as("c_name"),
          col("j.c_mktsegment").as("c_mktsegment"))
    }),

    // §2b (web-crawl ingestion): WARC/ISO-28500 round-trip — documents
    // written as real WARC/1.0 response records, read back through the
    // self-resyncing DataSource V2 (index-free sub-file splits: the
    // sub-shard splitBytes forces several byte-range tasks per shard
    // and the magic-scan resync must find every record exactly once;
    // 128 KiB — not the 4 KiB this query used to bench, which cut
    // ~600 KiB sf0.1 shards into ~150 splits each and paid hundreds of
    // task launches per run for splits no deployment would configure.
    // Guide §6 split sizing; the pathological tiny-split cases stay
    // spec-hammered in WarcSourceSpec)
    "q_warc_ingest" -> ((s, dir) => {
      val out = dumpDir(dir) + "_warc"
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      src.repartition(4, col("doc_id")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.WarcSource.writeWarc(f"$out/shard-$pid%02d.warc",
            it.map(r => (s"http://corpus.local/doc/${r.getLong(0)}",
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      }
      val paths = (0 until 4).map(p => f"$out/shard-$p%02d.warc")
      s.read.format("graft.sources.WarcDataSource")
        .option("splitBytes", 128L << 10)
        .load(paths: _*)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("content").cast("string").as("text"),
          col("content_length"))
    }),

    // §2b (web-crawl ingestion, compressed): the Common Crawl shipping
    // layout — ONE GZIP MEMBER PER RECORD (.warc.gz), written and read
    // back through the member-magic resync path (128 KiB compressed
    // splits force several byte-range tasks per shard; each candidate
    // is validated by inflating the member head and checking the WARC
    // magic, and every member's CRC/ISIZE is verified. Guide §6 split
    // sizing — was 8 KiB, ~45 splits per ~370 KiB sf0.1 shard; the
    // tiny-split path stays spec-hammered)
    "q_warc_gz" -> ((s, dir) => {
      val out = dumpDir(dir) + "_warcgz"
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      src.repartition(4, col("doc_id")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.WarcSource.writeWarcGz(f"$out/shard-$pid%02d.warc.gz",
            it.map(r => (s"http://corpus.local/doc/${r.getLong(0)}",
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      }
      val paths = (0 until 4).map(p => f"$out/shard-$p%02d.warc.gz")
      s.read.format("graft.sources.WarcDataSource")
        .option("splitBytes", 128L << 10)
        .load(paths: _*)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("content").cast("string").as("text"),
          col("content_length"))
    }),

    // §2b (WARC→WET): HTTP response split INSIDE WARC response
    // records — a crawl response payload is status line + headers +
    // body, and the WET step needs them apart. One codegen projection
    // (header scan on the latin-1 byte view, body sliced from RAW
    // bytes), charset-aware text decode with the WHATWG meta-charset
    // prescan, extractHtmlText gated on the HTML media type. Nine
    // planted response shapes: utf-8 html, latin-1 text (non-ASCII
    // round-trip), a duplicate-header 404 with no charset, a
    // content-type-less BINARY body that must never reach a decoder,
    // two SNIFFED-charset pages (meta charset latin-1, http-equiv
    // cp1252), a header-declared Shift_JIS page and a meta-sniffed
    // gb2312 page (the JVM-charset kernel under the WHATWG remaps),
    // and an UNKNOWN-label page that must fall back to utf-8
    "q_warc_http" -> ((s, dir) => {
      val out = dumpDir(dir) + "_warchttp"
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      src.repartition(4, col("doc_id")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.WarcSource.writeWarc(f"$out/shard-$pid%02d.warc",
            it.map(r => (s"http://corpus.local/doc/${r.getLong(0)}",
              syntheticHttpPayload(r.getLong(0), r.getString(1)))))
      }
      val paths = (0 until 4).map(p => f"$out/shard-$p%02d.warc")
      val warc = s.read.format("graft.sources.WarcDataSource")
        .option("splitBytes", 128L << 10)
        .load(paths: _*)
      operators.WebClean.httpResponses(warc)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("status_code"), col("http_version"), col("content_type"),
          col("charset"),
          size(col("headers")).as("n_headers"),
          length(col("body")).cast("bigint").as("body_len"),
          col("body_text"), col("wet_text"))
    }),

    // §2b-30h: WET export — the WARC→WET OUTPUT side: the extracted
    // text corpus written as `conversion` records (WARC-Type
    // conversion, Content-Type text/plain, WARC-Refers-To
    // cross-referencing the response record's id) and split-read back
    // by the same WARC reader — WET files ARE WARC files; the
    // physical write+read round-trip caveat family
    "q_wet_export" -> ((s, dir) => {
      val out = dumpDir(dir) + "_wet"
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      src.repartition(4, col("doc_id")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.WarcSource.writeWet(f"$out/wet-$pid%02d.warc",
            it.map(r => (s"http://corpus.local/doc/${r.getLong(0)}",
              r.getString(1))))
      }
      val paths = (0 until 4).map(p => f"$out/wet-$p%02d.warc")
      s.read.format("graft.sources.WarcDataSource")
        .option("splitBytes", 128L << 10)
        .load(paths: _*)
        .where(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("warc_type"),
          col("content").cast("string").as("text"),
          col("content_length"))
    }),

    // §2b (multimodal-corpus ingestion): WebDataset-layout tar
    // round-trip — customer rows written as grouped sample files
    // (<key>.txt + <key>.cls) into real ustar archives, read back
    // through the block-aligned checksum-resync DataSource V2 (1 MiB
    // splitBytes still forces several byte-range resyncs per ~7.6 MiB
    // sf0.1 shard — ~32 across the read, more at larger sf;
    // TarSourceSpec hammers the pathological tiny-split case. Guide §6
    // split sizing: the previous 64 KiB cut each shard into ~120
    // splits, ~480 task launches + 1 MiB meta-lookback reads per run
    // for a geometry no deployment would configure — measured 54 CPU
    // seconds on a 4.4 s wall), regrouped into samples by the
    // WebDataset key rule, and projected back to the source columns
    "q_tar_ingest" -> ((s, dir) => {
      val out = dumpDir(dir) + "_tar"
      val src = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      src.repartition(4, col("c_custkey")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.TarSource.writeTar(f"$out/shard-$pid%02d.tar",
            it.flatMap(r => Seq(
              (s"${r.getLong(0)}.txt",
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)),
              (s"${r.getLong(0)}.cls",
                r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
      }
      val paths = (0 until 4).map(p => f"$out/shard-$p%02d.tar")
      val tar = s.read.format("graft.sources.TarDataSource")
        .option("splitBytes", 1L << 20)
        .load(paths: _*)
      graft.sources.TarSource.tarSamples(tar)
        .select(col("sample_key").cast("bigint").as("c_custkey"),
          element_at(col("members"), "txt").cast("string").as("c_name"),
          element_at(col("members"), "cls").cast("string").as("c_mktsegment"))
    }),

    // §2a-1/§6 (entity breadth): commits ingestion end to end — REAL
    // framed BSON commit documents (nested author/commit structs + the
    // parents ARRAY) through FromBson + Ingest.importCommits. Every
    // sha ships twice with different author dates (re-shipped dump
    // semantics); first-wins keeps the earlier copy, and the oracle
    // replays the whole projection from the orders rows the fixture
    // was built from
    "q_commits_ingest" -> ((s, dir) => {
      val out = dumpDir(dir) + "_commits"
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        concat(lit("clerk"), col("o_custkey")).as("clerk"),
        col("o_orderdate").cast("date").cast("string").as("d"))
      src.repartition(4, col("o_orderkey")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          DumpSource.writeDump(f"$out/2014-02-${pid + 1}%02d.bson",
            it.flatMap { r =>
              val k = r.getLong(0)
              val clerk = r.getString(1)
              val d = r.getString(2)
              val d2 = java.time.LocalDate.parse(d).plusDays(1).toString
              val parents = (k % 3) match {
                case 0 => Nil
                case 1 => Seq(s"sha${k - 1}")
                case _ => Seq(s"sha${k - 1}", s"sha${k - 2}")
              }
              def doc(date: String, msg: String) =
                graft.functions.Bson.docBody(Seq(
                  "sha" -> s"sha$k",
                  "author" -> Seq("id" -> (k % 100), "login" -> clerk),
                  "committer" -> Seq("id" -> (k % 100), "login" -> clerk),
                  "commit" -> Seq(
                    "message" -> msg, "comment_count" -> (k % 10),
                    "author" -> Seq("name" -> clerk,
                      "email" -> s"$clerk@x", "date" -> s"${date}T00:00:00Z"),
                    "committer" -> Seq("name" -> clerk,
                      "email" -> s"$clerk@x", "date" -> s"${date}T12:00:00Z")),
                  "parents" -> graft.functions.Bson.BArray(
                    parents.map(p => Seq("sha" -> p)))))
              Iterator(doc(d, s"v1 commit $k"), doc(d2, s"v2 commit $k"))
            })
      }
      val paths = DumpSource.listDateOrdered(out)
      val raw = s.read.format("graft.sources.DumpDataSource").load(paths: _*)
        .select(graft.plans.BsonFunctions.fromBson(
          col("doc"), Ingest.commitSchema).as("e"))
        .select(col("e.*"))
      Ingest.importCommits(raw).select(
        col("sha"), col("author_github_id"), col("author_login"),
        col("message"), col("comment_count"),
        col("authored_at").cast("date").as("authored_day"),
        array_join(col("parent_shas"), ",").as("parent_shas"))
    }),

    // §2b-18: exact content dedup
    "q_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")),

    // §2b-53: normalized ("fuzzy exact") dedup — exact dedup over the
    // canonicalized key (lowercase, punctuation→space, collapsed
    // whitespace). Planted casing/punctuation variants (+100000)
    // collapse onto their originals; byte-exact dedup would miss all
    // of them
    "q_norm_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // planted variants upper-case via ASCII translate, not upper():
      // Unicode case mappings differ between Java and utf8proc (ß, İ),
      // so the planted corpus itself must be engine-independent
      val noisy = docs.select((col("doc_id") + 100000L).as("doc_id"),
        concat(translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ"), lit("  !!")).as("text"))
      Dedup.normalizedDedup(docs.unionByName(noisy), "text", "doc_id")
    }),

    // §2b-53b: Unicode-canonical dedup keys — planted byte-variant
    // spellings (precomposed U+00E9 vs e + combining U+0301) collapse
    // under the codegen NfcNormalize expression before hashing, the
    // normalization real crawls need ahead of any byte-keyed dedup;
    // DuckDB's nfc_normalize replays it exactly
    "q_nfc_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val pre = docs.select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" caf\u00e9")).as("text"))
      val dec = docs.select((col("doc_id") + 200000L).as("doc_id"),
        concat(col("text"), lit(" cafe\u0301")).as("text"))
      docs.unionByName(pre).unionByName(dec)
        .select(col("doc_id"),
          sha2(graft.plans.HashExpressions.nfcNormalize(col("text")), 256)
            .as("content_sha"))
        .groupBy(col("content_sha"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
    }),

    // §2b-18c: duplicated-substring removal at 8-token-window
    // granularity (Lee et al. 2022 ExactSubstr, Spark-shaped: window
    // key shuffle + first-occurrence retention instead of a corpus
    // suffix array). byHash=true is the 8-byte-key 100 TB path and is
    // what's oracle-gated here: the DuckDB side replays fnv64 as
    // HUGEINT mod-2^64 arithmetic and partitions on the HASH key, so
    // the winner choice — including any 64-bit collision — is replayed
    // exactly; string-key equivalence stays parity-pinned in DedupSpec
    "q_substring_dedup" -> ((s, dir) =>
      Dedup.substringDedup(neardupCorpus(s, dir), "doc_id", "text",
        w = 8, byHash = true)),

    // §2b-18b: corpus-wide exact PARAGRAPH dedup (Lee et al. 2022's
    // within-and-across-document step). The flat synthetic corpus gets
    // deterministic paragraph structure first — 20-token chunks plus a
    // shared boilerplate header every doc repeats — so the operator
    // demonstrably strips cross-document repetition: the header
    // survives only in the lowest doc_id. byHash=false so the DuckDB
    // oracle replays the winner choice on paragraph strings; the
    // byHash=true scale path (8-byte fnv64 shuffle keys) is
    // parity-asserted in DedupSpec.
    "q_para_dedup" -> ((s, dir) => {
      // bind the token array to a column FIRST (codegen discipline:
      // a regexp_extract_all referenced inside transform re-inlines
      // the regex scan per element and blows up janino); size filter
      // aligns the zero-token edge with the oracle's floor division
      // (see q_strip_boilerplate)
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .filter(size(col("__t")) > 0)
      val structured = withToks.select(col("doc_id"),
        concat(lit("shared boilerplate header\n"),
          array_join(
            transform(sequence(lit(0),
                ((size(col("__t")) - 1) / 20).cast("int")),
              i => array_join(slice(col("__t"), i * 20 + 1, lit(20)), " ")),
            "\n")).as("text"))
      Dedup.paragraphDedup(structured, "doc_id", "text", byHash = false)
    }),

    // §2b-18e: corpus-LEVEL boilerplate stripping — the third line
    // retention policy: the planted header has doc-frequency n_docs,
    // far over maxDocFreq=2, so it is stripped from EVERY doc (where
    // q_para_dedup keeps its first copy); content chunks have doc
    // frequency ~1 and survive. byHash=false so the oracle replays on
    // line strings; the byHash scale path is parity-asserted in
    // DedupSpec.
    "q_strip_boilerplate" -> ((s, dir) => {
      // size filter: a zero-token doc would get one EMPTY chunk here
      // ((size-1)/20 truncates -1 toward 0) while the oracle's floor
      // division drops it — exclude such docs on both sides
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .filter(size(col("__t")) > 0)
      val structured = withToks.select(col("doc_id"),
        concat(lit("shared boilerplate header\n"),
          array_join(
            transform(sequence(lit(0),
                ((size(col("__t")) - 1) / 20).cast("int")),
              i => array_join(slice(col("__t"), i * 20 + 1, lit(20)), " ")),
            "\n")).as("text"))
      Dedup.stripBoilerplateLines(structured, "doc_id", "text",
        maxDocFreq = 2, byHash = false)
    }),

    // §2b-25k: C4-style boilerplate line cleaning (Raffel et al. 2020
    // §2.2): the synthetic corpus has no line structure or
    // punctuation, so lines are rebuilt deterministically from the
    // token stream (10-token chunks) with a replayable defect mix —
    // unpunctuated lines (i%4=0), a brace+javascript line (i%7=2), a
    // mixed-case javascript mention (i%5=1), short tails — then
    // filtered by the one-pass cleanLines kernel (no line explode);
    // docs with no surviving line are dropped like C4 pages
    "q_clean_lines" -> ((s, dir) => {
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .filter(size(col("__t")) > 0)
      val structured = withToks.select(col("doc_id"),
        array_join(
          transform(sequence(lit(0), ((size(col("__t")) - 1) / 10).cast("int")),
            i => concat(
              array_join(slice(col("__t"), i * 10 + 1, lit(10)), " "),
              when(pmod(i, lit(7)) === 2, lit(" { javascript }"))
                .when(pmod(i, lit(4)) === 0, lit(""))
                .when(pmod(i, lit(5)) === 1, lit(" enable Javascript please."))
                .otherwise(lit(".")))),
          "\n").as("text"))
      structured
        .select(col("doc_id"),
          HashExpressions.cleanLines(col("text"), minWords = 3).as("clean_text"),
          size(split(col("text"), "\n")).cast("long").as("__total"))
        .filter(length(col("clean_text")) > 0)
        .select(col("doc_id"), col("clean_text"),
          size(split(col("clean_text"), "\n")).cast("long").as("n_lines_kept"),
          (col("__total") - size(split(col("clean_text"), "\n")))
            .cast("long").as("n_lines_dropped"))
    }),

    // §2b-25i: within-document duplicate-line character fraction (the
    // Gopher repetition battery's line-level signal, Rae et al. 2021:
    // "fraction of characters in duplicate lines"): docs get
    // deterministic line structure (20-token chunks + header) with the
    // FIRST chunk repeated at the end, so every doc carries a planted
    // internal duplicate; one explode + two hash aggs, all built-ins
    "q_dup_line_frac" -> ((s, dir) => {
      // NULL text scores 0.0 like the oracle (tokens(NULL) would
      // otherwise propagate to explode(NULL) and DROP the row)
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokens(coalesce(col("text"), lit(""))).as("__t"))
      val lines = withToks.select(col("doc_id"), explode(concat(
          array(lit("shared boilerplate header")),
          transform(sequence(lit(0),
              ((size(col("__t")) - 1) / 20).cast("int")),
            i => array_join(slice(col("__t"), i * 20 + 1, lit(20)), " ")),
          array(array_join(slice(col("__t"), lit(1), lit(20)), " "))))
        .as("line"))
      lines.groupBy(col("doc_id"), col("line"))
        .agg(count(lit(1)).as("c"))
        .withColumn("l", length(col("line")).cast("long"))
        .groupBy(col("doc_id"))
        .agg(round(
          sum(when(col("c") > 1, col("l") * col("c")).otherwise(0L))
            .cast("double") /
          sum(col("l") * col("c")).cast("double"), 6)
          .as("dup_line_char_frac"))
    }),

    // §2b-19/21: MinHash-LSH near-dup candidates + exact-Jaccard verify.
    // The corpus is augmented with deterministic truncated copies
    // (doc_id+100000) so the operator demonstrably finds the planted
    // near-dups; pairs are generated per LSH bucket, never all-pairs.
    "q_minhash_pairs" -> ((s, dir) =>
      NearDup.minhashPairs(neardupCorpus(s, dir), "doc_id", "text",
        k = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)),

    // §2b-20/27: SimHash + winnowing fingerprint via the custom codegen
    // Catalyst expressions
    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        HashExpressions.simhash64(col("text")).as("simhash"),
        HashExpressions.winnow64(col("text"), 8).as("fingerprint"))),

    // §2b-18d: content-defined-chunking block duplication stats —
    // storage-dedup's shift-robust block granularity applied to corpus
    // curation: boundaries are a w-byte local hash predicate, so a
    // shared block is found even when edits move it (fixed blocks
    // mis-align forever; token windows need exact alignment)
    "q_cdc_blocks" -> ((s, dir) =>
      Dedup.cdcBlockStats(t(s, dir, "documents"), "text", "doc_id",
        w = 8, maskBits = 6)),

    // §2b-20: SimHash near-dup pairs over the augmented corpus
    "q_simhash_pairs" -> ((s, dir) =>
      NearDup.simhashPairs(neardupCorpus(s, dir), "doc_id", "text",
        maxHamming = 3)),

    // §2b-20b: near-dup CLUSTERING — connected components over the
    // simhash pair graph; every doc maps to its component's minimum id
    // (the deterministic keep-one-canonical policy). Hash-min label
    // propagation, diameter-bounded iterations.
    "q_dedup_clusters" -> ((s, dir) => clusterLabels(s, dir)),

    // §2b: corpus composition stats — per-language vocabulary top-10
    // (two map-combinable hash aggs + a WindowGroupLimit rank: the
    // result stage is O(langs·k) regardless of corpus size)
    "q_top_tokens" -> ((s, dir) =>
      LmScore.topTokens(t(s, dir, "documents"), "lang", "text", k = 10)),

    // §2b-41: sliding token-window chunking (sequence prep) — 32-token
    // chunks overlapping by 8; entirely narrow, no shuffle (Chunking)
    "q_chunk_docs" -> ((s, dir) =>
      Chunking.chunkTokens(t(s, dir, "documents"), Seq("doc_id"),
        col("text"), chunkSize = 32, overlap = 8)),

    // §2b-42: deterministic stratified sampling — content-hash gated
    // per-language rates (en kept at 20%, the rest at 50%), stable
    // under re-sharding/replay where df.sample() is not
    "q_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSampleByHash(t(s, dir, "documents"),
          col("lang"), col("text"), Map("en" -> 0.2), defaultRate = 0.5)
        .select(col("doc_id"), col("lang"))),

    // §2b-42b: temperature-scaled mixture (XLM-R/mT5 alpha-sampling):
    // per-language rates derived from the corpus shares at alpha=0.5
    // (rare languages upsampled toward uniform), gated by the same
    // content hash as the stratified sample
    "q_temperature_sample" -> ((s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents"),
          col("lang"), col("text"), alpha = 0.5, targetFrac = 0.25)
        .select(col("doc_id"), col("lang"))),

    // §2b-45: per-source cap (domain balancing) — keep the 10
    // smallest-content-hash docs per source; deterministic and
    // replay-stable like the stratified sample, WindowGroupLimit keeps
    // the exchange at O(sources × cap × partitions)
    "q_source_cap" -> ((s, dir) =>
      Sampling.capPerGroup(t(s, dir, "documents"),
          col("source"), HashExpressions.fnv64(col("text")), col("doc_id"),
          n = 10)
        .select(col("doc_id"), col("source"))),

    // §2b-43: BM25 lexical retrieval — top-10 docs per query term, the
    // sparse half of a hybrid retrieval stack (dense half: q_ann_* /
    // q_hybrid_search)
    "q_bm25" -> ((s, dir) =>
      LmScore.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "join", "window", "hash", "vector"), k = 10)),

    // §2b-38b: hybrid retrieval by reciprocal-rank fusion — two
    // genuinely different rankers over the same query (multi-term BM25
    // summed per doc; query-set Jaccard over distinct tokens), each
    // cut to its top-20 list, fused by 1/(60+rank). Per-doc BM25 sums
    // go through DECIMAL so the ranking is partial-order-insensitive.
    "q_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = Seq("spark", "join", "window", "hash", "vector")
      // rank-free bm25Scores (NOT a per-term top-k cut, which would
      // silently truncate per-doc sums once a term matches more docs
      // than the cut); top-20 via orderBy+limit (TakeOrderedAndProject
      // — per-partition heap, no global sort); the rank window then
      // runs over 20 rows, not the matched corpus. The partition key
      // pmod(doc_id, 1) is constantly 0 — semantically the
      // no-partition window — but NON-FOLDABLE, so Spark 4's
      // EliminateWindowPartitions can't strip it back to an empty
      // partitionSpec and WindowExec's all-data-to-one-partition
      // WARNING (24 expected copies masking real regressions in the
      // verify logs — round-11 verdict) stays out of the logs
      val one = pmod(col("doc_id"), lit(1L))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(one).orderBy(col("__s").desc, col("doc_id"))
      val lex = LmScore.bm25Scores(docs, "doc_id", "text", terms)
        .groupBy(col("doc_id"))
        .agg(sum(col("score").cast("decimal(18,6)")).cast("double").as("__s"))
        .orderBy(col("__s").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(wAll))
      val qArr = array(terms.map(lit): _*)
      // the ONE shared tokenizer — both fused rankers must tokenize
      // identically or a tokenizer change silently skews the fusion
      val toksD = array_distinct(LmScore.bm25Tokens(col("text")))
      val wOv = org.apache.spark.sql.expressions.Window
        .partitionBy(one).orderBy(col("__j").desc, col("doc_id"))
      val overlap = docs
        .select(col("doc_id"),
          (size(array_intersect(toksD, qArr)).cast("double") /
            size(array_union(toksD, qArr)).cast("double")).as("__j"))
        .filter(col("__j") > 0)
        .orderBy(col("__j").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(wOv))
      LmScore.rrfFuse(lex, overlap, "doc_id", kRrf = 60, k = 10)
    }),

    // §2b: benchmark decontamination (the GPT-3/PaLM appendix policy,
    // Lee et al. 2022 §6): drop every training doc sharing ANY word
    // 5-shingle with the eval set. Shingle sets are the codegen
    // shingles64 kernel (8-byte FNV hashes) and contamination travels
    // as narrow (doc_id) / (hash) rows — at 100 TB the corpus text
    // never shuffles, only 8-byte keys do. The broadcast hint reflects
    // REAL usage, where eval benchmarks are KB-MB scale; the
    // self-derived test slice here (every 20th doc) stands in for one
    // and at a genuinely corpus-sized "eval set" the hint should be
    // dropped so the planner picks a shuffle join.
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val docSh = docs.select(col("doc_id"),
        explode(HashExpressions.shingles64(col("text"), 5)).as("sh"))
      val benchSh = bench.select(
        explode(HashExpressions.shingles64(col("text"), 5)).as("sh")).distinct()
      val contaminated = docSh.join(broadcast(benchSh), Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
      docs.join(contaminated, Seq("doc_id"), "left_anti")
    }),

    // §2b-20g: fractional contamination scoring — the thresholdable
    // form of decontamination (report |doc shingles ∩ eval shingles| /
    // |doc shingles| instead of a binary drop), the measurement the
    // binary policy's threshold is tuned from. Same narrow shape as
    // q_decontaminate: only 8-byte shingle hashes move, then one
    // map-combinable per-doc aggregation.
    "q_contamination_frac" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val docSh = docs.select(col("doc_id"),
        explode(HashExpressions.shingles64(col("text"), 5)).as("sh"))
      val benchSh = bench.select(
          explode(HashExpressions.shingles64(col("text"), 5)).as("sh"))
        .distinct().withColumn("__hit", lit(1))
      docSh.join(broadcast(benchSh), Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(round(
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double"), 6).as("contamination_frac"))
    }),

    // §2b-44: the SAME policy at eval-set sizes a broadcast can't hold
    // — Bloom prefilter in the corpus scan (no false negatives), exact
    // verify join over the fpp-thinned survivors; output identical to
    // q_decontaminate for any fpp, so it shares that oracle verbatim
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 20 === 0)
      Decontaminate.decontaminateBloom(docs, "doc_id", "text",
        bench, "text", shingleK = 5, fpp = 0.01)
    }),

    // §2b-44b: SPAN-level decontamination — remove exactly the tokens
    // covered by an eval-matching 5-shingle instead of dropping the
    // whole doc (the surgical variant; substringDedup's covered-token
    // machinery pointed at an eval set). Corpus = the non-eval docs.
    "q_decontaminate_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      Decontaminate.decontaminateSpans(corpus, "doc_id", "text",
        bench, "text", shingleK = 5)
    }),

    // §2b-21c: containment (inclusion coefficient |A∩B| / |side|) on
    // the same constructed near-dup pair as q_ngram_jaccard — the
    // asymmetric signal that catches SUBSET duplication (quote,
    // excerpt, truncation) that symmetric Jaccard under-scores: the
    // planted pair here is a strict truncation, so containment_b_in_a
    // is 1.0 while jaccard is < 1. Same narrow shape: only distinct
    // shingle-hash sets are compared, text never moves.
    "q_containment" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(size(split(trim(col("text")), "\\s+")) >= 4)
      val a = base.select(col("doc_id"),
        HashExpressions.shingles64(col("text"), 3).as("sh_a"))
      val b = base.select(col("doc_id"),
        HashExpressions.shingles64(
          regexp_replace(trim(col("text")), "\\s+\\S+$", ""), 3).as("sh_b"))
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      a.join(b, "doc_id")
        .select(col("doc_id"),
          round(inter / size(col("sh_b")).cast("double"), 6)
            .as("containment_b_in_a"),
          round(inter / size(col("sh_a")).cast("double"), 6)
            .as("containment_a_in_b"),
          (size(array_intersect(col("sh_a"), col("sh_b"))) ===
            size(col("sh_b"))).as("is_subset"))
    }),

    // §2b-56: per-source distinct-content cardinality via the custom
    // mergeable HLL sketch aggregate (TypedImperativeAggregate; the
    // ESTIMATE itself is oracle-checked — DuckDB replays the fnv64
    // pre-hash, bucket/rank register build, and the exact power-of-two
    // register sum). exact_distinct rides along as the accuracy
    // witness; at corpus scale the sketch replaces the exact distinct's
    // full shuffle with one 512-byte buffer per group per map task.
    "q_hll_card" -> ((s, dir) =>
      // fnv64 bound to a column below the aggregate: the sketch forces
      // ObjectHashAggregate, whose agg children evaluate interpreted —
      // the projection keeps the hash kernel in codegen (and computes
      // it once, not once per referencing aggregate)
      t(s, dir, "documents")
        .select(col("source"), HashExpressions.fnv64(col("text")).as("__h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          graft.plans.HllExpressions.hllEstimate(
            graft.plans.HllExpressions.hllSketch64(col("__h"), 9))
            .as("est_distinct"),
          countDistinct(col("__h")).as("exact_distinct"))),

    // §2b-56c: INCREMENTAL dataset card — the sketch columns doing
    // their real job: two release cards (full corpus + a re-ship of
    // the even docs) each built with ONE aggregation over its own
    // data, merged without touching either corpus again (sums add,
    // HLL sketches union), then finished. The oracle replays a DIRECT
    // single pass over the union corpus — equality proves the whole
    // partial→merge→finish path.
    "q_card_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val relB = docs.filter(col("doc_id") % 2 === 0)
      val keys = Seq("source", "lang")
      Profile.finishCard(
        Profile.mergeCards(Seq(
          Profile.releaseCard(docs, "text", keys),
          Profile.releaseCard(relB, "text", keys)), keys), keys)
    }),

    // §2b-25m: distributed TRAINING of the hashed-n-gram quality
    // classifier (the WebText/GPT-3 pattern) — 3 rounds of full-batch
    // logistic-regression gradient descent, each ONE job: the
    // inference kernel computes the forward pass inside the scan,
    // residuals ride the same projection, the gradient is a
    // map-combined 1024-row aggregate, the driver applies w -= lr·g.
    // Labels here are the deterministic doc_id parity (the oracle
    // must replay the ARITHMETIC; learnability is spec-tested on
    // crafted classes in ClassifySpec).
    "q_train_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("text"), (col("doc_id") % 2).cast("double").as("y"))
      val w = Classify.trainLogReg(docs, "text", "y",
        numBuckets = 1024, iters = 3, lr = 0.01)
      Classify.weightsDf(s, w)
    }),

    // §2b-52c: the overlap card at SKETCH cost — inclusion-exclusion
    // over three HLL estimates (A, B, and the UNION OF THE SKETCHES,
    // no corpus re-read). Release B keeps the odd docs and truncates
    // the evens, so roughly half the content is shared.
    "q_overlap_sketched" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val b = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"),
            regexp_replace(trim(col("text")), "\\s+\\S+$", "").as("text")))
      Profile.overlapCardSketched(docs, b, "text", p = 9)
    }),

    // §2b-56b: count-min frequency sketch — the approximate-COUNT
    // companion to q_hll_card's distinct sketch. One corpus pass
    // builds the 4×2048 sketch (ObjectHashAggregate, 64 KiB buffer);
    // the top-20 exact token counts ride along as the accuracy
    // witness, each with its sketch estimate (always >= exact, the
    // CMS one-sided guarantee — the oracle replays the estimates
    // exactly through the splitmix row-hash chain).
    // §2b-56d: mergeable histogram quantile sketch — per-source length
    // distribution, plus a __ALL__ row built by UNIONING THE SKETCHES
    // (never re-reading rows): equality with the oracle's direct
    // all-rows computation proves the merge algebra, the
    // q_card_incremental argument
    "q_hist_quantiles" -> ((s, dir) => {
      import graft.plans.HistExpressions._
      val docs = t(s, dir, "documents").filter(col("n_chars").isNotNull)
      val per = docs.groupBy(col("source"))
        .agg(histSketch(col("n_chars").cast("long")).as("__sk"))
      def render(df: DataFrame) = df.select(col("source"),
        histCount(col("__sk")).as("n"),
        histQuantile(col("__sk"), lit(5000)).as("p50"),
        histQuantile(col("__sk"), lit(9000)).as("p90"),
        histQuantile(col("__sk"), lit(9900)).as("p99"))
      render(per).unionByName(render(
        per.agg(histUnion(col("__sk")).as("__sk"))
          .select(lit("__ALL__").as("source"), col("__sk"))))
    }),

    "q_cms_counts" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      // hash bound below the ObjectHashAggregate (interpreted agg
      // children — the q_hll_card/releaseCard bind rule)
      val sketch = toks
        .select(HashExpressions.fnv64(col("token")).as("__h"))
        .agg(graft.plans.CmsExpressions.cmsSketch64(col("__h"), 4, 2048)
          .as("__sk"))
      toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), asc("token")).limit(20)
        .crossJoin(broadcast(sketch))
        .select(col("token"), col("exact_cnt"),
          graft.plans.CmsExpressions.cmsEstimate(col("__sk"),
            HashExpressions.fnv64(col("token"))).as("est_cnt"))
    }),

    // §2b-57: distributed BPE merge learning (Sennrich et al. 2016) —
    // ONE corpus shuffle to the word-frequency table, then 6 merge
    // rounds over the vocabulary (pair-count agg + 1-row argmax collect
    // + codegen merge pass each). Oracle replays the full greedy loop
    // in SQL via the run-parity window form.
    "q_bpe_merges" -> ((s, dir) =>
      Bpe.mergesDf(s, Bpe.learn(t(s, dir, "documents"), "text",
        numMerges = 6))),

    // §2b-58: cross-release token-distribution drift — the
    // distribution-level release gate next to q_overlap_card's
    // membership diff. Release B = every doc with its last token
    // dropped (a deterministic cleaning-change stand-in); the query
    // names the topK most-divergent tokens with their per-side
    // probabilities and JS contributions (ln/IEEE replay, the BM25
    // precedent).
    "q_token_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val relB = docs.select(col("doc_id"),
        regexp_replace(trim(col("text")), "\\s+\\S+$", "").as("text"))
      Profile.tokenDrift(docs, relB, "text", topK = 20)
    }),

    // §2b-57c: corpus-level encode through the word cache — distinct
    // words segment once (57b's projection), documents join their
    // tokens against the segmented vocabulary and reassemble. Docs
    // whose every token is non-ASCII drop (no vocab rows) like the
    // vocab filter dictates.
    "q_bpe_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.learn(docs, "text", numMerges = 6)
      Bpe.encodeDocs(docs.select(col("doc_id"), col("text")),
        "doc_id", "text", merges)
    }),

    // §2b-57b: the ENCODE step — the learned merges applied to the
    // vocabulary as 6 chained codegen merge passes in one projection
    // (how a corpus is actually segmented once the tokenizer is
    // learned; applying to words, not raw docs, is the standard
    // word-cache trick — each distinct word segments once).
    "q_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.learn(docs, "text", numMerges = 6)
      Bpe.wordCounts(docs, "text")
        .select(col("w"), col("cnt"),
          array_join(Bpe.applyMerges(Bpe.charSymbols(col("w")), merges), " ")
            .as("segmented"))
    }),

    // §2b-57 BYTE-LEVEL: the GPT-2 contract — merges learned over
    // UTF-8 byte (hex-pair) symbols on a corpus with planted CJK and
    // accents, NO ascii filter; proves vocabulary induction on
    // non-ASCII corpora (the code-point path's documented gap)
    "q_bpe_merges_bytes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      Bpe.mergesDf(s, Bpe.learn(docs, "text", numMerges = 6,
        asciiOnly = false, byteLevel = true))
    }),

    // §2b-57b BYTE-LEVEL encode: the same 6-merge chain applied to the
    // unfiltered vocabulary's byte symbols
    "q_bpe_encode_bytes" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      val merges = Bpe.learn(docs, "text", numMerges = 6,
        asciiOnly = false, byteLevel = true)
      Bpe.wordCounts(docs, "text", asciiOnly = false)
        .select(col("w"), col("cnt"),
          array_join(Bpe.applyMerges(Bpe.byteSymbols(col("w")), merges), " ")
            .as("segmented"))
    }),

    // §2b-57d: EXTERNAL tokenizer import — the published GPT-2
    // merges.txt format (bytes→unicode alphabet, "lhs rhs" per line)
    // parsed into the engine's byte-level hex chain and applied by the
    // SAME encode kernel as the learned path. This is how a production
    // pipeline tokenizes: with a shipped artifact, not a re-learned
    // one. The bundled sample exercises ASCII pairs, chained merges
    // (t h → th e) and multi-byte symbols (Ã © = the two UTF-8 bytes
    // of é, which fires on the planted 'café').
    "q_bpe_external" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      val merges = Bpe.loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      Bpe.wordCounts(docs, "text", asciiOnly = false)
        .select(col("w"), col("cnt"),
          array_join(Bpe.applyMerges(Bpe.byteSymbols(col("w")), merges), " ")
            .as("segmented"))
    }),

    // §2b-57e: tokenizer fertility / compression stats — the
    // vocabulary-fit report every tokenizer choice is judged by
    // (subwords per word, bytes per emitted token, per language),
    // computed under the EXTERNAL chain via the word-cache encode:
    // one corpus scan to words, the fixed chain over the vocab, a
    // token-to-vocab join, two aggs. At 100 TB the vocab side
    // broadcasts and text never shuffles.
    "q_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      val merges = Bpe.loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      // per-word subword counts, once per DISTINCT word (Heaps'-law
      // small -> broadcast); the rollup then aggregates straight off
      // the token explode by language — no per-doc intermediate, two
      // corpus-scan-class reads total (vocab agg + token explode)
      val vocab = Bpe.wordCounts(docs, "text", asciiOnly = false)
        .select(col("w"),
          size(Bpe.applyMerges(Bpe.byteSymbols(col("w")), merges))
            .cast("long").as("ns"))
      val toks = docs.select(col("lang"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      toks.join(broadcast(vocab), Seq("w"))
        .groupBy(col("lang"))
        .agg(
          round(sum(col("ns")).cast("double") /
            count(lit(1)).cast("double"), 6).as("fertility"),
          round(sum(octet_length(col("w"))).cast("double") /
            sum(col("ns")).cast("double"), 6).as("bytes_per_token"),
          sum(col("ns")).as("n_tokens"))
    }),

    // §2b-57f: fertility under the PUBLISHED GPT-2 PRE-TOKENIZER —
    // word boundaries from the GPT-2 regex (contraction suffixes,
    // space-prefixed letter/digit/punct runs, whitespace runs yielding
    // their last char forward), not whitespace splitting. This is the
    // other half of external-tokenizer parity: the same merges over
    // whitespace words give different token counts than tiktoken/HF;
    // this path reproduces the published word boundaries end-to-end.
    // Same plan shape as q_bpe_fertility: one codegen'd
    // regexp_extract_all, vocab broadcasts, text never shuffles.
    "q_bpe_fertility2" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      val merges = Bpe.loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      val vocab = Bpe.wordCountsGpt2(docs, "text")
        .select(col("w"),
          size(Bpe.applyMerges(Bpe.byteSymbols(col("w")), merges))
            .cast("long").as("ns"))
      val toks = docs.select(col("lang"),
        explode(Bpe.gpt2PreTokens(col("text"))).as("w"))
      toks.join(broadcast(vocab), Seq("w"))
        .groupBy(col("lang"))
        .agg(
          round(sum(col("ns")).cast("double") /
            count(lit(1)).cast("double"), 6).as("fertility"),
          round(sum(octet_length(col("w"))).cast("double") /
            sum(col("ns")).cast("double"), 6).as("bytes_per_token"),
          sum(col("ns")).as("n_tokens"))
    }),

    // §2b-57f: corpus ENCODE under the published tokenizer end to end
    // — GPT-2 pre-token boundaries + imported merges.txt chain through
    // the word-cache encode: what "tokenize the corpus like tiktoken"
    // actually runs. Same plan as q_bpe_docs (vocab segments once,
    // documents join and reassemble); only the word boundaries differ.
    "q_bpe_docs2" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      val merges = Bpe.loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      Bpe.encodeDocsGpt2(docs.select(col("doc_id"), col("text")),
        "doc_id", "text", merges)
    }),

    // §2b: the APPLIED near-dup policy — the composition users actually
    // run: candidate pairs → connected components → keep each cluster's
    // canonical (minimum-id) doc. One semi-join over the corpus; the
    // labels frame is (id, canonical) only, so at 100 TB the join side
    // is narrow and the text column never moves until the final join.
    "q_neardup_prune" -> ((s, dir) => {
      val corpus = neardupCorpus(s, dir)
      val canon = clusterLabels(s, dir)
        .filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"))
      corpus.join(canon, Seq("doc_id"), "left_semi")
    }),

    // §2b-20f: keep-best-exemplar near-dup prune — the SAME cluster
    // graph as q_neardup_prune, retention by quality argmax instead of
    // minimum id (curation policy: keep each duplicate family's best
    // document; ties resolve to the lowest id)
    "q_cluster_best" -> ((s, dir) =>
      Dedup.keepBestByLabels(neardupCorpus(s, dir), clusterLabels(s, dir),
        "doc_id", TextFunctions.qualityScore(col("text")))),

    // §2b-22: brute-force cosine top-k (correctness baseline)
    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.bruteForceTopK(emb, queries, k = 3)
    }),

    // §2b-38: hybrid retrieval — quality-filtered similarity search
    // (pre-filtered ANN): only corpus vectors whose document passes the
    // text-quality gate are scored. The filter composes the same way
    // with the persisted IVF/LSH index probes at scale; brute-force
    // here so the oracle is exact.
    "q_hybrid_search" -> ((s, dir) => {
      val quality = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("q"))
        .filter(col("q") >= 0.5)
      val emb = t(s, dir, "embeddings")
      val corpus = emb.join(quality, emb("vec_id") === quality("doc_id"))
        .select(emb("vec_id"), emb("embedding"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.bruteForceTopK(corpus, queries, k = 3)
    }),

    // §2b-23: LSH-bucketed ANN (the scale path)
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.lshTopK(emb, queries, k = 3, dim = 64, bits = 4, numTables = 8)
    }),

    // the same LSH operator at a second layout (4 tables × 6-bit
    // buckets vs 8 × 4): fewer, finer tables — a different
    // recall/candidate-volume trade, oracle-replayed plane-for-plane
    "q_ann_lsh2" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.lshTopK(emb, queries, k = 3, dim = 64, bits = 6, numTables = 4)
    }),

    // §2b: embedding-cosine near-dup over LSH buckets; the corpus is
    // augmented with deterministically perturbed copies (vec_id+100000)
    // so planted near-dups are demonstrably found
    "q_embed_neardup" -> ((s, dir) => {
      val corpus = perturbedUnion(t(s, dir, "embeddings"), scale = 0.05)
      // bits=7 (vs 4 for the recall-oriented ANN queries): near-dups sit
      // at sim>=0.9 (per-bit agreement p>=0.856, planted pairs much
      // higher), so 8 tables keep recall >0.96 while every extra bit
      // halves bucket sizes and thus candidate-pair volume — the
      // dominant cost of this query
      Similarity.cosineNearDupPairs(corpus,
        threshold = 0.9, dim = 64, bits = 7, numTables = 8)
    }),

    // the SCALE-SAFE headline form of the same operator: LSH depth is
    // derived from the corpus size (bits = ceil(log2(n/targetBucket)),
    // Similarity.cosineNearDupPairsAuto) so expected bucket occupancy —
    // and with it candidate-pair volume, the operator's dominant cost —
    // stays constant per row as the corpus grows. The fixed-depth
    // q_embed_neardup above is kept for oracle continuity at one pinned
    // layout; THIS is the entry point a 100 TB corpus should run
    // (measured: fixed bits=7 went 30-41× on 10× data, auto ~2×). At
    // sf0.1 (n=4000, target 32) auto lands on the same bits=7, so the
    // two queries' sf0.1 bench rows are directly comparable.
    "q_embed_neardup_auto" -> ((s, dir) => {
      val corpus = perturbedUnion(t(s, dir, "embeddings"), scale = 0.05)
      Similarity.cosineNearDupPairsAuto(corpus,
        threshold = 0.9, dim = 64, targetBucket = 32, minBits = 4,
        numTables = 8)
    }),

    // §2b-23b: IVF(-flat) ANN — coarse-quantizer cells + nprobe
    // multi-probe, the FAISS-style scale path next to hyperplane LSH
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfTopK(emb, queries, k = 3, nlist = 16, nprobe = 6, iters = 1)
    }),

    // the same IVF index probed with a TIGHTER budget (nprobe 2 vs 6):
    // oracle-pins the recall knob's effect on the candidate set, not
    // just one replayed configuration
    "q_ann_ivf2" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.ivfTopK(emb, queries, k = 3, nlist = 16, nprobe = 2, iters = 1)
    }),

    // §2b: corpus k-NN graph — every vector's top-3 approximate
    // neighbors through the IVF cells, corpus on BOTH join sides
    // (shuffle on cell, no broadcast): the edge list that semantic
    // clustering / density pruning builds on. AUTO-sized from the
    // start (nlist = ceil(n/64)): the benched path is the one whose
    // candidate volume stays linear as the corpus grows
    "q_knn_graph" -> ((s, dir) =>
      Similarity.knnGraphAuto(t(s, dir, "embeddings"),
        k = 3, targetCell = 64, nprobe = 4, iters = 1)),

    // §2b: semantic-duplicate clusters ACROSS quantizer cells — CC
    // over tau-thresholded kNN-graph edges on the planted-copy corpus;
    // catches the Voronoi-split pairs semDedup's within-cell compare
    // misses, and stitches duplicate chains into one cluster
    "q_semantic_clusters" -> ((s, dir) => {
      val corpus = perturbedUnion(t(s, dir, "embeddings"), scale = 0.01)
      Similarity.semanticClustersAuto(corpus,
        tau = 0.9, k = 4, targetCell = 64, nprobe = 4, iters = 1)
    }),

    // §2b: semantic coverage card — per-cell member count, mean
    // cosine-to-centroid (exact micro-units) and min-id exemplar; the
    // embedding-space release card next to the token/source cards
    "q_semantic_card" -> ((s, dir) =>
      Similarity.semanticCard(t(s, dir, "embeddings"), targetCell = 64)),

    // §2b: kNN-density pruning (SSL-prototypes / D4 family) — drop
    // the 25% densest vectors of each cell, density = mean cosine to
    // the 4 approximate NNs; run on the planted-copy corpus so dense
    // neighborhoods exist to thin
    "q_knn_density" -> ((s, dir) => {
      val corpus = perturbedUnion(t(s, dir, "embeddings"), scale = 0.01)
      Similarity.knnDensityPrune(corpus,
        dropFrac = 0.25, k = 4, targetCell = 64, nprobe = 4, iters = 1)
    }),

    // §2b-23g: margin-based bitext mining (Artetxe & Schwenk 2019) —
    // X = even-id embeddings, Y = planted "translations" (perturbed
    // copies, +100000) plus odd-id distractors (+200000); the ratio
    // margin recovers the planted alignments while plain-cosine hubs
    // among the distractors are suppressed by their own high avgB
    "q_margin_mine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val xs = emb.filter(col("vec_id") % 2 === 0)
      val pert = xs.select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + sin(i.cast("double") + col("vec_id").cast("double")) * 0.02)
            .as("embedding"))
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val odd = emb.filter(col("vec_id") % 2 === 1)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
      Similarity.marginMine(xs, pert.unionByName(odd), k = 4,
        targetCell = 64, nprobe = 4, threshold = 1.5, iters = 1)
    }),

    // §2b: cluster-balanced diversity sampling (SemDeDup-family
    // policy): IVF cells as semantic clusters, keep the 8 most
    // central vectors per cell — per-cluster budgets cap semantic
    // redundancy in the training subset
    "q_diverse_sample" -> ((s, dir) =>
      Similarity.diverseSample(t(s, dir, "embeddings"),
        nlist = 16, perCell = 8, iters = 1)),

    // §2b-50: SemDedup (Abbas et al. 2023) — exact pairwise cosine
    // within k-means cells, greedy smaller-id-wins retention. The
    // q_embed_neardup planted-copy construction with a tighter 0.01
    // noise scale: planted cosine ~0.998, so the copy's direction is
    // near-identical and lands in its original's Voronoi cell (the
    // 0.05 scale sits at cos~0.96 ≈ 16° and splits cells ~30% of the
    // time — exactly the cross-cell recall loss the scaladoc
    // documents); tau 0.95 stays above natural-pair similarity
    "q_semdedup" -> ((s, dir) => {
      val corpus = perturbedUnion(t(s, dir, "embeddings"), scale = 0.01)
      Similarity.semDedup(corpus,
        nlist = 16, tau = 0.95, iters = 1)
    }),

    // §2b-55: embedding-space outlier filter (CLIP-filtering analog) —
    // vectors whose cosine to their own quantizer cell centroid falls
    // below tau: mislabeled / out-of-distribution points no surface-
    // form filter can see. Same iters=1 deterministic quantizer as the
    // IVF family, so the oracle replays centroid assignment exactly
    "q_embed_outliers" -> ((s, dir) =>
      Similarity.centroidOutliers(t(s, dir, "embeddings"),
        nlist = 16, tau = 0.30, iters = 1)),

    // §2b-21b: edit-distance verification of candidate pairs — the
    // precision pass after a recall-oriented generator. Jaccard is
    // order-insensitive; normalized Levenshtein prices reorderings and
    // rewrites. Candidates here: consecutive doc ids (a deterministic
    // pair set spanning the corpus — same-generator docs share
    // vocabulary, so similarities spread across the threshold)
    "q_edit_verify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1).as("id_b"))
      NearDup.editVerify(pairs, docs.filter(length(col("text")) > 0),
        minSim = 0.25)
    }),

    // §2b-21: exact n-gram Jaccard over planted (original, truncated)
    // pairs — the verification metric of the near-dup family as a
    // standalone oracle-checked operator. Shingle SETS are the codegen
    // shingles64 kernel (distinct 64-bit FNV hashes): identical
    // intersect/union counts to the string-shingle sets the DuckDB
    // oracle computes (a cross-hash collision inside one doc pair's
    // union is ~2^-64·|union|²), and ~15× faster than the
    // transform/concat_ws higher-order-function formulation, which is
    // CodegenFallback and evaluates interpreted per row
    "q_ngram_jaccard" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(size(split(trim(col("text")), "\\s+")) >= 4)
      val a = base.select(col("doc_id"),
        HashExpressions.shingles64(col("text"), 3).as("sh_a"))
      val b = base.select(col("doc_id"),
        HashExpressions.shingles64(
          regexp_replace(trim(col("text")), "\\s+\\S+$", ""), 3).as("sh_b"))
      a.join(b, "doc_id")
        .select(col("doc_id"),
          round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6)
            .as("jaccard"))
    }),

    // §2b-24: language ID heuristic. Two-level projection (see
    // Classify.langSegments): evidence counts once per doc, argmax on
    // top — the flat when-chain re-scanned each count per branch
    // condition. Bit-equal output.
    "q_lang_id" -> ((s, dir) => {
      val (en, fr, de, es, zh) = TextFunctions.langIdCounts(col("text"))
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
          en.as("__en"), fr.as("__fr"), de.as("__de"), es.as("__es"),
          zh.as("__zh"))
        .select(col("doc_id"), col("lang"),
          TextFunctions.langIdFrom(col("__en"), col("__fr"), col("__de"),
            col("__es"), col("__zh")).as("lang_pred"))
    }),

    // §2b-24b: language ID v2 — one-vs-rest hashed n-gram classifiers
    // (the fastText-style upgrade of the stopword heuristic above,
    // which remains the cheap pre-filter): per-language linear models
    // through the SAME codegen kernel as q_classifier_score, argmax in
    // one projection. Seeded stand-in weights (seed 11+i over the
    // lex-sorted language list) keep the full pipeline SQL-replayable;
    // ClassifySpec proves TRAINED one-vs-rest models classify planted
    // multilingual text correctly through this exact entry point.
    "q_lang_id2" -> ((s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val models = langs.zipWithIndex.map { case (l, i) =>
        l -> Classify.seededWeights(1024, seed = 11L + i) }
      Classify.langIdArgmax(t(s, dir, "documents"), "doc_id", "text", models)
    }),

    // §2b-24c: language ID under a PUBLISHED fastText model — the
    // bundled `fasttext dump` sample imports via per-label
    // linearization (weight = input_w · output_l landed in the word's
    // kernel bucket; the merges.txt/ARPA/SPM interop pattern on the
    // classifier side), then the same one-scan argmax as q_lang_id2
    "q_lang_id3" -> ((s, dir) =>
      Classify.langIdArgmax(t(s, dir, "documents"), "doc_id", "text",
        Classify.loadFastTextResource("/graft/fasttext_lid_sample.txt",
          numBuckets = 1024))),

    // §2b-24d: language ID under a SUBWORD fastText model (the
    // lid.176 class) — char-n-gram features via fastText's OWN
    // sign-extended FNV-1a-32 hash, factored bilinear scoring in one
    // codegen kernel (plans.FastTextArgmax); the bundled dump's
    // exact-dyadic weights make the score — and the oracle's
    // per-feature linearized replay, a different association order —
    // bit-exact
    "q_lang_id4" -> ((s, dir) =>
      Classify.fastTextArgmax(t(s, dir, "documents"), "doc_id", "text",
        Classify.loadFastTextSubwordResource(
          "/graft/fasttext_subword_sample.txt"))),

    // §2b-25: quality scoring + doc stats. Two-level projection: the
    // 4 regex counts + 2 lengths are computed ONCE in the lower
    // select and the ratio/score columns combine them — the flat form
    // re-evaluated the counts per consuming column (~10 regex scans
    // per row; the CASE branches hide them from codegen's
    // subexpression elimination). Identical arithmetic in identical
    // order, so every output double is bit-equal (oracle-pinned).
    // CollapseProject keeps the split: non-cheap aliases referenced
    // more than once are not inlined.
    "q_quality_score" -> ((s, dir) =>
      Spread.spread(t(s, dir, "documents")).select(col("doc_id"),
          length(col("text")).as("__len"),
          TextFunctions.alphaCount(col("text")).as("__alpha"),
          TextFunctions.punctCount(col("text")).as("__punct"),
          TextFunctions.tokenCount(col("text")).as("__tok"),
          TextFunctions.stopwordCount(col("text")).as("__stop"),
          length(replace(col("text"), lit(" "), lit(""))).as("__nosp"))
        .select(col("doc_id"),
          col("__len").cast("bigint").as("n_chars_calc"),
          TextFunctions.alphaRatioFrom(col("__len"), col("__alpha"))
            .as("alpha_ratio"),
          TextFunctions.stopwordRatioFrom(col("__tok"), col("__stop"))
            .as("stopword_ratio"),
          TextFunctions.meanWordLenFrom(col("__tok"), col("__nosp"))
            .as("mean_word_len"),
          TextFunctions.qualityScoreFrom(col("__len"), col("__alpha"),
            col("__punct"), col("__tok"), col("__stop")).as("quality"))),

    // §2b-25j: hashed n-gram linear classifier (fastText-style
    // inference) — model-based quality filtering next to the
    // heuristic q_quality_score; 1024 buckets keep the oracle's
    // weight-replay CTE small, the kernel is bucket-count-agnostic
    "q_classifier_score" -> ((s, dir) =>
      Classify.scoreDocs(t(s, dir, "documents"), "doc_id", "text",
        Classify.seededWeights(1024, seed = 7L))),

    // §2b-49: DSIR importance resampling (Xie et al. 2023) — select
    // raw docs whose hashed-n-gram distribution looks like a target
    // corpus (here: the English slice as target over the full
    // multilingual table). λ estimation is two metadata-sized bucket
    // counts; the per-doc weight is the classifier kernel re-used
    // with λ as the weights; Gumbel-top-k draws 200 docs ∝ exp(w)
    // deterministically (content-hash uniforms)
    "q_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dsir.select(docs.filter(col("lang") === "en"), docs,
        "doc_id", "text", numBuckets = 1024, k = 200, seed = 42L)
    }),

    // §2b-25g: unigram LM scoring (CCNet-style perplexity proxy):
    // mean -ln p(token) per doc, p self-estimated from the corpus.
    // round(4) keeps the double drift (unordered partial sums, 1-ulp
    // libm ln differences) far below the comparison resolution.
    "q_lm_score" -> ((s, dir) =>
      LmScore.unigramNll(t(s, dir, "documents"), "doc_id", "text")),

    // §2b-47: Gopher document quality rules (Rae et al. 2021 A1.1) —
    // the named heuristic rule set as ONE codegen pass over the text
    // column; minWords relaxed to 10 (synthetic docs are ~30 words),
    // every other threshold is the paper's
    "q_gopher_rules" -> ((s, dir) =>
      QualityRules.gopherSignals(t(s, dir, "documents"), "doc_id", "text",
        QualityRules.GopherParams(minWords = 10))),

    // §2b-51: Gopher repetition battery (Rae et al. 2021 A1) — the
    // nine top/dup n-gram char-fraction signals as ONE codegen kernel
    // pass (per-doc local counting; the explode formulation would
    // shuffle ~9 rows per token on (doc, n, gram))
    "q_gopher_rep" -> ((s, dir) =>
      QualityRules.repetitionSignals(
        Spread.spread(t(s, dir, "documents").select(col("doc_id"), col("text"))),
        "doc_id", "text")),

    // §2b-48: CCNet perplexity bucketing (Wenzek et al. 2020 §3.3) —
    // head/middle/tail terciles of the unigram LM score within each
    // language; tercile cutoffs broadcast back (NO per-language ntile
    // window, which would serialize each language through one sort
    // partition at corpus scale)
    "q_ppl_buckets" -> ((s, dir) =>
      LmScore.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text",
        "lang")),

    // §2b-25b: repetition ratio (Gopher-style boilerplate signal)
    "q_rep_ratio" -> ((s, dir) =>
      TextFunctions.repetitionRatio(
        t(s, dir, "documents"), "doc_id", "text")),

    // §2b-25c: PII redaction (emails + phone numbers); PII is injected
    // deterministically because the synthetic corpus contains none
    "q_redact_pii" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        Normalize.redactPii(concat(
          lit("reach "), col("c_name"), lit(" at "),
          replace(lower(col("c_name")), lit("#"), lit("_")),
          lit("@example.org or +1-555-867-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0")))
          .as("contact"))),

    // §2b-25d: per-group exact quantiles (data-profiling op)
    "q_value_quantiles" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(percentile(col("value"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("q"))
        .select(col("event_type"),
          round(element_at(col("q"), 1), 6).as("p25"),
          round(element_at(col("q"), 2), 6).as("p50"),
          round(element_at(col("q"), 3), 6).as("p75"))),

    // §2b-25l: shuffle-skew pre-flight — the per-key count
    // distribution + suggested salt factor a 100 TB job checks before
    // committing to a partitioning key
    "q_skew_report" -> ((s, dir) =>
      Profile.skewReport(t(s, dir, "events"), Seq("event_type"))),

    // the keys the report warns about: top-k by count with share
    "q_heavy_keys" -> ((s, dir) =>
      Profile.heavyHitters(t(s, dir, "events"), Seq("event_type"), k = 3)),

    // §2b-52b: cross-release overlap card — two overlapping id-range
    // slices of documents stand in for consecutive corpus releases;
    // shared-content counts are distinct sha2 hashes (8-byte shuffles,
    // text never moves), the oracle counts distinct raw text (equal
    // up to a ~2^-128 sha2 collision)
    "q_overlap_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Profile.overlapCard(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 200), "text")
    }),

    // §2b composed: corpus preparation = quality filter → exact dedup
    // (canonical min doc_id per content hash) → stats on the survivors
    "q_corpus_prep" -> ((s, dir) => {
      // quality and n_tokens are computed ONCE pre-aggregate and carried
      // through with min() (identical within a content-hash group, so
      // min is just the deterministic carrier) — recomputing the big
      // quality expression above the aggregate re-inlines it into a
      // second codegen unit and janino-compile time dwarfs the query
      val kept = t(s, dir, "documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
      kept.groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"),
          min(TextFunctions.tokenCount(col("text")).cast("bigint")).as("n_tokens"),
          min(col("quality")).as("quality"))
        .select(col("doc_id"), col("n_copies"), col("n_tokens"), col("quality"))
    }),

    // §2b-26: token counting (whitespace + BPE-ish)
    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
        TextFunctions.bpeTokenCount(col("text")).cast("bigint").as("n_bpe_tokens"))),

    // §2b-28: multimodal binary plumbing (stubbed decode)
    "q_multimodal_meta" -> ((s, dir) =>
      Multimodal.extractFeatures(s,
        Multimodal.mediaTable(t(s, dir, "documents"))).toDF()),

    // §2b-28b: video-style frame sampling — up to 4 evenly-spaced
    // 128-byte slices per payload; the slice OFFSET arithmetic is the
    // real contract (a codec seeks to the same offsets), and it is
    // integer math the oracle replays exactly
    "q_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(s,
          Multimodal.mediaTable(t(s, dir, "documents")),
          maxFrames = 4, frameSize = 128).toDF()
        .select(col("doc_id"), col("media_type"), col("frame_idx"),
          col("frame_offset"),
          length(col("frame_bytes")).as("frame_len"))),

    // §2b-28c: REAL MP4/ISO-BMFF header parsing over in-process video
    // containers — every fixture field is doc_id arithmetic
    // (Multimodal.buildMp4), so the oracle replays the PARSED metadata
    // without touching bytes while the Spark side walks real boxes
    // (and must skip the garbage mdat by its size field)
    "q_video_meta" -> ((s, dir) =>
      Multimodal.extractVideoFeatures(s,
          Multimodal.mp4Table(s, t(s, dir, "documents"))).toDF()
        .select(col("doc_id"), col("n_bytes"), col("brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height"))),

    // §2b-28d: perceptual image hash (dHash) over the media table —
    // the stub token-grid path the oracle replays byte-for-byte; the
    // REAL decode path (Multimodal.imageDhashes: guarded decode →
    // 9×8 nearest-neighbor resample → integer luma → adjacent-cell
    // compare) is pixel-pinned in MultimodalSpec
    "q_image_dhash" -> ((s, dir) =>
      Multimodal.stubImageDhashes(s,
        Multimodal.mediaTable(t(s, dir, "documents"))).toDF()),

    // §2b-28e: image near-dup pairs — dHash signatures through the
    // SAME 4×16-bit-block Hamming LSH as text SimHash (exact recall
    // at hamming <= 3, never all-pairs). The planted mutant
    // substitutes the FIRST token (token-count preserving, so the
    // stub grid differs in few cells — the image analog of a small
    // patch edit; the drop-last-token mutation the text family plants
    // would shift every grid cell and land nowhere near)
    "q_image_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val mutated = docs.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "imgvariant").as("text"))
      val media = docs.unionByName(mutated).select(col("doc_id"),
        lit("image").as("media_type"), col("text").cast("binary").as("payload"),
        lit(64).as("declared_w"), lit(64).as("declared_h"))
      NearDup.hammingPairs(Multimodal.stubImageDhashes(s, media).toDF(),
        "doc_id", "dhash", maxHamming = 3)
    }),

    // §2b-28f: the APPLIED image near-dup policy — the q_neardup_prune
    // composition for images: dHash signatures → Hamming-LSH candidate
    // pairs (exact recall at the 4-block/≤3-bit setting) → connected
    // components → keep each cluster's canonical (minimum-id) image.
    // The labels frame is (id, canonical) only — payload bytes never
    // move until the final semi-join, the 100 TB shape.
    "q_image_prune" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val mutated = docs.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "imgvariant").as("text"))
      val media = docs.unionByName(mutated).select(col("doc_id"),
        lit("image").as("media_type"), col("text").cast("binary").as("payload"),
        lit(64).as("declared_w"), lit(64).as("declared_h"))
      val sigs = Multimodal.stubImageDhashes(s, media).toDF()
      val pairs = NearDup.hammingPairs(sigs, "doc_id", "dhash", maxHamming = 3)
      val labels = Dedup.connectedComponents(sigs.select(col("doc_id")),
        pairs, "doc_id", "id_a", "id_b")
      val canon = labels.filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"))
      media.join(canon, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          octet_length(col("payload")).cast("bigint").as("n_bytes"))
    }),

    // §2b-25e: one-pass table profiling (row/non-null/exact-distinct
    // counts — the validation step before any training-data ingest)
    "q_profile" -> ((s, dir) =>
      Profile.profile(t(s, dir, "orders"),
        cols = Seq("o_orderkey", "o_custkey", "o_orderdate"),
        distinctCols = Seq("o_custkey", "o_orderpriority"))),

    // §2b-54: quality-threshold curation as a FRACTION — keep the
    // best 60% per language by the heuristic quality score
    // (integer-exact rank selection; the approx-percentile threshold
    // is the no-sort 100 TB swap, ApproxSwapSpec)
    "q_quality_topp" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      Sampling.topFractionPerGroup(docs, col("lang"), col("quality"),
          col("doc_id"), frac = 0.6)
        .select(col("doc_id"), col("lang"), col("quality"))
    }),

    // §2b-52d: the curation FUNNEL report — four stages applied in
    // order (exact dedup → normalized dedup → quality cutoff →
    // decontamination), with per-stage attrition counts: the release
    // artifact that says where the corpus went.
    "q_dedup_funnel" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val benchSh = docs.filter(col("doc_id") % 20 === 0)
        .select(explode(HashExpressions.shingles64(col("text"), 5)).as("sh"))
        .distinct()
      def keepMinPer(key: Column)(df: DataFrame): DataFrame = {
        val winners = df.groupBy(key.as("__k"))
          .agg(min(col("doc_id")).as("doc_id"))
        df.join(winners.select(col("doc_id")), Seq("doc_id"), "left_semi")
      }
      Profile.attritionReport(docs, Seq(
        "exact_dedup" -> keepMinPer(sha2(col("text"), 256)) _,
        "norm_dedup" -> keepMinPer(sha2(Normalize.dedupKey(col("text")), 256)) _,
        "quality_filter" -> ((df: DataFrame) =>
          df.filter(TextFunctions.qualityScore(col("text")) >= 0.5)),
        "decontaminate" -> ((df: DataFrame) => {
          val contaminated = df.select(col("doc_id"),
              explode(HashExpressions.shingles64(col("text"), 5)).as("sh"))
            .join(broadcast(benchSh), Seq("sh"), "left_semi")
            .select(col("doc_id")).distinct()
          df.join(contaminated, Seq("doc_id"), "left_anti")
        })))
    }),

    // §2b-54b: per-source score calibration — the quality score
    // replaced by its within-source percentile, so a global cutoff
    // means the same thing in every source before mixing
    "q_score_calibrate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      Sampling.calibrateScores(docs, col("source"), col("quality"),
          col("doc_id"))
        .select(col("doc_id"), col("source"), col("quality"),
          round(col("score_pct"), 6).as("score_pct"))
    }),

    // §2b-52: dataset card — the per-(source, lang) release summary
    // (docs / tokens / duplication / quality) in ONE hash aggregation.
    // Re-shipped even-id copies planted so dup_doc_frac measurably
    // tracks the exact-dup rate (~1/3 per stratum)
    "q_dataset_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val reshipped = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      Profile.datasetCard(docs.unionByName(reshipped), "text",
        Seq("source", "lang"))
    }),

    // §2b-29: tumbling-window event aggregation (batch twin of the
    // streaming op)
    "q_window_agg" -> ((s, dir) =>
      EventsStreaming.hourlyAggBatch(t(s, dir, "events"))),

    // §2b-30: batch twin of the streaming sessionization
    "q_sessionize" -> ((s, dir) =>
      EventsStreaming.sessionizeBatch(t(s, dir, "events"), gapMinutes = 30)),

    // §2b-30d: batch twin of the stream-stream interval join
    // (click↔purchase attribution within ±5 min per user); the
    // watermark-bounded streaming form is StreamingSpec-pinned equal
    "q_correlate" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      // excludeSelfPairs: both sides are slices of the SAME events
      // stream (one shared event-id space)
      EventsStreaming.correlateBatch(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"), withinMinutes = 5,
          excludeSelfPairs = true)
        .select(col("user_id"), col("l_id"), col("r_id"), col("lag_seconds"))
    }),

    // §2b-29b: ingest-rate anomaly card — per-(type, hour) counts
    // z-scored against the type's own rate distribution; z=2 here so
    // the synthetic stream's natural extremes actually flag
    "q_rate_anomalies" -> ((s, dir) =>
      Profile.rateAnomalies(t(s, dir, "events"), "event_type", "ts",
        zThreshold = 2.0)),

    // §2b-40: z-order (Morton) layout key — interleaves customer and
    // order-day bits so one sort order keeps parquet row-group min/max
    // tight on BOTH dimensions (multi-dimensional scan pruning at
    // 100 TB); the codegen kernel is O(log w) shifts per row
    "q_zorder" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        HashExpressions.zorder64(col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("bigint")).as("z"))),

    // §2b-39: SCD-2 dimension versioning — every (customer, order
    // date) price change becomes a version row valid until the next
    // change; the warehouse answer to "what did this dimension look
    // like when the dataset was built"
    "q_scd2_versions" -> ((s, dir) => {
      // subset-partitioned shape (round-11 adjudication of the 5.2×
      // row): repartition on the WINDOW key before the (key, date)
      // aggregation — HashPartitioning on a subset of the grouping
      // keys satisfies the agg's ClusteredDistribution, so BOTH the
      // agg and the lead() window reuse the one exchange (plan went
      // 2 exchanges → 1; measured 0.73 s → 0.45 s at sf0.1)
      val changes = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        .repartition(col("o_custkey"))
        .groupBy(col("o_custkey"), col("o_orderdate").cast("date").as("d"))
        .agg(max(col("o_totalprice")).as("price"))
      Scd2.versionize(changes, Seq("o_custkey"), "d")
        .select(col("o_custkey"), col("valid_from"), col("valid_to"),
          col("price"))
    }),

    // §2b-36b: weighted corpus mixture — combine sources at target
    // sampling rates (web-heavy mixtures, epoch-repeatable): keep a
    // row iff its content-hash bucket clears the source's rate, so
    // the mixture is deterministic, re-shard-stable, and needs no
    // shuffle at all (the same pattern scales to any source count)
    "q_corpus_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val h = pmod(HashExpressions.fnv64(col("text")), lit(1000L))
      val web = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), lit("web").as("source"), h.as("hb"))
        .filter(col("hb") < 900)
      val synth = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), lit("synthetic").as("source"), h.as("hb"))
        .filter(col("hb") < 300)
      web.unionByName(synth).select(col("doc_id"), col("source"))
    }),

    // §2b-36c: token-budget corpus assembly — the mixture WEIGHTS
    // materialized as an actual per-source token quota (500 tokens
    // per source here), docs taken in content-hash order until the
    // budget is crossed. Exact (window) form; the zero-shuffle
    // hash-gate form is spec-gated in SamplingSpec.
    "q_token_budget_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sources = docs.select(col("source")).distinct()
        .collect().map(_.getString(0))
      Sampling.tokenBudgetMix(docs, "doc_id", "text", "source",
        sources.map(_ -> 500L).toMap)
    }),

    // §2b-36: deterministic train/val/test split by CONTENT hash —
    // stable under re-sharding and re-import (position- or id-based
    // splits migrate rows when the corpus is repacked); 90/5/5 on
    // pmod(fnv64(text), 100)
    "q_split_assign" -> ((s, dir) => {
      val h = pmod(HashExpressions.fnv64(col("text")), lit(100L))
      t(s, dir, "documents").select(col("doc_id"),
        when(h < 90, "train").when(h < 95, "validation")
          .otherwise("test").as("split"))
    }),

    // §2b-37: token-budget sequence packing (running-budget
    // approximation of LLM context-window packing): per language,
    // docs in deterministic order are chunked wherever the running
    // token count crosses a 4096-token budget. TWO-PHASE cumsum
    // (Packing.packSequences): a window partitioned on ~5 languages
    // would serialize each language through one task at scale; the
    // range-sharded local-cumsum + broadcast-offset shape keeps
    // parallelism at numPartitions (materialize=false: one-shot query,
    // plan stays inspectable for PlanSpec)
    "q_pack_sequences" -> ((s, dir) =>
      Packing.packSequences(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        groups = Seq("lang"), order = Seq("doc_id"),
        tokensCol = col("n_tokens"), budget = 4096L, seqName = "seq_id",
        materialize = false)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("seq_id"))),

    // §2b-34: backward as-of join — enrich each event with the latest
    // snapshot row at or before it (single shuffle + sort, no
    // join-filter-max explosion). The snapshot stream is self-derived:
    // every 10th event is a "profile snapshot" of its user. Runs the
    // AUTO path: the skew probe samples per-key counts and picks
    // timeSplits (uniform events → 1 → the identical single-pass
    // plan; TemporalSpec asserts the probe ran and chose 1).
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("value"))
      val snaps = ev.filter(col("event_id") % 10 === 0)
        .groupBy(col("user_id"), col("ts_ms").as("snap_ms"))
        .agg(max(col("value")).as("snap_value"))
      val pts = ev.filter(col("event_id") % 10 =!= 0)
        .select(col("event_id"), col("user_id"), col("ts_ms"))
      Temporal.asOfJoinBackwardAuto(pts, snaps, Seq("user_id"), "ts_ms",
          "snap_ms")
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          col("matched_snap_ms"), col("snap_value"))
    }),

    // §2b-34 (SQL surface): the SAME as-of join expressed as DuckDB-
    // style `ASOF LEFT JOIN` SQL, parsed by the injected AsOfSqlParser
    // and lowered through ResolveAsOfJoin (requires the session to be
    // built with spark.sql.extensions=graft.plans.GraftExtensions)
    "q_asof_sql" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("value"))
      ev.filter(col("event_id") % 10 === 0)
        .groupBy(col("user_id"), col("ts_ms").as("snap_ms"))
        .agg(max(col("value")).as("snap_value"))
        .createOrReplaceTempView("asof_sql_snaps")
      ev.filter(col("event_id") % 10 =!= 0)
        .select(col("event_id"), col("user_id"), col("ts_ms"))
        .createOrReplaceTempView("asof_sql_pts")
      s.sql(
        """SELECT event_id, user_id, ts_ms, matched_snap_ms, snap_value
          |FROM asof_sql_pts ASOF LEFT JOIN asof_sql_snaps
          |ON asof_sql_pts.user_id = asof_sql_snaps.user_id
          |   AND asof_sql_pts.ts_ms >= asof_sql_snaps.snap_ms""".stripMargin)
    }),

    // §2b-35: interval containment join via time-bucket equi-join (no
    // cross product / nested-loop plan): events against 2-hour activity
    // windows opened by each snapshot event
    "q_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"))
      val wins = ev.filter(col("event_id") % 10 === 0)
        .select(col("event_id").as("window_id"), col("user_id"),
          col("ts_ms").as("start_ms"),
          (col("ts_ms") + lit(7200000L)).as("end_ms"))
      val pts = ev.filter(col("event_id") % 10 =!= 0)
      Temporal.rangeJoin(pts, wins, Seq("user_id"), "ts_ms",
          "start_ms", "end_ms", bucketMs = 1800000L)
        .select(col("event_id"), col("user_id"), col("window_id"),
          col("ts_ms"), col("start_ms"))
    }),

    // §2a-6: staging roundtrip — bulk-stage orders hive-partitioned by
    // priority (the reference's COPY into tmp tables), read back with a
    // partition-pruned scan, aggregate; the oracle aggregates the
    // source directly, so the staged bytes are verified end to end
    "q_staging" -> ((s, dir) => {
      val staged = dumpDir(dir) + "_staging/orders"
      Staging.writeStaged(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")),
        staged, partitionByCol = Some("o_orderpriority"))
      Staging.readStaged(s, staged)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
    }),

    // §2b-31: salted (two-phase) skew-safe aggregation — the result is
    // key-exact regardless of the salt, so the plain aggregate IS the
    // oracle; counts + decimal-exact sums over the skewed fact table
    "q_salted_agg" -> ((s, dir) =>
      Skew.saltedAgg(
        t(s, dir, "lineitem")
          .withColumn("dp", (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")),
        keys = Seq("l_returnflag"), salts = 16,
        partial = Seq(count(lit(1)).as("n_rows"),
          sum(col("dp")).as("rev")),
        merge = Seq(sum(col("n_rows")).as("n_rows"),
          sum(col("rev")).cast("double").as("revenue")))
        .select(col("l_returnflag"), col("n_rows"), col("revenue"))),

    // §2b-31b: salted skew-safe JOIN — the auto pre-flight measures the
    // fact key distribution (every event_type clears the 1% share bar,
    // so ALL traffic takes the salted branch: hot fact rows spread over
    // 8 salts, dim rows replicated per salt); result is row-exact vs
    // the plain join, so the plain join IS the oracle
    "q_skew_join" -> ((s, dir) => {
      val events = t(s, dir, "events")
      val dim = events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_n"))
      Skew.saltedJoinAuto(events, dim, "event_type", salts = 8)
        .groupBy(col("event_type"), col("type_n"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double")
            .as("total_value"))
    }),

    // headline TPC-H-style aggregates anchoring the bench
    "q_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") <= lit("1998-09-01").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    "q_top_revenue" -> ((s, dir) => {
      // aggregate the fact table FIRST (map-side partial agg shrinks
      // 600k line items to 150k order rows), then broadcast-join the
      // 2-column orders dim — at 100 TB the join input is the
      // aggregate's output, never the raw fact table
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"))
      rev.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_date"), col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // §2b-60: HTML → text extraction (the WARC→WET step): the corpus
    // wrapped in deterministic HTML — script/style containers with
    // tag-like content, a comment, attributes, and all five core
    // entities planted — and recovered by the chained-regex
    // extraction; the oracle synthesizes the identical page
    "q_html_extract" -> ((s, dir) =>
      Spread.spread(t(s, dir, "documents")).select(col("doc_id"),
        operators.WebClean.extractHtmlText(htmlPage).as("clean_text"))),

    // §2b-60c: MAIN-CONTENT extraction (jusText-lite) — block-level
    // length/link-density classification between the WET text step
    // and the quality battery: the planted page carries a link-dense
    // nav, a short header, two long article paragraphs (the main
    // content), a share bar dropped by link density, and an
    // anchor-only footer; one codegen kernel per row
    "q_main_content" -> ((s, dir) =>
      operators.WebClean.mainContent(
        Spread.spread(t(s, dir, "documents").select(col("doc_id"),
          mainContentPage.as("html"))),
        "doc_id", "html")),

    // §2b-61: blocklist word filter (C4 §2.2 "bad words" policy) —
    // whole-word case-insensitive hits + keep verdict; "the" rides in
    // the list so the synthetic corpus demonstrably produces hits
    "q_word_filter" -> ((s, dir) =>
      operators.WebClean.blocklistSignals(t(s, dir, "documents"),
        "doc_id", "text", blocklistWords)),

    // §2b-60b: anchor-href link extraction (the WAT-records step) —
    // both quote styles PLUS unquoted values, case-insensitive attr,
    // tag-anchored (<area>/data-href decoys must not match),
    // document-order pos, and RELATIVE hrefs resolved against the
    // page URL (RFC 3986 merge + dot-segment normalization); the
    // planted page exercises every case
    "q_link_extract" -> ((s, dir) =>
      operators.WebClean.extractLinks(
        Spread.spread(t(s, dir, "documents").select(col("doc_id"),
          syntheticUrl.as("src_url"), linkPage.as("html"))),
        "doc_id", "html", baseUrlCol = Some("src_url"))),

    // §2b-69d: the COMPOSED domain-rank pipeline — extract links
    // (relative hrefs resolved against the page URL, so the edge set
    // is the full anchor graph, not just absolute targets), roll both
    // endpoints up to registrable sites, PageRank the domain graph:
    // the crawl-pipeline composition the graph family exists for.
    // Sites become stable integer ids via fnv64 (the integer
    // iteration's key type); the name join-back is a ~|sites|-row
    // frame. 5 rounds, the oracle replays every stage.
    "q_domain_rank" -> ((s, dir) => {
      val srcSite = operators.WebClean.urlSite(
        operators.WebClean.urlHost(col("src_url")))
      val dstSite = operators.WebClean.urlSite(
        operators.WebClean.urlHost(col("url")))
      // ONE extraction pass, src_site CARRIED through it: the previous
      // form joined a second corpus scan (doc_id -> src_site) back to
      // the links on doc_id — a corpus-sized shuffle + duplicate scan
      // whose only payload was the per-page site string. carryCols
      // threads it through the explode instead (same rows, same
      // values; the oracle pins the 50-row result). The single-
      // consumer scan also spreads now (it could not before: two plan
      // references would each clone the spread exchange).
      val pages = Spread.spread(t(s, dir, "documents"))
        .select(col("doc_id"), syntheticUrl.as("src_url"),
          linkPage.as("html"))
        .select(col("doc_id"), col("src_url"), col("html"),
          srcSite.as("src_site"))
      val links = operators.WebClean.extractLinks(pages, "doc_id", "html",
        baseUrlCol = Some("src_url"), carryCols = Seq("src_site"))
      // ONE extraction pass feeds the whole composition: the distinct
      // site-pair frame (bounded by the site graph, not the corpus) is
      // persisted and edges, node names, AND the PageRank input all
      // derive from it — without this, the regex extraction re-ran for
      // every consumer (edges, names, the rank join-back): measured 5
      // extraction passes and a 3× wall regression. Retained cache,
      // like the iterative results (metadata-sized: distinct pairs).
      // The empty-site filter sits ABOVE the cache: below it, Catalyst
      // pushes it into the extraction stage and inlines the whole
      // resolveUrl chain into the filter once per urlHost reference;
      // that code exceeds janino's 64 KB method limit, and Spark runs
      // the stage without whole-stage codegen.
      val pairs = links
        .select(col("src_site"), dstSite.as("dst_site"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .where(col("src_site") =!= "" && col("dst_site") =!= "")
      val edges = pairs.select(
        HashExpressions.fnv64(col("src_site")).as("src"),
        HashExpressions.fnv64(col("dst_site")).as("dst"))
      val names = pairs.select(col("src_site").as("site"))
        .union(pairs.select(col("dst_site")))
        .distinct()
        .select(col("site"), HashExpressions.fnv64(col("site")).as("node"))
      Graph.pageRank(edges, "src", "dst", iters = 5)
        .join(names, Seq("node"))
        .select(col("site"), col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("site")).limit(50)
    }),

    // §2b-62d: meta-robots directives — the IN-PAGE admission signal
    // next to robots.txt: planted tags cover both attribute orders,
    // both quote styles, UNQUOTED values, uppercase, the `none`
    // alias, split directives across TWO tags (must union), explicit
    // index,follow, a missing tag, and a non-robots meta decoy
    "q_meta_robots" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), metaRobotsPage.as("html"))
        .select(col("doc_id"),
          operators.WebClean.metaRobots(col("html")).as("mr"))
        .select(col("doc_id"), col("mr.noindex").as("noindex"),
          col("mr.nofollow").as("nofollow"))),

    // §2b-62e: X-Robots-Tag header directives — the HTTP-header
    // counterpart of meta robots (CDN-level and non-HTML admission):
    // planted header arrays cover plain, list, scoped-to-us,
    // scoped-to-other, the unavailable_after colon trap, `none`,
    // multi-header union, absence, and a decoy header name
    "q_xrobots" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), xRobotsHeaders.as("headers"))
        .select(col("doc_id"),
          operators.WebClean.xRobotsTag(col("headers"), agent = "graftbot")
            .as("xr"))
        .select(col("doc_id"), col("xr.noindex").as("noindex"),
          col("xr.nofollow").as("nofollow"))),

    // §2b-62c: robots.txt parse + URL admission (RFC 9309) — the
    // crawl-admission dim: declarative group/rule parse (windows +
    // aggs, no UDF), most-specific-agent PREFIX selection (§2.2.1)
    // decided from the group frame (an empty-Disallow group still
    // claims the agent), rules compiled to anchored regexes (* /
    // trailing $ / metachar escapes), longest-match precedence with
    // allow winning ties, broadcast-joined to the corpus URLs on
    // site. Eight planted bodies exercise group fallback,
    // specific-agent override, wildcards, the $ anchor, prefix and
    // longer-than-agent tokens, most-specific precedence, and the
    // empty-Disallow claimed group
    "q_robots_filter" -> ((s, dir) => {
      val urls = t(s, dir, "documents")
        .select(col("doc_id"), syntheticUrl.as("url"))
        .withColumn("site", operators.WebClean.urlSite(
          operators.WebClean.urlHost(col("url"))))
      val body = robotsBodies.zipWithIndex.foldLeft(lit(null: String)) {
        case (acc, (b, i)) =>
          when(pmod(HashExpressions.fnv64(col("site")),
            lit(robotsBodies.length.toLong)) === i, lit(b)).otherwise(acc)
      }
      val robots = urls.select(col("site")).distinct()
        .withColumn("txt", body)
      val rules = operators.WebClean.robotsRules(robots, "site", "txt",
        agent = "graftbot")
      operators.WebClean.robotsAllowed(urls, rules, "doc_id", "url", "site")
    }),

    // §2b-62f: robots.txt politeness + discovery directives — the
    // two non-rule signals the same file carries: global Sitemap URLs
    // (frontier seed discovery) and the selected group's Crawl-delay
    // (most-specific-agent precedence shared with q_robots_filter;
    // minimum of applicable values, try_cast null on garbage)
    "q_robots_meta" -> ((s, dir) => {
      val sites = t(s, dir, "documents")
        .select(operators.WebClean.urlSite(operators.WebClean.urlHost(
          syntheticUrl)).as("site")).distinct()
      val body = robotsBodies.zipWithIndex.foldLeft(lit(null: String)) {
        case (acc, (b, i)) =>
          when(pmod(HashExpressions.fnv64(col("site")),
            lit(robotsBodies.length.toLong)) === i, lit(b)).otherwise(acc)
      }
      operators.WebClean.robotsDirectives(
        sites.withColumn("txt", body), "site", "txt", agent = "graftbot")
    }),

    // §2b-62g: sitemap XML parsing — the consumer of the Sitemap:
    // URLs q_robots_meta harvests: <urlset> page entries (depth 0)
    // plus one level of <sitemapindex> recursion over children
    // present in the fetched frame (depth 1); entity-escaped and
    // whitespace-padded locs, a loc-less decoy that holds its pos, a
    // garbage priority that nulls out, and an unfetched index child
    // that yields nothing (synthesis: sitemapXml, doc_id % 3)
    "q_sitemap_parse" -> ((s, dir) => {
      val fetched = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("sitemap_url", sitemapUrl)
        .withColumn("xml", sitemapXml)
      operators.WebClean.sitemapFrontier(fetched, "sitemap_url", "xml")
        .select(
          regexp_extract(col("root_sitemap"), "/sm/([0-9]+)\\.xml$", 1)
            .cast("bigint").as("root_doc"),
          col("depth"), col("pos"), col("url"), col("lastmod"),
          col("changefreq"), col("priority"))
    }),

    // §2b-62: URL parse (host + registrable-site heuristic) — the key
    // extraction every domain-level policy (caps, blocklists,
    // stratification) joins on; URLs synthesized with www/userinfo/
    // port/path/query variants so each stripping rule is exercised
    "q_url_parse" -> ((s, dir) =>
      operators.WebClean.parseUrls(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "doc_id", "url")),

    // §2b-62 PSL: the same parse keyed by REAL Public Suffix List
    // rules (bundled subset, standard file format) — URLs synthesized
    // over the PSL-hard cases the heuristic mis-keys: *.co.uk /
    // *.com.au multi-label suffixes, the *.kawasaki.jp wildcard, the
    // !city.kawasaki.jp and !www.ck exception rules, a private-section
    // entry (github.io), an unknown TLD (default rule), and a host
    // that IS a public suffix (site NULL)
    "q_url_parse2" -> ((s, dir) =>
      operators.WebClean.parseUrlsPsl(
        t(s, dir, "documents").withColumn("url", pslUrl),
        "doc_id", "url", graft.functions.Psl.subset)),

    // §2b-62b: URL canonicalization — the URL-dedup key: fragment
    // and tracking params dropped, scheme/authority lowercased,
    // default ports stripped, remaining params sorted, trailing
    // slashes removed; URLs synthesized so every rule fires
    "q_url_canon" -> ((s, dir) =>
      Spread.spread(t(s, dir, "documents").withColumn("url", messyUrl))
        .select(col("doc_id"), col("url"),
          operators.WebClean.canonicalizeUrl(col("url")).as("canon"))),

    // §2b-25g2: interpolated-bigram LM scoring — one order up from
    // q_lm_score's unigram CCNet proxy; bigrams via slice+zip (narrow,
    // no (doc,pos) self-join), counts broadcast back
    "q_lm_score2" -> ((s, dir) =>
      LmScore.bigramNll(t(s, dir, "documents"), "doc_id", "text")),

    // §2b-48b: EXTERNAL LM scoring — the published ARPA back-off
    // format (KenLM/SRILM) loaded and applied as broadcast joins;
    // CCNet-style pipelines filter with a SHIPPED model, not one
    // re-estimated per corpus (the tokenizer-import story for LMs)
    "q_lm_external" -> ((s, dir) =>
      LmScore.arpaScoreDocs(t(s, dir, "documents"), "doc_id", "text",
        LmScore.loadArpaResource("/graft/sample_bigram.arpa"))),

    // §2b-48c: ORDER-N external LM scoring — the general Katz
    // back-off recursion (the 5-gram KenLM shape CCNet actually
    // ships) as 2n-1 broadcast hash joins over one position explode:
    // longest matching n-gram wins, every longer context suffix
    // contributes its back-off weight. The bundled order-3 sample
    // exercises full-trigram hits, bigram+backoff, unigram+two
    // backoffs, and the OOV floor on real corpus trigrams.
    "q_lm_external3" -> ((s, dir) =>
      LmScore.arpaScoreDocsN(Spread.spread(t(s, dir, "documents")),
        "doc_id", "text",
        LmScore.loadArpaResourceN("/graft/sample_trigram.arpa"))),

    // §2b-63: deterministic epoch shuffle — the global training order
    // as a pure function of (content hash, epoch); two epochs show
    // independent permutations, positions via range-sharded rank (no
    // single-partition sort)
    "q_epoch_shuffle" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.epochShuffle(docs, "doc_id", col("text"), 1L)
        .unionByName(Sampling.epochShuffle(docs, "doc_id", col("text"), 2L))
    }),

    // §2b-64: Johnson-Lindenstrauss random projection (64d → 16d) —
    // the pre-reduction in front of the ANN/near-dup family at 100 TB;
    // the Gaussian matrix is the LSH paths' splitmix64/Box-Muller
    // construction, so the oracle regenerates it exactly
    "q_rp_reduce" -> ((s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"), outDim = 16, dim = 64)
        .select(col("vec_id"), posexplode(col("rp")))
        .select(col("vec_id"), col("pos").as("d"),
          round(col("col"), 6).as("val"))),

    // §2b-65: symmetric int8 embedding quantization — 4× smaller
    // vector storage/shuffle volume with rank-preserving cosine; scale
    // and every quantized component replay exactly (floor(x/scale+0.5))
    "q_embed_quantize" -> ((s, dir) =>
      Similarity.quantizeI8(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("scale"), posexplode(col("qv")))
        .select(col("vec_id"), col("scale"), col("pos").as("d"),
          col("col").as("q"))),

    // §2b-66: product quantization + ADC top-k (Jégou et al. 2011) —
    // the vector MEMORY scale path (m small codes per vector instead
    // of 8·dim bytes); codebooks train from the mix64-ordered sample +
    // one Lloyd round, scoring is m LUT adds per pair
    "q_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      Similarity.pqTopK(emb, queries, k = 3, m = 4, ksub = 8, iters = 1)
    }),

    // §2b-66 composed: IVFPQ — the IVF cells prune the probe to
    // nprobe cells, ADC scores the m-byte PQ codes within them (the
    // FAISS serving layout; raw-vector encoding, see the scaladoc).
    // Both quantizer chains share the one mix64-ordered sample, so
    // the oracle replays centroid AND codebook training from a single
    // ordered CTE.
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      Similarity.ivfPqTopK(emb, queries, k = 3, nlist = 16, nprobe = 6,
        m = 4, ksub = 8, iters = 1)
    }),

    // §2b-66 residual: FAISS's by_residual default — codebooks train
    // on (v − centroid[cell]) so the code budget describes within-cell
    // structure; scoring adds the exact per-(query, cell) centroid dot
    "q_ann_ivfpq2" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"))
      Similarity.ivfPqTopKResidual(emb, queries, k = 3, nlist = 16,
        nprobe = 6, m = 4, ksub = 8, iters = 1)
    }),

    // §2b-67: weighted sampling without replacement (Efraimidis-
    // Spirakis exponential clocks) — 25 docs per source with inclusion
    // probability ∝ n_chars, deterministic via the content-hash
    // uniform; row_number ≤ k lowers to WindowGroupLimit so at most k
    // rows per group per partition reach the shuffle
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSamplePerGroup(t(s, dir, "documents"),
          col("source"), col("text"), col("n_chars"), col("doc_id"), k = 25)
        .select(col("source"), col("doc_id"), col("n_chars"))),

    // §2b-68: fill-in-the-middle transform — (a, b) character cuts
    // are a pure function of the content hash (uniform on [0,n] then
    // [a,n]); PSM rendering; one codegen projection, zero shuffles
    "q_fim_transform" -> ((s, dir) =>
      Chunking.fimSplit(t(s, dir, "documents"), Seq("doc_id"), col("text"))),

    // §2b-69: link-graph PageRank (Graph.pageRank) — integer
    // micro-unit power iteration, bit-exact across engines (no
    // float sums); a synthetic crawl graph with a ring (connectivity),
    // a skewed 101-hub spine (realistic in-degree hotspots), and a
    // long stride. The count() is a driver-side scalar (metadata-
    // sized); the 10 iterations are join+agg pairs with per-round
    // lineage truncation. Top-100 by (rank desc, node) is a
    // TakeOrderedAndProject — no global sort materialization.
    "q_pagerank" -> ((s, dir) =>
      Graph.pageRank(syntheticLinkGraph(s, dir), "src", "dst", iters = 10)
        .orderBy(col("rank_micro").desc, col("node")).limit(100)),

    // §2b-69b: HITS hubs & authorities over the same crawl graph —
    // the complementary signal (hub farms vs canonical pages); two
    // Long-sum half-steps per round, renormalized by a pure-integer
    // division with the max attached as a broadcast 1-row frame
    "q_hits" -> ((s, dir) =>
      Graph.hits(syntheticLinkGraph(s, dir), "src", "dst", iters = 8)
        .orderBy(col("auth_micro").desc, col("hub_micro").desc, col("node"))
        .limit(100)),

    // §2b-69c: per-node triangle counts + clustering coefficient over
    // the same crawl graph — degree-oriented (compact-forward) wedge
    // generation keeps candidate volume O(m^1.5) under hub skew
    "q_triangles" -> ((s, dir) =>
      Graph.triangles(syntheticLinkGraph(s, dir), "src", "dst")),

    // §2b-61b: Aho-Corasick blocklist scan — one automaton pass per
    // doc whatever the term-list size; the term list includes nested
    // and overlapping entries ("in"⊂"window", "par"/"ark" overlap in
    // "spark") so the all-occurrences contract is exercised
    "q_blocklist_scan" -> ((s, dir) =>
      WebClean.blocklistScan(t(s, dir, "documents"), "doc_id", "text",
        acScanTerms)),

    // §2b-43c: rarity-weighted keyword extraction (tf/df in integer
    // micro-units — the log-free tf-idf cousin, exact in SQL); the
    // Heaps-sublinear df table broadcast by contract
    "q_keywords" -> ((s, dir) =>
      LmScore.keywordsTfIdf(t(s, dir, "documents"), "doc_id", "text", k = 3)),

    // §2b-43d: exact consecutive-token phrase search — per-word
    // selectivity filters the token stream before the position joins
    "q_phrase_search" -> ((s, dir) =>
      LmScore.phraseCount(t(s, dir, "documents"), "doc_id", "text",
        Seq("batch", "table"))),

    // §2b-57f: unigram-LM seed vocabulary (the EM-init frequent-
    // substring lattice) — one narrow substring explode over the
    // Heaps-sublinear word table, map-combined weights, top-K with
    // lexicographic tie-break, integer micro-nat surrogate scores
    "q_unigram_vocab" -> ((s, dir) =>
      Unigram.seedVocab(Bpe.wordCounts(t(s, dir, "documents"), "text"),
        topK = 200)),

    // §2b-57g: unigram-LM Viterbi encode under the seeded vocab — the
    // SentencePiece counterpart of q_bpe_docs: DP once per distinct
    // word in one codegen kernel call, corpus reassembled through the
    // broadcast word cache
    "q_unigram_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = Unigram.collectVocab(
        Unigram.seedVocab(Bpe.wordCounts(docs, "text"), topK = 200))
      Unigram.encodeDocs(docs, "doc_id", "text", vocab, unkMicro = -2500000L)
    }),

    // §2b-57i: unigram-LM hard-EM training rounds (Viterbi E-step +
    // counted-ML M-step, driver-applied like trainLogReg) — each
    // round's DP runs once per DISTINCT word; the single float op per
    // round (ln) rides the pinned Spark-log/DuckDB-ln parity, and the
    // integer micro-nat scores make round-2 segmentation replay exact
    "q_unigram_em" -> ((s, dir) => {
      val words = Bpe.wordCounts(t(s, dir, "documents"), "text")
      val seed = Unigram.collectVocab(Unigram.seedVocab(words, topK = 200))
      Unigram.emRounds(words, seed, unkMicro = -2500000L, rounds = 2)
    }),

    // §2b-57h: the same encode under a PUBLISHED-FORMAT vocabulary —
    // the bundled SentencePiece TSV dump imports via exact scaled-
    // decimal parsing (the merges.txt interop pattern)
    "q_unigram_external" -> ((s, dir) =>
      Unigram.encodeDocs(t(s, dir, "documents"), "doc_id", "text",
        Unigram.loadSpVocabResource("/graft/unigram_vocab_sample.tsv"),
        unkMicro = -12000000L)),

    // §2b-70: exact tie-aware ROC AUC (Eval.aucExact) — does the
    // English-stopword count actually rank English docs above the
    // rest? Integer scores exercise the average-rank tie handling;
    // everything is Long until the single final division, so the
    // statistic replays bitwise. The global window runs over the
    // per-distinct-score histogram, not rows.
    "q_classifier_auc" -> ((s, dir) =>
      Eval.aucExact(t(s, dir, "documents"),
        graft.plans.RegexCountExpression.regexCount(lower(col("text")),
          "\\b(the|and|of|to|is)\\b").cast("long"),
        col("lang") === "en")),

    // §2b-71: per-paragraph language segmentation
    // (Classify.langSegments) — planted French/German paragraphs (and
    // a blank one) appended by doc_id residue give every doc a known
    // code-switching profile; the rollup rides one exchange on doc_id
    "q_lang_segments" -> ((s, dir) =>
      Classify.langSegments(
        t(s, dir, "documents").select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("\n\n" + frPara)).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit("\n\n" + dePara)).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\n\n   ")).otherwise(lit("")))
          .as("text")),
        "doc_id", "text")),

    // §2b-72: mojibake repair (Normalize.fixMojibake) — docs with a
    // planted cp1252-mojibake suffix are detected by the exact
    // UTF-8-structure predicate and re-decoded; clean/CJK/ambiguous
    // text passes through. Pure codegen built-ins in the scan
    // projection.
    "q_fix_mojibake" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(mojibakeSuffix)))
          .otherwise(col("text")).as("text"))
      planted.select(col("doc_id"),
        Normalize.fixMojibake(col("text")).as("text_fixed"),
        (Normalize.fixMojibake(col("text")) =!= col("text")).as("was_fixed"))
    })
  )

  /** The blocklist the q_word_filter query and its oracle share. */
  private val blocklistWords = Seq("spam", "casino", "lottery", "the")

  /** q_blocklist_scan's term list — nested ("in" inside "window") and
    * overlapping ("par"/"ark" overlap in "spark") entries exercise the
    * Aho-Corasick all-occurrences contract. */
  private val acScanTerms =
    Seq("spark", "par", "ark", "join", "in", "window", "the")

  /** The synthetic crawl graph q_pagerank / q_hits share: each doc
    * emits a ring edge (strong connectivity, high diameter), a skewed
    * 101-hub spine edge (realistic in-degree hotspots), and a long
    * stride. `count()` is a metadata-sized driver scalar; the oracles
    * derive the same n from a 1-row count CTE. */
  private def syntheticLinkGraph(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    docs
      .select(col("doc_id").as("src"),
        explode(array(lit(0), lit(1), lit(2))).as("j"))
      .select(col("src"),
        when(col("j") === 0, (col("src") + 1L) % n)
          .when(col("j") === 1, (col("src") * 7L) % 101L)
          .otherwise((col("src") * 37L + 11L) % n).as("dst"))
  }

  /** Planted paragraphs for q_lang_segments — unambiguous French and
    * German stopword runs, shared verbatim with the oracle. */
  private val frPara = "le chat et la maison les arbres des fleurs"
  private val dePara = "der hund und das haus ein baum die katze"

  /** q_fix_mojibake's planted suffix: the cp1252 decode of the UTF-8
    * bytes of " Café — déjà vu" — "Ã©" for é, "â€”" (with a real
    * U+20AC/U+201D) for the em dash, "Ã " (with U+00A0) for à. The
    * oracle renders the identical string via chr() so the SQL file
    * stays ASCII-safe. */
  private val mojibakeSuffix =
    " Caf\u00C3\u00A9 \u00E2\u20AC\u201D d\u00C3\u00A9j\u00C3\u00A0 vu"

  /** Non-ASCII words planted into the byte-level BPE queries' corpus
    * (CJK + accents; repeated so multi-byte pairs reliably reach the
    * merge table) — shared between the Spark side and the oracle. */
  private val bpeNonAsciiSuffix = "日本語 日本語 café naïve"

  /** The bundled PSL subset rendered as the q_url_parse2 oracle's rule
    * relations — generated from the SAME parsed file the Spark side
    * loads, so the two engines provably key on one rule set. */
  private def sqlPslRules: String = {
    val p = graft.functions.Psl.subset
    def vals(rs: Seq[String]) = rs.map(r => s"('$r')").mkString(", ")
    s"""norms(r) AS (SELECT * FROM (VALUES ${vals(p.normal.toSeq.sorted)}) t(r)),
       |wilds(r) AS (SELECT * FROM (VALUES ${vals(p.wildcardBases.toSeq.sorted)}) t(r)),
       |excs(r) AS (SELECT * FROM (VALUES ${vals(p.exceptions.toSeq.sorted)}) t(r))""".stripMargin
  }

  /** Deterministic HTML page wrapping each document — shared shape
    * between q_html_extract's Spark side and its DuckDB oracle. The
    * second div plants the character-reference battery: decimal /
    * lower-hex / upper-hex-marker numeric refs, an HTML5 C1 remap
    * (`&#151;` = em dash via windows-1252), the three invalid-value
    * classes (zero, beyond U+10FFFF, a surrogate — all U+FFFD), a
    * truncated semicolon-less ref that stays literal, a
    * double-escaped `&amp;#777;` that decodes to LITERAL `&#777;`,
    * an unknown name that stays literal, and two beyond-core named
    * entities. Every reference is disjoint in the planted text, so
    * the oracle replays the one-pass kernel as ordered literal
    * replaces (`&amp;#777;` before `&amp;`). */
  private def htmlPage: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style type=\"text/css\">p { color: red; }</style>"),
    lit("<script>if (1 < 2) { var x = \"&amp;\"; }</script></head>"),
    lit("<body><!-- strip me --><h1>Title</h1><p class=\"main\">"),
    col("text"),
    lit("</p><div>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&#39;&nbsp;end</div>"),
    lit("<div>caf&#233; r&#xE9;sum&#xE9; curly&#X2019; dash&#151; " +
      "nul&#0; big&#x110000; sur&#xD800; trunc&#12 dbl&amp;#777; " +
      "unk&unknown; acc&eacute;nt ell&hellip;</div></body></html>"))

  /** Deterministic HTTP response payload per document — shared shape
    * between q_warc_http's Spark side and its oracle, keyed on
    * doc_id % 9:
    *  0: 200 `text/html; charset=utf-8`, two headers, HTML wrapper;
    *  1: 200 `text/plain; charset=ISO-8859-1`, non-ASCII latin-1 body;
    *  2: 404 `text/plain` (no charset), DUPLICATE X-Tag headers;
    *  3: 200 with NO Content-Type and a binary (PNG-magic) body;
    *  4: 200 `text/html` with NO header charset — the in-body
    *     `<meta charset="iso-8859-1">` must be SNIFFED (latin-1 é);
    *  5: 200 `text/html`, no header charset, the http-equiv meta form
    *     declaring windows-1252 (cp1252 curly quotes in the body);
    *  6: 200 `text/html; charset=shift_jis`, Japanese body encoded
    *     windows-31j (the charset WHATWG maps the label to — the
    *     planted characters are in the plain Shift_JIS repertoire, so
    *     the bytes are identical either way);
    *  7: 200 `text/html`, no header charset, `<meta charset="gb2312">`
    *     SNIFFED and decoded as GBK (the WHATWG remap), Chinese body;
    *  8: 200 `text/plain; charset=x-bogus` — an UNKNOWN label whose
    *     utf-8 body (non-ASCII included) must decode through the
    *     WHATWG-default fallback. */
  private[graft] def syntheticHttpPayload(id: Long, text: String): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    (id % 9) match {
      case 0 =>
        val body = s"<html><body><p>$text</p></body></html>"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
          "Server: graft\r\n\r\n").getBytes(ascii) ++ body
      case 1 =>
        val body = s"café résumé doc $id"
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=ISO-8859-1\r\n\r\n")
          .getBytes(ascii) ++ body
      case 2 =>
        val body = s"not found: $id".getBytes(ascii)
        ("HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n" +
          "X-Tag: a\r\nX-Tag: b\r\n\r\n").getBytes(ascii) ++ body
      case 3 =>
        val body = Array[Byte](0x89.toByte, 'P', 'N', 'G',
          (id & 0xff).toByte, ((id >> 8) & 0xff).toByte, 0x00, 0xff.toByte)
        ("HTTP/1.1 200 OK\r\nServer: graft\r\n\r\n").getBytes(ascii) ++ body
      case 4 =>
        val body = ("<html><head><meta charset=\"iso-8859-1\"></head>" +
          s"<body><p>café doc $id</p></body></html>")
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
          .getBytes(ascii) ++ body
      case 5 =>
        val body = ("<html><head><meta http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=windows-1252\"></head>" +
          s"<body><p>“quoted” doc $id</p></body></html>")
          .getBytes(java.nio.charset.Charset.forName("windows-1252"))
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
          .getBytes(ascii) ++ body
      case 6 =>
        val body = s"<html><body><p>こんにちは doc $id 日本語</p></body></html>"
          .getBytes(java.nio.charset.Charset.forName("windows-31j"))
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=shift_jis\r\n\r\n")
          .getBytes(ascii) ++ body
      case 7 =>
        val body = ("<html><head><meta charset=\"gb2312\"></head>" +
          s"<body><p>中文 doc $id 测试</p></body></html>")
          .getBytes(java.nio.charset.Charset.forName("GBK"))
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
          .getBytes(ascii) ++ body
      case _ =>
        val body = s"fallback ✓ doc $id"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=x-bogus\r\n\r\n")
          .getBytes(ascii) ++ body
    }
  }

  /** Deterministic synthetic URL per document — shared shape between
    * q_url_parse's Spark side and its DuckDB oracle: scheme, optional
    * userinfo, optional www, multi-label hosts across plain and
    * two-label public suffixes, optional port, path, query, fragment. */
  private def syntheticUrl: Column = concat(
    lit("https://"),
    when(pmod(col("doc_id"), lit(11)) === 0, lit("user:pw@")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(4)) === 0, lit("www.")).otherwise(lit("")),
    lit("u"), pmod(col("doc_id"), lit(7)).cast("string"),
    lit(".host"), pmod(col("doc_id"), lit(13)).cast("string"),
    when(pmod(col("doc_id"), lit(3)) === 0, lit(".co.uk"))
      .when(pmod(col("doc_id"), lit(3)) === 1, lit(".org"))
      .otherwise(lit(".com")),
    when(pmod(col("doc_id"), lit(5)) === 0, lit(":8080")).otherwise(lit("")),
    lit("/p/"), col("doc_id").cast("string"), lit("?ref=rss#top"))

  /** Deterministic HTML page with planted ANCHORS per document —
    * shared shape between q_link_extract / q_domain_rank and their
    * oracles. In document order: a double-quoted absolute link (0), a
    * single-quoted uppercase-attr www link (1), a ROOT-RELATIVE link
    * (2 — resolves against the page URL), a second absolute link with
    * query+fragment (3), an UNQUOTED absolute href (4), a dot-segment
    * relative link (5 — `../up/…` must normalize), a query-only
    * reference (6 — replaces the base query), a protocol-relative
    * link (7 — takes the base scheme), and a fragment-only self-link
    * (8 — holds its pos but yields no row). Two DECOYS that must
    * never extract: an `<area href>` (tag anchor) and a
    * `<a data-href>` (attribute boundary). doc_id%6==0 pages carry a
    * ROOT-RELATIVE `<base href="/bd/sub/">` (itself resolved against
    * the page URL, then overriding it for every relative anchor) and
    * doc_id%6==3 pages an ABSOLUTE http `<base>` on another host —
    * root-relative links must take ITS authority and
    * protocol-relative links ITS scheme. */
  /** Deterministic sitemap URL per document — the key the
    * q_sitemap_parse index entries reference fetched children by. */
  private def sitemapUrl: Column =
    concat(lit("https://smhost.example.com/sm/"),
      col("doc_id").cast("string"), lit(".xml"))

  /** Deterministic sitemap XML per document — shared shape between
    * q_sitemap_parse's Spark side and its DuckDB oracle, keyed on
    * doc_id % 3:
    *  0: a `<urlset>` with four `<url>` blocks — an entity-escaped
    *     loc (`&amp;`) with whitespace padding + all optional fields,
    *     a numeric-ref loc (`&#47;`) with a datetime lastmod, a
    *     loc-LESS decoy that must drop but hold its pos, and a
    *     garbage (non-numeric) priority that must null out;
    *  1: a `<sitemapindex>` referencing the sitemaps of docs id-1 and
    *     id+2 (both ≡ 0 mod 3 — fetched urlsets when in range) plus
    *     an UNFETCHED child that must yield nothing;
    *  2: a minimal one-entry `<urlset>`. */
  private def sitemapXml: Column = {
    val site = concat(lit("https://site"), col("doc_id").cast("string"),
      lit(".example.com"))
    when(pmod(col("doc_id"), lit(3)) === 0, concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        "<url><loc> "), site,
      lit("/p/0?a=1&amp;b=2 </loc><lastmod>2025-06-15</lastmod>" +
        "<changefreq>daily</changefreq><priority>0.8</priority></url>" +
        "<url><loc>"), site,
      lit("/p/1&#47;x</loc>" +
        "<lastmod>2024-03-01T12:30:00+00:00</lastmod></url>" +
        "<url><lastmod>2020-01-01</lastmod></url>" +
        "<url><loc>"), site,
      lit("/p/2</loc><priority>bogus</priority></url></urlset>")))
      .when(pmod(col("doc_id"), lit(3)) === 1, concat(
        lit("<sitemapindex " +
          "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          "<sitemap><loc>https://smhost.example.com/sm/"),
        (col("doc_id") - 1).cast("string"),
        lit(".xml</loc><lastmod>2025-01-02</lastmod></sitemap>" +
          "<sitemap><loc>https://smhost.example.com/sm/"),
        (col("doc_id") + 2).cast("string"),
        lit(".xml</loc></sitemap><sitemap>" +
          "<loc>https://unfetched.example.com/other.xml</loc>" +
          "</sitemap></sitemapindex>")))
      .otherwise(concat(
        lit("<urlset><url><loc>"), site,
        lit("/only</loc></url></urlset>")))
  }

  private def linkPage: Column = concat(
    lit("<html>"),
    when(pmod(col("doc_id"), lit(6)) === 0,
      lit("<head><base href=\"/bd/sub/\"></head>"))
      .when(pmod(col("doc_id"), lit(6)) === 3,
        lit("<head><base href='http://basehost.example.org/x/'></head>"))
      .otherwise(lit("")),
    lit("<body><p>"), col("text"), lit("</p>"),
    lit("<area href=\"http://decoy.example.net/a\">"),
    lit("<a href=\"http://u"), pmod(col("doc_id"), lit(7)).cast("string"),
    lit(".host"), pmod(col("doc_id"), lit(13)).cast("string"),
    lit(".com/p/"), col("doc_id").cast("string"), lit("\">x</a>"),
    lit("<A HREF='https://www.hub"), pmod(col("doc_id"), lit(5)).cast("string"),
    lit(".example.org/dir/'>y</A>"),
    lit("<a data-href=\"http://decoy2.example.net/b\">no</a>"),
    lit("<a href=\"/relative/"), col("doc_id").cast("string"),
    lit("\">rel</a>"),
    lit("<a href=\"http://u"), pmod(col("doc_id") + 1, lit(7)).cast("string"),
    lit(".host"), pmod(col("doc_id") + 1, lit(13)).cast("string"),
    lit(".com/q?a=1#f\">z</a>"),
    lit("<a href=http://cdn"), pmod(col("doc_id"), lit(5)).cast("string"),
    lit(".example.net/lib.js>u</a>"),
    lit("<a href=\"../up/"), pmod(col("doc_id"), lit(9)).cast("string"),
    lit("\">d</a>"),
    lit("<a href=\"?page=2\">q</a>"),
    lit("<a href=\"//mirror"), pmod(col("doc_id"), lit(3)).cast("string"),
    lit(".example.com/m\">p</a>"),
    lit("<a href=\"#sec\">s</a></body></html>"))

  /** Deterministic MESSY synthetic URL per document — shared shape
    * between q_url_canon's Spark side and its oracle: mixed-case
    * scheme/host, default and non-default ports on both schemes,
    * unsorted + tracking query params, trailing slash, fragment. */
  private def messyUrl: Column = concat(
    when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTPS://"))
      .otherwise(lit("http://")),
    when(pmod(col("doc_id"), lit(11)) === 0, lit("User:PW@"))
      .otherwise(lit("")),
    lit("WWW.Example"), pmod(col("doc_id"), lit(5)).cast("string"),
    lit(".COM"),
    when(pmod(col("doc_id"), lit(3)) === 0, lit(":443"))
      .when(pmod(col("doc_id"), lit(3)) === 1, lit(":80"))
      .otherwise(lit("")),
    lit("/Path/To/Item"),
    when(pmod(col("doc_id"), lit(4)) === 0, lit("/")).otherwise(lit("")),
    lit("?b=2&utm_source=feed&a=1"),
    when(pmod(col("doc_id"), lit(7)) === 0, lit("&ref=home&z=9"))
      .otherwise(lit("")),
    lit("#frag"), col("doc_id").cast("string"))

  /** Deterministic PSL-hard synthetic URL per document — shared shape
    * between q_url_parse2's Spark side and its DuckDB oracle. The
    * doc_id%9 == 4 branch omits the `u<k>.` prefix so the host IS a
    * public suffix under the `*.ck` wildcard (site must be NULL). */
  private def pslUrl: Column = concat(
    lit("https://"),
    when(pmod(col("doc_id"), lit(11)) === 0, lit("user:pw@")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(4)) === 0, lit("www.")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(9)) === 4, lit(""))
      .otherwise(concat(lit("u"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit("."))),
    when(pmod(col("doc_id"), lit(9)) === 0, lit("example.co.uk"))
      .when(pmod(col("doc_id"), lit(9)) === 1, lit("example.com.au"))
      .when(pmod(col("doc_id"), lit(9)) === 2, lit("city.kawasaki.jp"))
      .when(pmod(col("doc_id"), lit(9)) === 3, lit("sub.kawasaki.jp"))
      .when(pmod(col("doc_id"), lit(9)) === 4, lit("example.ck"))
      .when(pmod(col("doc_id"), lit(9)) === 5, lit("www.ck"))
      .when(pmod(col("doc_id"), lit(9)) === 6, lit("pages.github.io"))
      .when(pmod(col("doc_id"), lit(9)) === 7, lit("example.unknown"))
      .otherwise(lit("example.org")),
    when(pmod(col("doc_id"), lit(5)) === 0, lit(":8080")).otherwise(lit("")),
    lit("/p/"), col("doc_id").cast("string"), lit("?ref=rss#top"))

  // ---- splitmix64 / Box-Muller replay helpers for the ANN oracles ----
  // DuckDB has no wrapping 64-bit integer arithmetic, so the splitmix64
  // chain is replayed in HUGEINT mod 2^64, with each 64x64 multiply
  // split into (hi*c mod 2^32)*2^32 + lo*c to stay inside INT128 — the
  // same replay pattern as the q_minhash_pairs oracle. The Gaussian is
  // Box-Muller over two such uniforms (top 53 bits + 0.5, an exact
  // dyadic rational), verified bitwise-identical between JVM Math and
  // DuckDB's libm over the full plane matrix.
  private val sqlMod = "CAST('18446744073709551616' AS HUGEINT)"
  private val sqlGolden = "CAST('11400714819323198485' AS HUGEINT)"
  private def sqlSplitMul(x: String, c: String): String =
    s"(((($x) // CAST('4294967296' AS HUGEINT)) * $c % CAST('4294967296' AS HUGEINT))" +
      s" * CAST('4294967296' AS HUGEINT)" +
      s" + (($x) % CAST('4294967296' AS HUGEINT)) * $c) % $sqlMod"
  /** Shared simhash-cluster replay CTEs (`corpus` … `labels`): the
    * augmented near-dup corpus, per-doc simhash (token FNV votes),
    * hamming<=3 pair graph, and a recursive-CTE reachability fixpoint
    * labeling every doc with its component minimum. Continued by the
    * q_dedup_clusters / q_neardup_prune (min-id retention) /
    * q_cluster_best (quality argmax retention) oracles.
    *
    * corpus/sig/prs/edges are AS MATERIALIZED: DuckDB inlines plain
    * CTEs, so the recursive fixpoint used to RE-COMPUTE the whole
    * simhash pipeline (the ~100 s part) on every iteration — the
    * ">900 s killed" BASELINE rows. Materialized, the fixpoint
    * iterates over a ~10k-row edge table and the whole oracle runs
    * in ~50 s single-threaded at sf0.1 (measured, duckdb 1.0.0). */
  /** dHash-signature CTE chain shared by q_image_neardup and
    * q_image_prune: the first-word-mutated planted-pair corpus, the
    * stubDhash64 replay (72-cell FNV "gray" grid → 8×9 row-neighbor
    * comparisons → signed 64-bit fold), ending in `sig(doc_id,
    * dhash)` over `corpus(doc_id, text)`. */
  private val sqlImageDhashSigCtes: String =
    """corpus AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, regexp_replace(text, '^\S+', 'imgvariant') FROM documents),
      |tl AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM corpus),
      |grid AS (
      |  SELECT doc_id, i,
      |    CASE WHEN len(toks) = 0 THEN CAST(0 AS HUGEINT) ELSE
      |      list_reduce(
      |        list_prepend(CAST('14695981039346656037' AS HUGEINT),
      |          list_transform(range(1, length(toks[(i % len(toks)) + 1]) + 1),
      |            j -> CAST(unicode(substr(toks[(i % len(toks)) + 1], j, 1)) AS HUGEINT))),
      |        (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
      |                    % CAST('18446744073709551616' AS HUGEINT)) % 256 END AS gray
      |  FROM tl, range(0, 72) r(i)),
      |g AS (SELECT doc_id, list(gray ORDER BY i) AS gl FROM grid GROUP BY doc_id),
      |u AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN gl[(b // 8) * 9 + (b % 8) + 2] > gl[(b // 8) * 9 + (b % 8) + 1]
      |      THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS uh
      |  FROM g, range(0, 64) r(b) GROUP BY doc_id),
      |sig AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(uh - CASE WHEN uh >= CAST('9223372036854775808' AS HUGEINT)
      |      THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS dhash
      |  FROM u)""".stripMargin

  private val sqlSimhashClustersCte: String =
    """WITH RECURSIVE corpus AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+$', '') FROM documents),
      |toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      |  FROM corpus),
      |th AS (
      |  SELECT doc_id, list_reduce(
      |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
      |      list_transform(range(1, length(tok)+1),
      |        i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))),
      |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
      |                % CAST('18446744073709551616' AS HUGEINT)) AS h
      |  FROM toks),
      |votes AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, range(0, 64) r(b) GROUP BY doc_id, b),
      |sim AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS u
      |  FROM votes GROUP BY doc_id),
      |sig AS MATERIALIZED (
      |  SELECT c.doc_id,
      |    CAST(coalesce(s.u, CAST(0 AS HUGEINT))
      |      - CASE WHEN coalesce(s.u, CAST(0 AS HUGEINT)) >= CAST('9223372036854775808' AS HUGEINT)
      |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS simhash
      |  FROM corpus c LEFT JOIN sim s ON c.doc_id = s.doc_id),
      |prs AS MATERIALIZED (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      |edges AS MATERIALIZED (
      |  SELECT id_a AS x, id_b AS y FROM prs
      |  UNION ALL SELECT id_b, id_a FROM prs),
      |cc(id, comp) AS (
      |  SELECT doc_id, doc_id FROM corpus
      |  UNION
      |  SELECT e.y, cc.comp FROM cc JOIN edges e ON cc.id = e.x)
      |, labels AS (SELECT id, min(comp) AS m FROM cc GROUP BY id)""".stripMargin

  /** DuckDB replay of [[graft.functions.TextFunctions.qualityScore]]
    * over column `text` — the q_quality_score oracle's expression,
    * reused as q_cluster_best's retention score. */
  private val sqlQualityExprText: String =
    """round(
      |    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.3 +
      |    (CASE WHEN length(text) = 0 THEN 0.0 ELSE
      |      CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) /
      |      CAST(length(text) AS DOUBLE) END) * 0.4 +
      |    least((CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
      |      CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE) /
      |      CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END) * 4.0, 1.0) * 0.2 +
      |    (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
      |      CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) /
      |      CAST(length(text) AS DOUBLE) END) * 5.0, 1.0)) * 0.1, 6)""".stripMargin

  /** Byte-level FNV-1a fold of string expression `x` reduced to its
    * 1024-bucket id (HUGEINT mod 2^64; 1024 divides 2^64, so the
    * unsigned modulus equals the kernel's signed floorMod). Used by
    * the q_classifier_score oracle's feature hashing. */
  /** q_lang_id3 oracle: the fastText sample dump parsed by the SAME
    * import the Spark side runs (the merges.txt resource-at-
    * construction pattern; weights are dyadic-grid doubles so the
    * rendered literals round-trip exactly), nonzero per-bucket
    * weights as sparse VALUES densified to the 1024-slot list per
    * label, then the q_lang_id2 scoring replay with tie-break on the
    * model INDEX (= the Spark side's earliest-model-wins fold). */
  private def qLangId3Oracle: String = {
    val models = graft.operators.Classify
      .loadFastTextResource("/graft/fasttext_lid_sample.txt", numBuckets = 1024)
    val sparse = models.zipWithIndex.flatMap { case ((lang, w), i) =>
      w.zipWithIndex.collect { case (v, b) if v != 0.0 =>
        s"('$lang', $i, $b, CAST($v AS DOUBLE))" }
    }.mkString(", ")
    val idx = models.zipWithIndex
      .map { case ((lang, _), i) => s"('$lang', $i)" }.mkString(", ")
    s"""WITH sw(lang, idx, b, w) AS (VALUES $sparse),
       |ml(lang, idx) AS (VALUES $idx),
       |wl AS MATERIALIZED (
       |  SELECT m.lang, m.idx, list(coalesce(s.w, 0.0) ORDER BY rb.b) AS ws
       |  FROM ml m CROSS JOIN range(0, 1024) rb(b)
       |  LEFT JOIN sw s ON s.lang = m.lang AND s.b = rb.b
       |  GROUP BY m.lang, m.idx),
       |toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id, flatten(list_transform(range(1, len(t)+1), i ->
       |    CASE WHEN i = 1 THEN [${sqlFnvBucket("t[i]")}]
       |    ELSE [${sqlFnvBucket("concat(t[i-1], ' ', t[i])")},
       |          ${sqlFnvBucket("t[i]")}] END)) AS fs
       |  FROM toks),
       |scored AS (
       |  SELECT f.doc_id, wl.lang, wl.idx,
       |    CASE WHEN len(f.fs) = 0 THEN 0.0
       |    ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(f.fs, x -> wl.ws[CAST(x AS INT) + 1])),
       |      (a, v) -> a + v) END AS logit
       |  FROM feats f CROSS JOIN wl),
       |ranked AS (
       |  SELECT doc_id, lang, logit,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY logit DESC, idx) AS rn
       |  FROM scored)
       |SELECT doc_id, lang AS lang_pred, round(logit, 6) AS logit
       |FROM ranked WHERE rn = 1""".stripMargin
  }

  private def sqlFnvBucket(x: String): String =
    s"CAST(list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT), " +
      s"list_transform(range(1, length($x)+1), " +
      s"j -> CAST(unicode(substr($x, j, 1)) AS HUGEINT))), " +
      s"(acc, ch) -> (xor(acc, ch) * CAST('1099511628211' AS HUGEINT)) % $sqlMod) " +
      s"% 1024 AS BIGINT)"

  /** fastText's FNV-1a-32 ([[graft.functions.FastText.hash32]]) as a
    * DuckDB fold over CODE POINTS — equal to the byte fold for the
    * ASCII corpus+vocab the oracle runs on (the standing fnv-oracle
    * assumption; the kernel itself is byte-exact incl. the int8_t
    * sign extension, spec-pinned on multi-byte UTF-8). BIGINT is
    * safe: acc < 2^32, acc·16777619 < 2^56. */
  private def sqlFnv32(x: String): String =
    s"list_reduce(list_prepend(CAST(2166136261 AS BIGINT), " +
      s"list_transform(range(1, length($x)+1), " +
      s"j -> CAST(unicode(substr($x, j, 1)) AS BIGINT))), " +
      s"(acc, ch) -> (xor(acc, ch) * 16777619) % 4294967296)"

  /** q_lang_id4 oracle: the subword sample dump parsed by the SAME
    * import the Spark side runs, then a per-(label, feature-id)
    * LINEARIZED replay — weight(l, fid) = input_fid · output_l as
    * sparse VALUES — over the token feature ids: dict word id (when
    * in vocab) plus every char [minn, maxn]-gram of `<tok>` hashed by
    * [[sqlFnv32]] into `nwords + h % bucket`. The sample's
    * exact-dyadic weights make this association order and the
    * kernel's factored order bit-identical. Docs with no tokens keep
    * a NULL row via the final left join (the kernel's null
    * contract). The n==1 boundary-gram exclusion is irrelevant here
    * (sample minn = 2) and omitted from the replay. When the dict
    * carries `</s>`, the kernel appends its word id to EVERY line
    * (Dictionary::getLine) — replayed as one extra occ row per doc;
    * the literal-`</s>`-token line truncation is not replayed (the
    * synthetic corpus carries no such token). */
  private def qLangId4Oracle: String = {
    val m = graft.operators.Classify
      .loadFastTextSubwordResource("/graft/fasttext_subword_sample.txt")
    val sparse = m.labels.indices.flatMap { li =>
      (0 until (m.nwords + m.bucket)).flatMap { fid =>
        var d = 0.0
        var k = 0
        while (k < m.dim) { d += m.input(fid)(k) * m.output(li)(k); k += 1 }
        if (d != 0.0) Some(s"($li, $fid, CAST($d AS DOUBLE))") else None
      }
    }.mkString(", ")
    val dictVals = m.words.zipWithIndex
      .map { case (w, i) => s"('$w', $i)" }.mkString(", ")
    val labVals = m.labels.zipWithIndex
      .map { case (l, i) => s"('$l', $i)" }.mkString(", ")
    s"""WITH dict(word, wid) AS (VALUES $dictVals),
       |lab(lang, idx) AS (VALUES $labVals),
       |sw(idx, fid, w) AS (VALUES $sparse),
       |toks AS (
       |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
       |ng AS (
       |  SELECT doc_id, tk,
       |    list_filter(
       |      flatten(list_transform(range(1, length(w2) + 1), i ->
       |        list_transform(range(${m.minn}, ${m.maxn} + 1), n ->
       |          CASE WHEN i + n - 1 <= length(w2)
       |            THEN substr(w2, i, n) END))),
       |      g -> g IS NOT NULL) AS grams
       |  FROM (SELECT doc_id, tk, '<' || tk || '>' AS w2 FROM tok)),
       |tokf AS (
       |  SELECT g.doc_id,
       |    (CASE WHEN d.wid IS NOT NULL THEN [CAST(d.wid AS BIGINT)]
       |      ELSE CAST([] AS BIGINT[]) END) ||
       |    list_transform(g.grams,
       |      x -> ${m.nwords} + ${sqlFnv32("x")} % ${m.bucket}) AS fids
       |  FROM ng g LEFT JOIN dict d ON g.tk = d.word),
       |occ AS (SELECT doc_id, unnest(fids) AS fid FROM tokf${
           if (m.eosId >= 0)
             s"\n       UNION ALL SELECT doc_id, CAST(${m.eosId} AS BIGINT)" +
               " AS fid FROM documents"
           else ""}),
       |scored AS (
       |  SELECT o.doc_id, l.lang, l.idx,
       |    coalesce(sum(s.w), 0.0) AS logit
       |  FROM occ o CROSS JOIN lab l
       |  LEFT JOIN sw s ON s.idx = l.idx AND s.fid = o.fid
       |  GROUP BY o.doc_id, l.lang, l.idx),
       |ranked AS (
       |  SELECT doc_id, lang, logit,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY logit DESC, idx) AS rn
       |  FROM scored)
       |SELECT d.doc_id, r.lang AS lang_pred, round(r.logit, 6) AS logit
       |FROM documents d
       |LEFT JOIN ranked r ON r.doc_id = d.doc_id AND r.rn = 1""".stripMargin
  }

  /** The same byte-level FNV-1a fold as [[sqlFnvBucket]] but
    * UNREDUCED — the full unsigned 64-bit hash as HUGEINT. Used where
    * an oracle needs the hash's high bits (`// 2048` = the kernel's
    * `>>> 11` top-53-bit uniform), not a bucket id. */
  /** [[sqlFnvRaw]] folded to Spark's SIGNED Long (the Fnv64
    * expression's output) — the sig-CTE two's-complement fold. */
  private def sqlFnvSigned(x: String): String =
    s"CAST(${sqlFnvRaw(x)} - CASE WHEN ${sqlFnvRaw(x)} >= " +
      s"CAST('9223372036854775808' AS HUGEINT) THEN $sqlMod " +
      s"ELSE CAST(0 AS HUGEINT) END AS BIGINT)"

  /** q_robots_filter oracle: synthesis (bodies from [[robotsBodies]]
    * keyed by fnv64(site) % bodies.length), the declarative parse
    * (line split, UA-run-start group window, per-group agent tokens,
    * RFC §2.2.1 most-specific-PREFIX selection decided from the agent
    * frame with `*` only when no token prefix-matches), the identical
    * regex compilation, and the longest-match decision as a max over
    * (spec, allow, rule) structs. */
  /** The robots parse + §2.2.1 selection CTE chain shared by the
    * q_robots_filter and q_robots_meta oracles: synthesis (`u`/`us`),
    * body assignment (`rb`), line/group parse (`rlines`→`grp`), agent
    * tokens + prefix selection (`agents`→`sel(site, g)`). */
  private def sqlRobotsCommonCtes: String = {
    val bodies = robotsBodies.zipWithIndex.map { case (b, i) =>
      s"WHEN $i THEN '${b.replace("'", "''")}'"
    }.mkString(" ")
    s"""u AS (
       |  SELECT doc_id,
       |    'https://' ||
       |    CASE WHEN doc_id % 11 = 0 THEN 'user:pw@' ELSE '' END ||
       |    CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
       |    'u' || (doc_id % 7) || '.host' || (doc_id % 13) ||
       |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
       |         WHEN doc_id % 3 = 1 THEN '.org' ELSE '.com' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
       |    '/p/' || doc_id || '?ref=rss#top' AS url
       |  FROM documents),
       |us AS (SELECT doc_id, url,
       |  ${sqlSiteOf(sqlHostOf("url"))} AS site FROM u),
       |rb AS (
       |  SELECT site, CASE CAST(${sqlFnvRaw("site")} % ${robotsBodies.length} AS INT)
       |    $bodies END AS txt
       |  FROM (SELECT DISTINCT site FROM us)),
       |rlines AS (
       |  SELECT site, i AS pos,
       |    trim(regexp_replace(regexp_replace(parts[i], '\\r$$', ''),
       |      '#.*$$', '')) AS line
       |  FROM (SELECT site, string_split(txt, chr(10)) AS parts FROM rb),
       |       unnest(generate_series(1, len(parts))) g(i)),
       |tagged AS (
       |  SELECT site, pos, line,
       |    regexp_matches(lower(line), '^user-agent\\s*:') AS is_ua,
       |    CASE WHEN regexp_matches(lower(line), '^allow\\s*:') THEN 'allow'
       |         WHEN regexp_matches(lower(line), '^disallow\\s*:') THEN 'disallow'
       |    END AS kind,
       |    trim(substr(line, instr(line, ':') + 1)) AS val
       |  FROM rlines),
       |marks AS (
       |  SELECT *, CASE WHEN is_ua AND NOT coalesce(
       |      lag(is_ua) OVER (PARTITION BY site ORDER BY pos), false)
       |    THEN 1 ELSE 0 END AS ua_start
       |  FROM tagged),
       |grp AS (
       |  SELECT *, sum(ua_start)
       |    OVER (PARTITION BY site ORDER BY pos
       |          ROWS UNBOUNDED PRECEDING) AS g
       |  FROM marks),
       |agents AS (
       |  SELECT DISTINCT site, g, lower(val) AS ua
       |  FROM grp WHERE is_ua),
       |agm AS (
       |  SELECT site, g, ua,
       |    ua <> '*' AND starts_with('graftbot', ua) AS m_spec
       |  FROM agents),
       |best AS (
       |  SELECT site, max(length(ua)) AS best_len
       |  FROM agm WHERE m_spec GROUP BY site),
       |sel AS (
       |  SELECT DISTINCT a.site, a.g
       |  FROM agm a JOIN best b ON a.site = b.site
       |  WHERE a.m_spec AND length(a.ua) = b.best_len
       |  UNION
       |  SELECT site, g FROM agm
       |  WHERE ua = '*' AND site NOT IN (SELECT site FROM best))""".stripMargin
  }

  private def qRobotsFilterOracle: String = {
    s"""WITH $sqlRobotsCommonCtes,
       |rules0 AS (
       |  SELECT r.site, r.kind = 'allow' AS allow, r.val AS rule_path,
       |    length(r.val) AS spec
       |  FROM grp r JOIN sel USING (site, g)
       |  WHERE r.kind IS NOT NULL AND length(r.val) > 0),
       |rrules AS (
       |  SELECT r.site, r.allow, r.rule_path, r.spec,
       |    '^' || replace(regexp_replace(
       |      CASE WHEN r.rule_path LIKE '%$$'
       |        THEN substr(r.rule_path, 1, length(r.rule_path) - 1)
       |        ELSE r.rule_path END,
       |      '([.\\[\\]{}()+?^$$|\\\\])', '\\\\\\1', 'g'), '*', '.*')
       |      || CASE WHEN r.rule_path LIKE '%$$' THEN '$$' ELSE '' END AS pattern
       |  FROM rules0 r),
       |paths AS (
       |  SELECT doc_id, site,
       |    CASE WHEN p = '' THEN '/' ELSE p END AS path
       |  FROM (SELECT doc_id, site, regexp_extract(url,
       |    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1) AS p FROM us)),
       |cand AS (
       |  SELECT p.doc_id, p.site, p.path,
       |    CASE WHEN r.pattern IS NOT NULL AND regexp_matches(p.path, r.pattern)
       |      THEN {'spec': r.spec, 'a': CAST(r.allow AS INT),
       |            'rule_path': r.rule_path} END AS m
       |  FROM paths p LEFT JOIN rrules r ON p.site = r.site),
       |w AS (SELECT doc_id, site, path, max(m) AS win
       |      FROM cand GROUP BY doc_id, site, path)
       |SELECT doc_id, site, path,
       |  coalesce(win.a = 1, true) AS allowed, win.rule_path AS rule
       |FROM w""".stripMargin
  }

  /** q_robots_meta oracle: the shared parse/selection chain, then the
    * global Sitemap harvest (count + lexicographic min) and the
    * selected groups' minimum Crawl-delay (TRY_CAST == the operator's
    * try_cast null-on-garbage contract). */
  private def qRobotsMetaOracle: String =
    s"""WITH $sqlRobotsCommonCtes,
       |sm AS (
       |  SELECT site, CAST(count(*) AS INT) AS n_sitemaps,
       |    min(val) AS first_sitemap
       |  FROM grp WHERE regexp_matches(lower(line), '^sitemap\\s*:')
       |  GROUP BY site),
       |cd AS (
       |  SELECT g2.site, min(TRY_CAST(g2.val AS DOUBLE)) AS crawl_delay
       |  FROM grp g2 JOIN sel ON g2.site = sel.site AND g2.g = sel.g
       |  WHERE regexp_matches(lower(g2.line), '^crawl-delay\\s*:')
       |  GROUP BY g2.site),
       |sites AS (SELECT DISTINCT site FROM us)
       |SELECT s.site, cd.crawl_delay,
       |  coalesce(sm.n_sitemaps, 0) AS n_sitemaps, sm.first_sitemap
       |FROM sites s
       |LEFT JOIN cd ON cd.site = s.site
       |LEFT JOIN sm ON sm.site = s.site""".stripMargin

  /** DuckDB replay of [[graft.operators.WebClean.urlHost]]. */
  private def sqlHostOf(url: String): String =
    s"regexp_replace(regexp_extract(lower($url), " +
      s"'^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([a-z0-9.-]+)', 1), " +
      s"'^www\\.', '')"

  /** DuckDB replay of [[graft.operators.WebClean.urlSite]] over an
    * already-computed host expression. */
  private def sqlSiteOf(host: String): String =
    s"CASE WHEN regexp_matches($host, " +
      s"'\\.(co|ac|gov|com|org|net)\\.(uk|au|nz|jp|br|in)$$') " +
      s"THEN regexp_extract($host, '([a-z0-9-]+\\.[a-z0-9-]+\\.[a-z0-9-]+)$$', 1) " +
      s"ELSE regexp_extract($host, '([a-z0-9-]+\\.[a-z0-9-]+)$$', 1) END"

  /** Planted X-Robots-Tag header arrays per document (doc_id % 8) —
    * shared shape with the q_xrobots truth-table oracle: plain
    * noindex (0), a comma list (1), scoped to OUR agent (2), scoped
    * to another agent — must not apply (3), the `unavailable_after:`
    * colon trap — a directive, not a scope (4), `NONE` uppercase (5),
    * TWO headers whose directives union (6), no robots header (7).
    * A `server` header and an `x-powered-by` decoy ride on every row. */
  private def xRobotsHeaders: Column = {
    def hdr(n: String, v: Column) =
      struct(lit(n).as("name"), v.as("value"))
    val xrt = (v: Column) => hdr("x-robots-tag", v)
    val m = pmod(col("doc_id"), lit(8))
    val base = Seq(hdr("server", lit("graft")),
      hdr("x-powered-by", lit("noindex")))
    concat(array(base: _*),
      when(m === 0, array(xrt(lit("noindex"))))
        .when(m === 1, array(xrt(lit("noarchive, nofollow"))))
        .when(m === 2, array(xrt(lit("graftbot: noindex"))))
        .when(m === 3, array(xrt(lit("otherbot: noindex"))))
        .when(m === 4, array(xrt(lit("unavailable_after: 2026-01-01"))))
        .when(m === 5, array(xrt(lit("NONE"))))
        .when(m === 6, array(xrt(lit("noindex")), xrt(lit("nofollow"))))
        .otherwise(array().cast("array<struct<name:string,value:string>>")))
  }

  /** Planted meta-robots page per document (doc_id % 8) — shared
    * shape with the q_meta_robots oracle: double-quoted
    * name-then-content (0), single-quoted content-then-name (1),
    * UPPERCASE `NONE` (2), no tag (3), explicit index,follow (4),
    * TWO separate tags whose directives must union (5), an UNQUOTED
    * content value (6), and an unquoted comma-list in content-first
    * order (7). TWO decoys ride on every page (must never match): a
    * non-robots `<meta name="viewport">` tag, and a
    * `data-name="robots" data-content=...` tag — the unanchored-
    * attribute trap (a regex without the whitespace anchor reads the
    * data-* attributes as the real ones and plants false
    * directives). */
  private def metaRobotsPage: Column = concat(
    lit("<html><head><meta name=\"viewport\" content=\"width=1\">" +
      "<meta data-name=\"robots\" data-content=\"noindex,nofollow\">"),
    when(pmod(col("doc_id"), lit(8)) === 0,
      lit("<meta name=\"robots\" content=\"noindex, follow\">"))
      .when(pmod(col("doc_id"), lit(8)) === 1,
        lit("<meta content='nofollow' name='robots'>"))
      .when(pmod(col("doc_id"), lit(8)) === 2,
        lit("<META NAME=\"ROBOTS\" CONTENT=\"NONE\">"))
      .when(pmod(col("doc_id"), lit(8)) === 3, lit(""))
      .when(pmod(col("doc_id"), lit(8)) === 5,
        lit("<meta name=\"robots\" content=\"noindex\">" +
          "<meta name=\"robots\" content=\"nofollow\">"))
      .when(pmod(col("doc_id"), lit(8)) === 6,
        lit("<meta name=robots content=noindex>"))
      .when(pmod(col("doc_id"), lit(8)) === 7,
        lit("<meta content=noindex,nofollow name=robots>"))
      .otherwise(lit("<meta name=\"robots\" content=\"index,follow\">")),
    lit("</head><body><p>"), col("text"), lit("</p></body></html>"))

  /** The eight planted robots.txt bodies q_robots_filter assigns to
    * sites by fnv64(site) % 8 (8 divides 2^64, so the oracle's
    * unsigned HUGEINT modulus equals Spark's signed pmod) — shared
    * verbatim between the Spark synthesis and the oracle. Coverage:
    * group fallback to `*` with a longest-match allow override +
    * empty Disallow + comment + unknown directive (0); a
    * specific-agent group that blocks everything while the `*` group
    * allows (1); `*` wildcards mid-rule (2); a combined
    * `*`-and-`$`-anchor rule with an escaped `?` (3); RFC §2.2.1
    * most-specific-agent precedence — the exact `graftbot` token must
    * beat the shorter `graft` prefix group (4); a matched group whose
    * only directive is an empty `Disallow:` — default allow, must NOT
    * fall back to the blocking `*` group (5); selection via PREFIX
    * token alone (`graft` matches agent `graftbot`) (6); a token
    * LONGER than the agent (`graftbotx`) must not match — falls back
    * to `*` (7). Non-rule directives ride several bodies for
    * q_robots_meta and are INVISIBLE to the rule parse: a `*`-group
    * Crawl-delay + a global Sitemap (0), group-scoped Crawl-delays
    * where the SELECTED group's value must win (9 in the `graft`
    * prefix group vs 2.5 in the exact `graftbot` group — 4), two
    * Sitemap lines (5), and neither on the rest. */
  private val robotsBodies: Seq[String] = Seq(
    "User-agent: *\nDisallow: /p/\nAllow: /p/1*\nDisallow:\n# note\n" +
      "Crawl-delay: 5\nSitemap: https://s0.example.org/map1.xml",
    "User-agent: graftbot\nUser-agent: otherbot\nDisallow: /\n\nUser-agent: *\nDisallow:",
    "User-agent: *\nDisallow: /*?ref=*\nAllow: /p/",
    "User-agent: *\nDisallow: /p/*3?ref=rss$",
    "User-agent: graft\nDisallow: /p/\nCrawl-delay: 9\n\n" +
      "User-agent: graftbot\nAllow: /\nCrawl-delay: 2.5\n\n" +
      "User-agent: *\nDisallow: /",
    "User-agent: graftbot\nDisallow:\n\nUser-agent: *\nDisallow: /\n" +
      "Sitemap: https://s5.example.org/b.xml\n" +
      "Sitemap: https://s5.example.org/a.xml",
    "User-agent: graft\nDisallow: /p/\n\nUser-agent: *\nAllow: /",
    "User-agent: graftbotx\nDisallow: /\n\nUser-agent: *\nDisallow: /p/9*")

  /** Planted main-content page per document — shared shape with the
    * q_main_content oracle: a link-dense nav list (each item short AND
    * anchor-only), a short header, TWO long article paragraphs (the
    * main content a correct extraction keeps), a share bar whose
    * visible text is long enough but majority-anchor (dropped by link
    * density, not length), an anchor-only footer, plus title/style
    * blocks the pre-strip and length rule must exclude. */
  private def mainContentPage: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style type=\"text/css\">p { color: red; }</style>" +
      "</head><body>" +
      "<nav><ul><li><a href=\"/\">Home</a></li>" +
      "<li><a href=\"/about\">About us</a></li>" +
      "<li><a href=\"/contact\">Contact</a></li></ul></nav>" +
      "<header><h1>Site "),
    pmod(col("doc_id"), lit(7)).cast("string"),
    lit(" news</h1></header><article><p>"), col("text"),
    lit("</p><p>Continued coverage of the story: "), col("text"),
    lit("</p></article>" +
      "<div class=\"share\">Share this article with your friends: " +
      "<a href=\"/fb\">Facebook page</a> <a href=\"/tw\">Twitter feed</a> " +
      "<a href=\"/nl\">Email newsletter</a></div>" +
      "<footer><a href=\"/t\">Terms of service</a> " +
      "<a href=\"/p\">Privacy policy</a> " +
      "<a href=\"/i\">Imprint notice</a></footer></body></html>"))

  /** The [[mainContentPage]] synthesis as SQL. */
  private val sqlMainContentPage: String =
    """'<html><head><title>Doc ' || doc_id ||
      |'</title><style type="text/css">p { color: red; }</style>' ||
      |'</head><body>' ||
      |'<nav><ul><li><a href="/">Home</a></li>' ||
      |'<li><a href="/about">About us</a></li>' ||
      |'<li><a href="/contact">Contact</a></li></ul></nav>' ||
      |'<header><h1>Site ' || (doc_id % 7) ||
      |' news</h1></header><article><p>' || text ||
      |'</p><p>Continued coverage of the story: ' || text ||
      |'</p></article>' ||
      |'<div class="share">Share this article with your friends: ' ||
      |'<a href="/fb">Facebook page</a> <a href="/tw">Twitter feed</a> ' ||
      |'<a href="/nl">Email newsletter</a></div>' ||
      |'<footer><a href="/t">Terms of service</a> ' ||
      |'<a href="/p">Privacy policy</a> ' ||
      |'<a href="/i">Imprint notice</a></footer></body></html>'"""
      .stripMargin.replace("\n", " ")

  /** DuckDB replay of [[graft.functions.WebText]]'s `visible()` —
    * tags→space, the five core entities (&amp; last), whitespace
    * collapse, trim. */
  private def sqlVisibleOf(x: String): String =
    s"""trim(regexp_replace(
       |  replace(replace(replace(replace(replace(replace(
       |    regexp_replace($x, '(?s)<[^>]*>', ' ', 'g'),
       |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |  '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
       |  '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))""".stripMargin
      .replace("\n", " ")

  /** The [[linkPage]] synthesis as SQL — shared by the link-extraction
    * oracles. */
  private val sqlLinkPage: String =
    """'<html>' ||
      |CASE WHEN doc_id % 6 = 0 THEN '<head><base href="/bd/sub/"></head>'
      |     WHEN doc_id % 6 = 3
      |       THEN '<head><base href=''http://basehost.example.org/x/''></head>'
      |     ELSE '' END ||
      |'<body><p>' || text || '</p>' ||
      |'<area href="http://decoy.example.net/a">' ||
      |'<a href="http://u' || (doc_id % 7) || '.host' || (doc_id % 13) ||
      |  '.com/p/' || doc_id || '">x</a>' ||
      |'<A HREF=''https://www.hub' || (doc_id % 5) ||
      |  '.example.org/dir/''>y</A>' ||
      |'<a data-href="http://decoy2.example.net/b">no</a>' ||
      |'<a href="/relative/' || doc_id || '">rel</a>' ||
      |'<a href="http://u' || ((doc_id + 1) % 7) || '.host' ||
      |  ((doc_id + 1) % 13) || '.com/q?a=1#f">z</a>' ||
      |'<a href=http://cdn' || (doc_id % 5) || '.example.net/lib.js>u</a>' ||
      |'<a href="../up/' || (doc_id % 9) || '">d</a>' ||
      |'<a href="?page=2">q</a>' ||
      |'<a href="//mirror' || (doc_id % 3) || '.example.com/m">p</a>' ||
      |'<a href="#sec">s</a></body></html>'"""
      .stripMargin.replace("\n", " ")

  /** The [[syntheticUrl]] synthesis as SQL — the page URL the
    * link-extraction oracles resolve relative hrefs against. */
  private val sqlSyntheticUrl: String =
    """'https://' ||
      |CASE WHEN doc_id % 11 = 0 THEN 'user:pw@' ELSE '' END ||
      |CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
      |'u' || (doc_id % 7) || '.host' || (doc_id % 13) ||
      |CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
      |     WHEN doc_id % 3 = 1 THEN '.org' ELSE '.com' END ||
      |CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
      |'/p/' || doc_id || '?ref=rss#top'"""
      .stripMargin.replace("\n", " ")

  /** Link-extraction CTE chain shared by q_link_extract /
    * q_domain_rank: `pages(doc_id, base_url, html)` → extracted hrefs
    * (the [[graft.operators.WebClean.hrefPattern]] regex verbatim,
    * conditional quote strip) → the RFC 3986 resolution replay
    * (DuckDB lateral column aliases walk the same merge/dot-segment
    * chain as [[graft.operators.WebClean.resolveUrl]], 'g'-flagged
    * replaces == Spark's replace-all) → `abslinks(doc_id, pos, url)`
    * (pos 0-based over ALL hrefs, then the http(s) filter). */
  /** The RFC 3986 resolution replay as a lateral-column-alias SELECT
    * fragment (DuckDB evaluates each alias once per row — the same
    * bound-step discipline as `WebClean.resolveUrl`): resolves `href`
    * against `base`, emitting every intermediate with prefix `p` and
    * the result as `${p}url`. Used TWICE by the link oracles: once
    * per page for the `<base href>` element, once per anchor. */
  private def sqlResolveCols(p: String, base: String, href: String): String =
    s"""trim($href) AS ${p}h,
       |    regexp_extract($base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS ${p}sch,
       |    regexp_extract($base,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS ${p}auth,
       |    regexp_extract($base,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS ${p}bpath,
       |    CASE WHEN ${p}bpath = '' THEN '/' ELSE ${p}bpath END AS ${p}por,
       |    CASE WHEN ${p}bpath = '' THEN '/'
       |      ELSE regexp_replace(${p}bpath, '[^/]*$$', '') END AS ${p}bdir,
       |    CASE
       |      WHEN regexp_matches(${p}h, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN ${p}h
       |      WHEN ${p}sch = '' THEN NULL
       |      WHEN ${p}h LIKE '//%' THEN ${p}sch || ':' || ${p}h
       |      WHEN ${p}h LIKE '/%' THEN ${p}sch || '://' || ${p}auth || ${p}h
       |      WHEN ${p}h LIKE '?%'
       |        THEN ${p}sch || '://' || ${p}auth || ${p}por || ${p}h
       |      WHEN ${p}h = '' OR ${p}h LIKE '#%' THEN NULL
       |      ELSE ${p}sch || '://' || ${p}auth || ${p}bdir || ${p}h
       |    END AS ${p}merged,
       |    regexp_extract(${p}merged, '^([^?#]*)', 1) AS ${p}pre,
       |    substr(${p}merged, length(${p}pre) + 1) AS ${p}post,
       |    regexp_extract(${p}merged,
       |      '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS ${p}hier,
       |    substr(${p}pre, length(${p}hier) + 1) AS ${p}path0,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(${p}path0,
       |      '/\\./', '/', 'g'), '/\\./', '/', 'g'), '/\\./', '/', 'g'),
       |      '/\\.$$', '/') AS ${p}nodot,
       |    regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(${p}nodot,
       |      '^/\\.\\./', '/'), '/[^/]+/\\.\\./', '/', 'g'), '/[^/]+/\\.\\.$$', '/'),
       |      '^/\\.\\./', '/'), '/[^/]+/\\.\\./', '/', 'g'), '/[^/]+/\\.\\.$$', '/'),
       |      '^/\\.\\./', '/'), '/[^/]+/\\.\\./', '/', 'g'), '/[^/]+/\\.\\.$$', '/'),
       |      '^/\\.\\./', '/'), '/[^/]+/\\.\\./', '/', 'g'), '/[^/]+/\\.\\.$$', '/')
       |      AS ${p}noup,
       |    regexp_replace(${p}noup, '^/\\.\\.$$', '/') AS ${p}npath,
       |    CASE WHEN ${p}merged IS NULL THEN NULL
       |      WHEN ${p}hier = '' THEN ${p}merged
       |      ELSE ${p}hier || ${p}npath || ${p}post END AS ${p}url""".stripMargin

  private val sqlLinkItemsCtes: String =
    s"""rawpages AS (SELECT doc_id, $sqlSyntheticUrl AS page_url,
       |  $sqlLinkPage AS html FROM documents),
       |pb AS (
       |  SELECT doc_id, page_url, html,
       |    regexp_extract(html,
       |      '(?i)<base\\s(?:[^>]*\\s)?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s>"''][^\\s>]*)',
       |      1) AS bh0,
       |    CASE WHEN regexp_matches(bh0, '^["'']')
       |      THEN substr(bh0, 2, length(bh0) - 2) ELSE bh0 END AS bh
       |  FROM rawpages),
       |pe AS (
       |  SELECT doc_id, page_url, html,
       |    ${sqlResolveCols("b_", "page_url", "bh")}
       |  FROM pb),
       |pages AS (
       |  SELECT doc_id, coalesce(b_url, page_url) AS base_url, html
       |  FROM pe),
       |ex AS (
       |  SELECT doc_id, base_url, regexp_extract_all(html,
       |    '(?i)<a\\s(?:[^>]*\\s)?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s>"''][^\\s>]*)',
       |    1) AS qs
       |  FROM pages),
       |items AS (
       |  SELECT doc_id, base_url, CAST(i - 1 AS INT) AS pos,
       |    CASE WHEN regexp_matches(qs[i], '^["'']')
       |      THEN substr(qs[i], 2, length(qs[i]) - 2) ELSE qs[i] END AS href
       |  FROM ex, unnest(generate_series(1, len(qs))) AS g(i)),
       |res AS (
       |  SELECT doc_id, pos,
       |    ${sqlResolveCols("", "base_url", "href")}
       |  FROM items),
       |abslinks AS (
       |  SELECT doc_id, pos, url FROM res
       |  WHERE regexp_matches(lower(url), '^https?://'))""".stripMargin

  private def sqlFnvRaw(x: String): String =
    s"list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT), " +
      s"list_transform(range(1, length($x)+1), " +
      s"j -> CAST(unicode(substr($x, j, 1)) AS HUGEINT))), " +
      s"(acc, ch) -> (xor(acc, ch) * CAST('1099511628211' AS HUGEINT)) % $sqlMod)"

  /** CTE chain replaying `iters` rounds of full-batch logistic-
    * regression gradient descent (Classify.trainLogReg) over the
    * hashed unigram+bigram features: per round, the forward pass is
    * the SAME ordered IEEE weight fold as the q_classifier_score
    * oracle (so z replays bitwise), the residual is
    * `1/(1+exp(-z)) − y`, the gradient is the per-bucket residual sum
    * over feature OCCURRENCES, and the update `w − lr·g` matches the
    * driver arithmetic. Gradient sums are the one order-sensitive
    * step (double addition across docs); weights round at 6 with
    * ~1e-12 drift headroom. Caller appends the final SELECT over
    * `w{iters}`. */
  private def sqlTrainChain(iters: Int, lr: String): String = {
    val head =
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(doc_id % 2 AS DOUBLE) AS y,
         |         regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, y, flatten(list_transform(range(1, len(t)+1), i ->
         |    CASE WHEN i = 1 THEN [${sqlFnvBucket("t[i]")}]
         |    ELSE [${sqlFnvBucket("concat(t[i-1], ' ', t[i])")},
         |          ${sqlFnvBucket("t[i]")}] END)) AS fs
         |  FROM toks),
         |occ AS (SELECT doc_id, unnest(fs) AS b FROM feats),
         |w0 AS (SELECT b, CAST(0.0 AS DOUBLE) AS w FROM range(0, 1024) rw(b))"""
        .stripMargin
    val rounds = (1 to iters).map { k =>
      s"""wl$k AS (SELECT list(w ORDER BY b) AS ws FROM w${k - 1}),
         |z$k AS (
         |  SELECT f.doc_id, f.y,
         |    CASE WHEN len(f.fs) = 0 THEN 0.0
         |    ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(f.fs, x -> wl.ws[CAST(x AS INT) + 1])),
         |      (a, v) -> a + v) END AS z
         |  FROM feats f CROSS JOIN wl$k wl),
         |r$k AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) - y AS r FROM z$k),
         |g$k AS (
         |  -- DECIMAL sum = exact and order-insensitive, like the engine
         |  SELECT o.b, CAST(sum(CAST(r.r AS DECIMAL(38,18))) AS DOUBLE) AS g
         |  FROM occ o JOIN r$k r ON o.doc_id = r.doc_id GROUP BY o.b),
         |w$k AS (
         |  SELECT w.b, w.w - $lr * coalesce(g.g, 0.0) AS w
         |  FROM w${k - 1} w LEFT JOIN g$k g ON w.b = g.b)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** CTE chain replaying ONE global (ungrouped) HLL sketch estimate
    * over hash CTE `src` (must expose column `h` as HUGEINT): mix
    * chain → p=9 registers → exact power-of-two register sum → the
    * functions.Hll estimate arithmetic. Yields 1-row `e{tag}(est)`. */
  private def sqlHllGlobal(tag: String, src: String): String =
    s"""g0$tag AS (SELECT 1 AS k, (h + $sqlGolden) % $sqlMod AS z0$tag FROM $src),
       |${sqlMixChain(tag, "k")},
       |reg$tag AS (
       |  SELECT CAST(z4 // 36028797018963968 AS BIGINT) AS b,
       |         max(CASE WHEN z4 % 4294967296 = 0 THEN 33
       |                  ELSE 33 - length(bin(CAST(z4 % 4294967296 AS BIGINT)))
       |             END) AS rho
       |  FROM g5$tag GROUP BY 1),
       |agg$tag AS (
       |  SELECT coalesce(sum(pow(2.0, -rho)), 0.0) AS sp, count(*) AS nb
       |  FROM reg$tag),
       |e0$tag AS (
       |  SELECT (0.7213 / (1 + 1.079 / 512)) * 262144.0 / (sp + (512 - nb))
       |           AS raw,
       |         512 - nb AS zeros
       |  FROM agg$tag),
       |e$tag AS (
       |  SELECT CASE WHEN raw <= 1280.0 AND zeros > 0
       |              THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
       |              ELSE raw END AS est
       |  FROM e0$tag)""".stripMargin

  /** CTE chain replaying `numMerges` rounds of greedy BPE merge
    * learning (operators.Bpe) in DuckDB: `words` (corpus word counts,
    * printable-ASCII vocabulary) → `w0` (per-char symbol arrays) →
    * per round k: pair counts `p{k}`, argmax `b{k}` (count desc, then
    * lexicographically smallest pair — DuckDB binary collation ==
    * Spark UTF8String order), and the merge applied via the RUN-PARITY
    * window form `w{k}`: for lhs != rhs adjacent matches can't
    * overlap, so every match merges; for lhs == rhs a run of equal
    * symbols merges at even run offsets only — exactly greedy
    * left-to-right (BpeOps.mergePass). Caller appends the final
    * SELECT over `b1..bK` (merge table) or `w{K}` (encoded vocab). */
  private def sqlBpeChain(numMerges: Int, byteLevel: Boolean = false): String = {
    val head = if (byteLevel)
      // byte-level contract: the planted-CJK/accents corpus, NO ascii
      // filter, and one symbol per UTF-8 BYTE as its 2-hex-digit
      // string (hex() is uppercase in both engines; hex-pair order is
      // monotone in byte value, so the tie-break replays)
      s"""WITH bsrc AS (
         |  SELECT text || ' $bpeNonAsciiSuffix' AS text FROM documents),
         |words AS (
         |  SELECT w, count(*) AS cnt FROM (
         |    SELECT unnest(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')) AS w
         |    FROM bsrc) u
         |  GROUP BY w),
         |w0 AS (
         |  SELECT w, cnt, list_transform(generate_series(1, length(hex(encode(w)))//2),
         |    i -> substr(hex(encode(w)), CAST(2*i-1 AS INT), 2)) AS s
         |  FROM words)""".stripMargin
    else
      """WITH words AS (
        |  SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS w
        |    FROM documents) u
        |  WHERE regexp_matches(w, '^[!-~]+$')
        |  GROUP BY w),
        |w0 AS (
        |  SELECT w, cnt, list_transform(generate_series(1, length(w)),
        |    i -> substr(w, CAST(i AS INT), 1)) AS s
        |  FROM words)""".stripMargin
    val rounds = (1 to numMerges).map { k =>
      s"""p$k AS (
         |  SELECT s[i] AS lhs, s[i+1] AS rhs, sum(cnt) AS c
         |  FROM w${k - 1}, unnest(generate_series(1, len(s)-1)) u(i)
         |  WHERE len(s) >= 2 GROUP BY 1, 2),
         |b$k AS (SELECT lhs, rhs, c FROM p$k ORDER BY c DESC, lhs, rhs LIMIT 1),
         |""".stripMargin + sqlBpeApplyRound(k)
    }
    (head +: rounds).mkString(",\n")
  }

  /** One greedy left-to-right merge-application round shared by
    * [[sqlBpeChain]] (per-round argmax pair in b$k) and
    * [[sqlBpeApplyFixedChain]] (externally-given pair in b$k):
    * rewrites w{k-1} -> w$k under the pair bound to b$k. */
  private def sqlBpeApplyRound(k: Int): String =
      s"""e$k AS (SELECT w, cnt, i, s[i] AS sym
         |        FROM w${k - 1}, unnest(generate_series(1, len(s))) u(i)),
         |m$k AS (
         |  -- LEFT JOIN ON true, not CROSS: when the corpus exhausts
         |  -- before round $k (b$k empty) the vocabulary must pass
         |  -- through unchanged (mt NULL -> no merges), matching the
         |  -- engine's early stop — a cross join would annihilate it
         |  SELECT e.w, e.cnt, e.i, e.sym, b.lhs, b.rhs,
         |    (e.sym = b.lhs AND
         |     lead(e.sym) OVER (PARTITION BY e.w ORDER BY e.i) = b.rhs) AS mt
         |  FROM e$k e LEFT JOIN b$k b ON true),
         |r$k AS (
         |  SELECT *, coalesce(max(CASE WHEN sym <> lhs THEN i END)
         |    OVER (PARTITION BY w ORDER BY i
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS rs
         |  FROM m$k),
         |s$k AS (
         |  SELECT *, CASE WHEN NOT coalesce(mt, false) THEN false
         |                 WHEN lhs <> rhs THEN true
         |                 ELSE (i - rs) % 2 = 0 END AS strt
         |  FROM r$k),
         |f$k AS (
         |  SELECT *, coalesce(lag(strt) OVER (PARTITION BY w ORDER BY i),
         |                     false) AS cons
         |  FROM s$k),
         |w$k AS (
         |  SELECT w, any_value(cnt) AS cnt,
         |    list(CASE WHEN strt THEN lhs || rhs ELSE sym END ORDER BY i)
         |      FILTER (NOT cons) AS s
         |  FROM f$k GROUP BY w)""".stripMargin

  /** Byte-level encode under an EXTERNAL (fixed) merge chain: the same
    * bsrc/words/w0 head as the byte-level [[sqlBpeChain]], then one
    * application round per given (lhs, rhs) hex pair — no argmax, the
    * chain is the published tokenizer artifact. Replays
    * [[graft.operators.Bpe.applyMerges]] over [[graft.operators.Bpe.byteSymbols]]. */
  private def sqlBpeApplyFixedChain(
      pairs: Seq[(String, String)],
      tokenizeSql: String =
        "regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')"): String = {
    val head =
      s"""WITH bsrc AS (
         |  SELECT text || ' $bpeNonAsciiSuffix' AS text FROM documents),
         |words AS (
         |  SELECT w, count(*) AS cnt FROM (
         |    SELECT unnest($tokenizeSql) AS w
         |    FROM bsrc) u
         |  GROUP BY w),
         |w0 AS (
         |  SELECT w, cnt, list_transform(generate_series(1, length(hex(encode(w)))//2),
         |    i -> substr(hex(encode(w)), CAST(2*i-1 AS INT), 2)) AS s
         |  FROM words)""".stripMargin
    val rounds = pairs.zipWithIndex.map { case ((l, r), i0) =>
      val k = i0 + 1
      s"b$k AS (SELECT '$l' AS lhs, '$r' AS rhs),\n" + sqlBpeApplyRound(k)
    }
    (head +: rounds).mkString(",\n")
  }

  /** CTE chain applying the splitmix64 finisher to column z0`tag` of
    * g0`tag` (the +golden step must already be folded into z0), keyed
    * by `keys`; yields z4 in g5`tag`. */
  private def sqlMixChain(tag: String, keys: String): String =
    s"""g1$tag AS (SELECT $keys, xor(z0$tag, z0$tag // CAST('1073741824' AS HUGEINT)) AS t1 FROM g0$tag),
       |g2$tag AS (SELECT $keys, ${sqlSplitMul("t1", "CAST('13787848793156543929' AS HUGEINT)")} AS z2 FROM g1$tag),
       |g3$tag AS (SELECT $keys, xor(z2, z2 // CAST('134217728' AS HUGEINT)) AS t2 FROM g2$tag),
       |g4$tag AS (SELECT $keys, ${sqlSplitMul("t2", "CAST('10723151780598845931' AS HUGEINT)")} AS z3 FROM g3$tag),
       |g5$tag AS (SELECT $keys, xor(z3, z3 // CAST('2147483648' AS HUGEINT)) AS z4 FROM g4$tag)""".stripMargin
  /** `planes(t, b, pl)` CTE: the deterministic Gaussian hyperplane
    * matrices of [[graft.operators.Similarity]] (seed+t per table,
    * component i=b*dim+d from uniforms mix64(seed+2i*G),
    * mix64(seed+(2i+1)*G)). */
  private def sqlPlanesCte(tables: Int, bits: Int, dim: Int, seed: Int): String =
    s"""g0p AS (
       |  SELECT t, b, d, w,
       |    (CAST($seed + t AS HUGEINT) + (2*(b*$dim+d) + w + 1) * $sqlGolden) % $sqlMod AS z0p
       |  FROM range(0,$tables) rt(t), range(0,$bits) rb(b), range(0,$dim) rd(d), range(0,2) rw(w)),
       |${sqlMixChain("p", "t, b, d, w")},
       |up AS (SELECT t, b, d, w,
       |  (CAST(z4 // CAST(2048 AS HUGEINT) AS DOUBLE) + 0.5) / 9007199254740992.0 AS u FROM g5p),
       |gauss AS (
       |  SELECT t, b, d,
       |    sqrt(-2 * ln(max(CASE WHEN w=0 THEN u END))) *
       |      cos(2 * pi() * max(CASE WHEN w=1 THEN u END)) AS wt
       |  FROM up GROUP BY t, b, d),
       |planes AS (SELECT t, b, list(wt ORDER BY d) AS pl FROM gauss GROUP BY t, b)""".stripMargin

  /** Plane grid with DATA-DERIVED depth: requires a 1-row `bc(bits)`
    * CTE in scope (the corpus-size → ceil(log2(n/target)) computation),
    * enumerates a generous fixed maximum depth and filters to
    * b < bc.bits. The per-plane hash input `2*(b*dim+d)+w+1` does not
    * depend on the TOTAL number of planes, so the filtered grid yields
    * byte-identical planes to [[sqlPlanesCte]] at the same depth — this
    * is how the oracle replays [[graft.operators.Similarity.cosineNearDupPairsAuto]]
    * at whatever n the harness scale factor produces. */
  private def sqlPlanesCteDyn(tables: Int, maxBits: Int, dim: Int, seed: Int): String =
    s"""g0p AS (
       |  SELECT t, b, d, w,
       |    (CAST($seed + t AS HUGEINT) + (2*(b*$dim+d) + w + 1) * $sqlGolden) % $sqlMod AS z0p
       |  FROM range(0,$tables) rt(t), range(0,$maxBits) rb(b), range(0,$dim) rd(d), range(0,2) rw(w), bc
       |  WHERE b < bc.bits),
       |${sqlMixChain("p", "t, b, d, w")},
       |up AS (SELECT t, b, d, w,
       |  (CAST(z4 // CAST(2048 AS HUGEINT) AS DOUBLE) + 0.5) / 9007199254740992.0 AS u FROM g5p),
       |gauss AS (
       |  SELECT t, b, d,
       |    sqrt(-2 * ln(max(CASE WHEN w=0 THEN u END))) *
       |      cos(2 * pi() * max(CASE WHEN w=1 THEN u END)) AS wt
       |  FROM up GROUP BY t, b, d),
       |planes AS (SELECT t, b, list(wt ORDER BY d) AS pl FROM gauss GROUP BY t, b)""".stripMargin

  /** The full LSH top-k oracle at a given (tables, bits) layout —
    * parameterized so a second configuration replays the identical SQL
    * with only the plane grid changed. */
  private def sqlAnnLsh(tables: Int, bits: Int): String =
    s"""WITH ${sqlPlanesCte(tables, bits, 64, 42)},
       |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sigs AS (
       |  SELECT e.vec_id, p.t,
       |    sum(CASE WHEN list_inner_product(e.v, p.pl) > 0 THEN 1 << p.b ELSE 0 END) AS bucket
       |  FROM ev e, planes p GROUP BY e.vec_id, p.t),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
       |  FROM sigs c JOIN sigs q ON c.t = q.t AND c.bucket = q.bucket
       |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
       |    list_cosine_similarity(cv.v, qv.v) AS sim
       |  FROM cand cd JOIN ev cv ON cd.vec_id = cv.vec_id
       |  JOIN ev qv ON cd.query_id = qv.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 6) AS sim
       |FROM ranked WHERE rank <= 3""".stripMargin

  /** The full IVF top-k oracle at a given probe budget — parameterized
    * so a second nprobe replays the identical centroid chain. */
  private def sqlAnnIvf(nprobe: Int): String =
    s"""WITH $sqlIvfCentroidsCte,
       |pr AS (
       |  SELECT e.vec_id AS query_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
       |  FROM ev e CROSS JOIN c1 c WHERE e.vec_id < 5),
       |probes AS (SELECT query_id, cell FROM pr WHERE rn <= $nprobe),
       |a1 AS (
       |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
       |  FROM ev e CROSS JOIN c1 c),
       |idx AS (SELECT vec_id, cell FROM a1 WHERE rn = 1),
       |cand AS (
       |  SELECT p.query_id, i.vec_id
       |  FROM probes p JOIN idx i ON p.cell = i.cell
       |  WHERE i.vec_id <> p.query_id),
       |scored AS (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
       |    list_cosine_similarity(cv.v, qv.v) AS sim
       |  FROM cand cd JOIN ev cv ON cd.vec_id = cv.vec_id
       |  JOIN ev qv ON cd.query_id = qv.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 6) AS sim
       |FROM ranked WHERE rank <= 3""".stripMargin

  /** Shared IVF-centroid replay CTEs (`ev` … `c1`): mix64-ordered
    * deterministic sample → normalize → one Lloyd iteration
    * (argmax-dot assign, per-dim avg, unchanged cells keep init) →
    * renormalize. Used by the `q_ann_ivf` and `q_diverse_sample`
    * oracles, which continue from `ev` and `c1`. */
  private def sqlIvfCentroidsCte: String =
    s"""ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$sqlCentroidsBody""".stripMargin

  /** The quantizer replay AFTER the corpus CTE: expects an `ev`
    * (vec_id, v DOUBLE[]) CTE already defined (plain embeddings above;
    * the perturbed union for `q_semdedup`), yields centroids in `c1`.
    * Factored so oracles over DIFFERENT corpora replay the identical
    * mix64-sample → normalize → one-Lloyd-iteration chain. */
  /** Shared kNN replay over the perturbed-union corpus: base/pert/ev,
    * auto nlist from count(*) (`prm`), quantizer chain, assignment
    * (`idx`), nprobe probes, candidate join, cosine scoring, and the
    * per-src rank window (`ranked`). `q_semantic_clusters` continues
    * with the tau cut + reachability fixpoint; `q_knn_density` with
    * the density aggregate + per-cell fraction cut. */
  private def sqlPerturbedKnnChain: String =
    s"""base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pert AS (
       |  SELECT vec_id + 100000 AS vec_id,
       |    list(v[d+1] + sin(CAST(d AS DOUBLE) + CAST(vec_id AS DOUBLE)) * 0.01 ORDER BY d) AS v
       |  FROM base, range(0,64) r(d) GROUP BY vec_id),
       |ev AS (SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM pert),
       |prm AS (SELECT greatest(1, CAST(ceil(count(*) / 64.0) AS INT)) AS nl,
       |               least(4, greatest(1, CAST(ceil(count(*) / 64.0) AS INT))) AS np
       |        FROM ev),
       |${sqlCentroidsBodyWith("(SELECT nl FROM prm)")},
       |a1 AS (
       |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
       |  FROM ev e CROSS JOIN c1 c),
       |idx AS (SELECT vec_id, cell FROM a1 WHERE rn = 1),
       |probes AS (SELECT vec_id AS src_id, cell FROM a1
       |           WHERE rn <= (SELECT np FROM prm)),
       |cand AS (
       |  SELECT p.src_id, i.vec_id
       |  FROM probes p JOIN idx i ON p.cell = i.cell
       |  WHERE i.vec_id <> p.src_id),
       |scored AS (
       |  SELECT cd.src_id, cd.vec_id AS neighbor_id,
       |    list_cosine_similarity(cv.v, qv.v) AS sim
       |  FROM cand cd JOIN ev cv ON cd.vec_id = cv.vec_id
       |  JOIN ev qv ON cd.src_id = qv.vec_id),
       |ranked AS (
       |  SELECT src_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)""".stripMargin

  private def sqlCentroidsBody: String = sqlCentroidsBodyWith("16")

  /** [[sqlCentroidsBody]] with the init-sample cutoff (= nlist) as a
    * SQL snippet, so auto-sized oracles can derive it from count(*)
    * in a `prm` CTE — `sqlCentroidsBodyWith("(SELECT nl FROM prm)")`. */
  private def sqlCentroidsBodyWith(nlistSql: String): String =
    s"""g0m AS (SELECT vec_id, (CAST(vec_id AS HUGEINT) + $sqlGolden) % $sqlMod AS z0m FROM ev),
       |${sqlMixChain("m", "vec_id")},
       |hv AS (SELECT vec_id, CAST(z4 - CASE WHEN z4 >= CAST('9223372036854775808' AS HUGEINT)
       |    THEN $sqlMod ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS h FROM g5m),
       |ordered AS (
       |  SELECT e.vec_id, e.v, row_number() OVER (ORDER BY h.h, e.vec_id) - 1 AS cell
       |  FROM ev e JOIN hv h ON e.vec_id = h.vec_id),
       |init AS (SELECT cell, v FROM ordered WHERE cell < $nlistSql),
       |c0n AS (SELECT cell, v, sqrt(list_inner_product(v, v)) AS n FROM init),
       |c0 AS (SELECT cell, CASE WHEN n = 0 THEN v ELSE list_transform(v, x -> x / n) END AS cv FROM c0n),
       |a0 AS (
       |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
       |  FROM ev e CROSS JOIN c0 c),
       |asg0 AS (SELECT vec_id, cell FROM a0 WHERE rn = 1),
       |mean0 AS (
       |  SELECT a.cell, r.d, avg(e.v[r.d+1]) AS m
       |  FROM asg0 a JOIN ev e USING (vec_id), range(0,64) r(d)
       |  GROUP BY a.cell, r.d),
       |c1pre AS (
       |  SELECT c.cell, list(coalesce(m.m, c.cv[r.d+1]) ORDER BY r.d) AS v
       |  FROM c0 c CROSS JOIN range(0,64) r(d)
       |  LEFT JOIN mean0 m ON m.cell = c.cell AND m.d = r.d
       |  GROUP BY c.cell),
       |c1n AS (SELECT cell, v, sqrt(list_inner_product(v, v)) AS n FROM c1pre),
       |c1 AS (SELECT cell, CASE WHEN n = 0 THEN v ELSE list_transform(v, x -> x / n) END AS cv FROM c1n)""".stripMargin

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "q_users_projection" ->
      """SELECT lower(c_name) AS username, c_name AS name,
        |       concat(replace(lower(c_name), '#', '_'), '@example.org') AS email
        |FROM customer WHERE c_mktsegment <> 'BUILDING'""".stripMargin,

    "q_ghusers_projection" ->
      """SELECT c_custkey AS user_id,
        |       c_custkey + 1000000 AS github_id,
        |       lower(c_name) AS login,
        |       c_mktsegment AS bio,
        |       'n/a' AS company,
        |       concat(lower(c_name), '@example.org') AS email,
        |       c_acctbal > 0 AS hireable,
        |       CAST(c_nationkey AS INT) AS location_id,
        |       concat('https://avatars.example/u/', c_custkey) AS avatar_url,
        |       concat('https://github.example/', lower(c_name)) AS html_url,
        |       CAST(c_custkey % 5000 AS BIGINT) AS followers_count,
        |       CAST(c_custkey % 500 AS BIGINT) AS following_count,
        |       DATE '2014-01-01' + CAST(c_custkey % 365 AS INT) AS created_at,
        |       CASE WHEN c_custkey % 7 = 0
        |            THEN DATE '2014-01-01' + CAST(c_custkey % 365 AS INT)
        |            ELSE DATE '2015-01-01' + CAST(c_custkey % 365 AS INT) END AS updated_at
        |FROM customer WHERE c_mktsegment <> 'BUILDING'""".stripMargin,

    "q_entity_dispatch" ->
      """SELECT c_custkey, CASE WHEN c_mktsegment = 'BUILDING' THEN 'Organization'
        |       ELSE 'User' END AS entity_type FROM customer""".stripMargin,

    "q_ghorgs_projection" ->
      """SELECT lower(c_name) AS login,
        |       c_custkey + 2000000 AS github_id,
        |       concat('https://avatars.example/o/', c_custkey) AS avatar_url,
        |       concat('https://github.example/o/', lower(c_name)) AS html_url,
        |       c_name AS name, 'n/a' AS company,
        |       CAST(c_nationkey AS INT) AS location_id,
        |       concat(lower(c_name), '@example.org') AS email,
        |       DATE '2014-01-01' + CAST(c_custkey % 365 AS INT) AS created_at,
        |       DATE '2014-01-01' + CAST(c_custkey % 365 AS INT) AS updated_at
        |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,

    "q_clone_path" ->
      """SELECT p_partkey, lower(concat_ws('/',
        |  coalesce(nullif(p_type, ''), 'unknown'),
        |  coalesce(nullif(p_brand, ''), 'john_doe'),
        |  coalesce(nullif(p_name, ''), '42'))) AS clone_path FROM part""".stripMargin,

    "q_clean_strings" ->
      """SELECT event_id, replace(concat(props, chr(0)), chr(0), '') AS props_clean
        |FROM events""".stripMargin,

    "q_empty_to_null" ->
      """SELECT event_id, nullif(props, '') AS props_n,
        |       nullif('', '') AS always_null FROM events""".stripMargin,

    "q_date_coalesce" ->
      """SELECT o_orderkey, coalesce(
        |  CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE CAST(o_orderdate AS DATE) END,
        |  CAST(o_orderdate AS DATE) - 30) AS updated_at FROM orders""".stripMargin,

    "q_latest_wins" -> latestWinsSql,

    "q_anti_join_new" ->
      s"""WITH latest AS ($latestWinsSql),
         |existing AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
         |SELECT l.o_orderkey, l.o_custkey, l.o_date, l.o_totalprice
         |FROM latest l LEFT JOIN existing e ON l.o_orderkey = e.o_orderkey
         |WHERE e.o_orderkey IS NULL AND l.o_totalprice > 0""".stripMargin,

    "q_surrogate_ids" ->
      """SELECT clone_path, CAST(dense_rank() OVER (ORDER BY clone_path) AS BIGINT) AS repo_id
        |FROM (SELECT DISTINCT lower(concat_ws('/',
        |  coalesce(nullif(p_type, ''), 'unknown'),
        |  coalesce(nullif(p_brand, ''), 'john_doe'),
        |  coalesce(nullif(p_name, ''), '42'))) AS clone_path FROM part) t""".stripMargin,

    "q_resolve_members" ->
      """SELECT o_orderkey, c_name AS login, n_name AS nation
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey""".stripMargin,

    "q_resolve_collabo" ->
      """SELECT l_orderkey, l_linenumber, s_name, p_name,
        |       concat(s_name, '/', p_name) AS full_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN part ON l_partkey = p_partkey""".stripMargin,

    "q_idempotent_upsert" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey FROM customer i
        |WHERE NOT EXISTS (SELECT 1 FROM customer e
        |  WHERE e.c_custkey % 2 = 0 AND e.c_custkey = i.c_custkey)""".stripMargin,

    "q_dup_line_frac" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, array_to_string(t[(i*20+1):(i*20+20)], ' ') AS line
        |  FROM toks, unnest(generate_series(0, (len(t)-1)//20)) AS u(i)),
        |alllines AS (
        |  SELECT doc_id, line FROM chunks
        |  UNION ALL SELECT doc_id, 'shared boilerplate header' FROM toks
        |  UNION ALL SELECT doc_id, array_to_string(t[1:20], ' ') FROM toks),
        |counts AS (
        |  SELECT doc_id, line, count(*) AS c, len(line) AS l
        |  FROM alllines GROUP BY doc_id, line)
        |SELECT doc_id,
        |  round(CAST(sum(CASE WHEN c > 1 THEN l*c ELSE 0 END) AS DOUBLE) /
        |        CAST(sum(l*c) AS DOUBLE), 6) AS dup_line_char_frac
        |FROM counts GROUP BY doc_id""".stripMargin,

    "q_substring_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+$', '') FROM documents),
        |toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM corpus),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS s
        |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |keyed AS (
        |  SELECT doc_id, pos, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s)+1),
        |        i -> CAST(unicode(substr(s, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS k
        |  FROM wins),
        |marked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn,
        |         count(*) OVER (PARTITION BY k) AS n
        |  FROM keyed),
        |covered AS (
        |  SELECT DISTINCT doc_id, g.tp
        |  FROM marked, unnest(generate_series(pos, pos + 7)) AS g(tp)
        |  WHERE n > 1 AND rn > 1),
        |tokpos AS (
        |  SELECT doc_id, i - 1 AS tp, t[i] AS tok
        |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
        |kept AS (
        |  SELECT k.doc_id, k.tp, k.tok FROM tokpos k
        |  LEFT JOIN covered c ON k.doc_id = c.doc_id AND k.tp = c.tp
        |  WHERE c.doc_id IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, coalesce(r.text, '') AS text
        |FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id""".stripMargin,

    "q_commits_ingest" ->
      """SELECT 'sha' || o_orderkey AS sha,
        |  o_orderkey % 100 AS author_github_id,
        |  'clerk' || o_custkey AS author_login,
        |  'v1 commit ' || o_orderkey AS message,
        |  o_orderkey % 10 AS comment_count,
        |  CAST(o_orderdate AS DATE) AS authored_day,
        |  CASE CAST(o_orderkey % 3 AS INTEGER)
        |    WHEN 0 THEN ''
        |    WHEN 1 THEN 'sha' || (o_orderkey - 1)
        |    ELSE 'sha' || (o_orderkey - 1) || ',sha' || (o_orderkey - 2)
        |  END AS parent_shas
        |FROM orders""".stripMargin,

    "q_dump_source" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer",

    "q_dump_source_bson" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer",

    // the WARC round-trip restores the projection; content_length is
    // the payload's UTF-8 BYTE length (DuckDB strlen counts bytes)
    "q_warc_ingest" ->
      """SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS content_length
        |FROM documents""".stripMargin,

    // same projection restored through the member-per-record gzip
    // round-trip (the Spark side additionally pays compress + inflate
    // + CRC verification per record)
    "q_warc_gz" ->
      """SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS content_length
        |FROM documents""".stripMargin,

    // the HTTP split inside the WARC round-trip: expected fields are a
    // pure function of doc_id % 9 (the syntheticHttpPayload shape);
    // body_len counts BYTES (strlen) for the utf-8 bodies and CHARS
    // (length) for the latin-1 body — latin-1 is one byte per char;
    // the WET column replays the q_html_extract chain on the r=0 page
    // residues 4/5 pin the WHATWG meta-charset PRESCAN: no header
    // charset, the in-body declaration decides the decode; their
    // body_text/wet_text expectations are hand-written literals (an
    // independent expectation, not a chain replay), and body_len
    // prices the single-byte latin-1/cp1252 encodings against the
    // multi-byte UTF-8 strlen. Residues 6/7 pin the JVM-charset
    // kernel: a header-declared shift_jis page and a meta-SNIFFED
    // gb2312 page whose CJK bodies are hand-written utf-8 literals;
    // their body_len recovers the 2-byte-per-CJK-char encoded size
    // from the utf-8 literal (each CJK char is 3 utf-8 bytes but 1
    // char, so encoded = strlen - (strlen-length)/2). Residue 8 pins
    // the fallback: an unknown x-bogus label decodes as utf-8
    "q_warc_http" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 9 AS r,
        |    '<html><body><p>' || text || '</p></body></html>' AS html,
        |    'café résumé doc ' || doc_id AS lat,
        |    'not found: ' || doc_id AS nf,
        |    '<html><head><meta charset="iso-8859-1"></head><body><p>café doc '
        |      || doc_id || '</p></body></html>' AS sniffed_lat,
        |    '<html><head><meta http-equiv="Content-Type" content="text/html; charset=windows-1252"></head><body><p>“quoted” doc '
        |      || doc_id || '</p></body></html>' AS sniffed_cp,
        |    '<html><body><p>こんにちは doc ' || doc_id
        |      || ' 日本語</p></body></html>' AS sj,
        |    '<html><head><meta charset="gb2312"></head><body><p>中文 doc '
        |      || doc_id || ' 测试</p></body></html>' AS gb,
        |    'fallback ✓ doc ' || doc_id AS fb
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN r = 2 THEN 404 ELSE 200 END AS INT) AS status_code,
        |  '1.1' AS http_version,
        |  CASE r WHEN 0 THEN 'text/html' WHEN 1 THEN 'text/plain'
        |         WHEN 2 THEN 'text/plain' WHEN 4 THEN 'text/html'
        |         WHEN 5 THEN 'text/html' WHEN 6 THEN 'text/html'
        |         WHEN 7 THEN 'text/html' WHEN 8 THEN 'text/plain'
        |  END AS content_type,
        |  CASE r WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
        |         WHEN 6 THEN 'shift_jis' WHEN 8 THEN 'x-bogus'
        |  END AS charset,
        |  CAST(CASE r WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 1 END AS INT) AS n_headers,
        |  CAST(CASE r WHEN 0 THEN strlen(html) WHEN 1 THEN length(lat)
        |              WHEN 2 THEN strlen(nf)
        |              WHEN 4 THEN strlen(sniffed_lat) - 1
        |              WHEN 5 THEN strlen(sniffed_cp) - 4
        |              WHEN 6 THEN strlen(sj) - (strlen(sj) - length(sj)) // 2
        |              WHEN 7 THEN strlen(gb) - (strlen(gb) - length(gb)) // 2
        |              WHEN 8 THEN strlen(fb)
        |              ELSE 8 END AS BIGINT) AS body_len,
        |  CASE r WHEN 0 THEN html WHEN 1 THEN lat WHEN 2 THEN nf
        |         WHEN 4 THEN sniffed_lat WHEN 5 THEN sniffed_cp
        |         WHEN 6 THEN sj WHEN 7 THEN gb WHEN 8 THEN fb
        |  END AS body_text,
        |  CASE WHEN r = 0 THEN
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |          '(?is)<script[^>]*>.*?</script>', '', 'g'),
        |          '(?is)<style[^>]*>.*?</style>', '', 'g'),
        |          '(?s)<!--.*?-->', '', 'g'),
        |          '(?s)<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '[ \t\n\x0b\f\r]+', ' ', 'g'))
        |  WHEN r = 4 THEN 'café doc ' || doc_id
        |  WHEN r = 5 THEN '“quoted” doc ' || doc_id
        |  WHEN r = 6 THEN 'こんにちは doc ' || doc_id || ' 日本語'
        |  WHEN r = 7 THEN '中文 doc ' || doc_id || ' 测试'
        |  END AS wet_text
        |FROM p""".stripMargin,

    // the WET round-trip restores the projection with the conversion
    // type and the utf-8 byte length (the q_warc_ingest caveat shape)
    "q_wet_export" ->
      """SELECT doc_id, 'conversion' AS warc_type, text,
        |  CAST(strlen(text) AS BIGINT) AS content_length
        |FROM documents""".stripMargin,

    // the tar round-trip restores the projection: two sample files per
    // customer regrouped by the WebDataset key rule — the oracle is
    // the plain source projection (the q_dump_source caveat shape: the
    // Spark side does the real ustar write + split-resync read)
    "q_tar_ingest" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer",

    // brute-force ANN is SQL-expressible: DuckDB's list_cosine_similarity
    // replays the same exact cosine; ranks are decided on the UNROUNDED
    // sim (engine float drift ~1e-15 is far below the sim gaps), then
    // sim is rounded for the value compare
    "q_ann_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
        |       round(sim, 6) AS sim
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // LSH ANN is exactly replayable now that the hyperplanes are
    // splitmix64-seeded Box-Muller (Similarity.hyperplanes): regenerate
    // the planes, signatures and buckets in SQL, then score candidates
    // with the same cosine as q_ann_topk. Ranks are decided on the
    // unrounded sim; sim is rounded for the value compare.
    "q_ann_lsh" -> sqlAnnLsh(tables = 8, bits = 4),

    // the SAME operator at a second table/bits configuration (fewer,
    // wider tables): pins that the recall knobs actually steer the
    // bucket layout, not just one replayed setting
    "q_ann_lsh2" -> sqlAnnLsh(tables = 4, bits = 6),

    // Same plane replay at bits=7; candidate pairs via per-(table,
    // bucket) grouping with the 2..maxBucket size gate, then exact
    // cosine >= 0.9 on the unrounded sim.
    "q_embed_neardup" ->
      s"""WITH ${sqlPlanesCte(8, 7, 64, 42)},
         |base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pert AS (
         |  SELECT vec_id + 100000 AS vec_id,
         |    list(v[d+1] + sin(CAST(d AS DOUBLE) + CAST(vec_id AS DOUBLE)) * 0.05 ORDER BY d) AS v
         |  FROM base, range(0,64) r(d) GROUP BY vec_id),
         |corpus AS (SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM pert),
         |sigs AS (
         |  SELECT e.vec_id, p.t,
         |    sum(CASE WHEN list_inner_product(e.v, p.pl) > 0 THEN 1 << p.b ELSE 0 END) AS bucket
         |  FROM corpus e, planes p GROUP BY e.vec_id, p.t),
         |bsz AS (SELECT t, bucket, count(*) AS c FROM sigs GROUP BY t, bucket),
         |okb AS (SELECT t, bucket FROM bsz WHERE c BETWEEN 2 AND 10000),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  JOIN okb o ON o.t = a.t AND o.bucket = a.bucket)
         |SELECT cd.id_a, cd.id_b, round(list_cosine_similarity(va.v, vb.v), 6) AS sim
         |FROM cand cd JOIN corpus va ON cd.id_a = va.vec_id
         |JOIN corpus vb ON cd.id_b = vb.vec_id
         |WHERE list_cosine_similarity(va.v, vb.v) >= 0.9""".stripMargin,

    // The scale-safe auto-depth form: the oracle COMPUTES the LSH depth
    // from the corpus size with the exact same arithmetic as
    // cosineNearDupPairsAuto (ceil of an ln ratio — ln, not a native
    // log2, so the IEEE value matches the JVM's bitwise), then replays
    // the plane grid at that depth via the bc-filtered dynamic CTE.
    // Everything downstream (signatures, bucket-size gate, candidate
    // distinct, exact cosine) is the q_embed_neardup chain verbatim.
    "q_embed_neardup_auto" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pert AS (
         |  SELECT vec_id + 100000 AS vec_id,
         |    list(v[d+1] + sin(CAST(d AS DOUBLE) + CAST(vec_id AS DOUBLE)) * 0.05 ORDER BY d) AS v
         |  FROM base, range(0,64) r(d) GROUP BY vec_id),
         |corpus AS (SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM pert),
         |bc AS (SELECT greatest(4, CAST(ceil(
         |    ln(greatest(1.0, count(*) / 32.0)) / ln(2.0)) AS INT)) AS bits
         |  FROM corpus),
         |${sqlPlanesCteDyn(8, 24, 64, 42)},
         |sigs AS (
         |  SELECT e.vec_id, p.t,
         |    sum(CASE WHEN list_inner_product(e.v, p.pl) > 0 THEN 1 << p.b ELSE 0 END) AS bucket
         |  FROM corpus e, planes p GROUP BY e.vec_id, p.t),
         |bsz AS (SELECT t, bucket, count(*) AS c FROM sigs GROUP BY t, bucket),
         |okb AS (SELECT t, bucket FROM bsz WHERE c BETWEEN 2 AND 10000),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  JOIN okb o ON o.t = a.t AND o.bucket = a.bucket)
         |SELECT cd.id_a, cd.id_b, round(list_cosine_similarity(va.v, vb.v), 6) AS sim
         |FROM cand cd JOIN corpus va ON cd.id_a = va.vec_id
         |JOIN corpus vb ON cd.id_b = vb.vec_id
         |WHERE list_cosine_similarity(va.v, vb.v) >= 0.9""".stripMargin,

    // semantic card: plain-embeddings auto-nlist quantizer replay,
    // assignment (argmax dot), per-cell count + exact micro-unit mean
    // cosine-to-centroid (long sum + floor(x+0.5) half-up) + min id
    "q_semantic_card" ->
      s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |prm AS (SELECT greatest(1, CAST(ceil(count(*) / 64.0) AS INT)) AS nl FROM ev),
         |${sqlCentroidsBodyWith("(SELECT nl FROM prm)")},
         |a1 AS (
         |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
         |  FROM ev e CROSS JOIN c1 c),
         |asg AS (
         |  SELECT a.vec_id, a.cell,
         |    CAST(round(round(list_cosine_similarity(e.v, c.cv), 6) * 1000000)
         |         AS BIGINT) AS micro
         |  FROM a1 a JOIN ev e ON a.vec_id = e.vec_id
         |  JOIN c1 c ON a.cell = c.cell
         |  WHERE a.rn = 1)
         |SELECT CAST(cell AS INT) AS cell, count(*) AS n_vecs,
         |  CAST(sum(micro) AS BIGINT) AS sim_micro_sum,
         |  CAST(floor(sum(micro) / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT)
         |    AS mean_centroid_sim_micro,
         |  min(vec_id) AS exemplar_id
         |FROM asg GROUP BY cell""".stripMargin,

    // kNN-density prune: the shared perturbed kNN replay, density =
    // half-up integer mean of the <=4 ranked neighbor sims in
    // micro-units, then the per-cell fraction cut — drop the
    // floor(0.25*cell) densest (density DESC NULLS LAST, id
    // tie-break); null-density (no-neighbor) rows are never
    // drop-eligible, so a cell is never emptied
    "q_knn_density" ->
      s"""WITH $sqlPerturbedKnnChain,
         |dens AS (
         |  SELECT src_id,
         |    CAST(floor(sum(CAST(round(round(sim, 6) * 1000000) AS BIGINT))
         |         / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS density_micro
         |  FROM ranked WHERE rank <= 4 GROUP BY src_id),
         |lab AS (
         |  SELECT i.vec_id, i.cell, d.density_micro
         |  FROM idx i LEFT JOIN dens d ON i.vec_id = d.src_id),
         |rk AS (
         |  SELECT vec_id, cell, density_micro,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY density_micro DESC NULLS LAST, vec_id) AS rn,
         |    count(*) OVER (PARTITION BY cell) AS cn
         |  FROM lab)
         |SELECT vec_id, CAST(cell AS INT) AS cell, density_micro
         |FROM rk WHERE density_micro IS NULL OR rn > floor(cn * 0.25)""".stripMargin,

    // semantic clusters: the perturbed-union corpus through the kNN
    // replay (probes over ALL vectors, k=4), edges cut at the ROUNDED
    // sim >= 0.9, symmetrized, then the same reachability fixpoint as
    // q_dedup_clusters — min reached id = component canonical
    "q_semantic_clusters" ->
      s"""WITH RECURSIVE $sqlPerturbedKnnChain,
         |topk AS (SELECT src_id, neighbor_id FROM ranked
         |         WHERE rank <= 4 AND round(sim, 6) >= 0.9),
         |edges AS (
         |  SELECT src_id AS x, neighbor_id AS y FROM topk
         |  UNION ALL SELECT neighbor_id, src_id FROM topk),
         |cc(id, comp) AS (
         |  SELECT vec_id, vec_id FROM ev
         |  UNION
         |  SELECT e.y, cc.comp FROM cc JOIN edges e ON cc.id = e.x)
         |SELECT id AS vec_id, min(comp) AS canonical_id FROM cc GROUP BY id""".stripMargin,

    // SemDedup: the q_embed_neardup perturbed-union corpus feeds the
    // shared quantizer-replay CTE chain (sqlCentroidsBody), vectors
    // assign to their argmax-dot cell, and the greedy retention is one
    // NOT EXISTS — kept iff no smaller-id same-cell vector has
    // cosine >= tau (both engines compare the unrounded IEEE value)
    "q_semdedup" ->
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pert AS (
         |  SELECT vec_id + 100000 AS vec_id,
         |    list(v[d+1] + sin(CAST(d AS DOUBLE) + CAST(vec_id AS DOUBLE)) * 0.01 ORDER BY d) AS v
         |  FROM base, range(0,64) r(d) GROUP BY vec_id),
         |ev AS (SELECT vec_id, v FROM base UNION ALL SELECT vec_id, v FROM pert),
         |$sqlCentroidsBody,
         |a1 AS (
         |  SELECT e.vec_id, c.cell, e.v, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
         |  FROM ev e CROSS JOIN c1 c),
         |asg AS (SELECT vec_id, cell, v FROM a1 WHERE rn = 1)
         |SELECT a.vec_id, a.cell FROM asg a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM asg b WHERE b.cell = a.cell AND b.vec_id < a.vec_id
         |    AND list_cosine_similarity(b.v, a.v) >= 0.95)""".stripMargin,

    // Full IVF replay: the shared centroid CTEs, then nprobe probe
    // cells per query, single-cell index assignment, exact cosine top-k.
    "q_ann_ivf" -> sqlAnnIvf(nprobe = 6),

    // corpus k-NN graph: the IVF replay with the probe side being the
    // WHOLE corpus (every vector probes its 4 nearest cells); cells
    // partition the corpus so (src, dst) candidates are already unique.
    // nlist is computed FROM count(*) (ceil(n/64), nprobe clamped) —
    // the oracle replays the auto sizing, not one pinned depth
    "q_knn_graph" ->
      s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |prm AS (SELECT greatest(1, CAST(ceil(count(*) / 64.0) AS INT)) AS nl,
         |               least(4, greatest(1, CAST(ceil(count(*) / 64.0) AS INT))) AS np
         |        FROM ev),
         |${sqlCentroidsBodyWith("(SELECT nl FROM prm)")},
         |a1 AS (
         |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
         |  FROM ev e CROSS JOIN c1 c),
         |idx AS (SELECT vec_id, cell FROM a1 WHERE rn = 1),
         |probes AS (SELECT vec_id AS src_id, cell FROM a1
         |           WHERE rn <= (SELECT np FROM prm)),
         |cand AS (
         |  SELECT p.src_id, i.vec_id
         |  FROM probes p JOIN idx i ON p.cell = i.cell
         |  WHERE i.vec_id <> p.src_id),
         |scored AS (
         |  SELECT cd.src_id, cd.vec_id AS neighbor_id,
         |    list_cosine_similarity(cv.v, qv.v) AS sim
         |  FROM cand cd JOIN ev cv ON cd.vec_id = cv.vec_id
         |  JOIN ev qv ON cd.src_id = qv.vec_id),
         |ranked AS (
         |  SELECT src_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT src_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 6) AS sim
         |FROM ranked WHERE rank <= 3""".stripMargin,

    // Margin-mining replay: X/Y corpus construction, shared-quantizer
    // chain on the union, both kNN directions (sides split by id
    // range), micro-unit edges after the rank cut, the exact
    // CAST/divide order of the mean and margin arithmetic, and the
    // max-strategy rank-1 cut. Cosine argument order mirrors the
    // Spark kernel calls (corpus vector first).
    "q_margin_mine" ->
      s"""WITH xs AS (
         |  SELECT vec_id AS xid, embedding::DOUBLE[] AS xv
         |  FROM embeddings WHERE vec_id % 2 = 0),
         |pertm AS (
         |  SELECT xid + 100000 AS yid,
         |    list(xv[d+1] + sin(CAST(d AS DOUBLE) + CAST(xid AS DOUBLE)) * 0.02 ORDER BY d) AS yv
         |  FROM xs, range(0,64) r(d) GROUP BY xid),
         |oddm AS (
         |  SELECT vec_id + 200000 AS yid, embedding::DOUBLE[] AS yv
         |  FROM embeddings WHERE vec_id % 2 = 1),
         |ys AS (SELECT yid, yv FROM pertm UNION ALL SELECT yid, yv FROM oddm),
         |ev AS (SELECT xid AS vec_id, xv AS v FROM xs
         |       UNION ALL SELECT yid, yv FROM ys),
         |prm AS (SELECT greatest(1, CAST(ceil(count(*) / 64.0) AS INT)) AS nl,
         |               least(4, greatest(1, CAST(ceil(count(*) / 64.0) AS INT))) AS np
         |        FROM ev),
         |${sqlCentroidsBodyWith("(SELECT nl FROM prm)")},
         |a1 AS (
         |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
         |  FROM ev e CROSS JOIN c1 c),
         |idx AS (SELECT vec_id, cell FROM a1 WHERE rn = 1),
         |probes AS (SELECT vec_id, cell FROM a1 WHERE rn <= (SELECT np FROM prm)),
         |fsc AS (
         |  SELECT p.vec_id AS xid, i.vec_id AS yid,
         |    list_cosine_similarity(ye.v, xe.v) AS sim
         |  FROM probes p JOIN idx i ON p.cell = i.cell
         |  JOIN ev xe ON p.vec_id = xe.vec_id
         |  JOIN ev ye ON i.vec_id = ye.vec_id
         |  WHERE p.vec_id < 100000 AND i.vec_id >= 100000),
         |fedge AS (
         |  SELECT xid, yid, CAST(round(sim * 1e6) AS BIGINT) AS sim_micro
         |  FROM (SELECT xid, yid, sim, row_number() OVER (PARTITION BY xid
         |          ORDER BY sim DESC, yid) AS rank FROM fsc)
         |  WHERE rank <= 4),
         |bsc AS (
         |  SELECT p.vec_id AS yid, i.vec_id AS xid,
         |    list_cosine_similarity(xe.v, ye.v) AS sim
         |  FROM probes p JOIN idx i ON p.cell = i.cell
         |  JOIN ev ye ON p.vec_id = ye.vec_id
         |  JOIN ev xe ON i.vec_id = xe.vec_id
         |  WHERE p.vec_id >= 100000 AND i.vec_id < 100000),
         |bedge AS (
         |  SELECT yid, xid, CAST(round(sim * 1e6) AS BIGINT) AS sim_micro
         |  FROM (SELECT yid, xid, sim, row_number() OVER (PARTITION BY yid
         |          ORDER BY sim DESC, xid) AS rank FROM bsc)
         |  WHERE rank <= 4),
         |favg AS (SELECT xid,
         |    CAST(sum(sim_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_f
         |  FROM fedge GROUP BY xid),
         |bavg AS (SELECT yid,
         |    CAST(sum(sim_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_b
         |  FROM bedge GROUP BY yid),
         |candm AS (
         |  SELECT f.xid, f.yid, f.sim_micro,
         |    CAST(f.sim_micro AS DOUBLE) / ((fa.avg_f + ba.avg_b) * 0.5) AS margin
         |  FROM fedge f JOIN favg fa USING (xid) JOIN bavg ba USING (yid)),
         |best AS (
         |  SELECT xid, yid, sim_micro, margin,
         |    row_number() OVER (PARTITION BY xid ORDER BY margin DESC, yid) AS rk
         |  FROM candm)
         |SELECT xid AS x_id, yid AS y_id, sim_micro, round(margin, 6) AS margin
         |FROM best WHERE rk = 1 AND margin >= 1.5""".stripMargin,

    // a tighter probe budget over the SAME index: pins that nprobe
    // actually narrows the candidate set (recall knob behavior)
    "q_ann_ivf2" -> sqlAnnIvf(nprobe = 2),

    // same centroid replay; then each vector's own-cell cosine, ranked
    // within the cell, top 8 kept
    "q_diverse_sample" ->
      s"""WITH $sqlIvfCentroidsCte,
         |a1 AS (
         |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
         |  FROM ev e CROSS JOIN c1 c),
         |idx AS (SELECT vec_id, cell FROM a1 WHERE rn = 1),
         |scored AS (
         |  SELECT i.vec_id, i.cell, list_cosine_similarity(e.v, c.cv) AS sim
         |  FROM idx i JOIN ev e ON i.vec_id = e.vec_id
         |  JOIN c1 c ON i.cell = c.cell),
         |ranked AS (
         |  SELECT vec_id, cell, sim,
         |    row_number() OVER (PARTITION BY cell ORDER BY sim DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT vec_id, CAST(cell AS INT) AS cell, CAST(rank AS INT) AS rank,
         |       round(sim, 6) AS sim
         |FROM ranked WHERE rank <= 8""".stripMargin,

    // same centroid replay as q_diverse_sample; own-cell cosine kept
    // when it falls BELOW tau (both engines filter on the unrounded
    // IEEE value) — the outliers the diversity sampler's top-k drops
    "q_embed_outliers" ->
      s"""WITH $sqlIvfCentroidsCte,
         |a1 AS (
         |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
         |  FROM ev e CROSS JOIN c1 c),
         |idx AS (SELECT vec_id, cell FROM a1 WHERE rn = 1),
         |scored AS (
         |  SELECT i.vec_id, i.cell, list_cosine_similarity(e.v, c.cv) AS sim
         |  FROM idx i JOIN ev e ON i.vec_id = e.vec_id
         |  JOIN c1 c ON i.cell = c.cell)
         |SELECT vec_id, CAST(cell AS INT) AS cell, round(sim, 6) AS sim
         |FROM scored WHERE sim < 0.30""".stripMargin,

    // normalized Levenshtein over consecutive-id pairs: single-op
    // IEEE arithmetic (int/int division, one subtraction) so the
    // unrounded threshold comparison replays bitwise; both engines'
    // levenshtein is the standard unit-cost DP on characters
    "q_edit_verify" ->
      """WITH pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE length(a.text) > 0 AND length(b.text) > 0),
        |sim AS (
        |  SELECT id_a, id_b,
        |    1.0 - CAST(levenshtein(ta, tb) AS DOUBLE) /
        |      CAST(greatest(length(ta), length(tb)) AS DOUBLE) AS edit_sim
        |  FROM pairs)
        |SELECT id_a, id_b, round(edit_sim, 6) AS edit_sim
        |FROM sim WHERE edit_sim >= 0.25""".stripMargin,

    "q_hybrid_search" ->
      """WITH scored_docs AS (
        |  SELECT doc_id,
        |    round(
        |      least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.3 +
        |      (CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |        CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) /
        |        CAST(length(text) AS DOUBLE) END) * 0.4 +
        |      least((CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |        CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE) /
        |        CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END) * 4.0, 1.0) * 0.2 +
        |      (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |        CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) /
        |        CAST(length(text) AS DOUBLE) END) * 5.0, 1.0)) * 0.1, 6) AS quality
        |  FROM documents),
        |kept AS (SELECT doc_id FROM scored_docs WHERE quality >= 0.5),
        |q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |sc AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e JOIN kept k ON e.vec_id = k.doc_id
        |  CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
        |       round(sim, 6) AS sim
        |FROM ranked WHERE rank <= 3""".stripMargin,

    "q_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |         length(text) AS len
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, media_type, len,
        |         greatest(1, least(4, len // 128)) AS n FROM m),
        |fr AS (
        |  SELECT doc_id, media_type, len, n,
        |         unnest(range(0, n)) AS fi FROM f),
        |o AS (
        |  SELECT doc_id, media_type, len, fi,
        |         CASE WHEN n = 1 THEN 0
        |              ELSE greatest(len - 128, 0) * fi // (n - 1) END AS off
        |  FROM fr)
        |SELECT doc_id, media_type, CAST(fi AS INT) AS frame_idx,
        |       CAST(off AS INT) AS frame_offset,
        |       CAST(least(len, off + 128) - off AS INT) AS frame_len
        |FROM o""".stripMargin,

    // MP4 header parse replay: the fixture builder (Multimodal.buildMp4)
    // derives every box field from doc_id, so the expected PARSE output
    // is closed-form — n_bytes sums the box sizes (ftyp 16 + mdat
    // 24+id%256 + moov 8 + mvhd 108/120 + 100/track), duration_ms is
    // the mvhd integer division, dims/tracks are the moduli
    "q_video_meta" ->
      """SELECT doc_id,
        |  CAST(48 + doc_id % 256
        |       + (CASE WHEN doc_id % 5 = 0 THEN 120 ELSE 108 END)
        |       + 100 * (doc_id % 2 + 1) AS INT) AS n_bytes,
        |  'isom' AS brand,
        |  CAST(600 AS INT) AS timescale,
        |  CAST(((doc_id % 9000 + 600) * 1000) // 600 AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 2 + 1 AS INT) AS n_tracks,
        |  CAST(doc_id % 1920 + 16 AS INT) AS width,
        |  CAST(doc_id % 1080 + 16 AS INT) AS height
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,

    "q_profile" ->
      """SELECT count(*) AS n_rows,
        |  count(o_orderkey) AS nn_o_orderkey,
        |  count(o_custkey) AS nn_o_custkey,
        |  count(o_orderdate) AS nn_o_orderdate,
        |  count(DISTINCT o_custkey) AS nd_o_custkey,
        |  count(DISTINCT o_orderpriority) AS nd_o_orderpriority
        |FROM orders""".stripMargin,

    // top-fraction curation: the quality expression, per-lang counts,
    // rank window with the identical (quality desc, doc_id) total
    // order, and the same ceil(frac*n) integer cut — row-for-row
    // agreement with no float-threshold boundary
    "q_quality_topp" ->
      s"""WITH q AS (SELECT doc_id, lang, __QUALITY__ AS quality FROM documents),
         |n AS (SELECT lang, count(*) AS n FROM q GROUP BY lang),
         |r AS (SELECT q.doc_id, q.lang, q.quality, n.n,
         |  row_number() OVER (PARTITION BY q.lang
         |    ORDER BY q.quality DESC, q.doc_id ASC) AS rn
         |  FROM q JOIN n USING (lang))
         |SELECT doc_id, lang, quality FROM r
         |WHERE rn <= ceil(0.6 * n)""".stripMargin
        .replace("__QUALITY__", sqlQualityExprText),

    // dataset card: the planted re-ship union, token/char sums as
    // exact integers, the dup rate via count(DISTINCT <fnv64 replay>)
    // (same cardinality as the kernel's signed longs), and the
    // q_quality_score expression averaged per stratum (round 4 —
    // partial-sum drift far below resolution). Tokens use the
    // explicit whitespace class = Java's \S exactly (RE2's \S keeps
    // \x0b inside tokens; latent on this corpus, but the convention
    // is to spell it out)
    "q_dataset_card" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text, lang, source, n_chars FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
         |  FROM documents WHERE doc_id % 2 = 0),
         |h AS (SELECT source, lang, text, ${sqlFnvRaw("text")} AS h FROM corpus)
         |SELECT source, lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))) AS BIGINT) AS total_tokens,
         |  round(avg(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))), 4) AS avg_doc_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |  round(1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*), 6) AS dup_doc_frac,
         |  round(avg(__QUALITY__), 4) AS mean_quality
         |FROM h GROUP BY source, lang""".stripMargin
        .replace("__QUALITY__", sqlQualityExprText),

    "q_rep_ratio" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS gram
        |  FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)
        |  WHERE len(t) >= 2),
        |counted AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2)
        |SELECT doc_id,
        |  round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS rep_ratio
        |FROM counted GROUP BY doc_id""".stripMargin,

    "q_redact_pii" ->
      """SELECT c_custkey, regexp_replace(regexp_replace(
        |  concat('reach ', c_name, ' at ', replace(lower(c_name), '#', '_'),
        |         '@example.org or +1-555-867-',
        |         lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')),
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\+?[0-9]{1,2}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g')
        |  AS contact
        |FROM customer""".stripMargin,

    "q_value_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.50), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75
        |FROM events GROUP BY event_type""".stripMargin,

    // per-key counts → one summary row; percentile↔quantile_cont use
    // the same linear interpolation (the q_value_quantiles precedent),
    // avg = exact-integer-sum / count (IEEE-exact both engines)
    "q_skew_report" ->
      """WITH c AS (
        |  SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type)
        |SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |  max(cnt) AS max_count, round(avg(cnt), 6) AS avg_count,
        |  round(quantile_cont(cnt, 0.5), 6) AS p50_count,
        |  round(quantile_cont(cnt, 0.99), 6) AS p99_count,
        |  round(CAST(max(cnt) AS DOUBLE) / avg(cnt), 6) AS skew_factor,
        |  CAST(ceil(CAST(max(cnt) AS DOUBLE) / avg(cnt)) AS BIGINT) AS suggested_salt
        |FROM c""".stripMargin,

    "q_heavy_keys" ->
      """WITH c AS (
        |  SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        |SELECT event_type, cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
        |FROM c, t ORDER BY cnt DESC, event_type LIMIT 3""".stripMargin,

    "q_overlap_card" ->
      """WITH a AS (SELECT text FROM documents WHERE doc_id < 400),
        |b AS (SELECT text FROM documents WHERE doc_id >= 200),
        |da AS (SELECT DISTINCT text FROM a),
        |db AS (SELECT DISTINCT text FROM b),
        |m AS (
        |  SELECT count(*) AS shared FROM da JOIN db ON da.text = db.text)
        |SELECT (SELECT count(*) FROM a) AS n_a,
        |  (SELECT count(*) FROM b) AS n_b,
        |  (SELECT count(*) FROM da) AS distinct_a,
        |  (SELECT count(*) FROM db) AS distinct_b,
        |  m.shared AS shared,
        |  round(CAST(m.shared AS DOUBLE) /
        |    CAST((SELECT count(*) FROM da) AS DOUBLE), 6) AS frac_a_in_b,
        |  (SELECT count(*) FROM db) - m.shared AS new_in_b
        |FROM m""".stripMargin,

    "q_corpus_prep" ->
      """WITH scored AS (
        |  SELECT doc_id, text,
        |    round(
        |      least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.3 +
        |      (CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |        CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) /
        |        CAST(length(text) AS DOUBLE) END) * 0.4 +
        |      least((CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |        CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE) /
        |        CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END) * 4.0, 1.0) * 0.2 +
        |      (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |        CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) /
        |        CAST(length(text) AS DOUBLE) END) * 5.0, 1.0)) * 0.1, 6) AS quality
        |  FROM documents),
        |kept AS (SELECT * FROM scored WHERE quality >= 0.5),
        |canon AS (
        |  SELECT min(doc_id) AS doc_id, count(*) AS n_copies, min(text) AS text
        |  FROM kept GROUP BY sha256(text))
        |SELECT doc_id, n_copies,
        |  CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tokens,
        |  round(
        |    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.3 +
        |    (CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) /
        |      CAST(length(text) AS DOUBLE) END) * 0.4 +
        |    least((CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE) /
        |      CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END) * 4.0, 1.0) * 0.2 +
        |    (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) /
        |      CAST(length(text) AS DOUBLE) END) * 5.0, 1.0)) * 0.1, 6) AS quality
        |FROM canon""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 4),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks)-2),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh_a,
        |    list_distinct(list_transform(generate_series(1, len(toks)-3),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh_b
        |  FROM base)
        |SELECT doc_id,
        |  round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE), 6) AS jaccard
        |FROM sh""".stripMargin,

    "q_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_dupes
        |FROM documents GROUP BY sha256(text)""".stripMargin,

    // normalized dedup: the same grouping with the canonicalization
    // applied first; whitespace spelled as the explicit class both
    // sides (Java \s vs RE2 \s disagree on \x0b), 'g' for replace-all.
    // Case folding is ASCII-only translate on BOTH sides — lower()/
    // upper() Unicode mappings diverge between Java and utf8proc
    "q_norm_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    translate(text, 'abcdefghijklmnopqrstuvwxyz',
        |              'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || '  !!' AS text
        |  FROM documents)
        |SELECT min(doc_id) AS doc_id, count(*) AS n_dupes
        |FROM corpus
        |GROUP BY sha256(trim(regexp_replace(regexp_replace(
        |  translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |            'abcdefghijklmnopqrstuvwxyz'),
        |  '[^a-z0-9 \t\n\x0b\f\r]', ' ', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g')))""".stripMargin,

    // Unicode-canonical dedup keys: chr(233) = precomposed U+00E9,
    // chr(769) = combining U+0301 — nfc_normalize composes the
    // decomposed spelling, so each doc's two planted variants share
    // one sha while byte-keyed hashing would keep them apart.
    "q_nfc_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' caf' || chr(233) FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' cafe' || chr(769) FROM documents)
        |SELECT sha256(nfc_normalize(text)) AS content_sha,
        |       count(*) AS n_copies, min(doc_id) AS keeper
        |FROM corpus GROUP BY 1""".stripMargin,

    "q_top_tokens" ->
      """WITH toks AS (
        |  SELECT lang, unnest(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS tok
        |  FROM documents),
        |counts AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
        |ranked AS (
        |  SELECT lang, tok, c,
        |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rank
        |  FROM counts)
        |SELECT lang, tok, c, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10""".stripMargin,

    // chunk i of a doc with n tokens covers [i*24, min(i*24+32, n));
    // DuckDB list slicing is 1-based inclusive, range(x) is 0..x-1
    "q_chunk_docs" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS ts FROM documents),
        |n AS (
        |  SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n FROM toks
        |  WHERE len(ts) > 0)
        |SELECT doc_id, CAST(g AS BIGINT) AS chunk_idx,
        |  array_to_string(ts[g*24+1 : CAST(least(g*24+32, n) AS INT)], ' ')
        |    AS chunk_text,
        |  CAST(least(g*24+32, n) - g*24 AS BIGINT) AS n_tokens
        |FROM n, UNNEST(range((n + 23) // 24)) AS u(g)""".stripMargin,

    // the fnv64-mod-10000 gate replayed in HUGEINT (the q_split_assign
    // template); en keeps 2000/10000, every other stratum 5000/10000
    "q_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    ((CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)
        |      % 10000) + 10000) % 10000 AS hm
        |  FROM h)
        |SELECT doc_id, lang FROM m
        |WHERE hm < CASE WHEN lang = 'en' THEN 2000 ELSE 5000 END""".stripMargin,

    // temperature mixture: the rate table replays the driver's
    // arithmetic bitwise — sqrt corpus shares (libm/JVM parity),
    // weights summed in stratum-name order via an ordered list_reduce
    // (matching the Scala foldLeft), fixed multiply/divide
    // association, floor to basis points — then the same fnv64
    // HUGEINT gate as q_stratified_sample
    "q_temperature_sample" ->
      """WITH c AS (
        |  SELECT lang AS g, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |w AS (
        |  SELECT g, n, sqrt(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) AS w
        |  FROM c CROSS JOIN t),
        |sw AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(w ORDER BY g)), (a, x) -> a + x) AS sumw FROM w),
        |r AS (
        |  SELECT g, CAST(floor(least(
        |    0.25 * CAST(t.total AS DOUBLE) * w.w / (sw.sumw * CAST(w.n AS DOUBLE)),
        |    1.0) * 10000) AS BIGINT) AS rate_bp
        |  FROM w CROSS JOIN t CROSS JOIN sw),
        |h AS (
        |  SELECT doc_id, lang, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    ((CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)
        |      % 10000) + 10000) % 10000 AS hm
        |  FROM h)
        |SELECT m.doc_id, m.lang FROM m JOIN r ON m.lang = r.g
        |WHERE m.hm < r.rate_bp""".stripMargin,

    // Okapi BM25, k1=1.2 b=0.75; the score expression tree mirrors the
    // Spark side token for token (ln/div/mul are IEEE-deterministic and
    // bitwise-identical across JVM and libm; round(...,6) as belt)
    "q_bm25" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM base),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT b.doc_id, t.term AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM base b, UNNEST(b.ts) AS t(term)
        |  WHERE t.term IN ('spark', 'join', 'window', 'hash', 'vector')
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.term, tf.doc_id,
        |    round((ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf)
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)), 6)
        |      AS score
        |  FROM tf
        |  JOIN dfreq d USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN stats s),
        |ranked AS (
        |  SELECT term, doc_id,
        |    row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id)
        |      AS rank,
        |    score
        |  FROM scored)
        |SELECT term, doc_id, CAST(rank AS INT) AS rank, score
        |FROM ranked WHERE rank <= 10""".stripMargin,

    // the q_bm25 replay feeding per-doc DECIMAL-summed scores, a
    // Jaccard second ranker, both top-20, and the 1/(60+rank) fusion
    "q_rrf_fusion" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM base),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT b.doc_id, t.term AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM base b, UNNEST(b.ts) AS t(term)
        |  WHERE t.term IN ('spark', 'join', 'window', 'hash', 'vector')
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.term, tf.doc_id,
        |    round((ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf)
        |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)), 6)
        |      AS score
        |  FROM tf
        |  JOIN dfreq d USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN stats s),
        |lex AS (
        |  SELECT doc_id, CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS s
        |  FROM scored GROUP BY doc_id),
        |lexk AS (
        |  SELECT doc_id, rank_a FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank_a
        |    FROM lex) WHERE rank_a <= 20),
        |ov AS (
        |  SELECT doc_id,
        |    CAST(len(list_intersect(list_distinct(ts),
        |      ['spark', 'join', 'window', 'hash', 'vector'])) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(list_distinct(ts),
        |      ['spark', 'join', 'window', 'hash', 'vector']))) AS DOUBLE) AS j
        |  FROM base),
        |ovk AS (
        |  SELECT doc_id, rank_b FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY j DESC, doc_id) AS rank_b
        |    FROM ov WHERE j > 0) WHERE rank_b <= 20),
        |f AS (
        |  SELECT coalesce(l.doc_id, o.doc_id) AS doc_id, l.rank_a, o.rank_b,
        |    coalesce(1.0 / (60 + l.rank_a), 0.0) +
        |    coalesce(1.0 / (60 + o.rank_b), 0.0) AS rrf
        |  FROM lexk l FULL OUTER JOIN ovk o ON l.doc_id = o.doc_id)
        |SELECT doc_id, CAST(rank_a AS INT) AS rank_a,
        |  CAST(rank_b AS INT) AS rank_b, round(rrf, 6) AS rrf_score
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    // string shingles instead of the engine's 64-bit FNV shingle
    // hashes: identical intersection behavior (a cross-doc hash
    // collision is ~2^-64 per candidate pair, same argument as
    // q_ngram_jaccard); <5-token docs fall back to the whole token
    // span as their single shingle, matching the kernel contract
    "q_decontaminate" ->
      """WITH toks AS (
        |  -- token class replays the engine kernel EXACTLY: Java \s =
        |  -- [ \t\n\x0B\f\r] (RE2's \S excludes \x0B, so spell it out)
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 5 THEN
        |      list_transform(generate_series(1, len(t)-4),
        |        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks),
        |bsh AS (
        |  SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 20 = 0),
        |dsh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM sh),
        |bad AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN bsh ON dsh.s = bsh.s)
        |SELECT d.doc_id, d.text FROM documents d
        |LEFT JOIN bad b ON d.doc_id = b.doc_id WHERE b.doc_id IS NULL""".stripMargin,

    // same string-shingle replay; reports the overlap fraction per doc
    // instead of the binary drop
    "q_contamination_frac" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 5 THEN
        |      list_transform(generate_series(1, len(t)-4),
        |        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks),
        |bsh AS (
        |  SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 20 = 0),
        |dsh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM sh),
        |j AS (
        |  SELECT d.doc_id, CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM dsh d LEFT JOIN bsh b ON d.s = b.s)
        |SELECT doc_id,
        |  round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS contamination_frac
        |FROM j GROUP BY doc_id""".stripMargin,

    // span-level variant: string-window replay of the covered-token
    // removal (the q_substring_dedup rebuild pattern pointed at the
    // eval set). Both sides window at exactly k=5 — no short-doc
    // fallback shingle — so docs with <5 tokens pass through unchanged.
    "q_decontaminate_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t
        |  FROM documents WHERE doc_id % 20 <> 0),
        |btoks AS (
        |  SELECT regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t
        |  FROM documents WHERE doc_id % 20 = 0),
        |bsh AS (
        |  SELECT DISTINCT concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS s
        |  FROM btoks, unnest(generate_series(1, len(t)-4)) AS u(i)
        |  WHERE len(t) >= 5),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS s
        |  FROM toks, unnest(generate_series(1, len(t)-4)) AS u(i)
        |  WHERE len(t) >= 5),
        |hits AS (SELECT w.doc_id, w.pos FROM wins w JOIN bsh b ON w.s = b.s),
        |covered AS (
        |  SELECT DISTINCT doc_id, g.tp
        |  FROM hits, unnest(generate_series(pos, pos + 4)) AS g(tp)),
        |tokpos AS (
        |  SELECT doc_id, i - 1 AS tp, t[i] AS tok
        |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
        |kept AS (
        |  SELECT k.doc_id, k.tp, k.tok FROM tokpos k
        |  LEFT JOIN covered c ON k.doc_id = c.doc_id AND k.tp = c.tp
        |  WHERE c.doc_id IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.text, '') AS text
        |FROM toks t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id""".stripMargin,

    // containment on the q_ngram_jaccard pair construction (same
    // distinct string-shingle sets; hash sets on the engine side are
    // count-identical)
    "q_containment" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 4),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks)-2),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh_a,
        |    list_distinct(list_transform(generate_series(1, len(toks)-3),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh_b
        |  FROM base)
        |SELECT doc_id,
        |  round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
        |        CAST(len(sh_b) AS DOUBLE), 6) AS containment_b_in_a,
        |  round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
        |        CAST(len(sh_a) AS DOUBLE), 6) AS containment_a_in_b,
        |  len(list_intersect(sh_a, sh_b)) = len(sh_b) AS is_subset
        |FROM sh""".stripMargin,

    // full HLL register replay: fnv64 pre-hash (HUGEINT), bucket = top
    // 9 bits (h // 2^55), rank = 33 - bit-length of the low-32 window
    // (bin() is minimal-width, so no floating log2 anywhere), register
    // max per (source, bucket), then the EXACT power-of-two register
    // sum (absent buckets contribute 2^0 = 1 each) and the same
    // alpha·m²/sum ± linear-counting arithmetic as functions.Hll —
    // operation-for-operation, so the double replays bitwise.
    "q_hll_card" ->
      s"""WITH h AS (SELECT source, ${sqlFnvRaw("text")} AS h FROM documents),
         |g0q AS (SELECT source, (h + $sqlGolden) % $sqlMod AS z0q FROM h),
         |${sqlMixChain("q", "source")},
         |reg AS (
         |  SELECT source, CAST(z4 // 36028797018963968 AS BIGINT) AS b,
         |         max(CASE WHEN z4 % 4294967296 = 0 THEN 33
         |                  ELSE 33 - length(bin(CAST(z4 % 4294967296 AS BIGINT)))
         |             END) AS rho
         |  FROM g5q GROUP BY 1, 2),
         |agg AS (
         |  SELECT source, sum(pow(2.0, -rho)) AS sp, count(*) AS nb
         |  FROM reg GROUP BY 1),
         |est AS (
         |  SELECT source,
         |    (0.7213 / (1 + 1.079 / 512)) * 262144.0 / (sp + (512 - nb)) AS raw,
         |    512 - nb AS zeros
         |  FROM agg),
         |fin AS (
         |  SELECT source,
         |    CASE WHEN raw <= 1280.0 AND zeros > 0
         |         THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
         |         ELSE raw END AS est_distinct
         |  FROM est),
         |ex AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct
         |  FROM h GROUP BY source)
         |SELECT e.source, e.n_docs, f.est_distinct, e.exact_distinct
         |FROM ex e JOIN fin f ON e.source = f.source""".stripMargin,

    "q_bpe_merges" ->
      s"""${sqlBpeChain(6)}
         |${(1 to 6).map(k =>
             s"SELECT CAST($k AS INT) AS rank, lhs, rhs, CAST(c AS BIGINT) AS freq FROM b$k")
             .mkString("\n UNION ALL ")}""".stripMargin,

    "q_bpe_encode" ->
      s"""${sqlBpeChain(6)}
         |SELECT w, CAST(cnt AS BIGINT) AS cnt,
         |       array_to_string(s, ' ') AS segmented
         |FROM w6""".stripMargin,

    "q_bpe_merges_bytes" ->
      s"""${sqlBpeChain(6, byteLevel = true)}
         |${(1 to 6).map(k =>
             s"SELECT CAST($k AS INT) AS rank, lhs, rhs, CAST(c AS BIGINT) AS freq FROM b$k")
             .mkString("\n UNION ALL ")}""".stripMargin,

    "q_bpe_encode_bytes" ->
      s"""${sqlBpeChain(6, byteLevel = true)}
         |SELECT w, CAST(cnt AS BIGINT) AS cnt,
         |       array_to_string(s, ' ') AS segmented
         |FROM w6""".stripMargin,

    // window cumsum replay; order key = fnv64 top-53 bits (h // 2048),
    // identical unsigned order both engines; exclusive cumsum via
    // ROWS ... 1 PRECEDING
    // each stage's survivor set replayed on strings (sha groups ==
    // string groups; the q_decontaminate CASE fallback for short
    // docs), counts stitched by scalar subqueries
    "q_dedup_funnel" ->
      s"""WITH s0 AS (SELECT doc_id, text FROM documents),
         |w1 AS (SELECT min(doc_id) AS doc_id FROM s0 GROUP BY sha256(text)),
         |e1 AS (SELECT s.doc_id, s.text FROM s0 s JOIN w1 ON s.doc_id = w1.doc_id),
         |w2 AS (SELECT min(doc_id) AS doc_id FROM e1
         |  GROUP BY trim(regexp_replace(regexp_replace(
         |    translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
         |              'abcdefghijklmnopqrstuvwxyz'),
         |    '[^a-z0-9 \\t\\n\\x0b\\f\\r]', ' ', 'g'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))),
         |e2 AS (SELECT e.doc_id, e.text FROM e1 e JOIN w2 ON e.doc_id = w2.doc_id),
         |e3 AS (SELECT doc_id, text FROM e2 WHERE __QUALITY__ >= 0.5),
         |btoks AS (
         |  SELECT regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
         |  FROM s0 WHERE doc_id % 20 = 0),
         |bsh AS (
         |  SELECT DISTINCT unnest(
         |    CASE WHEN len(t) >= 5 THEN
         |      list_transform(generate_series(1, len(t)-4),
         |        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
         |    ELSE [array_to_string(t, ' ')] END) AS s
         |  FROM btoks),
         |toks3 AS (
         |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
         |  FROM e3),
         |dsh AS (
         |  SELECT DISTINCT doc_id, unnest(
         |    CASE WHEN len(t) >= 5 THEN
         |      list_transform(generate_series(1, len(t)-4),
         |        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
         |    ELSE [array_to_string(t, ' ')] END) AS s
         |  FROM toks3),
         |bad AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN bsh ON dsh.s = bsh.s),
         |e4 AS (SELECT e3.doc_id FROM e3 LEFT JOIN bad ON e3.doc_id = bad.doc_id
         |       WHERE bad.doc_id IS NULL),
         |funnel AS (
         |  SELECT CAST(1 AS INT) AS stage_idx, 'exact_dedup' AS stage,
         |    (SELECT count(*) FROM s0) AS docs_in,
         |    (SELECT count(*) FROM e1) AS docs_out
         |  UNION ALL SELECT 2, 'norm_dedup',
         |    (SELECT count(*) FROM e1), (SELECT count(*) FROM e2)
         |  UNION ALL SELECT 3, 'quality_filter',
         |    (SELECT count(*) FROM e2), (SELECT count(*) FROM e3)
         |  UNION ALL SELECT 4, 'decontaminate',
         |    (SELECT count(*) FROM e3), (SELECT count(*) FROM e4))
         |SELECT stage_idx, stage, CAST(docs_in AS BIGINT) AS docs_in,
         |  CAST(docs_out AS BIGINT) AS docs_out,
         |  CAST(docs_in - docs_out AS BIGINT) AS removed,
         |  round(CAST(docs_in - docs_out AS DOUBLE) /
         |        CAST(docs_in AS DOUBLE), 6) AS frac_removed
         |FROM funnel""".stripMargin
        .replace("__QUALITY__", sqlQualityExprText),

    // percent_rank has the identical (rank-1)/(n-1) definition in both
    // engines; order (quality asc, doc_id) is total, so ranks replay
    "q_score_calibrate" ->
      s"""WITH scored AS (
         |  SELECT doc_id, source, __QUALITY__ AS quality FROM documents)
         |SELECT doc_id, source, quality,
         |  round(percent_rank() OVER (PARTITION BY source
         |    ORDER BY quality, doc_id), 6) AS score_pct
         |FROM scored""".stripMargin
        .replace("__QUALITY__", sqlQualityExprText),

    "q_token_budget_mix" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')) AS BIGINT)
         |      AS n_tokens,
         |    ${sqlFnvRaw("text")} // 2048 AS k
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY k, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM d)
         |SELECT doc_id, source, n_tokens FROM w WHERE cumb < 500""".stripMargin,

    "q_bpe_docs" ->
      s"""${sqlBpeChain(6)},
         |vocab AS (SELECT w, s FROM w6),
         |dtoks AS (
         |  SELECT doc_id, i - 1 AS pos, t[i] AS w
         |  FROM (SELECT doc_id,
         |          regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
         |        FROM documents),
         |       unnest(generate_series(1, len(t))) AS u(i)),
         |joined AS (
         |  SELECT d.doc_id, d.pos, v.s FROM dtoks d JOIN vocab v ON d.w = v.w)
         |SELECT doc_id,
         |  string_agg(array_to_string(s, ' '), ' ' ORDER BY pos) AS encoded,
         |  CAST(sum(len(s)) AS BIGINT) AS n_subwords
         |FROM joined GROUP BY doc_id""".stripMargin,

    // direct single-pass replay over the union corpus: integer sums
    // and HLL register maxima are order- and split-insensitive, so
    // DuckDB's one pass must equal Spark's partial→merge→finish path
    // exactly; mean_quality rounds at 4 (partial-sum drift far below
    // resolution, the q_dataset_card argument)
    "q_card_incremental" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text, lang, source FROM documents
         |  UNION ALL
         |  SELECT doc_id, text, lang, source FROM documents
         |  WHERE doc_id % 2 = 0),
         |h AS (SELECT source, lang, ${sqlFnvRaw("text")} AS h FROM corpus),
         |g0r AS (SELECT source, lang, (h + $sqlGolden) % $sqlMod AS z0r FROM h),
         |${sqlMixChain("r", "source, lang")},
         |reg AS (
         |  SELECT source, lang, CAST(z4 // 36028797018963968 AS BIGINT) AS b,
         |         max(CASE WHEN z4 % 4294967296 = 0 THEN 33
         |                  ELSE 33 - length(bin(CAST(z4 % 4294967296 AS BIGINT)))
         |             END) AS rho
         |  FROM g5r GROUP BY 1, 2, 3),
         |agg AS (
         |  SELECT source, lang, sum(pow(2.0, -rho)) AS sp, count(*) AS nb
         |  FROM reg GROUP BY 1, 2),
         |est0 AS (
         |  SELECT source, lang,
         |    (0.7213 / (1 + 1.079 / 512)) * 262144.0 / (sp + (512 - nb)) AS raw,
         |    512 - nb AS zeros
         |  FROM agg),
         |fin AS (
         |  SELECT source, lang,
         |    CASE WHEN raw <= 1280.0 AND zeros > 0
         |         THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
         |         ELSE raw END AS est_distinct
         |  FROM est0),
         |base AS (
         |  SELECT source, lang,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))) AS BIGINT)
         |      AS total_tokens,
         |    CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |    sum(__QUALITY__) AS quality_sum
         |  FROM corpus GROUP BY 1, 2)
         |SELECT b.source, b.lang, b.n_docs, b.total_tokens,
         |  round(CAST(b.total_tokens AS DOUBLE) / CAST(b.n_docs AS DOUBLE), 4)
         |    AS avg_doc_tokens,
         |  b.total_chars,
         |  f.est_distinct,
         |  round(1.0 - f.est_distinct / CAST(b.n_docs AS DOUBLE), 6)
         |    AS est_dup_frac,
         |  round(b.quality_sum / CAST(b.n_docs AS DOUBLE), 4) AS mean_quality
         |FROM base b JOIN fin f ON b.source = f.source AND b.lang = f.lang"""
        .stripMargin.replace("__QUALITY__", sqlQualityExprText),

    "q_train_classifier" ->
      s"""${sqlTrainChain(3, "0.01")}
         |SELECT CAST(b AS INT) AS bucket,
         |  round(w, 6) + 0.0 AS weight
         |FROM w3""".stripMargin,

    // three global HLL replays (A, B, union) + the same
    // inclusion-exclusion arithmetic, operation-for-operation
    "q_overlap_sketched" ->
      s"""WITH ha AS (SELECT ${sqlFnvRaw("text")} AS h FROM documents),
         |hb AS (SELECT ${sqlFnvRaw("text")} AS h FROM (
         |  SELECT text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL
         |  SELECT regexp_replace(trim(text), '\\s+\\S+$$', '') AS text
         |  FROM documents WHERE doc_id % 2 = 0)),
         |hu AS (SELECT h FROM ha UNION ALL SELECT h FROM hb),
         |${sqlHllGlobal("xa", "ha")},
         |${sqlHllGlobal("xb", "hb")},
         |${sqlHllGlobal("xu", "hu")}
         |SELECT a.est AS est_distinct_a, b.est AS est_distinct_b,
         |  u.est AS est_union,
         |  a.est + b.est - u.est AS est_shared,
         |  round((a.est + b.est - u.est) / a.est, 6) AS est_frac_a_in_b,
         |  u.est - a.est AS est_new_in_b
         |FROM exa a, exb b, exu u""".stripMargin,

    // full CMS replay: per distinct token, the 4 row-bucket indices
    // come from the same splitmix chain the MinHash oracles use
    // (z0 = h + (i+1)·golden), bucket totals are exact integer sums
    // over every token landing there, and the estimate is the min —
    // integer-exact end to end
    // bucket map and rank replayed in pure integer arithmetic: floor
    // log2 via max-set-bit join, HDR bucket (e-5)*32 + (v >> (e-5)),
    // rank (N-1)*bp // 10000, answer = bucket lower bound
    "q_hist_quantiles" ->
      """WITH v AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
        |  WHERE n_chars IS NOT NULL),
        |u AS (SELECT source, v FROM v
        |      UNION ALL SELECT '__ALL__' AS source, v FROM v),
        |c AS (SELECT source, v, count(*) AS n FROM u GROUP BY 1, 2),
        |loge AS (
        |  SELECT c.source, c.v, max(r.i) AS e
        |  FROM c JOIN range(5, 63) r(i)
        |    ON c.v >= (CAST(1 AS BIGINT) << CAST(r.i AS INT))
        |  GROUP BY c.source, c.v),
        |b AS (
        |  SELECT c.source, c.n,
        |    CASE WHEN c.v < 32 THEN c.v
        |         ELSE (l.e - 5) * 32 + (c.v >> CAST(l.e - 5 AS INT)) END AS bucket
        |  FROM c LEFT JOIN loge l ON c.source = l.source AND c.v = l.v),
        |bc AS (SELECT source, bucket, CAST(sum(n) AS BIGINT) AS n
        |       FROM b GROUP BY 1, 2),
        |cum AS (SELECT source, bucket, n,
        |          sum(n) OVER (PARTITION BY source ORDER BY bucket) AS cum,
        |          sum(n) OVER (PARTITION BY source) AS total
        |        FROM bc),
        |pick AS (
        |  SELECT source, bp.bp, min(total) AS total,
        |    min(CASE WHEN cum > (total - 1) * bp.bp // 10000
        |             THEN bucket END) AS qb
        |  FROM cum, (VALUES (5000), (9000), (9900)) bp(bp)
        |  GROUP BY source, bp.bp),
        |lb AS (
        |  SELECT source, bp, total,
        |    CASE WHEN qb < 32 THEN qb
        |         ELSE (qb - ((qb >> 5) - 1) * 32)
        |              << CAST((qb >> 5) - 1 AS INT) END AS qv
        |  FROM pick)
        |SELECT source, CAST(max(total) AS BIGINT) AS n,
        |  CAST(max(CASE WHEN bp = 5000 THEN qv END) AS BIGINT) AS p50,
        |  CAST(max(CASE WHEN bp = 9000 THEN qv END) AS BIGINT) AS p90,
        |  CAST(max(CASE WHEN bp = 9900 THEN qv END) AS BIGINT) AS p99
        |FROM lb GROUP BY source""".stripMargin,

    "q_cms_counts" ->
      s"""WITH toks AS (
         |  SELECT unnest(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')) AS tok
         |  FROM documents),
         |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
         |keyed AS (SELECT tok, cnt, ${sqlFnvRaw("tok")} AS h FROM counts),
         |g0c AS (
         |  SELECT tok, cnt, i, (h + (i + 1) * $sqlGolden) % $sqlMod AS z0c
         |  FROM keyed, range(0, 4) r(i)),
         |${sqlMixChain("c", "tok, cnt, i")},
         |gb AS (SELECT tok, cnt, i, CAST(z4 % 2048 AS BIGINT) AS b FROM g5c),
         |btot AS (SELECT i, b, sum(cnt) AS tot FROM gb GROUP BY 1, 2),
         |est AS (
         |  SELECT g.tok, CAST(min(t.tot) AS BIGINT) AS est_cnt
         |  FROM gb g JOIN btot t ON g.i = t.i AND g.b = t.b GROUP BY g.tok),
         |top AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 20)
         |SELECT t.tok AS token, CAST(t.cnt AS BIGINT) AS exact_cnt, e.est_cnt
         |FROM top t JOIN est e ON t.tok = e.tok""".stripMargin,

    // JS-contribution arithmetic spelled operation-for-operation like
    // the engine (division, the shared (p+q)/2 midpoint, ln, the two
    // 0.5· products, their sum) so the doubles replay bitwise; order
    // ties on the double are exact for the same reason
    "q_token_drift" ->
      """WITH ta AS (
        |  SELECT unnest(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS tok
        |  FROM documents),
        |tb AS (
        |  SELECT unnest(regexp_extract_all(
        |    regexp_replace(trim(text), '\s+\S+$', ''),
        |    '[^ \t\n\x0b\f\r]+')) AS tok
        |  FROM documents),
        |ca AS (SELECT tok, count(*) AS cnt_a FROM ta GROUP BY 1),
        |cb AS (SELECT tok, count(*) AS cnt_b FROM tb GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM ta) AS na,
        |               (SELECT count(*) FROM tb) AS nb),
        |j AS (
        |  SELECT coalesce(ca.tok, cb.tok) AS token,
        |         coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
        |p AS (
        |  SELECT token, cnt_a, cnt_b,
        |         CAST(cnt_a AS DOUBLE) / CAST(na AS DOUBLE) AS p_a,
        |         CAST(cnt_b AS DOUBLE) / CAST(nb AS DOUBLE) AS p_b
        |  FROM j, tot),
        |sc AS (
        |  SELECT token, cnt_a, cnt_b, p_a, p_b,
        |    0.5 * (CASE WHEN p_a > 0
        |                THEN p_a * ln(p_a / ((p_a + p_b) / 2))
        |                ELSE 0.0 END) +
        |    0.5 * (CASE WHEN p_b > 0
        |                THEN p_b * ln(p_b / ((p_a + p_b) / 2))
        |                ELSE 0.0 END) AS js_contrib
        |  FROM p)
        |SELECT token, cnt_a, cnt_b, p_a, p_b, js_contrib
        |FROM sc ORDER BY js_contrib DESC, token LIMIT 20""".stripMargin,

    // same structured-corpus rebuild as q_para_dedup; template lines
    // by distinct-doc frequency on line STRINGS, stripped everywhere
    "q_strip_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, i AS cidx,
        |         array_to_string(t[(i*20+1):(i*20+20)], ' ') AS para
        |  FROM toks, unnest(generate_series(0, (len(t)-1)//20)) AS u(i)),
        |structured AS (
        |  SELECT doc_id, 'shared boilerplate header' || chr(10) ||
        |         string_agg(para, chr(10) ORDER BY cidx) AS text
        |  FROM chunks GROUP BY doc_id),
        |split_docs AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS parts FROM structured),
        |lines AS (
        |  SELECT doc_id, i - 1 AS idx, parts[i] AS line
        |  FROM split_docs, unnest(generate_series(1, len(parts))) AS u(i)),
        |tmpl AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS df
        |    FROM lines WHERE trim(line) <> '' GROUP BY line)
        |  WHERE df > 2),
        |kept AS (
        |  SELECT l.doc_id, l.idx, l.line FROM lines l
        |  LEFT JOIN tmpl t ON l.line = t.line WHERE t.line IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, coalesce(r.text, '') AS text
        |FROM structured s LEFT JOIN rebuilt r ON s.doc_id = r.doc_id""".stripMargin,

    // winner choice replayed on paragraph STRINGS (row_number over
    // (para) ordered by (doc_id, idx) = Spark's min-struct); corpus
    // structure (20-token chunks + shared header) rebuilt identically
    "q_para_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, i AS cidx,
        |         array_to_string(t[(i*20+1):(i*20+20)], ' ') AS para
        |  FROM toks, unnest(generate_series(0, (len(t)-1)//20)) AS u(i)),
        |structured AS (
        |  SELECT doc_id, 'shared boilerplate header' || chr(10) ||
        |         string_agg(para, chr(10) ORDER BY cidx) AS text
        |  FROM chunks GROUP BY doc_id),
        |split_docs AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS parts FROM structured),
        |paras AS (
        |  SELECT doc_id, i - 1 AS idx, parts[i] AS para
        |  FROM split_docs, unnest(generate_series(1, len(parts))) AS u(i)),
        |kept AS (
        |  SELECT doc_id, idx, para FROM (
        |    SELECT doc_id, idx, para,
        |           row_number() OVER (PARTITION BY para
        |                              ORDER BY doc_id, idx) AS rn
        |    FROM paras) WHERE rn = 1)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS text
        |FROM kept GROUP BY doc_id""".stripMargin,

    "q_lang_id" ->
      """SELECT doc_id, lang, CASE
        |  WHEN zh > 0 THEN 'zh'
        |  WHEN en >= fr AND en >= de AND en >= es AND en > 0 THEN 'en'
        |  WHEN fr >= de AND fr >= es AND fr > 0 THEN 'fr'
        |  WHEN de >= es AND de > 0 THEN 'de'
        |  WHEN es > 0 THEN 'es'
        |  ELSE 'unknown' END AS lang_pred
        |FROM (SELECT doc_id, lang,
        |  len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS en,
        |  len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS fr,
        |  len(regexp_extract_all(lower(text), '\b(der|die|und|das|ein)\b')) AS de,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|una|y)\b')) AS es,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
        |  FROM documents) t""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc,
        |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) /
        |    CAST(length(text) AS DOUBLE) END AS alpha_ratio,
        |  CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE) /
        |    CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END AS stopword_ratio,
        |  CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |    CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END AS mean_word_len,
        |  round(
        |    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.3 +
        |    (CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) /
        |      CAST(length(text) AS DOUBLE) END) * 0.4 +
        |    least((CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE) /
        |      CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END) * 4.0, 1.0) * 0.2 +
        |    (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) /
        |      CAST(length(text) AS DOUBLE) END) * 5.0, 1.0)) * 0.1, 6) AS quality
        |FROM documents""".stripMargin,

    // hashed n-gram linear classifier: the 1024 weights replay the
    // splitmix64 chain (w = 2u-1, exact dyadic), features replay the
    // byte-level FNV-1a fold per unigram / space-joined bigram, and
    // the logit folds the SAME interleaved feature order the kernel
    // sums in (uni0, bi01, uni1, bi12, ...) so every IEEE addition
    // matches bitwise; bucket 1024 is a power of two, so HUGEINT
    // unsigned % equals the kernel's signed floorMod
    "q_classifier_score" ->
      s"""WITH g0w AS (
         |  SELECT b, (CAST(7 + b AS HUGEINT) + $sqlGolden) % $sqlMod AS z0w
         |  FROM range(0, 1024) rb(b)),
         |${sqlMixChain("w", "b")},
         |wt AS (SELECT b,
         |  2.0 * ((CAST(z4 // CAST(2048 AS HUGEINT) AS DOUBLE) + 0.5)
         |         / 9007199254740992.0) - 1.0 AS w
         |  FROM g5w),
         |wl AS (SELECT list(w ORDER BY b) AS ws FROM wt),
         |toks AS (
         |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, flatten(list_transform(range(1, len(t)+1), i ->
         |    CASE WHEN i = 1 THEN [${sqlFnvBucket("t[i]")}]
         |    ELSE [${sqlFnvBucket("concat(t[i-1], ' ', t[i])")},
         |          ${sqlFnvBucket("t[i]")}] END)) AS fs
         |  FROM toks),
         |scored AS (
         |  SELECT f.doc_id,
         |    CASE WHEN len(f.fs) = 0 THEN 0.0
         |    ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(f.fs, x -> wl.ws[CAST(x AS INT) + 1])),
         |      (a, v) -> a + v) END AS logit
         |  FROM feats f CROSS JOIN wl)
         |SELECT doc_id, round(logit, 6) AS logit, logit > 0.0 AS keep
         |FROM scored""".stripMargin,

    // Language ID v2: the q_classifier_score replay run once per
    // language (seed 11+i over the lex-sorted list — the weight grid
    // carries lang as a key through the same mix chain), then argmax
    // by row_number over (logit DESC, lang ASC) — lang ASC equals the
    // Spark side's earliest-model-wins strict-greater fold because the
    // models are registered in ascending language order.
    "q_lang_id2" ->
      s"""WITH langs(lang, seed) AS (VALUES
         |    ('de', 11), ('en', 12), ('es', 13), ('fr', 14), ('zh', 15)),
         |g0w AS (
         |  SELECT l.lang, b, (CAST(l.seed + b AS HUGEINT) + $sqlGolden) % $sqlMod AS z0w
         |  FROM range(0, 1024) rb(b), langs l),
         |${sqlMixChain("w", "lang, b")},
         |wt AS (SELECT lang, b,
         |  2.0 * ((CAST(z4 // CAST(2048 AS HUGEINT) AS DOUBLE) + 0.5)
         |         / 9007199254740992.0) - 1.0 AS w
         |  FROM g5w),
         |wl AS (SELECT lang, list(w ORDER BY b) AS ws FROM wt GROUP BY lang),
         |toks AS (
         |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, flatten(list_transform(range(1, len(t)+1), i ->
         |    CASE WHEN i = 1 THEN [${sqlFnvBucket("t[i]")}]
         |    ELSE [${sqlFnvBucket("concat(t[i-1], ' ', t[i])")},
         |          ${sqlFnvBucket("t[i]")}] END)) AS fs
         |  FROM toks),
         |scored AS (
         |  SELECT f.doc_id, wl.lang,
         |    CASE WHEN len(f.fs) = 0 THEN 0.0
         |    ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(f.fs, x -> wl.ws[CAST(x AS INT) + 1])),
         |      (a, v) -> a + v) END AS logit
         |  FROM feats f CROSS JOIN wl),
         |ranked AS (
         |  SELECT doc_id, lang, logit,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY logit DESC, lang) AS rn
         |  FROM scored)
         |SELECT doc_id, lang AS lang_pred, round(logit, 6) AS logit
         |FROM ranked WHERE rn = 1""".stripMargin,

    // the fastText-import twin: weights come from the parsed bundled
    // dump (see qLangId3Oracle), scoring replay identical
    "q_lang_id3" -> qLangId3Oracle,

    // the subword-import twin: sparse per-label linearized weights
    // from the parsed bundled dump + fastText's own char-n-gram hash
    "q_lang_id4" -> qLangId4Oracle,

    // DSIR: the q_classifier_score feature replay feeds two bucket
    // counts (target = lang 'en', raw = all); λ(b) is the add-1
    // log-ratio over range(0,1024); the per-doc weight folds λ in the
    // SAME interleaved feature order as the kernel; the Gumbel key
    // replays fnv64('42:'||doc_id) via the unreduced FNV fold, top-53
    // uniform, -ln(-ln(u)); selection = ORDER BY unrounded key LIMIT k
    "q_dsir_select" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang,
         |    regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, lang, flatten(list_transform(range(1, len(t)+1), i ->
         |    CASE WHEN i = 1 THEN [${sqlFnvBucket("t[i]")}]
         |    ELSE [${sqlFnvBucket("concat(t[i-1], ' ', t[i])")},
         |          ${sqlFnvBucket("t[i]")}] END)) AS fs
         |  FROM toks),
         |tc AS (SELECT b, count(*) AS c FROM (
         |  SELECT unnest(fs) AS b FROM feats WHERE lang = 'en') GROUP BY b),
         |rc AS (SELECT b, count(*) AS c FROM (
         |  SELECT unnest(fs) AS b FROM feats) GROUP BY b),
         |tt AS (SELECT CAST(coalesce(sum(c), 0) + 1024 AS DOUBLE) AS tot FROM tc),
         |rt AS (SELECT CAST(coalesce(sum(c), 0) + 1024 AS DOUBLE) AS tot FROM rc),
         |lam AS (
         |  SELECT rng.b,
         |    ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE) / tt.tot) -
         |    ln(CAST(coalesce(rc.c, 0) + 1 AS DOUBLE) / rt.tot) AS l
         |  FROM range(0, 1024) rng(b)
         |  LEFT JOIN tc ON tc.b = rng.b
         |  LEFT JOIN rc ON rc.b = rng.b, tt, rt),
         |ll AS (SELECT list(l ORDER BY b) AS ls FROM lam),
         |w AS (
         |  SELECT f.doc_id,
         |    CASE WHEN len(f.fs) = 0 THEN 0.0
         |    ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(f.fs, x -> ll.ls[CAST(x AS INT) + 1])),
         |      (a, v) -> a + v) END AS w
         |  FROM feats f CROSS JOIN ll),
         |g AS (
         |  SELECT doc_id, -ln(-ln(
         |    (CAST(${sqlFnvRaw("concat('42:', CAST(doc_id AS VARCHAR))")}
         |       // CAST(2048 AS HUGEINT) AS DOUBLE) + 0.5)
         |    / 9007199254740992.0)) AS g
         |  FROM documents)
         |SELECT w.doc_id, round(w.w, 6) AS weight,
         |       round(w.w + g.g, 6) AS sel_score
         |FROM w JOIN g USING (doc_id)
         |ORDER BY w.w + g.g DESC, w.doc_id
         |LIMIT 200""".stripMargin,

    // line structure rebuilt identically to the Spark side (10-token
    // chunks + the deterministic defect mix), then the kernel's line
    // rules replayed as a list_filter: >=3 words, terminal
    // punctuation after rtrim of in-line blanks, no brace, no
    // case-insensitive "javascript"
    "q_clean_lines" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM documents
        |  WHERE len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) > 0),
        |structured AS (
        |  SELECT doc_id, array_to_string(
        |    list_transform(generate_series(0, (len(t)-1)//10), i ->
        |      array_to_string(t[(i*10+1):(i*10+10)], ' ') ||
        |      CASE WHEN i % 7 = 2 THEN ' { javascript }'
        |           WHEN i % 4 = 0 THEN ''
        |           WHEN i % 5 = 1 THEN ' enable Javascript please.'
        |           ELSE '.' END),
        |    chr(10)) AS text
        |  FROM toks),
        |lines AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM structured),
        |kept AS (
        |  SELECT doc_id, len(ls) AS n_total, list_filter(ls, l ->
        |    len(regexp_extract_all(l, '[^ \t\r\f\x0b]+')) >= 3
        |    AND regexp_matches(rtrim(l, ' ' || chr(9) || chr(13) || chr(12) || chr(11)), '[.!?"]$')
        |    AND NOT contains(lower(l), 'javascript')
        |    AND NOT contains(l, '{') AND NOT contains(l, '}')) AS ks
        |  FROM lines)
        |SELECT doc_id, array_to_string(ks, chr(10)) AS clean_text,
        |  CAST(len(ks) AS BIGINT) AS n_lines_kept,
        |  CAST(n_total - len(ks) AS BIGINT) AS n_lines_dropped
        |FROM kept WHERE len(ks) > 0""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    // FNV-1a-64 re-expressed in DuckDB: HUGEINT modular arithmetic over
    // the text's code points (== bytes: the synthetic corpus is ASCII;
    // `q_profile`-style preflight would catch a non-ASCII drift). Both
    // custom-Expression queries below (multimodal checksum, simhash +
    // winnowing fingerprint) get EXACT independent-engine verification
    // this way instead of a rows-only check.
    "q_multimodal_meta" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |         text,
        |         CAST(length(text) AS INT) AS n_bytes,
        |         CAST(doc_id % 1920 + 16 AS INT) AS declared_w,
        |         CAST(doc_id % 1080 + 16 AS INT) AS declared_h
        |  FROM documents),
        |f AS (
        |  SELECT *, least(CAST(1 AS DOUBLE),
        |                  CAST(64 AS DOUBLE) / greatest(declared_w, declared_h)) AS scale,
        |         list_reduce(
        |           list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |             list_transform(range(1, length(text)+1),
        |               i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |           (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                       % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM m)
        |SELECT doc_id, media_type, n_bytes,
        |  CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |    THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS checksum,
        |  greatest(1, CAST(trunc(declared_w * scale) AS INT)) AS thumb_w,
        |  greatest(1, CAST(trunc(declared_h * scale) AS INT)) AS thumb_h,
        |  greatest(1, n_bytes // 4096) AS frame_samples
        |FROM f""".stripMargin,

    // Stub dHash replay: 9×8 grid where cell i carries the low byte of
    // fnv64(token[i mod n]), bit b set when the right neighbor is
    // strictly greater (grid lists are 1-indexed: left cell of bit b
    // sits at (b//8)*9 + b%8 + 1). The REAL decode path is pinned
    // pixel-exact in MultimodalSpec — this verifies the grid/compare
    // pipeline and the signed-conversion arithmetic end to end.
    "q_image_dhash" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |grid AS (
        |  SELECT doc_id, media_type, i,
        |    CASE WHEN len(toks) = 0 THEN CAST(0 AS HUGEINT) ELSE
        |      list_reduce(
        |        list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |          list_transform(range(1, length(toks[(i % len(toks)) + 1]) + 1),
        |            j -> CAST(unicode(substr(toks[(i % len(toks)) + 1], j, 1)) AS HUGEINT))),
        |        (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                    % CAST('18446744073709551616' AS HUGEINT)) % 256 END AS gray
        |  FROM m, range(0, 72) r(i)),
        |g AS (
        |  SELECT doc_id, media_type, list(gray ORDER BY i) AS gl
        |  FROM grid GROUP BY doc_id, media_type),
        |u AS (
        |  SELECT doc_id, media_type,
        |    sum(CASE WHEN gl[(b // 8) * 9 + (b % 8) + 2] > gl[(b // 8) * 9 + (b % 8) + 1]
        |      THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS uh
        |  FROM g, range(0, 64) r(b) GROUP BY doc_id, media_type)
        |SELECT doc_id, media_type,
        |  CAST(uh - CASE WHEN uh >= CAST('9223372036854775808' AS HUGEINT)
        |    THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS dhash
        |FROM u""".stripMargin,

    // Exhaustive-pair oracle (the 4×16-bit-block LSH is exact-recall
    // at hamming <= 3, so the bucket join must equal the all-pairs
    // filter — same contract as q_simhash_pairs).
    "q_image_neardup" ->
      (s"WITH $sqlImageDhashSigCtes\n" +
        """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
          |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin),

    // the same signature chain, then the reachability fixpoint and the
    // min-id retention — the q_neardup_prune policy replay for images
    "q_image_prune" ->
      (s"WITH RECURSIVE $sqlImageDhashSigCtes,\n" +
        """prs AS MATERIALIZED (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
          |edges AS MATERIALIZED (
          |  SELECT id_a AS x, id_b AS y FROM prs
          |  UNION ALL SELECT id_b, id_a FROM prs),
          |cc(id, comp) AS (
          |  SELECT doc_id, doc_id FROM corpus
          |  UNION
          |  SELECT e.y, cc.comp FROM cc JOIN edges e ON cc.id = e.x),
          |labels AS (SELECT id, min(comp) AS m FROM cc GROUP BY id)
          |SELECT c.doc_id, CAST(strlen(c.text) AS BIGINT) AS n_bytes
          |FROM corpus c JOIN labels l ON c.doc_id = l.id AND l.id = l.m""".stripMargin),

    "q_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(tok)+1),
        |        i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1
        |                  THEN 1 ELSE -1 END) AS v
        |  FROM th, range(0, 64) r(b) GROUP BY doc_id, b),
        |sim AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS HUGEINT)
        |                  ELSE CAST(0 AS HUGEINT) END) AS sim_u
        |  FROM votes GROUP BY doc_id),
        |grams AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, 9),
        |        i -> CAST(unicode(substr(substr(text, CAST(p AS INT), 8), i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS g
        |  FROM documents, unnest(range(1, greatest(length(text) - 6, 1))) t(p)
        |  WHERE length(text) >= 8),
        |win AS (
        |  SELECT doc_id, min(g) AS win_u FROM grams GROUP BY doc_id
        |  UNION ALL
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS win_u
        |  FROM documents WHERE length(text) < 8)
        |SELECT d.doc_id,
        |  CAST(coalesce(s.sim_u, CAST(0 AS HUGEINT))
        |    - CASE WHEN coalesce(s.sim_u, CAST(0 AS HUGEINT)) >= CAST('9223372036854775808' AS HUGEINT)
        |      THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS simhash,
        |  CAST(w.win_u - CASE WHEN w.win_u >= CAST('9223372036854775808' AS HUGEINT)
        |    THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS fingerprint
        |FROM documents d LEFT JOIN sim s ON d.doc_id = s.doc_id
        |JOIN win w ON d.doc_id = w.doc_id""".stripMargin,

    // The near-dup pair queries are EXACTLY replayable by an
    // independent engine: simhash pairs because 4x16-bit-block Hamming
    // LSH has 100% recall at maxHamming<=3 (pigeonhole), so the output
    // equals the exhaustive hamming<=3 pair set; minhash pairs because
    // the full pipeline (FNV shingle hashes -> splitmix64 MinHash
    // families -> raw-slice band buckets -> exact Jaccard on
    // candidates) is deterministic integer math, re-expressed below in
    // HUGEINT mod-2^64 arithmetic (split hi/lo multiply to stay inside
    // INT128).
    // CC over the simhash pair graph: the shared cluster-replay CTE
    // (corpus/sig/edges MATERIALIZED — see its doc) + the labels
    // projection. Retention-policy twins below reuse the same CTE.
    "q_dedup_clusters" -> (sqlSimhashClustersCte + "\n" +
      "SELECT id AS doc_id, m AS canonical_id FROM labels"),

    // same reachability fixpoint, then the applied policy: keep only
    // docs that are their own component minimum
    "q_neardup_prune" -> (sqlSimhashClustersCte + "\n" +
      """SELECT c.doc_id, c.text
        |FROM corpus c JOIN labels l ON c.doc_id = l.id AND l.id = l.m""".stripMargin),

    // same cluster replay; retention flips from min-id to quality
    // argmax (the qualityScore replay), ties by id
    "q_cluster_best" -> (sqlSimhashClustersCte + ",\n" +
      ("""qual AS (SELECT doc_id, __QUALITY__ AS q FROM corpus),
         |ranked AS (
         |  SELECT l.id,
         |    row_number() OVER (PARTITION BY l.m ORDER BY q.q DESC, l.id) AS rn
         |  FROM labels l JOIN qual q ON l.id = q.doc_id)
         |SELECT c.doc_id, c.text
         |FROM corpus c JOIN ranked r ON c.doc_id = r.id AND r.rn = 1""").stripMargin
        .replace("__QUALITY__", sqlQualityExprText)),

    // CDC block stats: the cut rule is a per-position FNV predicate on
    // the 8 chars ENDING at the cut (replayed with sqlFnvRaw % 64 —
    // the kernel's & 63 on nonnegative low bits), the final cut is
    // forced at length(text), chunks rebuild via lag(), and each
    // chunk's full-content FNV feeds the corpus-wide multiplicity
    // count. Gram starts cap at len-8 because the kernel's hash rule
    // excludes a boundary at the text end (the forced cut covers it)
    "q_cdc_blocks" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
         |cuts AS (
         |  SELECT doc_id, CAST(p AS INT) + 7 AS cut
         |  FROM d, unnest(range(1, greatest(length(text) - 7, 1))) t(p)
         |  WHERE ${sqlFnvRaw("substr(text, CAST(p AS INT), 8)")} % 64 = 0
         |  UNION ALL
         |  SELECT doc_id, length(text) AS cut FROM d),
         |bounds AS (
         |  SELECT doc_id, cut AS e,
         |    coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0) + 1 AS s
         |  FROM cuts),
         |hashed AS (
         |  SELECT b.doc_id, b.e - b.s + 1 AS len,
         |    ${sqlFnvRaw("substr(d.text, b.s, b.e - b.s + 1)")} AS h
         |  FROM bounds b JOIN d ON b.doc_id = d.doc_id),
         |cnt AS (SELECT h, count(*) AS c FROM hashed GROUP BY h)
         |SELECT hashed.doc_id, count(*) AS n_blocks,
         |  round(CAST(sum(CASE WHEN cnt.c > 1 THEN len ELSE 0 END) AS DOUBLE)
         |        / CAST(sum(len) AS DOUBLE), 6) AS dup_frac
         |FROM hashed JOIN cnt ON hashed.h = cnt.h
         |GROUP BY hashed.doc_id""".stripMargin,

    "q_simhash_pairs" ->
"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+$', '') FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM corpus),
        |th AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(tok)+1),
        |        i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, range(0, 64) r(b) GROUP BY doc_id, b),
        |sim AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS u
        |  FROM votes GROUP BY doc_id),
        |sig AS (
        |  SELECT c.doc_id,
        |    CAST(coalesce(s.u, CAST(0 AS HUGEINT))
        |      - CASE WHEN coalesce(s.u, CAST(0 AS HUGEINT)) >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS simhash
        |  FROM corpus c LEFT JOIN sim s ON c.doc_id = s.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "q_minhash_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+$', '') FROM documents),
        |tl AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM corpus),
        |shing AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_transform(range(1, len(toks) - 1),
        |        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [array_to_string(toks, ' ')] END AS shs
        |  FROM tl),
        |sh AS (SELECT doc_id, unnest(shs) AS s FROM shing),
        |shh AS (
        |  SELECT DISTINCT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s)+1),
        |        i -> CAST(unicode(substr(s, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS h
        |  FROM sh),
        |m1 AS (
        |  SELECT doc_id, j,
        |    (h + (((((CAST(j AS HUGEINT) + 1) // CAST('4294967296' AS HUGEINT)) * CAST('11400714819323198485' AS HUGEINT)) % CAST('4294967296' AS HUGEINT)) * CAST('4294967296' AS HUGEINT) + ((CAST(j AS HUGEINT) + 1) % CAST('4294967296' AS HUGEINT)) * CAST('11400714819323198485' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT))
        |      % CAST('18446744073709551616' AS HUGEINT) AS z1
        |  FROM shh, range(0, 32) r(j)),
        |m2 AS (SELECT doc_id, j, xor(z1, z1 // CAST('1073741824' AS HUGEINT)) AS t1 FROM m1),
        |m3 AS (SELECT doc_id, j, (((((t1) // CAST('4294967296' AS HUGEINT)) * CAST('13787848793156543929' AS HUGEINT)) % CAST('4294967296' AS HUGEINT)) * CAST('4294967296' AS HUGEINT) + ((t1) % CAST('4294967296' AS HUGEINT)) * CAST('13787848793156543929' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT) AS z2 FROM m2),
        |m4 AS (SELECT doc_id, j, xor(z2, z2 // CAST('134217728' AS HUGEINT)) AS t2 FROM m3),
        |m5 AS (SELECT doc_id, j, (((((t2) // CAST('4294967296' AS HUGEINT)) * CAST('10723151780598845931' AS HUGEINT)) % CAST('4294967296' AS HUGEINT)) * CAST('4294967296' AS HUGEINT) + ((t2) % CAST('4294967296' AS HUGEINT)) * CAST('10723151780598845931' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT) AS z3 FROM m4),
        |m6 AS (SELECT doc_id, j, xor(z3, z3 // CAST('2147483648' AS HUGEINT)) AS z4 FROM m5),
        |mh AS (
        |  SELECT doc_id, j,
        |    min(CAST(z4 - CASE WHEN z4 >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)) AS m
        |  FROM m6 GROUP BY doc_id, j),
        |sigs AS (SELECT doc_id, list(m ORDER BY j) AS minhashes FROM mh GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, b, minhashes[b*4+1 : b*4+4] AS band_sig
        |  FROM sigs, range(0, 8) r(b)),
        |buckets AS (
        |  SELECT b, band_sig, list(doc_id) AS ids FROM bands GROUP BY b, band_sig
        |  HAVING len(list(doc_id)) BETWEEN 2 AND 1000),
        |pairs AS (
        |  SELECT DISTINCT ia.a AS id_a, ib.b AS id_b
        |  FROM buckets, unnest(ids) ia(a), unnest(ids) ib(b)
        |  WHERE ia.a < ib.b),
        |shsets AS (SELECT doc_id, list(DISTINCT h) AS sset FROM shh GROUP BY doc_id)
        |SELECT p.id_a, p.id_b,
        |  round(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.sset, b.sset))) AS DOUBLE), 6) AS jaccard
        |FROM pairs p JOIN shsets a ON p.id_a = a.doc_id JOIN shsets b ON p.id_b = b.doc_id
        |WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.sset, b.sset))) AS DOUBLE) >= 0.5""".stripMargin,

    "q_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
        |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, value, ts_ms,
        |         CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM marked),
        |numbered AS (
        |  SELECT user_id, value, ts_ms,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM numbered GROUP BY user_id, session_id""".stripMargin,

    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab)
        |SELECT doc_id,
        |       round(avg(-ln(CAST(c AS DOUBLE) / n)), 4) AS nll
        |FROM toks JOIN vocab USING (tok), tot
        |GROUP BY doc_id""".stripMargin,

    // Gopher rules: every signal replayed verbatim — token counts via
    // the same RE2 regexes, line fractions over chr(10) splits
    // (str_split keeps trailing empties like Spark's split(limit=-1)),
    // and the keep verdict on the unrounded IEEE doubles
    "q_gopher_rules" ->
      """WITH sig AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS n,
        |    CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |      CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |      CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END AS mwl,
        |    CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) /
        |      CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END AS symr,
        |    CAST(len(list_filter(str_split(text, chr(10)),
        |           l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE) /
        |      CAST(len(str_split(text, chr(10))) AS DOUBLE) AS bullf,
        |    CAST(len(list_filter(str_split(text, chr(10)),
        |           l -> regexp_matches(l, '\.\.\.\s*$'))) AS DOUBLE) /
        |      CAST(len(str_split(text, chr(10))) AS DOUBLE) AS ellf,
        |    CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS DOUBLE) /
        |      CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END AS alphf,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|be|to|of|and|that|have|with)\b')) AS stops
        |  FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        |  round(mwl, 6) AS mean_word_len,
        |  round(symr, 6) AS symbol_word_ratio,
        |  round(bullf, 6) AS bullet_line_frac,
        |  round(ellf, 6) AS ellipsis_line_frac,
        |  round(alphf, 6) AS alpha_word_frac,
        |  CAST(stops AS BIGINT) AS stop_hits,
        |  (n BETWEEN 10 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |   AND symr <= 0.1 AND bullf <= 0.9 AND ellf <= 0.3
        |   AND alphf >= 0.8 AND stops >= 2) AS keep
        |FROM sig""".stripMargin,

    // Gopher repetition battery: grams rebuilt as lateral
    // range-windows joined by single spaces (the kernel's tokenizer
    // canonicalization), per-(doc, n, gram) counts, the top gram
    // picked by the kernel's total (count, len, lexicographic) order,
    // dup sums filtered to count>=2; every signal is one exact
    // integer-ratio IEEE division, so the keep verdict on the
    // UNROUNDED values replays bitwise
    "q_gopher_rep" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t,
        |         CAST(length(text) AS DOUBLE) AS total
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, n, total, unnest(gs) AS gram FROM (
        |    SELECT doc_id, rn.n AS n, total,
        |      list_transform(range(1, len(t) - rn.n + 2),
        |        i -> array_to_string(t[i : i + rn.n - 1], ' ')) AS gs
        |    FROM toks, range(2, 11) rn(n))),
        |gc AS (
        |  SELECT doc_id, n, gram, any_value(total) AS total,
        |         count(*) AS c, length(gram) AS gl
        |  FROM grams GROUP BY doc_id, n, gram),
        |top AS (
        |  SELECT doc_id, n, c * gl / total AS f,
        |         row_number() OVER (PARTITION BY doc_id, n
        |           ORDER BY c DESC, gl DESC, gram ASC) AS rn
        |  FROM gc WHERE n <= 4),
        |dup AS (
        |  SELECT doc_id, n,
        |         coalesce(sum(c * gl) FILTER (WHERE c >= 2), 0) / any_value(total) AS f
        |  FROM gc WHERE n >= 5 GROUP BY doc_id, n),
        |sig AS (
        |  SELECT doc_id, n, f FROM top WHERE rn = 1
        |  UNION ALL SELECT doc_id, n, f FROM dup),
        |wide AS (
        |  SELECT d.doc_id,
        |    coalesce(max(CASE WHEN n = 2 THEN f END), 0.0) AS f2,
        |    coalesce(max(CASE WHEN n = 3 THEN f END), 0.0) AS f3,
        |    coalesce(max(CASE WHEN n = 4 THEN f END), 0.0) AS f4,
        |    coalesce(max(CASE WHEN n = 5 THEN f END), 0.0) AS f5,
        |    coalesce(max(CASE WHEN n = 6 THEN f END), 0.0) AS f6,
        |    coalesce(max(CASE WHEN n = 7 THEN f END), 0.0) AS f7,
        |    coalesce(max(CASE WHEN n = 8 THEN f END), 0.0) AS f8,
        |    coalesce(max(CASE WHEN n = 9 THEN f END), 0.0) AS f9,
        |    coalesce(max(CASE WHEN n = 10 THEN f END), 0.0) AS f10
        |  FROM documents d LEFT JOIN sig ON sig.doc_id = d.doc_id
        |  GROUP BY d.doc_id)
        |SELECT doc_id,
        |  round(f2, 6) AS top_2gram_char_frac,
        |  round(f3, 6) AS top_3gram_char_frac,
        |  round(f4, 6) AS top_4gram_char_frac,
        |  round(f5, 6) AS dup_5gram_char_frac,
        |  round(f6, 6) AS dup_6gram_char_frac,
        |  round(f7, 6) AS dup_7gram_char_frac,
        |  round(f8, 6) AS dup_8gram_char_frac,
        |  round(f9, 6) AS dup_9gram_char_frac,
        |  round(f10, 6) AS dup_10gram_char_frac,
        |  f2 <= 0.20 AND f3 <= 0.18 AND f4 <= 0.16 AND f5 <= 0.15 AND
        |  f6 <= 0.14 AND f7 <= 0.13 AND f8 <= 0.12 AND f9 <= 0.11 AND
        |  f10 <= 0.10 AS keep
        |FROM wide""".stripMargin,

    // CCNet buckets: the q_lm_score NLL replay + per-language
    // quantile_cont tercile cutoffs (the proven percentile parity of
    // q_value_quantiles) + the same <= comparisons on rounded NLLs
    "q_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab),
        |nll AS (
        |  SELECT doc_id, round(avg(-ln(CAST(c AS DOUBLE) / n)), 4) AS nll
        |  FROM toks JOIN vocab USING (tok), tot
        |  GROUP BY doc_id),
        |scored AS (
        |  SELECT d.lang, x.doc_id, x.nll
        |  FROM nll x JOIN documents d USING (doc_id)),
        |cuts AS (
        |  SELECT lang, quantile_cont(nll, 1.0/3) AS q1,
        |         quantile_cont(nll, 2.0/3) AS q2
        |  FROM scored GROUP BY lang)
        |SELECT doc_id, lang, nll,
        |  CASE WHEN nll <= q1 THEN 'head'
        |       WHEN nll <= q2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored JOIN cuts USING (lang)""".stripMargin,

    "q_zorder" ->
      """WITH base AS (
        |  SELECT o_orderkey, CAST(o_custkey AS HUGEINT) AS a,
        |         CAST(datediff('day', DATE '1970-01-01',
        |                       CAST(o_orderdate AS DATE)) AS HUGEINT) AS b
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(range(0, 32), i ->
        |        ((a // CAST(power(2, i) AS HUGEINT)) % 2) * CAST(power(2, 2*i) AS HUGEINT) +
        |        ((b // CAST(power(2, i) AS HUGEINT)) % 2) * CAST(power(2, 2*i+1) AS HUGEINT))),
        |    (x, y) -> x + y) AS BIGINT) AS z
        |FROM base""".stripMargin,

    "q_scd2_versions" ->
      """WITH chg AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |         max(o_totalprice) AS price
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, d AS valid_from,
        |       lead(d) OVER (PARTITION BY o_custkey ORDER BY d) AS valid_to,
        |       price
        |FROM chg""".stripMargin,

    "q_corpus_mix" ->
      """WITH h AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    ((CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)
        |      % 1000) + 1000) % 1000 AS hb
        |  FROM h)
        |SELECT doc_id, 'web' AS source FROM m
        |WHERE doc_id % 2 = 0 AND hb < 900
        |UNION ALL
        |SELECT doc_id, 'synthetic' AS source FROM m
        |WHERE doc_id % 2 = 1 AND hb < 300""".stripMargin,

    "q_split_assign" ->
      """WITH h AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    ((CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)
        |      % 100) + 100) % 100 AS hm
        |  FROM h)
        |SELECT doc_id,
        |  CASE WHEN hm < 90 THEN 'train'
        |       WHEN hm < 95 THEN 'validation' ELSE 'test' END AS split
        |FROM m""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  (CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 4096 AS seq_id
        |FROM d""".stripMargin,

    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |snaps AS (
        |  SELECT user_id, ts_ms AS snap_ms, max(value) AS snap_value
        |  FROM ev WHERE event_id % 10 = 0 GROUP BY user_id, ts_ms),
        |pts AS (
        |  SELECT event_id, user_id, ts_ms FROM ev WHERE event_id % 10 <> 0)
        |SELECT p.event_id, p.user_id, p.ts_ms,
        |       s.snap_ms AS matched_snap_ms, s.snap_value
        |FROM pts p ASOF LEFT JOIN snaps s
        |  ON p.user_id = s.user_id AND p.ts_ms >= s.snap_ms""".stripMargin,

    // the Spark side is literally ASOF LEFT JOIN SQL too (AsOfSqlParser)
    "q_asof_sql" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |snaps AS (
        |  SELECT user_id, ts_ms AS snap_ms, max(value) AS snap_value
        |  FROM ev WHERE event_id % 10 = 0 GROUP BY user_id, ts_ms),
        |pts AS (
        |  SELECT event_id, user_id, ts_ms FROM ev WHERE event_id % 10 <> 0)
        |SELECT p.event_id, p.user_id, p.ts_ms,
        |       s.snap_ms AS matched_snap_ms, s.snap_value
        |FROM pts p ASOF LEFT JOIN snaps s
        |  ON p.user_id = s.user_id AND p.ts_ms >= s.snap_ms""".stripMargin,

    "q_range_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
        |wins AS (
        |  SELECT event_id AS window_id, user_id, ts_ms AS start_ms,
        |         ts_ms + 7200000 AS end_ms
        |  FROM ev WHERE event_id % 10 = 0),
        |pts AS (
        |  SELECT event_id, user_id, ts_ms FROM ev WHERE event_id % 10 <> 0)
        |SELECT p.event_id, p.user_id, w.window_id, p.ts_ms, w.start_ms
        |FROM pts p JOIN wins w
        |  ON p.user_id = w.user_id
        | AND p.ts_ms BETWEEN w.start_ms AND w.end_ms""".stripMargin,

    // lag floors EACH side to whole seconds (Spark's unix_timestamp
    // semantics) before differencing — epoch() keeps sub-second
    // fractions and differencing first shifts some lags by 1
    "q_correlate" ->
      """SELECT c.user_id, c.event_id AS l_id, p.event_id AS r_id,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) -
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS lag_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts - INTERVAL 5 MINUTES
        | AND p.ts <= c.ts + INTERVAL 5 MINUTES
        | AND c.event_id <> p.event_id""".stripMargin,

    // z from integer power sums (n, Σc, Σc²) — spelled with the same
    // division/multiply/sqrt order as the engine so the doubles and
    // the unrounded |z| >= 2 flag replay exactly
    "q_rate_anomalies" ->
      """WITH b AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |         event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type AS t, count(*) AS nb, sum(n_events) AS s,
        |         sum(n_events * n_events) AS ss
        |  FROM b GROUP BY 1),
        |sc AS (
        |  SELECT b.event_type, b.hour_epoch, b.n_events,
        |    CAST(st.s AS DOUBLE) / CAST(st.nb AS DOUBLE) AS mean,
        |    CAST(st.ss AS DOUBLE) / CAST(st.nb AS DOUBLE) -
        |      (CAST(st.s AS DOUBLE) / CAST(st.nb AS DOUBLE)) *
        |      (CAST(st.s AS DOUBLE) / CAST(st.nb AS DOUBLE)) AS var
        |  FROM b JOIN st ON b.event_type = st.t),
        |z AS (
        |  SELECT event_type, hour_epoch, n_events, mean,
        |    CASE WHEN var > 0
        |         THEN (CAST(n_events AS DOUBLE) - mean) / sqrt(var)
        |         ELSE 0.0 END AS zs
        |  FROM sc)
        |SELECT event_type, hour_epoch, CAST(n_events AS BIGINT) AS n_events,
        |  round(mean, 4) AS expected_rate, round(zs, 4) AS z_score,
        |  abs(zs) >= 2.0 AS is_anomaly
        |FROM z""".stripMargin,

    "q_window_agg" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_staging" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_custkey""".stripMargin,

    "q_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the salted join is row-exact vs the plain join by construction,
    // so the oracle is the unsalted join + the same aggregate
    "q_skew_join" ->
      """WITH d AS (
        |  SELECT event_type, count(*) AS type_n FROM events GROUP BY event_type)
        |SELECT e.event_type, d.type_n, count(*) AS n_events,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events e JOIN d ON e.event_type = d.event_type
        |GROUP BY e.event_type, d.type_n""".stripMargin,

    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_top_revenue" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    // fnv64 HUGEINT replay (the q_stratified_sample template) as the
    // ORDERING hash: signed-long conversion makes DuckDB's BIGINT sort
    // agree with Spark's, doc_id breaks ties, row_number caps at 10
    "q_source_cap" ->
      """WITH h AS (
        |  SELECT doc_id, source, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source,
        |    CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT)
        |        ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |  FROM h),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
        |      FROM s)
        |SELECT doc_id, source FROM r WHERE rn <= 10""".stripMargin,

    // the identical page synthesis + the identical regex chain; the
    // one-pass entity kernel replays as ordered literal replaces over
    // the PLANTED references (all disjoint): the double-escaped
    // '&amp;#777;' first (its output '&#777;' matches no later rule),
    // numeric/named refs via chr(), '&amp;' LAST so literal
    // "&amp;lt;" renders as "&lt;"
    "q_html_extract" ->
      """WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id ||
        |    '</title><style type="text/css">p { color: red; }</style>' ||
        |    '<script>if (1 < 2) { var x = "&amp;"; }</script></head>' ||
        |    '<body><!-- strip me --><h1>Title</h1><p class="main">' || text ||
        |    '</p><div>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&#39;&nbsp;end</div>' ||
        |    '<div>caf&#233; r&#xE9;sum&#xE9; curly&#X2019; dash&#151; ' ||
        |    'nul&#0; big&#x110000; sur&#xD800; trunc&#12 dbl&amp;#777; ' ||
        |    'unk&unknown; acc&eacute;nt ell&hellip;</div></body></html>' AS h
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |    replace(replace(replace(replace(replace(replace(replace(
        |    replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
        |        '(?is)<script[^>]*>.*?</script>', '', 'g'),
        |        '(?is)<style[^>]*>.*?</style>', '', 'g'),
        |        '(?s)<!--.*?-->', '', 'g'),
        |        '(?s)<[^>]*>', ' ', 'g'),
        |      '&amp;#777;', '&#777;'),
        |      '&#233;', chr(233)), '&#xE9;', chr(233)),
        |      '&#X2019;', chr(8217)), '&#151;', chr(8212)),
        |      '&#0;', chr(65533)), '&#x110000;', chr(65533)),
        |      '&#xD800;', chr(65533)),
        |      '&eacute;', chr(233)), '&hellip;', chr(8230)),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \t\n\x0b\f\r]+', ' ', 'g')) AS clean_text
        |FROM page""".stripMargin,

    // the identical chain, block by block: the same pre-strip, the
    // same block-tag split (WebText.BlockTagRegex spliced verbatim),
    // the same visible-text and anchor-text derivations, the same
    // length/link-density rule (integer compares), string_agg in
    // block order == the kernel's document-order join
    "q_main_content" ->
      s"""WITH page AS (
         |  SELECT doc_id, $sqlMainContentPage AS h FROM documents),
         |pre AS (
         |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(h,
         |    '(?is)<script[^>]*>.*?</script>', '', 'g'),
         |    '(?is)<style[^>]*>.*?</style>', '', 'g'),
         |    '(?s)<!--.*?-->', '', 'g') AS p
         |  FROM page),
         |blk AS (
         |  SELECT doc_id, i, bs[i] AS b
         |  FROM (SELECT doc_id, regexp_split_to_array(p,
         |          '${graft.functions.WebText.BlockTagRegex}') AS bs
         |        FROM pre),
         |       unnest(generate_series(1, len(bs))) g(i)),
         |vis AS (
         |  SELECT doc_id, i,
         |    ${sqlVisibleOf("b")} AS t,
         |    ${sqlVisibleOf(
      // coalesce: DuckDB's array_to_string over an EMPTY list is NULL,
      // which would poison the density compare for anchor-free blocks
      "coalesce(array_to_string(regexp_extract_all(b, " +
        "'(?is)<a(\\s[^>]*)?>(.*?)</a>', 2), ' '), '')")}
         |      AS a
         |  FROM blk),
         |cls AS (
         |  SELECT doc_id, i, t,
         |    length(t) >= 25 AND 2 * length(a) <= length(t) AS good
         |  FROM vis WHERE t <> '')
         |SELECT doc_id, CAST(count(*) AS INT) AS n_blocks,
         |  CAST(count(*) FILTER (WHERE good) AS INT) AS n_good,
         |  coalesce(string_agg(CASE WHEN good THEN t END, chr(10)
         |    ORDER BY i), '') AS main_text
         |FROM cls GROUP BY doc_id""".stripMargin,

    "q_word_filter" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '(?i)\b(spam|casino|lottery|the)\b')) AS INT) AS hits,
        |  len(regexp_extract_all(text, '(?i)\b(spam|casino|lottery|the)\b')) = 0 AS kept
        |FROM documents""".stripMargin,

    // the INDEPENDENT truth table for the planted residues — stronger
    // than a regex replay: noindex for the planted-noindex (0),
    // `none` (2), two-tag-union (5), unquoted (6) and unquoted-list
    // (7) pages; nofollow for (1), (2), (5) and (7); nothing for the
    // tagless (3) and explicit index,follow (4) pages
    "q_meta_robots" ->
      """SELECT doc_id,
        |  doc_id % 8 IN (0, 2, 5, 6, 7) AS noindex,
        |  doc_id % 8 IN (1, 2, 5, 7) AS nofollow
        |FROM documents""".stripMargin,

    // the INDEPENDENT truth table for the planted header residues:
    // noindex for plain (0), scoped-to-us (2), none (5), and the
    // two-header union (6); nofollow for the list (1), none (5), and
    // the union (6); nothing for scoped-to-other (3), the
    // unavailable_after trap (4), and absence (7)
    "q_xrobots" ->
      """SELECT doc_id,
        |  doc_id % 8 IN (0, 2, 5, 6) AS noindex,
        |  doc_id % 8 IN (1, 5, 6) AS nofollow
        |FROM documents""".stripMargin,

    // full RFC-9309 replay: line/group parse as windows, group
    // selection (specific beats *), regex compilation of each rule
    // (identical escape class / '*'→'.*' / trailing-$ handling), and
    // the longest-match max-struct decision; bodies rendered from the
    // SAME robotsBodies list
    "q_robots_filter" -> qRobotsFilterOracle,

    // the same parse/selection chain harvesting the non-rule
    // directives: global sitemaps, selected-group crawl-delay
    "q_robots_meta" -> qRobotsMetaOracle,

    // the identical sitemap synthesis + block extraction replay:
    // <url>/<sitemap> blocks via the same tag-anchored regexes, pos
    // over the concatenated block order (urls first — one kind per
    // valid doc), the entity decode replayed as literal replaces of
    // the PLANTED references, loc-less blocks dropped AFTER pos
    // assignment, numeric-guarded priority cast, and the one-level
    // index recursion as a self-join through the fetched frame
    "q_sitemap_parse" ->
      """WITH f AS (
        |  SELECT doc_id, doc_id % 3 AS r,
        |    'https://smhost.example.com/sm/' || doc_id || '.xml' AS sitemap_url,
        |    'https://site' || doc_id || '.example.com' AS site
        |  FROM documents),
        |fx AS (
        |  SELECT doc_id, sitemap_url,
        |    CASE r WHEN 0 THEN
        |      '<?xml version="1.0" encoding="UTF-8"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        |      || '<url><loc> ' || site || '/p/0?a=1&amp;b=2 </loc><lastmod>2025-06-15</lastmod><changefreq>daily</changefreq><priority>0.8</priority></url>'
        |      || '<url><loc>' || site || '/p/1&#47;x</loc><lastmod>2024-03-01T12:30:00+00:00</lastmod></url>'
        |      || '<url><lastmod>2020-01-01</lastmod></url>'
        |      || '<url><loc>' || site || '/p/2</loc><priority>bogus</priority></url></urlset>'
        |    WHEN 1 THEN
        |      '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        |      || '<sitemap><loc>https://smhost.example.com/sm/' || (doc_id - 1) || '.xml</loc><lastmod>2025-01-02</lastmod></sitemap>'
        |      || '<sitemap><loc>https://smhost.example.com/sm/' || (doc_id + 2) || '.xml</loc></sitemap>'
        |      || '<sitemap><loc>https://unfetched.example.com/other.xml</loc></sitemap></sitemapindex>'
        |    ELSE '<urlset><url><loc>' || site || '/only</loc></url></urlset>'
        |    END AS xml
        |  FROM f),
        |bl AS (
        |  SELECT doc_id, sitemap_url,
        |    regexp_extract_all(xml, '(?is)<url\b[^>]*>(.*?)</url\s*>', 1) AS us,
        |    regexp_extract_all(xml, '(?is)<sitemap\b[^>]*>(.*?)</sitemap\s*>', 1) AS ss
        |  FROM fx),
        |eu AS (
        |  SELECT doc_id, sitemap_url, CAST(i - 1 AS INT) AS pos,
        |    'url' AS kind, us[i] AS b
        |  FROM bl, unnest(generate_series(1, len(us))) AS g(i)
        |  UNION ALL
        |  SELECT doc_id, sitemap_url, CAST(len(us) + i - 1 AS INT) AS pos,
        |    'sitemap' AS kind, ss[i] AS b
        |  FROM bl, unnest(generate_series(1, len(ss))) AS g(i)),
        |ee AS (
        |  SELECT doc_id, sitemap_url, pos, kind,
        |    NULLIF(regexp_extract(b, '(?is)<loc\b[^>]*>\s*(.*?)\s*</loc\s*>', 1), '') AS loc0,
        |    replace(replace(loc0, '&#47;', '/'), '&amp;', '&') AS loc,
        |    NULLIF(regexp_extract(b, '(?is)<lastmod\b[^>]*>\s*(.*?)\s*</lastmod\s*>', 1), '') AS lastmod,
        |    NULLIF(regexp_extract(b, '(?is)<changefreq\b[^>]*>\s*(.*?)\s*</changefreq\s*>', 1), '') AS changefreq,
        |    NULLIF(regexp_extract(b, '(?is)<priority\b[^>]*>\s*(.*?)\s*</priority\s*>', 1), '') AS p0,
        |    CASE WHEN regexp_matches(p0, '^[0-9]+(\.[0-9]+)?$')
        |      THEN CAST(p0 AS DOUBLE) END AS priority
        |  FROM eu),
        |e2 AS (SELECT * FROM ee WHERE loc IS NOT NULL),
        |d0 AS (
        |  SELECT CAST(regexp_extract(sitemap_url, '/sm/([0-9]+)\.xml$', 1) AS BIGINT) AS root_doc,
        |    CAST(0 AS INT) AS depth, pos, loc AS url, lastmod, changefreq, priority
        |  FROM e2 WHERE kind = 'url'),
        |d1 AS (
        |  SELECT CAST(regexp_extract(e.sitemap_url, '/sm/([0-9]+)\.xml$', 1) AS BIGINT) AS root_doc,
        |    CAST(1 AS INT) AS depth, c.pos, c.loc AS url, c.lastmod,
        |    c.changefreq, c.priority
        |  FROM e2 e
        |  JOIN fx f2 ON e.kind = 'sitemap' AND e.loc = f2.sitemap_url
        |  JOIN e2 c ON c.doc_id = f2.doc_id AND c.kind = 'url')
        |SELECT * FROM d0 UNION ALL SELECT * FROM d1""".stripMargin,

    // identical regexp_extract_all (tag-anchored, three value forms)
    // + conditional quote-strip + RFC 3986 resolution replay +
    // http(s) filter; pos is the ordinality over ALL hrefs (the
    // fragment-only link holds a position even though it is dropped)
    "q_link_extract" ->
      s"""WITH $sqlLinkItemsCtes
         |SELECT doc_id, pos, url FROM abslinks""".stripMargin,

    // the composed crawl chain: extraction + relative resolution →
    // host/site rollup (the q_url_parse replay) → DISTINCT site pairs
    // → fnv64 node ids → the shared PageRank rounds → name join-back,
    // top 50
    "q_domain_rank" -> {
      s"""WITH $sqlLinkItemsCtes,
         |ss AS (
         |  SELECT doc_id,
         |    ${sqlSiteOf(sqlHostOf(s"($sqlSyntheticUrl)"))} AS src_site
         |  FROM documents),
         |ds AS (
         |  SELECT doc_id, ${sqlSiteOf(sqlHostOf("url"))} AS dst_site
         |  FROM abslinks),
         |sedges AS MATERIALIZED (
         |  SELECT src_site, dst_site FROM ss JOIN ds USING (doc_id)
         |  WHERE src_site <> '' AND dst_site <> ''),
         |pairs AS (SELECT DISTINCT src_site, dst_site FROM sedges),
         |edges AS MATERIALIZED (
         |  SELECT ${sqlFnvSigned("src_site")} AS src,
         |         ${sqlFnvSigned("dst_site")} AS dst
         |  FROM pairs),
         |nodes AS MATERIALIZED (
         |  SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |${sqlPageRankRounds(5)},
         |names AS (
         |  SELECT site, ${sqlFnvSigned("site")} AS id FROM (
         |    SELECT DISTINCT src_site AS site FROM sedges
         |    UNION SELECT DISTINCT dst_site FROM sedges) u)
         |SELECT n.site, r.rank AS rank_micro
         |FROM r5 r JOIN names n ON n.id = r.id
         |ORDER BY rank_micro DESC, site LIMIT 50""".stripMargin
    },

    "q_url_parse" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 11 = 0 THEN 'user:pw@' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
        |    'u' || (doc_id % 7) || '.host' || (doc_id % 13) ||
        |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
        |         WHEN doc_id % 3 = 1 THEN '.org' ELSE '.com' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
        |    '/p/' || doc_id || '?ref=rss#top' AS url
        |  FROM documents),
        |hh AS (
        |  SELECT doc_id, regexp_replace(
        |    regexp_extract(lower(url),
        |      '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([a-z0-9.-]+)', 1),
        |    '^www\.', '') AS host
        |  FROM u)
        |SELECT doc_id, host,
        |  CASE WHEN regexp_matches(host, '\.(co|ac|gov|com|org|net)\.(uk|au|nz|jp|br|in)$')
        |    THEN regexp_extract(host, '([a-z0-9-]+\.[a-z0-9-]+\.[a-z0-9-]+)$', 1)
        |    ELSE regexp_extract(host, '([a-z0-9-]+\.[a-z0-9-]+)$', 1) END AS site
        |FROM hh""".stripMargin,

    // URL canonicalization: identical regex/array chain — fragment
    // strip, scheme/authority lowercase, default-port strip, tracking
    // params filtered via the same pattern, list_sort == array_sort
    // (binary collation both engines), trailing-slash strip
    "q_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN 'User:PW@' ELSE '' END ||
        |    'WWW.Example' || (doc_id % 5) || '.COM' ||
        |    CASE WHEN doc_id % 3 = 0 THEN ':443'
        |         WHEN doc_id % 3 = 1 THEN ':80' ELSE '' END ||
        |    '/Path/To/Item' ||
        |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |    '?b=2&utm_source=feed&a=1' ||
        |    CASE WHEN doc_id % 7 = 0 THEN '&ref=home&z=9' ELSE '' END ||
        |    '#frag' || doc_id AS url
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id, url,
        |    regexp_replace(url, '#.*$', '') AS nofrag
        |  FROM u),
        |s2 AS (
        |  SELECT doc_id, url,
        |    regexp_replace(nofrag, '\?.*$', '') AS base,
        |    regexp_extract(nofrag, '\?(.*)$', 1) AS q
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id, url, base, q,
        |    regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS pre
        |  FROM s2),
        |s3b AS (
        |  SELECT doc_id, url, base, q, pre,
        |    lower(regexp_extract(pre, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_extract(pre, '^[A-Za-z][A-Za-z0-9+.-]*://([^/@]*@)', 1) AS userinfo,
        |    lower(regexp_extract(pre, '://(?:[^/@]*@)?([^/?#]*)$', 1)) AS hostport
        |  FROM s3),
        |s4 AS (
        |  SELECT doc_id, url,
        |    scheme || '://' || userinfo ||
        |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |           ELSE hostport END AS pre_lc,
        |    regexp_replace(substr(base, length(pre) + 1), '/+$', '') AS rest,
        |    list_sort(list_filter(string_split(q, '&'), p ->
        |      NOT regexp_matches(p, '^(utm_[a-z0-9]*|gclid|fbclid|msclkid|ref)=')
        |      AND p <> '')) AS params
        |  FROM s3b)
        |SELECT doc_id, url,
        |  pre_lc || rest ||
        |  CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
        |       ELSE '' END AS canon
        |FROM s4""".stripMargin,

    // interpolated-bigram NLL: identical count tables, identical
    // lambda arithmetic (0.75 / 0.25 are exact dyadic rationals),
    // identical -ln fold; docs with <2 tokens drop on both sides
    "q_lm_score2" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS ts FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(ts) AS w FROM tk) u GROUP BY w),
        |tot AS (SELECT sum(c) AS n FROM uni),
        |bi AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM tk, unnest(generate_series(1, len(ts)-1)) u(i)
        |  WHERE len(ts) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
        |sc AS (
        |  SELECT b.doc_id,
        |    -ln(CAST(0.75 AS DOUBLE) * (CAST(bc.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE)) +
        |        CAST(0.25 AS DOUBLE) * (CAST(u2.c AS DOUBLE) / CAST(t.n AS DOUBLE))) AS nll
        |  FROM bi b
        |  JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        |  JOIN uni u1 ON b.w1 = u1.w
        |  JOIN uni u2 ON b.w2 = u2.w, tot t)
        |SELECT doc_id, round(avg(nll), 4) AS nll2 FROM sc GROUP BY doc_id""".stripMargin,

    // splitmix64(fnv64(text) + epoch·golden) replayed in HUGEINT,
    // signed-long conversion so the rank order equals Spark's BIGINT
    // sort, doc_id breaks (never-observed) collision ties
    "q_epoch_shuffle" ->
      s"""WITH h AS (SELECT doc_id, ${sqlFnvRaw("text")} AS h FROM documents),
         |es AS (SELECT CAST(1 AS BIGINT) AS epoch UNION ALL SELECT 2),
         |g0e AS (
         |  SELECT e.epoch, h.doc_id,
         |    (xor(h.h, (CAST(e.epoch AS HUGEINT) * $sqlGolden) % $sqlMod) + $sqlGolden)
         |      % $sqlMod AS z0e
         |  FROM h, es e),
         |${sqlMixChain("e", "epoch, doc_id")},
         |kk AS (
         |  SELECT epoch, doc_id,
         |    CAST(z4 - CASE WHEN z4 >= CAST('9223372036854775808' AS HUGEINT)
         |      THEN $sqlMod ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS k
         |  FROM g5e)
         |SELECT epoch, doc_id,
         |  row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS pos
         |FROM kk""".stripMargin,

    // the q_ann_lsh plane grid at (1 table, 16 bits) = the JL matrix;
    // projection = inner product / sqrt(k), rounded at 6 like the
    // cosine oracles
    "q_rp_reduce" ->
      s"""WITH ${sqlPlanesCte(1, 16, 64, 42)},
         |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT e.vec_id, CAST(p.b AS INT) AS d,
         |  round(list_inner_product(e.v, p.pl) / sqrt(CAST(16 AS DOUBLE)), 6) AS val
         |FROM ev e, planes p""".stripMargin,

    // full PQ replay: the mix64-ordered init sample sliced into 4
    // subspaces of 16 dims, one Lloyd round (L2 argmin via the same
    // sequential (u-c)² fold as the kernel, rank-tie on j; empty cells
    // keep init), re-encode under the updated codebooks, per-query
    // LUT inner products, ADC score as the s-ORDERED list_sum fold
    "q_pq_topk" ->
      s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |g0m AS (SELECT vec_id, (CAST(vec_id AS HUGEINT) + $sqlGolden) % $sqlMod AS z0m FROM ev),
         |${sqlMixChain("m", "vec_id")},
         |hv AS (SELECT vec_id, CAST(z4 - CASE WHEN z4 >= CAST('9223372036854775808' AS HUGEINT)
         |    THEN $sqlMod ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS h FROM g5m),
         |ordered AS (
         |  SELECT e.vec_id, e.v, row_number() OVER (ORDER BY h.h, e.vec_id) - 1 AS cell
         |  FROM ev e JOIN hv h ON e.vec_id = h.vec_id),
         |init AS (SELECT cell AS j, v FROM ordered WHERE cell < 8),
         |grid AS (SELECT CAST(s AS INT) AS s FROM range(0,4) r(s)),
         |b0 AS (SELECT g.s, i.j, list_transform(range(1,17), d -> i.v[g.s*16 + d]) AS cv
         |       FROM init i, grid g),
         |sub AS (SELECT e.vec_id, g.s, list_transform(range(1,17), d -> e.v[g.s*16 + d]) AS sv
         |        FROM ev e, grid g),
         |d0 AS (SELECT u.vec_id, u.s, b.j,
         |    list_sum(list_transform(range(1,17), i -> (u.sv[i]-b.cv[i])*(u.sv[i]-b.cv[i]))) AS dist
         |  FROM sub u JOIN b0 b ON u.s = b.s),
         |a0 AS (SELECT vec_id, s, j,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM d0),
         |asg0 AS (SELECT vec_id, s, j FROM a0 WHERE rn = 1),
         |m0 AS (SELECT a.s, a.j, r.d, avg(u.sv[r.d]) AS mval
         |  FROM asg0 a JOIN sub u ON a.vec_id = u.vec_id AND a.s = u.s, range(1,17) r(d)
         |  GROUP BY a.s, a.j, r.d),
         |b1 AS (SELECT b.s, b.j, list(coalesce(m.mval, b.cv[r.d]) ORDER BY r.d) AS cv
         |  FROM b0 b CROSS JOIN range(1,17) r(d)
         |  LEFT JOIN m0 m ON m.s = b.s AND m.j = b.j AND m.d = r.d
         |  GROUP BY b.s, b.j),
         |d1 AS (SELECT u.vec_id, u.s, b.j,
         |    list_sum(list_transform(range(1,17), i -> (u.sv[i]-b.cv[i])*(u.sv[i]-b.cv[i]))) AS dist
         |  FROM sub u JOIN b1 b ON u.s = b.s),
         |a1 AS (SELECT vec_id, s, j,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM d1),
         |codes AS (SELECT vec_id, s, j FROM a1 WHERE rn = 1),
         |lut AS (SELECT q.vec_id AS query_id, b.s, b.j, list_inner_product(q.sv, b.cv) AS ip
         |  FROM sub q JOIN b1 b ON q.s = b.s WHERE q.vec_id < 5),
         |sc AS (SELECT l.query_id, c.vec_id, list_sum(list(l.ip ORDER BY l.s)) AS score
         |  FROM codes c JOIN lut l ON c.s = l.s AND c.j = l.j AND c.vec_id <> l.query_id
         |  GROUP BY l.query_id, c.vec_id),
         |ranked AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM sc)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
         |FROM ranked WHERE rank <= 3""".stripMargin,

    // IVFPQ = the q_ann_ivf probe chain (centroids c1, assignment,
    // nprobe probes) + the q_pq_topk codebook chain (pb0→pb1, codes,
    // LUT) composed over the SHARED mix64-ordered sample (`ordered`):
    // candidates come from the probed cells, scores from the s-ordered
    // ADC LUT sum — both replayed bitwise
    "q_ann_ivfpq" ->
      s"""WITH $sqlIvfCentroidsCte,
         |pr AS (
         |  SELECT e.vec_id AS query_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
         |  FROM ev e CROSS JOIN c1 c WHERE e.vec_id < 5),
         |probes AS (SELECT query_id, cell FROM pr WHERE rn <= 6),
         |av AS (
         |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
         |  FROM ev e CROSS JOIN c1 c),
         |idx AS (SELECT vec_id, cell FROM av WHERE rn = 1),
         |pinit AS (SELECT cell AS j, v FROM ordered WHERE cell < 8),
         |grid AS (SELECT CAST(s AS INT) AS s FROM range(0,4) r(s)),
         |pb0 AS (SELECT g.s, i.j, list_transform(range(1,17), d -> i.v[g.s*16 + d]) AS cv
         |       FROM pinit i, grid g),
         |sub AS (SELECT e.vec_id, g.s, list_transform(range(1,17), d -> e.v[g.s*16 + d]) AS sv
         |        FROM ev e, grid g),
         |pd0 AS (SELECT u.vec_id, u.s, b.j,
         |    list_sum(list_transform(range(1,17), i -> (u.sv[i]-b.cv[i])*(u.sv[i]-b.cv[i]))) AS dist
         |  FROM sub u JOIN pb0 b ON u.s = b.s),
         |pa0 AS (SELECT vec_id, s, j,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM pd0),
         |pasg0 AS (SELECT vec_id, s, j FROM pa0 WHERE rn = 1),
         |pm0 AS (SELECT a.s, a.j, r.d, avg(u.sv[r.d]) AS mval
         |  FROM pasg0 a JOIN sub u ON a.vec_id = u.vec_id AND a.s = u.s, range(1,17) r(d)
         |  GROUP BY a.s, a.j, r.d),
         |pb1 AS (SELECT b.s, b.j, list(coalesce(m.mval, b.cv[r.d]) ORDER BY r.d) AS cv
         |  FROM pb0 b CROSS JOIN range(1,17) r(d)
         |  LEFT JOIN pm0 m ON m.s = b.s AND m.j = b.j AND m.d = r.d
         |  GROUP BY b.s, b.j),
         |pd1 AS (SELECT u.vec_id, u.s, b.j,
         |    list_sum(list_transform(range(1,17), i -> (u.sv[i]-b.cv[i])*(u.sv[i]-b.cv[i]))) AS dist
         |  FROM sub u JOIN pb1 b ON u.s = b.s),
         |pa1 AS (SELECT vec_id, s, j,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM pd1),
         |pcodes AS (SELECT vec_id, s, j FROM pa1 WHERE rn = 1),
         |lut AS (SELECT q.vec_id AS query_id, b.s, b.j, list_inner_product(q.sv, b.cv) AS ip
         |  FROM sub q JOIN pb1 b ON q.s = b.s WHERE q.vec_id < 5),
         |cand AS (
         |  SELECT p.query_id, i.vec_id
         |  FROM probes p JOIN idx i ON p.cell = i.cell
         |  WHERE i.vec_id <> p.query_id),
         |sc AS (SELECT cd.query_id, cd.vec_id, list_sum(list(l.ip ORDER BY l.s)) AS score
         |  FROM cand cd JOIN pcodes c ON cd.vec_id = c.vec_id
         |  JOIN lut l ON c.s = l.s AND c.j = l.j AND l.query_id = cd.query_id
         |  GROUP BY cd.query_id, cd.vec_id),
         |ranked AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM sc)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
         |FROM ranked WHERE rank <= 3""".stripMargin,

    // residual IVFPQ: the q_ann_ivfpq chain with the PQ half moved to
    // residual space — the reference point is the CELL MEAN (cmv; the
    // cosine quantizer's centroids are normalized, so the mean is the
    // L2 center that shrinks within-cell variance), res = v − mean,
    // codebooks/codes from residual sub-vectors, LUTs from RAW query
    // sub-vectors, and the exact per-(query, probed cell) mean dot
    // added LAST (lut-sum + cdot, the engine's addition order)
    "q_ann_ivfpq2" ->
      s"""WITH $sqlIvfCentroidsCte,
         |pr AS (
         |  SELECT e.vec_id AS query_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
         |  FROM ev e CROSS JOIN c1 c WHERE e.vec_id < 5),
         |probes AS (SELECT query_id, cell FROM pr WHERE rn <= 6),
         |av AS (
         |  SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_inner_product(e.v, c.cv) DESC, c.cell) AS rn
         |  FROM ev e CROSS JOIN c1 c),
         |idx AS (SELECT vec_id, cell FROM av WHERE rn = 1),
         |cm AS (
         |  SELECT i.cell, r.d, avg(e.v[r.d+1]) AS m
         |  FROM idx i JOIN ev e USING (vec_id), range(0,64) r(d)
         |  GROUP BY i.cell, r.d),
         |cmv AS (SELECT cell, list(m ORDER BY d) AS mv FROM cm GROUP BY cell),
         |res AS (
         |  SELECT e.vec_id, list_transform(range(1,65), d -> e.v[d] - mm.mv[d]) AS v
         |  FROM ev e JOIN idx i USING (vec_id) JOIN cmv mm ON i.cell = mm.cell),
         |pinit AS (SELECT o.cell AS j, r.v FROM ordered o JOIN res r USING (vec_id)
         |          WHERE o.cell < 8),
         |grid AS (SELECT CAST(s AS INT) AS s FROM range(0,4) r(s)),
         |pb0 AS (SELECT g.s, i.j, list_transform(range(1,17), d -> i.v[g.s*16 + d]) AS cv
         |       FROM pinit i, grid g),
         |subr AS (SELECT r.vec_id, g.s, list_transform(range(1,17), d -> r.v[g.s*16 + d]) AS sv
         |        FROM res r, grid g),
         |subq AS (SELECT e.vec_id, g.s, list_transform(range(1,17), d -> e.v[g.s*16 + d]) AS sv
         |        FROM ev e, grid g WHERE e.vec_id < 5),
         |pd0 AS (SELECT u.vec_id, u.s, b.j,
         |    list_sum(list_transform(range(1,17), i -> (u.sv[i]-b.cv[i])*(u.sv[i]-b.cv[i]))) AS dist
         |  FROM subr u JOIN pb0 b ON u.s = b.s),
         |pa0 AS (SELECT vec_id, s, j,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM pd0),
         |pasg0 AS (SELECT vec_id, s, j FROM pa0 WHERE rn = 1),
         |pm0 AS (SELECT a.s, a.j, r.d, avg(u.sv[r.d]) AS mval
         |  FROM pasg0 a JOIN subr u ON a.vec_id = u.vec_id AND a.s = u.s, range(1,17) r(d)
         |  GROUP BY a.s, a.j, r.d),
         |pb1 AS (SELECT b.s, b.j, list(coalesce(m.mval, b.cv[r.d]) ORDER BY r.d) AS cv
         |  FROM pb0 b CROSS JOIN range(1,17) r(d)
         |  LEFT JOIN pm0 m ON m.s = b.s AND m.j = b.j AND m.d = r.d
         |  GROUP BY b.s, b.j),
         |pd1 AS (SELECT u.vec_id, u.s, b.j,
         |    list_sum(list_transform(range(1,17), i -> (u.sv[i]-b.cv[i])*(u.sv[i]-b.cv[i]))) AS dist
         |  FROM subr u JOIN pb1 b ON u.s = b.s),
         |pa1 AS (SELECT vec_id, s, j,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM pd1),
         |pcodes AS (SELECT vec_id, s, j FROM pa1 WHERE rn = 1),
         |lut AS (SELECT q.vec_id AS query_id, b.s, b.j, list_inner_product(q.sv, b.cv) AS ip
         |  FROM subq q JOIN pb1 b ON q.s = b.s),
         |cdot AS (
         |  SELECT p.query_id, p.cell, list_inner_product(qe.v, mm.mv) AS cd
         |  FROM probes p JOIN ev qe ON p.query_id = qe.vec_id
         |  JOIN cmv mm ON p.cell = mm.cell),
         |cand AS (
         |  SELECT p.query_id, p.cell, i.vec_id
         |  FROM probes p JOIN idx i ON p.cell = i.cell
         |  WHERE i.vec_id <> p.query_id),
         |sc AS (SELECT cd0.query_id, cd0.vec_id,
         |    list_sum(list(l.ip ORDER BY l.s)) + any_value(cj.cd) AS score
         |  FROM cand cd0 JOIN pcodes c ON cd0.vec_id = c.vec_id
         |  JOIN lut l ON c.s = l.s AND c.j = l.j AND l.query_id = cd0.query_id
         |  JOIN cdot cj ON cj.query_id = cd0.query_id AND cj.cell = cd0.cell
         |  GROUP BY cd0.query_id, cd0.vec_id),
         |ranked AS (SELECT query_id, vec_id AS neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
         |  FROM sc)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
         |FROM ranked WHERE rank <= 3""".stripMargin,

    // scale = max|x|/127 (exact double ops), q = floor(x/scale + 0.5)
    // — round-half-up replays as SQL floor; zero vectors quantize to 0
    "q_embed_quantize" ->
      """WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / CAST(127 AS DOUBLE) AS scale
        |  FROM ev)
        |SELECT vec_id, scale, CAST(i - 1 AS INT) AS d,
        |  CAST(CASE WHEN scale = 0 THEN 0
        |            ELSE floor(v[i] / scale + 0.5) END AS INT) AS q
        |FROM sc, unnest(generate_series(1, len(v))) u(i)""".stripMargin,

    // exponential clock -ln(u)/w replayed from the fnv64 top-53-bit
    // uniform; k smallest per source win, doc_id breaks clock ties
    "q_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id, source, n_chars, ${sqlFnvRaw("text")} AS h FROM documents),
         |p AS (
         |  SELECT doc_id, source, n_chars,
         |    -ln((CAST(h // CAST(2048 AS HUGEINT) AS DOUBLE) + 0.5)
         |        / 9007199254740992.0) / CAST(n_chars AS DOUBLE) AS clk
         |  FROM h WHERE n_chars IS NOT NULL AND n_chars > 0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY clk, doc_id) AS rn
         |  FROM p)
         |SELECT source, doc_id, n_chars FROM r WHERE rn <= 25""".stripMargin,

    // cut a = (fnv64 >> 11) % (n+1), b = a + (mix64(fnv64) >> 11) %
    // (n-a+1) — all-integer HUGEINT arithmetic, then three substrs and
    // the PSM concat; empty prefixes/middles/suffixes are legitimate
    "q_fim_transform" ->
      s"""WITH h AS (SELECT doc_id, text, CAST(length(text) AS HUGEINT) AS n,
         |    ${sqlFnvRaw("text")} AS h FROM documents),
         |g0f AS (SELECT doc_id, (h + $sqlGolden) % $sqlMod AS z0f FROM h),
         |${sqlMixChain("f", "doc_id")},
         |ab0 AS (
         |  SELECT h.doc_id, h.text, h.n,
         |    (h.h // CAST(2048 AS HUGEINT)) % (h.n + 1) AS a,
         |    g.z4 // CAST(2048 AS HUGEINT) AS h2
         |  FROM h JOIN g5f g ON h.doc_id = g.doc_id),
         |ab AS (SELECT doc_id, text, n, a, a + h2 % (n - a + 1) AS b FROM ab0),
         |parts AS (SELECT doc_id,
         |    substr(text, 1, CAST(a AS INT)) AS fim_prefix,
         |    substr(text, CAST(a AS INT) + 1, CAST(b - a AS INT)) AS fim_middle,
         |    substr(text, CAST(b AS INT) + 1, CAST(n - b AS INT)) AS fim_suffix
         |  FROM ab)
         |SELECT doc_id, fim_prefix, fim_middle, fim_suffix,
         |  '<PRE>' || fim_prefix || '<SUF>' || fim_suffix || '<MID>' || fim_middle AS fim_text
         |FROM parts""".stripMargin,

    // §2b-69: the integer-micro-unit power iteration unrolled as a
    // CTE chain (aggregation cannot live in a recursive term) — same
    // synthetic ring + 101-hub + stride graph, same floor divisions,
    // so the BIGINT ranks match Spark's bit for bit
    "q_pagerank" -> sqlPageRankOracle(10),

    // §2b-69b: the HITS half-steps unrolled; max-renormalization as a
    // scalar subquery per half-step
    "q_hits" -> sqlHitsOracle(8),

    // §2b-69c: the same degree-orientation, wedge join, and closing-
    // edge lookup — three joins, no iteration
    "q_triangles" ->
      s"""WITH $sqlLinkGraphCtes,
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges WHERE src <> dst),
         |degt AS MATERIALIZED (
         |  SELECT node, count(*) AS degree FROM (
         |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) q
         |  GROUP BY node),
         |ori AS MATERIALIZED (
         |  SELECT CASE WHEN d1.degree < d2.degree
         |              OR (d1.degree = d2.degree AND e.u < e.v)
         |         THEN e.u ELSE e.v END AS s,
         |         CASE WHEN d1.degree < d2.degree
         |              OR (d1.degree = d2.degree AND e.u < e.v)
         |         THEN e.v ELSE e.u END AS t
         |  FROM und e JOIN degt d1 ON e.u = d1.node
         |             JOIN degt d2 ON e.v = d2.node),
         |tri AS MATERIALIZED (
         |  SELECT o1.s, o1.t AS t1, o2.t AS t2
         |  FROM ori o1 JOIN ori o2 ON o1.s = o2.s AND o1.t < o2.t
         |  JOIN und c ON c.u = o1.t AND c.v = o2.t),
         |pn AS (
         |  SELECT node, count(*) AS triangles FROM (
         |    SELECT s AS node FROM tri
         |    UNION ALL SELECT t1 FROM tri
         |    UNION ALL SELECT t2 FROM tri) q
         |  GROUP BY node)
         |SELECT d.node, d.degree,
         |  CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
         |  CASE WHEN d.degree >= 2
         |    THEN (2.0 * coalesce(p.triangles, 0)) /
         |         (d.degree * (d.degree - 1.0)) END AS clustering
         |FROM degt d LEFT JOIN pn p ON d.node = p.node""".stripMargin,

    // §2b-61b: per-term all-occurrences counts replayed as
    // per-position substring equality over the same ASCII-translate
    // lowering
    "q_blocklist_scan" -> sqlBlocklistScanOracle,

    // §2b-43c: same integer tf/df ranking; row_number cast to INT to
    // match Spark's rank type
    "q_keywords" ->
      """WITH tf AS MATERIALIZED (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |    FROM documents) q
        |  GROUP BY doc_id, term),
        |dfr AS MATERIALIZED (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT doc_id, term, tf, df, score_micro, rank FROM (
        |  SELECT t.doc_id, t.term,
        |    CAST(t.tf AS BIGINT) AS tf, CAST(d.df AS BIGINT) AS df,
        |    CAST((t.tf * 1000000) // d.df AS BIGINT) AS score_micro,
        |    CAST(row_number() OVER (PARTITION BY t.doc_id
        |      ORDER BY (t.tf * 1000000) // d.df DESC, t.term) AS INT) AS rank
        |  FROM tf t JOIN dfr d ON t.term = d.term) q
        |WHERE rank <= 3""".stripMargin,

    // §2b-43d: phrase occurrences counted as positions of the
    // space-delimited phrase inside the space-joined token stream —
    // equivalent to the consecutive-position join because tokens are
    // single-space-joined with sentinel spaces at both ends
    "q_phrase_search" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    ' ' || array_to_string(
        |      regexp_extract_all(lower(text), '[a-z0-9]+'), ' ') || ' ' AS ts
        |  FROM documents)
        |SELECT doc_id, n_occurrences FROM (
        |  SELECT doc_id,
        |    CAST(len(list_filter(range(1, length(ts) - 13 + 2),
        |      p -> substr(ts, CAST(p AS INT), 13) = ' batch table ')) AS BIGINT)
        |      AS n_occurrences
        |  FROM s) q
        |WHERE n_occurrences > 0""".stripMargin,

    // §2b-57f: frequent-substring seed lattice — substring explode
    // over the word table, integer surrogate scores
    "q_unigram_vocab" ->
      s"""WITH $sqlUnigramWordsCte,
         |$sqlUnigramSeedCte
         |SELECT piece, weight, lp_micro FROM seeds""".stripMargin,

    // §2b-57g: the Viterbi DP unrolled to the corpus word-length cap,
    // backwalk as a plain recursive CTE, doc reassembly as q_bpe_docs
    "q_unigram_encode" ->
      s"""WITH RECURSIVE
         |$sqlUnigramWordsCte,
         |$sqlUnigramSeedCte,
         |pieces AS (SELECT piece, lp_micro AS lp FROM seeds),
         |${sqlUnigramDpCtes(-2500000L, maxPiece = 4, maxW = 16)},
         |$sqlUnigramDocAssembly""".stripMargin,

    // two namespaced DP replays chained through the ln-re-estimated
    // vocabularies; see sqlUnigramEmOracle
    "q_unigram_em" -> sqlUnigramEmOracle,

    // §2b-70: Mann-Whitney AUC over the per-distinct-score histogram;
    // 2·avgrank = 2·cum_before + cnt + 1 keeps everything integral
    // until the one final division
    "q_classifier_auc" ->
      """WITH scored AS (
        |  SELECT CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS BIGINT) AS s,
        |         (lang = 'en') AS y
        |  FROM documents),
        |hist AS (
        |  SELECT s, count(*) AS cnt,
        |         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM scored GROUP BY s),
        |cum AS (
        |  SELECT s, cnt, pos,
        |         sum(cnt) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) - cnt AS cum_before
        |  FROM hist),
        |agg AS (
        |  SELECT CAST(sum(pos) AS BIGINT) AS npos,
        |         CAST(sum(cnt) - sum(pos) AS BIGINT) AS nneg,
        |         CAST(sum(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS sr2
        |  FROM cum)
        |SELECT npos, nneg,
        |  CASE WHEN npos > 0 AND nneg > 0
        |    THEN CAST(sr2 - npos * (npos + 1) AS DOUBLE) / (2.0 * npos * nneg)
        |    ELSE NULL END AS auc
        |FROM agg""".stripMargin,

    // §2b-71: paragraph explode via zipped unnest (position rides
    // along), the q_lang_id CASE per paragraph, then the same
    // run/majority windows keyed on doc_id
    "q_lang_segments" -> s"""WITH planted AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN chr(10)||chr(10)||'$frPara' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN chr(10)||chr(10)||'$dePara' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN chr(10)||chr(10)||'   ' ELSE '' END AS text
      |  FROM documents),
      |paras0 AS (
      |  SELECT doc_id, unnest(l) AS para, unnest(range(1, len(l)+1)) AS pos
      |  FROM (SELECT doc_id, string_split(text, chr(10)||chr(10)) AS l FROM planted)),
      |kept AS (SELECT doc_id, pos, CASE
      |    WHEN zh > 0 THEN 'zh'
      |    WHEN en >= fr AND en >= de AND en >= es AND en > 0 THEN 'en'
      |    WHEN fr >= de AND fr >= es AND fr > 0 THEN 'fr'
      |    WHEN de >= es AND de > 0 THEN 'de'
      |    WHEN es > 0 THEN 'es'
      |    ELSE 'unknown' END AS lp
      |  FROM (SELECT doc_id, pos,
      |    len(regexp_extract_all(lower(para), '\\b(the|and|of|to|is)\\b')) AS en,
      |    len(regexp_extract_all(lower(para), '\\b(le|la|et|les|des)\\b')) AS fr,
      |    len(regexp_extract_all(lower(para), '\\b(der|die|und|das|ein)\\b')) AS de,
      |    len(regexp_extract_all(lower(para), '\\b(el|los|las|una|y)\\b')) AS es,
      |    len(regexp_extract_all(para, '[\\x{4e00}-\\x{9fff}]')) AS zh
      |    FROM paras0 WHERE length(trim(para)) > 0) t),
      |sw AS (SELECT doc_id, lp,
      |    CASE WHEN lag(lp) OVER w IS NULL OR lag(lp) OVER w = lp
      |         THEN 0 ELSE 1 END AS switch
      |  FROM kept WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |cnts AS (SELECT doc_id, lp, count(*) AS majority_cnt
      |  FROM sw GROUP BY doc_id, lp),
      |major AS (SELECT doc_id, lp AS majority_lang, majority_cnt,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY majority_cnt DESC, lp) AS rn
      |  FROM cnts),
      |stats AS (SELECT doc_id, count(*) AS n_paras,
      |    CAST(sum(switch) + 1 AS BIGINT) AS n_runs
      |  FROM sw GROUP BY doc_id)
      |SELECT s.doc_id, s.n_paras, m.majority_lang, m.majority_cnt, s.n_runs,
      |  CAST(m.majority_cnt AS DOUBLE) / CAST(s.n_paras AS DOUBLE) AS majority_frac
      |FROM stats s JOIN major m ON s.doc_id = m.doc_id AND m.rn = 1""".stripMargin,

    // §2b-72: the same cp1252 back-map (rendered via chr()), the same
    // UTF-8-structure predicate, and the byte re-decode spelled as a
    // per-char hex fold — CASE evaluates lazily, so decode only ever
    // sees guard-validated byte streams
    "q_fix_mojibake" -> sqlFixMojibakeOracle
  )

  /** q_pagerank oracle: `iters` rounds of the micro-unit power
    * iteration as chained CTEs over the ring+hub+stride edge list.
    * BIGINT // BIGINT floor division matches Spark's `div`; the
    * HUGEINT contribution sums cast back losslessly (total mass is
    * bounded by n·1e6). */
  /** The ring+hub+stride edge list both graph oracles share —
    * replays [[syntheticLinkGraph]] with n from a 1-row count CTE. */
  private val sqlLinkGraphCtes: String =
    """edges AS MATERIALIZED (
      |  SELECT DISTINCT src, CASE j
      |    WHEN 0 THEN (src + 1) % n
      |    WHEN 1 THEN (src * 7) % 101
      |    ELSE (src * 37 + 11) % n END AS dst
      |  FROM (SELECT doc_id AS src FROM documents),
      |       (SELECT count(*) AS n FROM documents), range(0, 3) r(j)),
      |nodes AS MATERIALIZED (
      |  SELECT src AS id FROM edges UNION SELECT dst FROM edges)""".stripMargin

  /** The PageRank round CTEs (deg, r0, r1..rN) over upstream
    * `edges(src, dst)` (already DISTINCT) and `nodes(id)` CTEs — the
    * damping literals are DERIVED from the same parameters the Spark
    * side passes to Graph.pageRank (base = 1e6·(den−num)//den exactly
    * as pageRank computes baseMicro), so changing the operator
    * parameters cannot silently diverge an oracle. Composable:
    * q_pagerank runs it over the synthetic ring+hub+stride graph,
    * q_domain_rank over the extracted-link domain graph. */
  private def sqlPageRankRounds(iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L): String = {
    val baseMicro = 1000000L * (dampDen - dampNum) / dampDen
    val head =
      s"""deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.id, CAST($baseMicro + ($dampNum * coalesce(m.s, 0)) // $dampDen AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.rank // d.d) AS s
         |    FROM edges e JOIN deg d ON e.src = d.src
         |                 JOIN r${i - 1} r ON r.id = e.src
         |    GROUP BY e.dst) m ON n.id = m.id)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private def sqlPageRankOracle(iters: Int): String =
    s"""WITH $sqlLinkGraphCtes,
       |${sqlPageRankRounds(iters)}
       |SELECT id AS node, rank AS rank_micro FROM r$iters
       |ORDER BY rank_micro DESC, node LIMIT 100""".stripMargin

  /** q_hits oracle: `iters` unrolled (authority, hub) half-step pairs;
    * each half-step is a Long-sum aggregation then the pure-integer
    * renormalization `x // greatest(1, (max+999999) // 1e6)` with the
    * max as a scalar subquery — Spark's broadcast 1-row frame. */
  private def sqlHitsOracle(iters: Int): String = {
    val head =
      s"""WITH $sqlLinkGraphCtes,
         |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS v FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT n.id, coalesce(m.s, 0) AS raw FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(h.v) AS s
         |    FROM edges e JOIN h${i - 1} h ON h.id = e.src
         |    GROUP BY e.dst) m ON n.id = m.id),
         |a$i AS MATERIALIZED (
         |  SELECT id, CAST(raw // greatest(1,
         |    ((SELECT max(raw) FROM ar$i) + 999999) // 1000000) AS BIGINT) AS v
         |  FROM ar$i),
         |hr$i AS MATERIALIZED (
         |  SELECT n.id, coalesce(m.s, 0) AS raw FROM nodes n LEFT JOIN (
         |    SELECT e.src AS id, sum(a.v) AS s
         |    FROM edges e JOIN a$i a ON a.id = e.dst
         |    GROUP BY e.src) m ON n.id = m.id),
         |h$i AS MATERIALIZED (
         |  SELECT id, CAST(raw // greatest(1,
         |    ((SELECT max(raw) FROM hr$i) + 999999) // 1000000) AS BIGINT) AS v
         |  FROM hr$i)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"""
         |SELECT n.id AS node, a.v AS auth_micro, h.v AS hub_micro
         |FROM nodes n JOIN a$iters a ON n.id = a.id
         |             JOIN h$iters h ON n.id = h.id
         |ORDER BY auth_micro DESC, hub_micro DESC, node LIMIT 100""".stripMargin
  }

  /** q_blocklist_scan oracle: every term's all-occurrences count as a
    * per-position substring equality over the ASCII-translate
    * lowering — overlapping and nested matches count, exactly the
    * automaton's output function. */
  private def sqlBlocklistScanOracle: String = {
    val occ = acScanTerms.zipWithIndex.map { case (term, i) =>
      val l = term.length
      s"len(list_filter(range(1, length(x) - $l + 2), " +
        s"p -> substr(x, CAST(p AS INT), $l) = '$term')) AS o$i"
    }.mkString(",\n    ")
    val idx = acScanTerms.indices
    val total = idx.map(i => s"o$i").mkString(" + ")
    val nhit = idx.map(i => s"(CASE WHEN o$i > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH lx AS (
       |  SELECT doc_id,
       |    translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
       |              'abcdefghijklmnopqrstuvwxyz') AS x
       |  FROM documents),
       |occ AS (
       |  SELECT doc_id,
       |    $occ
       |  FROM lx)
       |SELECT doc_id,
       |  CAST($total AS BIGINT) AS hits_total,
       |  CAST($nhit AS INT) AS n_terms_hit,
       |  ($total) > 0 AS flagged
       |FROM occ""".stripMargin
  }

  /** ASCII word-frequency CTE shared by the unigram oracles — the
    * [[graft.operators.Bpe.wordCounts]] replay. */
  private val sqlUnigramWordsCte: String =
    """words AS MATERIALIZED (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS w
      |    FROM documents) u
      |  WHERE regexp_matches(w, '^[!-~]+$')
      |  GROUP BY w)""".stripMargin

  /** Seed-vocabulary CTE replaying [[graft.operators.Unigram.seedVocab]]
    * with the q_unigram_vocab parameters: substrings of length 2..4
    * weighted by word count, top-200 by (weight desc, piece),
    * `min(weight, 5e5) − (1e6 + 4e5·len)` micro-nat scores. */
  private val sqlUnigramSeedCte: String =
    """seeds AS MATERIALIZED (
      |  SELECT piece, CAST(weight AS BIGINT) AS weight,
      |    CAST(least(weight, 500000) - (1000000 + 400000 * length(piece)) AS BIGINT) AS lp_micro
      |  FROM (
      |    SELECT piece, sum(cnt) AS weight,
      |      row_number() OVER (ORDER BY sum(cnt) DESC, piece) AS rn
      |    FROM (
      |      SELECT unnest(flatten(list_transform(range(2, 5), l ->
      |        list_filter(list_transform(range(1, length(w) + 1), s2 ->
      |          CASE WHEN s2 <= length(w) - l + 1
      |               THEN substr(w, CAST(s2 AS INT), CAST(l AS INT)) END),
      |          x -> x IS NOT NULL)))) AS piece, cnt
      |      FROM words) su
      |    GROUP BY piece) q
      |  WHERE rn <= 200)""".stripMargin

  /** Unrolled Viterbi-DP replay shared by the unigram encode oracles:
    * expects `words(w, ...)` and `pieces(piece, lp)` CTEs upstream;
    * emits dp rounds (position 1..`maxW`), the recursive backwalk,
    * and `enc(w, seg, n)`. Each dp$i is MATERIALIZED (referenced by
    * both the next round's candidate scan and its own union — the
    * CTE-re-inlining lesson). Tie-break `ORDER BY cand DESC, j` =
    * the kernel's ascending-j strict-replace. The word-length cap
    * `maxW` must cover the corpus (max ASCII token is 8 at every sf;
    * a longer word would drop out of `enc` and fail the compare
    * LOUDLY, not silently). */
  private def sqlUnigramDpCtes(unkMicro: Long, maxPiece: Int, maxW: Int,
      sfx: String = "", piecesCte: String = "pieces"): String = {
    val head =
      s"dp${sfx}0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS score, " +
        "CAST(NULL AS INT) AS bp FROM words)"
    val rounds = (1 to maxW).map { i =>
      s"""cand$sfx$i AS (
         |  SELECT d.w,
         |    d.score + CASE WHEN p.lp IS NOT NULL THEN p.lp
         |                   WHEN $i - d.pos = 1 THEN CAST($unkMicro AS BIGINT)
         |                   ELSE NULL END AS cand,
         |    d.pos AS j
         |  FROM dp$sfx${i - 1} d
         |  LEFT JOIN $piecesCte p ON p.piece = substr(d.w, d.pos + 1, $i - d.pos)
         |  WHERE length(d.w) >= $i AND d.pos >= $i - $maxPiece AND d.pos < $i),
         |dp$sfx$i AS MATERIALIZED (
         |  SELECT w, pos, score, bp FROM dp$sfx${i - 1}
         |  UNION ALL
         |  SELECT w, $i AS pos, cand AS score, CAST(j AS INT) AS bp FROM (
         |    SELECT w, cand, j,
         |      row_number() OVER (PARTITION BY w ORDER BY cand DESC, j) AS rn
         |    FROM cand$sfx$i WHERE cand IS NOT NULL) q WHERE rn = 1)""".stripMargin
    }
    val tail =
      s"""walk$sfx AS (
         |  SELECT w, pos, bp FROM dp$sfx$maxW WHERE pos = length(w) AND pos > 0
         |  UNION ALL
         |  SELECT d.w, d.pos, d.bp FROM walk$sfx k JOIN dp$sfx$maxW d
         |    ON d.w = k.w AND d.pos = k.bp WHERE k.bp > 0),
         |segs$sfx AS (SELECT w, pos, substr(w, bp + 1, pos - bp) AS piece FROM walk$sfx),
         |enc$sfx AS MATERIALIZED (
         |  SELECT w, string_agg(piece, ' ' ORDER BY pos) AS seg,
         |         count(*) AS n
         |  FROM segs$sfx GROUP BY w)""".stripMargin
    (head +: rounds :+ tail).mkString(",\n")
  }

  /** q_unigram_em oracle: two hard-EM rounds, each a full namespaced
    * DP replay under that round's vocabulary — round 1 under the seed
    * scores, round 2 under `floor(1e6·ln(cnt/total))` re-estimates
    * (DuckDB `ln` / Spark `log`, the pinned-parity pair); the final
    * SELECT is round 2's M-step. In-vocab filtering is the join to
    * the round's pieces relation (an unknown-character fallback
    * carries no mass). */
  private def sqlUnigramEmOracle: String = {
    def mStep(countsCte: String): String =
      s"SELECT piece, cnt, CAST(floor(ln(CAST(cnt AS DOUBLE) / " +
        s"(SELECT sum(cnt) FROM $countsCte)) * 1000000) AS BIGINT) AS lp_micro " +
        s"FROM $countsCte"
    def counts(sfx: String, piecesCte: String): String =
      s"""SELECT s.piece, CAST(sum(w.cnt) AS BIGINT) AS cnt
         |  FROM segs$sfx s JOIN words w ON w.w = s.w
         |  JOIN $piecesCte p ON p.piece = s.piece
         |  GROUP BY s.piece""".stripMargin
    s"""WITH RECURSIVE
       |$sqlUnigramWordsCte,
       |$sqlUnigramSeedCte,
       |pieces_r1 AS (SELECT piece, lp_micro AS lp FROM seeds),
       |${sqlUnigramDpCtes(-2500000L, maxPiece = 4, maxW = 16,
          sfx = "_a", piecesCte = "pieces_r1")},
       |counts_r1 AS MATERIALIZED (
       |${counts("_a", "pieces_r1")}),
       |pieces_r2 AS MATERIALIZED (
       |  SELECT piece, lp_micro AS lp FROM (${mStep("counts_r1")}) m),
       |${sqlUnigramDpCtes(-2500000L, maxPiece = 4, maxW = 16,
          sfx = "_b", piecesCte = "pieces_r2")},
       |counts_r2 AS MATERIALIZED (
       |${counts("_b", "pieces_r2")})
       |${mStep("counts_r2")}""".stripMargin
  }

  /** Doc-level reassembly for the unigram encode oracles — the
    * q_bpe_docs shape over `enc(w, seg, n)`. */
  private val sqlUnigramDocAssembly: String =
    """dtoks AS (
      |  SELECT doc_id, i - 1 AS pos, t[i] AS w
      |  FROM (SELECT doc_id,
      |          regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t
      |        FROM documents),
      |       unnest(generate_series(1, len(t))) AS u(i)),
      |joined AS (
      |  SELECT d.doc_id, d.pos, e.seg, e.n FROM dtoks d JOIN enc e ON d.w = e.w)
      |SELECT doc_id,
      |  string_agg(seg, ' ' ORDER BY pos) AS encoded,
      |  CAST(sum(n) AS BIGINT) AS n_subwords
      |FROM joined GROUP BY doc_id""".stripMargin

  /** q_unigram_external oracle: the bundled SentencePiece-format
    * vocab rendered as a VALUES relation (from the SAME parsed
    * resource the Spark side loads — the merges.txt pattern), feeding
    * the shared DP replay. Fragile: reads the classpath resource at
    * string-construction time. */
  private def qUnigramExternalOracle: String = {
    val pieces = graft.operators.Unigram
      .loadSpVocabResource("/graft/unigram_vocab_sample.tsv")
    val maxPiece = pieces.map(_.piece.length).max
    val vals = pieces.map(p =>
      s"('${p.piece.replace("'", "''")}', CAST(${p.lpMicro} AS BIGINT))")
      .mkString(", ")
    s"""WITH RECURSIVE
       |$sqlUnigramWordsCte,
       |pieces(piece, lp) AS (SELECT * FROM (VALUES $vals) t),
       |${sqlUnigramDpCtes(-12000000L, maxPiece, maxW = 16)},
       |$sqlUnigramDocAssembly""".stripMargin
  }

  /** q_fix_mojibake oracle: the cp1252 translate table and planted
    * suffix rendered via chr() (ASCII-safe SQL), the shared
    * [[graft.functions.Normalize.utf8StructRegex]] predicate, and the
    * latin-1 re-encode as a per-character hex fold through
    * from_hex/decode. */
  private def sqlFixMojibakeOracle: String = {
    val pairs = Normalize.cp1252Pairs
    val from = pairs.map(p => s"chr(${p._1.toInt})").mkString("||")
    val to = pairs.map(p => s"chr(${p._2.toInt})").mkString("||")
    val suffix = mojibakeSuffix.map(c => s"chr(${c.toInt})").mkString("||")
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || $suffix ELSE text END AS text
       |  FROM documents),
       |m AS (SELECT doc_id, text, translate(text, $from, $to) AS mt FROM planted)
       |SELECT doc_id, text_fixed, (text_fixed <> text) AS was_fixed
       |FROM (SELECT doc_id, text,
       |  CASE WHEN regexp_matches(mt, '${Normalize.mojibakeLeadRegex}')
       |        AND regexp_matches(mt, '${Normalize.utf8StructRegex}')
       |    THEN decode(from_hex(list_aggregate(list_transform(
       |           range(1, length(mt) + 1),
       |           i -> lpad(to_hex(unicode(substr(mt, i, 1))), 2, '0')),
       |         'string_agg', '')))
       |    ELSE text END AS text_fixed
       |  FROM m) fx""".stripMargin
  }

  // The Bloom-prefiltered path is exact by construction (no false
  // negatives + exact verify join), so it is graded against the plain
  // policy's oracle VERBATIM — any divergence is a defect.
  /** q_url_parse2 DuckDB oracle — the same host chain as q_url_parse,
    * then the published public-suffix algorithm replayed relationally:
    * candidate suffixes explode per label, the embedded rule set
    * (normal / wildcard / exception, rendered from the SAME bundled
    * subset the Spark side loads) joins in, the prevailing rule is
    * (exception first, then most labels), and site/suffix rebuild from
    * the winning label count. Kept OUT of oracleSqlBase: its string
    * construction needs the PSL classpath resource, and a missing
    * resource must fail only THIS entry, never the whole oracle map
    * (the round-11 artifact-zeroing failure). */
  private def qUrlParse2Oracle: String =
      s"""WITH u AS (
         |  SELECT doc_id,
         |    'https://' ||
         |    CASE WHEN doc_id % 11 = 0 THEN 'user:pw@' ELSE '' END ||
         |    CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
         |    CASE WHEN doc_id % 9 = 4 THEN '' ELSE 'u' || (doc_id % 7) || '.' END ||
         |    CASE WHEN doc_id % 9 = 0 THEN 'example.co.uk'
         |         WHEN doc_id % 9 = 1 THEN 'example.com.au'
         |         WHEN doc_id % 9 = 2 THEN 'city.kawasaki.jp'
         |         WHEN doc_id % 9 = 3 THEN 'sub.kawasaki.jp'
         |         WHEN doc_id % 9 = 4 THEN 'example.ck'
         |         WHEN doc_id % 9 = 5 THEN 'www.ck'
         |         WHEN doc_id % 9 = 6 THEN 'pages.github.io'
         |         WHEN doc_id % 9 = 7 THEN 'example.unknown'
         |         ELSE 'example.org' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
         |    '/p/' || doc_id || '?ref=rss#top' AS url
         |  FROM documents),
         |hh AS (
         |  SELECT doc_id, regexp_replace(regexp_replace(
         |    regexp_extract(lower(url),
         |      '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([a-z0-9.-]+)', 1),
         |    '^www\\.', ''), '\\.+$$', '') AS host
         |  FROM u),
         |$sqlPslRules,
         |labs AS (SELECT doc_id, host, string_split(host, '.') AS L FROM hh),
         |cands AS (
         |  SELECT doc_id, i, len(L) AS n, len(L) - i + 1 AS nl,
         |    array_to_string(L[i:], '.') AS suffix,
         |    array_to_string(L[i+1:], '.') AS rest
         |  FROM labs, unnest(generate_series(1, len(L))) g(i)),
         |m AS (
         |  SELECT doc_id, 1 AS is_exc, nl FROM cands JOIN excs ON suffix = r
         |  UNION ALL
         |  SELECT doc_id, 0 AS is_exc, nl FROM cands JOIN norms ON suffix = r
         |  UNION ALL
         |  SELECT doc_id, 0 AS is_exc, nl FROM cands JOIN wilds ON rest = r AND i < n),
         |best AS (
         |  SELECT doc_id, is_exc, nl,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY is_exc DESC, nl DESC) AS rn
         |  FROM m),
         |ps AS (
         |  SELECT l.doc_id, l.host, l.L, len(l.L) AS n,
         |    coalesce(CASE WHEN b.is_exc = 1 THEN b.nl - 1 ELSE b.nl END, 1) AS k
         |  FROM labs l LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id))
         |SELECT doc_id, host,
         |  CASE WHEN n > k THEN array_to_string(L[n-k:], '.') END AS site,
         |  array_to_string(L[n-k+1:], '.') AS suffix
         |FROM ps""".stripMargin

  /** Oracle entries whose SQL-string CONSTRUCTION can itself throw
    * (classpath-resource dependence). Thunked so graft.Verify can
    * render oracle_sql.json per-entry: one bad entry yields a failure
    * marker, never an empty artifact. */
  private[graft] def fragileOracleSql: Map[String, () => String] = Map(
    "q_url_parse2" -> (() => qUrlParse2Oracle),
    "q_bpe_external" -> (() => qBpeExternalOracle),
    "q_bpe_fertility" -> (() => qBpeFertilityOracle),
    "q_bpe_fertility2" -> (() => qBpeFertility2Oracle),
    "q_bpe_docs2" -> (() => qBpeDocs2Oracle),
    "q_lm_external" -> (() => qLmExternalOracle),
    "q_lm_external3" -> (() => qLmExternal3Oracle),
    "q_unigram_external" -> (() => qUnigramExternalOracle))

  /** q_lm_external oracle: the bundled ARPA model rendered as VALUES
    * relations (from the SAME parsed resource the Spark side loads),
    * the back-off rule replayed with left joins. Fragile: reads the
    * classpath resource at string-construction time. */
  private def qLmExternalOracle: String = {
    val m = graft.operators.LmScore.loadArpaResource("/graft/sample_bigram.arpa")
    def q(w: String) = "'" + w.replace("'", "''") + "'"
    val uniVals = m.uni.map { case (w, lp, bo) => s"(${q(w)}, $lp, $bo)" }
      .mkString(", ")
    val biVals = m.bi.map { case (a, b, lp) => s"(${q(a)}, ${q(b)}, $lp)" }
      .mkString(", ")
    s"""WITH uni(w, lp1, bo1) AS (SELECT * FROM (VALUES $uniVals) t),
       |bi(w1, w2, lp2) AS (SELECT * FROM (VALUES $biVals) t),
       |tk AS (
       |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS ts FROM documents),
       |nz AS (SELECT doc_id, ts FROM tk WHERE len(ts) >= 1),
       |firsts AS (
       |  SELECT f.doc_id, coalesce(u.lp1, ${m.unkLp}) AS lp
       |  FROM (SELECT doc_id, ts[1] AS w FROM nz) f LEFT JOIN uni u ON f.w = u.w),
       |pairs AS (
       |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
       |  FROM nz, unnest(generate_series(1, len(ts)-1)) u(i)
       |  WHERE len(ts) >= 2),
       |trans AS (
       |  SELECT p.doc_id,
       |    coalesce(b.lp2,
       |      coalesce(u1.bo1, 0.0) + coalesce(u2.lp1, ${m.unkLp})) AS lp
       |  FROM pairs p
       |  LEFT JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
       |  LEFT JOIN uni u1 ON p.w1 = u1.w
       |  LEFT JOIN uni u2 ON p.w2 = u2.w),
       |allr AS (SELECT * FROM firsts UNION ALL SELECT * FROM trans)
       |SELECT doc_id,
       |  round(-(CAST(sum(CAST(lp AS DECIMAL(28,10))) AS DOUBLE) /
       |          CAST(count(*) AS DOUBLE)), 6) AS nll10,
       |  CAST(count(*) AS BIGINT) AS n_scored
       |FROM allr GROUP BY doc_id""".stripMargin
  }

  /** q_bpe_fertility oracle: the fixed-chain segmented vocabulary
    * joined back to doc tokens, rolled up per language — fertility =
    * subwords/word, bytes_per_token = token utf-8 bytes / subwords.
    * Fragile: reads the bundled merges.txt resource. */
  private def qBpeFertilityOracle: String = {
    val pairs = graft.operators.Bpe
      .loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      .map(m => (m.lhs, m.rhs))
    s"""${sqlBpeApplyFixedChain(pairs)},
       |vocab AS (SELECT w, s FROM w${pairs.length}),
       |dtoks AS (
       |  SELECT doc_id, lang, t[i] AS w
       |  FROM (SELECT doc_id, lang,
       |          regexp_extract_all(text || ' $bpeNonAsciiSuffix',
       |            '[^ \\t\\n\\x0b\\f\\r]+') AS t
       |        FROM documents),
       |       unnest(generate_series(1, len(t))) AS u(i)),
       |joined AS (
       |  SELECT d.lang, len(v.s) AS ns, strlen(d.w) AS nb
       |  FROM dtoks d JOIN vocab v ON d.w = v.w)
       |SELECT lang,
       |  round(CAST(sum(ns) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS fertility,
       |  round(CAST(sum(nb) AS DOUBLE) / CAST(sum(ns) AS DOUBLE), 6) AS bytes_per_token,
       |  CAST(sum(ns) AS BIGINT) AS n_tokens
       |FROM joined GROUP BY lang""".stripMargin
  }

  /** q_lm_external3 oracle: the bundled order-3 ARPA model rendered
    * as VALUES relations, the Katz back-off recursion unrolled as the
    * same longest-match CASE over 5 left joins the Spark plan uses
    * (tri lp, bi lp, bi backoff of (w1,w2), uni backoff of w2, uni lp
    * of w3). Fragile: reads the classpath resource. */
  private def qLmExternal3Oracle: String = {
    val m = graft.operators.LmScore.loadArpaResourceN("/graft/sample_trigram.arpa")
    require(m.order == 3, s"oracle expects order 3, got ${m.order}")
    def q(w: String) = "'" + w.replace("'", "''") + "'"
    val uniVals = m.grams(0).map { case (ws, lp, bo) => s"(${q(ws(0))}, $lp, $bo)" }
      .mkString(", ")
    val biVals = m.grams(1).map { case (ws, lp, bo) =>
      s"(${q(ws(0))}, ${q(ws(1))}, $lp, $bo)" }.mkString(", ")
    val triVals = m.grams(2).map { case (ws, lp, _) =>
      s"(${q(ws(0))}, ${q(ws(1))}, ${q(ws(2))}, $lp)" }.mkString(", ")
    s"""WITH uni(w, lp1, bo1) AS (SELECT * FROM (VALUES $uniVals) t),
       |bi(a, b, lp2, bo2) AS (SELECT * FROM (VALUES $biVals) t),
       |tri(a, b, c, lp3) AS (SELECT * FROM (VALUES $triVals) t),
       |tk AS (
       |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS ts
       |  FROM documents),
       |nz AS (SELECT doc_id, ts FROM tk WHERE len(ts) >= 1),
       |pos AS (
       |  SELECT doc_id,
       |    CASE WHEN i >= 3 THEN ts[i-2] END AS w1,
       |    CASE WHEN i >= 2 THEN ts[i-1] END AS w2,
       |    ts[i] AS w3
       |  FROM nz, unnest(generate_series(1, len(ts))) u(i)),
       |scored AS (
       |  SELECT p.doc_id,
       |    CASE
       |      WHEN t3.lp3 IS NOT NULL THEN t3.lp3
       |      WHEN b23.lp2 IS NOT NULL THEN coalesce(b12.bo2, 0.0) + b23.lp2
       |      WHEN u3.lp1 IS NOT NULL THEN
       |        coalesce(u2.bo1, 0.0) + coalesce(b12.bo2, 0.0) + u3.lp1
       |      ELSE coalesce(u2.bo1, 0.0) + coalesce(b12.bo2, 0.0) + ${m.unkLp}
       |    END AS lp
       |  FROM pos p
       |  LEFT JOIN tri t3 ON p.w1 = t3.a AND p.w2 = t3.b AND p.w3 = t3.c
       |  LEFT JOIN bi b23 ON p.w2 = b23.a AND p.w3 = b23.b
       |  LEFT JOIN bi b12 ON p.w1 = b12.a AND p.w2 = b12.b
       |  LEFT JOIN uni u2 ON p.w2 = u2.w
       |  LEFT JOIN uni u3 ON p.w3 = u3.w)
       |SELECT doc_id,
       |  round(-(CAST(sum(CAST(lp AS DECIMAL(28,10))) AS DOUBLE) /
       |          CAST(count(*) AS DOUBLE)), 6) AS nll10,
       |  CAST(count(*) AS BIGINT) AS n_scored
       |FROM scored GROUP BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Bpe.gpt2PreTokens]]: RE2 has
    * no lookahead, so the pattern's `\s+(?!\S)` alternative (a run
    * yields its LAST whitespace char to the following token) is
    * emulated by first inserting a \x1e sentinel before each
    * whitespace run's final character (regexp_replace of
    * ws-followed-by-non-ws), then extracting with a lookahead-free
    * pattern whose `[ws]+` stops at the sentinel; the sentinel matches
    * no alternative and is skipped. Whitespace is spelled as the
    * explicit Java-`\s` class so both engines agree (the RE2-\s-
    * excludes-\x0b lesson). Fuzz-validated against the Java pattern
    * over 3k random mixed strings; equivalence assumes the text is
    * free of \x1e and exotic Unicode whitespace (the corpus is ASCII
    * plus the planted UTF-8 suffix). */
  private def sqlGpt2PreTokens(input: String): String =
    s"""regexp_extract_all(regexp_replace($input, '([ \\t\\n\\x0b\\f\\r])([^ \\t\\n\\x0b\\f\\r])', chr(30) || '\\1\\2', 'g'), '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\x0b\\f\\r\\p{L}\\p{N}\\x1e]+|[ \\t\\n\\x0b\\f\\r]+')"""

  /** q_bpe_fertility2 oracle: the fertility rollup with BOTH the
    * vocabulary and the per-doc token explode produced by the GPT-2
    * pre-tokenizer replay ([[sqlGpt2PreTokens]]) instead of
    * whitespace splitting. Fragile: reads the merges resource. */
  private def qBpeFertility2Oracle: String = {
    val pairs = graft.operators.Bpe
      .loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      .map(m => (m.lhs, m.rhs))
    s"""${sqlBpeApplyFixedChain(pairs, sqlGpt2PreTokens("text"))},
       |vocab AS (SELECT w, s FROM w${pairs.length}),
       |dtoks AS (
       |  SELECT doc_id, lang, t[i] AS w
       |  FROM (SELECT doc_id, lang,
       |          ${sqlGpt2PreTokens(s"text || ' $bpeNonAsciiSuffix'")} AS t
       |        FROM documents),
       |       unnest(generate_series(1, len(t))) AS u(i)),
       |joined AS (
       |  SELECT d.lang, len(v.s) AS ns, strlen(d.w) AS nb
       |  FROM dtoks d JOIN vocab v ON d.w = v.w)
       |SELECT lang,
       |  round(CAST(sum(ns) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS fertility,
       |  round(CAST(sum(nb) AS DOUBLE) / CAST(sum(ns) AS DOUBLE), 6) AS bytes_per_token,
       |  CAST(sum(ns) AS BIGINT) AS n_tokens
       |FROM joined GROUP BY lang""".stripMargin
  }

  /** q_bpe_docs2 oracle: the q_bpe_docs word-cache reassembly with
    * BOTH the vocabulary and the positional token explode produced by
    * the GPT-2 pre-tokenizer replay over the EXTERNAL fixed chain.
    * Fragile: reads the merges resource. */
  private def qBpeDocs2Oracle: String = {
    val pairs = graft.operators.Bpe
      .loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      .map(m => (m.lhs, m.rhs))
    s"""${sqlBpeApplyFixedChain(pairs, sqlGpt2PreTokens("text"))},
       |vocab AS (SELECT w, s FROM w${pairs.length}),
       |dtoks AS (
       |  SELECT doc_id, i - 1 AS pos, t[i] AS w
       |  FROM (SELECT doc_id,
       |          ${sqlGpt2PreTokens(s"text || ' $bpeNonAsciiSuffix'")} AS t
       |        FROM documents),
       |       unnest(generate_series(1, len(t))) AS u(i)),
       |joined AS (
       |  SELECT d.doc_id, d.pos, v.s FROM dtoks d JOIN vocab v ON d.w = v.w)
       |SELECT doc_id,
       |  string_agg(array_to_string(s, ' '), ' ' ORDER BY pos) AS encoded,
       |  CAST(sum(len(s)) AS BIGINT) AS n_subwords
       |FROM joined GROUP BY doc_id""".stripMargin
  }

  /** q_bpe_external oracle: the fixed-chain byte-level encode replay,
    * its pair list parsed from the SAME bundled merges.txt resource
    * the Spark side loads (the PSL-rules pattern) — fragile because
    * the resource read happens at oracle-string construction. */
  private def qBpeExternalOracle: String = {
    val pairs = graft.operators.Bpe
      .loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      .map(m => (m.lhs, m.rhs))
    s"""${sqlBpeApplyFixedChain(pairs)}
       |SELECT w, CAST(cnt AS BIGINT) AS cnt,
       |       array_to_string(s, ' ') AS segmented
       |FROM w${pairs.length}""".stripMargin
  }

  def oracleSql: Map[String, String] =
    oracleSqlBase ++ fragileOracleSql.map { case (k, f) => k -> f() } +
      ("q_decontaminate_bloom" -> oracleSqlBase("q_decontaminate"))

  /** Per-entry safe view of [[oracleSql]] for graft.Verify: Right(sql)
    * per constructible entry, Left(error) for an entry whose string
    * construction failed — the rest of the artifact survives. */
  def oracleSqlSafe: Seq[(String, Either[String, String])] = {
    val base = (oracleSqlBase +
      ("q_decontaminate_bloom" -> oracleSqlBase("q_decontaminate")))
      .toSeq.map { case (k, v) => k -> (Right(v): Either[String, String]) }
    val frag = fragileOracleSql.toSeq.map { case (k, f) =>
      k -> (try Right(f()) catch {
        case e: Throwable =>
          Left(s"${e.getClass.getName}: ${e.getMessage}")
      }): (String, Either[String, String])
    }
    (base ++ frag).sortBy(_._1)
  }
}
