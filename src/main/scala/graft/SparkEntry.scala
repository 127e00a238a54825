package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.entry._
import graft.operators._

/** Driver contract — see SURVEY.md §2 for the operator inventory each
  * query demonstrates. Every query is one [[graft.entry.QuerySpec]]: its
  * Spark build beside the DuckDB SQL that replays it, grouped into
  * per-family objects under `graft.entry`. Every oracle-checked query
  * aliases its output columns identically in the Spark code and the
  * DuckDB SQL, and follows the portability rules in SURVEY.md §5
  * (decimal-exact double sums, dates/epochs instead of raw timestamps,
  * RE2-safe regexes).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * The reference's analytical heart: latest-wins dedup
    * (insert_from_tmp_tables.sql:39-51). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_latest_wins")(spark, "/root/testdata/sf0.001")

  /** Every query, family by family (SURVEY §2). */
  private val registry: Seq[QuerySpec] = Seq(
    ReferenceQueries.specs, IngestQueries.specs, DedupQueries.specs,
    VectorQueries.specs, TextQueries.specs, TokenizerQueries.specs,
    WebQueries.specs, MediaQueries.specs, CurationQueries.specs,
    RelationalQueries.specs).flatten

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySpec.index(registry)

  /** Every query's oracle SQL by name, for graft.Verify: Right(sql)
    * per entry that renders, Left(error) for one whose rendering threw
    * (e.g. its classpath resource is missing) — the rest of the
    * artifact survives. */
  def oracleSqlSafe: Seq[(String, Either[String, String])] =
    registry.map { spec =>
      spec.name -> (try Right(spec.oracle()) catch {
        case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}")
      })
    }.sortBy(_._1)

  // ---- CC-trio label sharing ---------------------------------------------

  /** The CC trio (q_dedup_clusters / q_neardup_prune / q_cluster_best)
    * runs the SAME simhash-pair connected-components labeling and
    * differs only in retention policy. Standalone, each query computes
    * it itself (sequential semantics unchanged); inside [[runAll]],
    * when two or more of the trio are in the group, the labels frame is
    * computed ONCE, persisted, and shared — the iterative CC rounds are
    * the dominant cost, so the group pays them once instead of 3×. */
  private val clusterLabelCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] val ccTrio = Set("q_dedup_clusters", "q_neardup_prune", "q_cluster_best")

  private def computeClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val corpus = Common.neardupCorpus(s, dir)
    val pairs = NearDup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
    Dedup.connectedComponents(corpus.select(col("doc_id")), pairs,
      "doc_id", "id_a", "id_b")
  }

  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame = {
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

  /** Share the CC trio's common cluster-labels frame across SEQUENTIAL
    * query executions within `body` — the one-session counterpart of
    * [[runAll]]'s grouped amortization. The first trio query computes
    * the labels once (and carries the full cost); the other two read
    * the materialized frame back. Results are identical to standalone
    * execution (the labeling is deterministic; RunAllSpec pins parity),
    * so this is purely a 3×→1× cost change for workloads that run the
    * whole query set back to back, e.g. the bench's pass 1. */
  def withClusterLabelSharing[T](spark: SparkSession, dir: String)(body: => T): T = {
    val key = (spark, dir)
    val added = labelSharingEnabled.add(key)
    try body
    finally if (added) {
      labelSharingEnabled.remove(key)
      clusterLabelCache.remove(key)
    }
  }

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
}
