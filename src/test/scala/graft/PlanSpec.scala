package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Scale-audit assertions: the plans the engine produces must be the
  * plans that survive a 100 TB scale-up — broadcast joins for dim
  * resolution, no cartesian products anywhere, pruned parquet scans.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dim-resolution joins broadcast the small side (ght2dm.go:657-959)") {
    val plan = physical(
      SparkEntry.queries("q_resolve_members")(spark, TestSpark.sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected BroadcastHashJoin in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"dim join must not shuffle the fact side:\n$plan")
  }

  test("no CartesianProduct in any registered query plan") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = physical(fn(spark, TestSpark.sf0001))
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
    }
  }

  test("q_domain_rank runs every stage under whole-stage codegen " +
    "(no fallback past janino's 64 KB method limit)") {
    // a session-level setting: WholeStageCodegenExec reads the fallback
    // flag from its session's conf, not from a thread-local override
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try assert(SparkEntry.queries("q_domain_rank")(spark, TestSpark.sf0001)
      .collect().nonEmpty)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("narrow projection prunes the parquet scan to selected columns") {
    val plan = physical(
      SparkEntry.queries("q_users_projection")(spark, TestSpark.sf0001))
    // users projection touches c_name + c_mktsegment only
    assert(plan.contains("ReadSchema"))
    val read = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("c_acctbal") && !read.contains("c_custkey"),
      s"scan reads pruned columns:\n$read")
  }

  test("filter pushdown reaches the parquet scan") {
    import org.apache.spark.sql.functions.col
    val df = Tables.customer(spark, TestSpark.sf0001)
      .filter(col("c_custkey") === 42L).select(col("c_name"))
    val plan = physical(df)
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)]"),
      s"expected pushed filter in:\n$plan")
  }

  test("latest-wins dedup is a single hash partitioning of the key " +
    "(window, not groupBy+self-join)") {
    val plan = physical(SparkEntry.queries("q_latest_wins")(spark, TestSpark.sf0001))
    assert(plan.contains("Window"), plan)
    // exactly one exchange feeding the window (plus one for dropDuplicates)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"too many shuffles ($exchanges):\n$plan")
  }

  test("LSH/IVF candidate generation never shuffles vectors through " +
    "the pair distinct (narrow id rows only)") {
    val plan = physical(
      SparkEntry.queries("q_embed_neardup")(spark, TestSpark.sf0001))
    // the distinct over candidate pairs must aggregate (id_a, id_b)
    // only — a 'v' column inside a HashAggregate means vectors are
    // riding the dedup shuffle again
    val aggLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.exists(l => l.contains("id_a") && l.contains("id_b")), plan)
    assert(!aggLines.exists(l => l.contains("id_a") && l.contains("v_")),
      s"pair distinct carries vectors:\n${aggLines.mkString("\n")}")
  }

  test("simhashPairs dedups pairs with the first-shared-block " +
    "predicate, NOT a distinct shuffle over the candidate set") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val plan = physical(graft.operators.NearDup.simhashPairs(
      docs, "doc_id", "text"))
    // one bucket-join over (block_id, block_val); any HashAggregate on
    // (id_a, id_b) would mean the dropDuplicates shuffle crept back in
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    val aggLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(!aggLines.exists(l => l.contains("id_a") && l.contains("id_b")),
      s"pair dedup is a shuffle again:\n${aggLines.mkString("\n")}")
  }

  test("per-group top-k windows plan WindowGroupLimit (partial+final): " +
    "at most k rows per group per partition reach the rank shuffle") {
    for (q <- Seq("q_ann_topk", "q_ann_lsh", "q_ann_ivf", "q_diverse_sample",
                  "q_bm25")) {
      val plan = physical(SparkEntry.queries(q)(spark, TestSpark.sf0001))
      val spans = plan.linesIterator.count(_.contains("WindowGroupLimit"))
      assert(spans >= 2, s"$q: rank<=k did not push into WindowGroupLimit\n$plan")
    }
  }

  test("chunking and stratified sampling are shuffle-free: narrow " +
    "token slicing, and a broadcast-joined hash gate on the scan") {
    for (q <- Seq("q_chunk_docs", "q_stratified_sample")) {
      val plan = physical(SparkEntry.queries(q)(spark, TestSpark.sf0001))
      assert(!plan.contains("ShuffleExchange") &&
        !plan.contains("Exchange hashpartitioning") &&
        !plan.contains("Exchange rangepartitioning"),
        s"$q: a per-row transform planned a shuffle\n$plan")
    }
    val sample = physical(
      SparkEntry.queries("q_stratified_sample")(spark, TestSpark.sf0001))
    assert(sample.contains("BroadcastHashJoin"), sample)
  }

  test("IVF probe join broadcasts the query side and plans no extra " +
    "exchange on the corpus") {
    val plan = physical(
      SparkEntry.queries("q_ann_ivf")(spark, TestSpark.sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("kNN graph self-join is a SHUFFLE join on cell (corpus-sized " +
    "probe side must not broadcast) with no cartesian product") {
    // at sf0.001 the stats-based planner may legitimately broadcast
    // the tiny probe side; the scale property is that NOTHING in the
    // operator FORCES a broadcast — with auto-broadcast off (the
    // cluster reality for a corpus-sized side) the join must shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = physical(
        SparkEntry.queries("q_knn_graph")(spark, TestSpark.sf0001))
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("BroadcastHashJoin"),
        s"operator must not force a broadcast of the corpus-sized side:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"cell join should shuffle with broadcast off:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("kNN-density fraction cut is a bounded per-cell window, never a " +
    "global (empty-partition) sort") {
    val plan = physical(
      SparkEntry.queries("q_knn_density")(spark, TestSpark.sf0001))
    // every Window OPERATOR must carry a non-empty partition spec (a
    // global density cut would put all rows in one task). The physical
    // Window line renders the partition list as its own bracket —
    // `Window [exprs], [cell#N], [ordering]` — so an unpartitioned
    // window shows as `], [], [` (windowspecdefinition always renders
    // ordering+frame inside the parens, so matching on IT is vacuous).
    val winOps = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winOps.nonEmpty, plan)
    winOps.foreach(w =>
      assert(!w.contains("], [], ["),
        s"unpartitioned (single-task) window in density plan:\n$w"))
    assert(winOps.exists(_.matches(""".*\], \[cell#\d+[^\]]*\], \[.*""")),
      s"no per-cell fraction-cut window found:\n$plan")
  }

  test("surrogate id assignment range-partitions the data side " +
    "(no single-partition data sort)") {
    val plan = physical(
      SparkEntry.queries("q_surrogate_ids")(spark, TestSpark.sf0001))
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
  }

  test("corpus prep computes quality below the aggregate and carries " +
    "it with min (no recompute above)") {
    val plan = physical(
      SparkEntry.queries("q_corpus_prep")(spark, TestSpark.sf0001))
    // regexp machinery must live under the aggregate (child project /
    // map-side partial), never in a Project ABOVE the final
    // HashAggregate (the plan prints top-down, so "above" = before the
    // first HashAggregate line)
    val lines = plan.linesIterator.toSeq
    val finalAgg = lines.indexWhere(_.contains("HashAggregate"))
    assert(finalAgg >= 0, plan)
    assert(!lines.take(finalAgg).exists(l =>
        l.contains("Project") && l.contains("regexp_extract_all")),
      s"quality recomputed above the aggregate:\n$plan")
  }

  test("sequence packing cumsum is range-sharded, never partitioned on " +
    "the low-cardinality group alone (no serial task per language)") {
    val plan = physical(
      SparkEntry.queries("q_pack_sequences")(spark, TestSpark.sf0001))
    // data pass: range partitioning on (lang, doc_id) — parallelism is
    // the shard count, independent of |langs|
    assert(plan.toLowerCase.contains("rangepartitioning"), plan)
    // the window that sums the DATA (over __v) must include the shard
    // id in its partition spec; a spec of (lang) alone is the
    // one-task-per-language shape this operator exists to avoid. (The
    // offsets window over per-shard totals MAY partition by lang — it
    // runs on metadata-sized rows — and is identified by __tot.)
    val dataWindows = plan.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && l.contains("__v")).toSeq
    assert(dataWindows.nonEmpty, s"no data-pass window found:\n$plan")
    assert(dataWindows.forall(_.contains("__pid")),
      s"data cumsum window not sharded:\n${dataWindows.mkString("\n")}")
  }

  test("whole-stage codegen covers the custom hash expressions") {
    val df = SparkEntry.queries("q_fingerprint")(spark, TestSpark.sf0001)
    val plan = physical(df)
    // `*(N)` prefixes mark operators inside a WholeStageCodegen stage;
    // the project evaluating the custom expressions must carry one
    val projLine = plan.linesIterator.find(_.contains("simhash64")).getOrElse("")
    assert(projLine.trim.startsWith("*("),
      s"custom-expression project fell out of codegen:\n$plan")
  }

  test("ExplainAll.normalize makes two captures of one plan equal") {
    def capture(): String = spark.range(10).selectExpr("id % 3 as k")
      .groupBy("k").count().queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val (a, b) = (capture(), capture())
    assert(a != b, "two captures should carry different expression ids")
    assert(tools.ExplainAll.normalize(a) == tools.ExplainAll.normalize(b))
    assert(tools.ExplainAll.normalize(
      "f$$Lambda$12/0x00007f00@1a2b MapPartitionsRDD[7] at Foo.scala:42 plan_id=3") ==
      "f$$Lambda@hex MapPartitionsRDD[n] at Foo.scala:n plan_id=n")
  }
}
