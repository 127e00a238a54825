package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** The DataFrame power iterations [[Graph.pageRank]] and [[Graph.hits]]
  * ran before their RDD loops: every round a join, a partial-agg
  * exchange and a left join, planned as a query and materialized as a
  * barrier. Kept as the reference the RDD loops must match row for row;
  * `localCheckpoint` stands in for the per-round barrier, which never
  * changed a value. */
private object GraphReference {
  def pageRank(edges: DataFrame, iters: Int,
               dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val spark = edges.sparkSession
    val microBase = 1000000L
    val baseMicro = microBase * (dampDen - dampNum) / dampDen
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct().persist()
    val w = Graph.loopWidth(spark, e.count())
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val ed = e.join(deg, "src").repartition(w, col("src")).persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().repartition(w, col("node")).persist()
    var ranks = nodes.withColumn("rank_micro", lit(microBase))
    Graph.withShuffleWidth(spark, w) {
      for (_ <- 1 to iters) {
        val contribs = ed.join(ranks, ed("src") === ranks("node"))
          .select(col("dst"), expr("rank_micro div outdeg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
        ranks = nodes.join(contribs, nodes("node") === contribs("dst"), "left")
          .select(col("node"),
            (lit(baseMicro) +
              expr(s"($dampNum * coalesce(in_mass, 0L)) div $dampDen"))
              .as("rank_micro"))
          .localCheckpoint()
      }
    }
    Seq(e, ed, nodes).foreach(_.unpersist())
    ranks
  }

  def hits(edges: DataFrame, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct().persist()
    val w = Graph.loopWidth(spark, e.count())
    val eBySrc = e.repartition(w, col("src")).persist()
    val eByDst = e.repartition(w, col("dst")).persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().repartition(w, col("node")).persist()
    def rescale(raw: DataFrame, c: String): DataFrame = {
      val t = raw.localCheckpoint()
      val mx = Option(t.agg(max(col(c))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(Long.MinValue)
      val divisor = math.max(1L, (mx + 999999L) / 1000000L)
      t.select(col("node"), expr(s"$c div ${divisor}L").as(c))
    }
    var hub = nodes.withColumn("hub_micro", lit(1000000L))
    var auth: DataFrame = null
    Graph.withShuffleWidth(spark, w) {
      for (_ <- 1 to iters) {
        auth = rescale(nodes.join(
            eBySrc.join(hub, eBySrc("src") === hub("node"))
              .groupBy(col("dst")).agg(sum(col("hub_micro")).as("a_raw")),
            nodes("node") === col("dst"), "left")
          .select(col("node"), coalesce(col("a_raw"), lit(0L)).as("auth_micro")),
          "auth_micro")
        hub = rescale(nodes.join(
            eByDst.join(auth, eByDst("dst") === auth("node"))
              .groupBy(col("src")).agg(sum(col("auth_micro")).as("h_raw")),
            nodes("node") === col("src"), "left")
          .select(col("node"), coalesce(col("h_raw"), lit(0L)).as("hub_micro")),
          "hub_micro")
      }
    }
    Seq(e, eBySrc, eByDst, nodes).foreach(_.unpersist())
    auth.join(hub, Seq("node"))
      .select(col("node"), col("auth_micro"), col("hub_micro"))
  }
}

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A seeded directed graph with every shape the loops special-case:
    * duplicate edges, self-loops, dangling nodes (ids at or above
    * `0.8·n` never appear as a source) and a hub (node 0 receives about
    * a fifth of all edges). */
  private def randomGraph(seed: Long, n: Int, m: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    val base = Seq.fill(m) {
      val s = rng.nextInt(n * 4 / 5).toLong
      val d = if (rng.nextInt(5) == 0) 0L else rng.nextInt(n).toLong
      (s, d)
    }
    val loops = Seq.fill(m / 50)(rng.nextInt(n * 4 / 5).toLong).map(v => (v, v))
    val dups = base.take(m / 20)
    rng.shuffle(base ++ loops ++ dups).toDF("src", "dst")
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    val (g, w) = (rows(got), rows(want))
    assert(g.size == w.size)
    val diff = g.zip(w).filter { case (a, b) => a != b }
    assert(diff.isEmpty, s"${diff.size} rows differ, first: ${diff.take(3)}")
  }

  private def distinctEdges(df: DataFrame): Long =
    df.select("src", "dst").distinct().count()

  test("pageRank and hits match the DataFrame loops row for row at width 1 " +
    "(duplicates, self-loops, dangling nodes, a hub)") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val g = randomGraph(seed, n = 400, m = 2000).cache()
      assert(Graph.loopWidth(spark, distinctEdges(g)) == 1)
      assertSame(Graph.pageRank(g, "src", "dst", iters = 10),
        GraphReference.pageRank(g, iters = 10))
      assertSame(Graph.pageRank(g, "src", "dst", iters = 4, dampNum = 3L,
          dampDen = 7L),
        GraphReference.pageRank(g, iters = 4, dampNum = 3L, dampDen = 7L))
      assertSame(Graph.hits(g, "src", "dst", iters = 5),
        GraphReference.hits(g, iters = 5))
      g.unpersist()
    }
  }

  test("pageRank and hits match the DataFrame loops row for row at width > 1 " +
    "(more than 131,072 distinct edges)") {
    val g = randomGraph(7L, n = 60000, m = 150000).cache()
    assert(Graph.loopWidth(spark, distinctEdges(g)) > 1)
    assertSame(Graph.pageRank(g, "src", "dst", iters = 6),
      GraphReference.pageRank(g, iters = 6))
    assertSame(Graph.hits(g, "src", "dst", iters = 3),
      GraphReference.hits(g, iters = 3))
    g.unpersist()
  }

  test("pageRank: the reliable checkpointDir path matches the DataFrame loop") {
    val g = randomGraph(5L, n = 200, m = 800)
    val dir = java.nio.file.Files.createTempDirectory("pagerank-ckpt").toString
    try {
      assertSame(Graph.pageRank(g, "src", "dst", iters = 3,
          checkpointDir = Some(dir)),
        GraphReference.pageRank(g, iters = 3))
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "expected reliable checkpoint files under the dir")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q_pagerank runs in at most 10 jobs and leaves only its result's cache") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
      }
    }
    val before = sc.getPersistentRDDs.keySet
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val got = try {
      val r = SparkEntry.queries("q_pagerank")(spark, TestSpark.sf0001).collect()
      org.apache.spark.ListenerBusDrain(sc)
      r
    } finally sc.removeSparkListener(listener)
    assert(got.length == 100)
    assert(jobs.get <= 10, s"q_pagerank ran ${jobs.get} jobs")
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.size == 1, s"persistent RDDs left: $left")
    left.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
