package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics over a crawl: PageRank as the canonical
  * "which domains/pages carry authority" signal a web-corpus curation
  * pipeline feeds into quality weighting (the OPIC/Common-Crawl rank
  * columns). The reference engine has no graph surface; this is part
  * of the LLM-pipeline extension (SURVEY §2b).
  *
  * Design for exact cross-engine replay AND 100 TB scale:
  *
  *   - **Integer micro-units, not doubles.** Ranks live in units of
  *     1e-6 (`microBase` = 1.0). Per-edge contribution is integer
  *     floor division `rank div outdeg`; the damping step is
  *     `base + (dampNum * inMass) div dampDen`. Long sums are
  *     order-independent, so the result is bit-identical however
  *     Spark schedules the shuffle — the same discipline as
  *     [[Similarity]]'s micro-unit distance chains. Headroom: total
  *     mass is ≤ n·1e6, so Long is safe to n ≈ 9·10^12 nodes.
  *   - **Fixed iteration count** (the production norm — PageRank is
  *     consumed as a feature, not solved to fixpoint), so the DuckDB
  *     oracle replays it as an unrolled CTE chain.
  *   - **One shuffle per round, one job per loop.** The loops run
  *     over RDDs keyed by node id, all under ONE `HashPartitioner`
  *     sized by [[loopWidth]]. The deduplicated edge list is grouped
  *     ONCE into per-source adjacency arrays (the array length is the
  *     out-degree) and persisted with the node set. A round is
  *     `edges ⋈ ranks` (narrow: both sides co-partitioned), a
  *     `reduceByKey` on `dst` (the round's one shuffle, combined
  *     map-side) and `nodes ⟕ contribs` (narrow). Rounds chain
  *     lazily, so one action runs them all as the stages of one job:
  *     no per-round query planning and no per-round job. HITS needs
  *     its renormalization max between half-steps, so each half-step
  *     is one RDD `aggregate` job that also persists it. Under
  *     `checkpointDir` every round is reliably checkpointed (a job per
  *     round) for executor-loss recovery on a real cluster.
  *   - **ANSI arithmetic.** Sums and the damping product use
  *     `Math.addExact`/`multiplyExact`: an overflow fails the query, as
  *     ANSI SQL's `sum` and `*` do, instead of wrapping.
  *   - **Dangling mass evaporates** (nodes with no out-edges absorb
  *     rank but emit none). This is the common simplification in
  *     curation settings where rank is a relative ordering signal;
  *     redistributing dangling mass would add a driver-side scalar
  *     per round without changing the ordering materially.
  *
  * Multi-edges would double-contribute, so the edge list is
  * deduplicated here (a `distinct` whose count sizes the loop width).
  */
object Graph {

  /** Rows per task the iterative loops aim for when right-sizing
    * their shuffle width: frames are (id, long) pairs, so ~128k rows
    * ≈ 2-3 MB per task — enough work to amortize task launch, small
    * enough to stay far from spill. */
  private val LoopRowsPerTask: Long = 131072L

  /** Right-size the per-round shuffle width to the frame the loop
    * actually moves. The iterative loops' stages are EXCHANGE-FREE by
    * design (both join sides pre-partitioned, the round barrier
    * preserves partitioning), which means AQE never gets a shuffle to
    * coalesce — width is locked at whatever the initial repartition
    * chose, and the default width runs node-sized frames (100k–1.5M
    * rows) through 10-30 rounds of mostly-empty tasks: a pure
    * scheduling floor at local scale. Width ∝ rows fixes the floor
    * while keeping the 100 TB path: a 10B-edge graph with the session
    * default at cluster width keeps that width (the min), and the
    * count that sizes it is one cheap job over the already-persisted
    * edge frame. */
  private[operators] def loopWidth(spark: org.apache.spark.sql.SparkSession,
                                   rows: Long): Int = {
    val dflt = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(dflt,
      ((rows + LoopRowsPerTask - 1) / LoopRowsPerTask).toInt))
  }

  /** Run `body` with `spark.sql.shuffle.partitions` set to `w` so the
    * loop's INTERNAL exchanges (the per-round partial-agg shuffle)
    * match the pre-partitioned caches' width. A conf-based scope is
    * what keeps the loop's map-side partial aggregation — an explicit
    * repartition below the agg would drop the combine and push
    * edge-count rows through every round's exchange. The override is
    * THREAD-CONFINED ([[GraftSqlShim.withConfOverride]]: a cloned
    * SQLConf installed as this thread's `SQLConf.withExistingConf`
    * thread-local, which planning consults before the session conf),
    * so a query planned CONCURRENTLY on the same SparkSession from
    * another thread — e.g. the grouped bench pass, or any multi-tenant
    * session — keeps the session width. The session conf itself is
    * never mutated. ConfOverrideSpec pins the isolation both ways. */
  private[operators] def withShuffleWidth[A](
      spark: org.apache.spark.sql.SparkSession,
      w: Int)(body: => A): A =
    GraftSqlShim.withConfOverride(spark,
      Map("spark.sql.shuffle.partitions" -> w.toString))(body)

  /** The loops' shared input: the null-free, deduplicated (src, dst)
    * edge list, persisted as a frame (the caller unpersists it once the
    * loop's own caches are materialized), its pairs as an RDD, and the
    * ONE partitioner every keyed RDD of the loop uses — sized by
    * [[loopWidth]] from the edge count, which doubles as the cache
    * warm-up. */
  private def distinctEdges(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, RDD[(Long, Long)], HashPartitioner) = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct().persist()
    val part = new HashPartitioner(loopWidth(e.sparkSession, e.count()))
    // primitives are read out of each (reused) row at once
    val pairs = GraftSqlShim.toInternalRowRdd(e)
      .map(r => (r.getLong(0), r.getLong(1)))
    (e, pairs, part)
  }

  /** Adjacency arrays keyed by the pair's first id, persisted under
    * `part`: the array length is the key's degree in that direction,
    * so the degree rides every row without a separate aggregation. */
  private def adjacency(pairs: RDD[(Long, Long)],
                        part: HashPartitioner): RDD[(Long, Array[Long])] =
    pairs.groupByKey(part).mapValues(_.toArray)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Every id appearing at either end of an edge, persisted under
    * `part` (map-side combined, so duplicates never cross the shuffle). */
  private def nodeSet(pairs: RDD[(Long, Long)],
                      part: HashPartitioner): RDD[(Long, Unit)] =
    pairs.flatMap { case (s, d) => Iterator((s, ()), (d, ())) }
      .reduceByKey(part, (_, _) => ())
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** One propagation step: each key of `adj` sends its value in `from`,
    * transformed by `share` (given the value and the adjacency size), to
    * every neighbour, and the arrivals are summed per neighbour. The
    * join is narrow (both sides co-partitioned); the sum is the step's
    * one shuffle, combined map-side. Sums are overflow-checked, like an
    * ANSI SQL `sum`. */
  private def propagate(adj: RDD[(Long, Array[Long])], from: RDD[(Long, Long)],
      part: HashPartitioner)(share: (Long, Int) => Long): RDD[(Long, Long)] =
    adj.join(from, part).flatMap { case (_, (ns, x)) =>
      val c = share(x, ns.length)
      ns.iterator.map(n => (n, c))
    }.reduceByKey(part, (a, b) => Math.addExact(a, b))

  /** Persist `rdd`, reliably checkpoint it when `reliable`, and return
    * the result of `action` over it — the action both materializes the
    * cache and (under `reliable`) is followed by the checkpoint write. */
  private def materialize[T, A](rdd: RDD[T], reliable: Boolean)(
      action: RDD[T] => A): A = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // mark BEFORE the action: the checkpoint job then reads the
    // just-persisted blocks instead of recomputing the round
    if (reliable) rdd.checkpoint()
    action(rdd)
  }

  /** PageRank in integer micro-units. Returns (`node`, `rank_micro`)
    * for every node appearing as a source or destination.
    *
    * @param edges    directed edge list; duplicates are removed
    * @param srcCol   source-id column (integral)
    * @param dstCol   destination-id column (integral)
    * @param iters    fixed number of power iterations
    * @param dampNum  damping numerator (85 → d = 0.85)
    * @param dampDen  damping denominator
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10,
               dampNum: Long = 85L, dampDen: Long = 100L,
               checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      "damping must satisfy 0 <= dampNum <= dampDen")
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val reliable = checkpointDir.isDefined
    val microBase = 1000000L
    // base = (1-d)·1.0 in micro-units, exact: 1e6·(den-num) div den
    val baseMicro = microBase * (dampDen - dampNum) / dampDen

    val (e, pairs, part) = distinctEdges(edges, srcCol, dstCol)
    val out = adjacency(pairs, part)
    val nodes = nodeSet(pairs, part)
    var ranks: RDD[(Long, Long)] = nodes.mapValues(_ => microBase)
    var prev: Option[RDD[(Long, Long)]] = None
    for (_ <- 1 to iters) {
      val inMass = propagate(out, ranks, part)((r, outdeg) => r / outdeg)
      ranks = nodes.leftOuterJoin(inMass, part).mapValues { case (_, m) =>
        Math.addExact(baseMicro,
          Math.multiplyExact(dampNum, m.getOrElse(0L)) / dampDen)
      }
      // a reliable round is its own job (the checkpoint write); the
      // executor-local rounds chain lazily into the one job below
      if (reliable) {
        materialize(ranks, reliable = true)(_.count())
        prev.foreach(_.unpersist(false))
        prev = Some(ranks)
      }
    }
    // ONE job runs every round: each is a stage reading the previous
    // round's shuffle. The final ranks stay persisted (the retained-
    // cache contract of an iterative result); the loop's inputs can go
    if (prev.isEmpty) materialize(ranks, reliable)(_.count())
    e.unpersist(false)
    out.unpersist(false)
    nodes.unpersist(false)
    val rows = ranks.map { case (n, r) => InternalRow(n, r) }
    GraftSqlShim.internalCreateDataFrame(spark, rows, StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("rank_micro", LongType, nullable = true))))
  }

  /** HITS (Kleinberg) hubs & authorities in integer micro-units —
    * the complementary link signal to [[pageRank]]: directories/link
    * farms score as hubs, canonical pages as authorities, and the
    * PAIR is what a crawl-curation policy wants (a high-PageRank hub
    * farm is exactly the thing to down-weight).
    *
    * Same exactness discipline as [[pageRank]]: scores live in
    * micro-units; each half-step sums Longs (order-independent) and
    * renormalizes to ≤ 1e6 by an integer division
    * `x div ceil(max/1e6)` — a pure-integer stand-in for the usual
    * max-normalization that never multiplies (no overflow for any
    * corpus size: raw sums are bounded by n·1e6, never squared). Each
    * raw half-step is persisted by the ONE job (an RDD `aggregate`)
    * that folds its max; the scaled view is a narrow `mapValues` over
    * that cache.
    *
    * The edge list is persisted TWICE, as adjacency keyed by `src` and
    * by `dst` — the half-steps alternate join keys, and both
    * orientations keep every half-step's join narrow.
    *
    * @param checkpointDir reliable-checkpoint directory for
    *   executor-loss recovery on a real cluster (same contract as
    *   [[pageRank]]); default executor-local persisted blocks only.
    *
    * Returns (`node`, `auth_micro`, `hub_micro`) for every node.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 8,
           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val reliable = checkpointDir.isDefined
    val (e, pairs, part) = distinctEdges(edges, srcCol, dstCol)
    val out = adjacency(pairs, part)
    val in = adjacency(pairs.map(_.swap), part)
    val nodes = nodeSet(pairs, part)

    // one half-step: raw sums over `adj` from `from` for EVERY node,
    // persisted by the job that folds their max, then renormalized
    // x -> x div ceil(max/1e6) as a narrow view over the cache
    def halfStep(adj: RDD[(Long, Array[Long])],
                 from: RDD[(Long, Long)]): (RDD[(Long, Long)], RDD[(Long, Long)]) = {
      val raw = nodes.leftOuterJoin(propagate(adj, from, part)((x, _) => x), part)
        .mapValues(_._2.getOrElse(0L))
      val mx = materialize(raw, reliable)(
        _.aggregate(Long.MinValue)((m, kv) => math.max(m, kv._2), math.max))
      val divisor = math.max(1L, (mx + 999999L) / 1000000L)
      (raw.mapValues(_ / divisor), raw)
    }

    var hub: RDD[(Long, Long)] = nodes.mapValues(_ => 1000000L)
    var auth: RDD[(Long, Long)] = null
    var prev: List[RDD[(Long, Long)]] = Nil
    for (_ <- 1 to iters) {
      val (a, aCache) = halfStep(out, hub)
      auth = a
      val (h, hCache) = halfStep(in, auth)
      hub = h
      // the PREVIOUS round's caches fed this round's (already
      // materialized) half-steps; this round's pair must outlive the
      // loop — the final result reads them
      prev.foreach(_.unpersist(false))
      prev = List(aCache, hCache)
    }
    e.unpersist(false)
    out.unpersist(false)
    in.unpersist(false)
    nodes.unpersist(false)
    // every node appears exactly once in each scaled RDD, and both
    // share `part`, so the pairing is a narrow join over the two caches
    val rows = auth.join(hub, part).map { case (n, (a, h)) => InternalRow(n, a, h) }
    GraftSqlShim.internalCreateDataFrame(spark, rows, StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("auth_micro", LongType, nullable = true),
      StructField("hub_micro", LongType, nullable = true))))
  }

  /** Per-node triangle counts + local clustering coefficient — the
    * community-density signal (link farms and boilerplate rings are
    * triangle-dense; organic link neighborhoods are sparse).
    *
    * The compact-forward / degree-orientation algorithm: edges are
    * oriented from the lower-(degree, id) endpoint to the higher, so
    * every node's ORIENTED out-degree is O(√m) on any graph — wedge
    * volume (the one superlinear risk) is Σ outdeg² ≤ O(m^1.5)
    * instead of Σ deg² (which a hub-heavy crawl graph makes
    * quadratic). Each triangle is generated EXACTLY once: from its
    * lowest-rank vertex, with the out-neighbor pair ordered by id.
    * Three hash-join shuffles, no iteration, exact integer counts;
    * the coefficient `2·T / (d·(d−1))` is one final float division
    * (null for degree < 2).
    *
    * Input edges are symmetrized and deduplicated here; self-loops
    * are dropped. The (edge-sized) working caches are released before
    * returning: the per-node result is materialized once
    * (`localCheckpoint`) and the returned frame reads those blocks
    * — the same retained-cache contract as the iterative results.
    * Returns (node, degree, triangles, clustering). */
  def triangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val raw = edges.select(col(aCol).cast("long").as("x"),
        col(bCol).cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
    val und = raw.select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct().persist()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree")).persist()

    // orient u—v from the lower (degree, id) endpoint (rank compare)
    val du = deg.select(col("node").as("u"), col("degree").as("du"))
    val dv = deg.select(col("node").as("v"), col("degree").as("dv"))
    val oriented = und.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))

    // wedges at the lowest-rank vertex; the out-neighbor pair is
    // id-ordered so each candidate (t1, t2) appears once, and the
    // closing edge is looked up in canonical id order
    val o1 = oriented.select(col("s"), col("t").as("t1"))
    val o2 = oriented.select(col("s"), col("t").as("t2"))
    val wedges = o1.join(o2, "s").where(col("t1") < col("t2"))
    val tri = wedges.join(und,
      col("t1") === col("u") && col("t2") === col("v"))
      .select(col("s"), col("t1"), col("t2"))

    val perNode = tri
      .select(explode(array(col("s"), col("t1"), col("t2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (lit(2.0) * col("triangles").cast("double")) /
            (col("degree").cast("double") * (col("degree").cast("double") - 1.0))))
    // node-sized result; materialize it (one job, partitioning kept)
    // so the edge-sized und/deg caches can be dropped instead of
    // accumulating across calls
    val res = out.localCheckpoint()
    und.unpersist(false)
    deg.unpersist(false)
    res
  }
}
