package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured adjudication for the q_salted_agg premium (`runMain
  * graft.tools.SkewAggProbe [n]`): WHEN does the two-phase salted
  * aggregation actually pay?
  *
  * Setup: a corpus where ONE key owns 90% of rows, spread over many
  * input partitions (the 100 TB shape: a mega-domain hot key seen by
  * every map task).
  *
  * Case A — count (narrow algebraic state): Spark's map-side partial
  * aggregation already collapses the hot key to ONE 8-byte row per map
  * task, so the reducer merges #tasks longs — no pin, and the salt's
  * extra exchange is pure premium. This is WHY the flat-data bench row
  * shows ~3.6×: the overhead is the price of insurance the aggregate
  * class never needs.
  *
  * Case B — exact distinct count (DISTINCT-STATE aggregate,
  * collect_set): map-side combine still emits one partial SET per
  * (task, hot key), but the sets OVERLAP heavily (every task sees most
  * of the popular values), so the hot key's reducer re-dedupes
  * #tasks × |distinct| set inserts single-threaded. Here the salt
  * genuinely pays BECAUSE it is a deterministic row hash (the
  * [[graft.operators.Skew.saltedAgg]] design choice): duplicate
  * (key, value) rows share a salt, so each distinct value lives in
  * exactly ONE salt — phase 1 dedupes disjoint 1/salts-size slices in
  * parallel, and phase 2 merely CONCATENATES the disjoint sets
  * (flatten, no re-dedup). Hot-reducer work drops ~salts×. This is
  * the measured row BASELINE.md cites, and the class rule: the salt
  * buys nothing for narrow algebraic state (count/sum/min/max — case
  * A), and buys ~salts× on the pinned reducer for distinct-state /
  * overlap-heavy merge state (exact distinct, set unions).
  */
object SkewAggProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 5
    val spark = graft.Session.local()
    import graft.operators.Skew

    // 8M rows over 256 input partitions; key 0 owns 90%; values drawn
    // from a 400k-value domain so every map task's partial set for the
    // hot key overlaps every other's (~18 repeats per value corpus-wide)
    val rows = sys.env.getOrElse("SKEW_ROWS", "8000000").toLong
    val parts = sys.env.getOrElse("SKEW_PARTS", "256").toInt
    val df = spark.range(0, rows, 1, parts)
      .select(
        when(pmod(col("id"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("id"), lit(1000)) + 1).as("k"),
        pmod(col("id") * lit(2654435761L), lit(sys.env.getOrElse("SKEW_DOMAIN", "400000").toLong)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count() // materialize so timings exclude generation

    def time(mk: () => DataFrame): Seq[Double] = {
      mk().write.mode("overwrite").format("noop").save() // warm
      (1 to n).map { _ =>
        val t0 = System.nanoTime()
        mk().write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
    }

    // case A: count
    val aPlain = time(() => df.groupBy("k").agg(count(lit(1)).as("n")))
    val aSalt = time(() => Skew.saltedCount(df, Seq("k"), salts = 32))

    // case B: exact distinct per key — plain holds ONE giant re-deduping
    // set on the hot reducer; salted dedupes 32 disjoint slices in
    // parallel and phase 2 only concatenates (sets are disjoint because
    // the salt is a row hash: duplicate (k, v) rows share a salt)
    def distinctPlain() = df.groupBy("k")
      .agg(size(collect_set(col("v"))).as("nd"))
    def distinctSalted() = Skew.saltedAgg(df, Seq("k"), salts = 32,
      partial = Seq(collect_set(col("v")).as("vs")),
      merge = Seq(size(flatten(collect_list(col("vs")))).as("nd")))
    val bPlain = time(() => distinctPlain())
    val bSalt = time(() => distinctSalted())

    def fmt(t: Seq[Double]) = f"min=${t.head}%.3f median=${t(n / 2)}%.3f"
    println(s"[skewaggprobe] rows=$rows parts=$parts hot_share=0.9 salts=32")
    println(s"[skewaggprobe] count         plain ${fmt(aPlain)} | salted ${fmt(aSalt)}")
    println(s"[skewaggprobe] exact_distinct plain ${fmt(bPlain)} | salted ${fmt(bSalt)}")
    // sanity: identical exact distinct counts
    val ep = distinctPlain().orderBy("k").collect().map(_.getInt(1))
    val es = distinctSalted().orderBy("k").collect().map(_.getInt(1))
    println(s"[skewaggprobe] distinct counts equal=${ep.sameElements(es)}")
    spark.stop()
  }
}
