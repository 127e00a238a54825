package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derive an N×-scaled copy of a driver testdata directory for scale-up
  * measurement (`runMain graft.tools.MakeScale <srcDir> <outDir> <factor>`).
  *
  * The point is a dataset whose PER-COPY statistics match the source —
  * duplicate density, near-dup pair density, cluster sizes, session
  * lengths — so wall-clock-vs-rows measures the operators' scaling, not
  * an artifact of the blow-up. A naive N× union would make every row an
  * exact duplicate ×N: exact dedup would collapse 90% of it and the
  * near-dup graph would gain N-cliques everywhere (quadratic pair
  * volume), misrepresenting every dedup-family operator. Instead each
  * copy is made collision-free against the others while preserving all
  * within-copy relationships:
  *
  *  - documents: ids offset per copy; every 4th token of `text` gets a
  *    copy-tag suffix, so no shingle of length ≥4 survives across
  *    copies (MinHash/SimHash/substring windows see zero cross-copy
  *    collisions) while planted within-copy near-dup pairs — which are
  *    token-aligned edits — get identical salt at identical positions
  *    and keep their Jaccard. `n_chars` recomputed.
  *  - embeddings: ids offset; the vector is circularly shifted by
  *    7·copy dims. A permutation preserves every within-copy inner
  *    product exactly (planted cosine near-dups survive) while
  *    decorrelating copies (expected cross-copy cosine ≈ the random
  *    baseline), so SemDedup/ANN pair volume stays linear.
  *  - events: event & user ids offset (session structure per user is
  *    exact); timestamps unchanged — windows see N× traffic, which is
  *    what a scale-up means for a windowed aggregation.
  *  - orders/lineitem: order keys offset; customer/part/supp keys
  *    unchanged (dimensions don't grow with fact data).
  *  - dims (region/nation/customer/supplier/part): copied through once.
  */
object MakeScale {
  private val IdOffset = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val spark = graft.Session.local()

    def copies(base: DataFrame)(tf: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => tf(base, i)).reduce(_ unionAll _)

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[makescale] $name x$factor written")
    }

    val docs = spark.read.parquet(s"$src/documents.parquet")
    write(copies(docs) { (d, i) =>
      if (i == 0) d
      else {
        val salted = array_join(
          transform(split(col("text"), " "),
            (t, j) => when(j % 4 === 3, concat(t, lit("§" + i))).otherwise(t)),
          " ")
        d.withColumn("doc_id", col("doc_id") + lit(i * IdOffset))
          .withColumn("text", salted)
          .withColumn("n_chars", length(col("text")))
      }
    }, "documents", 4 * factor)

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    write(copies(emb) { (e, i) =>
      if (i == 0) e
      else {
        val dim = 64
        val shift = (7 * i) % dim
        val shifted = transform(col("embedding"),
          (_, j) => element_at(col("embedding"), (pmod(j + lit(shift), lit(dim))) + 1))
        e.withColumn("vec_id", col("vec_id") + lit(i * IdOffset))
          .withColumn("embedding", shifted)
      }
    }, "embeddings", 2 * factor)

    val events = graft.Tables.events(spark, src)
    write(copies(events) { (e, i) =>
      if (i == 0) e
      else e.withColumn("event_id", col("event_id") + lit(i * IdOffset))
        .withColumn("user_id", col("user_id") + lit(i * IdOffset))
    }, "events", 4 * factor)

    val orders = spark.read.parquet(s"$src/orders.parquet")
    write(copies(orders) { (o, i) =>
      if (i == 0) o
      else o.withColumn("o_orderkey", col("o_orderkey") + lit(i * IdOffset))
    }, "orders", 4 * factor)

    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    write(copies(lineitem) { (l, i) =>
      if (i == 0) l
      else l.withColumn("l_orderkey", col("l_orderkey") + lit(i * IdOffset))
    }, "lineitem", 8 * factor)

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t, 1)
    }
    spark.stop()
  }
}
