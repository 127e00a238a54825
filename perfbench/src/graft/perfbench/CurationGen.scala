package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic copy of the star schema + text/vector corpus
  * that `SparkEntry.queries` read (`graft.Tables.names`), with the same
  * schemas and value shapes. Every value is a hash of (seed, table,
  * column, row id), so the output does not depend on partitioning or
  * core count and the stored expected row counts stay valid.
  *
  * `scale` 1.0 is the row-count profile of the sf0.1 tables
  * (600k line items, 5k documents, 2k embeddings).
  */
object CurationGen {
  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Row counts per table at `scale`. */
  def rows(scale: Double): Map[String, Long] = {
    def n(base: Long, min: Long) = math.max(min, math.round(base * scale))
    Map("region" -> 5L, "nation" -> 25L,
      "customer" -> n(15000, 150), "supplier" -> n(1000, 10),
      "part" -> n(20000, 200), "orders" -> n(150000, 1500),
      "events" -> n(100000, 1000), "documents" -> n(5000, 500),
      "embeddings" -> n(2000, 500))
  }

  /** Write every table as one `<dir>/<table>.parquet` file (the layout
    * `graft.Tables.load` and the DuckDB oracle both read) and return the
    * total number of rows written. */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Long = {
    val n = rows(scale)
    // uniform double in [0, 1) from (seed, salt, id)
    def u(salt: Int, c: Column = col("id")): Column =
      pmod(xxhash64(lit(seed), lit(salt), c), lit(1L << 53)).cast("double") / (1L << 53).toDouble
    def below(salt: Int, k: Long, c: Column = col("id")): Column =
      floor(u(salt, c) * k).cast("long")
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + u(salt) * (hi - lo), 2)
    def oneOf(salt: Int, xs: Seq[String], c: Column = col("id")): Column =
      element_at(array(xs.map(lit): _*), (below(salt, xs.size, c) + 1).cast("int"))
    def ids(name: String) = spark.range(n(name))
    val epoch = to_timestamp(lit("1995-01-01 00:00:00"))
    def day(c: Column) = timestamp_seconds(unix_timestamp(epoch) + c * 86400L)

    val frames: Seq[(String, DataFrame)] = Seq(
      "region" -> ids("region").select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
          .map(lit): _*), (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> ids("nation").select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> ids("customer").select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        below(1, 25).cast("int").as("c_nationkey"),
        money(2, -999.99, 9999.99).as("c_acctbal"),
        oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment")),
      "supplier" -> ids("supplier").select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        below(4, 25).cast("int").as("s_nationkey"),
        money(5, -999.99, 9999.99).as("s_acctbal")),
      "part" -> ids("part").select(col("id").as("p_partkey"),
        concat_ws(" ",
          oneOf(6, Seq("large", "hot", "blue", "red", "old", "new", "small", "green")),
          oneOf(7, Seq("ring", "bolt", "widget", "rod", "gear", "nut", "pipe", "valve")))
          .as("p_name"),
        concat(lit("Brand#"), below(8, 25) + 1).as("p_brand"),
        oneOf(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
          .as("p_type"),
        (below(10, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (col("id") % 2000) * 0.1, 2).as("p_retailprice")),
      "orders" -> ids("orders").select(col("id").as("o_orderkey"),
        below(11, n("customer")).as("o_custkey"),
        oneOf(12, Seq("F", "O", "P")).as("o_orderstatus"),
        money(13, 1000.0, 500000.0).as("o_totalprice"),
        day(below(14, 2404)).cast("timestamp_ntz").as("o_orderdate"),
        oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> ids("orders")
        .select(col("id").as("l_orderkey"),
          explode(sequence(lit(1), (below(16, 7) + 1).cast("int"))).as("l_linenumber"))
        .withColumn("id", col("l_orderkey") * 8 + col("l_linenumber"))
        .withColumn("l_partkey", below(17, n("part")))
        .withColumn("l_quantity", (below(19, 50) + 1).cast("double"))
        .select(col("l_orderkey"), col("l_partkey"),
          below(18, n("supplier")).as("l_suppkey"),
          col("l_linenumber"), col("l_quantity"),
          round(col("l_quantity") * (lit(900.0) + (col("l_partkey") % 2000) * 0.1) *
            (lit(1.0) + u(20) * 0.1), 2).as("l_extendedprice"),
          (below(21, 11) / 100.0).as("l_discount"),
          (below(22, 9) / 100.0).as("l_tax"),
          oneOf(23, Seq("A", "N", "R")).as("l_returnflag"),
          oneOf(24, Seq("F", "O")).as("l_linestatus"),
          // shipped 1..120 days after the order date
          day(below(14, 2404, col("l_orderkey")) + below(25, 120) + 1)
            .cast("timestamp_ntz").as("l_shipdate")),
      "events" -> ids("events").select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          ((col("id") + u(26)) * (30L * 86400L * 1000000L / n("events"))).cast("long"))
          .cast("timestamp_ntz").as("ts"),
        below(27, math.max(100L, n("customer") / 10)).as("user_id"),
        oneOf(28, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
        round(-log(lit(1.0) - u(29)) * 50.0, 2).as("value"),
        format_string("{\"k\": %d}", below(30, 100)).as("props")),
      "documents" -> {
        // every 50th doc is a near-dup of its predecessor plus a marker word
        val twin = col("id") % 50 === 1
        val src = when(twin, col("id") - 1).otherwise(col("id"))
        val words = transform(sequence(lit(1), (below(31, 91, src) + 10).cast("int")),
          i => element_at(array(vocab.map(lit): _*),
            (pmod(xxhash64(lit(seed), lit(32), src, i), lit(vocab.size.toLong)) + 1).cast("int")))
        ids("documents").select(col("id").as("doc_id"),
          concat(array_join(words, " "), when(twin, lit(" dup")).otherwise(lit("")))
            .as("text"),
          when(u(33) < 0.7, lit("en")).otherwise(oneOf(34, Seq("de", "fr", "zh")))
            .as("lang"),
          concat(lit("src"), below(35, 20)).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> {
        // 10 labelled clusters on the unit sphere in 64 dims
        val label = below(36, 10)
        val raw = transform(sequence(lit(0), lit(63)), i =>
          sin(label.cast("double") * 13.0 + i.cast("double") * 0.7) +
            (pmod(xxhash64(lit(seed), lit(37), col("id"), i), lit(1L << 53))
              .cast("double") / (1L << 53).toDouble - 0.5) * 1.5)
        ids("embeddings")
          .select(col("id").as("vec_id"), raw.as("__v"), label.cast("int").as("label"))
          .select(col("vec_id"),
            transform(col("__v"), x => (x / sqrt(aggregate(col("__v"), lit(0.0),
              (acc, y) => acc + y * y))).cast("float")).as("embedding"),
            col("label"))
      })

    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the tables are independent: write them as concurrent jobs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(frames.size)
    try frames.map { case (name, df) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val tmp = s"$dir/_tmp_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
            .find(_.getName.endsWith(".parquet")).get
          fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
    n.values.sum + spark.read.parquet(s"$dir/lineitem.parquet").count()
  }
}
