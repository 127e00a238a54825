package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Skew, Staging}
import graft.plans.GraftExtensions

class StagingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("staged write round-trips and partition-prunes (ght2dm.go:494-548)") {
    val dir = TestSpark.tempDir("staging")
    val orders = Tables.orders(spark, TestSpark.sf0001)
      .withColumn("o_status", $"o_orderstatus")
    Staging.writeStaged(orders, dir, partitionByCol = Some("o_status"))
    val back = Staging.readStaged(spark, dir)
    assert(back.count() == orders.count())
    // a partition-column filter prunes directories at planning time
    val pruned = back.filter($"o_status" === "F")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(o_status"), scan)
  }

  test("writeTrainingShards: content-keyed split/shard layout, in-file " +
    "order, bounded files, re-run determinism") {
    import graft.operators.Shards
    import graft.plans.HashExpressions
    val dir = TestSpark.tempDir("shards")
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select($"doc_id", $"text",
        when(pmod($"doc_id", lit(10)) < 8, "train").otherwise("val")
          .as("split"))
    Shards.writeTrainingShards(docs, dir, "split",
      HashExpressions.fnv64($"text"), numShards = 4, orderCol = $"doc_id",
      maxRecordsPerFile = 40)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // every (split, shard) group holds exactly the docs whose content
    // hash lands in that shard
    val got = back.select($"split", $"shard".cast("long"), $"doc_id")
      .as[(String, Long, Long)].collect().groupBy(t => (t._1, t._2))
      .view.mapValues(_.map(_._3).toSet).toMap
    val want = docs.select($"split", $"doc_id",
        pmod(HashExpressions.fnv64($"text"), lit(4L)).as("shard"))
      .as[(String, Long, Long)].collect().groupBy(t => (t._1, t._3))
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(got == want)
    // layout: split=*/shard=* leaf dirs; maxRecordsPerFile=40 cuts
    // multiple files in the bigger shards, each within the bound
    val leafFiles = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("split=")).flatMap(_.listFiles)
      .filter(_.getName.startsWith("shard=")).flatMap(_.listFiles)
      .filter(_.getName.endsWith(".parquet"))
    assert(leafFiles.nonEmpty)
    assert(leafFiles.length >
      back.select($"split", $"shard").distinct().count(),
      "maxRecordsPerFile never cut a file")
    leafFiles.foreach { f =>
      val rows = spark.read.parquet(f.getPath)
        .select($"doc_id").as[Long].collect()
      assert(rows.length <= 40, s"${f.getPath}: ${rows.length} rows")
      assert(rows.sameElements(rows.sorted), s"${f.getPath} not ordered")
    }
    // pure function of the data: a second run over re-partitioned
    // input produces identical per-group ordered contents
    val dir2 = TestSpark.tempDir("shards")
    Shards.writeTrainingShards(docs.repartition(17), dir2, "split",
      HashExpressions.fnv64($"text"), numShards = 4, orderCol = $"doc_id",
      maxRecordsPerFile = 40)
    val again = spark.read.parquet(dir2)
      .select($"split", $"shard".cast("long"), $"doc_id")
      .as[(String, Long, Long)].collect().groupBy(t => (t._1, t._2))
      .view.mapValues(_.map(_._3).sorted.toSeq).toMap
    val first = back.select($"split", $"shard".cast("long"), $"doc_id")
      .as[(String, Long, Long)].collect().groupBy(t => (t._1, t._2))
      .view.mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(again == first)
  }

  test("salted aggregation equals plain groupBy count") {
    val events = Tables.events(spark, TestSpark.sf0001)
    val plain = events.groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(events, Seq("event_type"), salts = 8)
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("saltedJoin equals the plain join row-for-row: inner and left, " +
    "duplicate keys both sides, unmatched and null fact keys") {
    // fact: dupes on key 1 and 2, a no-match key 9, a null key
    val fact = Seq((Some(1L), "f1"), (Some(1L), "f2"), (Some(2L), "f3"),
      (Some(2L), "f4"), (Some(3L), "f5"), (Some(9L), "f6"),
      (None: Option[Long], "f7")).toDF("k", "fv")
    // dim: two rows for key 1 (join multiplies), one each for 2 and 3
    val dim = Seq((1L, "d1a"), (1L, "d1b"), (2L, "d2"), (3L, "d3"))
      .toDF("k", "dv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"fv", $"dv")
        .as[(Option[Long], String, Option[String])].collect().sorted.toSeq
    for (jt <- Seq("inner", "left"); hot <- Seq(Seq[Any](1L, 9L), Seq[Any]())) {
      val got = canon(Skew.saltedJoin(fact, dim, "k", salts = 4, hot, jt))
      val want = canon(fact.join(dim, Seq("k"), jt))
      assert(got == want, s"joinType=$jt hot=$hot: $got vs $want")
    }
  }

  test("saltedJoinAuto matches the plain join on the events fact and " +
    "replicates hot dim rows salts-fold in the hot branch") {
    val events = Tables.events(spark, TestSpark.sf0001)
    val dim = events.groupBy($"event_type").agg(count(lit(1)).as("type_n"))
    val got = Skew.saltedJoinAuto(events, dim, "event_type", salts = 8)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val want = events.join(dim, Seq("event_type"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == want)
    // all five types clear the 1% share bar → the hot branch carries
    // every dim row, exploded once per salt value
    val hotDim = dim.filter(coalesce($"event_type".isin(
        got.keys.toSeq: _*), lit(false)))
      .withColumn("__salt", explode(sequence(lit(0), lit(7))))
    assert(hotDim.count() == dim.count() * 8)
  }

  test("bucketed staging joins without an exchange on either side") {
    val orders = Tables.orders(spark, TestSpark.sf0001)
      .select($"o_orderkey", $"o_custkey")
    val lineitem = Tables.lineitem(spark, TestSpark.sf0001)
      .select($"l_orderkey", $"l_quantity")
    Staging.writeBucketed(orders, "stg_orders_b", Seq("o_orderkey"), 4)
    Staging.writeBucketed(lineitem, "stg_lineitem_b", Seq("l_orderkey"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("stg_orders_b")
        .join(spark.table("stg_lineitem_b"), $"o_orderkey" === $"l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // sanity: it actually joins
      assert(joined.count() ==
        orders.join(lineitem, $"o_orderkey" === $"l_orderkey").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS stg_orders_b")
      spark.sql("DROP TABLE IF EXISTS stg_lineitem_b")
    }
  }

  test("custom expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    Tables.documents(spark, TestSpark.sf0001).limit(20)
      .createOrReplaceTempView("docs_sql_test")
    val viaSql = spark.sql(
      """SELECT doc_id, simhash64(text) AS sh, winnow64(text, 8) AS wn,
        |       minhash64(text, 3, 8) AS mh, shingles64(text, 3) AS sg,
        |       fnv64(text) AS fh
        |FROM docs_sql_test""".stripMargin)
      .select($"doc_id", $"sh").as[(Long, Long)].collect().toMap
    val viaColumn = Tables.documents(spark, TestSpark.sf0001).limit(20)
      .select($"doc_id", graft.plans.HashExpressions.simhash64($"text"))
      .as[(Long, Long)].collect().toMap
    assert(viaSql == viaColumn)
  }

  test("vector kernels are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 1.0d)) AS c, " +
        "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[(Double, Double)].head()
    assert(math.abs(got._1 - 1.0 / math.sqrt(2)) < 1e-12)
    assert(got._2 == 11.0)
    // the kernels read array<double> only: any other element type fails
    // at analysis and names the function, where it used to read the
    // elements' bytes as doubles (array<float>: dot 4.0000019 for 14;
    // array<bigint>: dot and cosine 0.0) or throw at run time
    for {
      v <- Seq("CAST(array(1, 2, 3) AS array<float>)", "array(1L, 2L, 3L)")
      f <- Seq("dot_product", "cosine_sim")
      query <- Seq(s"SELECT $f(v, v) FROM (SELECT $v AS v)", s"SELECT $f($v, $v)")
    } {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(query).collect())
      assert(e.getMessage.contains(s"$f requires (array<double>, array<double>)"), e.getMessage)
    }
  }

  test("mix64 and repratio64 are callable from SQL and match the kernels") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT mix64(42L) AS m, repratio64('a b a b') AS r")
      .as[(Long, Double)].head()
    assert(got._1 == graft.functions.TextHash.mix64(42L))
    assert(got._2 == graft.functions.TextHash.repRatio64(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b a b")))
  }

  test("GraftExtensions applies cleanly as a session extension hook") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e) // must not throw; wiring is the contract
  }
}
