package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.entry.QuerySpec

/** Guards on the driver contract itself. */
class EntryContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry() flagship returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle entry names a query") {
    val missing = SparkEntry.oracleSqlSafe.map(_._1).toSet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
    val failed = SparkEntry.oracleSqlSafe.collect { case (k, Left(e)) => s"$k: $e" }
    assert(failed.isEmpty, s"oracle entries that do not render: $failed")
  }

  test("EVERY query carries a DuckDB oracle — no rows-only entries") {
    // held for the first time in round 6 (the ANN seeding became
    // SQL-replayable); pinned so a future query can't silently ship
    // without its correctness oracle
    // a Left is an oracle that does not render, so it does not count
    val oracled = SparkEntry.oracleSqlSafe.collect { case (k, Right(_)) => k }
    val unoracled = SparkEntry.queries.keySet -- oracled
    assert(unoracled.isEmpty, s"queries without an oracle: $unoracled")
  }

  test("the registry rejects two specs with one name, naming it") {
    val df = (s: SparkSession, _: String) => s.range(1).toDF()
    val specs = Seq(QuerySpec("q_a", df, () => "SELECT 1"),
      QuerySpec("q_b", df, () => "SELECT 2"),
      QuerySpec("q_a", df, () => "SELECT 3"))
    val e = intercept[IllegalArgumentException](QuerySpec.index(specs))
    assert(e.getMessage.contains("duplicate query names: q_a"), e.getMessage)
    assert(QuerySpec.index(specs.take(2)).keySet == Set("q_a", "q_b"))
  }

  test("SURVEY.md §2 cites every registered query — the coverage table " +
    "cannot silently drift from the query set again") {
    // round 9 lost a §2 row (paragraph dedup) and six green queries went
    // uncited; the contract is now mechanical: every SparkEntry.queries
    // key must appear somewhere in the §2 operator-inventory section
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/SURVEY.md")), "UTF-8")
    val s2 = survey.substring(
      survey.indexOf("## §2 Operator inventory"),
      survey.indexOf("## §3"))
    val cited = "q_[a-z0-9_]+".r.findAllIn(s2).toSet
    val uncited = SparkEntry.queries.keySet -- cited
    assert(uncited.isEmpty, s"queries missing from SURVEY §2: $uncited")
  }

  test("SURVEY.md §2 row labels are unique — the round-13 verdict found " +
    "57f naming two different rows, which key-level pins cannot catch") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/SURVEY.md")), "UTF-8")
    val s2 = survey.substring(
      survey.indexOf("## §2 Operator inventory"),
      survey.indexOf("## §3"))
    // a table row's label is the first cell: "| 57f | ..."
    val labels = "(?m)^\\| ([0-9]+[a-z0-9]*) \\|".r
      .findAllMatchIn(s2).map(_.group(1)).toSeq
    val dups = labels.groupBy(identity).collect {
      case (l, occ) if occ.size > 1 => l
    }
    assert(dups.isEmpty, s"duplicate SURVEY §2 row labels: $dups")
  }

  test("SURVEY.md §7 prose cites the CURRENT query count — the round-12 " +
    "verdict's prose drift, pinned mechanically like the §2 table") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/SURVEY.md")), "UTF-8")
    val s7 = survey.substring(survey.indexOf("## §7"))
    val m = "exposed as (\\d+) queries".r.findFirstMatchIn(s7)
    assert(m.isDefined, "SURVEY §7 must state 'exposed as N queries'")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"SURVEY §7 says ${m.get.group(1)} queries; " +
        s"SparkEntry.queries has ${SparkEntry.queries.size}")
  }

  test("every query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, TestSpark.sf0001).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("oracle-checked queries keep identical column names in Spark output") {
    // the driver sorts columns by name before hashing; a drifted alias
    // breaks the whole entry even when values match
    val expected = Map(
      "q_latest_wins" -> Set("o_orderkey", "o_custkey", "o_date", "o_totalprice"),
      "q_exact_dedup" -> Set("doc_id", "n_dupes"),
      "q_window_agg" -> Set("hour_epoch", "event_type", "n_events", "total_value"),
      "q_ann_lsh" -> Set("query_id", "neighbor_id", "rank", "sim"),
      "q_ann_ivf" -> Set("query_id", "neighbor_id", "rank", "sim"),
      "q_embed_neardup" -> Set("id_a", "id_b", "sim"),
      "q_neardup_prune" -> Set("doc_id", "text"),
      "q_decontaminate" -> Set("doc_id", "text"),
      "q_diverse_sample" -> Set("vec_id", "cell", "rank", "sim"),
      "q_substring_dedup" -> Set("doc_id", "text"),
      "q_dup_line_frac" -> Set("doc_id", "dup_line_char_frac"),
      "q_commits_ingest" -> Set("sha", "author_github_id", "author_login",
        "message", "comment_count", "authored_day", "parent_shas"))
    expected.foreach { case (name, cols) =>
      val got = SparkEntry.queries(name)(spark, TestSpark.sf0001).columns.toSet
      assert(got == cols, s"$name columns drifted: $got")
    }
  }
}
