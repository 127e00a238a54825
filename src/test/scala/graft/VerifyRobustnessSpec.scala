package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Round-11 regression: with the PSL classpath resource absent, the
  * q_url_parse2 oracle string cannot be constructed — and that single
  * failure used to throw while rendering oracle_sql.json, zeroing the
  * whole round's correctness artifact AFTER 127 query outputs were
  * already on disk. The contract now: every constructible oracle entry
  * is written, the failing entry is named in oracle_failures.json, and
  * Verify.run returns non-zero. */
class VerifyRobustnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def keyCount(json: String): Int =
    // top-level keys only: inside a JSON string value a quote is
    // escaped \" so the raw [{,]"q_...": " sequence is key-unique
    "[{,]\"q_[a-z0-9_]+\": \"".r.findAllIn(json).size

  test("missing PSL resource fails only its own entry, never the artifact") {
    spark // force the shared session before Verify.run's getOrCreate
    val out = Files.createTempDirectory("verify_robust").toString
    System.setProperty("graft.psl.resource", "/graft/psl_subset_MISSING.dat")
    try {
      val rc = Verify.run(TestSpark.sf0001, out,
        Set("q_token_count", "q_url_parse2"))
      // one failed query (Spark side needs the PSL too) + one failed
      // oracle entry
      assert(rc == 2, s"expected rc 2, got $rc")
      // the unaffected query's output is on disk
      assert(Files.exists(Paths.get(s"$out/q_token_count")))
      // the oracle artifact exists, parses as one JSON object, and
      // carries every entry EXCEPT the fragile one
      val json = Files.readString(Paths.get(s"$out/oracle_sql.json"))
      assert(json.startsWith("{") && json.endsWith("}"))
      assert(json.contains("\"q_token_count\": \""))
      assert(!json.contains("\"q_url_parse2\": \""))
      assert(keyCount(json) == SparkEntry.queries.size - 1,
        s"expected ${SparkEntry.queries.size - 1} oracle keys, " +
          s"got ${keyCount(json)}")
      // the failure is recorded BY NAME in the sibling artifact
      val fails = Files.readString(Paths.get(s"$out/oracle_failures.json"))
      assert(fails.contains("\"q_url_parse2\""))
      assert(fails.contains("psl_subset_MISSING"))
    } finally System.clearProperty("graft.psl.resource")
  }

  test("with the resource present the artifact is complete and rc is 0") {
    spark
    val out = Files.createTempDirectory("verify_green").toString
    val rc = Verify.run(TestSpark.sf0001, out, Set("q_token_count"))
    assert(rc == 0)
    val json = Files.readString(Paths.get(s"$out/oracle_sql.json"))
    assert(keyCount(json) == SparkEntry.queries.size)
    assert(json.contains("\"q_url_parse2\": \""))
    val fails = Files.readString(Paths.get(s"$out/oracle_failures.json"))
    assert(!fails.contains("q_url_parse2"))
  }

  test("Verify.run on the live session leaves its runtime confs alone") {
    // Session.local()'s getOrCreate would apply the builder's runtime
    // SQL confs (shuffle width = cores) to the live session, retuning
    // it for every suite that runs after this one; the sentinel differs
    // from that width whatever the core count
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val sentinel = (Session.cores + 1).toString
    spark.conf.set(key, sentinel)
    try {
      val out = Files.createTempDirectory("verify_conf").toString
      assert(Verify.run(TestSpark.sf0001, out, Set("q_token_count")) == 0)
      assert(spark.conf.get(key) == sentinel)
      assert(!spark.sparkContext.isStopped)
    } finally spark.conf.set(key, before)
  }
}
