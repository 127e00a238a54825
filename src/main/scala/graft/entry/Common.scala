package graft
package entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesis and SQL-replay helpers that more than one query family
  * uses (the Spark side plants a fixture, the DuckDB oracle replays
  * it). A helper one family uses lives in that family. */
private[graft] object Common {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The shared near-dup test corpus: documents plus a deterministic
    * truncated copy of each (doc_id+100000, last word dropped) so the
    * near-dup operators demonstrably find planted pairs. Used by
    * q_minhash_pairs / q_simhash_pairs / q_dedup_clusters /
    * q_neardup_prune and replayed verbatim by their DuckDB oracles'
    * `corpus` CTE — change both together or not at all. */
  def neardupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val mutated = docs.select((col("doc_id") + 100000L).as("doc_id"),
      regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
    docs.unionByName(mutated)
  }

  /** Deterministic per-sf scratch dir for dump fixtures (inside the
    * repo's target dir; never touches the read-only testdata). */
  def dumpDir(dir: String): String =
    s"/root/repo/target/dumps/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  // ---- splitmix64 / Box-Muller replay helpers for the ANN oracles ----
  // DuckDB has no wrapping 64-bit integer arithmetic, so the splitmix64
  // chain is replayed in HUGEINT mod 2^64, with each 64x64 multiply
  // split into (hi*c mod 2^32)*2^32 + lo*c to stay inside INT128 — the
  // same replay pattern as the q_minhash_pairs oracle. The Gaussian is
  // Box-Muller over two such uniforms (top 53 bits + 0.5, an exact
  // dyadic rational), verified bitwise-identical between JVM Math and
  // DuckDB's libm over the full plane matrix.
  val sqlMod = "CAST('18446744073709551616' AS HUGEINT)"

  val sqlGolden = "CAST('11400714819323198485' AS HUGEINT)"

  def sqlSplitMul(x: String, c: String): String =
    s"(((($x) // CAST('4294967296' AS HUGEINT)) * $c % CAST('4294967296' AS HUGEINT))" +
      s" * CAST('4294967296' AS HUGEINT)" +
      s" + (($x) % CAST('4294967296' AS HUGEINT)) * $c) % $sqlMod"

  /** DuckDB replay of [[graft.functions.TextFunctions.qualityScore]]
    * over column `text` — the q_quality_score oracle's expression,
    * reused as q_cluster_best's retention score. */
  val sqlQualityExprText: String =
    """round(
      |    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.3 +
      |    (CASE WHEN length(text) = 0 THEN 0.0 ELSE
      |      CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) /
      |      CAST(length(text) AS DOUBLE) END) * 0.4 +
      |    least((CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
      |      CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE) /
      |      CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END) * 4.0, 1.0) * 0.2 +
      |    (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
      |      CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) /
      |      CAST(length(text) AS DOUBLE) END) * 5.0, 1.0)) * 0.1, 6)""".stripMargin

  def sqlFnvRaw(x: String): String =
    s"list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT), " +
      s"list_transform(range(1, length($x)+1), " +
      s"j -> CAST(unicode(substr($x, j, 1)) AS HUGEINT))), " +
      s"(acc, ch) -> (xor(acc, ch) * CAST('1099511628211' AS HUGEINT)) % $sqlMod)"

  /** CTE chain applying the splitmix64 finisher to column z0`tag` of
    * g0`tag` (the +golden step must already be folded into z0), keyed
    * by `keys`; yields z4 in g5`tag`. */
  def sqlMixChain(tag: String, keys: String): String =
    s"""g1$tag AS (SELECT $keys, xor(z0$tag, z0$tag // CAST('1073741824' AS HUGEINT)) AS t1 FROM g0$tag),
       |g2$tag AS (SELECT $keys, ${sqlSplitMul("t1", "CAST('13787848793156543929' AS HUGEINT)")} AS z2 FROM g1$tag),
       |g3$tag AS (SELECT $keys, xor(z2, z2 // CAST('134217728' AS HUGEINT)) AS t2 FROM g2$tag),
       |g4$tag AS (SELECT $keys, ${sqlSplitMul("t2", "CAST('10723151780598845931' AS HUGEINT)")} AS z3 FROM g3$tag),
       |g5$tag AS (SELECT $keys, xor(z3, z3 // CAST('2147483648' AS HUGEINT)) AS z4 FROM g4$tag)""".stripMargin
}
