package graft
package entry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: its Spark `build` over an sf directory
  * and the DuckDB SQL that replays it as `oracle`. The oracle is a
  * thunk because rendering some of them reads a classpath resource
  * (the PSL subset, tokenizer and LM models), and a missing resource
  * must fail only that entry, never the whole oracle artifact. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: () => String)

object QuerySpec {
  /** Name → build. Two specs with one name are rejected, naming the
    * duplicate; a plain `toMap` would keep the last one silently. */
  def index(specs: Seq[QuerySpec]): Map[String, (SparkSession, String) => DataFrame] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(s => s.name -> s.build).toMap
  }
}
