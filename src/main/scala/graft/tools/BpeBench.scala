package graft.tools

import org.apache.spark.sql.functions._

/** Measures BPE merge learning at a real vocabulary size:
  * `runMain graft.tools.BpeBench <sfDir> <numMerges> [batchK|seq]`.
  *
  * The batched learner's claim is that the per-merge driver round-trip
  * — not the data volume — is the serial axis of the learn loop, so
  * amortizing ~batch-size merges per aggregation job should cut learn
  * time by roughly the mean accepted-batch size. This harness prints
  * vocabulary size and learn wall-clock for the PLANS.md table. */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val numMerges = args(1).toInt
    val mode = if (args.length > 2) args(2) else "256"
    val spark = graft.Session.local()
    // the synthetic documents tables carry a ~31-word ASCII vocabulary
    // (every salted token is non-ASCII-filtered), which exhausts BPE
    // after <100 merges — far below a real tokenizer's input. sfDir
    // "synth:<n>" instead builds a deterministic n-word vocabulary with
    // Zipf counts and 6-14 char words over a 20-letter alphabet, the
    // shape a crawl's word table actually has.
    val words = (if (sfDir.startsWith("synth:")) {
      val n = sfDir.stripPrefix("synth:").toInt
      val len = pmod(xxhash64(col("id"), lit(999)), lit(9)) + lit(6)
      spark.range(n).select(
        concat_ws("", (0 until 14).map(i =>
          when(lit(i) < len,
            element_at(split(lit("abcdefghijklmnopqrst"), ""),
              (pmod(xxhash64(col("id"), lit(i)), lit(20)) + 1).cast("int")))
            .otherwise(lit(""))): _*).as("w"),
        (lit(1000000) / (col("id") + 1)).cast("bigint").as("cnt"))
        .groupBy("w").agg(max(col("cnt")).as("cnt"))
    } else {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      graft.operators.Bpe.wordCounts(docs, "text")
    }).persist()
    val nWords = words.count()
    val t0 = System.nanoTime()
    val merges =
      if (mode == "seq") graft.operators.Bpe.learnFromWords(words, numMerges)
      else graft.operators.Bpe.learnFromWordsBatched(words, numMerges, mode.toInt)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[bpebench] mode=$mode vocab=$nWords merges=${merges.length} " +
      f"time=$sec%.1f s last=${merges.lastOption}")
    spark.stop()
  }
}
