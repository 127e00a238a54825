package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Scaling probe for the embedding near-dup operator:
  * `runMain graft.tools.ScaleProbe <sfDir> [bits,bits,...]`
  *
  * Times the q_embed_neardup construction (corpus ∪ perturbed copy)
  * at each fixed LSH depth plus the auto-sized depth
  * ([[Similarity.cosineNearDupPairsAuto]]), printing seconds and
  * result-pair counts — the evidence that bucket occupancy, not
  * corpus size, drives this operator's cost. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val bitsList = args.drop(1).headOption.map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(7))
    val spark = graft.Session.local()

    val emb = graft.Tables.embeddings(spark, sfDir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val perturbed = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + sin(i.cast("double") + col("vec_id").cast("double")) * 0.05)
          .as("embedding"))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(perturbed)
    val n = corpus.count()

    def time(label: String)(f: => Long): Unit = {
      f // warm (plan + codegen)
      val t0 = System.nanoTime()
      val pairs = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scaleprobe] n=$n $label: $sec%.2f s, $pairs pairs")
    }
    bitsList.foreach { b =>
      time(s"bits=$b")(Similarity.cosineNearDupPairs(
        corpus, threshold = 0.9, dim = 64, bits = b, numTables = 8).count())
    }
    time("auto")(Similarity.cosineNearDupPairsAuto(
      corpus, threshold = 0.9, dim = 64, numTables = 8).count())
    spark.stop()
  }
}
