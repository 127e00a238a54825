package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Cross-JVM serialization parity: every custom-kernel family runs
  * under `local-cluster[2,2,2048]` — real standalone executor
  * PROCESSES, so expression reference objects (classifier weight
  * vectors, IVF centroid matrices, PQ codebooks/LUTs, Bloom filters,
  * BPE merge vocabularies, hyperplane matrices) and the three
  * TypedImperativeAggregate families (HLL / count-min / histogram
  * sketches) must survive java serialization of the task binary and
  * deserialize in a fresh JVM — and must produce results identical to
  * the in-process `local[*]` run every other spec (and the DuckDB
  * oracle gate) exercises.
  *
  * `local[*]` never crosses a JVM boundary: a non-serializable capture
  * in a kernel, a codegen reference-object bug, or an aggregate buffer
  * that only merges in-heap would pass every other test and then kill
  * the operator on a real cluster. This spec is the evidence that the
  * 1000-executor deployment posture is real.
  *
  * This suite OWNS the JVM's SparkContext (two sequential sessions
  * with different masters), so build.sbt runs it in its own forked
  * test group — it must never share a JVM with TestSpark suites.
  */
class LocalClusterSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  /** One representative query per custom-kernel family (see the
    * scaladoc above; names are SparkEntry.queries keys):
    *  - hashgram weights ref-obj + codegen     → q_classifier_score
    *  - multi-model argmax (L weight arrays)   → q_lang_id2
    *  - IVF centroid matrix + cell join        → q_ann_ivf
    *  - PQ codebooks + per-query ADC LUTs      → q_pq_topk
    *  - driver-built Bloom filter ref-obj      → q_decontaminate_bloom
    *  - HLL TypedImperativeAggregate           → q_hll_card
    *  - count-min TypedImperativeAggregate     → q_cms_counts
    *  - histogram TypedImperativeAggregate     → q_hist_quantiles
    *  - BPE merge-chain kernel + learn loop    → q_bpe_encode
    *  - shingle/minhash codegen kernels        → q_minhash_pairs
    *  - hyperplane-LSH matrix (auto depth)     → q_embed_neardup_auto
    *  - splitmix cut kernel (FIM)              → q_fim_transform
    *  - PSL rule-set reference object          → q_url_parse2
    *  - residual IVFPQ (means + codebooks + per-probe-cell dots)
    *                                           → q_ann_ivfpq2
    */
  private val names = Seq(
    "q_classifier_score", "q_lang_id2", "q_ann_ivf", "q_pq_topk",
    "q_decontaminate_bloom", "q_hll_card", "q_cms_counts",
    "q_hist_quantiles", "q_bpe_encode", "q_minhash_pairs",
    "q_embed_neardup_auto", "q_fim_transform", "q_url_parse2",
    "q_ann_ivfpq2",
    // round 12: external merges.txt chain folded into lit() columns
    "q_bpe_external",
    // round 13: unigram Viterbi kernel — the UnigramVocab reference
    // object (transient lazy lookup map) must rebuild per executor JVM
    "q_unigram_external",
    // integer-micro-unit graph iteration across executors: the
    // co-partitioned RDD loop (adjacency-array and Math.addExact
    // closures, one lazily chained job)
    "q_pagerank",
    // the same loop with a per-half-step max `aggregate` closure and
    // the rescale view over its cache
    "q_hits",
    // round 15: the subword fastText model reference object (input/
    // output matrices + transient lazy wordIds map) rebuilt per
    // executor JVM, and the main-content struct kernel
    "q_lang_id4", "q_main_content",
    // the dump, WARC and tar readers resolve their broadcast Hadoop
    // conf inside the executor JVMs
    "q_dump_source_bson", "q_warc_gz", "q_tar_ingest")

  /** Round-12 real-decode surface (imageio thumbnails, GIF codec
    * frames, javax.sound audio headers): mapPartitions closures over
    * JDK decoder state, proven across real executor JVMs like the
    * query kernels. Rows render deterministically (payload bytes by
    * java Arrays.hashCode — both sessions run the same JVM, so PNG
    * re-encodes are byte-identical). */
  private def multimodalProbe(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    import graft.operators.Multimodal
    // the same deterministic in-process artifacts MultimodalSpec uses
    val img = new java.awt.image.BufferedImage(
      8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 4).foreach(y => (0 until 8).foreach(x =>
      img.setRGB(x, y, (x * 0x010203 + y * 0x102030) & 0xffffff)))
    val pngBuf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pngBuf)
    val png = pngBuf.toByteArray
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](2000 * fmt.getFrameSize)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 2000L)
    val wavBuf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavBuf)
    val wav = wavBuf.toByteArray
    val gifWriter = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val gifBuf = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(gifBuf)
    gifWriter.setOutput(ios); gifWriter.prepareWriteSequence(null)
    (1 to 3).foreach { k =>
      val f = new java.awt.image.BufferedImage(
        4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 2).foreach(y => (0 until 4).foreach(x =>
        f.setRGB(x, y, 0x204060 * k & 0xffffff)))
      gifWriter.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
    }
    gifWriter.endWriteSequence(); ios.close(); gifWriter.dispose()
    val gif = gifBuf.toByteArray
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", png, 9, 9),
      Multimodal.MediaRecord(2L, "audio", wav, 0, 0),
      Multimodal.MediaRecord(3L, "video", gif, 4, 2)).toDF()
    val thumbs = Multimodal.renderThumbnails(spark, media, box = 4)
      .collect().map(t => s"T:${t.doc_id}:${t.thumb_w}x${t.thumb_h}:" +
        java.util.Arrays.hashCode(t.thumb_png))
    val audio = Multimodal.extractAudioFeatures(spark, media)
      .collect().map(_.toString)
    val frames = Multimodal.sampleGifFrames(spark, media, maxFrames = 2)
      .collect().map(f => s"G:${f.doc_id}:${f.frame_idx}/${f.n_frames}:" +
        s"${f.w}x${f.h}:" + java.util.Arrays.hashCode(f.frame_png))
    (thumbs ++ audio ++ frames).sorted.toSeq
  }

  private def builder(master: String) =
    Session.builder(master, 8).appName(s"graft-parity-$master")

  /** Collect each query's full result as an order-insensitive list of
    * row renderings (every oracle-gated query is deterministic up to
    * row order by construction). */
  private def runAll(spark: SparkSession): Map[String, Seq[String]] = {
    try {
      names.map { n =>
        n -> SparkEntry.queries(n)(spark, sf).collect().map(_.toString).sorted.toSeq
      }.toMap + ("__multimodal__" -> multimodalProbe(spark))
    }
    finally spark.stop()
  }

  test("custom kernels/aggregates serialize across JVMs: local-cluster == local") {
    val local = runAll(builder("local[4]").getOrCreate())

    // executor-launch wiring shared with ClusterProbe (one definition;
    // see its scaladoc for what each piece is for)
    val clusterSession = builder("local-cluster[2,2,2048]")
      .config(ClusterProbe.clusterConfigs).getOrCreate()
    // prove the topology is what the test claims: 2 executor processes
    // + the driver (a silent fallback to local mode would make the
    // parity check vacuous). Executor JVMs register asynchronously —
    // poll up to 90 s before failing.
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    def execCount = clusterSession.sparkContext.statusTracker.getExecutorInfos.length
    while (execCount < 3 && System.nanoTime() < deadline) Thread.sleep(500)
    assert(execCount == 3,
      s"expected 2 remote executors + driver, got $execCount")
    val cluster = runAll(clusterSession)

    (names :+ "__multimodal__").foreach { n =>
      assert(cluster(n).nonEmpty, s"$n returned no rows under local-cluster")
      assert(cluster(n) == local(n),
        s"$n diverged between local and local-cluster execution")
    }
  }
}
