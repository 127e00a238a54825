package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  test("latestWins keeps the row attaining all extremes per key " +
    "(insert_from_tmp_tables.sql:39-51)") {
    val staged = Seq(
      // key k1: later snapshot has newer date AND fewer issues -> wins
      ("k1", d("2014-01-01"), 10L, "v1"),
      ("k1", d("2014-02-01"), 7L, "v2"),
      // key k2: single row -> trivially wins
      ("k2", d("2014-01-15"), 3L, "only")
    ).toDF("key", "updated_at", "open_issues", "tag")
    val got = Dedup.latestWins(staged, Seq("key"),
      maxCols = Seq("updated_at"), minCols = Seq("open_issues"))
      .select($"key", $"tag").as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "v2", "k2" -> "only"))
  }

  test("latestWins mirrors the reference's quirk: no row attaining ALL " +
    "extremes drops the whole key") {
    val staged = Seq(
      ("k", d("2014-02-01"), 10L), // newest date but not min issues
      ("k", d("2014-01-01"), 5L)   // min issues but not newest date
    ).toDF("key", "updated_at", "open_issues")
    val got = Dedup.latestWins(staged, Seq("key"),
      Seq("updated_at"), Seq("open_issues"))
    assert(got.count() == 0)
  }

  test("latestWins DISTINCTs exact duplicate winners") {
    val staged = Seq(
      ("k", d("2014-02-01"), 7L),
      ("k", d("2014-02-01"), 7L)
    ).toDF("key", "updated_at", "open_issues")
    assert(Dedup.latestWins(staged, Seq("key"),
      Seq("updated_at"), Seq("open_issues")).count() == 1)
  }

  test("latestWins NULL extreme drops the row (SQL equality semantics)") {
    val staged = Seq(
      ("k", Option(d("2014-02-01")), 7L),
      ("k", Option.empty[Date], 3L)
    ).toDF("key", "updated_at", "open_issues")
    // the NULL-date row can never satisfy updated_at = max(updated_at)
    val got = Dedup.latestWins(staged, Seq("key"),
      Seq("updated_at"), Seq("open_issues"))
    assert(got.count() == 0) // date-max row has 7 issues, min is 3 -> both drop
  }

  test("antiJoinNew keeps only unseen keys and applies guards " +
    "(insert_from_tmp_tables.sql:52-54)") {
    val incoming = Seq(("a", 1L), ("b", 2L), ("", 3L)).toDF("key", "v")
    val existing = Seq("b").toDF("key")
    val got = Dedup.antiJoinNew(incoming, existing, Seq("key"),
      guards = Seq(col("key") =!= ""))
      .select($"key").as[String].collect().toSeq
    assert(got == Seq("a"))
  }

  test("exactDedup groups by content hash, keeps min id + count") {
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("id", "text")
    val got = Dedup.exactDedup(docs, "text", "id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 3L -> 1L))
  }

  test("idempotentUpsert = existing union unseen incoming, dedup by key " +
    "(ght2dm.go:440-490 set-based)") {
    val existing = Seq((1L, "e1"), (2L, "e2")).toDF("k", "v")
    val incoming = Seq((2L, "i2"), (3L, "i3"), (3L, "i3b")).toDF("k", "v")
    val got = Dedup.idempotentUpsert(existing, incoming, Seq("k"))
      .select($"k").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
    // existing row wins over incoming on collision
    val v2 = Dedup.idempotentUpsert(existing, incoming, Seq("k"))
      .filter($"k" === 2L).select($"v").as[String].collect().toSeq
    assert(v2 == Seq("e2"))
  }

  test("substringDedup removes duplicated token windows, keeps the " +
    "global first occurrence, passes short docs through; byHash " +
    "matches the string-keyed oracle mode") {
    val span = (1 to 8).map(i => s"dup$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta $span gamma delta epsilon zeta eta theta"),
      // same 8-token span later in the corpus: its tokens vanish, the
      // unique tail survives
      (2L, s"$span tail1 tail2 tail3 tail4 tail5 tail6 tail7"),
      (3L, "too short to carry a window"),
      // exact duplicate of doc 2: fully covered by doc 2's windows
      (4L, s"$span tail1 tail2 tail3 tail4 tail5 tail6 tail7")
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedup(corpus, "doc_id", "text",
        w = 8, byHash = false)
      .as[(Long, String)].collect().toMap
    assert(got(1L) ==
      s"alpha beta $span gamma delta epsilon zeta eta theta")
    assert(got(2L) == "tail1 tail2 tail3 tail4 tail5 tail6 tail7",
      s"doc2 = ${got(2L)}")
    assert(got(3L) == "too short to carry a window")
    assert(got(4L) == "", s"doc4 = ${got(4L)}")
    val hashed = Dedup.substringDedup(corpus, "doc_id", "text",
        w = 8, byHash = true)
      .as[(Long, String)].collect().toMap
    assert(hashed == got, "byHash diverged from string-keyed mode")
  }

  test("connectedComponents equals union-find on random graphs, maps " +
    "singletons to themselves") {
    val r = new scala.util.Random(11)
    val n = 200
    val edges = Seq.fill(150)((r.nextInt(n).toLong, r.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val nodes = (0 until n).map(_.toLong).toDF("doc_id")
    val edgeDf = edges.toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, edgeDf, "doc_id", "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    // reference union-find with min-root policy
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(a: Long): Long = {
      var x = a
      while (parent.getOrElse(x, x) != x) x = parent.getOrElse(x, x)
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(_.toLong).foreach { id =>
      assert(got(id) == find(id), s"node $id")
    }
    assert(got.size == n)
  }

  test("keepBestPerCluster keeps the score argmax per cluster, ties to " +
    "the lowest id, singletons survive") {
    val docs = Seq(
      (1L, "a", 0.2), (2L, "b", 0.9), (3L, "c", 0.5), // cluster {1,2,3} -> 2
      (5L, "e", 0.7), (6L, "f", 0.7),                 // tie -> lowest id 5
      (4L, "d", 0.1), (7L, "g", 0.0)                  // singletons
    ).toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestPerCluster(docs, pairs, "doc_id",
        "id_a", "id_b", col("score"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 4L, 5L, 7L))
  }

  test("paragraphDedup keeps the globally FIRST occurrence of each " +
    "paragraph and reassembles survivors in order") {
    val docs = Seq(
      (1L, "A\nB\nA"),   // in-doc repeat of A drops too
      (2L, "B\nC"),      // B seen in doc 1
      (3L, "A\nB")       // nothing left -> doc drops out
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text", byHash = false)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "A\nB", 2L -> "C"))
    // the 8-byte-shuffle-key scale path picks identical winners
    val viaHash = Dedup.paragraphDedup(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(viaHash == got)
  }

  test("paragraphDedup on the structured corpus strips the shared " +
    "boilerplate from every doc but the first (byHash parity at " +
    "corpus scale)") {
    val q = SparkEntry.queries("q_para_dedup")
    val out = q(spark, TestSpark.sf0001).as[(Long, String)].collect()
    val withHeader = out.filter(_._2.contains("shared boilerplate header"))
    assert(withHeader.map(_._1).toSeq == Seq(out.map(_._1).min))
    assert(out.length > 400) // docs survive, just shorn of repeats
  }

  test("stripBoilerplateLines drops over-threshold lines from EVERY " +
    "doc (no first-copy survivor), keeps content and blanks, counts " +
    "doc frequency not occurrences; byHash parity") {
    val docs = Seq(
      (1L, "TEMPLATE\ncontent one\n\nfooter\nfooter"), // own repeat: df 1
      (2L, "TEMPLATE\ncontent two"),
      (3L, "TEMPLATE\ncontent three"),
      (4L, "TEMPLATE")                                 // template-only doc
    ).toDF("doc_id", "text")
    val got = Dedup.stripBoilerplateLines(docs, "doc_id", "text",
        maxDocFreq = 2, byHash = false)
      .as[(Long, String)].collect().toMap
    // TEMPLATE df=4 > 2 -> stripped everywhere, incl. its "first" doc;
    // footer df=1 (distinct docs, though it occurs twice) -> kept;
    // the blank line survives inside doc 1
    assert(got(1L) === "content one\n\nfooter\nfooter")
    assert(got(2L) === "content two")
    assert(got(3L) === "content three")
    assert(got(4L) === "")
    val viaHash = Dedup.stripBoilerplateLines(docs, "doc_id", "text",
        maxDocFreq = 2)
      .as[(Long, String)].collect().toMap
    assert(viaHash === got)
  }

  test("connectedComponents with a reliable checkpoint dir gives the " +
    "same labels (cluster-durable truncation path)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    val nodes = (0L to 6L).toDF("doc_id")
    val edges = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, edges, "doc_id", "id_a",
        "id_b", checkpointDir = Some(dir.toString))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L,
      4L -> 4L, 5L -> 4L, 6L -> 6L))
    // the reliable path actually wrote round state to the dir
    assert(java.nio.file.Files.list(dir).count() > 0)
  }

  test("connectedComponents: empty graph returns the empty frame, " +
    "maxIters exhaustion throws instead of returning wrong labels") {
    val emptyNodes = Seq.empty[Long].toDF("doc_id")
    val emptyEdges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(emptyNodes, emptyEdges, "doc_id",
      "id_a", "id_b").count() == 0L)
    // a 5-path needs >1 hash-min round; maxIters=1 must surface the
    // non-convergence loudly, not hand back partial propagation
    val nodes = (0L to 4L).toDF("doc_id")
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, path, "doc_id", "id_a", "id_b",
        maxIters = 1)
    }
  }

  test("connectedComponents converges logarithmically on a long path " +
    "with SHUFFLED ids (the label-local-minima shape where pointer " +
    "jumping alone stalls)") {
    // paths whose ids are randomly placed along the structure: plain
    // hash-min needs ~eccentricity rounds (O(n) — 2047 at the larger
    // size), pointer jumping stalls on interior local minima — the
    // label-equivalence augmentation keeps measured rounds at
    // ~1.8·log2(n) across sizes AND seeds (n=256: 14-16, n=2048:
    // 19-21, n=4096: 22). Assert the absolute bound at both sizes and
    // that 8× the diameter costs only additively more rounds — the
    // logarithmic signature an O(diameter) regression would break.
    def pathRounds(n: Int): Int = {
      val r = new scala.util.Random(7)
      val ids = r.shuffle((0L until n.toLong).toVector)
      val nodes = ids.toDF("doc_id")
      val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq
        .toDF("id_a", "id_b")
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(
        nodes, edges, "doc_id", "id_a", "id_b", maxIters = 60)
      val got = labels.as[(Long, Long)].collect()
      assert(got.length == n)
      assert(got.forall(_._2 == 0L), "every node labels to the component min")
      rounds
    }
    def log2(n: Int): Int = 32 - Integer.numberOfLeadingZeros(n - 1)
    val small = pathRounds(256)
    val large = pathRounds(2048)
    assert(small <= 2 * log2(256) + 4, s"n=256 took $small rounds")
    assert(large <= 2 * log2(2048) + 4, s"n=2048 took $large rounds")
    assert(large - small <= 8,
      s"rounds grew $small -> $large over 8x diameter: not logarithmic")
  }

  test("connectedComponents releases the loop's persisted RDDs: after " +
    "consumption only the result's own copy is cached") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val nodes = (0L to 99L).toDF("doc_id")
    val edges = (0L to 98L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, edges, "doc_id", "id_a", "id_b")
    assert(got.as[(Long, Long)].collect().forall(_._2 == 0L))
    // every per-round internal RDD is unpersisted; the single surviving
    // block set is the localCheckpoint copy the returned frame owns
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"loop RDDs left cached: ${leaked.size} new persistent RDDs")
  }

  test("connectedComponents with a NULLABLE id column: null ids keep a " +
    "null label, witness skips them instead of folding them to 0") {
    // java.lang.Long column -> nullable long; a null node plus a live
    // component whose labels still need a round to converge
    val nodes = Seq[java.lang.Long](null, 10L, 11L, 12L)
      .toDF("doc_id")
    val edges = Seq((10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, edges, "doc_id", "id_a", "id_b")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(got == Set(
      (None, None),
      (Some(10L), Some(10L)), (Some(11L), Some(10L)), (Some(12L), Some(10L))))
  }

  test("connectedComponents sizes its loop from the same node count on " +
    "both truncation branches when ids are nullable") {
    // 3 live ids among 140k null ids: counting the nulls (131,072 rows
    // per loop task) would size the loop 2 wide instead of 1. The
    // loop width is the partition count of the rounds' output, read
    // here with coalescing off so AQE does not hide it.
    val nodes = spark.range(0L, 140003L, 1L, 4)
      .select(when(col("id") < 3L, col("id")).as("doc_id"))
    val edges = Seq((0L, 1L)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-width")
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      def run(ckpt: Option[String]) = {
        val out = Dedup.connectedComponents(nodes, edges, "doc_id", "id_a",
          "id_b", checkpointDir = ckpt)
        (out.rdd.getNumPartitions,
          out.where(col("doc_id").isNotNull).as[(Long, Long)].collect().toSet)
      }
      val (fastWidth, fastLabels) = run(None)
      val (ckptWidth, ckptLabels) = run(Some(dir.toString))
      assert(fastLabels == Set((0L, 0L), (1L, 0L), (2L, 2L)))
      assert(ckptLabels == fastLabels)
      assert(ckptWidth == fastWidth,
        s"checkpoint branch loop width $ckptWidth, RDD branch $fastWidth")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("cdcCuts kernel: ascending cuts, forced final cut, rule matches " +
    "a direct recompute") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.TextHash
    val rnd = new scala.util.Random(7)
    val text = (1 to 120).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val cuts = TextHash.cdcCuts(UTF8String.fromString(text), 8, 4)
    assert(cuts.last == text.length)
    assert(cuts.toSeq == cuts.toSeq.sorted && cuts.distinct.length == cuts.length)
    val bytes = text.getBytes("UTF-8")
    val expected = (8 until text.length).filter(p =>
      (TextHash.fnv64(bytes, p - 8, p) & 15L) == 0L) :+ text.length
    assert(cuts.toSeq == expected)
  }

  test("cdcBlockStats finds a shared block at DIFFERENT offsets " +
    "(the shift-robustness fixed-size blocks lack)") {
    val rnd = new scala.util.Random(42)
    def rand(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val block = rand(400)
    // same 400-char block behind prefixes of DIFFERENT lengths: every
    // aligned-offset scheme sees different block contents; CDC
    // boundaries resynchronize inside `block` so its interior chunks
    // hash identically in both docs
    val docs = Seq(
      (1L, "shortpre " + block),
      (2L, "a much longer and different prefix here " + block),
      (3L, rand(400))
    ).toDF("doc_id", "text")
    val got = Dedup.cdcBlockStats(docs, "text", "doc_id", w = 8, maskBits = 5)
      .select($"doc_id", $"dup_frac").as[(Long, Double)].collect().toMap
    assert(got(1L) > 0.5, s"doc 1 dup_frac ${got(1L)}")
    assert(got(2L) > 0.5, s"doc 2 dup_frac ${got(2L)}")
    assert(got(3L) == 0.0, s"doc 3 dup_frac ${got(3L)}")
  }
}
