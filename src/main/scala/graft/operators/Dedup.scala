package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set-based re-expression of the reference's repo ingestion dedup
  * (db/insert_from_tmp_tables.sql:13-54).
  *
  * The reference does: groupBy(clone_path) computing
  * max(updated_at), max(pushed_at), min(open_issues_count); then an inner
  * self-join back on (key, all three extremes) plus DISTINCT; then a
  * LEFT JOIN against already-inserted rows keeping only misses; then
  * non-empty-key filters.
  *
  * Spark-first shape: the groupBy+self-join collapses into window
  * aggregates over a single hash partitioning of the key (one shuffle,
  * no join), and the "already present" check is a `left_anti` join.
  * At 100 TB the window shuffle partitions by the dedup key
  * (high-cardinality `clone_path`), so it scales horizontally; skewed
  * keys are handled by AQE skew-join settings, and the anti-join's right
  * side (already-present keys) is a narrow projection that Catalyst
  * broadcast-joins when small.
  */
object Dedup {


  /** Connected components of a near-dup pair graph — the clustering
    * step between candidate pairs and "keep one canonical doc per
    * group". Hash-min label propagation: every node starts as its own
    * component; each iteration pushes the running minimum label across
    * edges (join + union + groupBy-min, all hash-partitioned on the
    * node id) until a fixpoint, accelerated two ways (both in-round,
    * same plan shape): pointer jumping (`jumps` self-compositions of
    * the label map — distance ×2^jumps per round on id-ordered
    * structures) and label-equivalence edge augmentation (the previous
    * round's (id, comp) pairs re-enter as edges — the distributed
    * analog of union-find path compression, which keeps propagation
    * logarithmic even where jumping stalls on label local-minima).
    * `maxIters` is a safety valve, and the driver only ever sees a
    * 1-row convergence probe, never data.
    *
    * Returns (idCol, canonical_id) for EVERY node (singletons map to
    * themselves); canonical_id = the component's minimum id, giving
    * the deterministic keep-lowest-id policy downstream.
    *
    * `nodes` must cover every id appearing in `edges` — an endpoint
    * missing from `nodes` enters the label frame mid-iteration without
    * its own id as a candidate label, so its component minimum can be
    * wrong. (The near-dup queries derive edges from the node corpus,
    * so this holds by construction.)
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, idCol: String,
                          aCol: String, bCol: String,
                          maxIters: Int = 20,
                          checkpointDir: Option[String] = None,
                          jumps: Int = 1): DataFrame =
    connectedComponentsWithRounds(nodes, edges, idCol, aCol, bCol,
      maxIters, checkpointDir, jumps)._1

  /** [[connectedComponents]] plus the number of propagation rounds it
    * took — the scale metric (each round is one barrier, a freshly
    * planned query of several jobs: ~0.3–0.55 s per round on a 4-core
    * host in local mode, more on a cluster): near-dup cliques
    * converge in O(1)-ish rounds, and `DedupSpec` pins that a
    * HIGH-DIAMETER path graph stays ~log(n) under the pointer-doubling
    * + label-equivalence accelerations, whatever the id order. */
  def connectedComponentsWithRounds(
      nodes: DataFrame, edges: DataFrame, idCol: String,
      aCol: String, bCol: String,
      maxIters: Int = 20,
      checkpointDir: Option[String] = None,
      jumps: Int = 1): (DataFrame, Int) = {
    require(jumps >= 0, "jumps must be >= 0")
    import org.apache.spark.sql.GraftSqlShim
    val spark = nodes.sparkSession
    // Per-round lineage truncation + convergence witness, ONE BARRIER
    // per round: materialize the round into a persisted InternalRow
    // RDD and fold sum+count over it IN THE SAME JOB, then rebuild the
    // frame over the computed RDD (the primitive localCheckpoint uses)
    // — halving the job count of an iterative loop whose cost is
    // rounds × fixed job overhead. With a checkpoint dir the rounds
    // are instead RELIABLY checkpointed (survive executor loss —
    // required on a real cluster) and the sum is a second, cheap job
    // over the checkpointed blocks. The fast path needs numeric ids
    // wide enough to read as long; anything else falls back to the
    // two-job localCheckpoint path.
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val longIds = nodes.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    // newest first; TWO generations stay live because the equivalence
    // augmentation below scans the round-before-last's frame — a
    // single-slot tracker would unpersist it one round before its last
    // use and force a lineage recompute every round
    var liveRdds: List[org.apache.spark.rdd.RDD[_]] = Nil
    // (truncated frame, Some(sum of comp) or None for an empty frame,
    // count of non-null comps — the caller sizes the loop width from
    // the counts, so both branches count the same rows)
    def truncateWithSum(df: DataFrame): (DataFrame, Option[Long], Long) =
      if (checkpointDir.isDefined || !longIds) {
        val t = if (checkpointDir.isDefined) df.checkpoint(eager = true)
                else df.localCheckpoint(true)
        val r = t.agg(sum(col("comp")), count(col("comp"))).head()
        (t, Option(r.get(0)).map(_.asInstanceOf[Number].longValue()),
          r.getLong(1))
      } else {
        val rdd = GraftSqlShim.toInternalRowRdd(df).map(_.copy()).persist()
        // sum wrap-around is harmless: the witness only needs to be
        // injective along the strictly-decreasing label sequence.
        // NULL comps (nullable id column: a null id never joins, so its
        // comp stays null) are SKIPPED, mirroring the slow path's
        // sum()/None semantics — folding them in as getLong's 0 default
        // could falsely declare convergence and return wrong labels.
        val (s, n) = rdd.aggregate((0L, 0L))(
          (acc, row) => if (row.isNullAt(1)) acc
                        else (acc._1 + row.getLong(1), acc._2 + 1L),
          (a, b) => (a._1 + b._1, a._2 + b._2))
        val frame = GraftSqlShim.internalCreateDataFrame(spark, rdd, df.schema)
        // blocks two generations back are dead once this round is live
        liveRdds = rdd :: liveRdds
        liveRdds.drop(2).foreach(_.unpersist(blocking = false))
        liveRdds = liveRdds.take(2)
        (frame, if (n == 0L) None else Some(s), n)
      }
    // persist the EDGE LIST, not the symmetrized union: the union's two
    // branches would each evaluate the (expensive) pair-generation plan
    // once before the cache materializes; cached edges make the
    // symmetrization two cheap cache scans
    val cachedEdges = edges.persist()
    // edge count for the loop-width sizing below; doubles as the
    // edge-cache warm-up
    val edgeCount = cachedEdges.count()
    val sym = cachedEdges.select(col(aCol).as("x"), col(bCol).as("y"))
      .unionByName(cachedEdges.select(col(bCol).as("x"), col(aCol).as("y")))
    // each round references `labels` TWICE (join + union), so without
    // lineage truncation the logical plan doubles per round and
    // Catalyst analysis goes exponential past ~12 rounds. Eager
    // truncation materializes the round and resets the plan to a
    // leaf — cost stays linear in rounds.
    // labels only ever DECREASE under min-propagation, so the sum of
    // labels is a strictly-decreasing convergence witness: one cheap
    // fold per round instead of a full old-vs-new join. Over zero
    // rows the sum is None — empty graph, already converged.
    var (labels, prevSum, nodeCount) = truncateWithSum(
      nodes.select(col(idCol).as("id"), col(idCol).as("comp")))
    // Right-size the loop's shuffle width to the LARGEST frame any
    // round moves — the SAME fix Graph.loopWidth applies to the
    // PageRank/HITS loops (round stages at the session default width
    // are a pure scheduling floor locally; the one-shot cc_labels
    // figure was measured swinging 7.6-25 s run to run at width 32 on
    // a ~20k-edge sf0.1 graph). Sized from max(edges, nodes), not
    // edges alone (round-16 ADVICE): the per-round label and min-agg
    // frames are NODE-sized, and a sparse dedup graph — the common
    // case, mostly singletons — has nodes >> edges, which collapsed
    // the width to 1 and pushed node-sized frames through
    // single-partition exchanges every round. The node count rides the
    // initial truncation fold (no extra job); the min against the
    // session default preserves cluster width at scale.
    val w = Graph.loopWidth(spark, math.max(edgeCount, nodeCount))
    var done = prevSum.isEmpty
    var i = 0
    // the previous round's label map, re-used as EXTRA edges (below)
    var prevLabels: Option[DataFrame] = None
    // One min-propagation pass over `frame`, with two in-pass
    // accelerations (same plan shape either way):
    //
    //  - label-equivalence augmentation: every (id, comp) pair of a
    //    PAST frame (`eqSrc`, one generation behind `frame`) is a
    //    discovered same-component fact, so push along those pairs too
    //    (both directions). The lag is deliberate: the current frame's
    //    own pairs only push each node's label back to itself, while
    //    lagged pairs tell a node's former label about the improvement
    //    that replaced it. Pointer jumping alone stalls on graphs
    //    whose ids are not ordered along the structure (labels hit
    //    LOCAL minima with comp∘comp = comp); the lagged edges keep
    //    shrinking the effective graph around those minima
    //    (distributed union-find path compression). Measured on the
    //    sf0.1 near-dup graph: 14 rounds plain → 9 augmented.
    //  - pointer DOUBLING by repeated self-composition: each of the
    //    `jumps` steps squares the label map (comp → comp² → comp⁴),
    //    multiplying propagation distance 2^jumps per pass on
    //    id-ordered structures. The invariant (a label is always some
    //    id inside the component) is preserved under composition, and
    //    the min-aggregation keeps every node's own current label as
    //    a candidate, so labels are monotone non-increasing and the
    //    sum witness below stays valid.
    def propagate(frame: DataFrame, eqSrc: Option[DataFrame]): DataFrame = {
      val symAug = eqSrc match {
        case Some(pl) =>
          val eq = pl.filter(col("id") =!= col("comp"))
          sym.unionByName(eq.select(col("id").as("x"), col("comp").as("y")))
            .unionByName(eq.select(col("comp").as("x"), col("id").as("y")))
        case None => sym
      }
      val pushed = frame.join(symAug, col("id") === col("x"))
        .select(col("y").as("id"), col("comp"))
      var acc = frame.unionByName(pushed)
      var hop = frame
      (1 to jumps).foreach { i =>
        // fresh alias pair per squaring so the self-joins stay
        // unambiguous
        val p = hop.select(col("id").as(s"__pid$i"),
          col("comp").as(s"__pcomp$i"))
        hop = hop.join(p, col("comp") === col(s"__pid$i"))
          .select(col("id"), col(s"__pcomp$i").as("comp"))
        acc = acc.unionByName(hop)
      }
      acc.groupBy(col("id")).agg(min(col("comp")).as("comp"))
    }
    // ONE propagation pass per materialized round. (Two passes per
    // round — halving the barrier count — was measured and REJECTED:
    // without materializing the first pass, the second references its
    // plan ~4x and re-executes it each time, costing more than the
    // barrier it saves; materializing it IS a round.)
    // the whole loop runs at the right-sized width (Graph's scoped
    // shuffle-partitions override — see withShuffleWidth's concurrency
    // note there): every round's join/union/min-agg exchanges and the
    // materialized round RDD are w-wide instead of default-wide
    Graph.withShuffleWidth(spark, w) {
      while (!done && i < maxIters) {
        val (updated, newSum, _) = truncateWithSum(propagate(labels, prevLabels))
        prevLabels = Some(labels)
        labels = updated
        done = newSum == prevSum
        prevSum = newSum
        i += 1
      }
    }
    cachedEdges.unpersist()
    if (!done) {
      liveRdds.foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIters=$maxIters " +
          "rounds — labels would be wrong (partial propagation); raise " +
          "maxIters (diameter bound) or pre-contract the graph")
    }
    val rounds = i
    val result = labels.select(col("id").as(idCol), col("comp").as("canonical_id"))
    // Hand the result its OWN materialized copy and release the loop's
    // persisted RDDs: otherwise every call pins its last rounds' cache
    // blocks for the session lifetime (a long-lived driver running
    // repeated clusterings leaks memory). The localCheckpoint copy is
    // owned by the returned frame's plan and is released by Spark's
    // ContextCleaner once the caller drops the frame — standard cached-
    // result lifetime, instead of an orphaned internal block.
    if (liveRdds.nonEmpty) {
      val out = result.localCheckpoint(eager = true)
      liveRdds.foreach(_.unpersist(blocking = false))
      liveRdds = Nil
      (out, rounds)
    } else (result, rounds)
  }

  /** Keep the rows attaining ALL the given per-key extremes
    * (max over `maxCols`, min over `minCols`), then DISTINCT — exactly
    * the reference's semantics (insert_from_tmp_tables.sql:39-51),
    * including its NULL behavior (a NULL extreme never equals, so the
    * row drops) and its multi-row behavior on ties. */
  def latestWins(df: DataFrame, keys: Seq[String],
                 maxCols: Seq[String], minCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    // materialize the extremes as columns first (window functions are
    // not allowed directly inside a filter)
    val extremes =
      maxCols.map(c => (c, s"__max_$c", max(col(c)).over(w))) ++
      minCols.map(c => (c, s"__min_$c", min(col(c)).over(w)))
    val withExtremes = extremes.foldLeft(df) {
      case (d, (_, aux, e)) => d.withColumn(aux, e)
    }
    val cond = extremes.map { case (c, aux, _) => col(c) === col(aux) }
      .reduce(_ && _)
    withExtremes.filter(cond)
      .drop(extremes.map(_._2): _*)
      .dropDuplicates()
  }

  /** Rows of `incoming` whose key is absent from `existing`
    * (insert_from_tmp_tables.sql:52-54's `LEFT JOIN ... WHERE id IS
    * NULL`), with the reference's non-empty-key guards expressed as
    * arbitrary residual predicates. */
  def antiJoinNew(incoming: DataFrame, existing: DataFrame,
                  keys: Seq[String], guards: Seq[Column] = Nil): DataFrame = {
    val filtered = guards.foldLeft(incoming)((df, g) => df.filter(g))
    filtered.join(existing.select(keys.map(col): _*).dropDuplicates(keys),
      keys, "left_anti")
  }

  /** Near-dup prune with a KEEP-BEST retention policy: cluster the
    * candidate-pair graph ([[connectedComponents]]), then keep each
    * cluster's row MAXIMIZING `score` (ties: lowest id) — the curation
    * policy ("keep the best exemplar of each duplicate family")
    * complementing the keep-lowest-id prune, which optimizes for
    * determinism rather than quality.
    *
    * Plan: only (id, label, score) triples enter the argmax, and the
    * argmax itself is a map-combinable `max_by` hash aggregation on
    * the cluster label — each input partition pre-reduces to one
    * candidate per label before the single exchange (no per-group
    * sort, no window); full rows — text included — never move until
    * the final winner semi-join. Scale is governed by the clustering
    * rounds, same as [[connectedComponents]]. */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
                         aCol: String, bCol: String,
                         score: Column): DataFrame =
    keepBestByLabels(docs,
      connectedComponents(docs.select(col(idCol)), pairs, idCol, aCol, bCol),
      idCol, score)

  /** [[keepBestPerCluster]] with the (id, canonical_id) labels frame
    * precomputed — so a workload running several retention policies
    * over the SAME cluster graph pays for connected components once
    * (the iterative part dominates; the retention join is one pass). */
  def keepBestByLabels(docs: DataFrame, labels: DataFrame, idCol: String,
                       score: Column): DataFrame = {
    val scored = docs.select(col(idCol), score.as("__score"))
    // lexicographic max of (score, -id) = highest score, ties to the
    // LOWEST id; ids are non-negative in every caller, keeping -id
    // clear of Long.MinValue
    val winners = labels.join(scored, idCol)
      .groupBy(col("canonical_id"))
      .agg(max_by(col(idCol), struct(col("__score"), -col(idCol))).as(idCol))
      .select(col(idCol))
    docs.join(winners, Seq(idCol), "left_semi")
  }

  /** Exact content dedup for the LLM pipeline: one hash-shuffle on
    * sha2(content) with map-side partial aggregation; keeps the smallest
    * id per content group and the duplicate count. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))
      .select(col(idCol), col("n_dupes"))

  /** [[exactDedup]] over the canonicalized key
    * ([[graft.functions.Normalize.dedupKey]]): catches the
    * casing/punctuation/spacing variants of a page that byte-exact
    * hashing misses — the standard "fuzzy exact" pass pipelines run
    * between exact and MinHash dedup. Same plan as exactDedup (the
    * normalization fuses into the scan projection ahead of the one
    * hash-key shuffle). */
  def normalizedDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exactDedup(
      df.select(col(idCol),
        graft.functions.Normalize.dedupKey(col(textCol)).as(textCol)),
      textCol, idCol)

  /** Corpus-wide exact PARAGRAPH dedup (the within-and-across-document
    * normalization step of Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", at paragraph granularity):
    * split every document on `sep`, keep only the globally FIRST
    * occurrence of each distinct paragraph — first = minimum
    * (document id, paragraph index), the deterministic keep-lowest
    * policy — and reassemble the survivors in original order.
    * Documents whose every paragraph occurred earlier drop out.
    *
    * Plan: posexplode → one hash shuffle keyed on paragraph content
    * (groupBy + min-struct: map-side combinable, no window, no
    * self-join) → semi-join winners back on the narrow (id, idx) pair
    * → sort_array(collect_list) re-assembly, shuffled on the doc id.
    * With `byHash` (default) the winner aggregation keys on
    * fnv64(paragraph) so the dedup shuffle carries 8-byte keys instead
    * of full paragraph text — the 100 TB path; 64-bit collisions are
    * negligible at corpus scale (and a collision only drops a
    * paragraph, never corrupts one). `byHash = false` keys on the
    * string itself — exact, and what the SQL oracle replays. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n", byHash: Boolean = true): DataFrame = {
    val paras = df.select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("idx", "para")))
    val dedupKey =
      if (byHash) graft.plans.HashExpressions.fnv64(col("para"))
      else col("para")
    val winners = paras
      .groupBy(dedupKey.as("k"))
      .agg(min(struct(col(idCol), col("idx"))).as("w"))
      .select(col(s"w.$idCol").as(idCol), col("w.idx").as("idx"))
    paras.join(winners, Seq(idCol, "idx"), "left_semi")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("idx"), col("para")))),
          p => p.getField("para")), sep).as(textCol))
  }

  /** Corpus-level boilerplate-line stripping (the RefinedWeb-style
    * template pass): drop every line whose DOCUMENT frequency exceeds
    * `maxDocFreq` — cookie banners, nav bars, license headers that
    * repeat across a crawl — from EVERY document carrying it. The
    * third retention policy of the line/paragraph family: C4 cleaning
    * (`clean_lines`) judges each line in isolation, [[paragraphDedup]]
    * keeps the first copy of a duplicated paragraph; this one keeps NO
    * copy once a line is frequent enough to be template, because the
    * first crawl page that happened to carry the banner is no more
    * content than the rest.
    *
    * Doc frequency (distinct docs, not occurrences — a doc repeating
    * its own footer doesn't make the footer corpus template) is one
    * (hash, id)-distinct + count aggregation; with `byHash` (default)
    * everything shuffles as 8-byte fnv64 keys and line text never
    * leaves its document's partition until reassembly. Blank lines are
    * never counted as template (they'd trivially exceed any
    * threshold) and survive within their documents. Every input row
    * returns (template-only docs as empty strings). */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                            maxDocFreq: Long, sep: String = "\n",
                            byHash: Boolean = true): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("idx", "line")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val key =
      if (byHash) graft.plans.HashExpressions.fnv64(col("line"))
      else col("line")
    val template = lines
      .filter(trim(col("line")) =!= "")
      .select(key.as("k"), col(idCol)).distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("k"))
    val kept = lines.join(template,
      key === template("k"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("idx"), col("line")))),
          p => p.getField("line")), sep).as(textCol))
    lines.select(col(idCol)).distinct().join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Corpus-wide duplicated-substring removal at token-window
    * granularity — the scalable re-expression of Lee et al. 2022's
    * ExactSubstr pass (suffix-array dedup of ≥50-token repeats),
    * shaped for Spark instead of a 100 TB suffix array:
    *
    * every rolling `w`-token window of every document is keyed
    * (content string, or fnv64 of it with `byHash` — the 8-byte
    * shuffle key is the corpus-scale path); a window whose key occurs
    * more than once in the corpus is a duplicated span, its globally
    * FIRST occurrence (minimum (doc, position)) is retained, and every
    * token covered by any OTHER occurrence is removed. Documents are
    * reassembled from their surviving tokens (single-space joined —
    * token-level canonical form, as in [[paragraphDedup]]); fully
    * gutted documents come back as empty strings rather than
    * disappearing.
    *
    * Semantics note vs the paper: removal is per-occurrence, so
    * self-overlapping repeats (a token run repeating in place) can eat
    * into the retained copy's tail — deterministic, SQL-replayable,
    * and aggressive in exactly the boilerplate cases the pass exists
    * for. Documents shorter than `w` tokens carry no windows and pass
    * through untouched.
    *
    * Plan shape: one hash shuffle on the window key (count+min only —
    * map-side combinable, no occurrence lists, no cap needed), one
    * join back on the key for duplicated windows, and narrow
    * (id, token-position) anti-join + reassembly shuffles. Volume is
    * O(total tokens), never O(pairs).
    *
    * Collision trade-off of `byHash`: two DISTINCT windows sharing an
    * fnv64 value are treated as duplicates, deleting legitimate text —
    * expected collisions ≈ n²/2^65, i.e. ~thousands of 8-token spans
    * at 10^12 windows (sub-ppb of the corpus), the standard accepted
    * rate for 64-bit content keys in dedup pipelines (cf. the MinHash
    * band keys). The oracle replay (graft.entry.DedupQueries) partitions on the
    * SAME 64-bit key, so correctness checks replay collisions rather
    * than hide them; pass byHash=false to key on the window strings
    * when exactness matters more than shuffle width. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     w: Int = 8, byHash: Boolean = true): DataFrame = {
    require(w >= 2, "w must be >= 2")
    // persisted (the minhashPairs precedent): `toks` feeds the window
    // generation AND the token-position reassembly, `occ` feeds the
    // first-occurrence aggregate AND the duplicated-window join —
    // without the cache each consumer re-tokenizes / re-explodes the
    // whole corpus. With byHash (the corpus path) the cached occ rows
    // are (id, pos, 8-byte key) — narrow
    val toks = df.select(col(idCol),
      graft.functions.TextFunctions.tokens(col(textCol)).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wins = toks.filter(size(col("t")) >= w)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("t")) - w),
          i => concat_ws(" ", slice(col("t"), i + 1, lit(w)))))
        .as(Seq("pos", "s")))
    val key =
      if (byHash) graft.plans.HashExpressions.fnv64(col("s"))
      else col("s")
    val occ = wins.select(col(idCol), col("pos"), key.as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firsts = occ.groupBy(col("k"))
      .agg(min(struct(col(idCol), col("pos"))).as("f"),
        count(lit(1)).as("n"))
    val dupOcc = occ.join(firsts.filter(col("n") > 1)
        .select(col("k"), col("f")), "k")
      .filter(!(col(idCol) === col(s"f.$idCol") && col("pos") === col("f.pos")))
    val covered = dupOcc.select(col(idCol),
      explode(sequence(col("pos"), col("pos") + (w - 1))).as("tp"))
      .dropDuplicates(idCol, "tp")
    val tokPos = toks.select(col(idCol),
      posexplode(col("t")).as(Seq("tp", "tok")))
    val rebuilt = tokPos.join(covered, Seq(idCol, "tp"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("tp"), col("tok")))),
          p => p.getField("tok")), " ").as(textCol))
    // id universe from the CACHED toks frame — df.select(id) would
    // re-read the uncached source a third time
    toks.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Insert-if-absent (the reference's fetch*ID existence checks,
    * ght2dm.go:440-490, done row-at-a-time there; set-based here):
    * result = existing ∪ (incoming \ existing by key), with incoming
    * deduplicated on the key first. */
  def idempotentUpsert(existing: DataFrame, incoming: DataFrame,
                       keys: Seq[String]): DataFrame = {
    val newRows = incoming.dropDuplicates(keys)
      .join(existing.select(keys.map(col): _*).dropDuplicates(keys),
        keys, "left_anti")
    existing.unionByName(newRows)
  }

  /** Content-defined-chunking block duplication stats: per document,
    * the number of CDC blocks and the fraction of its characters lying
    * in blocks whose hash occurs MORE THAN ONCE corpus-wide (within- or
    * cross-document). The block granularity between whole-doc exact
    * dedup (18) and token-window substring dedup (18c): boundaries are
    * content-defined ([[graft.functions.TextHash.cdcCuts]] — a w-byte
    * local predicate), so a shared block is detected even when prefix
    * or infix edits shift its position, where fixed-size blocks
    * mis-align forever. Storage-dedup's standard trick applied to
    * corpus curation: a high `dup_frac` doc is boilerplate-assembled
    * even if no whole-doc or aligned-window duplicate exists.
    *
    * Plan shape: cut positions from one codegen kernel pass; chunks
    * explode to (doc, start, end) ordinals and hash via the fnv64
    * kernel on a substring — text itself never shuffles. One count
    * agg on 8-byte block hashes (map-side combined), duplicated
    * hashes join back (broadcast at dim scale, same-key shuffle
    * beyond), one per-doc agg. O(chars) work, shuffle volume
    * O(blocks). Expected block length 2^maskBits chars. */
  def cdcBlockStats(df: DataFrame, textCol: String, idCol: String,
                    w: Int = 8, maskBits: Int = 6): DataFrame = {
    val cuts = df
      .filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol).as("__t"),
        graft.plans.HashExpressions.cdcCuts(col(textCol), w, maskBits).as("__ends"))
    val blocks = cuts
      .select(col(idCol), col("__t"), col("__ends"),
        posexplode(col("__ends")).as(Seq("__i", "__end")))
      .withColumn("__start",
        when(col("__i") === 0, lit(1)).otherwise(element_at(col("__ends"), col("__i")) + 1))
      .withColumn("__len", col("__end") - col("__start") + 1)
      .withColumn("__h", graft.plans.HashExpressions.fnv64(
        col("__t").substr(col("__start"), col("__len"))))
      .select(col(idCol), col("__h"), col("__len"))
    // global per-hash occurrence counts join straight back on the SAME
    // __h key (both subtrees shuffle blocks identically — ReuseExchange
    // pays the block shuffle once), then one per-doc aggregation
    val counts = blocks.groupBy(col("__h")).agg(count(lit(1)).as("__cnt"))
    blocks.join(counts, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("__cnt") > 1, col("__len")).otherwise(lit(0))).as("__duplen"),
        sum(col("__len")).as("__totlen"))
      .select(col(idCol), col("n_blocks"),
        round(col("__duplen").cast("double") /
          col("__totlen").cast("double"), 6).as("dup_frac"))
  }
}
