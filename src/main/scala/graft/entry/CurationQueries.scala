package graft
package entry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Normalize, TextFunctions}
import graft.operators._
import graft.plans.HashExpressions
import Common._

/** Corpus curation: sampling, mixtures, splits, sketches, profiles and
  * dataset cards. */
private[graft] object CurationQueries {
  val specs: Seq[QuerySpec] = Seq(
    // §2b-42: deterministic stratified sampling — content-hash gated
    // per-language rates (en kept at 20%, the rest at 50%), stable
    // under re-sharding/replay where df.sample() is not
    QuerySpec("q_stratified_sample", (s, dir) =>
      Sampling.stratifiedSampleByHash(t(s, dir, "documents"),
          col("lang"), col("text"), Map("en" -> 0.2), defaultRate = 0.5)
        .select(col("doc_id"), col("lang")),
      // the fnv64-mod-10000 gate replayed in HUGEINT (the q_split_assign
      // template); en keeps 2000/10000, every other stratum 5000/10000
      () => """WITH h AS (
        |  SELECT doc_id, lang, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    ((CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)
        |      % 10000) + 10000) % 10000 AS hm
        |  FROM h)
        |SELECT doc_id, lang FROM m
        |WHERE hm < CASE WHEN lang = 'en' THEN 2000 ELSE 5000 END""".stripMargin),

    // §2b-42b: temperature-scaled mixture (XLM-R/mT5 alpha-sampling):
    // per-language rates derived from the corpus shares at alpha=0.5
    // (rare languages upsampled toward uniform), gated by the same
    // content hash as the stratified sample
    QuerySpec("q_temperature_sample", (s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents"),
          col("lang"), col("text"), alpha = 0.5, targetFrac = 0.25)
        .select(col("doc_id"), col("lang")),
      // temperature mixture: the rate table replays the driver's
      // arithmetic bitwise — sqrt corpus shares (libm/JVM parity),
      // weights summed in stratum-name order via an ordered list_reduce
      // (matching the Scala foldLeft), fixed multiply/divide
      // association, floor to basis points — then the same fnv64
      // HUGEINT gate as q_stratified_sample
      () => """WITH c AS (
        |  SELECT lang AS g, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |w AS (
        |  SELECT g, n, sqrt(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) AS w
        |  FROM c CROSS JOIN t),
        |sw AS (
        |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(w ORDER BY g)), (a, x) -> a + x) AS sumw FROM w),
        |r AS (
        |  SELECT g, CAST(floor(least(
        |    0.25 * CAST(t.total AS DOUBLE) * w.w / (sw.sumw * CAST(w.n AS DOUBLE)),
        |    1.0) * 10000) AS BIGINT) AS rate_bp
        |  FROM w CROSS JOIN t CROSS JOIN sw),
        |h AS (
        |  SELECT doc_id, lang, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    ((CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)
        |      % 10000) + 10000) % 10000 AS hm
        |  FROM h)
        |SELECT m.doc_id, m.lang FROM m JOIN r ON m.lang = r.g
        |WHERE m.hm < r.rate_bp""".stripMargin),

    // §2b-45: per-source cap (domain balancing) — keep the 10
    // smallest-content-hash docs per source; deterministic and
    // replay-stable like the stratified sample, WindowGroupLimit keeps
    // the exchange at O(sources × cap × partitions)
    QuerySpec("q_source_cap", (s, dir) =>
      Sampling.capPerGroup(t(s, dir, "documents"),
          col("source"), HashExpressions.fnv64(col("text")), col("doc_id"),
          n = 10)
        .select(col("doc_id"), col("source")),
      // fnv64 HUGEINT replay (the q_stratified_sample template) as the
      // ORDERING hash: signed-long conversion makes DuckDB's BIGINT sort
      // agree with Spark's, doc_id breaks ties, row_number caps at 10
      () => """WITH h AS (
        |  SELECT doc_id, source, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source,
        |    CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT)
        |        ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS hv
        |  FROM h),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
        |      FROM s)
        |SELECT doc_id, source FROM r WHERE rn <= 10""".stripMargin),

    // §2b-56: per-source distinct-content cardinality via the custom
    // mergeable HLL sketch aggregate (TypedImperativeAggregate; the
    // ESTIMATE itself is oracle-checked — DuckDB replays the fnv64
    // pre-hash, bucket/rank register build, and the exact power-of-two
    // register sum). exact_distinct rides along as the accuracy
    // witness; at corpus scale the sketch replaces the exact distinct's
    // full shuffle with one 512-byte buffer per group per map task.
    QuerySpec("q_hll_card", (s, dir) =>
      // fnv64 bound to a column below the aggregate: the sketch forces
      // ObjectHashAggregate, whose agg children evaluate interpreted —
      // the projection keeps the hash kernel in codegen (and computes
      // it once, not once per referencing aggregate)
      t(s, dir, "documents")
        .select(col("source"), HashExpressions.fnv64(col("text")).as("__h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          graft.plans.HllExpressions.hllEstimate(
            graft.plans.HllExpressions.hllSketch64(col("__h"), 9))
            .as("est_distinct"),
          countDistinct(col("__h")).as("exact_distinct")),
      // full HLL register replay: fnv64 pre-hash (HUGEINT), bucket = top
      // 9 bits (h // 2^55), rank = 33 - bit-length of the low-32 window
      // (bin() is minimal-width, so no floating log2 anywhere), register
      // max per (source, bucket), then the EXACT power-of-two register
      // sum (absent buckets contribute 2^0 = 1 each) and the same
      // alpha·m²/sum ± linear-counting arithmetic as functions.Hll —
      // operation-for-operation, so the double replays bitwise.
      () => s"""WITH h AS (SELECT source, ${sqlFnvRaw("text")} AS h FROM documents),
         |g0q AS (SELECT source, (h + $sqlGolden) % $sqlMod AS z0q FROM h),
         |${sqlMixChain("q", "source")},
         |reg AS (
         |  SELECT source, CAST(z4 // 36028797018963968 AS BIGINT) AS b,
         |         max(CASE WHEN z4 % 4294967296 = 0 THEN 33
         |                  ELSE 33 - length(bin(CAST(z4 % 4294967296 AS BIGINT)))
         |             END) AS rho
         |  FROM g5q GROUP BY 1, 2),
         |agg AS (
         |  SELECT source, sum(pow(2.0, -rho)) AS sp, count(*) AS nb
         |  FROM reg GROUP BY 1),
         |est AS (
         |  SELECT source,
         |    (0.7213 / (1 + 1.079 / 512)) * 262144.0 / (sp + (512 - nb)) AS raw,
         |    512 - nb AS zeros
         |  FROM agg),
         |fin AS (
         |  SELECT source,
         |    CASE WHEN raw <= 1280.0 AND zeros > 0
         |         THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
         |         ELSE raw END AS est_distinct
         |  FROM est),
         |ex AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct
         |  FROM h GROUP BY source)
         |SELECT e.source, e.n_docs, f.est_distinct, e.exact_distinct
         |FROM ex e JOIN fin f ON e.source = f.source""".stripMargin),

    // §2b-56c: INCREMENTAL dataset card — the sketch columns doing
    // their real job: two release cards (full corpus + a re-ship of
    // the even docs) each built with ONE aggregation over its own
    // data, merged without touching either corpus again (sums add,
    // HLL sketches union), then finished. The oracle replays a DIRECT
    // single pass over the union corpus — equality proves the whole
    // partial→merge→finish path.
    QuerySpec("q_card_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val relB = docs.filter(col("doc_id") % 2 === 0)
      val keys = Seq("source", "lang")
      Profile.finishCard(
        Profile.mergeCards(Seq(
          Profile.releaseCard(docs, "text", keys),
          Profile.releaseCard(relB, "text", keys)), keys), keys)
    },
      // direct single-pass replay over the union corpus: integer sums
      // and HLL register maxima are order- and split-insensitive, so
      // DuckDB's one pass must equal Spark's partial→merge→finish path
      // exactly; mean_quality rounds at 4 (partial-sum drift far below
      // resolution, the q_dataset_card argument)
      () => s"""WITH corpus AS (
         |  SELECT doc_id, text, lang, source FROM documents
         |  UNION ALL
         |  SELECT doc_id, text, lang, source FROM documents
         |  WHERE doc_id % 2 = 0),
         |h AS (SELECT source, lang, ${sqlFnvRaw("text")} AS h FROM corpus),
         |g0r AS (SELECT source, lang, (h + $sqlGolden) % $sqlMod AS z0r FROM h),
         |${sqlMixChain("r", "source, lang")},
         |reg AS (
         |  SELECT source, lang, CAST(z4 // 36028797018963968 AS BIGINT) AS b,
         |         max(CASE WHEN z4 % 4294967296 = 0 THEN 33
         |                  ELSE 33 - length(bin(CAST(z4 % 4294967296 AS BIGINT)))
         |             END) AS rho
         |  FROM g5r GROUP BY 1, 2, 3),
         |agg AS (
         |  SELECT source, lang, sum(pow(2.0, -rho)) AS sp, count(*) AS nb
         |  FROM reg GROUP BY 1, 2),
         |est0 AS (
         |  SELECT source, lang,
         |    (0.7213 / (1 + 1.079 / 512)) * 262144.0 / (sp + (512 - nb)) AS raw,
         |    512 - nb AS zeros
         |  FROM agg),
         |fin AS (
         |  SELECT source, lang,
         |    CASE WHEN raw <= 1280.0 AND zeros > 0
         |         THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
         |         ELSE raw END AS est_distinct
         |  FROM est0),
         |base AS (
         |  SELECT source, lang,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))) AS BIGINT)
         |      AS total_tokens,
         |    CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |    sum(__QUALITY__) AS quality_sum
         |  FROM corpus GROUP BY 1, 2)
         |SELECT b.source, b.lang, b.n_docs, b.total_tokens,
         |  round(CAST(b.total_tokens AS DOUBLE) / CAST(b.n_docs AS DOUBLE), 4)
         |    AS avg_doc_tokens,
         |  b.total_chars,
         |  f.est_distinct,
         |  round(1.0 - f.est_distinct / CAST(b.n_docs AS DOUBLE), 6)
         |    AS est_dup_frac,
         |  round(b.quality_sum / CAST(b.n_docs AS DOUBLE), 4) AS mean_quality
         |FROM base b JOIN fin f ON b.source = f.source AND b.lang = f.lang"""
        .stripMargin.replace("__QUALITY__", sqlQualityExprText)),

    // §2b-52c: the overlap card at SKETCH cost — inclusion-exclusion
    // over three HLL estimates (A, B, and the UNION OF THE SKETCHES,
    // no corpus re-read). Release B keeps the odd docs and truncates
    // the evens, so roughly half the content is shared.
    QuerySpec("q_overlap_sketched", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val b = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"),
            regexp_replace(trim(col("text")), "\\s+\\S+$", "").as("text")))
      Profile.overlapCardSketched(docs, b, "text", p = 9)
    },
      // three global HLL replays (A, B, union) + the same
      // inclusion-exclusion arithmetic, operation-for-operation
      () => s"""WITH ha AS (SELECT ${sqlFnvRaw("text")} AS h FROM documents),
         |hb AS (SELECT ${sqlFnvRaw("text")} AS h FROM (
         |  SELECT text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL
         |  SELECT regexp_replace(trim(text), '\\s+\\S+$$', '') AS text
         |  FROM documents WHERE doc_id % 2 = 0)),
         |hu AS (SELECT h FROM ha UNION ALL SELECT h FROM hb),
         |${sqlHllGlobal("xa", "ha")},
         |${sqlHllGlobal("xb", "hb")},
         |${sqlHllGlobal("xu", "hu")}
         |SELECT a.est AS est_distinct_a, b.est AS est_distinct_b,
         |  u.est AS est_union,
         |  a.est + b.est - u.est AS est_shared,
         |  round((a.est + b.est - u.est) / a.est, 6) AS est_frac_a_in_b,
         |  u.est - a.est AS est_new_in_b
         |FROM exa a, exb b, exu u""".stripMargin),

    // §2b-56d: mergeable histogram quantile sketch — per-source length
    // distribution, plus a __ALL__ row built by UNIONING THE SKETCHES
    // (never re-reading rows): equality with the oracle's direct
    // all-rows computation proves the merge algebra, the
    // q_card_incremental argument
    QuerySpec("q_hist_quantiles", (s, dir) => {
      import graft.plans.HistExpressions._
      val docs = t(s, dir, "documents").filter(col("n_chars").isNotNull)
      val per = docs.groupBy(col("source"))
        .agg(histSketch(col("n_chars").cast("long")).as("__sk"))
      def render(df: DataFrame) = df.select(col("source"),
        histCount(col("__sk")).as("n"),
        histQuantile(col("__sk"), lit(5000)).as("p50"),
        histQuantile(col("__sk"), lit(9000)).as("p90"),
        histQuantile(col("__sk"), lit(9900)).as("p99"))
      render(per).unionByName(render(
        per.agg(histUnion(col("__sk")).as("__sk"))
          .select(lit("__ALL__").as("source"), col("__sk"))))
    },
      // full CMS replay: per distinct token, the 4 row-bucket indices
      // come from the same splitmix chain the MinHash oracles use
      // (z0 = h + (i+1)·golden), bucket totals are exact integer sums
      // over every token landing there, and the estimate is the min —
      // integer-exact end to end
      // bucket map and rank replayed in pure integer arithmetic: floor
      // log2 via max-set-bit join, HDR bucket (e-5)*32 + (v >> (e-5)),
      // rank (N-1)*bp // 10000, answer = bucket lower bound
      () => """WITH v AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
        |  WHERE n_chars IS NOT NULL),
        |u AS (SELECT source, v FROM v
        |      UNION ALL SELECT '__ALL__' AS source, v FROM v),
        |c AS (SELECT source, v, count(*) AS n FROM u GROUP BY 1, 2),
        |loge AS (
        |  SELECT c.source, c.v, max(r.i) AS e
        |  FROM c JOIN range(5, 63) r(i)
        |    ON c.v >= (CAST(1 AS BIGINT) << CAST(r.i AS INT))
        |  GROUP BY c.source, c.v),
        |b AS (
        |  SELECT c.source, c.n,
        |    CASE WHEN c.v < 32 THEN c.v
        |         ELSE (l.e - 5) * 32 + (c.v >> CAST(l.e - 5 AS INT)) END AS bucket
        |  FROM c LEFT JOIN loge l ON c.source = l.source AND c.v = l.v),
        |bc AS (SELECT source, bucket, CAST(sum(n) AS BIGINT) AS n
        |       FROM b GROUP BY 1, 2),
        |cum AS (SELECT source, bucket, n,
        |          sum(n) OVER (PARTITION BY source ORDER BY bucket) AS cum,
        |          sum(n) OVER (PARTITION BY source) AS total
        |        FROM bc),
        |pick AS (
        |  SELECT source, bp.bp, min(total) AS total,
        |    min(CASE WHEN cum > (total - 1) * bp.bp // 10000
        |             THEN bucket END) AS qb
        |  FROM cum, (VALUES (5000), (9000), (9900)) bp(bp)
        |  GROUP BY source, bp.bp),
        |lb AS (
        |  SELECT source, bp, total,
        |    CASE WHEN qb < 32 THEN qb
        |         ELSE (qb - ((qb >> 5) - 1) * 32)
        |              << CAST((qb >> 5) - 1 AS INT) END AS qv
        |  FROM pick)
        |SELECT source, CAST(max(total) AS BIGINT) AS n,
        |  CAST(max(CASE WHEN bp = 5000 THEN qv END) AS BIGINT) AS p50,
        |  CAST(max(CASE WHEN bp = 9000 THEN qv END) AS BIGINT) AS p90,
        |  CAST(max(CASE WHEN bp = 9900 THEN qv END) AS BIGINT) AS p99
        |FROM lb GROUP BY source""".stripMargin),

    // §2b-56b: count-min frequency sketch — the approximate-COUNT
    // companion to q_hll_card's distinct sketch. One corpus pass
    // builds the 4×2048 sketch (ObjectHashAggregate, 64 KiB buffer);
    // the top-20 exact token counts ride along as the accuracy
    // witness, each with its sketch estimate (always >= exact, the
    // CMS one-sided guarantee — the oracle replays the estimates
    // exactly through the splitmix row-hash chain).
    QuerySpec("q_cms_counts", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      // hash bound below the ObjectHashAggregate (interpreted agg
      // children — the q_hll_card/releaseCard bind rule)
      val sketch = toks
        .select(HashExpressions.fnv64(col("token")).as("__h"))
        .agg(graft.plans.CmsExpressions.cmsSketch64(col("__h"), 4, 2048)
          .as("__sk"))
      toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), asc("token")).limit(20)
        .crossJoin(broadcast(sketch))
        .select(col("token"), col("exact_cnt"),
          graft.plans.CmsExpressions.cmsEstimate(col("__sk"),
            HashExpressions.fnv64(col("token"))).as("est_cnt"))
    },
      () => s"""WITH toks AS (
         |  SELECT unnest(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')) AS tok
         |  FROM documents),
         |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
         |keyed AS (SELECT tok, cnt, ${sqlFnvRaw("tok")} AS h FROM counts),
         |g0c AS (
         |  SELECT tok, cnt, i, (h + (i + 1) * $sqlGolden) % $sqlMod AS z0c
         |  FROM keyed, range(0, 4) r(i)),
         |${sqlMixChain("c", "tok, cnt, i")},
         |gb AS (SELECT tok, cnt, i, CAST(z4 % 2048 AS BIGINT) AS b FROM g5c),
         |btot AS (SELECT i, b, sum(cnt) AS tot FROM gb GROUP BY 1, 2),
         |est AS (
         |  SELECT g.tok, CAST(min(t.tot) AS BIGINT) AS est_cnt
         |  FROM gb g JOIN btot t ON g.i = t.i AND g.b = t.b GROUP BY g.tok),
         |top AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 20)
         |SELECT t.tok AS token, CAST(t.cnt AS BIGINT) AS exact_cnt, e.est_cnt
         |FROM top t JOIN est e ON t.tok = e.tok""".stripMargin),

    // §2b-52b: cross-release overlap card — two overlapping id-range
    // slices of documents stand in for consecutive corpus releases;
    // shared-content counts are distinct sha2 hashes (8-byte shuffles,
    // text never moves), the oracle counts distinct raw text (equal
    // up to a ~2^-128 sha2 collision)
    QuerySpec("q_overlap_card", (s, dir) => {
      val docs = t(s, dir, "documents")
      Profile.overlapCard(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 200), "text")
    },
      () => """WITH a AS (SELECT text FROM documents WHERE doc_id < 400),
        |b AS (SELECT text FROM documents WHERE doc_id >= 200),
        |da AS (SELECT DISTINCT text FROM a),
        |db AS (SELECT DISTINCT text FROM b),
        |m AS (
        |  SELECT count(*) AS shared FROM da JOIN db ON da.text = db.text)
        |SELECT (SELECT count(*) FROM a) AS n_a,
        |  (SELECT count(*) FROM b) AS n_b,
        |  (SELECT count(*) FROM da) AS distinct_a,
        |  (SELECT count(*) FROM db) AS distinct_b,
        |  m.shared AS shared,
        |  round(CAST(m.shared AS DOUBLE) /
        |    CAST((SELECT count(*) FROM da) AS DOUBLE), 6) AS frac_a_in_b,
        |  (SELECT count(*) FROM db) - m.shared AS new_in_b
        |FROM m""".stripMargin),

    // §2b composed: corpus preparation = quality filter → exact dedup
    // (canonical min doc_id per content hash) → stats on the survivors
    QuerySpec("q_corpus_prep", (s, dir) => {
      // quality and n_tokens are computed ONCE pre-aggregate and carried
      // through with min() (identical within a content-hash group, so
      // min is just the deterministic carrier) — recomputing the big
      // quality expression above the aggregate re-inlines it into a
      // second codegen unit and janino-compile time dwarfs the query
      val kept = t(s, dir, "documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
      kept.groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"),
          min(TextFunctions.tokenCount(col("text")).cast("bigint")).as("n_tokens"),
          min(col("quality")).as("quality"))
        .select(col("doc_id"), col("n_copies"), col("n_tokens"), col("quality"))
    },
      () => """WITH scored AS (
        |  SELECT doc_id, text,
        |    round(
        |      least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.3 +
        |      (CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |        CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) /
        |        CAST(length(text) AS DOUBLE) END) * 0.4 +
        |      least((CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |        CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE) /
        |        CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END) * 4.0, 1.0) * 0.2 +
        |      (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |        CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) /
        |        CAST(length(text) AS DOUBLE) END) * 5.0, 1.0)) * 0.1, 6) AS quality
        |  FROM documents),
        |kept AS (SELECT * FROM scored WHERE quality >= 0.5),
        |canon AS (
        |  SELECT min(doc_id) AS doc_id, count(*) AS n_copies, min(text) AS text
        |  FROM kept GROUP BY sha256(text))
        |SELECT doc_id, n_copies,
        |  CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tokens,
        |  round(
        |    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.3 +
        |    (CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) /
        |      CAST(length(text) AS DOUBLE) END) * 0.4 +
        |    least((CASE WHEN len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE) /
        |      CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS DOUBLE) END) * 4.0, 1.0) * 0.2 +
        |    (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      CAST(len(regexp_extract_all(text, '[.,;:!?''"()-]')) AS DOUBLE) /
        |      CAST(length(text) AS DOUBLE) END) * 5.0, 1.0)) * 0.1, 6) AS quality
        |FROM canon""".stripMargin),

    // §2b-25e: one-pass table profiling (row/non-null/exact-distinct
    // counts — the validation step before any training-data ingest)
    QuerySpec("q_profile", (s, dir) =>
      Profile.profile(t(s, dir, "orders"),
        cols = Seq("o_orderkey", "o_custkey", "o_orderdate"),
        distinctCols = Seq("o_custkey", "o_orderpriority")),
      () => """SELECT count(*) AS n_rows,
        |  count(o_orderkey) AS nn_o_orderkey,
        |  count(o_custkey) AS nn_o_custkey,
        |  count(o_orderdate) AS nn_o_orderdate,
        |  count(DISTINCT o_custkey) AS nd_o_custkey,
        |  count(DISTINCT o_orderpriority) AS nd_o_orderpriority
        |FROM orders""".stripMargin),

    // §2b-54: quality-threshold curation as a FRACTION — keep the
    // best 60% per language by the heuristic quality score
    // (integer-exact rank selection; the approx-percentile threshold
    // is the no-sort 100 TB swap, ApproxSwapSpec)
    QuerySpec("q_quality_topp", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      Sampling.topFractionPerGroup(docs, col("lang"), col("quality"),
          col("doc_id"), frac = 0.6)
        .select(col("doc_id"), col("lang"), col("quality"))
    },
      // top-fraction curation: the quality expression, per-lang counts,
      // rank window with the identical (quality desc, doc_id) total
      // order, and the same ceil(frac*n) integer cut — row-for-row
      // agreement with no float-threshold boundary
      () => s"""WITH q AS (SELECT doc_id, lang, __QUALITY__ AS quality FROM documents),
         |n AS (SELECT lang, count(*) AS n FROM q GROUP BY lang),
         |r AS (SELECT q.doc_id, q.lang, q.quality, n.n,
         |  row_number() OVER (PARTITION BY q.lang
         |    ORDER BY q.quality DESC, q.doc_id ASC) AS rn
         |  FROM q JOIN n USING (lang))
         |SELECT doc_id, lang, quality FROM r
         |WHERE rn <= ceil(0.6 * n)""".stripMargin
        .replace("__QUALITY__", sqlQualityExprText)),

    // §2b-52d: the curation FUNNEL report — four stages applied in
    // order (exact dedup → normalized dedup → quality cutoff →
    // decontamination), with per-stage attrition counts: the release
    // artifact that says where the corpus went.
    QuerySpec("q_dedup_funnel", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val benchSh = docs.filter(col("doc_id") % 20 === 0)
        .select(explode(HashExpressions.shingles64(col("text"), 5)).as("sh"))
        .distinct()
      def keepMinPer(key: Column)(df: DataFrame): DataFrame = {
        val winners = df.groupBy(key.as("__k"))
          .agg(min(col("doc_id")).as("doc_id"))
        df.join(winners.select(col("doc_id")), Seq("doc_id"), "left_semi")
      }
      Profile.attritionReport(docs, Seq(
        "exact_dedup" -> keepMinPer(sha2(col("text"), 256)) _,
        "norm_dedup" -> keepMinPer(sha2(Normalize.dedupKey(col("text")), 256)) _,
        "quality_filter" -> ((df: DataFrame) =>
          df.filter(TextFunctions.qualityScore(col("text")) >= 0.5)),
        "decontaminate" -> ((df: DataFrame) => {
          val contaminated = df.select(col("doc_id"),
              explode(HashExpressions.shingles64(col("text"), 5)).as("sh"))
            .join(broadcast(benchSh), Seq("sh"), "left_semi")
            .select(col("doc_id")).distinct()
          df.join(contaminated, Seq("doc_id"), "left_anti")
        })))
    },
      // window cumsum replay; order key = fnv64 top-53 bits (h // 2048),
      // identical unsigned order both engines; exclusive cumsum via
      // ROWS ... 1 PRECEDING
      // each stage's survivor set replayed on strings (sha groups ==
      // string groups; the q_decontaminate CASE fallback for short
      // docs), counts stitched by scalar subqueries
      () => s"""WITH s0 AS (SELECT doc_id, text FROM documents),
         |w1 AS (SELECT min(doc_id) AS doc_id FROM s0 GROUP BY sha256(text)),
         |e1 AS (SELECT s.doc_id, s.text FROM s0 s JOIN w1 ON s.doc_id = w1.doc_id),
         |w2 AS (SELECT min(doc_id) AS doc_id FROM e1
         |  GROUP BY trim(regexp_replace(regexp_replace(
         |    translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
         |              'abcdefghijklmnopqrstuvwxyz'),
         |    '[^a-z0-9 \\t\\n\\x0b\\f\\r]', ' ', 'g'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))),
         |e2 AS (SELECT e.doc_id, e.text FROM e1 e JOIN w2 ON e.doc_id = w2.doc_id),
         |e3 AS (SELECT doc_id, text FROM e2 WHERE __QUALITY__ >= 0.5),
         |btoks AS (
         |  SELECT regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
         |  FROM s0 WHERE doc_id % 20 = 0),
         |bsh AS (
         |  SELECT DISTINCT unnest(
         |    CASE WHEN len(t) >= 5 THEN
         |      list_transform(generate_series(1, len(t)-4),
         |        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
         |    ELSE [array_to_string(t, ' ')] END) AS s
         |  FROM btoks),
         |toks3 AS (
         |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
         |  FROM e3),
         |dsh AS (
         |  SELECT DISTINCT doc_id, unnest(
         |    CASE WHEN len(t) >= 5 THEN
         |      list_transform(generate_series(1, len(t)-4),
         |        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
         |    ELSE [array_to_string(t, ' ')] END) AS s
         |  FROM toks3),
         |bad AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN bsh ON dsh.s = bsh.s),
         |e4 AS (SELECT e3.doc_id FROM e3 LEFT JOIN bad ON e3.doc_id = bad.doc_id
         |       WHERE bad.doc_id IS NULL),
         |funnel AS (
         |  SELECT CAST(1 AS INT) AS stage_idx, 'exact_dedup' AS stage,
         |    (SELECT count(*) FROM s0) AS docs_in,
         |    (SELECT count(*) FROM e1) AS docs_out
         |  UNION ALL SELECT 2, 'norm_dedup',
         |    (SELECT count(*) FROM e1), (SELECT count(*) FROM e2)
         |  UNION ALL SELECT 3, 'quality_filter',
         |    (SELECT count(*) FROM e2), (SELECT count(*) FROM e3)
         |  UNION ALL SELECT 4, 'decontaminate',
         |    (SELECT count(*) FROM e3), (SELECT count(*) FROM e4))
         |SELECT stage_idx, stage, CAST(docs_in AS BIGINT) AS docs_in,
         |  CAST(docs_out AS BIGINT) AS docs_out,
         |  CAST(docs_in - docs_out AS BIGINT) AS removed,
         |  round(CAST(docs_in - docs_out AS DOUBLE) /
         |        CAST(docs_in AS DOUBLE), 6) AS frac_removed
         |FROM funnel""".stripMargin
        .replace("__QUALITY__", sqlQualityExprText)),

    // §2b-54b: per-source score calibration — the quality score
    // replaced by its within-source percentile, so a global cutoff
    // means the same thing in every source before mixing
    QuerySpec("q_score_calibrate", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      Sampling.calibrateScores(docs, col("source"), col("quality"),
          col("doc_id"))
        .select(col("doc_id"), col("source"), col("quality"),
          round(col("score_pct"), 6).as("score_pct"))
    },
      // percent_rank has the identical (rank-1)/(n-1) definition in both
      // engines; order (quality asc, doc_id) is total, so ranks replay
      () => s"""WITH scored AS (
         |  SELECT doc_id, source, __QUALITY__ AS quality FROM documents)
         |SELECT doc_id, source, quality,
         |  round(percent_rank() OVER (PARTITION BY source
         |    ORDER BY quality, doc_id), 6) AS score_pct
         |FROM scored""".stripMargin
        .replace("__QUALITY__", sqlQualityExprText)),

    // §2b-52: dataset card — the per-(source, lang) release summary
    // (docs / tokens / duplication / quality) in ONE hash aggregation.
    // Re-shipped even-id copies planted so dup_doc_frac measurably
    // tracks the exact-dup rate (~1/3 per stratum)
    QuerySpec("q_dataset_card", (s, dir) => {
      val docs = t(s, dir, "documents")
      val reshipped = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      Profile.datasetCard(docs.unionByName(reshipped), "text",
        Seq("source", "lang"))
    },
      // dataset card: the planted re-ship union, token/char sums as
      // exact integers, the dup rate via count(DISTINCT <fnv64 replay>)
      // (same cardinality as the kernel's signed longs), and the
      // q_quality_score expression averaged per stratum (round 4 —
      // partial-sum drift far below resolution). Tokens use the
      // explicit whitespace class = Java's \S exactly (RE2's \S keeps
      // \x0b inside tokens; latent on this corpus, but the convention
      // is to spell it out)
      () => s"""WITH corpus AS (
         |  SELECT doc_id, text, lang, source, n_chars FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
         |  FROM documents WHERE doc_id % 2 = 0),
         |h AS (SELECT source, lang, text, ${sqlFnvRaw("text")} AS h FROM corpus)
         |SELECT source, lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))) AS BIGINT) AS total_tokens,
         |  round(avg(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+'))), 4) AS avg_doc_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |  round(1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*), 6) AS dup_doc_frac,
         |  round(avg(__QUALITY__), 4) AS mean_quality
         |FROM h GROUP BY source, lang""".stripMargin
        .replace("__QUALITY__", sqlQualityExprText)),

    // §2b-36b: weighted corpus mixture — combine sources at target
    // sampling rates (web-heavy mixtures, epoch-repeatable): keep a
    // row iff its content-hash bucket clears the source's rate, so
    // the mixture is deterministic, re-shard-stable, and needs no
    // shuffle at all (the same pattern scales to any source count)
    QuerySpec("q_corpus_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      val h = pmod(HashExpressions.fnv64(col("text")), lit(1000L))
      val web = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), lit("web").as("source"), h.as("hb"))
        .filter(col("hb") < 900)
      val synth = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), lit("synthetic").as("source"), h.as("hb"))
        .filter(col("hb") < 300)
      web.unionByName(synth).select(col("doc_id"), col("source"))
    },
      () => """WITH h AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    ((CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)
        |      % 1000) + 1000) % 1000 AS hb
        |  FROM h)
        |SELECT doc_id, 'web' AS source FROM m
        |WHERE doc_id % 2 = 0 AND hb < 900
        |UNION ALL
        |SELECT doc_id, 'synthetic' AS source FROM m
        |WHERE doc_id % 2 = 1 AND hb < 300""".stripMargin),

    // §2b-36c: token-budget corpus assembly — the mixture WEIGHTS
    // materialized as an actual per-source token quota (500 tokens
    // per source here), docs taken in content-hash order until the
    // budget is crossed. Exact (window) form; the zero-shuffle
    // hash-gate form is spec-gated in SamplingSpec.
    QuerySpec("q_token_budget_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sources = docs.select(col("source")).distinct()
        .collect().map(_.getString(0))
      Sampling.tokenBudgetMix(docs, "doc_id", "text", "source",
        sources.map(_ -> 500L).toMap)
    },
      () => s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')) AS BIGINT)
         |      AS n_tokens,
         |    ${sqlFnvRaw("text")} // 2048 AS k
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY k, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |  FROM d)
         |SELECT doc_id, source, n_tokens FROM w WHERE cumb < 500""".stripMargin),

    // §2b-36: deterministic train/val/test split by CONTENT hash —
    // stable under re-sharding and re-import (position- or id-based
    // splits migrate rows when the corpus is repacked); 90/5/5 on
    // pmod(fnv64(text), 100)
    QuerySpec("q_split_assign", (s, dir) => {
      val h = pmod(HashExpressions.fnv64(col("text")), lit(100L))
      t(s, dir, "documents").select(col("doc_id"),
        when(h < 90, "train").when(h < 95, "validation")
          .otherwise("test").as("split"))
    },
      () => """WITH h AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    ((CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)
        |      % 100) + 100) % 100 AS hm
        |  FROM h)
        |SELECT doc_id,
        |  CASE WHEN hm < 90 THEN 'train'
        |       WHEN hm < 95 THEN 'validation' ELSE 'test' END AS split
        |FROM m""".stripMargin),

    // §2b-63: deterministic epoch shuffle — the global training order
    // as a pure function of (content hash, epoch); two epochs show
    // independent permutations, positions via range-sharded rank (no
    // single-partition sort)
    QuerySpec("q_epoch_shuffle", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.epochShuffle(docs, "doc_id", col("text"), 1L)
        .unionByName(Sampling.epochShuffle(docs, "doc_id", col("text"), 2L))
    },
      // splitmix64(fnv64(text) + epoch·golden) replayed in HUGEINT,
      // signed-long conversion so the rank order equals Spark's BIGINT
      // sort, doc_id breaks (never-observed) collision ties
      () => s"""WITH h AS (SELECT doc_id, ${sqlFnvRaw("text")} AS h FROM documents),
         |es AS (SELECT CAST(1 AS BIGINT) AS epoch UNION ALL SELECT 2),
         |g0e AS (
         |  SELECT e.epoch, h.doc_id,
         |    (xor(h.h, (CAST(e.epoch AS HUGEINT) * $sqlGolden) % $sqlMod) + $sqlGolden)
         |      % $sqlMod AS z0e
         |  FROM h, es e),
         |${sqlMixChain("e", "epoch, doc_id")},
         |kk AS (
         |  SELECT epoch, doc_id,
         |    CAST(z4 - CASE WHEN z4 >= CAST('9223372036854775808' AS HUGEINT)
         |      THEN $sqlMod ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS k
         |  FROM g5e)
         |SELECT epoch, doc_id,
         |  row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS pos
         |FROM kk""".stripMargin),

    // §2b-67: weighted sampling without replacement (Efraimidis-
    // Spirakis exponential clocks) — 25 docs per source with inclusion
    // probability ∝ n_chars, deterministic via the content-hash
    // uniform; row_number ≤ k lowers to WindowGroupLimit so at most k
    // rows per group per partition reach the shuffle
    QuerySpec("q_weighted_sample", (s, dir) =>
      Sampling.weightedSamplePerGroup(t(s, dir, "documents"),
          col("source"), col("text"), col("n_chars"), col("doc_id"), k = 25)
        .select(col("source"), col("doc_id"), col("n_chars")),
      // exponential clock -ln(u)/w replayed from the fnv64 top-53-bit
      // uniform; k smallest per source win, doc_id breaks clock ties
      () => s"""WITH h AS (SELECT doc_id, source, n_chars, ${sqlFnvRaw("text")} AS h FROM documents),
         |p AS (
         |  SELECT doc_id, source, n_chars,
         |    -ln((CAST(h // CAST(2048 AS HUGEINT) AS DOUBLE) + 0.5)
         |        / 9007199254740992.0) / CAST(n_chars AS DOUBLE) AS clk
         |  FROM h WHERE n_chars IS NOT NULL AND n_chars > 0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY clk, doc_id) AS rn
         |  FROM p)
         |SELECT source, doc_id, n_chars FROM r WHERE rn <= 25""".stripMargin)
  )

  /** CTE chain replaying ONE global (ungrouped) HLL sketch estimate
    * over hash CTE `src` (must expose column `h` as HUGEINT): mix
    * chain → p=9 registers → exact power-of-two register sum → the
    * functions.Hll estimate arithmetic. Yields 1-row `e{tag}(est)`. */
  private def sqlHllGlobal(tag: String, src: String): String =
    s"""g0$tag AS (SELECT 1 AS k, (h + $sqlGolden) % $sqlMod AS z0$tag FROM $src),
       |${sqlMixChain(tag, "k")},
       |reg$tag AS (
       |  SELECT CAST(z4 // 36028797018963968 AS BIGINT) AS b,
       |         max(CASE WHEN z4 % 4294967296 = 0 THEN 33
       |                  ELSE 33 - length(bin(CAST(z4 % 4294967296 AS BIGINT)))
       |             END) AS rho
       |  FROM g5$tag GROUP BY 1),
       |agg$tag AS (
       |  SELECT coalesce(sum(pow(2.0, -rho)), 0.0) AS sp, count(*) AS nb
       |  FROM reg$tag),
       |e0$tag AS (
       |  SELECT (0.7213 / (1 + 1.079 / 512)) * 262144.0 / (sp + (512 - nb))
       |           AS raw,
       |         512 - nb AS zeros
       |  FROM agg$tag),
       |e$tag AS (
       |  SELECT CASE WHEN raw <= 1280.0 AND zeros > 0
       |              THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
       |              ELSE raw END AS est
       |  FROM e0$tag)""".stripMargin
}
