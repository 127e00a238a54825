package graft
package entry

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators._
import Common._

/** Tokenizers and language models: BPE and unigram training and
  * encode, n-gram LM scoring, chunking, packing and FIM. */
private[graft] object TokenizerQueries {
  val specs: Seq[QuerySpec] = Seq(
    // §2b-41: sliding token-window chunking (sequence prep) — 32-token
    // chunks overlapping by 8; entirely narrow, no shuffle (Chunking)
    QuerySpec("q_chunk_docs", (s, dir) =>
      Chunking.chunkTokens(t(s, dir, "documents"), Seq("doc_id"),
        col("text"), chunkSize = 32, overlap = 8),
      // chunk i of a doc with n tokens covers [i*24, min(i*24+32, n));
      // DuckDB list slicing is 1-based inclusive, range(x) is 0..x-1
      () => """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS ts FROM documents),
        |n AS (
        |  SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n FROM toks
        |  WHERE len(ts) > 0)
        |SELECT doc_id, CAST(g AS BIGINT) AS chunk_idx,
        |  array_to_string(ts[g*24+1 : CAST(least(g*24+32, n) AS INT)], ' ')
        |    AS chunk_text,
        |  CAST(least(g*24+32, n) - g*24 AS BIGINT) AS n_tokens
        |FROM n, UNNEST(range((n + 23) // 24)) AS u(g)""".stripMargin),

    // §2b-57: distributed BPE merge learning (Sennrich et al. 2016) —
    // ONE corpus shuffle to the word-frequency table, then 6 merge
    // rounds over the vocabulary (pair-count agg + 1-row argmax collect
    // + codegen merge pass each). Oracle replays the full greedy loop
    // in SQL via the run-parity window form.
    QuerySpec("q_bpe_merges", (s, dir) =>
      Bpe.mergesDf(s, Bpe.learn(t(s, dir, "documents"), "text",
        numMerges = 6)),
      () => s"""${sqlBpeChain(6)}
         |${(1 to 6).map(k =>
             s"SELECT CAST($k AS INT) AS rank, lhs, rhs, CAST(c AS BIGINT) AS freq FROM b$k")
             .mkString("\n UNION ALL ")}""".stripMargin),

    // §2b-58: cross-release token-distribution drift — the
    // distribution-level release gate next to q_overlap_card's
    // membership diff. Release B = every doc with its last token
    // dropped (a deterministic cleaning-change stand-in); the query
    // names the topK most-divergent tokens with their per-side
    // probabilities and JS contributions (ln/IEEE replay, the BM25
    // precedent).
    QuerySpec("q_token_drift", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val relB = docs.select(col("doc_id"),
        regexp_replace(trim(col("text")), "\\s+\\S+$", "").as("text"))
      Profile.tokenDrift(docs, relB, "text", topK = 20)
    },
      // JS-contribution arithmetic spelled operation-for-operation like
      // the engine (division, the shared (p+q)/2 midpoint, ln, the two
      // 0.5· products, their sum) so the doubles replay bitwise; order
      // ties on the double are exact for the same reason
      () => """WITH ta AS (
        |  SELECT unnest(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS tok
        |  FROM documents),
        |tb AS (
        |  SELECT unnest(regexp_extract_all(
        |    regexp_replace(trim(text), '\s+\S+$', ''),
        |    '[^ \t\n\x0b\f\r]+')) AS tok
        |  FROM documents),
        |ca AS (SELECT tok, count(*) AS cnt_a FROM ta GROUP BY 1),
        |cb AS (SELECT tok, count(*) AS cnt_b FROM tb GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM ta) AS na,
        |               (SELECT count(*) FROM tb) AS nb),
        |j AS (
        |  SELECT coalesce(ca.tok, cb.tok) AS token,
        |         coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
        |p AS (
        |  SELECT token, cnt_a, cnt_b,
        |         CAST(cnt_a AS DOUBLE) / CAST(na AS DOUBLE) AS p_a,
        |         CAST(cnt_b AS DOUBLE) / CAST(nb AS DOUBLE) AS p_b
        |  FROM j, tot),
        |sc AS (
        |  SELECT token, cnt_a, cnt_b, p_a, p_b,
        |    0.5 * (CASE WHEN p_a > 0
        |                THEN p_a * ln(p_a / ((p_a + p_b) / 2))
        |                ELSE 0.0 END) +
        |    0.5 * (CASE WHEN p_b > 0
        |                THEN p_b * ln(p_b / ((p_a + p_b) / 2))
        |                ELSE 0.0 END) AS js_contrib
        |  FROM p)
        |SELECT token, cnt_a, cnt_b, p_a, p_b, js_contrib
        |FROM sc ORDER BY js_contrib DESC, token LIMIT 20""".stripMargin),

    // §2b-57c: corpus-level encode through the word cache — distinct
    // words segment once (57b's projection), documents join their
    // tokens against the segmented vocabulary and reassemble. Docs
    // whose every token is non-ASCII drop (no vocab rows) like the
    // vocab filter dictates.
    QuerySpec("q_bpe_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.learn(docs, "text", numMerges = 6)
      Bpe.encodeDocs(docs.select(col("doc_id"), col("text")),
        "doc_id", "text", merges)
    },
      () => s"""${sqlBpeChain(6)},
         |vocab AS (SELECT w, s FROM w6),
         |dtoks AS (
         |  SELECT doc_id, i - 1 AS pos, t[i] AS w
         |  FROM (SELECT doc_id,
         |          regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS t
         |        FROM documents),
         |       unnest(generate_series(1, len(t))) AS u(i)),
         |joined AS (
         |  SELECT d.doc_id, d.pos, v.s FROM dtoks d JOIN vocab v ON d.w = v.w)
         |SELECT doc_id,
         |  string_agg(array_to_string(s, ' '), ' ' ORDER BY pos) AS encoded,
         |  CAST(sum(len(s)) AS BIGINT) AS n_subwords
         |FROM joined GROUP BY doc_id""".stripMargin),

    // §2b-57b: the ENCODE step — the learned merges applied to the
    // vocabulary as 6 chained codegen merge passes in one projection
    // (how a corpus is actually segmented once the tokenizer is
    // learned; applying to words, not raw docs, is the standard
    // word-cache trick — each distinct word segments once).
    QuerySpec("q_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.learn(docs, "text", numMerges = 6)
      Bpe.wordCounts(docs, "text")
        .select(col("w"), col("cnt"),
          array_join(Bpe.applyMerges(Bpe.charSymbols(col("w")), merges), " ")
            .as("segmented"))
    },
      () => s"""${sqlBpeChain(6)}
         |SELECT w, CAST(cnt AS BIGINT) AS cnt,
         |       array_to_string(s, ' ') AS segmented
         |FROM w6""".stripMargin),

    // §2b-57 BYTE-LEVEL: the GPT-2 contract — merges learned over
    // UTF-8 byte (hex-pair) symbols on a corpus with planted CJK and
    // accents, NO ascii filter; proves vocabulary induction on
    // non-ASCII corpora (the code-point path's documented gap)
    QuerySpec("q_bpe_merges_bytes", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      Bpe.mergesDf(s, Bpe.learn(docs, "text", numMerges = 6,
        asciiOnly = false, byteLevel = true))
    },
      () => s"""${sqlBpeChain(6, byteLevel = true)}
         |${(1 to 6).map(k =>
             s"SELECT CAST($k AS INT) AS rank, lhs, rhs, CAST(c AS BIGINT) AS freq FROM b$k")
             .mkString("\n UNION ALL ")}""".stripMargin),

    // §2b-57b BYTE-LEVEL encode: the same 6-merge chain applied to the
    // unfiltered vocabulary's byte symbols
    QuerySpec("q_bpe_encode_bytes", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      val merges = Bpe.learn(docs, "text", numMerges = 6,
        asciiOnly = false, byteLevel = true)
      Bpe.wordCounts(docs, "text", asciiOnly = false)
        .select(col("w"), col("cnt"),
          array_join(Bpe.applyMerges(Bpe.byteSymbols(col("w")), merges), " ")
            .as("segmented"))
    },
      () => s"""${sqlBpeChain(6, byteLevel = true)}
         |SELECT w, CAST(cnt AS BIGINT) AS cnt,
         |       array_to_string(s, ' ') AS segmented
         |FROM w6""".stripMargin),

    // §2b-57d: EXTERNAL tokenizer import — the published GPT-2
    // merges.txt format (bytes→unicode alphabet, "lhs rhs" per line)
    // parsed into the engine's byte-level hex chain and applied by the
    // SAME encode kernel as the learned path. This is how a production
    // pipeline tokenizes: with a shipped artifact, not a re-learned
    // one. The bundled sample exercises ASCII pairs, chained merges
    // (t h → th e) and multi-byte symbols (Ã © = the two UTF-8 bytes
    // of é, which fires on the planted 'café').
    QuerySpec("q_bpe_external", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      val merges = Bpe.loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      Bpe.wordCounts(docs, "text", asciiOnly = false)
        .select(col("w"), col("cnt"),
          array_join(Bpe.applyMerges(Bpe.byteSymbols(col("w")), merges), " ")
            .as("segmented"))
    },
      () => qBpeExternalOracle),

    // §2b-57e: tokenizer fertility / compression stats — the
    // vocabulary-fit report every tokenizer choice is judged by
    // (subwords per word, bytes per emitted token, per language),
    // computed under the EXTERNAL chain via the word-cache encode:
    // one corpus scan to words, the fixed chain over the vocab, a
    // token-to-vocab join, two aggs. At 100 TB the vocab side
    // broadcasts and text never shuffles.
    QuerySpec("q_bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      val merges = Bpe.loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      // per-word subword counts, once per DISTINCT word (Heaps'-law
      // small -> broadcast); the rollup then aggregates straight off
      // the token explode by language — no per-doc intermediate, two
      // corpus-scan-class reads total (vocab agg + token explode)
      val vocab = Bpe.wordCounts(docs, "text", asciiOnly = false)
        .select(col("w"),
          size(Bpe.applyMerges(Bpe.byteSymbols(col("w")), merges))
            .cast("long").as("ns"))
      val toks = docs.select(col("lang"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      toks.join(broadcast(vocab), Seq("w"))
        .groupBy(col("lang"))
        .agg(
          round(sum(col("ns")).cast("double") /
            count(lit(1)).cast("double"), 6).as("fertility"),
          round(sum(octet_length(col("w"))).cast("double") /
            sum(col("ns")).cast("double"), 6).as("bytes_per_token"),
          sum(col("ns")).as("n_tokens"))
    },
      () => qBpeFertilityOracle),

    // §2b-57f: fertility under the PUBLISHED GPT-2 PRE-TOKENIZER —
    // word boundaries from the GPT-2 regex (contraction suffixes,
    // space-prefixed letter/digit/punct runs, whitespace runs yielding
    // their last char forward), not whitespace splitting. This is the
    // other half of external-tokenizer parity: the same merges over
    // whitespace words give different token counts than tiktoken/HF;
    // this path reproduces the published word boundaries end-to-end.
    // Same plan shape as q_bpe_fertility: one codegen'd
    // regexp_extract_all, vocab broadcasts, text never shuffles.
    QuerySpec("q_bpe_fertility2", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      val merges = Bpe.loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      val vocab = Bpe.wordCountsGpt2(docs, "text")
        .select(col("w"),
          size(Bpe.applyMerges(Bpe.byteSymbols(col("w")), merges))
            .cast("long").as("ns"))
      val toks = docs.select(col("lang"),
        explode(Bpe.gpt2PreTokens(col("text"))).as("w"))
      toks.join(broadcast(vocab), Seq("w"))
        .groupBy(col("lang"))
        .agg(
          round(sum(col("ns")).cast("double") /
            count(lit(1)).cast("double"), 6).as("fertility"),
          round(sum(octet_length(col("w"))).cast("double") /
            sum(col("ns")).cast("double"), 6).as("bytes_per_token"),
          sum(col("ns")).as("n_tokens"))
    },
      () => qBpeFertility2Oracle),

    // §2b-57f: corpus ENCODE under the published tokenizer end to end
    // — GPT-2 pre-token boundaries + imported merges.txt chain through
    // the word-cache encode: what "tokenize the corpus like tiktoken"
    // actually runs. Same plan as q_bpe_docs (vocab segments once,
    // documents join and reassemble); only the word boundaries differ.
    QuerySpec("q_bpe_docs2", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" " + bpeNonAsciiSuffix)))
      val merges = Bpe.loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      Bpe.encodeDocsGpt2(docs.select(col("doc_id"), col("text")),
        "doc_id", "text", merges)
    },
      () => qBpeDocs2Oracle),

    // §2b-25g: unigram LM scoring (CCNet-style perplexity proxy):
    // mean -ln p(token) per doc, p self-estimated from the corpus.
    // round(4) keeps the double drift (unordered partial sums, 1-ulp
    // libm ln differences) far below the comparison resolution.
    QuerySpec("q_lm_score", (s, dir) =>
      LmScore.unigramNll(t(s, dir, "documents"), "doc_id", "text"),
      () => """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab)
        |SELECT doc_id,
        |       round(avg(-ln(CAST(c AS DOUBLE) / n)), 4) AS nll
        |FROM toks JOIN vocab USING (tok), tot
        |GROUP BY doc_id""".stripMargin),

    // §2b-37: token-budget sequence packing (running-budget
    // approximation of LLM context-window packing): per language,
    // docs in deterministic order are chunked wherever the running
    // token count crosses a 4096-token budget. TWO-PHASE cumsum
    // (Packing.packSequences): a window partitioned on ~5 languages
    // would serialize each language through one task at scale; the
    // range-sharded local-cumsum + broadcast-offset shape keeps
    // parallelism at numPartitions (materialize=false: one-shot query,
    // plan stays inspectable for PlanSpec)
    QuerySpec("q_pack_sequences", (s, dir) =>
      Packing.packSequences(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens")),
        groups = Seq("lang"), order = Seq("doc_id"),
        tokensCol = col("n_tokens"), budget = 4096L, seqName = "seq_id",
        materialize = false)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("seq_id")),
      () => """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  (CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 4096 AS seq_id
        |FROM d""".stripMargin),

    // §2b-25g2: interpolated-bigram LM scoring — one order up from
    // q_lm_score's unigram CCNet proxy; bigrams via slice+zip (narrow,
    // no (doc,pos) self-join), counts broadcast back
    QuerySpec("q_lm_score2", (s, dir) =>
      LmScore.bigramNll(t(s, dir, "documents"), "doc_id", "text"),
      // interpolated-bigram NLL: identical count tables, identical
      // lambda arithmetic (0.75 / 0.25 are exact dyadic rationals),
      // identical -ln fold; docs with <2 tokens drop on both sides
      () => """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS ts FROM documents),
        |uni AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(ts) AS w FROM tk) u GROUP BY w),
        |tot AS (SELECT sum(c) AS n FROM uni),
        |bi AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM tk, unnest(generate_series(1, len(ts)-1)) u(i)
        |  WHERE len(ts) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
        |sc AS (
        |  SELECT b.doc_id,
        |    -ln(CAST(0.75 AS DOUBLE) * (CAST(bc.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE)) +
        |        CAST(0.25 AS DOUBLE) * (CAST(u2.c AS DOUBLE) / CAST(t.n AS DOUBLE))) AS nll
        |  FROM bi b
        |  JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        |  JOIN uni u1 ON b.w1 = u1.w
        |  JOIN uni u2 ON b.w2 = u2.w, tot t)
        |SELECT doc_id, round(avg(nll), 4) AS nll2 FROM sc GROUP BY doc_id""".stripMargin),

    // §2b-48b: EXTERNAL LM scoring — the published ARPA back-off
    // format (KenLM/SRILM) loaded and applied as broadcast joins;
    // CCNet-style pipelines filter with a SHIPPED model, not one
    // re-estimated per corpus (the tokenizer-import story for LMs)
    QuerySpec("q_lm_external", (s, dir) =>
      LmScore.arpaScoreDocs(t(s, dir, "documents"), "doc_id", "text",
        LmScore.loadArpaResource("/graft/sample_bigram.arpa")),
      () => qLmExternalOracle),

    // §2b-48c: ORDER-N external LM scoring — the general Katz
    // back-off recursion (the 5-gram KenLM shape CCNet actually
    // ships) as 2n-1 broadcast hash joins over one position explode:
    // longest matching n-gram wins, every longer context suffix
    // contributes its back-off weight. The bundled order-3 sample
    // exercises full-trigram hits, bigram+backoff, unigram+two
    // backoffs, and the OOV floor on real corpus trigrams.
    QuerySpec("q_lm_external3", (s, dir) =>
      LmScore.arpaScoreDocsN(Spread.spread(t(s, dir, "documents")),
        "doc_id", "text",
        LmScore.loadArpaResourceN("/graft/sample_trigram.arpa")),
      () => qLmExternal3Oracle),

    // §2b-68: fill-in-the-middle transform — (a, b) character cuts
    // are a pure function of the content hash (uniform on [0,n] then
    // [a,n]); PSM rendering; one codegen projection, zero shuffles
    QuerySpec("q_fim_transform", (s, dir) =>
      Chunking.fimSplit(t(s, dir, "documents"), Seq("doc_id"), col("text")),
      // cut a = (fnv64 >> 11) % (n+1), b = a + (mix64(fnv64) >> 11) %
      // (n-a+1) — all-integer HUGEINT arithmetic, then three substrs and
      // the PSM concat; empty prefixes/middles/suffixes are legitimate
      () => s"""WITH h AS (SELECT doc_id, text, CAST(length(text) AS HUGEINT) AS n,
         |    ${sqlFnvRaw("text")} AS h FROM documents),
         |g0f AS (SELECT doc_id, (h + $sqlGolden) % $sqlMod AS z0f FROM h),
         |${sqlMixChain("f", "doc_id")},
         |ab0 AS (
         |  SELECT h.doc_id, h.text, h.n,
         |    (h.h // CAST(2048 AS HUGEINT)) % (h.n + 1) AS a,
         |    g.z4 // CAST(2048 AS HUGEINT) AS h2
         |  FROM h JOIN g5f g ON h.doc_id = g.doc_id),
         |ab AS (SELECT doc_id, text, n, a, a + h2 % (n - a + 1) AS b FROM ab0),
         |parts AS (SELECT doc_id,
         |    substr(text, 1, CAST(a AS INT)) AS fim_prefix,
         |    substr(text, CAST(a AS INT) + 1, CAST(b - a AS INT)) AS fim_middle,
         |    substr(text, CAST(b AS INT) + 1, CAST(n - b AS INT)) AS fim_suffix
         |  FROM ab)
         |SELECT doc_id, fim_prefix, fim_middle, fim_suffix,
         |  '<PRE>' || fim_prefix || '<SUF>' || fim_suffix || '<MID>' || fim_middle AS fim_text
         |FROM parts""".stripMargin),

    // §2b-57f: unigram-LM seed vocabulary (the EM-init frequent-
    // substring lattice) — one narrow substring explode over the
    // Heaps-sublinear word table, map-combined weights, top-K with
    // lexicographic tie-break, integer micro-nat surrogate scores
    QuerySpec("q_unigram_vocab", (s, dir) =>
      Unigram.seedVocab(Bpe.wordCounts(t(s, dir, "documents"), "text"),
        topK = 200),
      // §2b-57f: frequent-substring seed lattice — substring explode
      // over the word table, integer surrogate scores
      () => s"""WITH $sqlUnigramWordsCte,
         |$sqlUnigramSeedCte
         |SELECT piece, weight, lp_micro FROM seeds""".stripMargin),

    // §2b-57g: unigram-LM Viterbi encode under the seeded vocab — the
    // SentencePiece counterpart of q_bpe_docs: DP once per distinct
    // word in one codegen kernel call, corpus reassembled through the
    // broadcast word cache
    QuerySpec("q_unigram_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = Unigram.collectVocab(
        Unigram.seedVocab(Bpe.wordCounts(docs, "text"), topK = 200))
      Unigram.encodeDocs(docs, "doc_id", "text", vocab, unkMicro = -2500000L)
    },
      // §2b-57g: the Viterbi DP unrolled to the corpus word-length cap,
      // backwalk as a plain recursive CTE, doc reassembly as q_bpe_docs
      () => s"""WITH RECURSIVE
         |$sqlUnigramWordsCte,
         |$sqlUnigramSeedCte,
         |pieces AS (SELECT piece, lp_micro AS lp FROM seeds),
         |${sqlUnigramDpCtes(-2500000L, maxPiece = 4, maxW = 16)},
         |$sqlUnigramDocAssembly""".stripMargin),

    // §2b-57i: unigram-LM hard-EM training rounds (Viterbi E-step +
    // counted-ML M-step, driver-applied like trainLogReg) — each
    // round's DP runs once per DISTINCT word; the single float op per
    // round (ln) rides the pinned Spark-log/DuckDB-ln parity, and the
    // integer micro-nat scores make round-2 segmentation replay exact
    QuerySpec("q_unigram_em", (s, dir) => {
      val words = Bpe.wordCounts(t(s, dir, "documents"), "text")
      val seed = Unigram.collectVocab(Unigram.seedVocab(words, topK = 200))
      Unigram.emRounds(words, seed, unkMicro = -2500000L, rounds = 2)
    },
      // two namespaced DP replays chained through the ln-re-estimated
      // vocabularies; see sqlUnigramEmOracle
      () => sqlUnigramEmOracle),

    // §2b-57h: the same encode under a PUBLISHED-FORMAT vocabulary —
    // the bundled SentencePiece TSV dump imports via exact scaled-
    // decimal parsing (the merges.txt interop pattern)
    QuerySpec("q_unigram_external", (s, dir) =>
      Unigram.encodeDocs(t(s, dir, "documents"), "doc_id", "text",
        Unigram.loadSpVocabResource("/graft/unigram_vocab_sample.tsv"),
        unkMicro = -12000000L),
      () => qUnigramExternalOracle)
  )

  /** Non-ASCII words planted into the byte-level BPE queries' corpus
    * (CJK + accents; repeated so multi-byte pairs reliably reach the
    * merge table) — shared between the Spark side and the oracle. */
  private val bpeNonAsciiSuffix = "日本語 日本語 café naïve"

  /** CTE chain replaying `numMerges` rounds of greedy BPE merge
    * learning (operators.Bpe) in DuckDB: `words` (corpus word counts,
    * printable-ASCII vocabulary) → `w0` (per-char symbol arrays) →
    * per round k: pair counts `p{k}`, argmax `b{k}` (count desc, then
    * lexicographically smallest pair — DuckDB binary collation ==
    * Spark UTF8String order), and the merge applied via the RUN-PARITY
    * window form `w{k}`: for lhs != rhs adjacent matches can't
    * overlap, so every match merges; for lhs == rhs a run of equal
    * symbols merges at even run offsets only — exactly greedy
    * left-to-right (BpeOps.mergePass). Caller appends the final
    * SELECT over `b1..bK` (merge table) or `w{K}` (encoded vocab). */
  private def sqlBpeChain(numMerges: Int, byteLevel: Boolean = false): String = {
    val head = if (byteLevel)
      // byte-level contract: the planted-CJK/accents corpus, NO ascii
      // filter, and one symbol per UTF-8 BYTE as its 2-hex-digit
      // string (hex() is uppercase in both engines; hex-pair order is
      // monotone in byte value, so the tie-break replays)
      s"""WITH bsrc AS (
         |  SELECT text || ' $bpeNonAsciiSuffix' AS text FROM documents),
         |words AS (
         |  SELECT w, count(*) AS cnt FROM (
         |    SELECT unnest(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')) AS w
         |    FROM bsrc) u
         |  GROUP BY w),
         |w0 AS (
         |  SELECT w, cnt, list_transform(generate_series(1, length(hex(encode(w)))//2),
         |    i -> substr(hex(encode(w)), CAST(2*i-1 AS INT), 2)) AS s
         |  FROM words)""".stripMargin
    else
      """WITH words AS (
        |  SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS w
        |    FROM documents) u
        |  WHERE regexp_matches(w, '^[!-~]+$')
        |  GROUP BY w),
        |w0 AS (
        |  SELECT w, cnt, list_transform(generate_series(1, length(w)),
        |    i -> substr(w, CAST(i AS INT), 1)) AS s
        |  FROM words)""".stripMargin
    val rounds = (1 to numMerges).map { k =>
      s"""p$k AS (
         |  SELECT s[i] AS lhs, s[i+1] AS rhs, sum(cnt) AS c
         |  FROM w${k - 1}, unnest(generate_series(1, len(s)-1)) u(i)
         |  WHERE len(s) >= 2 GROUP BY 1, 2),
         |b$k AS (SELECT lhs, rhs, c FROM p$k ORDER BY c DESC, lhs, rhs LIMIT 1),
         |""".stripMargin + sqlBpeApplyRound(k)
    }
    (head +: rounds).mkString(",\n")
  }

  /** One greedy left-to-right merge-application round shared by
    * [[sqlBpeChain]] (per-round argmax pair in b$k) and
    * [[sqlBpeApplyFixedChain]] (externally-given pair in b$k):
    * rewrites w{k-1} -> w$k under the pair bound to b$k. */
  private def sqlBpeApplyRound(k: Int): String =
      s"""e$k AS (SELECT w, cnt, i, s[i] AS sym
         |        FROM w${k - 1}, unnest(generate_series(1, len(s))) u(i)),
         |m$k AS (
         |  -- LEFT JOIN ON true, not CROSS: when the corpus exhausts
         |  -- before round $k (b$k empty) the vocabulary must pass
         |  -- through unchanged (mt NULL -> no merges), matching the
         |  -- engine's early stop — a cross join would annihilate it
         |  SELECT e.w, e.cnt, e.i, e.sym, b.lhs, b.rhs,
         |    (e.sym = b.lhs AND
         |     lead(e.sym) OVER (PARTITION BY e.w ORDER BY e.i) = b.rhs) AS mt
         |  FROM e$k e LEFT JOIN b$k b ON true),
         |r$k AS (
         |  SELECT *, coalesce(max(CASE WHEN sym <> lhs THEN i END)
         |    OVER (PARTITION BY w ORDER BY i
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS rs
         |  FROM m$k),
         |s$k AS (
         |  SELECT *, CASE WHEN NOT coalesce(mt, false) THEN false
         |                 WHEN lhs <> rhs THEN true
         |                 ELSE (i - rs) % 2 = 0 END AS strt
         |  FROM r$k),
         |f$k AS (
         |  SELECT *, coalesce(lag(strt) OVER (PARTITION BY w ORDER BY i),
         |                     false) AS cons
         |  FROM s$k),
         |w$k AS (
         |  SELECT w, any_value(cnt) AS cnt,
         |    list(CASE WHEN strt THEN lhs || rhs ELSE sym END ORDER BY i)
         |      FILTER (NOT cons) AS s
         |  FROM f$k GROUP BY w)""".stripMargin

  /** Byte-level encode under an EXTERNAL (fixed) merge chain: the same
    * bsrc/words/w0 head as the byte-level [[sqlBpeChain]], then one
    * application round per given (lhs, rhs) hex pair — no argmax, the
    * chain is the published tokenizer artifact. Replays
    * [[graft.operators.Bpe.applyMerges]] over [[graft.operators.Bpe.byteSymbols]]. */
  private def sqlBpeApplyFixedChain(
      pairs: Seq[(String, String)],
      tokenizeSql: String =
        "regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')"): String = {
    val head =
      s"""WITH bsrc AS (
         |  SELECT text || ' $bpeNonAsciiSuffix' AS text FROM documents),
         |words AS (
         |  SELECT w, count(*) AS cnt FROM (
         |    SELECT unnest($tokenizeSql) AS w
         |    FROM bsrc) u
         |  GROUP BY w),
         |w0 AS (
         |  SELECT w, cnt, list_transform(generate_series(1, length(hex(encode(w)))//2),
         |    i -> substr(hex(encode(w)), CAST(2*i-1 AS INT), 2)) AS s
         |  FROM words)""".stripMargin
    val rounds = pairs.zipWithIndex.map { case ((l, r), i0) =>
      val k = i0 + 1
      s"b$k AS (SELECT '$l' AS lhs, '$r' AS rhs),\n" + sqlBpeApplyRound(k)
    }
    (head +: rounds).mkString(",\n")
  }

  /** ASCII word-frequency CTE shared by the unigram oracles — the
    * [[graft.operators.Bpe.wordCounts]] replay. */
  private val sqlUnigramWordsCte: String =
    """words AS MATERIALIZED (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS w
      |    FROM documents) u
      |  WHERE regexp_matches(w, '^[!-~]+$')
      |  GROUP BY w)""".stripMargin

  /** Seed-vocabulary CTE replaying [[graft.operators.Unigram.seedVocab]]
    * with the q_unigram_vocab parameters: substrings of length 2..4
    * weighted by word count, top-200 by (weight desc, piece),
    * `min(weight, 5e5) − (1e6 + 4e5·len)` micro-nat scores. */
  private val sqlUnigramSeedCte: String =
    """seeds AS MATERIALIZED (
      |  SELECT piece, CAST(weight AS BIGINT) AS weight,
      |    CAST(least(weight, 500000) - (1000000 + 400000 * length(piece)) AS BIGINT) AS lp_micro
      |  FROM (
      |    SELECT piece, sum(cnt) AS weight,
      |      row_number() OVER (ORDER BY sum(cnt) DESC, piece) AS rn
      |    FROM (
      |      SELECT unnest(flatten(list_transform(range(2, 5), l ->
      |        list_filter(list_transform(range(1, length(w) + 1), s2 ->
      |          CASE WHEN s2 <= length(w) - l + 1
      |               THEN substr(w, CAST(s2 AS INT), CAST(l AS INT)) END),
      |          x -> x IS NOT NULL)))) AS piece, cnt
      |      FROM words) su
      |    GROUP BY piece) q
      |  WHERE rn <= 200)""".stripMargin

  /** Unrolled Viterbi-DP replay shared by the unigram encode oracles:
    * expects `words(w, ...)` and `pieces(piece, lp)` CTEs upstream;
    * emits dp rounds (position 1..`maxW`), the recursive backwalk,
    * and `enc(w, seg, n)`. Each dp$i is MATERIALIZED (referenced by
    * both the next round's candidate scan and its own union — the
    * CTE-re-inlining lesson). Tie-break `ORDER BY cand DESC, j` =
    * the kernel's ascending-j strict-replace. The word-length cap
    * `maxW` must cover the corpus (max ASCII token is 8 at every sf;
    * a longer word would drop out of `enc` and fail the compare
    * LOUDLY, not silently). */
  private def sqlUnigramDpCtes(unkMicro: Long, maxPiece: Int, maxW: Int,
      sfx: String = "", piecesCte: String = "pieces"): String = {
    val head =
      s"dp${sfx}0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS score, " +
        "CAST(NULL AS INT) AS bp FROM words)"
    val rounds = (1 to maxW).map { i =>
      s"""cand$sfx$i AS (
         |  SELECT d.w,
         |    d.score + CASE WHEN p.lp IS NOT NULL THEN p.lp
         |                   WHEN $i - d.pos = 1 THEN CAST($unkMicro AS BIGINT)
         |                   ELSE NULL END AS cand,
         |    d.pos AS j
         |  FROM dp$sfx${i - 1} d
         |  LEFT JOIN $piecesCte p ON p.piece = substr(d.w, d.pos + 1, $i - d.pos)
         |  WHERE length(d.w) >= $i AND d.pos >= $i - $maxPiece AND d.pos < $i),
         |dp$sfx$i AS MATERIALIZED (
         |  SELECT w, pos, score, bp FROM dp$sfx${i - 1}
         |  UNION ALL
         |  SELECT w, $i AS pos, cand AS score, CAST(j AS INT) AS bp FROM (
         |    SELECT w, cand, j,
         |      row_number() OVER (PARTITION BY w ORDER BY cand DESC, j) AS rn
         |    FROM cand$sfx$i WHERE cand IS NOT NULL) q WHERE rn = 1)""".stripMargin
    }
    val tail =
      s"""walk$sfx AS (
         |  SELECT w, pos, bp FROM dp$sfx$maxW WHERE pos = length(w) AND pos > 0
         |  UNION ALL
         |  SELECT d.w, d.pos, d.bp FROM walk$sfx k JOIN dp$sfx$maxW d
         |    ON d.w = k.w AND d.pos = k.bp WHERE k.bp > 0),
         |segs$sfx AS (SELECT w, pos, substr(w, bp + 1, pos - bp) AS piece FROM walk$sfx),
         |enc$sfx AS MATERIALIZED (
         |  SELECT w, string_agg(piece, ' ' ORDER BY pos) AS seg,
         |         count(*) AS n
         |  FROM segs$sfx GROUP BY w)""".stripMargin
    (head +: rounds :+ tail).mkString(",\n")
  }

  /** q_unigram_em oracle: two hard-EM rounds, each a full namespaced
    * DP replay under that round's vocabulary — round 1 under the seed
    * scores, round 2 under `floor(1e6·ln(cnt/total))` re-estimates
    * (DuckDB `ln` / Spark `log`, the pinned-parity pair); the final
    * SELECT is round 2's M-step. In-vocab filtering is the join to
    * the round's pieces relation (an unknown-character fallback
    * carries no mass). */
  private def sqlUnigramEmOracle: String = {
    def mStep(countsCte: String): String =
      s"SELECT piece, cnt, CAST(floor(ln(CAST(cnt AS DOUBLE) / " +
        s"(SELECT sum(cnt) FROM $countsCte)) * 1000000) AS BIGINT) AS lp_micro " +
        s"FROM $countsCte"
    def counts(sfx: String, piecesCte: String): String =
      s"""SELECT s.piece, CAST(sum(w.cnt) AS BIGINT) AS cnt
         |  FROM segs$sfx s JOIN words w ON w.w = s.w
         |  JOIN $piecesCte p ON p.piece = s.piece
         |  GROUP BY s.piece""".stripMargin
    s"""WITH RECURSIVE
       |$sqlUnigramWordsCte,
       |$sqlUnigramSeedCte,
       |pieces_r1 AS (SELECT piece, lp_micro AS lp FROM seeds),
       |${sqlUnigramDpCtes(-2500000L, maxPiece = 4, maxW = 16,
          sfx = "_a", piecesCte = "pieces_r1")},
       |counts_r1 AS MATERIALIZED (
       |${counts("_a", "pieces_r1")}),
       |pieces_r2 AS MATERIALIZED (
       |  SELECT piece, lp_micro AS lp FROM (${mStep("counts_r1")}) m),
       |${sqlUnigramDpCtes(-2500000L, maxPiece = 4, maxW = 16,
          sfx = "_b", piecesCte = "pieces_r2")},
       |counts_r2 AS MATERIALIZED (
       |${counts("_b", "pieces_r2")})
       |${mStep("counts_r2")}""".stripMargin
  }

  /** Doc-level reassembly for the unigram encode oracles — the
    * q_bpe_docs shape over `enc(w, seg, n)`. */
  private val sqlUnigramDocAssembly: String =
    """dtoks AS (
      |  SELECT doc_id, i - 1 AS pos, t[i] AS w
      |  FROM (SELECT doc_id,
      |          regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t
      |        FROM documents),
      |       unnest(generate_series(1, len(t))) AS u(i)),
      |joined AS (
      |  SELECT d.doc_id, d.pos, e.seg, e.n FROM dtoks d JOIN enc e ON d.w = e.w)
      |SELECT doc_id,
      |  string_agg(seg, ' ' ORDER BY pos) AS encoded,
      |  CAST(sum(n) AS BIGINT) AS n_subwords
      |FROM joined GROUP BY doc_id""".stripMargin

  /** q_unigram_external oracle: the bundled SentencePiece-format
    * vocab rendered as a VALUES relation (from the SAME parsed
    * resource the Spark side loads — the merges.txt pattern), feeding
    * the shared DP replay. Fragile: reads the classpath resource at
    * string-construction time. */
  private def qUnigramExternalOracle: String = {
    val pieces = graft.operators.Unigram
      .loadSpVocabResource("/graft/unigram_vocab_sample.tsv")
    val maxPiece = pieces.map(_.piece.length).max
    val vals = pieces.map(p =>
      s"('${p.piece.replace("'", "''")}', CAST(${p.lpMicro} AS BIGINT))")
      .mkString(", ")
    s"""WITH RECURSIVE
       |$sqlUnigramWordsCte,
       |pieces(piece, lp) AS (SELECT * FROM (VALUES $vals) t),
       |${sqlUnigramDpCtes(-12000000L, maxPiece, maxW = 16)},
       |$sqlUnigramDocAssembly""".stripMargin
  }

  /** q_lm_external oracle: the bundled ARPA model rendered as VALUES
    * relations (from the SAME parsed resource the Spark side loads),
    * the back-off rule replayed with left joins. Fragile: reads the
    * classpath resource at string-construction time. */
  private def qLmExternalOracle: String = {
    val m = graft.operators.LmScore.loadArpaResource("/graft/sample_bigram.arpa")
    def q(w: String) = "'" + w.replace("'", "''") + "'"
    val uniVals = m.uni.map { case (w, lp, bo) => s"(${q(w)}, $lp, $bo)" }
      .mkString(", ")
    val biVals = m.bi.map { case (a, b, lp) => s"(${q(a)}, ${q(b)}, $lp)" }
      .mkString(", ")
    s"""WITH uni(w, lp1, bo1) AS (SELECT * FROM (VALUES $uniVals) t),
       |bi(w1, w2, lp2) AS (SELECT * FROM (VALUES $biVals) t),
       |tk AS (
       |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS ts FROM documents),
       |nz AS (SELECT doc_id, ts FROM tk WHERE len(ts) >= 1),
       |firsts AS (
       |  SELECT f.doc_id, coalesce(u.lp1, ${m.unkLp}) AS lp
       |  FROM (SELECT doc_id, ts[1] AS w FROM nz) f LEFT JOIN uni u ON f.w = u.w),
       |pairs AS (
       |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
       |  FROM nz, unnest(generate_series(1, len(ts)-1)) u(i)
       |  WHERE len(ts) >= 2),
       |trans AS (
       |  SELECT p.doc_id,
       |    coalesce(b.lp2,
       |      coalesce(u1.bo1, 0.0) + coalesce(u2.lp1, ${m.unkLp})) AS lp
       |  FROM pairs p
       |  LEFT JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
       |  LEFT JOIN uni u1 ON p.w1 = u1.w
       |  LEFT JOIN uni u2 ON p.w2 = u2.w),
       |allr AS (SELECT * FROM firsts UNION ALL SELECT * FROM trans)
       |SELECT doc_id,
       |  round(-(CAST(sum(CAST(lp AS DECIMAL(28,10))) AS DOUBLE) /
       |          CAST(count(*) AS DOUBLE)), 6) AS nll10,
       |  CAST(count(*) AS BIGINT) AS n_scored
       |FROM allr GROUP BY doc_id""".stripMargin
  }

  /** q_bpe_fertility oracle: the fixed-chain segmented vocabulary
    * joined back to doc tokens, rolled up per language — fertility =
    * subwords/word, bytes_per_token = token utf-8 bytes / subwords.
    * Fragile: reads the bundled merges.txt resource. */
  private def qBpeFertilityOracle: String = {
    val pairs = graft.operators.Bpe
      .loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      .map(m => (m.lhs, m.rhs))
    s"""${sqlBpeApplyFixedChain(pairs)},
       |vocab AS (SELECT w, s FROM w${pairs.length}),
       |dtoks AS (
       |  SELECT doc_id, lang, t[i] AS w
       |  FROM (SELECT doc_id, lang,
       |          regexp_extract_all(text || ' $bpeNonAsciiSuffix',
       |            '[^ \\t\\n\\x0b\\f\\r]+') AS t
       |        FROM documents),
       |       unnest(generate_series(1, len(t))) AS u(i)),
       |joined AS (
       |  SELECT d.lang, len(v.s) AS ns, strlen(d.w) AS nb
       |  FROM dtoks d JOIN vocab v ON d.w = v.w)
       |SELECT lang,
       |  round(CAST(sum(ns) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS fertility,
       |  round(CAST(sum(nb) AS DOUBLE) / CAST(sum(ns) AS DOUBLE), 6) AS bytes_per_token,
       |  CAST(sum(ns) AS BIGINT) AS n_tokens
       |FROM joined GROUP BY lang""".stripMargin
  }

  /** q_lm_external3 oracle: the bundled order-3 ARPA model rendered
    * as VALUES relations, the Katz back-off recursion unrolled as the
    * same longest-match CASE over 5 left joins the Spark plan uses
    * (tri lp, bi lp, bi backoff of (w1,w2), uni backoff of w2, uni lp
    * of w3). Fragile: reads the classpath resource. */
  private def qLmExternal3Oracle: String = {
    val m = graft.operators.LmScore.loadArpaResourceN("/graft/sample_trigram.arpa")
    require(m.order == 3, s"oracle expects order 3, got ${m.order}")
    def q(w: String) = "'" + w.replace("'", "''") + "'"
    val uniVals = m.grams(0).map { case (ws, lp, bo) => s"(${q(ws(0))}, $lp, $bo)" }
      .mkString(", ")
    val biVals = m.grams(1).map { case (ws, lp, bo) =>
      s"(${q(ws(0))}, ${q(ws(1))}, $lp, $bo)" }.mkString(", ")
    val triVals = m.grams(2).map { case (ws, lp, _) =>
      s"(${q(ws(0))}, ${q(ws(1))}, ${q(ws(2))}, $lp)" }.mkString(", ")
    s"""WITH uni(w, lp1, bo1) AS (SELECT * FROM (VALUES $uniVals) t),
       |bi(a, b, lp2, bo2) AS (SELECT * FROM (VALUES $biVals) t),
       |tri(a, b, c, lp3) AS (SELECT * FROM (VALUES $triVals) t),
       |tk AS (
       |  SELECT doc_id, regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+') AS ts
       |  FROM documents),
       |nz AS (SELECT doc_id, ts FROM tk WHERE len(ts) >= 1),
       |pos AS (
       |  SELECT doc_id,
       |    CASE WHEN i >= 3 THEN ts[i-2] END AS w1,
       |    CASE WHEN i >= 2 THEN ts[i-1] END AS w2,
       |    ts[i] AS w3
       |  FROM nz, unnest(generate_series(1, len(ts))) u(i)),
       |scored AS (
       |  SELECT p.doc_id,
       |    CASE
       |      WHEN t3.lp3 IS NOT NULL THEN t3.lp3
       |      WHEN b23.lp2 IS NOT NULL THEN coalesce(b12.bo2, 0.0) + b23.lp2
       |      WHEN u3.lp1 IS NOT NULL THEN
       |        coalesce(u2.bo1, 0.0) + coalesce(b12.bo2, 0.0) + u3.lp1
       |      ELSE coalesce(u2.bo1, 0.0) + coalesce(b12.bo2, 0.0) + ${m.unkLp}
       |    END AS lp
       |  FROM pos p
       |  LEFT JOIN tri t3 ON p.w1 = t3.a AND p.w2 = t3.b AND p.w3 = t3.c
       |  LEFT JOIN bi b23 ON p.w2 = b23.a AND p.w3 = b23.b
       |  LEFT JOIN bi b12 ON p.w1 = b12.a AND p.w2 = b12.b
       |  LEFT JOIN uni u2 ON p.w2 = u2.w
       |  LEFT JOIN uni u3 ON p.w3 = u3.w)
       |SELECT doc_id,
       |  round(-(CAST(sum(CAST(lp AS DECIMAL(28,10))) AS DOUBLE) /
       |          CAST(count(*) AS DOUBLE)), 6) AS nll10,
       |  CAST(count(*) AS BIGINT) AS n_scored
       |FROM scored GROUP BY doc_id""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Bpe.gpt2PreTokens]]: RE2 has
    * no lookahead, so the pattern's `\s+(?!\S)` alternative (a run
    * yields its LAST whitespace char to the following token) is
    * emulated by first inserting a \x1e sentinel before each
    * whitespace run's final character (regexp_replace of
    * ws-followed-by-non-ws), then extracting with a lookahead-free
    * pattern whose `[ws]+` stops at the sentinel; the sentinel matches
    * no alternative and is skipped. Whitespace is spelled as the
    * explicit Java-`\s` class so both engines agree (the RE2-\s-
    * excludes-\x0b lesson). Fuzz-validated against the Java pattern
    * over 3k random mixed strings; equivalence assumes the text is
    * free of \x1e and exotic Unicode whitespace (the corpus is ASCII
    * plus the planted UTF-8 suffix). */
  private def sqlGpt2PreTokens(input: String): String =
    s"""regexp_extract_all(regexp_replace($input, '([ \\t\\n\\x0b\\f\\r])([^ \\t\\n\\x0b\\f\\r])', chr(30) || '\\1\\2', 'g'), '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\x0b\\f\\r\\p{L}\\p{N}\\x1e]+|[ \\t\\n\\x0b\\f\\r]+')"""

  /** q_bpe_fertility2 oracle: the fertility rollup with BOTH the
    * vocabulary and the per-doc token explode produced by the GPT-2
    * pre-tokenizer replay ([[sqlGpt2PreTokens]]) instead of
    * whitespace splitting. Fragile: reads the merges resource. */
  private def qBpeFertility2Oracle: String = {
    val pairs = graft.operators.Bpe
      .loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      .map(m => (m.lhs, m.rhs))
    s"""${sqlBpeApplyFixedChain(pairs, sqlGpt2PreTokens("text"))},
       |vocab AS (SELECT w, s FROM w${pairs.length}),
       |dtoks AS (
       |  SELECT doc_id, lang, t[i] AS w
       |  FROM (SELECT doc_id, lang,
       |          ${sqlGpt2PreTokens(s"text || ' $bpeNonAsciiSuffix'")} AS t
       |        FROM documents),
       |       unnest(generate_series(1, len(t))) AS u(i)),
       |joined AS (
       |  SELECT d.lang, len(v.s) AS ns, strlen(d.w) AS nb
       |  FROM dtoks d JOIN vocab v ON d.w = v.w)
       |SELECT lang,
       |  round(CAST(sum(ns) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS fertility,
       |  round(CAST(sum(nb) AS DOUBLE) / CAST(sum(ns) AS DOUBLE), 6) AS bytes_per_token,
       |  CAST(sum(ns) AS BIGINT) AS n_tokens
       |FROM joined GROUP BY lang""".stripMargin
  }

  /** q_bpe_docs2 oracle: the q_bpe_docs word-cache reassembly with
    * BOTH the vocabulary and the positional token explode produced by
    * the GPT-2 pre-tokenizer replay over the EXTERNAL fixed chain.
    * Fragile: reads the merges resource. */
  private def qBpeDocs2Oracle: String = {
    val pairs = graft.operators.Bpe
      .loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      .map(m => (m.lhs, m.rhs))
    s"""${sqlBpeApplyFixedChain(pairs, sqlGpt2PreTokens("text"))},
       |vocab AS (SELECT w, s FROM w${pairs.length}),
       |dtoks AS (
       |  SELECT doc_id, i - 1 AS pos, t[i] AS w
       |  FROM (SELECT doc_id,
       |          ${sqlGpt2PreTokens(s"text || ' $bpeNonAsciiSuffix'")} AS t
       |        FROM documents),
       |       unnest(generate_series(1, len(t))) AS u(i)),
       |joined AS (
       |  SELECT d.doc_id, d.pos, v.s FROM dtoks d JOIN vocab v ON d.w = v.w)
       |SELECT doc_id,
       |  string_agg(array_to_string(s, ' '), ' ' ORDER BY pos) AS encoded,
       |  CAST(sum(len(s)) AS BIGINT) AS n_subwords
       |FROM joined GROUP BY doc_id""".stripMargin
  }

  /** q_bpe_external oracle: the fixed-chain byte-level encode replay,
    * its pair list parsed from the SAME bundled merges.txt resource
    * the Spark side loads (the PSL-rules pattern) — fragile because
    * the resource read happens at oracle-string construction. */
  private def qBpeExternalOracle: String = {
    val pairs = graft.operators.Bpe
      .loadMergesTextResource("/graft/gpt2_merges_subset.txt")
      .map(m => (m.lhs, m.rhs))
    s"""${sqlBpeApplyFixedChain(pairs)}
       |SELECT w, CAST(cnt AS BIGINT) AS cnt,
       |       array_to_string(s, ' ') AS segmented
       |FROM w${pairs.length}""".stripMargin
  }
}
