package graft
package entry

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators._
import graft.plans.HashExpressions
import Common._
import SparkEntry.clusterLabels

/** Exact and near-duplicate removal, the CC trio, decontamination and
  * overlap verification. */
private[graft] object DedupQueries {
  val specs: Seq[QuerySpec] = Seq(
    // §2b-18: exact content dedup
    QuerySpec("q_exact_dedup", (s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id"),
      () => """SELECT min(doc_id) AS doc_id, count(*) AS n_dupes
        |FROM documents GROUP BY sha256(text)""".stripMargin),

    // §2b-53: normalized ("fuzzy exact") dedup — exact dedup over the
    // canonicalized key (lowercase, punctuation→space, collapsed
    // whitespace). Planted casing/punctuation variants (+100000)
    // collapse onto their originals; byte-exact dedup would miss all
    // of them
    QuerySpec("q_norm_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // planted variants upper-case via ASCII translate, not upper():
      // Unicode case mappings differ between Java and utf8proc (ß, İ),
      // so the planted corpus itself must be engine-independent
      val noisy = docs.select((col("doc_id") + 100000L).as("doc_id"),
        concat(translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ"), lit("  !!")).as("text"))
      Dedup.normalizedDedup(docs.unionByName(noisy), "text", "doc_id")
    },
      // normalized dedup: the same grouping with the canonicalization
      // applied first; whitespace spelled as the explicit class both
      // sides (Java \s vs RE2 \s disagree on \x0b), 'g' for replace-all.
      // Case folding is ASCII-only translate on BOTH sides — lower()/
      // upper() Unicode mappings diverge between Java and utf8proc
      () => """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    translate(text, 'abcdefghijklmnopqrstuvwxyz',
        |              'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || '  !!' AS text
        |  FROM documents)
        |SELECT min(doc_id) AS doc_id, count(*) AS n_dupes
        |FROM corpus
        |GROUP BY sha256(trim(regexp_replace(regexp_replace(
        |  translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |            'abcdefghijklmnopqrstuvwxyz'),
        |  '[^a-z0-9 \t\n\x0b\f\r]', ' ', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g')))""".stripMargin),

    // §2b-53b: Unicode-canonical dedup keys — planted byte-variant
    // spellings (precomposed U+00E9 vs e + combining U+0301) collapse
    // under the codegen NfcNormalize expression before hashing, the
    // normalization real crawls need ahead of any byte-keyed dedup;
    // DuckDB's nfc_normalize replays it exactly
    QuerySpec("q_nfc_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val pre = docs.select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" caf\u00e9")).as("text"))
      val dec = docs.select((col("doc_id") + 200000L).as("doc_id"),
        concat(col("text"), lit(" cafe\u0301")).as("text"))
      docs.unionByName(pre).unionByName(dec)
        .select(col("doc_id"),
          sha2(graft.plans.HashExpressions.nfcNormalize(col("text")), 256)
            .as("content_sha"))
        .groupBy(col("content_sha"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
    },
      // Unicode-canonical dedup keys: chr(233) = precomposed U+00E9,
      // chr(769) = combining U+0301 — nfc_normalize composes the
      // decomposed spelling, so each doc's two planted variants share
      // one sha while byte-keyed hashing would keep them apart.
      () => """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' caf' || chr(233) FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' cafe' || chr(769) FROM documents)
        |SELECT sha256(nfc_normalize(text)) AS content_sha,
        |       count(*) AS n_copies, min(doc_id) AS keeper
        |FROM corpus GROUP BY 1""".stripMargin),

    // §2b-18c: duplicated-substring removal at 8-token-window
    // granularity (Lee et al. 2022 ExactSubstr, Spark-shaped: window
    // key shuffle + first-occurrence retention instead of a corpus
    // suffix array). byHash=true is the 8-byte-key 100 TB path and is
    // what's oracle-gated here: the DuckDB side replays fnv64 as
    // HUGEINT mod-2^64 arithmetic and partitions on the HASH key, so
    // the winner choice — including any 64-bit collision — is replayed
    // exactly; string-key equivalence stays parity-pinned in DedupSpec
    QuerySpec("q_substring_dedup", (s, dir) =>
      Dedup.substringDedup(neardupCorpus(s, dir), "doc_id", "text",
        w = 8, byHash = true),
      () => """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+$', '') FROM documents),
        |toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM corpus),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS s
        |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |keyed AS (
        |  SELECT doc_id, pos, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s)+1),
        |        i -> CAST(unicode(substr(s, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS k
        |  FROM wins),
        |marked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn,
        |         count(*) OVER (PARTITION BY k) AS n
        |  FROM keyed),
        |covered AS (
        |  SELECT DISTINCT doc_id, g.tp
        |  FROM marked, unnest(generate_series(pos, pos + 7)) AS g(tp)
        |  WHERE n > 1 AND rn > 1),
        |tokpos AS (
        |  SELECT doc_id, i - 1 AS tp, t[i] AS tok
        |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
        |kept AS (
        |  SELECT k.doc_id, k.tp, k.tok FROM tokpos k
        |  LEFT JOIN covered c ON k.doc_id = c.doc_id AND k.tp = c.tp
        |  WHERE c.doc_id IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, coalesce(r.text, '') AS text
        |FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id""".stripMargin),

    // §2b-18b: corpus-wide exact PARAGRAPH dedup (Lee et al. 2022's
    // within-and-across-document step). The flat synthetic corpus gets
    // deterministic paragraph structure first — 20-token chunks plus a
    // shared boilerplate header every doc repeats — so the operator
    // demonstrably strips cross-document repetition: the header
    // survives only in the lowest doc_id. byHash=false so the DuckDB
    // oracle replays the winner choice on paragraph strings; the
    // byHash=true scale path (8-byte fnv64 shuffle keys) is
    // parity-asserted in DedupSpec.
    QuerySpec("q_para_dedup", (s, dir) => {
      // bind the token array to a column FIRST (codegen discipline:
      // a regexp_extract_all referenced inside transform re-inlines
      // the regex scan per element and blows up janino); size filter
      // aligns the zero-token edge with the oracle's floor division
      // (see q_strip_boilerplate)
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .filter(size(col("__t")) > 0)
      val structured = withToks.select(col("doc_id"),
        concat(lit("shared boilerplate header\n"),
          array_join(
            transform(sequence(lit(0),
                ((size(col("__t")) - 1) / 20).cast("int")),
              i => array_join(slice(col("__t"), i * 20 + 1, lit(20)), " ")),
            "\n")).as("text"))
      Dedup.paragraphDedup(structured, "doc_id", "text", byHash = false)
    },
      // winner choice replayed on paragraph STRINGS (row_number over
      // (para) ordered by (doc_id, idx) = Spark's min-struct); corpus
      // structure (20-token chunks + shared header) rebuilt identically
      () => """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, i AS cidx,
        |         array_to_string(t[(i*20+1):(i*20+20)], ' ') AS para
        |  FROM toks, unnest(generate_series(0, (len(t)-1)//20)) AS u(i)),
        |structured AS (
        |  SELECT doc_id, 'shared boilerplate header' || chr(10) ||
        |         string_agg(para, chr(10) ORDER BY cidx) AS text
        |  FROM chunks GROUP BY doc_id),
        |split_docs AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS parts FROM structured),
        |paras AS (
        |  SELECT doc_id, i - 1 AS idx, parts[i] AS para
        |  FROM split_docs, unnest(generate_series(1, len(parts))) AS u(i)),
        |kept AS (
        |  SELECT doc_id, idx, para FROM (
        |    SELECT doc_id, idx, para,
        |           row_number() OVER (PARTITION BY para
        |                              ORDER BY doc_id, idx) AS rn
        |    FROM paras) WHERE rn = 1)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS text
        |FROM kept GROUP BY doc_id""".stripMargin),

    // §2b-18e: corpus-LEVEL boilerplate stripping — the third line
    // retention policy: the planted header has doc-frequency n_docs,
    // far over maxDocFreq=2, so it is stripped from EVERY doc (where
    // q_para_dedup keeps its first copy); content chunks have doc
    // frequency ~1 and survive. byHash=false so the oracle replays on
    // line strings; the byHash scale path is parity-asserted in
    // DedupSpec.
    QuerySpec("q_strip_boilerplate", (s, dir) => {
      // size filter: a zero-token doc would get one EMPTY chunk here
      // ((size-1)/20 truncates -1 toward 0) while the oracle's floor
      // division drops it — exclude such docs on both sides
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .filter(size(col("__t")) > 0)
      val structured = withToks.select(col("doc_id"),
        concat(lit("shared boilerplate header\n"),
          array_join(
            transform(sequence(lit(0),
                ((size(col("__t")) - 1) / 20).cast("int")),
              i => array_join(slice(col("__t"), i * 20 + 1, lit(20)), " ")),
            "\n")).as("text"))
      Dedup.stripBoilerplateLines(structured, "doc_id", "text",
        maxDocFreq = 2, byHash = false)
    },
      // same structured-corpus rebuild as q_para_dedup; template lines
      // by distinct-doc frequency on line STRINGS, stripped everywhere
      () => """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, i AS cidx,
        |         array_to_string(t[(i*20+1):(i*20+20)], ' ') AS para
        |  FROM toks, unnest(generate_series(0, (len(t)-1)//20)) AS u(i)),
        |structured AS (
        |  SELECT doc_id, 'shared boilerplate header' || chr(10) ||
        |         string_agg(para, chr(10) ORDER BY cidx) AS text
        |  FROM chunks GROUP BY doc_id),
        |split_docs AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS parts FROM structured),
        |lines AS (
        |  SELECT doc_id, i - 1 AS idx, parts[i] AS line
        |  FROM split_docs, unnest(generate_series(1, len(parts))) AS u(i)),
        |tmpl AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS df
        |    FROM lines WHERE trim(line) <> '' GROUP BY line)
        |  WHERE df > 2),
        |kept AS (
        |  SELECT l.doc_id, l.idx, l.line FROM lines l
        |  LEFT JOIN tmpl t ON l.line = t.line WHERE t.line IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, coalesce(r.text, '') AS text
        |FROM structured s LEFT JOIN rebuilt r ON s.doc_id = r.doc_id""".stripMargin),

    // §2b-25k: C4-style boilerplate line cleaning (Raffel et al. 2020
    // §2.2): the synthetic corpus has no line structure or
    // punctuation, so lines are rebuilt deterministically from the
    // token stream (10-token chunks) with a replayable defect mix —
    // unpunctuated lines (i%4=0), a brace+javascript line (i%7=2), a
    // mixed-case javascript mention (i%5=1), short tails — then
    // filtered by the one-pass cleanLines kernel (no line explode);
    // docs with no surviving line are dropped like C4 pages
    QuerySpec("q_clean_lines", (s, dir) => {
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .filter(size(col("__t")) > 0)
      val structured = withToks.select(col("doc_id"),
        array_join(
          transform(sequence(lit(0), ((size(col("__t")) - 1) / 10).cast("int")),
            i => concat(
              array_join(slice(col("__t"), i * 10 + 1, lit(10)), " "),
              when(pmod(i, lit(7)) === 2, lit(" { javascript }"))
                .when(pmod(i, lit(4)) === 0, lit(""))
                .when(pmod(i, lit(5)) === 1, lit(" enable Javascript please."))
                .otherwise(lit(".")))),
          "\n").as("text"))
      structured
        .select(col("doc_id"),
          HashExpressions.cleanLines(col("text"), minWords = 3).as("clean_text"),
          size(split(col("text"), "\n")).cast("long").as("__total"))
        .filter(length(col("clean_text")) > 0)
        .select(col("doc_id"), col("clean_text"),
          size(split(col("clean_text"), "\n")).cast("long").as("n_lines_kept"),
          (col("__total") - size(split(col("clean_text"), "\n")))
            .cast("long").as("n_lines_dropped"))
    },
      // line structure rebuilt identically to the Spark side (10-token
      // chunks + the deterministic defect mix), then the kernel's line
      // rules replayed as a list_filter: >=3 words, terminal
      // punctuation after rtrim of in-line blanks, no brace, no
      // case-insensitive "javascript"
      () => """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM documents
        |  WHERE len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) > 0),
        |structured AS (
        |  SELECT doc_id, array_to_string(
        |    list_transform(generate_series(0, (len(t)-1)//10), i ->
        |      array_to_string(t[(i*10+1):(i*10+10)], ' ') ||
        |      CASE WHEN i % 7 = 2 THEN ' { javascript }'
        |           WHEN i % 4 = 0 THEN ''
        |           WHEN i % 5 = 1 THEN ' enable Javascript please.'
        |           ELSE '.' END),
        |    chr(10)) AS text
        |  FROM toks),
        |lines AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM structured),
        |kept AS (
        |  SELECT doc_id, len(ls) AS n_total, list_filter(ls, l ->
        |    len(regexp_extract_all(l, '[^ \t\r\f\x0b]+')) >= 3
        |    AND regexp_matches(rtrim(l, ' ' || chr(9) || chr(13) || chr(12) || chr(11)), '[.!?"]$')
        |    AND NOT contains(lower(l), 'javascript')
        |    AND NOT contains(l, '{') AND NOT contains(l, '}')) AS ks
        |  FROM lines)
        |SELECT doc_id, array_to_string(ks, chr(10)) AS clean_text,
        |  CAST(len(ks) AS BIGINT) AS n_lines_kept,
        |  CAST(n_total - len(ks) AS BIGINT) AS n_lines_dropped
        |FROM kept WHERE len(ks) > 0""".stripMargin),

    // §2b-25i: within-document duplicate-line character fraction (the
    // Gopher repetition battery's line-level signal, Rae et al. 2021:
    // "fraction of characters in duplicate lines"): docs get
    // deterministic line structure (20-token chunks + header) with the
    // FIRST chunk repeated at the end, so every doc carries a planted
    // internal duplicate; one explode + two hash aggs, all built-ins
    QuerySpec("q_dup_line_frac", (s, dir) => {
      // NULL text scores 0.0 like the oracle (tokens(NULL) would
      // otherwise propagate to explode(NULL) and DROP the row)
      val withToks = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokens(coalesce(col("text"), lit(""))).as("__t"))
      val lines = withToks.select(col("doc_id"), explode(concat(
          array(lit("shared boilerplate header")),
          transform(sequence(lit(0),
              ((size(col("__t")) - 1) / 20).cast("int")),
            i => array_join(slice(col("__t"), i * 20 + 1, lit(20)), " ")),
          array(array_join(slice(col("__t"), lit(1), lit(20)), " "))))
        .as("line"))
      lines.groupBy(col("doc_id"), col("line"))
        .agg(count(lit(1)).as("c"))
        .withColumn("l", length(col("line")).cast("long"))
        .groupBy(col("doc_id"))
        .agg(round(
          sum(when(col("c") > 1, col("l") * col("c")).otherwise(0L))
            .cast("double") /
          sum(col("l") * col("c")).cast("double"), 6)
          .as("dup_line_char_frac"))
    },
      () => """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, array_to_string(t[(i*20+1):(i*20+20)], ' ') AS line
        |  FROM toks, unnest(generate_series(0, (len(t)-1)//20)) AS u(i)),
        |alllines AS (
        |  SELECT doc_id, line FROM chunks
        |  UNION ALL SELECT doc_id, 'shared boilerplate header' FROM toks
        |  UNION ALL SELECT doc_id, array_to_string(t[1:20], ' ') FROM toks),
        |counts AS (
        |  SELECT doc_id, line, count(*) AS c, len(line) AS l
        |  FROM alllines GROUP BY doc_id, line)
        |SELECT doc_id,
        |  round(CAST(sum(CASE WHEN c > 1 THEN l*c ELSE 0 END) AS DOUBLE) /
        |        CAST(sum(l*c) AS DOUBLE), 6) AS dup_line_char_frac
        |FROM counts GROUP BY doc_id""".stripMargin),

    // §2b-19/21: MinHash-LSH near-dup candidates + exact-Jaccard verify.
    // The corpus is augmented with deterministic truncated copies
    // (doc_id+100000) so the operator demonstrably finds the planted
    // near-dups; pairs are generated per LSH bucket, never all-pairs.
    QuerySpec("q_minhash_pairs", (s, dir) =>
      NearDup.minhashPairs(neardupCorpus(s, dir), "doc_id", "text",
        k = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5),
      () => """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+$', '') FROM documents),
        |tl AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM corpus),
        |shing AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_transform(range(1, len(toks) - 1),
        |        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    ELSE [array_to_string(toks, ' ')] END AS shs
        |  FROM tl),
        |sh AS (SELECT doc_id, unnest(shs) AS s FROM shing),
        |shh AS (
        |  SELECT DISTINCT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(s)+1),
        |        i -> CAST(unicode(substr(s, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS h
        |  FROM sh),
        |m1 AS (
        |  SELECT doc_id, j,
        |    (h + (((((CAST(j AS HUGEINT) + 1) // CAST('4294967296' AS HUGEINT)) * CAST('11400714819323198485' AS HUGEINT)) % CAST('4294967296' AS HUGEINT)) * CAST('4294967296' AS HUGEINT) + ((CAST(j AS HUGEINT) + 1) % CAST('4294967296' AS HUGEINT)) * CAST('11400714819323198485' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT))
        |      % CAST('18446744073709551616' AS HUGEINT) AS z1
        |  FROM shh, range(0, 32) r(j)),
        |m2 AS (SELECT doc_id, j, xor(z1, z1 // CAST('1073741824' AS HUGEINT)) AS t1 FROM m1),
        |m3 AS (SELECT doc_id, j, (((((t1) // CAST('4294967296' AS HUGEINT)) * CAST('13787848793156543929' AS HUGEINT)) % CAST('4294967296' AS HUGEINT)) * CAST('4294967296' AS HUGEINT) + ((t1) % CAST('4294967296' AS HUGEINT)) * CAST('13787848793156543929' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT) AS z2 FROM m2),
        |m4 AS (SELECT doc_id, j, xor(z2, z2 // CAST('134217728' AS HUGEINT)) AS t2 FROM m3),
        |m5 AS (SELECT doc_id, j, (((((t2) // CAST('4294967296' AS HUGEINT)) * CAST('10723151780598845931' AS HUGEINT)) % CAST('4294967296' AS HUGEINT)) * CAST('4294967296' AS HUGEINT) + ((t2) % CAST('4294967296' AS HUGEINT)) * CAST('10723151780598845931' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT) AS z3 FROM m4),
        |m6 AS (SELECT doc_id, j, xor(z3, z3 // CAST('2147483648' AS HUGEINT)) AS z4 FROM m5),
        |mh AS (
        |  SELECT doc_id, j,
        |    min(CAST(z4 - CASE WHEN z4 >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)) AS m
        |  FROM m6 GROUP BY doc_id, j),
        |sigs AS (SELECT doc_id, list(m ORDER BY j) AS minhashes FROM mh GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, b, minhashes[b*4+1 : b*4+4] AS band_sig
        |  FROM sigs, range(0, 8) r(b)),
        |buckets AS (
        |  SELECT b, band_sig, list(doc_id) AS ids FROM bands GROUP BY b, band_sig
        |  HAVING len(list(doc_id)) BETWEEN 2 AND 1000),
        |pairs AS (
        |  SELECT DISTINCT ia.a AS id_a, ib.b AS id_b
        |  FROM buckets, unnest(ids) ia(a), unnest(ids) ib(b)
        |  WHERE ia.a < ib.b),
        |shsets AS (SELECT doc_id, list(DISTINCT h) AS sset FROM shh GROUP BY doc_id)
        |SELECT p.id_a, p.id_b,
        |  round(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(a.sset, b.sset))) AS DOUBLE), 6) AS jaccard
        |FROM pairs p JOIN shsets a ON p.id_a = a.doc_id JOIN shsets b ON p.id_b = b.doc_id
        |WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.sset, b.sset))) AS DOUBLE) >= 0.5""".stripMargin),

    // §2b-20/27: SimHash + winnowing fingerprint via the custom codegen
    // Catalyst expressions
    QuerySpec("q_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        HashExpressions.simhash64(col("text")).as("simhash"),
        HashExpressions.winnow64(col("text"), 8).as("fingerprint")),
      () => """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(tok)+1),
        |        i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1
        |                  THEN 1 ELSE -1 END) AS v
        |  FROM th, range(0, 64) r(b) GROUP BY doc_id, b),
        |sim AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS HUGEINT)
        |                  ELSE CAST(0 AS HUGEINT) END) AS sim_u
        |  FROM votes GROUP BY doc_id),
        |grams AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, 9),
        |        i -> CAST(unicode(substr(substr(text, CAST(p AS INT), 8), i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS g
        |  FROM documents, unnest(range(1, greatest(length(text) - 6, 1))) t(p)
        |  WHERE length(text) >= 8),
        |win AS (
        |  SELECT doc_id, min(g) AS win_u FROM grams GROUP BY doc_id
        |  UNION ALL
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(text)+1),
        |        i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS win_u
        |  FROM documents WHERE length(text) < 8)
        |SELECT d.doc_id,
        |  CAST(coalesce(s.sim_u, CAST(0 AS HUGEINT))
        |    - CASE WHEN coalesce(s.sim_u, CAST(0 AS HUGEINT)) >= CAST('9223372036854775808' AS HUGEINT)
        |      THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS simhash,
        |  CAST(w.win_u - CASE WHEN w.win_u >= CAST('9223372036854775808' AS HUGEINT)
        |    THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS fingerprint
        |FROM documents d LEFT JOIN sim s ON d.doc_id = s.doc_id
        |JOIN win w ON d.doc_id = w.doc_id""".stripMargin),

    // §2b-18d: content-defined-chunking block duplication stats —
    // storage-dedup's shift-robust block granularity applied to corpus
    // curation: boundaries are a w-byte local hash predicate, so a
    // shared block is found even when edits move it (fixed blocks
    // mis-align forever; token windows need exact alignment)
    QuerySpec("q_cdc_blocks", (s, dir) =>
      Dedup.cdcBlockStats(t(s, dir, "documents"), "text", "doc_id",
        w = 8, maskBits = 6),
      // CDC block stats: the cut rule is a per-position FNV predicate on
      // the 8 chars ENDING at the cut (replayed with sqlFnvRaw % 64 —
      // the kernel's & 63 on nonnegative low bits), the final cut is
      // forced at length(text), chunks rebuild via lag(), and each
      // chunk's full-content FNV feeds the corpus-wide multiplicity
      // count. Gram starts cap at len-8 because the kernel's hash rule
      // excludes a boundary at the text end (the forced cut covers it)
      () => s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
         |cuts AS (
         |  SELECT doc_id, CAST(p AS INT) + 7 AS cut
         |  FROM d, unnest(range(1, greatest(length(text) - 7, 1))) t(p)
         |  WHERE ${sqlFnvRaw("substr(text, CAST(p AS INT), 8)")} % 64 = 0
         |  UNION ALL
         |  SELECT doc_id, length(text) AS cut FROM d),
         |bounds AS (
         |  SELECT doc_id, cut AS e,
         |    coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0) + 1 AS s
         |  FROM cuts),
         |hashed AS (
         |  SELECT b.doc_id, b.e - b.s + 1 AS len,
         |    ${sqlFnvRaw("substr(d.text, b.s, b.e - b.s + 1)")} AS h
         |  FROM bounds b JOIN d ON b.doc_id = d.doc_id),
         |cnt AS (SELECT h, count(*) AS c FROM hashed GROUP BY h)
         |SELECT hashed.doc_id, count(*) AS n_blocks,
         |  round(CAST(sum(CASE WHEN cnt.c > 1 THEN len ELSE 0 END) AS DOUBLE)
         |        / CAST(sum(len) AS DOUBLE), 6) AS dup_frac
         |FROM hashed JOIN cnt ON hashed.h = cnt.h
         |GROUP BY hashed.doc_id""".stripMargin),

    // §2b-20: SimHash near-dup pairs over the augmented corpus
    QuerySpec("q_simhash_pairs", (s, dir) =>
      NearDup.simhashPairs(neardupCorpus(s, dir), "doc_id", "text",
        maxHamming = 3),
() => """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+$', '') FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM corpus),
        |th AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |      list_transform(range(1, length(tok)+1),
        |        i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))),
        |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                % CAST('18446744073709551616' AS HUGEINT)) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, range(0, 64) r(b) GROUP BY doc_id, b),
        |sim AS (
        |  SELECT doc_id,
        |         sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS u
        |  FROM votes GROUP BY doc_id),
        |sig AS (
        |  SELECT c.doc_id,
        |    CAST(coalesce(s.u, CAST(0 AS HUGEINT))
        |      - CASE WHEN coalesce(s.u, CAST(0 AS HUGEINT)) >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS simhash
        |  FROM corpus c LEFT JOIN sim s ON c.doc_id = s.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),

    // §2b-20b: near-dup CLUSTERING — connected components over the
    // simhash pair graph; every doc maps to its component's minimum id
    // (the deterministic keep-one-canonical policy). Hash-min label
    // propagation, diameter-bounded iterations.
    QuerySpec("q_dedup_clusters", (s, dir) => clusterLabels(s, dir),
      // The near-dup pair queries are EXACTLY replayable by an
      // independent engine: simhash pairs because 4x16-bit-block Hamming
      // LSH has 100% recall at maxHamming<=3 (pigeonhole), so the output
      // equals the exhaustive hamming<=3 pair set; minhash pairs because
      // the full pipeline (FNV shingle hashes -> splitmix64 MinHash
      // families -> raw-slice band buckets -> exact Jaccard on
      // candidates) is deterministic integer math, re-expressed below in
      // HUGEINT mod-2^64 arithmetic (split hi/lo multiply to stay inside
      // INT128).
      // CC over the simhash pair graph: the shared cluster-replay CTE
      // (corpus/sig/edges MATERIALIZED — see its doc) + the labels
      // projection. Retention-policy twins below reuse the same CTE.
      () => (sqlSimhashClustersCte + "\n" +
      "SELECT id AS doc_id, m AS canonical_id FROM labels")),

    // §2b: benchmark decontamination (the GPT-3/PaLM appendix policy,
    // Lee et al. 2022 §6): drop every training doc sharing ANY word
    // 5-shingle with the eval set. Shingle sets are the codegen
    // shingles64 kernel (8-byte FNV hashes) and contamination travels
    // as narrow (doc_id) / (hash) rows — at 100 TB the corpus text
    // never shuffles, only 8-byte keys do. The broadcast hint reflects
    // REAL usage, where eval benchmarks are KB-MB scale; the
    // self-derived test slice here (every 20th doc) stands in for one
    // and at a genuinely corpus-sized "eval set" the hint should be
    // dropped so the planner picks a shuffle join.
    QuerySpec("q_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val docSh = docs.select(col("doc_id"),
        explode(HashExpressions.shingles64(col("text"), 5)).as("sh"))
      val benchSh = bench.select(
        explode(HashExpressions.shingles64(col("text"), 5)).as("sh")).distinct()
      val contaminated = docSh.join(broadcast(benchSh), Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
      docs.join(contaminated, Seq("doc_id"), "left_anti")
    },
      // string shingles instead of the engine's 64-bit FNV shingle
      // hashes: identical intersection behavior (a cross-doc hash
      // collision is ~2^-64 per candidate pair, same argument as
      // q_ngram_jaccard); <5-token docs fall back to the whole token
      // span as their single shingle, matching the kernel contract
      () => decontaminateSql),

    // §2b-20g: fractional contamination scoring — the thresholdable
    // form of decontamination (report |doc shingles ∩ eval shingles| /
    // |doc shingles| instead of a binary drop), the measurement the
    // binary policy's threshold is tuned from. Same narrow shape as
    // q_decontaminate: only 8-byte shingle hashes move, then one
    // map-combinable per-doc aggregation.
    QuerySpec("q_contamination_frac", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val docSh = docs.select(col("doc_id"),
        explode(HashExpressions.shingles64(col("text"), 5)).as("sh"))
      val benchSh = bench.select(
          explode(HashExpressions.shingles64(col("text"), 5)).as("sh"))
        .distinct().withColumn("__hit", lit(1))
      docSh.join(broadcast(benchSh), Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(round(
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double"), 6).as("contamination_frac"))
    },
      // same string-shingle replay; reports the overlap fraction per doc
      // instead of the binary drop
      () => """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 5 THEN
        |      list_transform(generate_series(1, len(t)-4),
        |        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
        |    ELSE [array_to_string(t, ' ')] END AS shs
        |  FROM toks),
        |bsh AS (
        |  SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 20 = 0),
        |dsh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM sh),
        |j AS (
        |  SELECT d.doc_id, CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM dsh d LEFT JOIN bsh b ON d.s = b.s)
        |SELECT doc_id,
        |  round(CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS contamination_frac
        |FROM j GROUP BY doc_id""".stripMargin),

    // §2b-44: the SAME policy at eval-set sizes a broadcast can't hold
    // — Bloom prefilter in the corpus scan (no false negatives), exact
    // verify join over the fpp-thinned survivors; output identical to
    // q_decontaminate for any fpp, so it shares that oracle verbatim
    QuerySpec("q_decontaminate_bloom", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 20 === 0)
      Decontaminate.decontaminateBloom(docs, "doc_id", "text",
        bench, "text", shingleK = 5, fpp = 0.01)
    },
      // the Bloom-prefiltered path is exact by construction (no false
      // negatives + exact verify join), so it is graded against the
      // plain policy's oracle VERBATIM — any divergence is a defect
      () => decontaminateSql),

    // §2b-44b: SPAN-level decontamination — remove exactly the tokens
    // covered by an eval-matching 5-shingle instead of dropping the
    // whole doc (the surgical variant; substringDedup's covered-token
    // machinery pointed at an eval set). Corpus = the non-eval docs.
    QuerySpec("q_decontaminate_spans", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      Decontaminate.decontaminateSpans(corpus, "doc_id", "text",
        bench, "text", shingleK = 5)
    },
      // span-level variant: string-window replay of the covered-token
      // removal (the q_substring_dedup rebuild pattern pointed at the
      // eval set). Both sides window at exactly k=5 — no short-doc
      // fallback shingle — so docs with <5 tokens pass through unchanged.
      () => """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t
        |  FROM documents WHERE doc_id % 20 <> 0),
        |btoks AS (
        |  SELECT regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t
        |  FROM documents WHERE doc_id % 20 = 0),
        |bsh AS (
        |  SELECT DISTINCT concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS s
        |  FROM btoks, unnest(generate_series(1, len(t)-4)) AS u(i)
        |  WHERE len(t) >= 5),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS s
        |  FROM toks, unnest(generate_series(1, len(t)-4)) AS u(i)
        |  WHERE len(t) >= 5),
        |hits AS (SELECT w.doc_id, w.pos FROM wins w JOIN bsh b ON w.s = b.s),
        |covered AS (
        |  SELECT DISTINCT doc_id, g.tp
        |  FROM hits, unnest(generate_series(pos, pos + 4)) AS g(tp)),
        |tokpos AS (
        |  SELECT doc_id, i - 1 AS tp, t[i] AS tok
        |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
        |kept AS (
        |  SELECT k.doc_id, k.tp, k.tok FROM tokpos k
        |  LEFT JOIN covered c ON k.doc_id = c.doc_id AND k.tp = c.tp
        |  WHERE c.doc_id IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.text, '') AS text
        |FROM toks t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id""".stripMargin),

    // §2b-21c: containment (inclusion coefficient |A∩B| / |side|) on
    // the same constructed near-dup pair as q_ngram_jaccard — the
    // asymmetric signal that catches SUBSET duplication (quote,
    // excerpt, truncation) that symmetric Jaccard under-scores: the
    // planted pair here is a strict truncation, so containment_b_in_a
    // is 1.0 while jaccard is < 1. Same narrow shape: only distinct
    // shingle-hash sets are compared, text never moves.
    QuerySpec("q_containment", (s, dir) => {
      val base = t(s, dir, "documents")
        .filter(size(split(trim(col("text")), "\\s+")) >= 4)
      val a = base.select(col("doc_id"),
        HashExpressions.shingles64(col("text"), 3).as("sh_a"))
      val b = base.select(col("doc_id"),
        HashExpressions.shingles64(
          regexp_replace(trim(col("text")), "\\s+\\S+$", ""), 3).as("sh_b"))
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      a.join(b, "doc_id")
        .select(col("doc_id"),
          round(inter / size(col("sh_b")).cast("double"), 6)
            .as("containment_b_in_a"),
          round(inter / size(col("sh_a")).cast("double"), 6)
            .as("containment_a_in_b"),
          (size(array_intersect(col("sh_a"), col("sh_b"))) ===
            size(col("sh_b"))).as("is_subset"))
    },
      // containment on the q_ngram_jaccard pair construction (same
      // distinct string-shingle sets; hash sets on the engine side are
      // count-identical)
      () => """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 4),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks)-2),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh_a,
        |    list_distinct(list_transform(generate_series(1, len(toks)-3),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh_b
        |  FROM base)
        |SELECT doc_id,
        |  round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
        |        CAST(len(sh_b) AS DOUBLE), 6) AS containment_b_in_a,
        |  round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
        |        CAST(len(sh_a) AS DOUBLE), 6) AS containment_a_in_b,
        |  len(list_intersect(sh_a, sh_b)) = len(sh_b) AS is_subset
        |FROM sh""".stripMargin),

    // §2b: the APPLIED near-dup policy — the composition users actually
    // run: candidate pairs → connected components → keep each cluster's
    // canonical (minimum-id) doc. One semi-join over the corpus; the
    // labels frame is (id, canonical) only, so at 100 TB the join side
    // is narrow and the text column never moves until the final join.
    QuerySpec("q_neardup_prune", (s, dir) => {
      val corpus = neardupCorpus(s, dir)
      val canon = clusterLabels(s, dir)
        .filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"))
      corpus.join(canon, Seq("doc_id"), "left_semi")
    },
      // same reachability fixpoint, then the applied policy: keep only
      // docs that are their own component minimum
      () => (sqlSimhashClustersCte + "\n" +
      """SELECT c.doc_id, c.text
        |FROM corpus c JOIN labels l ON c.doc_id = l.id AND l.id = l.m""".stripMargin)),

    // §2b-20f: keep-best-exemplar near-dup prune — the SAME cluster
    // graph as q_neardup_prune, retention by quality argmax instead of
    // minimum id (curation policy: keep each duplicate family's best
    // document; ties resolve to the lowest id)
    QuerySpec("q_cluster_best", (s, dir) =>
      Dedup.keepBestByLabels(neardupCorpus(s, dir), clusterLabels(s, dir),
        "doc_id", TextFunctions.qualityScore(col("text"))),
      // same cluster replay; retention flips from min-id to quality
      // argmax (the qualityScore replay), ties by id
      () => (sqlSimhashClustersCte + ",\n" +
      ("""qual AS (SELECT doc_id, __QUALITY__ AS q FROM corpus),
         |ranked AS (
         |  SELECT l.id,
         |    row_number() OVER (PARTITION BY l.m ORDER BY q.q DESC, l.id) AS rn
         |  FROM labels l JOIN qual q ON l.id = q.doc_id)
         |SELECT c.doc_id, c.text
         |FROM corpus c JOIN ranked r ON c.doc_id = r.id AND r.rn = 1""").stripMargin
        .replace("__QUALITY__", sqlQualityExprText))),

    // §2b-21b: edit-distance verification of candidate pairs — the
    // precision pass after a recall-oriented generator. Jaccard is
    // order-insensitive; normalized Levenshtein prices reorderings and
    // rewrites. Candidates here: consecutive doc ids (a deterministic
    // pair set spanning the corpus — same-generator docs share
    // vocabulary, so similarities spread across the threshold)
    QuerySpec("q_edit_verify", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1).as("id_b"))
      NearDup.editVerify(pairs, docs.filter(length(col("text")) > 0),
        minSim = 0.25)
    },
      // normalized Levenshtein over consecutive-id pairs: single-op
      // IEEE arithmetic (int/int division, one subtraction) so the
      // unrounded threshold comparison replays bitwise; both engines'
      // levenshtein is the standard unit-cost DP on characters
      () => """WITH pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE length(a.text) > 0 AND length(b.text) > 0),
        |sim AS (
        |  SELECT id_a, id_b,
        |    1.0 - CAST(levenshtein(ta, tb) AS DOUBLE) /
        |      CAST(greatest(length(ta), length(tb)) AS DOUBLE) AS edit_sim
        |  FROM pairs)
        |SELECT id_a, id_b, round(edit_sim, 6) AS edit_sim
        |FROM sim WHERE edit_sim >= 0.25""".stripMargin),

    // §2b-21: exact n-gram Jaccard over planted (original, truncated)
    // pairs — the verification metric of the near-dup family as a
    // standalone oracle-checked operator. Shingle SETS are the codegen
    // shingles64 kernel (distinct 64-bit FNV hashes): identical
    // intersect/union counts to the string-shingle sets the DuckDB
    // oracle computes (a cross-hash collision inside one doc pair's
    // union is ~2^-64·|union|²), and ~15× faster than the
    // transform/concat_ws higher-order-function formulation, which is
    // CodegenFallback and evaluates interpreted per row
    QuerySpec("q_ngram_jaccard", (s, dir) => {
      val base = t(s, dir, "documents")
        .filter(size(split(trim(col("text")), "\\s+")) >= 4)
      val a = base.select(col("doc_id"),
        HashExpressions.shingles64(col("text"), 3).as("sh_a"))
      val b = base.select(col("doc_id"),
        HashExpressions.shingles64(
          regexp_replace(trim(col("text")), "\\s+\\S+$", ""), 3).as("sh_b"))
      a.join(b, "doc_id")
        .select(col("doc_id"),
          round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6)
            .as("jaccard"))
    },
      () => """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 4),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(toks)-2),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh_a,
        |    list_distinct(list_transform(generate_series(1, len(toks)-3),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh_b
        |  FROM base)
        |SELECT doc_id,
        |  round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
        |        CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE), 6) AS jaccard
        |FROM sh""".stripMargin)
  )

  private val sqlSimhashClustersCte: String =
    """WITH RECURSIVE corpus AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, regexp_replace(text, '\s+\S+$', '') FROM documents),
      |toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      |  FROM corpus),
      |th AS (
      |  SELECT doc_id, list_reduce(
      |    list_prepend(CAST('14695981039346656037' AS HUGEINT),
      |      list_transform(range(1, length(tok)+1),
      |        i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))),
      |    (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
      |                % CAST('18446744073709551616' AS HUGEINT)) AS h
      |  FROM toks),
      |votes AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, range(0, 64) r(b) GROUP BY doc_id, b),
      |sim AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS u
      |  FROM votes GROUP BY doc_id),
      |sig AS MATERIALIZED (
      |  SELECT c.doc_id,
      |    CAST(coalesce(s.u, CAST(0 AS HUGEINT))
      |      - CASE WHEN coalesce(s.u, CAST(0 AS HUGEINT)) >= CAST('9223372036854775808' AS HUGEINT)
      |        THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS simhash
      |  FROM corpus c LEFT JOIN sim s ON c.doc_id = s.doc_id),
      |prs AS MATERIALIZED (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      |edges AS MATERIALIZED (
      |  SELECT id_a AS x, id_b AS y FROM prs
      |  UNION ALL SELECT id_b, id_a FROM prs),
      |cc(id, comp) AS (
      |  SELECT doc_id, doc_id FROM corpus
      |  UNION
      |  SELECT e.y, cc.comp FROM cc JOIN edges e ON cc.id = e.x)
      |, labels AS (SELECT id, min(comp) AS m FROM cc GROUP BY id)""".stripMargin

  /** q_decontaminate's oracle; q_decontaminate_bloom's output is the
    * same, so its oracle is this one too. */
  private val decontaminateSql: String =
    """WITH toks AS (
      |  -- token class replays the engine kernel EXACTLY: Java \s =
      |  -- [ \t\n\x0B\f\r] (RE2's \S excludes \x0B, so spell it out)
      |  SELECT doc_id, regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 5 THEN
      |      list_transform(generate_series(1, len(t)-4),
      |        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
      |    ELSE [array_to_string(t, ' ')] END AS shs
      |  FROM toks),
      |bsh AS (
      |  SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 20 = 0),
      |dsh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM sh),
      |bad AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN bsh ON dsh.s = bsh.s)
      |SELECT d.doc_id, d.text FROM documents d
      |LEFT JOIN bad b ON d.doc_id = b.doc_id WHERE b.doc_id IS NULL""".stripMargin
}
