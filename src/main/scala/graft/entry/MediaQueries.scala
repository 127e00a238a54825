package graft
package entry

import org.apache.spark.sql.functions._
import graft.operators._
import Common._

/** Multimodal records: media metadata, frame sampling, video headers
  * and perceptual image hashes. */
private[graft] object MediaQueries {
  val specs: Seq[QuerySpec] = Seq(
    // §2b-28: multimodal binary plumbing (stubbed decode)
    QuerySpec("q_multimodal_meta", (s, dir) =>
      Multimodal.extractFeatures(s,
        Multimodal.mediaTable(t(s, dir, "documents"))).toDF(),
      // FNV-1a-64 re-expressed in DuckDB: HUGEINT modular arithmetic over
      // the text's code points (== bytes: the synthetic corpus is ASCII;
      // `q_profile`-style preflight would catch a non-ASCII drift). Both
      // custom-Expression queries below (multimodal checksum, simhash +
      // winnowing fingerprint) get EXACT independent-engine verification
      // this way instead of a rows-only check.
      () => """WITH m AS (
        |  SELECT doc_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |         text,
        |         CAST(length(text) AS INT) AS n_bytes,
        |         CAST(doc_id % 1920 + 16 AS INT) AS declared_w,
        |         CAST(doc_id % 1080 + 16 AS INT) AS declared_h
        |  FROM documents),
        |f AS (
        |  SELECT *, least(CAST(1 AS DOUBLE),
        |                  CAST(64 AS DOUBLE) / greatest(declared_w, declared_h)) AS scale,
        |         list_reduce(
        |           list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |             list_transform(range(1, length(text)+1),
        |               i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))),
        |           (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                       % CAST('18446744073709551616' AS HUGEINT)) AS u
        |  FROM m)
        |SELECT doc_id, media_type, n_bytes,
        |  CAST(u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |    THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS checksum,
        |  greatest(1, CAST(trunc(declared_w * scale) AS INT)) AS thumb_w,
        |  greatest(1, CAST(trunc(declared_h * scale) AS INT)) AS thumb_h,
        |  greatest(1, n_bytes // 4096) AS frame_samples
        |FROM f""".stripMargin),

    // §2b-28b: video-style frame sampling — up to 4 evenly-spaced
    // 128-byte slices per payload; the slice OFFSET arithmetic is the
    // real contract (a codec seeks to the same offsets), and it is
    // integer math the oracle replays exactly
    QuerySpec("q_frame_sample", (s, dir) =>
      Multimodal.sampleFrames(s,
          Multimodal.mediaTable(t(s, dir, "documents")),
          maxFrames = 4, frameSize = 128).toDF()
        .select(col("doc_id"), col("media_type"), col("frame_idx"),
          col("frame_offset"),
          length(col("frame_bytes")).as("frame_len")),
      () => """WITH m AS (
        |  SELECT doc_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |         length(text) AS len
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, media_type, len,
        |         greatest(1, least(4, len // 128)) AS n FROM m),
        |fr AS (
        |  SELECT doc_id, media_type, len, n,
        |         unnest(range(0, n)) AS fi FROM f),
        |o AS (
        |  SELECT doc_id, media_type, len, fi,
        |         CASE WHEN n = 1 THEN 0
        |              ELSE greatest(len - 128, 0) * fi // (n - 1) END AS off
        |  FROM fr)
        |SELECT doc_id, media_type, CAST(fi AS INT) AS frame_idx,
        |       CAST(off AS INT) AS frame_offset,
        |       CAST(least(len, off + 128) - off AS INT) AS frame_len
        |FROM o""".stripMargin),

    // §2b-28c: REAL MP4/ISO-BMFF header parsing over in-process video
    // containers — every fixture field is doc_id arithmetic
    // (Multimodal.buildMp4), so the oracle replays the PARSED metadata
    // without touching bytes while the Spark side walks real boxes
    // (and must skip the garbage mdat by its size field)
    QuerySpec("q_video_meta", (s, dir) =>
      Multimodal.extractVideoFeatures(s,
          Multimodal.mp4Table(s, t(s, dir, "documents"))).toDF()
        .select(col("doc_id"), col("n_bytes"), col("brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("width"), col("height")),
      // MP4 header parse replay: the fixture builder (Multimodal.buildMp4)
      // derives every box field from doc_id, so the expected PARSE output
      // is closed-form — n_bytes sums the box sizes (ftyp 16 + mdat
      // 24+id%256 + moov 8 + mvhd 108/120 + 100/track), duration_ms is
      // the mvhd integer division, dims/tracks are the moduli
      () => """SELECT doc_id,
        |  CAST(48 + doc_id % 256
        |       + (CASE WHEN doc_id % 5 = 0 THEN 120 ELSE 108 END)
        |       + 100 * (doc_id % 2 + 1) AS INT) AS n_bytes,
        |  'isom' AS brand,
        |  CAST(600 AS INT) AS timescale,
        |  CAST(((doc_id % 9000 + 600) * 1000) // 600 AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 2 + 1 AS INT) AS n_tracks,
        |  CAST(doc_id % 1920 + 16 AS INT) AS width,
        |  CAST(doc_id % 1080 + 16 AS INT) AS height
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin),

    // §2b-28d: perceptual image hash (dHash) over the media table —
    // the stub token-grid path the oracle replays byte-for-byte; the
    // REAL decode path (Multimodal.imageDhashes: guarded decode →
    // 9×8 nearest-neighbor resample → integer luma → adjacent-cell
    // compare) is pixel-pinned in MultimodalSpec
    QuerySpec("q_image_dhash", (s, dir) =>
      Multimodal.stubImageDhashes(s,
        Multimodal.mediaTable(t(s, dir, "documents"))).toDF(),
      // Stub dHash replay: 9×8 grid where cell i carries the low byte of
      // fnv64(token[i mod n]), bit b set when the right neighbor is
      // strictly greater (grid lists are 1-indexed: left cell of bit b
      // sits at (b//8)*9 + b%8 + 1). The REAL decode path is pinned
      // pixel-exact in MultimodalSpec — this verifies the grid/compare
      // pipeline and the signed-conversion arithmetic end to end.
      () => """WITH m AS (
        |  SELECT doc_id,
        |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
        |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |grid AS (
        |  SELECT doc_id, media_type, i,
        |    CASE WHEN len(toks) = 0 THEN CAST(0 AS HUGEINT) ELSE
        |      list_reduce(
        |        list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |          list_transform(range(1, length(toks[(i % len(toks)) + 1]) + 1),
        |            j -> CAST(unicode(substr(toks[(i % len(toks)) + 1], j, 1)) AS HUGEINT))),
        |        (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
        |                    % CAST('18446744073709551616' AS HUGEINT)) % 256 END AS gray
        |  FROM m, range(0, 72) r(i)),
        |g AS (
        |  SELECT doc_id, media_type, list(gray ORDER BY i) AS gl
        |  FROM grid GROUP BY doc_id, media_type),
        |u AS (
        |  SELECT doc_id, media_type,
        |    sum(CASE WHEN gl[(b // 8) * 9 + (b % 8) + 2] > gl[(b // 8) * 9 + (b % 8) + 1]
        |      THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS uh
        |  FROM g, range(0, 64) r(b) GROUP BY doc_id, media_type)
        |SELECT doc_id, media_type,
        |  CAST(uh - CASE WHEN uh >= CAST('9223372036854775808' AS HUGEINT)
        |    THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS dhash
        |FROM u""".stripMargin),

    // §2b-28e: image near-dup pairs — dHash signatures through the
    // SAME 4×16-bit-block Hamming LSH as text SimHash (exact recall
    // at hamming <= 3, never all-pairs). The planted mutant
    // substitutes the FIRST token (token-count preserving, so the
    // stub grid differs in few cells — the image analog of a small
    // patch edit; the drop-last-token mutation the text family plants
    // would shift every grid cell and land nowhere near)
    QuerySpec("q_image_neardup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val mutated = docs.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "imgvariant").as("text"))
      val media = docs.unionByName(mutated).select(col("doc_id"),
        lit("image").as("media_type"), col("text").cast("binary").as("payload"),
        lit(64).as("declared_w"), lit(64).as("declared_h"))
      NearDup.hammingPairs(Multimodal.stubImageDhashes(s, media).toDF(),
        "doc_id", "dhash", maxHamming = 3)
    },
      // Exhaustive-pair oracle (the 4×16-bit-block LSH is exact-recall
      // at hamming <= 3, so the bucket join must equal the all-pairs
      // filter — same contract as q_simhash_pairs).
      () => (s"WITH $sqlImageDhashSigCtes\n" +
        """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
          |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin)),

    // §2b-28f: the APPLIED image near-dup policy — the q_neardup_prune
    // composition for images: dHash signatures → Hamming-LSH candidate
    // pairs (exact recall at the 4-block/≤3-bit setting) → connected
    // components → keep each cluster's canonical (minimum-id) image.
    // The labels frame is (id, canonical) only — payload bytes never
    // move until the final semi-join, the 100 TB shape.
    QuerySpec("q_image_prune", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val mutated = docs.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "imgvariant").as("text"))
      val media = docs.unionByName(mutated).select(col("doc_id"),
        lit("image").as("media_type"), col("text").cast("binary").as("payload"),
        lit(64).as("declared_w"), lit(64).as("declared_h"))
      val sigs = Multimodal.stubImageDhashes(s, media).toDF()
      val pairs = NearDup.hammingPairs(sigs, "doc_id", "dhash", maxHamming = 3)
      val labels = Dedup.connectedComponents(sigs.select(col("doc_id")),
        pairs, "doc_id", "id_a", "id_b")
      val canon = labels.filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"))
      media.join(canon, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          octet_length(col("payload")).cast("bigint").as("n_bytes"))
    },
      // the same signature chain, then the reachability fixpoint and the
      // min-id retention — the q_neardup_prune policy replay for images
      () => (s"WITH RECURSIVE $sqlImageDhashSigCtes,\n" +
        """prs AS MATERIALIZED (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
          |edges AS MATERIALIZED (
          |  SELECT id_a AS x, id_b AS y FROM prs
          |  UNION ALL SELECT id_b, id_a FROM prs),
          |cc(id, comp) AS (
          |  SELECT doc_id, doc_id FROM corpus
          |  UNION
          |  SELECT e.y, cc.comp FROM cc JOIN edges e ON cc.id = e.x),
          |labels AS (SELECT id, min(comp) AS m FROM cc GROUP BY id)
          |SELECT c.doc_id, CAST(strlen(c.text) AS BIGINT) AS n_bytes
          |FROM corpus c JOIN labels l ON c.doc_id = l.id AND l.id = l.m""".stripMargin))
  )

  /** Shared simhash-cluster replay CTEs (`corpus` … `labels`): the
    * augmented near-dup corpus, per-doc simhash (token FNV votes),
    * hamming<=3 pair graph, and a recursive-CTE reachability fixpoint
    * labeling every doc with its component minimum. Continued by the
    * q_dedup_clusters / q_neardup_prune (min-id retention) /
    * q_cluster_best (quality argmax retention) oracles.
    *
    * corpus/sig/prs/edges are AS MATERIALIZED: DuckDB inlines plain
    * CTEs, so the recursive fixpoint used to RE-COMPUTE the whole
    * simhash pipeline (the ~100 s part) on every iteration — the
    * ">900 s killed" BASELINE rows. Materialized, the fixpoint
    * iterates over a ~10k-row edge table and the whole oracle runs
    * in ~50 s single-threaded at sf0.1 (measured, duckdb 1.0.0). */
  /** dHash-signature CTE chain shared by q_image_neardup and
    * q_image_prune: the first-word-mutated planted-pair corpus, the
    * stubDhash64 replay (72-cell FNV "gray" grid → 8×9 row-neighbor
    * comparisons → signed 64-bit fold), ending in `sig(doc_id,
    * dhash)` over `corpus(doc_id, text)`. */
  private val sqlImageDhashSigCtes: String =
    """corpus AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, regexp_replace(text, '^\S+', 'imgvariant') FROM documents),
      |tl AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM corpus),
      |grid AS (
      |  SELECT doc_id, i,
      |    CASE WHEN len(toks) = 0 THEN CAST(0 AS HUGEINT) ELSE
      |      list_reduce(
      |        list_prepend(CAST('14695981039346656037' AS HUGEINT),
      |          list_transform(range(1, length(toks[(i % len(toks)) + 1]) + 1),
      |            j -> CAST(unicode(substr(toks[(i % len(toks)) + 1], j, 1)) AS HUGEINT))),
      |        (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT))
      |                    % CAST('18446744073709551616' AS HUGEINT)) % 256 END AS gray
      |  FROM tl, range(0, 72) r(i)),
      |g AS (SELECT doc_id, list(gray ORDER BY i) AS gl FROM grid GROUP BY doc_id),
      |u AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN gl[(b // 8) * 9 + (b % 8) + 2] > gl[(b // 8) * 9 + (b % 8) + 1]
      |      THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS uh
      |  FROM g, range(0, 64) r(b) GROUP BY doc_id),
      |sig AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(uh - CASE WHEN uh >= CAST('9223372036854775808' AS HUGEINT)
      |      THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS dhash
      |  FROM u)""".stripMargin
}
