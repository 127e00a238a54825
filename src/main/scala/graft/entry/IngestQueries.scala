package graft
package entry

import org.apache.spark.sql.functions._
import graft.sources.DumpSource
import Common._

/** Source round-trips: length-prefixed and BSON dumps, WARC (plain,
  * gzip, HTTP split), WET export, WebDataset tar and commits ingest. */
private[graft] object IngestQueries {
  val specs: Seq[QuerySpec] = Seq(
    // §2a-1,6,17: length-prefixed dump source via DataSource V2, with
    // date-ordered file visitation; round-trips customer rows through
    // framed JSON docs (ght2dm.go:202-236, 985-1058)
    QuerySpec("q_dump_source", (s, dir) => {
      val out = dumpDir(dir)
      val src = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      // stage: write 4 date-named dump shards, one per partition
      src.repartition(4, col("c_custkey")).toJSON.foreachPartition {
        (it: Iterator[String]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          DumpSource.writeDump(f"$out/2014-01-${pid + 1}%02d.bson",
            it.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      val paths = DumpSource.listDateOrdered(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, c_mktsegment STRING")
      s.read.format("graft.sources.DumpDataSource").load(paths: _*)
        .select(from_json(col("doc").cast("string"), schema).as("j"))
        .select(col("j.c_custkey").as("c_custkey"), col("j.c_name").as("c_name"),
          col("j.c_mktsegment").as("c_mktsegment"))
    },
      () => "SELECT c_custkey, c_name, c_mktsegment FROM customer"),

    // §2a-1 (BSON variant): the same round-trip through REAL framed
    // BSON documents (mongodump shape) decoded by the FromBson
    // expression — the reference's mgo/bson unmarshal path
    // (ght2dm.go:277-315), not a JSON stand-in
    QuerySpec("q_dump_source_bson", (s, dir) => {
      val out = dumpDir(dir) + "_bson"
      val src = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      src.repartition(4, col("c_custkey")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          DumpSource.writeDump(f"$out/2014-01-${pid + 1}%02d.bson",
            it.map(r => graft.functions.Bson.docBody(Seq(
              "c_custkey" -> r.getLong(0), "c_name" -> r.getString(1),
              "c_mktsegment" -> r.getString(2)))))
      }
      val paths = DumpSource.listDateOrdered(out)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, c_mktsegment STRING")
      s.read.format("graft.sources.DumpDataSource").load(paths: _*)
        .select(graft.plans.BsonFunctions.fromBson(col("doc"), schema).as("j"))
        .select(col("j.c_custkey").as("c_custkey"), col("j.c_name").as("c_name"),
          col("j.c_mktsegment").as("c_mktsegment"))
    },
      () => "SELECT c_custkey, c_name, c_mktsegment FROM customer"),

    // §2b (web-crawl ingestion): WARC/ISO-28500 round-trip — documents
    // written as real WARC/1.0 response records, read back through the
    // self-resyncing DataSource V2 (index-free sub-file splits: the
    // sub-shard splitBytes forces several byte-range tasks per shard
    // and the magic-scan resync must find every record exactly once;
    // 128 KiB — not the 4 KiB this query used to bench, which cut
    // ~600 KiB sf0.1 shards into ~150 splits each and paid hundreds of
    // task launches per run for splits no deployment would configure.
    // Guide §6 split sizing; the pathological tiny-split cases stay
    // spec-hammered in WarcSourceSpec)
    QuerySpec("q_warc_ingest", (s, dir) => {
      val out = dumpDir(dir) + "_warc"
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      src.repartition(4, col("doc_id")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.WarcSource.writeWarc(f"$out/shard-$pid%02d.warc",
            it.map(r => (s"http://corpus.local/doc/${r.getLong(0)}",
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      }
      val paths = (0 until 4).map(p => f"$out/shard-$p%02d.warc")
      s.read.format("graft.sources.WarcDataSource")
        .option("splitBytes", 128L << 10)
        .load(paths: _*)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("content").cast("string").as("text"),
          col("content_length"))
    },
      // the WARC round-trip restores the projection; content_length is
      // the payload's UTF-8 BYTE length (DuckDB strlen counts bytes)
      () => """SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS content_length
        |FROM documents""".stripMargin),

    // §2b (web-crawl ingestion, compressed): the Common Crawl shipping
    // layout — ONE GZIP MEMBER PER RECORD (.warc.gz), written and read
    // back through the member-magic resync path (128 KiB compressed
    // splits force several byte-range tasks per shard; each candidate
    // is validated by inflating the member head and checking the WARC
    // magic, and every member's CRC/ISIZE is verified. Guide §6 split
    // sizing — was 8 KiB, ~45 splits per ~370 KiB sf0.1 shard; the
    // tiny-split path stays spec-hammered)
    QuerySpec("q_warc_gz", (s, dir) => {
      val out = dumpDir(dir) + "_warcgz"
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      src.repartition(4, col("doc_id")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.WarcSource.writeWarcGz(f"$out/shard-$pid%02d.warc.gz",
            it.map(r => (s"http://corpus.local/doc/${r.getLong(0)}",
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      }
      val paths = (0 until 4).map(p => f"$out/shard-$p%02d.warc.gz")
      s.read.format("graft.sources.WarcDataSource")
        .option("splitBytes", 128L << 10)
        .load(paths: _*)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("content").cast("string").as("text"),
          col("content_length"))
    },
      // same projection restored through the member-per-record gzip
      // round-trip (the Spark side additionally pays compress + inflate
      // + CRC verification per record)
      () => """SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS content_length
        |FROM documents""".stripMargin),

    // §2b (WARC→WET): HTTP response split INSIDE WARC response
    // records — a crawl response payload is status line + headers +
    // body, and the WET step needs them apart. One codegen projection
    // (header scan on the latin-1 byte view, body sliced from RAW
    // bytes), charset-aware text decode with the WHATWG meta-charset
    // prescan, extractHtmlText gated on the HTML media type. Nine
    // planted response shapes: utf-8 html, latin-1 text (non-ASCII
    // round-trip), a duplicate-header 404 with no charset, a
    // content-type-less BINARY body that must never reach a decoder,
    // two SNIFFED-charset pages (meta charset latin-1, http-equiv
    // cp1252), a header-declared Shift_JIS page and a meta-sniffed
    // gb2312 page (the JVM-charset kernel under the WHATWG remaps),
    // and an UNKNOWN-label page that must fall back to utf-8
    QuerySpec("q_warc_http", (s, dir) => {
      val out = dumpDir(dir) + "_warchttp"
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      src.repartition(4, col("doc_id")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.WarcSource.writeWarc(f"$out/shard-$pid%02d.warc",
            it.map(r => (s"http://corpus.local/doc/${r.getLong(0)}",
              syntheticHttpPayload(r.getLong(0), r.getString(1)))))
      }
      val paths = (0 until 4).map(p => f"$out/shard-$p%02d.warc")
      val warc = s.read.format("graft.sources.WarcDataSource")
        .option("splitBytes", 128L << 10)
        .load(paths: _*)
      operators.WebClean.httpResponses(warc)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("status_code"), col("http_version"), col("content_type"),
          col("charset"),
          size(col("headers")).as("n_headers"),
          length(col("body")).cast("bigint").as("body_len"),
          col("body_text"), col("wet_text"))
    },
      // the HTTP split inside the WARC round-trip: expected fields are a
      // pure function of doc_id % 9 (the syntheticHttpPayload shape);
      // body_len counts BYTES (strlen) for the utf-8 bodies and CHARS
      // (length) for the latin-1 body — latin-1 is one byte per char;
      // the WET column replays the q_html_extract chain on the r=0 page
      // residues 4/5 pin the WHATWG meta-charset PRESCAN: no header
      // charset, the in-body declaration decides the decode; their
      // body_text/wet_text expectations are hand-written literals (an
      // independent expectation, not a chain replay), and body_len
      // prices the single-byte latin-1/cp1252 encodings against the
      // multi-byte UTF-8 strlen. Residues 6/7 pin the JVM-charset
      // kernel: a header-declared shift_jis page and a meta-SNIFFED
      // gb2312 page whose CJK bodies are hand-written utf-8 literals;
      // their body_len recovers the 2-byte-per-CJK-char encoded size
      // from the utf-8 literal (each CJK char is 3 utf-8 bytes but 1
      // char, so encoded = strlen - (strlen-length)/2). Residue 8 pins
      // the fallback: an unknown x-bogus label decodes as utf-8
      () => """WITH p AS (
        |  SELECT doc_id, doc_id % 9 AS r,
        |    '<html><body><p>' || text || '</p></body></html>' AS html,
        |    'café résumé doc ' || doc_id AS lat,
        |    'not found: ' || doc_id AS nf,
        |    '<html><head><meta charset="iso-8859-1"></head><body><p>café doc '
        |      || doc_id || '</p></body></html>' AS sniffed_lat,
        |    '<html><head><meta http-equiv="Content-Type" content="text/html; charset=windows-1252"></head><body><p>“quoted” doc '
        |      || doc_id || '</p></body></html>' AS sniffed_cp,
        |    '<html><body><p>こんにちは doc ' || doc_id
        |      || ' 日本語</p></body></html>' AS sj,
        |    '<html><head><meta charset="gb2312"></head><body><p>中文 doc '
        |      || doc_id || ' 测试</p></body></html>' AS gb,
        |    'fallback ✓ doc ' || doc_id AS fb
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN r = 2 THEN 404 ELSE 200 END AS INT) AS status_code,
        |  '1.1' AS http_version,
        |  CASE r WHEN 0 THEN 'text/html' WHEN 1 THEN 'text/plain'
        |         WHEN 2 THEN 'text/plain' WHEN 4 THEN 'text/html'
        |         WHEN 5 THEN 'text/html' WHEN 6 THEN 'text/html'
        |         WHEN 7 THEN 'text/html' WHEN 8 THEN 'text/plain'
        |  END AS content_type,
        |  CASE r WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
        |         WHEN 6 THEN 'shift_jis' WHEN 8 THEN 'x-bogus'
        |  END AS charset,
        |  CAST(CASE r WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 1 END AS INT) AS n_headers,
        |  CAST(CASE r WHEN 0 THEN strlen(html) WHEN 1 THEN length(lat)
        |              WHEN 2 THEN strlen(nf)
        |              WHEN 4 THEN strlen(sniffed_lat) - 1
        |              WHEN 5 THEN strlen(sniffed_cp) - 4
        |              WHEN 6 THEN strlen(sj) - (strlen(sj) - length(sj)) // 2
        |              WHEN 7 THEN strlen(gb) - (strlen(gb) - length(gb)) // 2
        |              WHEN 8 THEN strlen(fb)
        |              ELSE 8 END AS BIGINT) AS body_len,
        |  CASE r WHEN 0 THEN html WHEN 1 THEN lat WHEN 2 THEN nf
        |         WHEN 4 THEN sniffed_lat WHEN 5 THEN sniffed_cp
        |         WHEN 6 THEN sj WHEN 7 THEN gb WHEN 8 THEN fb
        |  END AS body_text,
        |  CASE WHEN r = 0 THEN
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |          '(?is)<script[^>]*>.*?</script>', '', 'g'),
        |          '(?is)<style[^>]*>.*?</style>', '', 'g'),
        |          '(?s)<!--.*?-->', '', 'g'),
        |          '(?s)<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '[ \t\n\x0b\f\r]+', ' ', 'g'))
        |  WHEN r = 4 THEN 'café doc ' || doc_id
        |  WHEN r = 5 THEN '“quoted” doc ' || doc_id
        |  WHEN r = 6 THEN 'こんにちは doc ' || doc_id || ' 日本語'
        |  WHEN r = 7 THEN '中文 doc ' || doc_id || ' 测试'
        |  END AS wet_text
        |FROM p""".stripMargin),

    // §2b-30h: WET export — the WARC→WET OUTPUT side: the extracted
    // text corpus written as `conversion` records (WARC-Type
    // conversion, Content-Type text/plain, WARC-Refers-To
    // cross-referencing the response record's id) and split-read back
    // by the same WARC reader — WET files ARE WARC files; the
    // physical write+read round-trip caveat family
    QuerySpec("q_wet_export", (s, dir) => {
      val out = dumpDir(dir) + "_wet"
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      src.repartition(4, col("doc_id")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.WarcSource.writeWet(f"$out/wet-$pid%02d.warc",
            it.map(r => (s"http://corpus.local/doc/${r.getLong(0)}",
              r.getString(1))))
      }
      val paths = (0 until 4).map(p => f"$out/wet-$p%02d.warc")
      s.read.format("graft.sources.WarcDataSource")
        .option("splitBytes", 128L << 10)
        .load(paths: _*)
        .where(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("warc_type"),
          col("content").cast("string").as("text"),
          col("content_length"))
    },
      // the WET round-trip restores the projection with the conversion
      // type and the utf-8 byte length (the q_warc_ingest caveat shape)
      () => """SELECT doc_id, 'conversion' AS warc_type, text,
        |  CAST(strlen(text) AS BIGINT) AS content_length
        |FROM documents""".stripMargin),

    // §2b (multimodal-corpus ingestion): WebDataset-layout tar
    // round-trip — customer rows written as grouped sample files
    // (<key>.txt + <key>.cls) into real ustar archives, read back
    // through the block-aligned checksum-resync DataSource V2 (1 MiB
    // splitBytes still forces several byte-range resyncs per ~7.6 MiB
    // sf0.1 shard — ~32 across the read, more at larger sf;
    // TarSourceSpec hammers the pathological tiny-split case. Guide §6
    // split sizing: the previous 64 KiB cut each shard into ~120
    // splits, ~480 task launches + 1 MiB meta-lookback reads per run
    // for a geometry no deployment would configure — measured 54 CPU
    // seconds on a 4.4 s wall), regrouped into samples by the
    // WebDataset key rule, and projected back to the source columns
    QuerySpec("q_tar_ingest", (s, dir) => {
      val out = dumpDir(dir) + "_tar"
      val src = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      src.repartition(4, col("c_custkey")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          graft.sources.TarSource.writeTar(f"$out/shard-$pid%02d.tar",
            it.flatMap(r => Seq(
              (s"${r.getLong(0)}.txt",
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)),
              (s"${r.getLong(0)}.cls",
                r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
      }
      val paths = (0 until 4).map(p => f"$out/shard-$p%02d.tar")
      val tar = s.read.format("graft.sources.TarDataSource")
        .option("splitBytes", 1L << 20)
        .load(paths: _*)
      graft.sources.TarSource.tarSamples(tar)
        .select(col("sample_key").cast("bigint").as("c_custkey"),
          element_at(col("members"), "txt").cast("string").as("c_name"),
          element_at(col("members"), "cls").cast("string").as("c_mktsegment"))
    },
      // the tar round-trip restores the projection: two sample files per
      // customer regrouped by the WebDataset key rule — the oracle is
      // the plain source projection (the q_dump_source caveat shape: the
      // Spark side does the real ustar write + split-resync read)
      () => "SELECT c_custkey, c_name, c_mktsegment FROM customer"),

    // §2a-1/§6 (entity breadth): commits ingestion end to end — REAL
    // framed BSON commit documents (nested author/commit structs + the
    // parents ARRAY) through FromBson + Ingest.importCommits. Every
    // sha ships twice with different author dates (re-shipped dump
    // semantics); first-wins keeps the earlier copy, and the oracle
    // replays the whole projection from the orders rows the fixture
    // was built from
    QuerySpec("q_commits_ingest", (s, dir) => {
      val out = dumpDir(dir) + "_commits"
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        concat(lit("clerk"), col("o_custkey")).as("clerk"),
        col("o_orderdate").cast("date").cast("string").as("d"))
      src.repartition(4, col("o_orderkey")).foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          DumpSource.writeDump(f"$out/2014-02-${pid + 1}%02d.bson",
            it.flatMap { r =>
              val k = r.getLong(0)
              val clerk = r.getString(1)
              val d = r.getString(2)
              val d2 = java.time.LocalDate.parse(d).plusDays(1).toString
              val parents = (k % 3) match {
                case 0 => Nil
                case 1 => Seq(s"sha${k - 1}")
                case _ => Seq(s"sha${k - 1}", s"sha${k - 2}")
              }
              def doc(date: String, msg: String) =
                graft.functions.Bson.docBody(Seq(
                  "sha" -> s"sha$k",
                  "author" -> Seq("id" -> (k % 100), "login" -> clerk),
                  "committer" -> Seq("id" -> (k % 100), "login" -> clerk),
                  "commit" -> Seq(
                    "message" -> msg, "comment_count" -> (k % 10),
                    "author" -> Seq("name" -> clerk,
                      "email" -> s"$clerk@x", "date" -> s"${date}T00:00:00Z"),
                    "committer" -> Seq("name" -> clerk,
                      "email" -> s"$clerk@x", "date" -> s"${date}T12:00:00Z")),
                  "parents" -> graft.functions.Bson.BArray(
                    parents.map(p => Seq("sha" -> p)))))
              Iterator(doc(d, s"v1 commit $k"), doc(d2, s"v2 commit $k"))
            })
      }
      val paths = DumpSource.listDateOrdered(out)
      val raw = s.read.format("graft.sources.DumpDataSource").load(paths: _*)
        .select(graft.plans.BsonFunctions.fromBson(
          col("doc"), Ingest.commitSchema).as("e"))
        .select(col("e.*"))
      Ingest.importCommits(raw).select(
        col("sha"), col("author_github_id"), col("author_login"),
        col("message"), col("comment_count"),
        col("authored_at").cast("date").as("authored_day"),
        array_join(col("parent_shas"), ",").as("parent_shas"))
    },
      () => """SELECT 'sha' || o_orderkey AS sha,
        |  o_orderkey % 100 AS author_github_id,
        |  'clerk' || o_custkey AS author_login,
        |  'v1 commit ' || o_orderkey AS message,
        |  o_orderkey % 10 AS comment_count,
        |  CAST(o_orderdate AS DATE) AS authored_day,
        |  CASE CAST(o_orderkey % 3 AS INTEGER)
        |    WHEN 0 THEN ''
        |    WHEN 1 THEN 'sha' || (o_orderkey - 1)
        |    ELSE 'sha' || (o_orderkey - 1) || ',sha' || (o_orderkey - 2)
        |  END AS parent_shas
        |FROM orders""".stripMargin)
  )

  /** Deterministic HTTP response payload per document — shared shape
    * between q_warc_http's Spark side and its oracle, keyed on
    * doc_id % 9:
    *  0: 200 `text/html; charset=utf-8`, two headers, HTML wrapper;
    *  1: 200 `text/plain; charset=ISO-8859-1`, non-ASCII latin-1 body;
    *  2: 404 `text/plain` (no charset), DUPLICATE X-Tag headers;
    *  3: 200 with NO Content-Type and a binary (PNG-magic) body;
    *  4: 200 `text/html` with NO header charset — the in-body
    *     `<meta charset="iso-8859-1">` must be SNIFFED (latin-1 é);
    *  5: 200 `text/html`, no header charset, the http-equiv meta form
    *     declaring windows-1252 (cp1252 curly quotes in the body);
    *  6: 200 `text/html; charset=shift_jis`, Japanese body encoded
    *     windows-31j (the charset WHATWG maps the label to — the
    *     planted characters are in the plain Shift_JIS repertoire, so
    *     the bytes are identical either way);
    *  7: 200 `text/html`, no header charset, `<meta charset="gb2312">`
    *     SNIFFED and decoded as GBK (the WHATWG remap), Chinese body;
    *  8: 200 `text/plain; charset=x-bogus` — an UNKNOWN label whose
    *     utf-8 body (non-ASCII included) must decode through the
    *     WHATWG-default fallback. */
  private[graft] def syntheticHttpPayload(id: Long, text: String): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    (id % 9) match {
      case 0 =>
        val body = s"<html><body><p>$text</p></body></html>"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
          "Server: graft\r\n\r\n").getBytes(ascii) ++ body
      case 1 =>
        val body = s"café résumé doc $id"
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=ISO-8859-1\r\n\r\n")
          .getBytes(ascii) ++ body
      case 2 =>
        val body = s"not found: $id".getBytes(ascii)
        ("HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n" +
          "X-Tag: a\r\nX-Tag: b\r\n\r\n").getBytes(ascii) ++ body
      case 3 =>
        val body = Array[Byte](0x89.toByte, 'P', 'N', 'G',
          (id & 0xff).toByte, ((id >> 8) & 0xff).toByte, 0x00, 0xff.toByte)
        ("HTTP/1.1 200 OK\r\nServer: graft\r\n\r\n").getBytes(ascii) ++ body
      case 4 =>
        val body = ("<html><head><meta charset=\"iso-8859-1\"></head>" +
          s"<body><p>café doc $id</p></body></html>")
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
          .getBytes(ascii) ++ body
      case 5 =>
        val body = ("<html><head><meta http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=windows-1252\"></head>" +
          s"<body><p>“quoted” doc $id</p></body></html>")
          .getBytes(java.nio.charset.Charset.forName("windows-1252"))
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
          .getBytes(ascii) ++ body
      case 6 =>
        val body = s"<html><body><p>こんにちは doc $id 日本語</p></body></html>"
          .getBytes(java.nio.charset.Charset.forName("windows-31j"))
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=shift_jis\r\n\r\n")
          .getBytes(ascii) ++ body
      case 7 =>
        val body = ("<html><head><meta charset=\"gb2312\"></head>" +
          s"<body><p>中文 doc $id 测试</p></body></html>")
          .getBytes(java.nio.charset.Charset.forName("GBK"))
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
          .getBytes(ascii) ++ body
      case _ =>
        val body = s"fallback ✓ doc $id"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=x-bogus\r\n\r\n")
          .getBytes(ascii) ++ body
    }
  }
}
