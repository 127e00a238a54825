package graft
package entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.HashExpressions
import Common._

/** Web pages and URLs: text and link extraction, robots and sitemaps,
  * URL parse and canonicalization, and the link-graph algorithms. */
private[graft] object WebQueries {
  val specs: Seq[QuerySpec] = Seq(
    // §2b-60: HTML → text extraction (the WARC→WET step): the corpus
    // wrapped in deterministic HTML — script/style containers with
    // tag-like content, a comment, attributes, and all five core
    // entities planted — and recovered by the chained-regex
    // extraction; the oracle synthesizes the identical page
    QuerySpec("q_html_extract", (s, dir) =>
      Spread.spread(t(s, dir, "documents")).select(col("doc_id"),
        operators.WebClean.extractHtmlText(htmlPage).as("clean_text")),
      // the identical page synthesis + the identical regex chain; the
      // one-pass entity kernel replays as ordered literal replaces over
      // the PLANTED references (all disjoint): the double-escaped
      // '&amp;#777;' first (its output '&#777;' matches no later rule),
      // numeric/named refs via chr(), '&amp;' LAST so literal
      // "&amp;lt;" renders as "&lt;"
      () => """WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id ||
        |    '</title><style type="text/css">p { color: red; }</style>' ||
        |    '<script>if (1 < 2) { var x = "&amp;"; }</script></head>' ||
        |    '<body><!-- strip me --><h1>Title</h1><p class="main">' || text ||
        |    '</p><div>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&#39;&nbsp;end</div>' ||
        |    '<div>caf&#233; r&#xE9;sum&#xE9; curly&#X2019; dash&#151; ' ||
        |    'nul&#0; big&#x110000; sur&#xD800; trunc&#12 dbl&amp;#777; ' ||
        |    'unk&unknown; acc&eacute;nt ell&hellip;</div></body></html>' AS h
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |    replace(replace(replace(replace(replace(replace(replace(
        |    replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
        |        '(?is)<script[^>]*>.*?</script>', '', 'g'),
        |        '(?is)<style[^>]*>.*?</style>', '', 'g'),
        |        '(?s)<!--.*?-->', '', 'g'),
        |        '(?s)<[^>]*>', ' ', 'g'),
        |      '&amp;#777;', '&#777;'),
        |      '&#233;', chr(233)), '&#xE9;', chr(233)),
        |      '&#X2019;', chr(8217)), '&#151;', chr(8212)),
        |      '&#0;', chr(65533)), '&#x110000;', chr(65533)),
        |      '&#xD800;', chr(65533)),
        |      '&eacute;', chr(233)), '&hellip;', chr(8230)),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \t\n\x0b\f\r]+', ' ', 'g')) AS clean_text
        |FROM page""".stripMargin),

    // §2b-60c: MAIN-CONTENT extraction (jusText-lite) — block-level
    // length/link-density classification between the WET text step
    // and the quality battery: the planted page carries a link-dense
    // nav, a short header, two long article paragraphs (the main
    // content), a share bar dropped by link density, and an
    // anchor-only footer; one codegen kernel per row
    QuerySpec("q_main_content", (s, dir) =>
      operators.WebClean.mainContent(
        Spread.spread(t(s, dir, "documents").select(col("doc_id"),
          mainContentPage.as("html"))),
        "doc_id", "html"),
      // the identical chain, block by block: the same pre-strip, the
      // same block-tag split (WebText.BlockTagRegex spliced verbatim),
      // the same visible-text and anchor-text derivations, the same
      // length/link-density rule (integer compares), string_agg in
      // block order == the kernel's document-order join
      () => s"""WITH page AS (
         |  SELECT doc_id, $sqlMainContentPage AS h FROM documents),
         |pre AS (
         |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(h,
         |    '(?is)<script[^>]*>.*?</script>', '', 'g'),
         |    '(?is)<style[^>]*>.*?</style>', '', 'g'),
         |    '(?s)<!--.*?-->', '', 'g') AS p
         |  FROM page),
         |blk AS (
         |  SELECT doc_id, i, bs[i] AS b
         |  FROM (SELECT doc_id, regexp_split_to_array(p,
         |          '${graft.functions.WebText.BlockTagRegex}') AS bs
         |        FROM pre),
         |       unnest(generate_series(1, len(bs))) g(i)),
         |vis AS (
         |  SELECT doc_id, i,
         |    ${sqlVisibleOf("b")} AS t,
         |    ${sqlVisibleOf(
      // coalesce: DuckDB's array_to_string over an EMPTY list is NULL,
      // which would poison the density compare for anchor-free blocks
      "coalesce(array_to_string(regexp_extract_all(b, " +
        "'(?is)<a(\\s[^>]*)?>(.*?)</a>', 2), ' '), '')")}
         |      AS a
         |  FROM blk),
         |cls AS (
         |  SELECT doc_id, i, t,
         |    length(t) >= 25 AND 2 * length(a) <= length(t) AS good
         |  FROM vis WHERE t <> '')
         |SELECT doc_id, CAST(count(*) AS INT) AS n_blocks,
         |  CAST(count(*) FILTER (WHERE good) AS INT) AS n_good,
         |  coalesce(string_agg(CASE WHEN good THEN t END, chr(10)
         |    ORDER BY i), '') AS main_text
         |FROM cls GROUP BY doc_id""".stripMargin),

    // §2b-60b: anchor-href link extraction (the WAT-records step) —
    // both quote styles PLUS unquoted values, case-insensitive attr,
    // tag-anchored (<area>/data-href decoys must not match),
    // document-order pos, and RELATIVE hrefs resolved against the
    // page URL (RFC 3986 merge + dot-segment normalization); the
    // planted page exercises every case
    QuerySpec("q_link_extract", (s, dir) =>
      operators.WebClean.extractLinks(
        Spread.spread(t(s, dir, "documents").select(col("doc_id"),
          syntheticUrl.as("src_url"), linkPage.as("html"))),
        "doc_id", "html", baseUrlCol = Some("src_url")),
      // identical regexp_extract_all (tag-anchored, three value forms)
      // + conditional quote-strip + RFC 3986 resolution replay +
      // http(s) filter; pos is the ordinality over ALL hrefs (the
      // fragment-only link holds a position even though it is dropped)
      () => s"""WITH $sqlLinkItemsCtes
         |SELECT doc_id, pos, url FROM abslinks""".stripMargin),

    // §2b-69d: the COMPOSED domain-rank pipeline — extract links
    // (relative hrefs resolved against the page URL, so the edge set
    // is the full anchor graph, not just absolute targets), roll both
    // endpoints up to registrable sites, PageRank the domain graph:
    // the crawl-pipeline composition the graph family exists for.
    // Sites become stable integer ids via fnv64 (the integer
    // iteration's key type); the name join-back is a ~|sites|-row
    // frame. 5 rounds, the oracle replays every stage.
    QuerySpec("q_domain_rank", (s, dir) => {
      val srcSite = operators.WebClean.urlSite(
        operators.WebClean.urlHost(col("src_url")))
      val dstSite = operators.WebClean.urlSite(
        operators.WebClean.urlHost(col("url")))
      // ONE extraction pass, src_site CARRIED through it: the previous
      // form joined a second corpus scan (doc_id -> src_site) back to
      // the links on doc_id — a corpus-sized shuffle + duplicate scan
      // whose only payload was the per-page site string. carryCols
      // threads it through the explode instead (same rows, same
      // values; the oracle pins the 50-row result). The single-
      // consumer scan also spreads now (it could not before: two plan
      // references would each clone the spread exchange).
      val pages = Spread.spread(t(s, dir, "documents"))
        .select(col("doc_id"), syntheticUrl.as("src_url"),
          linkPage.as("html"))
        .select(col("doc_id"), col("src_url"), col("html"),
          srcSite.as("src_site"))
      val links = operators.WebClean.extractLinks(pages, "doc_id", "html",
        baseUrlCol = Some("src_url"), carryCols = Seq("src_site"))
      // ONE extraction pass feeds the whole composition: the distinct
      // site-pair frame (bounded by the site graph, not the corpus) is
      // persisted and edges, node names, AND the PageRank input all
      // derive from it — without this, the regex extraction re-ran for
      // every consumer (edges, names, the rank join-back): measured 5
      // extraction passes and a 3× wall regression. Retained cache,
      // like the iterative results (metadata-sized: distinct pairs).
      // The empty-site filter sits ABOVE the cache: below it, Catalyst
      // pushes it into the extraction stage and inlines the whole
      // resolveUrl chain into the filter once per urlHost reference;
      // that code exceeds janino's 64 KB method limit, and Spark runs
      // the stage without whole-stage codegen.
      val pairs = links
        .select(col("src_site"), dstSite.as("dst_site"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .where(col("src_site") =!= "" && col("dst_site") =!= "")
      val edges = pairs.select(
        HashExpressions.fnv64(col("src_site")).as("src"),
        HashExpressions.fnv64(col("dst_site")).as("dst"))
      val names = pairs.select(col("src_site").as("site"))
        .union(pairs.select(col("dst_site")))
        .distinct()
        .select(col("site"), HashExpressions.fnv64(col("site")).as("node"))
      Graph.pageRank(edges, "src", "dst", iters = 5)
        .join(names, Seq("node"))
        .select(col("site"), col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("site")).limit(50)
    },
      // the composed crawl chain: extraction + relative resolution →
      // host/site rollup (the q_url_parse replay) → DISTINCT site pairs
      // → fnv64 node ids → the shared PageRank rounds → name join-back,
      // top 50
      () => {
      s"""WITH $sqlLinkItemsCtes,
         |ss AS (
         |  SELECT doc_id,
         |    ${sqlSiteOf(sqlHostOf(s"($sqlSyntheticUrl)"))} AS src_site
         |  FROM documents),
         |ds AS (
         |  SELECT doc_id, ${sqlSiteOf(sqlHostOf("url"))} AS dst_site
         |  FROM abslinks),
         |sedges AS MATERIALIZED (
         |  SELECT src_site, dst_site FROM ss JOIN ds USING (doc_id)
         |  WHERE src_site <> '' AND dst_site <> ''),
         |pairs AS (SELECT DISTINCT src_site, dst_site FROM sedges),
         |edges AS MATERIALIZED (
         |  SELECT ${sqlFnvSigned("src_site")} AS src,
         |         ${sqlFnvSigned("dst_site")} AS dst
         |  FROM pairs),
         |nodes AS MATERIALIZED (
         |  SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |${sqlPageRankRounds(5)},
         |names AS (
         |  SELECT site, ${sqlFnvSigned("site")} AS id FROM (
         |    SELECT DISTINCT src_site AS site FROM sedges
         |    UNION SELECT DISTINCT dst_site FROM sedges) u)
         |SELECT n.site, r.rank AS rank_micro
         |FROM r5 r JOIN names n ON n.id = r.id
         |ORDER BY rank_micro DESC, site LIMIT 50""".stripMargin
    }),

    // §2b-62d: meta-robots directives — the IN-PAGE admission signal
    // next to robots.txt: planted tags cover both attribute orders,
    // both quote styles, UNQUOTED values, uppercase, the `none`
    // alias, split directives across TWO tags (must union), explicit
    // index,follow, a missing tag, and a non-robots meta decoy
    QuerySpec("q_meta_robots", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), metaRobotsPage.as("html"))
        .select(col("doc_id"),
          operators.WebClean.metaRobots(col("html")).as("mr"))
        .select(col("doc_id"), col("mr.noindex").as("noindex"),
          col("mr.nofollow").as("nofollow")),
      // the INDEPENDENT truth table for the planted residues — stronger
      // than a regex replay: noindex for the planted-noindex (0),
      // `none` (2), two-tag-union (5), unquoted (6) and unquoted-list
      // (7) pages; nofollow for (1), (2), (5) and (7); nothing for the
      // tagless (3) and explicit index,follow (4) pages
      () => """SELECT doc_id,
        |  doc_id % 8 IN (0, 2, 5, 6, 7) AS noindex,
        |  doc_id % 8 IN (1, 2, 5, 7) AS nofollow
        |FROM documents""".stripMargin),

    // §2b-62e: X-Robots-Tag header directives — the HTTP-header
    // counterpart of meta robots (CDN-level and non-HTML admission):
    // planted header arrays cover plain, list, scoped-to-us,
    // scoped-to-other, the unavailable_after colon trap, `none`,
    // multi-header union, absence, and a decoy header name
    QuerySpec("q_xrobots", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), xRobotsHeaders.as("headers"))
        .select(col("doc_id"),
          operators.WebClean.xRobotsTag(col("headers"), agent = "graftbot")
            .as("xr"))
        .select(col("doc_id"), col("xr.noindex").as("noindex"),
          col("xr.nofollow").as("nofollow")),
      // the INDEPENDENT truth table for the planted header residues:
      // noindex for plain (0), scoped-to-us (2), none (5), and the
      // two-header union (6); nofollow for the list (1), none (5), and
      // the union (6); nothing for scoped-to-other (3), the
      // unavailable_after trap (4), and absence (7)
      () => """SELECT doc_id,
        |  doc_id % 8 IN (0, 2, 5, 6) AS noindex,
        |  doc_id % 8 IN (1, 5, 6) AS nofollow
        |FROM documents""".stripMargin),

    // §2b-62c: robots.txt parse + URL admission (RFC 9309) — the
    // crawl-admission dim: declarative group/rule parse (windows +
    // aggs, no UDF), most-specific-agent PREFIX selection (§2.2.1)
    // decided from the group frame (an empty-Disallow group still
    // claims the agent), rules compiled to anchored regexes (* /
    // trailing $ / metachar escapes), longest-match precedence with
    // allow winning ties, broadcast-joined to the corpus URLs on
    // site. Eight planted bodies exercise group fallback,
    // specific-agent override, wildcards, the $ anchor, prefix and
    // longer-than-agent tokens, most-specific precedence, and the
    // empty-Disallow claimed group
    QuerySpec("q_robots_filter", (s, dir) => {
      val urls = t(s, dir, "documents")
        .select(col("doc_id"), syntheticUrl.as("url"))
        .withColumn("site", operators.WebClean.urlSite(
          operators.WebClean.urlHost(col("url"))))
      val body = robotsBodies.zipWithIndex.foldLeft(lit(null: String)) {
        case (acc, (b, i)) =>
          when(pmod(HashExpressions.fnv64(col("site")),
            lit(robotsBodies.length.toLong)) === i, lit(b)).otherwise(acc)
      }
      val robots = urls.select(col("site")).distinct()
        .withColumn("txt", body)
      val rules = operators.WebClean.robotsRules(robots, "site", "txt",
        agent = "graftbot")
      operators.WebClean.robotsAllowed(urls, rules, "doc_id", "url", "site")
    },
      // full RFC-9309 replay: line/group parse as windows, group
      // selection (specific beats *), regex compilation of each rule
      // (identical escape class / '*'→'.*' / trailing-$ handling), and
      // the longest-match max-struct decision; bodies rendered from the
      // SAME robotsBodies list
      () => qRobotsFilterOracle),

    // §2b-62f: robots.txt politeness + discovery directives — the
    // two non-rule signals the same file carries: global Sitemap URLs
    // (frontier seed discovery) and the selected group's Crawl-delay
    // (most-specific-agent precedence shared with q_robots_filter;
    // minimum of applicable values, try_cast null on garbage)
    QuerySpec("q_robots_meta", (s, dir) => {
      val sites = t(s, dir, "documents")
        .select(operators.WebClean.urlSite(operators.WebClean.urlHost(
          syntheticUrl)).as("site")).distinct()
      val body = robotsBodies.zipWithIndex.foldLeft(lit(null: String)) {
        case (acc, (b, i)) =>
          when(pmod(HashExpressions.fnv64(col("site")),
            lit(robotsBodies.length.toLong)) === i, lit(b)).otherwise(acc)
      }
      operators.WebClean.robotsDirectives(
        sites.withColumn("txt", body), "site", "txt", agent = "graftbot")
    },
      // the same parse/selection chain harvesting the non-rule
      // directives: global sitemaps, selected-group crawl-delay
      () => qRobotsMetaOracle),

    // §2b-62g: sitemap XML parsing — the consumer of the Sitemap:
    // URLs q_robots_meta harvests: <urlset> page entries (depth 0)
    // plus one level of <sitemapindex> recursion over children
    // present in the fetched frame (depth 1); entity-escaped and
    // whitespace-padded locs, a loc-less decoy that holds its pos, a
    // garbage priority that nulls out, and an unfetched index child
    // that yields nothing (synthesis: sitemapXml, doc_id % 3)
    QuerySpec("q_sitemap_parse", (s, dir) => {
      val fetched = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("sitemap_url", sitemapUrl)
        .withColumn("xml", sitemapXml)
      operators.WebClean.sitemapFrontier(fetched, "sitemap_url", "xml")
        .select(
          regexp_extract(col("root_sitemap"), "/sm/([0-9]+)\\.xml$", 1)
            .cast("bigint").as("root_doc"),
          col("depth"), col("pos"), col("url"), col("lastmod"),
          col("changefreq"), col("priority"))
    },
      // the identical sitemap synthesis + block extraction replay:
      // <url>/<sitemap> blocks via the same tag-anchored regexes, pos
      // over the concatenated block order (urls first — one kind per
      // valid doc), the entity decode replayed as literal replaces of
      // the PLANTED references, loc-less blocks dropped AFTER pos
      // assignment, numeric-guarded priority cast, and the one-level
      // index recursion as a self-join through the fetched frame
      () => """WITH f AS (
        |  SELECT doc_id, doc_id % 3 AS r,
        |    'https://smhost.example.com/sm/' || doc_id || '.xml' AS sitemap_url,
        |    'https://site' || doc_id || '.example.com' AS site
        |  FROM documents),
        |fx AS (
        |  SELECT doc_id, sitemap_url,
        |    CASE r WHEN 0 THEN
        |      '<?xml version="1.0" encoding="UTF-8"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        |      || '<url><loc> ' || site || '/p/0?a=1&amp;b=2 </loc><lastmod>2025-06-15</lastmod><changefreq>daily</changefreq><priority>0.8</priority></url>'
        |      || '<url><loc>' || site || '/p/1&#47;x</loc><lastmod>2024-03-01T12:30:00+00:00</lastmod></url>'
        |      || '<url><lastmod>2020-01-01</lastmod></url>'
        |      || '<url><loc>' || site || '/p/2</loc><priority>bogus</priority></url></urlset>'
        |    WHEN 1 THEN
        |      '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        |      || '<sitemap><loc>https://smhost.example.com/sm/' || (doc_id - 1) || '.xml</loc><lastmod>2025-01-02</lastmod></sitemap>'
        |      || '<sitemap><loc>https://smhost.example.com/sm/' || (doc_id + 2) || '.xml</loc></sitemap>'
        |      || '<sitemap><loc>https://unfetched.example.com/other.xml</loc></sitemap></sitemapindex>'
        |    ELSE '<urlset><url><loc>' || site || '/only</loc></url></urlset>'
        |    END AS xml
        |  FROM f),
        |bl AS (
        |  SELECT doc_id, sitemap_url,
        |    regexp_extract_all(xml, '(?is)<url\b[^>]*>(.*?)</url\s*>', 1) AS us,
        |    regexp_extract_all(xml, '(?is)<sitemap\b[^>]*>(.*?)</sitemap\s*>', 1) AS ss
        |  FROM fx),
        |eu AS (
        |  SELECT doc_id, sitemap_url, CAST(i - 1 AS INT) AS pos,
        |    'url' AS kind, us[i] AS b
        |  FROM bl, unnest(generate_series(1, len(us))) AS g(i)
        |  UNION ALL
        |  SELECT doc_id, sitemap_url, CAST(len(us) + i - 1 AS INT) AS pos,
        |    'sitemap' AS kind, ss[i] AS b
        |  FROM bl, unnest(generate_series(1, len(ss))) AS g(i)),
        |ee AS (
        |  SELECT doc_id, sitemap_url, pos, kind,
        |    NULLIF(regexp_extract(b, '(?is)<loc\b[^>]*>\s*(.*?)\s*</loc\s*>', 1), '') AS loc0,
        |    replace(replace(loc0, '&#47;', '/'), '&amp;', '&') AS loc,
        |    NULLIF(regexp_extract(b, '(?is)<lastmod\b[^>]*>\s*(.*?)\s*</lastmod\s*>', 1), '') AS lastmod,
        |    NULLIF(regexp_extract(b, '(?is)<changefreq\b[^>]*>\s*(.*?)\s*</changefreq\s*>', 1), '') AS changefreq,
        |    NULLIF(regexp_extract(b, '(?is)<priority\b[^>]*>\s*(.*?)\s*</priority\s*>', 1), '') AS p0,
        |    CASE WHEN regexp_matches(p0, '^[0-9]+(\.[0-9]+)?$')
        |      THEN CAST(p0 AS DOUBLE) END AS priority
        |  FROM eu),
        |e2 AS (SELECT * FROM ee WHERE loc IS NOT NULL),
        |d0 AS (
        |  SELECT CAST(regexp_extract(sitemap_url, '/sm/([0-9]+)\.xml$', 1) AS BIGINT) AS root_doc,
        |    CAST(0 AS INT) AS depth, pos, loc AS url, lastmod, changefreq, priority
        |  FROM e2 WHERE kind = 'url'),
        |d1 AS (
        |  SELECT CAST(regexp_extract(e.sitemap_url, '/sm/([0-9]+)\.xml$', 1) AS BIGINT) AS root_doc,
        |    CAST(1 AS INT) AS depth, c.pos, c.loc AS url, c.lastmod,
        |    c.changefreq, c.priority
        |  FROM e2 e
        |  JOIN fx f2 ON e.kind = 'sitemap' AND e.loc = f2.sitemap_url
        |  JOIN e2 c ON c.doc_id = f2.doc_id AND c.kind = 'url')
        |SELECT * FROM d0 UNION ALL SELECT * FROM d1""".stripMargin),

    // §2b-62: URL parse (host + registrable-site heuristic) — the key
    // extraction every domain-level policy (caps, blocklists,
    // stratification) joins on; URLs synthesized with www/userinfo/
    // port/path/query variants so each stripping rule is exercised
    QuerySpec("q_url_parse", (s, dir) =>
      operators.WebClean.parseUrls(
        t(s, dir, "documents").withColumn("url", syntheticUrl),
        "doc_id", "url"),
      () => """WITH u AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 11 = 0 THEN 'user:pw@' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
        |    'u' || (doc_id % 7) || '.host' || (doc_id % 13) ||
        |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
        |         WHEN doc_id % 3 = 1 THEN '.org' ELSE '.com' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
        |    '/p/' || doc_id || '?ref=rss#top' AS url
        |  FROM documents),
        |hh AS (
        |  SELECT doc_id, regexp_replace(
        |    regexp_extract(lower(url),
        |      '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([a-z0-9.-]+)', 1),
        |    '^www\.', '') AS host
        |  FROM u)
        |SELECT doc_id, host,
        |  CASE WHEN regexp_matches(host, '\.(co|ac|gov|com|org|net)\.(uk|au|nz|jp|br|in)$')
        |    THEN regexp_extract(host, '([a-z0-9-]+\.[a-z0-9-]+\.[a-z0-9-]+)$', 1)
        |    ELSE regexp_extract(host, '([a-z0-9-]+\.[a-z0-9-]+)$', 1) END AS site
        |FROM hh""".stripMargin),

    // §2b-62 PSL: the same parse keyed by REAL Public Suffix List
    // rules (bundled subset, standard file format) — URLs synthesized
    // over the PSL-hard cases the heuristic mis-keys: *.co.uk /
    // *.com.au multi-label suffixes, the *.kawasaki.jp wildcard, the
    // !city.kawasaki.jp and !www.ck exception rules, a private-section
    // entry (github.io), an unknown TLD (default rule), and a host
    // that IS a public suffix (site NULL)
    QuerySpec("q_url_parse2", (s, dir) =>
      operators.WebClean.parseUrlsPsl(
        t(s, dir, "documents").withColumn("url", pslUrl),
        "doc_id", "url", graft.functions.Psl.subset),
      () => qUrlParse2Oracle),

    // §2b-62b: URL canonicalization — the URL-dedup key: fragment
    // and tracking params dropped, scheme/authority lowercased,
    // default ports stripped, remaining params sorted, trailing
    // slashes removed; URLs synthesized so every rule fires
    QuerySpec("q_url_canon", (s, dir) =>
      Spread.spread(t(s, dir, "documents").withColumn("url", messyUrl))
        .select(col("doc_id"), col("url"),
          operators.WebClean.canonicalizeUrl(col("url")).as("canon")),
      // URL canonicalization: identical regex/array chain — fragment
      // strip, scheme/authority lowercase, default-port strip, tracking
      // params filtered via the same pattern, list_sort == array_sort
      // (binary collation both engines), trailing-slash strip
      () => """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN 'User:PW@' ELSE '' END ||
        |    'WWW.Example' || (doc_id % 5) || '.COM' ||
        |    CASE WHEN doc_id % 3 = 0 THEN ':443'
        |         WHEN doc_id % 3 = 1 THEN ':80' ELSE '' END ||
        |    '/Path/To/Item' ||
        |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |    '?b=2&utm_source=feed&a=1' ||
        |    CASE WHEN doc_id % 7 = 0 THEN '&ref=home&z=9' ELSE '' END ||
        |    '#frag' || doc_id AS url
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id, url,
        |    regexp_replace(url, '#.*$', '') AS nofrag
        |  FROM u),
        |s2 AS (
        |  SELECT doc_id, url,
        |    regexp_replace(nofrag, '\?.*$', '') AS base,
        |    regexp_extract(nofrag, '\?(.*)$', 1) AS q
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id, url, base, q,
        |    regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS pre
        |  FROM s2),
        |s3b AS (
        |  SELECT doc_id, url, base, q, pre,
        |    lower(regexp_extract(pre, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_extract(pre, '^[A-Za-z][A-Za-z0-9+.-]*://([^/@]*@)', 1) AS userinfo,
        |    lower(regexp_extract(pre, '://(?:[^/@]*@)?([^/?#]*)$', 1)) AS hostport
        |  FROM s3),
        |s4 AS (
        |  SELECT doc_id, url,
        |    scheme || '://' || userinfo ||
        |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |           ELSE hostport END AS pre_lc,
        |    regexp_replace(substr(base, length(pre) + 1), '/+$', '') AS rest,
        |    list_sort(list_filter(string_split(q, '&'), p ->
        |      NOT regexp_matches(p, '^(utm_[a-z0-9]*|gclid|fbclid|msclkid|ref)=')
        |      AND p <> '')) AS params
        |  FROM s3b)
        |SELECT doc_id, url,
        |  pre_lc || rest ||
        |  CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
        |       ELSE '' END AS canon
        |FROM s4""".stripMargin),

    // §2b-69: link-graph PageRank (Graph.pageRank) — integer
    // micro-unit power iteration, bit-exact across engines (no
    // float sums); a synthetic crawl graph with a ring (connectivity),
    // a skewed 101-hub spine (realistic in-degree hotspots), and a
    // long stride. The count() is a driver-side scalar (metadata-
    // sized); the 10 iterations are co-partitioned RDD rounds (one
    // shuffle each) chained into ONE job, about 9 jobs in all.
    // Top-100 by (rank desc, node) is a TakeOrderedAndProject — no
    // global sort materialization.
    QuerySpec("q_pagerank", (s, dir) =>
      Graph.pageRank(syntheticLinkGraph(s, dir), "src", "dst", iters = 10)
        .orderBy(col("rank_micro").desc, col("node")).limit(100),
      // §2b-69: the integer-micro-unit power iteration unrolled as a
      // CTE chain (aggregation cannot live in a recursive term) — same
      // synthetic ring + 101-hub + stride graph, same floor divisions,
      // so the BIGINT ranks match Spark's bit for bit
      () => sqlPageRankOracle(10)),

    // §2b-69b: HITS hubs & authorities over the same crawl graph —
    // the complementary signal (hub farms vs canonical pages); two
    // Long-sum half-steps per round, each renormalized by a pure-integer
    // division by its max, folded by the one job that persists it
    QuerySpec("q_hits", (s, dir) =>
      Graph.hits(syntheticLinkGraph(s, dir), "src", "dst", iters = 8)
        .orderBy(col("auth_micro").desc, col("hub_micro").desc, col("node"))
        .limit(100),
      // §2b-69b: the HITS half-steps unrolled; max-renormalization as a
      // scalar subquery per half-step
      () => sqlHitsOracle(8)),

    // §2b-69c: per-node triangle counts + clustering coefficient over
    // the same crawl graph — degree-oriented (compact-forward) wedge
    // generation keeps candidate volume O(m^1.5) under hub skew
    QuerySpec("q_triangles", (s, dir) =>
      Graph.triangles(syntheticLinkGraph(s, dir), "src", "dst"),
      // §2b-69c: the same degree-orientation, wedge join, and closing-
      // edge lookup — three joins, no iteration
      () => s"""WITH $sqlLinkGraphCtes,
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges WHERE src <> dst),
         |degt AS MATERIALIZED (
         |  SELECT node, count(*) AS degree FROM (
         |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) q
         |  GROUP BY node),
         |ori AS MATERIALIZED (
         |  SELECT CASE WHEN d1.degree < d2.degree
         |              OR (d1.degree = d2.degree AND e.u < e.v)
         |         THEN e.u ELSE e.v END AS s,
         |         CASE WHEN d1.degree < d2.degree
         |              OR (d1.degree = d2.degree AND e.u < e.v)
         |         THEN e.v ELSE e.u END AS t
         |  FROM und e JOIN degt d1 ON e.u = d1.node
         |             JOIN degt d2 ON e.v = d2.node),
         |tri AS MATERIALIZED (
         |  SELECT o1.s, o1.t AS t1, o2.t AS t2
         |  FROM ori o1 JOIN ori o2 ON o1.s = o2.s AND o1.t < o2.t
         |  JOIN und c ON c.u = o1.t AND c.v = o2.t),
         |pn AS (
         |  SELECT node, count(*) AS triangles FROM (
         |    SELECT s AS node FROM tri
         |    UNION ALL SELECT t1 FROM tri
         |    UNION ALL SELECT t2 FROM tri) q
         |  GROUP BY node)
         |SELECT d.node, d.degree,
         |  CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
         |  CASE WHEN d.degree >= 2
         |    THEN (2.0 * coalesce(p.triangles, 0)) /
         |         (d.degree * (d.degree - 1.0)) END AS clustering
         |FROM degt d LEFT JOIN pn p ON d.node = p.node""".stripMargin)
  )

  /** The synthetic crawl graph q_pagerank / q_hits share: each doc
    * emits a ring edge (strong connectivity, high diameter), a skewed
    * 101-hub spine edge (realistic in-degree hotspots), and a long
    * stride. `count()` is a metadata-sized driver scalar; the oracles
    * derive the same n from a 1-row count CTE. */
  private def syntheticLinkGraph(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    docs
      .select(col("doc_id").as("src"),
        explode(array(lit(0), lit(1), lit(2))).as("j"))
      .select(col("src"),
        when(col("j") === 0, (col("src") + 1L) % n)
          .when(col("j") === 1, (col("src") * 7L) % 101L)
          .otherwise((col("src") * 37L + 11L) % n).as("dst"))
  }

  /** The bundled PSL subset rendered as the q_url_parse2 oracle's rule
    * relations — generated from the SAME parsed file the Spark side
    * loads, so the two engines provably key on one rule set. */
  private def sqlPslRules: String = {
    val p = graft.functions.Psl.subset
    def vals(rs: Seq[String]) = rs.map(r => s"('$r')").mkString(", ")
    s"""norms(r) AS (SELECT * FROM (VALUES ${vals(p.normal.toSeq.sorted)}) t(r)),
       |wilds(r) AS (SELECT * FROM (VALUES ${vals(p.wildcardBases.toSeq.sorted)}) t(r)),
       |excs(r) AS (SELECT * FROM (VALUES ${vals(p.exceptions.toSeq.sorted)}) t(r))""".stripMargin
  }

  /** Deterministic HTML page wrapping each document — shared shape
    * between q_html_extract's Spark side and its DuckDB oracle. The
    * second div plants the character-reference battery: decimal /
    * lower-hex / upper-hex-marker numeric refs, an HTML5 C1 remap
    * (`&#151;` = em dash via windows-1252), the three invalid-value
    * classes (zero, beyond U+10FFFF, a surrogate — all U+FFFD), a
    * truncated semicolon-less ref that stays literal, a
    * double-escaped `&amp;#777;` that decodes to LITERAL `&#777;`,
    * an unknown name that stays literal, and two beyond-core named
    * entities. Every reference is disjoint in the planted text, so
    * the oracle replays the one-pass kernel as ordered literal
    * replaces (`&amp;#777;` before `&amp;`). */
  private def htmlPage: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style type=\"text/css\">p { color: red; }</style>"),
    lit("<script>if (1 < 2) { var x = \"&amp;\"; }</script></head>"),
    lit("<body><!-- strip me --><h1>Title</h1><p class=\"main\">"),
    col("text"),
    lit("</p><div>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&#39;&nbsp;end</div>"),
    lit("<div>caf&#233; r&#xE9;sum&#xE9; curly&#X2019; dash&#151; " +
      "nul&#0; big&#x110000; sur&#xD800; trunc&#12 dbl&amp;#777; " +
      "unk&unknown; acc&eacute;nt ell&hellip;</div></body></html>"))

  /** Deterministic synthetic URL per document — shared shape between
    * q_url_parse's Spark side and its DuckDB oracle: scheme, optional
    * userinfo, optional www, multi-label hosts across plain and
    * two-label public suffixes, optional port, path, query, fragment. */
  private def syntheticUrl: Column = concat(
    lit("https://"),
    when(pmod(col("doc_id"), lit(11)) === 0, lit("user:pw@")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(4)) === 0, lit("www.")).otherwise(lit("")),
    lit("u"), pmod(col("doc_id"), lit(7)).cast("string"),
    lit(".host"), pmod(col("doc_id"), lit(13)).cast("string"),
    when(pmod(col("doc_id"), lit(3)) === 0, lit(".co.uk"))
      .when(pmod(col("doc_id"), lit(3)) === 1, lit(".org"))
      .otherwise(lit(".com")),
    when(pmod(col("doc_id"), lit(5)) === 0, lit(":8080")).otherwise(lit("")),
    lit("/p/"), col("doc_id").cast("string"), lit("?ref=rss#top"))

  /** Deterministic HTML page with planted ANCHORS per document —
    * shared shape between q_link_extract / q_domain_rank and their
    * oracles. In document order: a double-quoted absolute link (0), a
    * single-quoted uppercase-attr www link (1), a ROOT-RELATIVE link
    * (2 — resolves against the page URL), a second absolute link with
    * query+fragment (3), an UNQUOTED absolute href (4), a dot-segment
    * relative link (5 — `../up/…` must normalize), a query-only
    * reference (6 — replaces the base query), a protocol-relative
    * link (7 — takes the base scheme), and a fragment-only self-link
    * (8 — holds its pos but yields no row). Two DECOYS that must
    * never extract: an `<area href>` (tag anchor) and a
    * `<a data-href>` (attribute boundary). doc_id%6==0 pages carry a
    * ROOT-RELATIVE `<base href="/bd/sub/">` (itself resolved against
    * the page URL, then overriding it for every relative anchor) and
    * doc_id%6==3 pages an ABSOLUTE http `<base>` on another host —
    * root-relative links must take ITS authority and
    * protocol-relative links ITS scheme. */
  /** Deterministic sitemap URL per document — the key the
    * q_sitemap_parse index entries reference fetched children by. */
  private def sitemapUrl: Column =
    concat(lit("https://smhost.example.com/sm/"),
      col("doc_id").cast("string"), lit(".xml"))

  /** Deterministic sitemap XML per document — shared shape between
    * q_sitemap_parse's Spark side and its DuckDB oracle, keyed on
    * doc_id % 3:
    *  0: a `<urlset>` with four `<url>` blocks — an entity-escaped
    *     loc (`&amp;`) with whitespace padding + all optional fields,
    *     a numeric-ref loc (`&#47;`) with a datetime lastmod, a
    *     loc-LESS decoy that must drop but hold its pos, and a
    *     garbage (non-numeric) priority that must null out;
    *  1: a `<sitemapindex>` referencing the sitemaps of docs id-1 and
    *     id+2 (both ≡ 0 mod 3 — fetched urlsets when in range) plus
    *     an UNFETCHED child that must yield nothing;
    *  2: a minimal one-entry `<urlset>`. */
  private def sitemapXml: Column = {
    val site = concat(lit("https://site"), col("doc_id").cast("string"),
      lit(".example.com"))
    when(pmod(col("doc_id"), lit(3)) === 0, concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        "<url><loc> "), site,
      lit("/p/0?a=1&amp;b=2 </loc><lastmod>2025-06-15</lastmod>" +
        "<changefreq>daily</changefreq><priority>0.8</priority></url>" +
        "<url><loc>"), site,
      lit("/p/1&#47;x</loc>" +
        "<lastmod>2024-03-01T12:30:00+00:00</lastmod></url>" +
        "<url><lastmod>2020-01-01</lastmod></url>" +
        "<url><loc>"), site,
      lit("/p/2</loc><priority>bogus</priority></url></urlset>")))
      .when(pmod(col("doc_id"), lit(3)) === 1, concat(
        lit("<sitemapindex " +
          "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          "<sitemap><loc>https://smhost.example.com/sm/"),
        (col("doc_id") - 1).cast("string"),
        lit(".xml</loc><lastmod>2025-01-02</lastmod></sitemap>" +
          "<sitemap><loc>https://smhost.example.com/sm/"),
        (col("doc_id") + 2).cast("string"),
        lit(".xml</loc></sitemap><sitemap>" +
          "<loc>https://unfetched.example.com/other.xml</loc>" +
          "</sitemap></sitemapindex>")))
      .otherwise(concat(
        lit("<urlset><url><loc>"), site,
        lit("/only</loc></url></urlset>")))
  }

  private def linkPage: Column = concat(
    lit("<html>"),
    when(pmod(col("doc_id"), lit(6)) === 0,
      lit("<head><base href=\"/bd/sub/\"></head>"))
      .when(pmod(col("doc_id"), lit(6)) === 3,
        lit("<head><base href='http://basehost.example.org/x/'></head>"))
      .otherwise(lit("")),
    lit("<body><p>"), col("text"), lit("</p>"),
    lit("<area href=\"http://decoy.example.net/a\">"),
    lit("<a href=\"http://u"), pmod(col("doc_id"), lit(7)).cast("string"),
    lit(".host"), pmod(col("doc_id"), lit(13)).cast("string"),
    lit(".com/p/"), col("doc_id").cast("string"), lit("\">x</a>"),
    lit("<A HREF='https://www.hub"), pmod(col("doc_id"), lit(5)).cast("string"),
    lit(".example.org/dir/'>y</A>"),
    lit("<a data-href=\"http://decoy2.example.net/b\">no</a>"),
    lit("<a href=\"/relative/"), col("doc_id").cast("string"),
    lit("\">rel</a>"),
    lit("<a href=\"http://u"), pmod(col("doc_id") + 1, lit(7)).cast("string"),
    lit(".host"), pmod(col("doc_id") + 1, lit(13)).cast("string"),
    lit(".com/q?a=1#f\">z</a>"),
    lit("<a href=http://cdn"), pmod(col("doc_id"), lit(5)).cast("string"),
    lit(".example.net/lib.js>u</a>"),
    lit("<a href=\"../up/"), pmod(col("doc_id"), lit(9)).cast("string"),
    lit("\">d</a>"),
    lit("<a href=\"?page=2\">q</a>"),
    lit("<a href=\"//mirror"), pmod(col("doc_id"), lit(3)).cast("string"),
    lit(".example.com/m\">p</a>"),
    lit("<a href=\"#sec\">s</a></body></html>"))

  /** Deterministic MESSY synthetic URL per document — shared shape
    * between q_url_canon's Spark side and its oracle: mixed-case
    * scheme/host, default and non-default ports on both schemes,
    * unsorted + tracking query params, trailing slash, fragment. */
  private def messyUrl: Column = concat(
    when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTPS://"))
      .otherwise(lit("http://")),
    when(pmod(col("doc_id"), lit(11)) === 0, lit("User:PW@"))
      .otherwise(lit("")),
    lit("WWW.Example"), pmod(col("doc_id"), lit(5)).cast("string"),
    lit(".COM"),
    when(pmod(col("doc_id"), lit(3)) === 0, lit(":443"))
      .when(pmod(col("doc_id"), lit(3)) === 1, lit(":80"))
      .otherwise(lit("")),
    lit("/Path/To/Item"),
    when(pmod(col("doc_id"), lit(4)) === 0, lit("/")).otherwise(lit("")),
    lit("?b=2&utm_source=feed&a=1"),
    when(pmod(col("doc_id"), lit(7)) === 0, lit("&ref=home&z=9"))
      .otherwise(lit("")),
    lit("#frag"), col("doc_id").cast("string"))

  /** Deterministic PSL-hard synthetic URL per document — shared shape
    * between q_url_parse2's Spark side and its DuckDB oracle. The
    * doc_id%9 == 4 branch omits the `u<k>.` prefix so the host IS a
    * public suffix under the `*.ck` wildcard (site must be NULL). */
  private def pslUrl: Column = concat(
    lit("https://"),
    when(pmod(col("doc_id"), lit(11)) === 0, lit("user:pw@")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(4)) === 0, lit("www.")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(9)) === 4, lit(""))
      .otherwise(concat(lit("u"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit("."))),
    when(pmod(col("doc_id"), lit(9)) === 0, lit("example.co.uk"))
      .when(pmod(col("doc_id"), lit(9)) === 1, lit("example.com.au"))
      .when(pmod(col("doc_id"), lit(9)) === 2, lit("city.kawasaki.jp"))
      .when(pmod(col("doc_id"), lit(9)) === 3, lit("sub.kawasaki.jp"))
      .when(pmod(col("doc_id"), lit(9)) === 4, lit("example.ck"))
      .when(pmod(col("doc_id"), lit(9)) === 5, lit("www.ck"))
      .when(pmod(col("doc_id"), lit(9)) === 6, lit("pages.github.io"))
      .when(pmod(col("doc_id"), lit(9)) === 7, lit("example.unknown"))
      .otherwise(lit("example.org")),
    when(pmod(col("doc_id"), lit(5)) === 0, lit(":8080")).otherwise(lit("")),
    lit("/p/"), col("doc_id").cast("string"), lit("?ref=rss#top"))

  /** The same byte-level FNV-1a fold as [[sqlFnvBucket]] but
    * UNREDUCED — the full unsigned 64-bit hash as HUGEINT. Used where
    * an oracle needs the hash's high bits (`// 2048` = the kernel's
    * `>>> 11` top-53-bit uniform), not a bucket id. */
  /** [[sqlFnvRaw]] folded to Spark's SIGNED Long (the Fnv64
    * expression's output) — the sig-CTE two's-complement fold. */
  private def sqlFnvSigned(x: String): String =
    s"CAST(${sqlFnvRaw(x)} - CASE WHEN ${sqlFnvRaw(x)} >= " +
      s"CAST('9223372036854775808' AS HUGEINT) THEN $sqlMod " +
      s"ELSE CAST(0 AS HUGEINT) END AS BIGINT)"

  /** q_robots_filter oracle: synthesis (bodies from [[robotsBodies]]
    * keyed by fnv64(site) % bodies.length), the declarative parse
    * (line split, UA-run-start group window, per-group agent tokens,
    * RFC §2.2.1 most-specific-PREFIX selection decided from the agent
    * frame with `*` only when no token prefix-matches), the identical
    * regex compilation, and the longest-match decision as a max over
    * (spec, allow, rule) structs. */
  /** The robots parse + §2.2.1 selection CTE chain shared by the
    * q_robots_filter and q_robots_meta oracles: synthesis (`u`/`us`),
    * body assignment (`rb`), line/group parse (`rlines`→`grp`), agent
    * tokens + prefix selection (`agents`→`sel(site, g)`). */
  private def sqlRobotsCommonCtes: String = {
    val bodies = robotsBodies.zipWithIndex.map { case (b, i) =>
      s"WHEN $i THEN '${b.replace("'", "''")}'"
    }.mkString(" ")
    s"""u AS (
       |  SELECT doc_id,
       |    'https://' ||
       |    CASE WHEN doc_id % 11 = 0 THEN 'user:pw@' ELSE '' END ||
       |    CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
       |    'u' || (doc_id % 7) || '.host' || (doc_id % 13) ||
       |    CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
       |         WHEN doc_id % 3 = 1 THEN '.org' ELSE '.com' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
       |    '/p/' || doc_id || '?ref=rss#top' AS url
       |  FROM documents),
       |us AS (SELECT doc_id, url,
       |  ${sqlSiteOf(sqlHostOf("url"))} AS site FROM u),
       |rb AS (
       |  SELECT site, CASE CAST(${sqlFnvRaw("site")} % ${robotsBodies.length} AS INT)
       |    $bodies END AS txt
       |  FROM (SELECT DISTINCT site FROM us)),
       |rlines AS (
       |  SELECT site, i AS pos,
       |    trim(regexp_replace(regexp_replace(parts[i], '\\r$$', ''),
       |      '#.*$$', '')) AS line
       |  FROM (SELECT site, string_split(txt, chr(10)) AS parts FROM rb),
       |       unnest(generate_series(1, len(parts))) g(i)),
       |tagged AS (
       |  SELECT site, pos, line,
       |    regexp_matches(lower(line), '^user-agent\\s*:') AS is_ua,
       |    CASE WHEN regexp_matches(lower(line), '^allow\\s*:') THEN 'allow'
       |         WHEN regexp_matches(lower(line), '^disallow\\s*:') THEN 'disallow'
       |    END AS kind,
       |    trim(substr(line, instr(line, ':') + 1)) AS val
       |  FROM rlines),
       |marks AS (
       |  SELECT *, CASE WHEN is_ua AND NOT coalesce(
       |      lag(is_ua) OVER (PARTITION BY site ORDER BY pos), false)
       |    THEN 1 ELSE 0 END AS ua_start
       |  FROM tagged),
       |grp AS (
       |  SELECT *, sum(ua_start)
       |    OVER (PARTITION BY site ORDER BY pos
       |          ROWS UNBOUNDED PRECEDING) AS g
       |  FROM marks),
       |agents AS (
       |  SELECT DISTINCT site, g, lower(val) AS ua
       |  FROM grp WHERE is_ua),
       |agm AS (
       |  SELECT site, g, ua,
       |    ua <> '*' AND starts_with('graftbot', ua) AS m_spec
       |  FROM agents),
       |best AS (
       |  SELECT site, max(length(ua)) AS best_len
       |  FROM agm WHERE m_spec GROUP BY site),
       |sel AS (
       |  SELECT DISTINCT a.site, a.g
       |  FROM agm a JOIN best b ON a.site = b.site
       |  WHERE a.m_spec AND length(a.ua) = b.best_len
       |  UNION
       |  SELECT site, g FROM agm
       |  WHERE ua = '*' AND site NOT IN (SELECT site FROM best))""".stripMargin
  }

  private def qRobotsFilterOracle: String = {
    s"""WITH $sqlRobotsCommonCtes,
       |rules0 AS (
       |  SELECT r.site, r.kind = 'allow' AS allow, r.val AS rule_path,
       |    length(r.val) AS spec
       |  FROM grp r JOIN sel USING (site, g)
       |  WHERE r.kind IS NOT NULL AND length(r.val) > 0),
       |rrules AS (
       |  SELECT r.site, r.allow, r.rule_path, r.spec,
       |    '^' || replace(regexp_replace(
       |      CASE WHEN r.rule_path LIKE '%$$'
       |        THEN substr(r.rule_path, 1, length(r.rule_path) - 1)
       |        ELSE r.rule_path END,
       |      '([.\\[\\]{}()+?^$$|\\\\])', '\\\\\\1', 'g'), '*', '.*')
       |      || CASE WHEN r.rule_path LIKE '%$$' THEN '$$' ELSE '' END AS pattern
       |  FROM rules0 r),
       |paths AS (
       |  SELECT doc_id, site,
       |    CASE WHEN p = '' THEN '/' ELSE p END AS path
       |  FROM (SELECT doc_id, site, regexp_extract(url,
       |    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1) AS p FROM us)),
       |cand AS (
       |  SELECT p.doc_id, p.site, p.path,
       |    CASE WHEN r.pattern IS NOT NULL AND regexp_matches(p.path, r.pattern)
       |      THEN {'spec': r.spec, 'a': CAST(r.allow AS INT),
       |            'rule_path': r.rule_path} END AS m
       |  FROM paths p LEFT JOIN rrules r ON p.site = r.site),
       |w AS (SELECT doc_id, site, path, max(m) AS win
       |      FROM cand GROUP BY doc_id, site, path)
       |SELECT doc_id, site, path,
       |  coalesce(win.a = 1, true) AS allowed, win.rule_path AS rule
       |FROM w""".stripMargin
  }

  /** q_robots_meta oracle: the shared parse/selection chain, then the
    * global Sitemap harvest (count + lexicographic min) and the
    * selected groups' minimum Crawl-delay (TRY_CAST == the operator's
    * try_cast null-on-garbage contract). */
  private def qRobotsMetaOracle: String =
    s"""WITH $sqlRobotsCommonCtes,
       |sm AS (
       |  SELECT site, CAST(count(*) AS INT) AS n_sitemaps,
       |    min(val) AS first_sitemap
       |  FROM grp WHERE regexp_matches(lower(line), '^sitemap\\s*:')
       |  GROUP BY site),
       |cd AS (
       |  SELECT g2.site, min(TRY_CAST(g2.val AS DOUBLE)) AS crawl_delay
       |  FROM grp g2 JOIN sel ON g2.site = sel.site AND g2.g = sel.g
       |  WHERE regexp_matches(lower(g2.line), '^crawl-delay\\s*:')
       |  GROUP BY g2.site),
       |sites AS (SELECT DISTINCT site FROM us)
       |SELECT s.site, cd.crawl_delay,
       |  coalesce(sm.n_sitemaps, 0) AS n_sitemaps, sm.first_sitemap
       |FROM sites s
       |LEFT JOIN cd ON cd.site = s.site
       |LEFT JOIN sm ON sm.site = s.site""".stripMargin

  /** DuckDB replay of [[graft.operators.WebClean.urlHost]]. */
  private def sqlHostOf(url: String): String =
    s"regexp_replace(regexp_extract(lower($url), " +
      s"'^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([a-z0-9.-]+)', 1), " +
      s"'^www\\.', '')"

  /** DuckDB replay of [[graft.operators.WebClean.urlSite]] over an
    * already-computed host expression. */
  private def sqlSiteOf(host: String): String =
    s"CASE WHEN regexp_matches($host, " +
      s"'\\.(co|ac|gov|com|org|net)\\.(uk|au|nz|jp|br|in)$$') " +
      s"THEN regexp_extract($host, '([a-z0-9-]+\\.[a-z0-9-]+\\.[a-z0-9-]+)$$', 1) " +
      s"ELSE regexp_extract($host, '([a-z0-9-]+\\.[a-z0-9-]+)$$', 1) END"

  /** Planted X-Robots-Tag header arrays per document (doc_id % 8) —
    * shared shape with the q_xrobots truth-table oracle: plain
    * noindex (0), a comma list (1), scoped to OUR agent (2), scoped
    * to another agent — must not apply (3), the `unavailable_after:`
    * colon trap — a directive, not a scope (4), `NONE` uppercase (5),
    * TWO headers whose directives union (6), no robots header (7).
    * A `server` header and an `x-powered-by` decoy ride on every row. */
  private def xRobotsHeaders: Column = {
    def hdr(n: String, v: Column) =
      struct(lit(n).as("name"), v.as("value"))
    val xrt = (v: Column) => hdr("x-robots-tag", v)
    val m = pmod(col("doc_id"), lit(8))
    val base = Seq(hdr("server", lit("graft")),
      hdr("x-powered-by", lit("noindex")))
    concat(array(base: _*),
      when(m === 0, array(xrt(lit("noindex"))))
        .when(m === 1, array(xrt(lit("noarchive, nofollow"))))
        .when(m === 2, array(xrt(lit("graftbot: noindex"))))
        .when(m === 3, array(xrt(lit("otherbot: noindex"))))
        .when(m === 4, array(xrt(lit("unavailable_after: 2026-01-01"))))
        .when(m === 5, array(xrt(lit("NONE"))))
        .when(m === 6, array(xrt(lit("noindex")), xrt(lit("nofollow"))))
        .otherwise(array().cast("array<struct<name:string,value:string>>")))
  }

  /** Planted meta-robots page per document (doc_id % 8) — shared
    * shape with the q_meta_robots oracle: double-quoted
    * name-then-content (0), single-quoted content-then-name (1),
    * UPPERCASE `NONE` (2), no tag (3), explicit index,follow (4),
    * TWO separate tags whose directives must union (5), an UNQUOTED
    * content value (6), and an unquoted comma-list in content-first
    * order (7). TWO decoys ride on every page (must never match): a
    * non-robots `<meta name="viewport">` tag, and a
    * `data-name="robots" data-content=...` tag — the unanchored-
    * attribute trap (a regex without the whitespace anchor reads the
    * data-* attributes as the real ones and plants false
    * directives). */
  private def metaRobotsPage: Column = concat(
    lit("<html><head><meta name=\"viewport\" content=\"width=1\">" +
      "<meta data-name=\"robots\" data-content=\"noindex,nofollow\">"),
    when(pmod(col("doc_id"), lit(8)) === 0,
      lit("<meta name=\"robots\" content=\"noindex, follow\">"))
      .when(pmod(col("doc_id"), lit(8)) === 1,
        lit("<meta content='nofollow' name='robots'>"))
      .when(pmod(col("doc_id"), lit(8)) === 2,
        lit("<META NAME=\"ROBOTS\" CONTENT=\"NONE\">"))
      .when(pmod(col("doc_id"), lit(8)) === 3, lit(""))
      .when(pmod(col("doc_id"), lit(8)) === 5,
        lit("<meta name=\"robots\" content=\"noindex\">" +
          "<meta name=\"robots\" content=\"nofollow\">"))
      .when(pmod(col("doc_id"), lit(8)) === 6,
        lit("<meta name=robots content=noindex>"))
      .when(pmod(col("doc_id"), lit(8)) === 7,
        lit("<meta content=noindex,nofollow name=robots>"))
      .otherwise(lit("<meta name=\"robots\" content=\"index,follow\">")),
    lit("</head><body><p>"), col("text"), lit("</p></body></html>"))

  /** The eight planted robots.txt bodies q_robots_filter assigns to
    * sites by fnv64(site) % 8 (8 divides 2^64, so the oracle's
    * unsigned HUGEINT modulus equals Spark's signed pmod) — shared
    * verbatim between the Spark synthesis and the oracle. Coverage:
    * group fallback to `*` with a longest-match allow override +
    * empty Disallow + comment + unknown directive (0); a
    * specific-agent group that blocks everything while the `*` group
    * allows (1); `*` wildcards mid-rule (2); a combined
    * `*`-and-`$`-anchor rule with an escaped `?` (3); RFC §2.2.1
    * most-specific-agent precedence — the exact `graftbot` token must
    * beat the shorter `graft` prefix group (4); a matched group whose
    * only directive is an empty `Disallow:` — default allow, must NOT
    * fall back to the blocking `*` group (5); selection via PREFIX
    * token alone (`graft` matches agent `graftbot`) (6); a token
    * LONGER than the agent (`graftbotx`) must not match — falls back
    * to `*` (7). Non-rule directives ride several bodies for
    * q_robots_meta and are INVISIBLE to the rule parse: a `*`-group
    * Crawl-delay + a global Sitemap (0), group-scoped Crawl-delays
    * where the SELECTED group's value must win (9 in the `graft`
    * prefix group vs 2.5 in the exact `graftbot` group — 4), two
    * Sitemap lines (5), and neither on the rest. */
  private val robotsBodies: Seq[String] = Seq(
    "User-agent: *\nDisallow: /p/\nAllow: /p/1*\nDisallow:\n# note\n" +
      "Crawl-delay: 5\nSitemap: https://s0.example.org/map1.xml",
    "User-agent: graftbot\nUser-agent: otherbot\nDisallow: /\n\nUser-agent: *\nDisallow:",
    "User-agent: *\nDisallow: /*?ref=*\nAllow: /p/",
    "User-agent: *\nDisallow: /p/*3?ref=rss$",
    "User-agent: graft\nDisallow: /p/\nCrawl-delay: 9\n\n" +
      "User-agent: graftbot\nAllow: /\nCrawl-delay: 2.5\n\n" +
      "User-agent: *\nDisallow: /",
    "User-agent: graftbot\nDisallow:\n\nUser-agent: *\nDisallow: /\n" +
      "Sitemap: https://s5.example.org/b.xml\n" +
      "Sitemap: https://s5.example.org/a.xml",
    "User-agent: graft\nDisallow: /p/\n\nUser-agent: *\nAllow: /",
    "User-agent: graftbotx\nDisallow: /\n\nUser-agent: *\nDisallow: /p/9*")

  /** Planted main-content page per document — shared shape with the
    * q_main_content oracle: a link-dense nav list (each item short AND
    * anchor-only), a short header, TWO long article paragraphs (the
    * main content a correct extraction keeps), a share bar whose
    * visible text is long enough but majority-anchor (dropped by link
    * density, not length), an anchor-only footer, plus title/style
    * blocks the pre-strip and length rule must exclude. */
  private def mainContentPage: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style type=\"text/css\">p { color: red; }</style>" +
      "</head><body>" +
      "<nav><ul><li><a href=\"/\">Home</a></li>" +
      "<li><a href=\"/about\">About us</a></li>" +
      "<li><a href=\"/contact\">Contact</a></li></ul></nav>" +
      "<header><h1>Site "),
    pmod(col("doc_id"), lit(7)).cast("string"),
    lit(" news</h1></header><article><p>"), col("text"),
    lit("</p><p>Continued coverage of the story: "), col("text"),
    lit("</p></article>" +
      "<div class=\"share\">Share this article with your friends: " +
      "<a href=\"/fb\">Facebook page</a> <a href=\"/tw\">Twitter feed</a> " +
      "<a href=\"/nl\">Email newsletter</a></div>" +
      "<footer><a href=\"/t\">Terms of service</a> " +
      "<a href=\"/p\">Privacy policy</a> " +
      "<a href=\"/i\">Imprint notice</a></footer></body></html>"))

  /** The [[mainContentPage]] synthesis as SQL. */
  private val sqlMainContentPage: String =
    """'<html><head><title>Doc ' || doc_id ||
      |'</title><style type="text/css">p { color: red; }</style>' ||
      |'</head><body>' ||
      |'<nav><ul><li><a href="/">Home</a></li>' ||
      |'<li><a href="/about">About us</a></li>' ||
      |'<li><a href="/contact">Contact</a></li></ul></nav>' ||
      |'<header><h1>Site ' || (doc_id % 7) ||
      |' news</h1></header><article><p>' || text ||
      |'</p><p>Continued coverage of the story: ' || text ||
      |'</p></article>' ||
      |'<div class="share">Share this article with your friends: ' ||
      |'<a href="/fb">Facebook page</a> <a href="/tw">Twitter feed</a> ' ||
      |'<a href="/nl">Email newsletter</a></div>' ||
      |'<footer><a href="/t">Terms of service</a> ' ||
      |'<a href="/p">Privacy policy</a> ' ||
      |'<a href="/i">Imprint notice</a></footer></body></html>'"""
      .stripMargin.replace("\n", " ")

  /** DuckDB replay of [[graft.functions.WebText]]'s `visible()` —
    * tags→space, the five core entities (&amp; last), whitespace
    * collapse, trim. */
  private def sqlVisibleOf(x: String): String =
    s"""trim(regexp_replace(
       |  replace(replace(replace(replace(replace(replace(
       |    regexp_replace($x, '(?s)<[^>]*>', ' ', 'g'),
       |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |  '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
       |  '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))""".stripMargin
      .replace("\n", " ")

  /** The [[linkPage]] synthesis as SQL — shared by the link-extraction
    * oracles. */
  private val sqlLinkPage: String =
    """'<html>' ||
      |CASE WHEN doc_id % 6 = 0 THEN '<head><base href="/bd/sub/"></head>'
      |     WHEN doc_id % 6 = 3
      |       THEN '<head><base href=''http://basehost.example.org/x/''></head>'
      |     ELSE '' END ||
      |'<body><p>' || text || '</p>' ||
      |'<area href="http://decoy.example.net/a">' ||
      |'<a href="http://u' || (doc_id % 7) || '.host' || (doc_id % 13) ||
      |  '.com/p/' || doc_id || '">x</a>' ||
      |'<A HREF=''https://www.hub' || (doc_id % 5) ||
      |  '.example.org/dir/''>y</A>' ||
      |'<a data-href="http://decoy2.example.net/b">no</a>' ||
      |'<a href="/relative/' || doc_id || '">rel</a>' ||
      |'<a href="http://u' || ((doc_id + 1) % 7) || '.host' ||
      |  ((doc_id + 1) % 13) || '.com/q?a=1#f">z</a>' ||
      |'<a href=http://cdn' || (doc_id % 5) || '.example.net/lib.js>u</a>' ||
      |'<a href="../up/' || (doc_id % 9) || '">d</a>' ||
      |'<a href="?page=2">q</a>' ||
      |'<a href="//mirror' || (doc_id % 3) || '.example.com/m">p</a>' ||
      |'<a href="#sec">s</a></body></html>'"""
      .stripMargin.replace("\n", " ")

  /** The [[syntheticUrl]] synthesis as SQL — the page URL the
    * link-extraction oracles resolve relative hrefs against. */
  private val sqlSyntheticUrl: String =
    """'https://' ||
      |CASE WHEN doc_id % 11 = 0 THEN 'user:pw@' ELSE '' END ||
      |CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
      |'u' || (doc_id % 7) || '.host' || (doc_id % 13) ||
      |CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
      |     WHEN doc_id % 3 = 1 THEN '.org' ELSE '.com' END ||
      |CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
      |'/p/' || doc_id || '?ref=rss#top'"""
      .stripMargin.replace("\n", " ")

  /** Link-extraction CTE chain shared by q_link_extract /
    * q_domain_rank: `pages(doc_id, base_url, html)` → extracted hrefs
    * (the [[graft.operators.WebClean.hrefPattern]] regex verbatim,
    * conditional quote strip) → the RFC 3986 resolution replay
    * (DuckDB lateral column aliases walk the same merge/dot-segment
    * chain as [[graft.operators.WebClean.resolveUrl]], 'g'-flagged
    * replaces == Spark's replace-all) → `abslinks(doc_id, pos, url)`
    * (pos 0-based over ALL hrefs, then the http(s) filter). */
  /** The RFC 3986 resolution replay as a lateral-column-alias SELECT
    * fragment (DuckDB evaluates each alias once per row — the same
    * bound-step discipline as `WebClean.resolveUrl`): resolves `href`
    * against `base`, emitting every intermediate with prefix `p` and
    * the result as `${p}url`. Used TWICE by the link oracles: once
    * per page for the `<base href>` element, once per anchor. */
  private def sqlResolveCols(p: String, base: String, href: String): String =
    s"""trim($href) AS ${p}h,
       |    regexp_extract($base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS ${p}sch,
       |    regexp_extract($base,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS ${p}auth,
       |    regexp_extract($base,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS ${p}bpath,
       |    CASE WHEN ${p}bpath = '' THEN '/' ELSE ${p}bpath END AS ${p}por,
       |    CASE WHEN ${p}bpath = '' THEN '/'
       |      ELSE regexp_replace(${p}bpath, '[^/]*$$', '') END AS ${p}bdir,
       |    CASE
       |      WHEN regexp_matches(${p}h, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN ${p}h
       |      WHEN ${p}sch = '' THEN NULL
       |      WHEN ${p}h LIKE '//%' THEN ${p}sch || ':' || ${p}h
       |      WHEN ${p}h LIKE '/%' THEN ${p}sch || '://' || ${p}auth || ${p}h
       |      WHEN ${p}h LIKE '?%'
       |        THEN ${p}sch || '://' || ${p}auth || ${p}por || ${p}h
       |      WHEN ${p}h = '' OR ${p}h LIKE '#%' THEN NULL
       |      ELSE ${p}sch || '://' || ${p}auth || ${p}bdir || ${p}h
       |    END AS ${p}merged,
       |    regexp_extract(${p}merged, '^([^?#]*)', 1) AS ${p}pre,
       |    substr(${p}merged, length(${p}pre) + 1) AS ${p}post,
       |    regexp_extract(${p}merged,
       |      '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS ${p}hier,
       |    substr(${p}pre, length(${p}hier) + 1) AS ${p}path0,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(${p}path0,
       |      '/\\./', '/', 'g'), '/\\./', '/', 'g'), '/\\./', '/', 'g'),
       |      '/\\.$$', '/') AS ${p}nodot,
       |    regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(${p}nodot,
       |      '^/\\.\\./', '/'), '/[^/]+/\\.\\./', '/', 'g'), '/[^/]+/\\.\\.$$', '/'),
       |      '^/\\.\\./', '/'), '/[^/]+/\\.\\./', '/', 'g'), '/[^/]+/\\.\\.$$', '/'),
       |      '^/\\.\\./', '/'), '/[^/]+/\\.\\./', '/', 'g'), '/[^/]+/\\.\\.$$', '/'),
       |      '^/\\.\\./', '/'), '/[^/]+/\\.\\./', '/', 'g'), '/[^/]+/\\.\\.$$', '/')
       |      AS ${p}noup,
       |    regexp_replace(${p}noup, '^/\\.\\.$$', '/') AS ${p}npath,
       |    CASE WHEN ${p}merged IS NULL THEN NULL
       |      WHEN ${p}hier = '' THEN ${p}merged
       |      ELSE ${p}hier || ${p}npath || ${p}post END AS ${p}url""".stripMargin

  private val sqlLinkItemsCtes: String =
    s"""rawpages AS (SELECT doc_id, $sqlSyntheticUrl AS page_url,
       |  $sqlLinkPage AS html FROM documents),
       |pb AS (
       |  SELECT doc_id, page_url, html,
       |    regexp_extract(html,
       |      '(?i)<base\\s(?:[^>]*\\s)?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s>"''][^\\s>]*)',
       |      1) AS bh0,
       |    CASE WHEN regexp_matches(bh0, '^["'']')
       |      THEN substr(bh0, 2, length(bh0) - 2) ELSE bh0 END AS bh
       |  FROM rawpages),
       |pe AS (
       |  SELECT doc_id, page_url, html,
       |    ${sqlResolveCols("b_", "page_url", "bh")}
       |  FROM pb),
       |pages AS (
       |  SELECT doc_id, coalesce(b_url, page_url) AS base_url, html
       |  FROM pe),
       |ex AS (
       |  SELECT doc_id, base_url, regexp_extract_all(html,
       |    '(?i)<a\\s(?:[^>]*\\s)?href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s>"''][^\\s>]*)',
       |    1) AS qs
       |  FROM pages),
       |items AS (
       |  SELECT doc_id, base_url, CAST(i - 1 AS INT) AS pos,
       |    CASE WHEN regexp_matches(qs[i], '^["'']')
       |      THEN substr(qs[i], 2, length(qs[i]) - 2) ELSE qs[i] END AS href
       |  FROM ex, unnest(generate_series(1, len(qs))) AS g(i)),
       |res AS (
       |  SELECT doc_id, pos,
       |    ${sqlResolveCols("", "base_url", "href")}
       |  FROM items),
       |abslinks AS (
       |  SELECT doc_id, pos, url FROM res
       |  WHERE regexp_matches(lower(url), '^https?://'))""".stripMargin

  /** The ring+hub+stride edge list both graph oracles share —
    * replays [[syntheticLinkGraph]] with n from a 1-row count CTE. */
  private val sqlLinkGraphCtes: String =
    """edges AS MATERIALIZED (
      |  SELECT DISTINCT src, CASE j
      |    WHEN 0 THEN (src + 1) % n
      |    WHEN 1 THEN (src * 7) % 101
      |    ELSE (src * 37 + 11) % n END AS dst
      |  FROM (SELECT doc_id AS src FROM documents),
      |       (SELECT count(*) AS n FROM documents), range(0, 3) r(j)),
      |nodes AS MATERIALIZED (
      |  SELECT src AS id FROM edges UNION SELECT dst FROM edges)""".stripMargin

  /** The PageRank round CTEs (deg, r0, r1..rN) over upstream
    * `edges(src, dst)` (already DISTINCT) and `nodes(id)` CTEs — the
    * damping literals are DERIVED from the same parameters the Spark
    * side passes to Graph.pageRank (base = 1e6·(den−num)//den exactly
    * as pageRank computes baseMicro), so changing the operator
    * parameters cannot silently diverge an oracle. Composable:
    * q_pagerank runs it over the synthetic ring+hub+stride graph,
    * q_domain_rank over the extracted-link domain graph. */
  private def sqlPageRankRounds(iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L): String = {
    val baseMicro = 1000000L * (dampDen - dampNum) / dampDen
    val head =
      s"""deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.id, CAST($baseMicro + ($dampNum * coalesce(m.s, 0)) // $dampDen AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.rank // d.d) AS s
         |    FROM edges e JOIN deg d ON e.src = d.src
         |                 JOIN r${i - 1} r ON r.id = e.src
         |    GROUP BY e.dst) m ON n.id = m.id)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** q_pagerank oracle: `iters` rounds of the micro-unit power
    * iteration as chained CTEs over the ring+hub+stride edge list.
    * BIGINT // BIGINT floor division matches Spark's `div`; the
    * HUGEINT contribution sums cast back losslessly (total mass is
    * bounded by n·1e6). */
  private def sqlPageRankOracle(iters: Int): String =
    s"""WITH $sqlLinkGraphCtes,
       |${sqlPageRankRounds(iters)}
       |SELECT id AS node, rank AS rank_micro FROM r$iters
       |ORDER BY rank_micro DESC, node LIMIT 100""".stripMargin

  /** q_hits oracle: `iters` unrolled (authority, hub) half-step pairs;
    * each half-step is a Long-sum aggregation then the pure-integer
    * renormalization `x // greatest(1, (max+999999) // 1e6)` with the
    * max as a scalar subquery — Spark's broadcast 1-row frame. */
  private def sqlHitsOracle(iters: Int): String = {
    val head =
      s"""WITH $sqlLinkGraphCtes,
         |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS v FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT n.id, coalesce(m.s, 0) AS raw FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(h.v) AS s
         |    FROM edges e JOIN h${i - 1} h ON h.id = e.src
         |    GROUP BY e.dst) m ON n.id = m.id),
         |a$i AS MATERIALIZED (
         |  SELECT id, CAST(raw // greatest(1,
         |    ((SELECT max(raw) FROM ar$i) + 999999) // 1000000) AS BIGINT) AS v
         |  FROM ar$i),
         |hr$i AS MATERIALIZED (
         |  SELECT n.id, coalesce(m.s, 0) AS raw FROM nodes n LEFT JOIN (
         |    SELECT e.src AS id, sum(a.v) AS s
         |    FROM edges e JOIN a$i a ON a.id = e.dst
         |    GROUP BY e.src) m ON n.id = m.id),
         |h$i AS MATERIALIZED (
         |  SELECT id, CAST(raw // greatest(1,
         |    ((SELECT max(raw) FROM hr$i) + 999999) // 1000000) AS BIGINT) AS v
         |  FROM hr$i)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"""
         |SELECT n.id AS node, a.v AS auth_micro, h.v AS hub_micro
         |FROM nodes n JOIN a$iters a ON n.id = a.id
         |             JOIN h$iters h ON n.id = h.id
         |ORDER BY auth_micro DESC, hub_micro DESC, node LIMIT 100""".stripMargin
  }

  /** q_url_parse2 DuckDB oracle — the same host chain as q_url_parse,
    * then the published public-suffix algorithm replayed relationally:
    * candidate suffixes explode per label, the embedded rule set
    * (normal / wildcard / exception, rendered from the SAME bundled
    * subset the Spark side loads) joins in, the prevailing rule is
    * (exception first, then most labels), and site/suffix rebuild from
    * the winning label count. Its string construction needs the PSL
    * classpath resource; a missing resource fails only THIS entry,
    * never the whole oracle artifact (the round-11 artifact-zeroing
    * failure). */
  private def qUrlParse2Oracle: String =
      s"""WITH u AS (
         |  SELECT doc_id,
         |    'https://' ||
         |    CASE WHEN doc_id % 11 = 0 THEN 'user:pw@' ELSE '' END ||
         |    CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
         |    CASE WHEN doc_id % 9 = 4 THEN '' ELSE 'u' || (doc_id % 7) || '.' END ||
         |    CASE WHEN doc_id % 9 = 0 THEN 'example.co.uk'
         |         WHEN doc_id % 9 = 1 THEN 'example.com.au'
         |         WHEN doc_id % 9 = 2 THEN 'city.kawasaki.jp'
         |         WHEN doc_id % 9 = 3 THEN 'sub.kawasaki.jp'
         |         WHEN doc_id % 9 = 4 THEN 'example.ck'
         |         WHEN doc_id % 9 = 5 THEN 'www.ck'
         |         WHEN doc_id % 9 = 6 THEN 'pages.github.io'
         |         WHEN doc_id % 9 = 7 THEN 'example.unknown'
         |         ELSE 'example.org' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
         |    '/p/' || doc_id || '?ref=rss#top' AS url
         |  FROM documents),
         |hh AS (
         |  SELECT doc_id, regexp_replace(regexp_replace(
         |    regexp_extract(lower(url),
         |      '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([a-z0-9.-]+)', 1),
         |    '^www\\.', ''), '\\.+$$', '') AS host
         |  FROM u),
         |$sqlPslRules,
         |labs AS (SELECT doc_id, host, string_split(host, '.') AS L FROM hh),
         |cands AS (
         |  SELECT doc_id, i, len(L) AS n, len(L) - i + 1 AS nl,
         |    array_to_string(L[i:], '.') AS suffix,
         |    array_to_string(L[i+1:], '.') AS rest
         |  FROM labs, unnest(generate_series(1, len(L))) g(i)),
         |m AS (
         |  SELECT doc_id, 1 AS is_exc, nl FROM cands JOIN excs ON suffix = r
         |  UNION ALL
         |  SELECT doc_id, 0 AS is_exc, nl FROM cands JOIN norms ON suffix = r
         |  UNION ALL
         |  SELECT doc_id, 0 AS is_exc, nl FROM cands JOIN wilds ON rest = r AND i < n),
         |best AS (
         |  SELECT doc_id, is_exc, nl,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY is_exc DESC, nl DESC) AS rn
         |  FROM m),
         |ps AS (
         |  SELECT l.doc_id, l.host, l.L, len(l.L) AS n,
         |    coalesce(CASE WHEN b.is_exc = 1 THEN b.nl - 1 ELSE b.nl END, 1) AS k
         |  FROM labs l LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id))
         |SELECT doc_id, host,
         |  CASE WHEN n > k THEN array_to_string(L[n-k:], '.') END AS site,
         |  array_to_string(L[n-k+1:], '.') AS suffix
         |FROM ps""".stripMargin
}
