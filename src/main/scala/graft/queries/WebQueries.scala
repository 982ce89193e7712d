package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.DuckSql._
import graft.queries.QueryDef.t
import graft.streaming.EventsStreaming

/** Web-page queries: PII detection and scrubbing, URL blocklists, HTML
  * extraction and outlinks, URL canonicalization and the key-set
  * artifact, crawl ingest, host rank and WARC ingest.
  */
private[graft] object WebQueries {
  private final val family = "web"

  /** Shared q172/q175 extraction CTEs: the planted page and the
    * block-removal → tag-strip → entity-decode chain (HtmlOps
    * mirrored verbatim; 'g' on every multi-match replace).
    */
  private lazy val duckHtmlExtractCtes = duckHtmlExtractCtesFrom("documents")

  /** The extraction chain parameterized by its source relation (the
    * v4 crawl flagship runs it over the PII-planted corpus instead of
    * the raw table) and a CTE-name prefix (so it can nest inside the
    * corpus gate chain without colliding with its p/e names); `src`
    * must expose (doc_id, text).
    */
  private def duckHtmlExtractCtesFrom(src: String, pfx: String = "") =
    s"""${pfx}p AS (SELECT doc_id, $duckFetchHost AS fetch_host,
       |  $duckHtml AS html FROM $src),
       |${duckExtractFromHtmlCtes(pfx)}""".stripMargin

  /** q175/q176 (batch and stream share the oracle, the q167/q171
    * pattern): the q172 chain + per-page blocked-outlink counts
    * (lambda filter over the href list, blocklist inlined — mirroring
    * the Spark side's join-free plan).
    */
  private lazy val q175Sql =
    s"""WITH $duckHtmlExtractCtes,
       |k AS (SELECT doc_id, fetch_host, html, de,
       |  regexp_extract_all(html, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1) AS ls FROM e),
       |n AS (SELECT doc_id, html, de,
       |  CAST(len(ls) AS BIGINT) AS n_links,
       |  CAST(len(list_filter(ls, u ->
       |    ${duckDomainOf(duckLinkHost("u"))}
       |    IN ('s2.example', 's5.example', 's11.example')))
       |    AS BIGINT) AS n_blocked_links
       |  FROM k)
       |SELECT doc_id,
       |  regexp_extract(html, '<[Tt][Ii][Tt][Ll][Ee]>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>', 1) AS title,
       |  n_links, n_blocked_links,
       |  (n_blocked_links = 0) AS page_ok,
       |  trim(regexp_replace(de, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
       |    AS text_clean
       |FROM n""".stripMargin

  // shared by q167 (the batch scrub audit) and q171 (the same scrub
  // through readStream — identical audit space)
  private lazy val q167Sql =
    s"""WITH $duckRedactCtes
       |SELECT doc_id,
       |  $duckRedactAuditCols
       |FROM r""".stripMargin

  /** q178: the canonical-URL KEY SET as a maintained artifact — the
    * first fetch wave (ids < 250) seeds it, the second wave ingests
    * via the bucket-pruned anti-join append, and the keep verdict is
    * probed over the FULL corpus from the reloaded artifact. Under
    * fetch-ordered waves keep-first == keep-lowest, so the oracle is
    * the batch q174 recompute (sans n_dups — group sizes are not the
    * artifact's to answer).
    */
  private def urlKeyArtifactVerdicts(s: SparkSession, dir: String): DataFrame = {
    val urls = HtmlOps.plantedDirtyUrlCorpus(t(s, dir, "documents"))
    val scope = Memo.scope("graft-q178-", s, dir) { sc =>
      HtmlOps.saveUrlKeys(urls.filter(col("doc_id") < 250), sc, "urlkeys")
      HtmlOps.appendUrlKeys(urls.filter(col("doc_id") >= 250), sc, "urlkeys")
    }
    HtmlOps.urlKeyVerdicts(urls, scope, "urlkeys")
  }

  /** q179: the q178 maintenance as a STREAM — the first wave seeds
    * the artifact, waves two and three arrive as separate micro-
    * batches (one file each under maxFilesPerTrigger=1), each
    * appending its fresh keys before the next anti-joins them; the
    * stored key set is then probed over the full corpus against the
    * same batch oracle.
    */
  private def streamUrlKeyVerdicts(s: SparkSession, dir: String): DataFrame = {
    val urls = HtmlOps.plantedDirtyUrlCorpus(t(s, dir, "documents"))
    val scope = Memo.scope("graft-q179-", s, dir) { sc =>
      HtmlOps.saveUrlKeys(urls.filter(col("doc_id") < 250), sc, "urlkeys")
      // two fetch-ordered waves -> two micro-batches: the second
      // wave's duplicates of the first wave's pages must be rejected
      // by keys the FIRST wave appended mid-stream (mtimes pinned —
      // the kept-first doc_id the oracle replays is order-sensitive)
      EventsStreaming.writeWaveFile(
        urls.filter(col("doc_id") >= 250 && col("doc_id") < 375),
        sc.path("stream-src"), 0)
      EventsStreaming.writeWaveFile(
        urls.filter(col("doc_id") >= 375), sc.path("stream-src"), 1)
      EventsStreaming.streamingUrlKeyMaintenance(s,
        sc.path("stream-src"), sc, "urlkeys", sc.path("ckpt"))
    }
    HtmlOps.urlKeyVerdicts(urls, scope, "urlkeys")
  }

  private lazy val urlKeySql =
    s"""WITH p AS (SELECT doc_id, $duckDirtyUrl AS url
       |  FROM documents),
       |c AS (SELECT doc_id, url,
       |  ${duckCanonOf("url")} AS canon FROM p)
       |SELECT doc_id, url, canon,
       |  (row_number() OVER (PARTITION BY canon ORDER BY doc_id) = 1)
       |    AS is_canonical
       |FROM c""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // PII detection over the planted-PII corpus: per-class counts +
    // any-hit flag, one codegen'd projection — zero exchanges
    QueryDef("q166_pii_detect", family, (s, dir) =>
      PiiOps.piiDetect(PiiOps.plantedPiiCorpus(t(s, dir, "documents"))),
      // PII detect/redact over the planted corpus (PiiOps.plantedPiiCorpus
      // mirrored verbatim); regex classes explicit for RE2/Java parity
      s"""WITH p AS (SELECT doc_id, $duckPiiText AS text FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$duckEmailRe')) AS n_email,
         |  len(regexp_extract_all(text, '$duckPhoneRe')) AS n_phone,
         |  len(regexp_extract_all(text, '$duckIpRe')) AS n_ip,
         |  (len(regexp_extract_all(text, '$duckEmailRe'))
         |   + len(regexp_extract_all(text, '$duckPhoneRe'))
         |   + len(regexp_extract_all(text, '$duckIpRe'))) > 0 AS has_pii
         |FROM p""".stripMargin),
    // PII redaction audit: placeholder count, residual-PII self-gate
    // (must be 0), md5 pin of the redacted text — still zero exchanges
    QueryDef("q167_pii_redact", family, (s, dir) =>
      PiiOps.piiRedact(PiiOps.plantedPiiCorpus(t(s, dir, "documents"))),
      q167Sql),
    // URL → registrable-domain blocklist verdict: projection + one
    // BROADCAST join against the model-sized blocklist
    QueryDef("q168_url_blocklist", family, (s, dir) =>
      PiiOps.urlBlocklistFilter(
        PiiOps.plantedUrlCorpus(t(s, dir, "documents"))),
      // URL blocklist verdict; host/domain regexes mirrored from PiiOps
      s"""WITH p AS (SELECT doc_id, concat(text, ' See https://w',
         |    cast(doc_id % 97 as varchar), '.s', cast(doc_id % 13 as varchar),
         |    '.example/p/', cast(doc_id as varchar), ' ok.') AS text
         |  FROM documents),
         |h AS (SELECT doc_id,
         |        regexp_extract(text, 'https?://([^/ \\t\\n\\x0B\\f\\r]+)', 1)
         |          AS host FROM p),
         |d AS (SELECT doc_id, host,
         |        regexp_extract(regexp_replace(lower(host), ':[0-9]+$$', ''),
         |          '([^.]+\\.[^.]+)$$', 1) AS domain FROM h)
         |SELECT d.doc_id, d.host, d.domain, (b.domain IS NOT NULL) AS blocked
         |FROM d LEFT JOIN (VALUES ('s2.example'), ('s5.example'),
         |  ('s11.example')) b(domain) ON d.domain = b.domain""".stripMargin),
    // scrub-on-ingest: the q167 redaction audit under readStream —
    // stateless projection, no state store, same batch oracle
    QueryDef("q171_stream_pii_scrub", family, (s, dir) =>
      EventsStreaming.streamingPiiScrub(s, dir),
      // the same scrub through readStream (scrub-on-ingest): stateless
      // projection must land in the identical audit space
      q167Sql),
    // HTML main-text extraction (the crawl-ingestion stage before any
    // text analysis): head/script/style removal -> tag strip ->
    // ordered entity decode -> whitespace collapse; one zero-exchange
    // codegen'd projection over the planted deterministic pages
    QueryDef("q172_html_extract", family, (s, dir) =>
      HtmlOps.htmlExtract(
        HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))),
      // HTML extraction over the planted pages (duckHtml mirrored
      // verbatim): block removal -> tag strip -> ordered entity decode
      // -> whitespace collapse; 'g' on every multi-match replace
      // (Spark's regexp_replace is global, DuckDB's defaults to first)
      s"""WITH $duckHtmlExtractCtes
         |SELECT doc_id,
         |  regexp_extract(html, '<[Tt][Ii][Tt][Ll][Ee]>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>', 1) AS title,
         |  CAST(len(regexp_extract_all(html, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1))
         |    AS BIGINT) AS n_links,
         |  trim(regexp_replace(de, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
         |    AS text_clean
         |FROM e""".stripMargin),
    // outlink extraction (URL-frontier / link-graph feed) + the q168
    // registrable-domain blocklist verdict on every extracted link:
    // projection + posexplode + one BROADCAST join; the planted
    // fetch_host threads through so relative hrefs inherit the page's
    // own host and get a REAL verdict
    QueryDef("q173_html_outlinks", family, (s, dir) =>
      HtmlOps.htmlOutlinks(
        HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
        baseHostCol = Some("fetch_host")),
      // outlinks in document order (unnest(range) for the ordinal, the
      // q155 convention) + the q168 blocklist verdict per link
      s"""WITH p AS (SELECT doc_id, $duckFetchHost AS fetch_host,
         |        $duckHtml AS html FROM documents),
         |l AS (SELECT doc_id, fetch_host,
         |        regexp_extract_all(html, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1) AS ls
         |      FROM p),
         |x AS (SELECT doc_id, fetch_host, ls,
         |        unnest(range(0, len(ls))) AS i FROM l),
         |u AS (SELECT doc_id, fetch_host, CAST(i AS INT) AS link_idx,
         |        ls[CAST(i + 1 AS BIGINT)] AS url FROM x),
         |h AS (SELECT doc_id, link_idx, url,
         |        ${duckLinkHost("url")} AS host
         |      FROM u),
         |d AS (SELECT doc_id, link_idx, url, host,
         |        ${duckDomainOf("host")} AS domain
         |      FROM h)
         |SELECT d.doc_id, d.link_idx, d.url, d.host, d.domain,
         |  (b.domain IS NOT NULL) AS blocked
         |FROM d LEFT JOIN (VALUES ('s2.example'), ('s5.example'),
         |  ('s11.example')) b(domain) ON d.domain = b.domain""".stripMargin),
    // crawl-level URL dedup: canonical key (lowercased host minus
    // www./port, path minus trailing slash; scheme/query/fragment
    // dropped), keep = lowest doc_id — ONE shuffle, on the key
    QueryDef("q174_url_canonical_dedup", family, (s, dir) =>
      HtmlOps.urlCanonicalDedup(
        HtmlOps.plantedDirtyUrlCorpus(t(s, dir, "documents"))),
      // canonical-URL dedup: the dirty-URL plant and the canonical-key
      // chain mirrored verbatim (each replace anchored, <=1 match — no
      // 'g' needed); keep = lowest doc_id per key
      s"""WITH p AS (SELECT doc_id, $duckDirtyUrl AS url
         |  FROM documents),
         |c AS (SELECT doc_id, url,
         |  ${duckCanonOf("url")} AS canon FROM p)
         |SELECT doc_id, url, canon,
         |  CAST(count(*) OVER (PARTITION BY canon) AS BIGINT) AS n_dups,
         |  (row_number() OVER (PARTITION BY canon ORDER BY doc_id) = 1)
         |    AS is_canonical
         |FROM c""".stripMargin),
    // the crawl-ingestion flagship: extraction + per-page outlink
    // verdict in ONE zero-exchange projection (blocklist inlined as
    // a literal array into a higher-order filter — no join at all);
    // relative hrefs inherit the planted fetch_host
    QueryDef("q175_crawl_ingest", family, (s, dir) =>
      HtmlOps.crawlIngest(
        HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
        baseHostCol = Some("fetch_host")),
      // the crawl flagship: the q172 chain + per-page blocked-outlink
      // counts (lambda filter over the href list, blocklist inlined —
      // mirroring the Spark side's join-free plan)
      q175Sql),
    // extract-on-ingest: q175 under readStream — stateless
    // projection, no state store, same batch oracle (q171 pattern)
    QueryDef("q176_stream_crawl_ingest", family, (s, dir) =>
      EventsStreaming.streamingCrawlIngest(s, dir),
      // extract-on-ingest: q175 under readStream (stateless projection,
      // the q171 contract shape) — identical batch oracle
      q175Sql),
    // the WARC front door: raw archive chunks split into records on
    // the version line, response records kept, headers read, payload
    // framed and Content-Length-verified, then the q172 extraction —
    // one zero-exchange projection completing the crawl story BEFORE
    // HTML extraction
    QueryDef("q184_warc_ingest", family, (s, dir) =>
      HtmlOps.warcIngest(HtmlOps.plantedWarcCorpus(t(s, dir, "documents"))),
      // the WARC front door: chunk → records → response → headers →
      // framed payload → extraction, every stage mirrored
      q184Sql),
    // host-graph PageRank: the registrable-domain link graph from the
    // planted pages (q173's href→host→domain chain, unattributable
    // ends dropped, DISTINCT to the domains² bound), then q118's
    // all-integer power iteration — the crawl frontier's
    // prioritization signal
    QueryDef("q180_host_rank", family, (s, dir) =>
      GraphOps.domainRank(HtmlOps.domainEdges(
        HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")))),
      // host-graph PageRank: the domain edge derivation mirrored from
      // the planted pages, then the q118 round-replaying integer
      // iteration over VARCHAR nodes
      hostRankSql()),
    // the canonical-URL key set as a MAINTAINED artifact: seeded from
    // the first fetch wave, later waves ingested via bucket-pruned
    // anti-join append (O(batch), untouched buckets never rewritten),
    // probed over the full corpus — held to the q174 batch oracle
    QueryDef("q178_url_key_artifact", family, urlKeyArtifactVerdicts,
      // the maintained key-set artifact (batch q178 and streaming q179)
      // probed over the full corpus: under fetch-ordered ingest waves
      // keep-first == keep-lowest, so both are held to the q174 batch
      // recompute (sans n_dups — not the artifact's to answer)
      urlKeySql),
    // the same maintenance as a STREAM: each micro-batch wave appends
    // its fresh keys before the next wave anti-joins them (q138
    // pattern) — same batch q174 oracle
    QueryDef("q179_stream_url_keys", family, streamUrlKeyVerdicts,
      urlKeySql),
  )
}
