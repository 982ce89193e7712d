package graft.queries

import graft.ops._

/** DuckDB-dialect SQL shared by the oracles of more than one family.
  * Every member is a `def` or `lazy val`, so no oracle text is built
  * before it is asked for and no initialization order can read null.
  */
private[queries] object DuckSql {
  /** DuckDB tokenizer identical to OpsUtil.tokens — the whitespace
    * class is explicit because Java's \s includes \x0B and RE2's does
    * not; both sides spell out Java's exact set.
    */
  lazy val duckToks =
    """list_filter(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+'), x -> x <> '')"""

  /** DuckDB word-3-gram shingles (matches OpsUtil.shingles(w, 3)). */
  lazy val duckShingles =
    """list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))"""

  /** DuckDB replica of PiiOps.plantedPiiCorpus's text expression. */
  lazy val duckPiiText =
    """concat(text,
      | ' Contact user', cast(doc_id as varchar),
      | '@mail', cast(doc_id % 5 as varchar), '.example.com today.',
      | case when doc_id % 3 = 0
      |   then concat(' Call 555-',
      |     lpad(cast(doc_id % 10000 as varchar), 4, '0'), ' now.')
      |   else '' end,
      | case when doc_id % 4 = 1
      |   then concat(' Host 10.', cast((doc_id * 3) % 256 as varchar),
      |     '.0.', cast((doc_id * 7) % 256 as varchar), ' up.')
      |   else '' end)""".stripMargin.replace("\n", " ")

  // PiiOps regexes verbatim (explicit classes — RE2/Java parity)
  lazy val duckEmailRe = PiiOps.emailRe

  lazy val duckPhoneRe = PiiOps.phoneRe

  lazy val duckIpRe = PiiOps.ipRe

  /** DuckDB replica of HtmlOps.fetchHostSql. */
  lazy val duckFetchHost =
    "concat('w', cast(doc_id % 7 as varchar), '.s', " +
      "cast(doc_id % 5 as varchar), '.example')"

  /** DuckDB replica of HtmlOps.plantedHtmlCorpus's page expression. */
  lazy val duckHtml =
    """concat('<html><head><title>Doc ', cast(doc_id as varchar),
      | '</title><style>.m{color:red}</style></head><body>',
      | '<script>var x=', cast(doc_id % 9 as varchar),
      | '; if(x<7){x=x+1;}</script>',
      | '<nav><a href="', case when doc_id % 3 = 0
      |   then upper(concat('https://w', cast(doc_id % 7 as varchar),
      |     '.s', cast(doc_id % 5 as varchar), '.example/nav'))
      |   else concat('https://w', cast(doc_id % 7 as varchar),
      |     '.s', cast(doc_id % 5 as varchar), '.example/nav') end,
      | '">Home</a></nav>',
      | '<h1>Doc&nbsp;', cast(doc_id as varchar), '</h1>',
      | '<p>', coalesce(text, ''),
      | ' See &lt;also&gt; doc ', cast(doc_id as varchar),
      | '&#39;s &quot;notes&quot; &amp; list.</p>',
      | '<a href="https://w', cast(doc_id % 7 as varchar), '.s',
      | cast(doc_id % 13 as varchar), '.example',
      | case when doc_id % 2 = 0 then ':8443' else '' end,
      | '/p/', cast(doc_id as varchar), '?utm_source=feed#top">Next ',
      | cast(doc_id as varchar), '</a>',
      | '<a href="//x', cast(doc_id % 9 as varchar), '.s',
      | cast(doc_id % 11 as varchar), '.example/r/',
      | cast(doc_id as varchar), '">Ref ', cast(doc_id as varchar), '</a>',
      | '<a href="mailto:doc', cast(doc_id as varchar),
      | '@s2.example">Mail</a>',
      | '<a href="/about/', cast(doc_id % 31 as varchar), '">About</a>',
      | '<div class="footer">&copy; 2026</div></body></html>')"""
      .stripMargin.replace("\n", " ")

  /** The href → host chain with base-host inheritance (HtmlOps
    * mirrored: the authority regex accepts protocol-relative `//host`
    * hrefs, and ONLY a fully scheme-less href — not `mailto:`/`ftp:`
    * — inherits the page's fetch host), and the registrable-domain
    * normalization (lowercase, strip `:port`, last two labels).
    */
  def duckLinkHost(u: String): String =
    s"""CASE WHEN regexp_extract($u, '^(?i)(?:https?:)?//([^/?#]+)', 1) <> ''
       |     THEN regexp_extract($u, '^(?i)(?:https?:)?//([^/?#]+)', 1)
       |     WHEN regexp_matches($u, '^[A-Za-z][A-Za-z0-9+.-]*:')
       |     THEN ''
       |     ELSE fetch_host END""".stripMargin

  def duckDomainOf(h: String): String =
    s"""regexp_extract(regexp_replace(lower($h), ':[0-9]+$$', ''),
       |  '([^.]+\\.[^.]+)$$', 1)""".stripMargin

  /** HtmlOps.plantedDirtyUrlCorpus's URL expression (the fetch URL of
    * each planted page), shared by the q174 oracle, the v4 crawl
    * flagship's keep-set, and the URL-key artifact oracles.
    */
  lazy val duckDirtyUrl =
    """concat(
      |    case when doc_id % 2 = 0 then 'HTTPS://WWW.W'
      |         else 'https://w' end,
      |    cast(doc_id % 7 as varchar), '.s',
      |    cast(doc_id % 5 as varchar),
      |    case when doc_id % 2 = 0 then '.EXAMPLE:443'
      |         else '.example' end,
      |    case when doc_id % 9 = 4 then '/x/..' else '' end,
      |    '/p/', cast(doc_id % 11 as varchar),
      |    case when doc_id % 3 = 0 then '/' else '' end,
      |    case when doc_id % 4 = 2
      |         then '?utm_source=x&utm_campaign=y' else '' end,
      |    case when doc_id % 5 = 1 then '#sec2' else '' end)""".stripMargin

  /** HtmlOps.canonicalUrl mirrored as one expression over a url
    * column: anchored host (scheme optional — protocol-relative URLs
    * canonicalize like their absolute twins) lowercased minus
    * www./port + path minus trailing slashes; an unparseable URL
    * keeps itself as the key. The emptiness guard tests the STRIPPED
    * host, exactly as the Spark side does — a degenerate authority
    * like `www.` or `:8080` strips to empty and the URL keeps itself
    * as its own key on both sides.
    */
  def duckCanonStrippedHost(u: String): String =
    s"""regexp_replace(regexp_replace(
       |  lower(regexp_extract($u, '^(?i)(?:https?:)?//([^/?#]+)', 1)),
       |  '^www\\.', ''), ':[0-9]+$$', '')""".stripMargin

  def duckCanonOf(u: String): String =
    s"""CASE WHEN ${duckCanonStrippedHost(u)} = ''
       |     THEN $u
       |     ELSE concat(
       |       ${duckCanonStrippedHost(u)},
       |       regexp_replace(
       |         ${duckRemoveDots(
              s"regexp_extract($u, '^(?i)(?:https?:)?//[^/?#]+([^?#]*)', 1)")},
       |         '/+$$', '')) END""".stripMargin

  /** The staged redaction CTE (PiiOps.piiRedact's scan-left chain)
    * over any relation exposing (doc_id, text) — shared by the q167
    * chain (planted corpus) and the v4 crawl flagship (extracted
    * crawl text, whose PII arrived through the HTML pipeline).
    */
  def duckRedactStages(src: String, cte: String = "r"): String =
    s"""$cte AS (SELECT doc_id, text AS t0,
       |        regexp_replace(text, '$duckEmailRe', '[EMAIL]', 'g') AS t1,
       |        regexp_replace(regexp_replace(text,
       |          '$duckEmailRe', '[EMAIL]', 'g'),
       |          '$duckIpRe', '[IP]', 'g') AS t2,
       |        regexp_replace(regexp_replace(regexp_replace(text,
       |          '$duckEmailRe', '[EMAIL]', 'g'),
       |          '$duckIpRe', '[IP]', 'g'),
       |          '$duckPhoneRe', '[PHONE]', 'g') AS redacted FROM $src)""".stripMargin

  /** The extraction stages alone — block removal → tag strip →
    * entity decode — over an EXISTING `${pfx}p` CTE with (doc_id,
    * fetch_host, html); the q186 WARC→corpus chain supplies its page
    * from framed archive payloads instead of the planted generator.
    */
  def duckExtractFromHtmlCtes(pfx: String) =
    s"""${pfx}b AS (SELECT doc_id, fetch_host, html,
       |  regexp_replace(regexp_replace(regexp_replace(html,
       |    '(?s)<[Hh][Ee][Aa][Dd]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Hh][Ee][Aa][Dd]>', ' ', 'g'),
       |    '(?s)<[Ss][Cc][Rr][Ii][Pp][Tt]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Cc][Rr][Ii][Pp][Tt]>', ' ', 'g'),
       |    '(?s)<[Ss][Tt][Yy][Ll][Ee]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Tt][Yy][Ll][Ee]>', ' ', 'g') AS nb FROM ${pfx}p),
       |${pfx}t AS (SELECT doc_id, fetch_host, html,
       |  regexp_replace(nb, '<[^>]*>', ' ', 'g') AS nt FROM ${pfx}b),
       |${pfx}e AS (SELECT doc_id, fetch_host, html,
       |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(nt,
       |    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
       |    '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g')
       |    AS de FROM ${pfx}t)""".stripMargin

  /** Shared scrub CTEs (planted text → staged redactions,
    * PiiOps.defaultPatterns order and BRACKETED placeholders
    * verbatim) + the audit columns — q167/q171 emit them per doc,
    * q169 beside the flagship selection. The stage columns t1/t2
    * (after the email and IP passes) feed the SEQUENTIAL redaction
    * count: each pattern is counted on the text its stage actually
    * rewrote, mirroring PiiOps.piiRedact's scan-left chain.
    */
  lazy val duckRedactCtes =
    s"""p AS (SELECT doc_id, $duckPiiText AS text FROM documents),
       |${duckRedactStages("p")}""".stripMargin

  lazy val duckRedactAuditCols =
    s"""(len(regexp_extract_all(t0, '$duckEmailRe'))
       |   + len(regexp_extract_all(t1, '$duckIpRe'))
       |   + len(regexp_extract_all(t2, '$duckPhoneRe'))) AS n_redactions,
       |  (len(regexp_extract_all(redacted, '$duckEmailRe'))
       |   + len(regexp_extract_all(redacted, '$duckPhoneRe'))
       |   + len(regexp_extract_all(redacted, '$duckIpRe'))) AS n_residual,
       |  md5(redacted) AS redacted_md5""".stripMargin

  /** Closed-form BPE oracle scaffolding (q148–q151): the planted
    * corpus (BpeOps.plantedCorpus — document d carries 1 + d%5 copies
    * of the disjoint-alphabet word W[d%8]) makes the greedy fit equal
    * the STATIC (freq DESC, pair ASC) sort of the 16 chain entries
    * (proof in BpeOps.plantedCorpus scaladoc), so one window over ≤16
    * rows reconstructs the merge table, and per-word token counts/ids
    * follow by rank cases. `jr` carries each word's chain ranks.
    */
  lazy val bpeCtes =
    """cnt AS (SELECT CAST(doc_id % 8 AS INT) AS j,
      |               CAST(sum(1 + doc_id % 5) AS BIGINT) AS c
      |        FROM documents GROUP BY 1),
      |bw AS (SELECT j, c, chr(97 + 2*j) AS x, chr(98 + 2*j) AS y
      |       FROM cnt WHERE c > 0),
      |bpairs AS (
      |  SELECT j, 1 AS chain, x AS lhs, y AS rhs, 2*c AS freq FROM bw
      |  UNION ALL
      |  SELECT j, 2, x || y, x || y, c FROM bw),
      |br AS (SELECT j, chain, lhs, rhs, CAST(freq AS BIGINT) AS freq,
      |         CAST(row_number() OVER (ORDER BY freq DESC, lhs ASC, rhs ASC) - 1
      |              AS INT) AS rk
      |       FROM bpairs),
      |jr AS (SELECT j,
      |         max(CASE WHEN chain = 1 THEN rk END) AS rk1,
      |         max(CASE WHEN chain = 2 THEN rk END) AS rk2
      |       FROM br GROUP BY j),
      |btok AS (SELECT d.doc_id, d.lang, d.source, jr.j,
      |           1 + d.doc_id % 5 AS m,
      |           CAST(CASE WHEN jr.rk2 < 12 THEN 1 + d.doc_id % 5
      |                     WHEN jr.rk1 < 12 THEN 2 * (1 + d.doc_id % 5)
      |                     ELSE 4 * (1 + d.doc_id % 5) END AS BIGINT) AS n_tok,
      |           CAST(CASE WHEN jr.rk2 < 12 THEN (1 + d.doc_id % 5) * (16 + jr.rk2)
      |                     WHEN jr.rk1 < 12 THEN 2 * (1 + d.doc_id % 5) * (16 + jr.rk1)
      |                     ELSE (1 + d.doc_id % 5) * (8 * jr.j + 2) END AS BIGINT)
      |             AS ids_sum
      |         FROM documents d JOIN jr ON jr.j = CAST(d.doc_id % 8 AS INT))""".stripMargin

  // shared by q156 and the v3 flagship's LM-gate CTE
  lazy val q156Sql =
    s"""WITH toks AS (SELECT doc_id, $duckToks w FROM documents),
       |uni AS (SELECT w1, CAST(count(*) AS BIGINT) cu FROM (
       |          SELECT unnest(w) w1 FROM toks)
       |        GROUP BY w1 ORDER BY cu DESC, w1 ASC LIMIT 65536),
       |big0 AS (SELECT doc_id, w, unnest(range(1, len(w))) i FROM toks),
       |bigr AS (SELECT doc_id, w[i] w1, w[i+1] w2 FROM big0),
       |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) cb FROM bigr
       |       GROUP BY w1, w2
       |       ORDER BY cb DESC, w1 ASC, w2 ASC LIMIT 262144),
       |sc AS (SELECT d.doc_id, coalesce(bi.cb, 0) cb,
       |         coalesce(uni.cu, 0) cu
       |       FROM bigr d
       |       LEFT JOIN bi ON bi.w1 = d.w1 AND bi.w2 = d.w2
       |       LEFT JOIN uni ON uni.w1 = d.w1)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(CASE WHEN cb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(sum(CAST(round(1e6 * (CAST(cb + 1 AS DOUBLE)
       |    / CAST(cu + 65536 AS DOUBLE))) AS BIGINT)) AS BIGINT) AS score_fp
       |FROM sc GROUP BY doc_id""".stripMargin

  // geometry interpolated from DedupOps so engine and oracle move
  // together (hex prefix chars = simhashBits/4 — 4 bits per hex digit)
  lazy val simhashSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($duckToks) tok FROM documents),
       |th AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, ${DedupOps.simhashBits / 4})) AS BIGINT) th
       |  FROM toks),
       |votes AS (
       |  SELECT doc_id, j,
       |         sum(CASE WHEN (th >> j) & 1 = 1 THEN 1 ELSE -1 END) vote
       |  FROM th CROSS JOIN (SELECT unnest(range(0, ${DedupOps.simhashBits})) j) bits
       |  GROUP BY doc_id, j)
       |SELECT doc_id,
       |       CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j)
       |                     ELSE 0 END) AS BIGINT) AS simhash
       |FROM votes GROUP BY doc_id""".stripMargin

  lazy val minhashBandsCtes =
    s"""toks AS (SELECT doc_id, $duckToks w FROM documents),
       |sh AS (SELECT doc_id, unnest($duckShingles) g FROM toks),
       |mh AS (
       |  SELECT doc_id, s, min(md5(s::VARCHAR || ':' || g)) h
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, 12)) s) seeds
       |  GROUP BY doc_id, s),
       |bands AS (
       |  SELECT doc_id, s // 2 AS b, md5(string_agg(h, '|' ORDER BY s)) bh
       |  FROM mh GROUP BY doc_id, s // 2)""".stripMargin

  lazy val minhashLshSql =
    s"""WITH $minhashBandsCtes
       |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |FROM bands l JOIN bands r
       |  ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id""".stripMargin

  lazy val simhashPairsSql =
    s"""WITH sig AS ($simhashSql),
       |banded AS (
       |  SELECT doc_id, simhash, k,
       |         (simhash >> (${DedupOps.simhashBandBits} * k)) & ${(1 << DedupOps.simhashBandBits) - 1} AS band
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, ${DedupOps.simhashBands})) k) ks),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id doc_a, r.doc_id doc_b,
       |         CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) hamming
       |  FROM banded l JOIN banded r
       |    ON l.k = r.k AND l.band = r.band AND l.doc_id < r.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin

  /** Benchmark contamination (q68, and the q57 decontamination stage):
    * distinct 5-gram overlap between the corpus (doc_id % 10 <> 7) and
    * the benchmark slice (= 7). The 5-gram expansion mirrors
    * OpsUtil.shingles(w, 5) exactly (same tokenization, same window,
    * empty under 5 tokens).
    */
  lazy val contaminationSql =
    s"""WITH toks AS (SELECT doc_id, $duckToks w FROM documents),
       |g AS (SELECT doc_id,
       |             unnest(list_transform(range(1, len(w) - 3),
       |                    i -> array_to_string(w[i:i+4], ' '))) gram
       |      FROM toks),
       |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7),
       |cg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 10 <> 7)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM cg JOIN bg USING (gram) GROUP BY doc_id""".stripMargin

  /** Winnowed passage pairs (q85, and the q100 dedup-edge extension):
    * same tokenizer, md5 5-gram shingles, 4-window minimum selection,
    * df cap — mirrors DedupOps.winnowedPassagePairs one-to-one.
    */
  lazy val winnowPairsSql =
    s"""WITH toks AS (
       |  SELECT doc_id, $duckToks AS w FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         list_transform(range(0, len(w) - 4),
       |           i -> md5(array_to_string(w[i+1:i+5], ' '))) AS hs
       |  FROM toks WHERE len(w) >= 8),
       |fps AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |           range(0, len(hs) - 3),
       |           p -> list_aggregate(hs[p+1:p+4], 'min')))) AS fp
       |  FROM sh),
       |keep AS (
       |  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |FROM fps a JOIN keep k ON a.fp = k.fp JOIN fps b ON a.fp = b.fp
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin

  lazy val dedupClustersSql =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($minhashLshSql)
       |      UNION
       |      SELECT doc_a, doc_b FROM ($simhashPairsSql)),
       |e AS (SELECT doc_a a, doc_b b FROM p
       |      UNION SELECT doc_b, doc_a FROM p),
       |walk(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT w.id, e.b FROM walk w JOIN e ON e.a = w.r)
       |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
       |FROM walk GROUP BY id""".stripMargin

  /** Top-bigram-fraction CTEs (ending in `rep(doc_id,
    * top_bigram_frac)`) — ONE copy shared by the q62 oracle and the
    * q57 composition's gate, mirroring TextOps.topBigramFrac.
    */
  lazy val bigramFracCtes =
    s"""btoks AS (SELECT doc_id, $duckToks w FROM documents),
       |bgr AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
       |               i -> array_to_string(w[i:i+1], ' '))) g FROM btoks),
       |bcr AS (SELECT doc_id, g, count(*) c FROM bgr GROUP BY 1, 2),
       |bsr AS (SELECT doc_id, CAST(max(c) AS BIGINT) mx,
       |               CAST(sum(c) AS BIGINT) tot FROM bcr GROUP BY doc_id),
       |rep AS (SELECT d.doc_id,
       |               round(CASE WHEN bsr.tot > 0
       |                          THEN CAST(bsr.mx AS DOUBLE) / bsr.tot
       |                          ELSE 0 END, 6) top_bigram_frac
       |        FROM documents d LEFT JOIN bsr ON bsr.doc_id = d.doc_id)""".stripMargin

  /** Q19's quality pipeline, shared with the q57 corpus composition. */
  lazy val qualitySql =
    s"""WITH base AS (
       |  SELECT doc_id, text, $duckToks w,
       |         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) punct_cnt,
       |         len(list_filter($duckToks,
       |             x -> x in ('the','a','and','of','to','in','is'))) stop_cnt
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(length(text) AS INT) AS n_chars,
       |       CAST(len(w) AS INT) AS n_tokens,
       |       CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / nullif(CAST(len(w) AS INT), 0) AS avg_token_len,
       |       CAST(punct_cnt AS DOUBLE) / nullif(CAST(length(text) AS INT), 0) AS punct_ratio,
       |       CAST(stop_cnt AS DOUBLE) / nullif(CAST(len(w) AS INT), 0) AS stopword_ratio,
       |       round(0.5 * least(CAST(len(w) AS INT), 100) / 100.0
       |         + 0.25 * (1.0 - CAST(punct_cnt AS DOUBLE) / nullif(CAST(length(text) AS INT), 0))
       |         + 0.25 * least(4.0 * CAST(stop_cnt AS DOUBLE) / nullif(CAST(len(w) AS INT), 0), 1.0), 6) AS quality
       |FROM base""".stripMargin

  /** The cosine formula of SimilarityOps.cosine, DuckDB-side. */
  def duckCosine(a: String, b: String): String =
    s"""round(
       |  list_sum(list_transform(range(1, len($a) + 1),
       |    i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       |  / (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))
       |     * sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))), 6)""".stripMargin

  /** The q184 oracle — the WARC chunk regenerated byte-identically
    * from the planted page (CRLF framing embedded as literal bytes in
    * the SQL text; Verify's JSON writer escapes control characters),
    * including the MALFORMED legs (doc_id%13: missing response on 3,
    * +7-octet Content-Length lie on 7, truncated header on 11,
    * non-ASCII payload suffix on 1, 301+Location on 8), then the same
    * split /
    * type-filter / header / framing chain and the q172 extraction
    * over the framed payload. Lengths via `strlen` (DuckDB's BYTE
    * length of a VARCHAR — mirrors Spark's `octet_length`; DuckDB's
    * `length` counts characters, which the %13==1 leg would catch).
    * TRY_CAST on the declared length (Spark side guards the ''
    * header the same way).
    */
  /** The WARC GENERATION + FRAMING CTEs shared by q184 and q186:
    * from `<src>` rows (doc_id, pay — the payload bytes) regenerate
    * the planted chunk's RESPONSE RECORD byte-identically (malformed
    * legs on doc_id%13 ∈ {3, 7, 11}; octet-exact Content-Length via
    * strlen) — ending in `${pfx}fr` (doc_id, n_records, target_uri,
    * warc_date, content_length, payload).
    *
    * The record is CONSTRUCTED, not split back out of the chunk: the
    * Spark side now frames strictly by Content-Length
    * (graft.functions.WarcSplitImpl), under which the %19==13 trap
    * leg — a payload QUOTING the `WARC/1.0` version line — frames as
    * one record; a split mirror would mis-split it exactly the way
    * the round-14 engine did. Construction equals the strict walk by
    * definition on every planted chunk (request + response, request
    * only on %13==3), and n_records is the same count the walk
    * reaches: 2, or 1 for the request-only leg.
    */
  def duckWarcChain(src: String, pfx: String): String = {
    val cr = "\r\n"
    s"""${pfx}resp AS (SELECT doc_id,
       |  CAST(CASE WHEN doc_id % 13 = 3 THEN 1 ELSE 2 END AS BIGINT)
       |    AS n_records,
       |  CASE WHEN doc_id % 13 = 3 THEN NULL
       |       WHEN doc_id % 13 = 11 THEN concat(
       |  'WARC-Type: response$cr',
       |  'WARC-Target-URI: https://w', cast(doc_id % 7 as varchar), '.s',
       |  cast(doc_id % 5 as varchar), '.example/p/',
       |  cast(doc_id % 11 as varchar), '$cr', 'WARC-Da')
       |       ELSE concat(
       |  'WARC-Type: response$cr',
       |  'WARC-Target-URI: https://w', cast(doc_id % 7 as varchar), '.s',
       |  cast(doc_id % 5 as varchar), '.example/p/',
       |  cast(doc_id % 11 as varchar), '$cr',
       |  'WARC-Date: 2026-01-', lpad(cast(1 + doc_id % 28 as varchar), 2, '0'),
       |  'T00:00:00Z$cr',
       |  'Content-Length: ', cast(strlen(pay)
       |    + CASE WHEN doc_id % 13 = 7 THEN 7 ELSE 0 END as varchar),
       |  '$cr', '$cr',
       |  pay, '$cr', '$cr') END AS rec FROM $src),
       |${pfx}fr AS (SELECT doc_id, n_records,
       |  regexp_extract(rec,
       |    '(?m)^(?i:warc-target-uri):[ \\t]*([^$cr]+)', 1) AS target_uri,
       |  regexp_extract(rec,
       |    '(?m)^(?i:warc-date):[ \\t]*([^$cr]+)', 1) AS warc_date,
       |  TRY_CAST(regexp_extract(rec,
       |    '(?m)^(?i:content-length):[ \\t]*([^$cr]+)', 1)
       |    AS BIGINT) AS content_length,
       |  regexp_replace(regexp_extract(rec, '(?s)$cr$cr(.*)$$', 1),
       |    '($cr)+$$', '') AS payload FROM ${pfx}resp)""".stripMargin
  }

  /** The planted HTTP response message wrapped around the page body —
    * HtmlOps.plantedWarcCorpus's payload, regenerated: status line
    * (404 on %13==2), Content-Type (text/plain on %13==5, ALL-CAPS
    * header name on %13==4 — legal on the wire; QUOTED charset on
    * %13==10), Transfer-Encoding + chunked wire body on %13∈{6,12}
    * (12 truncated — the malformed-chunk verdict), the ETag
    * validator, blank line, body (non-ASCII suffix on %13∈{1,10}).
    * From `<src>` rows (doc_id, html) to (doc_id, pay, body_plain) —
    * `body_plain` is the LOGICAL body wire-decoding must recover
    * (NULL for the malformed chunked leg), carried beside the payload
    * because DuckDB cannot replay a length-driven de-chunk and the
    * decode seam closes over the fixture (the established charset
    * convention, [[duckHttpFrame]]).
    */
  def duckHttpPayload(src: String, out: String): String = {
    val cr = "\r\n"
    s"""${out}0 AS (SELECT doc_id, html,
       |  html || CASE WHEN doc_id % 13 = 1 THEN '<p>rÃ©sumÃ© cafÃ©</p>'
       |       WHEN doc_id % 13 = 9 THEN '<p>café français</p>'
       |       WHEN doc_id % 13 = 10 THEN '<p>rÃ©sumÃ© cafÃ©</p>'
       |       WHEN doc_id % 13 = 6 THEN '<p>ck 1A${cr}9${cr}zz</p>'
       |       WHEN doc_id % 13 = 0 THEN concat(
       |         '<a href="../u/', cast(doc_id % 11 AS varchar),
       |         '">Up</a><a href="d', cast(doc_id % 7 AS varchar),
       |         '.html">Rel</a>')
       |       ELSE '' END ||
       |    CASE WHEN doc_id % 19 = 13
       |       THEN '<p>see WARC/1.0${cr}WARC-Type: response${cr}quoted archive</p>'
       |       ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 4 AND doc_id % 2 = 0
       |       THEN '<p>smart q en café</p>'
       |       ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 0 AND doc_id % 3 = 1
       |       THEN '<p>${graft.ops.HtmlOps.sjisLeg._1}</p>'
       |       WHEN doc_id % 13 = 0 AND doc_id % 3 = 2
       |       THEN '<p>${graft.ops.HtmlOps.eucKrLeg._1}</p>'
       |       ELSE '' END AS bp FROM $src),
       |$out AS (SELECT doc_id,
       |  CASE WHEN doc_id % 13 = 12 THEN NULL ELSE bp END AS body_plain,
       |  concat(
       |  CASE WHEN doc_id % 13 = 2 THEN 'HTTP/1.1 404 Not Found$cr'
       |       WHEN doc_id % 13 = 8
       |         THEN 'HTTP/1.1 301 Moved Permanently$cr'
       |       ELSE 'HTTP/1.1 200 OK$cr' END,
       |  CASE WHEN doc_id % 13 = 8 THEN concat('Location: ',
       |    CASE WHEN doc_id % 2 = 0 THEN concat('https://w',
       |      cast(doc_id % 7 AS varchar), '.s',
       |      cast(doc_id % 5 AS varchar), '.example/r/',
       |      cast(doc_id % 11 AS varchar))
       |    ELSE concat('/r/', cast(doc_id % 11 AS varchar)) END, '$cr')
       |    ELSE '' END,
       |  CASE WHEN doc_id % 13 = 5 THEN 'Content-Type: text/plain$cr'
       |       WHEN doc_id % 13 = 4 AND doc_id % 2 = 0
       |         THEN 'CONTENT-TYPE: text/html; charset=windows-1252$cr'
       |       WHEN doc_id % 13 = 4
       |         THEN 'CONTENT-TYPE: text/html; charset=utf-8$cr'
       |       WHEN doc_id % 13 = 9
       |         THEN 'Content-Type: text/html; charset=iso-8859-1$cr'
       |       WHEN doc_id % 13 = 10
       |         THEN 'Content-Type: text/html; charset="utf-8"$cr'
       |       WHEN doc_id % 13 = 0 AND doc_id % 3 = 1
       |         THEN 'Content-Type: text/html; charset=shift_jis$cr'
       |       WHEN doc_id % 13 = 0 AND doc_id % 3 = 2
       |         THEN 'Content-Type: text/html; charset=euc-kr$cr'
       |       ELSE 'Content-Type: text/html; charset=utf-8$cr' END,
       |  CASE WHEN doc_id % 13 IN (6, 12)
       |       THEN 'Transfer-Encoding: chunked$cr' ELSE '' END,
       |  CASE WHEN doc_id % 10 = 4 THEN ''
       |       ELSE concat('ETag: "v', cast(doc_id % 9 AS varchar), '"$cr')
       |       END,
       |  'Last-Modified: Mon, ',
       |  lpad(cast(doc_id % 28 + 1 AS varchar), 2, '0'),
       |  ' Jan 2026 00:00:00 GMT$cr',
       |  '$cr',
       |  CASE WHEN doc_id % 13 = 6 THEN concat(
       |         CASE WHEN doc_id % 2 = 1 THEN '10;x=1$cr'
       |              ELSE '10$cr' END,
       |         substr(bp, 1, 16), '$cr',
       |         to_hex(length(bp) - 16), '$cr',
       |         substr(bp, 17), '$cr', '0',
       |         CASE WHEN doc_id % 2 = 0 THEN '${cr}X-Tr: 1'
       |              ELSE '' END)
       |       WHEN doc_id % 13 = 12
       |       THEN concat('10$cr', substr(html, 1, 5))
       |       ELSE bp END) AS pay FROM ${out}0)""".stripMargin
  }

  /** HtmlOps.httpFrame mirrored over `${pfx}fr`: status line, media
    * type from the HEADER BLOCK only, the charset (quote-tolerant)
    * and ETag captures, the transfer/content codings, body after the
    * first blank line (non-HTTP payloads pass through whole), the
    * 200+text/html verdict, and the WIRE-DECODE stage — ending in
    * `${pfx}ht`. `paySrc` is the [[duckHttpPayload]] CTE carrying
    * `body_plain`: DuckDB cannot replay a length-driven de-chunk, so
    * the chunked branch closes over the fixture (the decoded body IS
    * the planted plain body, NULL for the malformed leg) exactly like
    * the charset seam below.
    */
  /** The windows-1252 C1 decode as a DuckDB replace chain, GENERATED
    * from the engine's own translation table
    * ([[graft.functions.HttpFrameImpl.cp1252From]]/`cp1252To`) — all
    * 27 defined codepage entries, not just the planted six, so a
    * future fixture planting any other C1 byte (0x80 euro, 0x99 TM,
    * …) stays byte-complete by construction (round-15 ADVICE #1).
    * The five undefined bytes keep the latin-1 identity on both
    * engines (they are filtered here exactly because the engine's
    * table maps them to themselves).
    */
  def duckCp1252Replace(inner: String): String =
    graft.functions.HttpFrameImpl.cp1252From
      .zip(graft.functions.HttpFrameImpl.cp1252To)
      .filter { case (f, t) => f != t }
      .foldLeft(inner) { case (c, (f, t)) => s"replace($c, '$f', '$t')" }

  def duckHttpFrame(pfx: String, paySrc: String): String = {
    val cr = "\r\n"
    // MATERIALIZED, and body in a second CTE, not lateral aliases:
    // DuckDB expands same-SELECT alias references as macros AND
    // inlines single-use CTEs transitively, so the decode CASE
    // referencing body_raw/charset on top of the already-huge payload
    // expression blew q186's tree up to an OOM — materialization pins
    // the header split to one expansion
    s"""${pfx}ht0 AS MATERIALIZED (SELECT f.*, ps.body_plain,
       |  CASE WHEN regexp_matches(f.payload, '^HTTP/1\\.[01] [0-9]{3}')
       |    THEN TRY_CAST(regexp_extract(f.payload,
       |      '^HTTP/1\\.[01] ([0-9]{3})', 1) AS INT)
       |    ELSE NULL END AS http_status,
       |  CASE WHEN regexp_matches(f.payload, '^HTTP/1\\.[01] [0-9]{3}')
       |    THEN lower(trim(regexp_extract(
       |      CASE WHEN regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) = ''
       AND regexp_extract(f.payload,
         '^HTTP/1\\.[01] ([0-9]{3})', 1) IN ('204', '304')
       THEN f.payload
       ELSE regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) END,
       |      '(?m)^(?i:content-type):[ \\t]*([^;$cr]+)', 1)))
       |    ELSE '' END AS mime,
       |  CASE WHEN TRY_CAST(regexp_extract(f.payload,
       |      '^HTTP/1\\.[01] ([0-9]{3})', 1) AS INT) BETWEEN 300 AND 399
       |    THEN trim(regexp_extract(
       |      CASE WHEN regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) = ''
       AND regexp_extract(f.payload,
         '^HTTP/1\\.[01] ([0-9]{3})', 1) IN ('204', '304')
       THEN f.payload
       ELSE regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) END,
       |      '(?m)^(?i:location):[ \\t]*([^$cr]+)', 1))
       |    ELSE '' END AS redirect_to,
       |  CASE WHEN regexp_matches(f.payload, '^HTTP/1\\.[01] [0-9]{3}')
       |    THEN lower(trim(regexp_extract(
       |      CASE WHEN regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) = ''
       AND regexp_extract(f.payload,
         '^HTTP/1\\.[01] ([0-9]{3})', 1) IN ('204', '304')
       THEN f.payload
       ELSE regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) END,
       |      '(?m)^(?i:content-type):[^$cr]*;[ \\t]*(?i:charset)="?([^";$cr]+)"?',
       |      1)))
       |    ELSE '' END AS charset,
       |  CASE WHEN regexp_matches(f.payload, '^HTTP/1\\.[01] [0-9]{3}')
       |    THEN trim(regexp_extract(
       |      CASE WHEN regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) = ''
       AND regexp_extract(f.payload,
         '^HTTP/1\\.[01] ([0-9]{3})', 1) IN ('204', '304')
       THEN f.payload
       ELSE regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) END,
       |      '(?m)^(?i:etag):[ \\t]*([^$cr]+)', 1))
       |    ELSE '' END AS etag,
       |  CASE WHEN regexp_matches(f.payload, '^HTTP/1\\.[01] [0-9]{3}')
       |    THEN trim(regexp_extract(
       |      CASE WHEN regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) = ''
       AND regexp_extract(f.payload,
         '^HTTP/1\\.[01] ([0-9]{3})', 1) IN ('204', '304')
       THEN f.payload
       ELSE regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) END,
       |      '(?m)^(?i:last-modified):[ \\t]*([^$cr]+)', 1))
       |    ELSE '' END AS last_modified,
       |  CASE WHEN regexp_matches(f.payload, '^HTTP/1\\.[01] [0-9]{3}')
       |    THEN lower(trim(regexp_extract(
       |      CASE WHEN regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) = ''
       AND regexp_extract(f.payload,
         '^HTTP/1\\.[01] ([0-9]{3})', 1) IN ('204', '304')
       THEN f.payload
       ELSE regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) END,
       |      '(?m)^(?i:transfer-encoding):[ \\t]*([^$cr]+)', 1)))
       |    ELSE '' END AS transfer_encoding,
       |  CASE WHEN regexp_matches(f.payload, '^HTTP/1\\.[01] [0-9]{3}')
       |    THEN lower(trim(regexp_extract(
       |      CASE WHEN regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) = ''
       AND regexp_extract(f.payload,
         '^HTTP/1\\.[01] ([0-9]{3})', 1) IN ('204', '304')
       THEN f.payload
       ELSE regexp_extract(f.payload, '(?s)^(.*?)$cr$cr', 1) END,
       |      '(?m)^(?i:content-encoding):[ \\t]*([^$cr]+)', 1)))
       |    ELSE '' END AS content_encoding,
       |  CASE WHEN regexp_matches(f.payload, '^HTTP/1\\.[01] [0-9]{3}')
       |    THEN regexp_extract(f.payload, '(?s)$cr$cr(.*)$$', 1)
       |    ELSE f.payload END AS body_raw
       |  FROM ${pfx}fr f LEFT JOIN $paySrc ps USING (doc_id)),
       |-- the WIRE-DECODE stage, closed over the fixture: the chunked
       |-- legs' decoded body is the planted plain body (NULL for the
       |-- truncated-chunk leg), identity codings pass through, and
       |-- this fixture plants no Content-Encoding (the gzip-body path
       |-- is held to its uncompressed twin's oracle instead — q212)
       |${pfx}ht1 AS (SELECT *,
       |  CASE WHEN NOT regexp_matches(payload, '^HTTP/1\\.[01] [0-9]{3}')
       |      THEN body_raw
       |    WHEN transfer_encoding = 'chunked' THEN body_plain
       |    WHEN transfer_encoding IN ('', 'identity') THEN body_raw
       |    ELSE NULL END AS body_framed
       |  FROM ${pfx}ht0),
       |-- the decode seam, closed over the FIXTURE's byte vocabulary:
       |-- the only non-ASCII utf-8-declared bytes the planted corpus
       |-- ships are the C3 A9 pairs (latin-1 'Ã©'), which decode to
       |-- 'é'; latin-1-declared bodies are already their characters;
       |-- windows-1252 bodies carry exactly the six planted C1 bytes
       |-- (smart quotes, curly apostrophes, en/em dashes), replaced to
       |-- the codepoints the codepage means; any OTHER declared
       |-- charset keeps the byte-identity reading (DuckDB cannot
       |-- reinterpret arbitrary bytes, so the general decode collapses
       |-- to these replaces on the legs)
       |${pfx}ht AS (SELECT *,
       |  (body_framed IS NOT NULL) AS body_ok,
       |  CASE WHEN NOT regexp_matches(payload, '^HTTP/1\\.[01] [0-9]{3}')
       |      THEN body_framed
       |    WHEN charset IN ('iso-8859-1', 'latin1', 'latin-1')
       |      THEN body_framed
       |    WHEN charset IN ('utf-8', 'utf8', '')
       |      THEN replace(body_framed, 'Ã©', 'é')
       |    WHEN charset IN ('windows-1252', 'cp1252')
       |      THEN ${duckCp1252Replace("body_framed")}
       |    WHEN charset = 'shift_jis'
       |      THEN replace(body_framed,
       |        '${graft.ops.HtmlOps.sjisLeg._1}',
       |        '${graft.ops.HtmlOps.sjisLeg._2}')
       |    WHEN charset = 'euc-kr'
       |      THEN replace(body_framed,
       |        '${graft.ops.HtmlOps.eucKrLeg._1}',
       |        '${graft.ops.HtmlOps.eucKrLeg._2}')
       |    ELSE body_framed END AS body
       |  FROM ${pfx}ht1)""".stripMargin
  }

  lazy val q184Sql = {
    s"""WITH p AS (SELECT doc_id, $duckFetchHost AS fetch_host,
       |  $duckHtml AS html FROM documents),
       |${duckHttpPayload("p", "pp")},
       |${duckWarcChain("pp", "")},
       |${duckHttpFrame("", "pp")},
       |xb AS (SELECT doc_id, n_records, target_uri, warc_date,
       |  content_length, payload, http_status, mime, redirect_to,
       |  charset, etag, last_modified, body_ok, body,
       |  regexp_replace(regexp_replace(regexp_replace(body,
       |    '(?s)<[Hh][Ee][Aa][Dd]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Hh][Ee][Aa][Dd]>', ' ', 'g'),
       |    '(?s)<[Ss][Cc][Rr][Ii][Pp][Tt]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Cc][Rr][Ii][Pp][Tt]>', ' ', 'g'),
       |    '(?s)<[Ss][Tt][Yy][Ll][Ee]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Tt][Yy][Ll][Ee]>', ' ', 'g') AS nb FROM ht),
       |xt AS (SELECT *, regexp_replace(nb, '<[^>]*>', ' ', 'g') AS nt FROM xb),
       |xe AS (SELECT *, regexp_replace(regexp_replace(regexp_replace(
       |  regexp_replace(regexp_replace(regexp_replace(nt,
       |  '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
       |  '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS de
       |  FROM xt)
       |SELECT doc_id, n_records, target_uri, warc_date, content_length,
       |  coalesce(strlen(payload) = content_length, false) AS length_ok,
       |  http_status, mime,
       |  coalesce(http_status = 200 AND mime = 'text/html', false)
       |    AS http_ok,
       |  redirect_to, charset, etag, last_modified, body_ok,
       |  regexp_extract(body, '<[Tt][Ii][Tt][Ll][Ee]>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>', 1) AS title,
       |  trim(regexp_replace(de, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text_clean
       |FROM xe""".stripMargin
  }

  /** The q181/q182 shared CTE chain: the q19 quality signals
    * quantized to 1e6 fixed point, labels planted by the q115 teacher
    * in 1e7 fixed point, then one CTE per perceptron round — the
    * margin table against the previous round's weights and the
    * five-component update folded in via scalar subqueries
    * (TextOps.qualityFitTrajectory mirrored; DuckDB sum(BIGINT) is
    * HUGEINT, hence the CASTs). Every CTE is MATERIALIZED: round i
    * refers to w(i-1) six times, and DuckDB would otherwise inline
    * each reference, so the chain would fan out with every round.
    */
  def qualityFitCtes(iters: Int): String = {
    val dims = 0 until 5
    val rounds = (1 to iters).map { i =>
      val upd = dims.map(d =>
        s"""  (SELECT a$d FROM w${i - 1})
           |    + CAST(coalesce((SELECT sum(y * x$d) FROM m$i
           |                     WHERE margin <= 0), 0) AS BIGINT) AS a$d"""
          .stripMargin).mkString(",\n")
      s"""m$i AS MATERIALIZED (SELECT f.*,
         |  y * (${dims.map(d => s"a$d * x$d").mkString(" + ")}) AS margin
         |  FROM f CROSS JOIN w${i - 1}),
         |w$i AS MATERIALIZED (SELECT
         |$upd)""".stripMargin
    }.mkString(",\n")
    s"""qf AS MATERIALIZED ($qualitySql),
       |ft AS MATERIALIZED (SELECT doc_id,
       |  1::BIGINT AS x0,
       |  CAST(least(n_tokens, 1000) AS BIGINT) AS x1,
       |  CAST(round(coalesce(stopword_ratio, 0.0::DOUBLE)
       |    * 1000000.0::DOUBLE) AS BIGINT) AS x2,
       |  CAST(round(coalesce(punct_ratio, 0.0::DOUBLE)
       |    * 1000000.0::DOUBLE) AS BIGINT) AS x3,
       |  CAST(round(coalesce(avg_token_len, 0.0::DOUBLE)
       |    * 1000000.0::DOUBLE) AS BIGINT) AS x4
       |  FROM qf),
       |f AS MATERIALIZED (SELECT doc_id, x0, x1, x2, x3, x4,
       |  CASE WHEN -5000000 * x0 + 20000 * x1 + 12 * x2 - 30 * x3 + x4 > 0
       |       THEN 1::BIGINT ELSE (-1)::BIGINT END AS y FROM ft),
       |w0 AS MATERIALIZED (SELECT ${dims.map(d => s"0::BIGINT AS a$d").mkString(", ")}),
       |$rounds""".stripMargin
  }

  /** The q180 oracle — q118's trajectory-replaying integer PageRank
    * with the edge set derived from the planted pages' href→host→
    * domain chain (duckLinkHost/duckDomainOf mirrored; unattributable
    * ends dropped; DISTINCT to the domains² bound) and domains as the
    * node vocabulary.
    */
  def hostRankSql: String = {
    val (iters, scale) = (3, 1000000000000L)
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.domain,
         |         CAST(base + (85 * coalesce(f.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n CROSS JOIN consts
         |  LEFT JOIN (
         |    SELECT e.dst, sum(r.pr // d.deg) AS s
         |    FROM edges e JOIN deg d ON e.src = d.src
         |    JOIN r${i - 1} r ON r.domain = e.src
         |    GROUP BY e.dst) f ON f.dst = n.domain)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (SELECT doc_id, $duckFetchHost AS fetch_host,
       |  $duckHtml AS html FROM documents),
       |l AS (SELECT fetch_host,
       |  unnest(regexp_extract_all(html, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1))
       |    AS url FROM p),
       |e0 AS (SELECT ${duckDomainOf("fetch_host")} AS src,
       |              ${duckDomainOf(duckLinkHost("url"))} AS dst FROM l),
       |edges AS (SELECT DISTINCT src, dst FROM e0
       |          WHERE src <> '' AND dst <> ''),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT src AS domain FROM edges
       |          UNION SELECT dst FROM edges),
       |consts AS (
       |  SELECT (($scale * 15) // 100) // (SELECT count(*) FROM nodes) AS base),
       |r0 AS (
       |  SELECT domain,
       |         CAST($scale // (SELECT count(*) FROM nodes) AS BIGINT) AS pr
       |  FROM nodes),
       |$rounds
       |SELECT domain, pr FROM r$iters""".stripMargin
  }

  /** HtmlOps.removeDotSegments mirrored — the SAME bounded regex
    * fix-point (six passes, lookahead-free segment class, cheap
    * `contains('/.')` guard), so Spark and DuckDB normalize
    * identically by construction on ANY input, not just the planted
    * legs.
    */
  def duckRemoveDots(path: String): String = {
    val seg = "(?:\\.[^/.]|\\.\\.[^/]|[^/.])[^/]*"
    def pass(c: String): String = {
      val p1 = s"regexp_replace($c, '/\\./', '/', 'g')"
      val p2 = s"regexp_replace($p1, '/$seg/\\.\\./', '/', 'g')"
      val p3 = s"regexp_replace($p2, '/$seg/\\.\\.$$', '/', 'g')"
      val p4 = s"regexp_replace($p3, '/\\.$$', '/', 'g')"
      val p5 = s"regexp_replace($p4, '^/(?:\\.\\./)+', '/', 'g')"
      s"regexp_replace($p5, '^/\\.\\.$$', '/', 'g')"
    }
    val full = (1 to 6).foldLeft(path)((c, _) => pass(c))
    s"CASE WHEN contains($path, '/.') THEN $full ELSE $path END"
  }
}
