package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.HttpFunctions
import graft.ops.OpsUtil.par

/** HTML/crawl ingestion — the extraction stages a web-crawl training
  * pipeline runs BEFORE any text analysis: main-text extraction
  * (the RefinedWeb/trafilatura stage, here the deterministic
  * regex-chain core of it), outlink extraction (the URL-frontier /
  * link-graph feed), and URL canonicalization dedup (the crawl-level
  * dedup that runs before content dedup ever sees a byte). The
  * reference has no text ops at all (`MapReduceWSI.java` exposes only
  * generic MR); this is the north-star extension surface, composing
  * with [[PiiOps.urlBlocklistFilter]] (domain verdicts on extracted
  * links) and the whole [[TextOps]] family (quality/dedup on the
  * extracted text).
  *
  * Scale design: extraction and outlinks are PURE per-row regexp
  * projections (plus one posexplode) — zero exchanges, whole-stage
  * codegen; at 100 TB they are scan-bound and embarrassingly
  * parallel. The blocklist join is always broadcast (real lists are
  * ~1M rows, model-sized). Canonical-URL dedup shuffles ONCE on the
  * canonical key — the same hash-partition a `groupBy` would need,
  * with group sizes bounded by per-URL duplication, not corpus size.
  *
  * Parity rules (see FIXTURES.md §3): every regex avoids `\s`/`\d`/
  * `\w` shorthand (Java vs RE2 Unicode divergence — see
  * [[OpsUtil.tokens]]); whitespace classes list each character
  * explicitly; the DuckDB oracle mirrors each chain verbatim with the
  * `'g'` flag added where a pattern can match more than once (Spark's
  * `regexp_replace` is always global, DuckDB's default is
  * first-match-only).
  *
  * This is NOT an HTML parser: regex extraction is the documented
  * contract (tags are `<[^>]*>` spans; head/script/style blocks are
  * non-greedy open→close spans; a `<` never followed by `>` survives
  * as text, while a dangling `<` abutting a real tag is consumed with
  * that tag's span — both pinned in HtmlOpsSpec).
  * That is exactly the determinism the oracle needs, and the same
  * trade C4's and Dolma's line-level cleaners make — a full DOM
  * parse would be a `mapInPandas` stage with no closed-form oracle.
  */
object HtmlOps {

  /** The page's own fetch host — `w<id%7>.s<id%5>.example`, by
    * construction the nav link's (lowercase) host: the host a crawl
    * frontier recorded when it fetched the page, which relative hrefs
    * inherit when the caller threads `baseHostCol` (q173/q175/q176).
    * A pure doc_id expression, replayed verbatim by the oracle.
    */
  val fetchHostSql: String =
    "concat('w', cast(doc_id % 7 as string), '.s', " +
      "cast(doc_id % 5 as string), '.example')"

  /** The planted-HTML corpus: the fixture text wrapped in a
    * deterministic page whose every varying part is a pure `doc_id`
    * expression — title, an inline script (in BODY, with a raw `<`
    * inside, so tag-stripping alone would corrupt it: script removal
    * MUST run first), a nav link (UPPERCASED on id%3==0 — the
    * lowercase leg of the domain verdict), entities (incl. `&amp;`
    * which must decode LAST and `&nbsp;` which must decode BEFORE
    * whitespace collapse), a tracking-parameter outlink carrying an
    * explicit `:8443` port on even ids (the port-strip leg of the
    * verdict), a PROTOCOL-RELATIVE cross-site `//x<i>.s<id%11>
    * .example` href (scheme-less authority: must parse its OWN host,
    * never inherit the page's — blocked on id%11 ∈ {2,5}), a
    * `mailto:` href naming a blocked domain (a scheme the crawler
    * does not fetch: no host, no inheritance, `blocked = false`), a
    * RELATIVE `/about/<k>` href (host-less AND scheme-less: the
    * `baseHostCol` inheritance leg), and a footer entity (`&copy;`)
    * deliberately OUTSIDE the decode inventory. Every run of planted
    * boilerplate between doc_id-bearing tokens is at most FOUR tokens
    * long, so every planted 5-gram contains a doc-unique token and no
    * planted 5-gram is shared across documents — the q68
    * contamination detector must see only ORGANIC overlap when the
    * extracted text feeds the corpus gates (q177). The DuckDB oracle
    * regenerates the identical page, so extraction output is
    * closed-form. `coalesce(text, '')` first: DuckDB's concat skips
    * NULL args where Spark's nulls the whole row (FIXTURES.md §3).
    * Emits `fetch_host` beside the page.
    */
  def plantedHtmlCorpus(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      expr(fetchHostSql).as("fetch_host"), expr(
      """concat('<html><head><title>Doc ', cast(doc_id as string),
        | '</title><style>.m{color:red}</style></head><body>',
        | '<script>var x=', cast(doc_id % 9 as string),
        | '; if(x<7){x=x+1;}</script>',
        | '<nav><a href="', case when doc_id % 3 = 0
        |   then upper(concat('https://w', cast(doc_id % 7 as string),
        |     '.s', cast(doc_id % 5 as string), '.example/nav'))
        |   else concat('https://w', cast(doc_id % 7 as string),
        |     '.s', cast(doc_id % 5 as string), '.example/nav') end,
        | '">Home</a></nav>',
        | '<h1>Doc&nbsp;', cast(doc_id as string), '</h1>',
        | '<p>', coalesce(text, ''),
        | ' See &lt;also&gt; doc ', cast(doc_id as string),
        | '&#39;s &quot;notes&quot; &amp; list.</p>',
        | '<a href="https://w', cast(doc_id % 7 as string), '.s',
        | cast(doc_id % 13 as string), '.example',
        | case when doc_id % 2 = 0 then ':8443' else '' end,
        | '/p/', cast(doc_id as string), '?utm_source=feed#top">Next ',
        | cast(doc_id as string), '</a>',
        | '<a href="//x', cast(doc_id % 9 as string), '.s',
        | cast(doc_id % 11 as string), '.example/r/',
        | cast(doc_id as string), '">Ref ', cast(doc_id as string), '</a>',
        | '<a href="mailto:doc', cast(doc_id as string),
        | '@s2.example">Mail</a>',
        | '<a href="/about/', cast(doc_id % 31 as string), '">About</a>',
        | '<div class="footer">&copy; 2026</div></body></html>')"""
        .stripMargin.replace("\n", " "))
      .as("html"))

  /** Block-removal patterns, applied in ORDER before tag stripping:
    * head (drops title/meta/style wholesale), then script, then style
    * (for pages that put them in body). `(?s)` because real pages
    * break blocks across lines; tag names as explicit `[Hh]...`
    * case classes because pages also write `<SCRIPT>`/`<HEAD>` —
    * every structural matcher here is case-insensitive, with the
    * folding scoped to the tag letters rather than flagged across
    * the whole pattern (case-insensitivity costs ~20% on this
    * scan-bound chain either way — the price of matching real pages;
    * `(?i)` stays on the short URL matchers where it is free);
    * non-greedy so one block cannot swallow the document. The open tag is anchored as `<name`
    * followed by whitespace-led attributes or an immediate `>` — a
    * bare `<head[^>]*>` would prefix-match HTML5's `<header>` and
    * could delete body content through to a later literal `</head>`
    * (pinned in HtmlOpsSpec).
    */
  val blockRes: Seq[String] = Seq(
    "(?s)<[Hh][Ee][Aa][Dd]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Hh][Ee][Aa][Dd]>",
    "(?s)<[Ss][Cc][Rr][Ii][Pp][Tt]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Cc][Rr][Ii][Pp][Tt]>",
    "(?s)<[Ss][Tt][Yy][Ll][Ee]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Tt][Yy][Ll][Ee]>")

  /** Entity decode inventory, applied in ORDER. `&amp;` is LAST — the
    * standard double-decode guard: input `&amp;lt;` must extract as
    * the literal text `&lt;`, not decode twice into `<`. `&nbsp;`
    * decodes to a plain space BEFORE the whitespace collapse so it
    * participates in it. Entities outside the inventory (`&copy;`)
    * pass through literally — decode is an inventory, not a spec.
    */
  val entityDecodes: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** The extracted-text column: block removal → tag strip → entity
    * decode → whitespace collapse → trim. One codegen'd expression
    * tree, no UDF.
    */
  def extractedText(html: Column): Column = {
    val noBlocks = blockRes.foldLeft(html)((c, re) =>
      regexp_replace(c, re, " "))
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    val decoded = entityDecodes.foldLeft(noTags) { case (c, (ent, ch)) =>
      regexp_replace(c, ent, ch)
    }
    trim(regexp_replace(decoded, "[ \\t\\n\\x0B\\f\\r]+", " "))
  }

  /** The href-value list — the ONE definition of "a link" shared by
    * [[htmlExtract]]'s count, [[htmlOutlinks]], and [[crawlIngest]],
    * so the three can never disagree on what counts (an unterminated
    * `href="...` on a truncated fetch is NOT a link anywhere).
    */
  def hrefs(html: Column): Column =
    regexp_extract_all(html, lit("[Hh][Rr][Ee][Ff]=\"([^\"]*)\""), lit(1))

  /** The page title — case-insensitive like every structural matcher
    * here (real pages write `<TITLE>` too). Shared by
    * [[htmlExtract]] and [[crawlIngest]].
    */
  def titleOf(html: Column): Column =
    regexp_extract(html, "<[Tt][Ii][Tt][Ll][Ee]>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>", 1)

  /** The URL's authority (host[:port]) — `[^/?#]+` is the authority
    * terminator set; `(?i)` because `HTTPS://` is a valid scheme
    * spelling; the scheme is OPTIONAL so a protocol-relative href
    * (`//evil.example/x` — ubiquitous in real HTML) extracts its OWN
    * host instead of falling through to base-host inheritance and
    * masquerading as a same-site link (the blocklist-evasion class the
    * port/case fixes closed); ANCHORED at the start so an absolute URL
    * embedded in a relative href (`/redirect?to=https://evil.example`)
    * never extracts the embedded host — unanchored, such a URL would
    * dodge the unparseable-URL guard in [[canonicalUrl]] (collapsing
    * distinct redirect URLs onto the embedded key, silently dropping
    * pages under keep-first) and would attribute the wrong domain in
    * [[htmlOutlinks]]/[[crawlIngest]]. Shared by [[htmlOutlinks]],
    * [[canonicalUrl]], and [[crawlIngest]]. (The free-text scan in
    * [[PiiOps.urlBlocklistFilter]] keeps its own unanchored pattern
    * and explicit whitespace class — free text is a substring scan by
    * nature.)
    */
  def hostOf(url: Column): Column =
    regexp_extract(url, "^(?i)(?:https?:)?//([^/?#]+)", 1)

  /** Whether the href carries ANY scheme (RFC 3986 scheme grammar,
    * anchored). Base-host inheritance is for RELATIVE hrefs only —
    * a `mailto:`/`ftp:`/`javascript:` href is addressable, just not
    * by this crawler, and inheriting the page's own fetch host for it
    * would attribute the page's domain (and verdict) to a link that
    * never points there. Shared by [[htmlOutlinks]] and
    * [[crawlIngest]].
    */
  def hasScheme(url: Column): Column =
    url.rlike("^[A-Za-z][A-Za-z0-9+.-]*:")

  /** Q-html-extract: title, link count, and main text per page — one
    * zero-exchange projection. The title is read from the ORIGINAL
    * html (head removal would destroy it); `n_links` counts href
    * attributes on the original html too (nav links count — they are
    * links even though their anchor text is boilerplate).
    */
  def htmlExtract(documents: DataFrame): DataFrame = {
    val h = coalesce(col("html"), lit(""))
    documents.select(
      col("doc_id"),
      titleOf(h).as("title"),
      size(hrefs(h)).cast("long").as("n_links"),
      extractedText(h).as("text_clean"))
  }

  /** Q-html-outlinks: every href value in document order, with host /
    * registrable-domain extraction and the [[PiiOps]] blocklist
    * verdict. Projection + posexplode + one BROADCAST join; the host
    * class `[^/?#]+` is the URL-authority terminator set (an href
    * value cannot contain raw whitespace the way free text can — the
    * free-text scan in [[PiiOps.urlBlocklistFilter]] keeps its
    * explicit whitespace class for that reason).
    * `(?i)` on the scheme (uppercase `HTTPS://` hrefs must not evade
    * the verdict — same contract as [[canonicalUrl]]). A RELATIVE
    * href (no scheme at all — [[hasScheme]]; a protocol-relative
    * `//host` href parses its own host, and a `mailto:`/`ftp:` href
    * keeps an empty one) inherits the page's own host when the caller
    * supplies `baseHostCol` — without it the row ships with an empty
    * host/domain and `blocked = false`, which is the wrong verdict
    * for same-site links on a blocked domain; any real URL-frontier
    * caller should pass the fetch host.
    */
  /** THE base-host inheritance rule, defined once (link semantics
    * must not diverge between the outlink, edge, and anchor
    * consumers): a link's host is its own authority when it has one;
    * only a fully scheme-less href (not `mailto:`/`ftp:`) inherits
    * the fetching page's host.
    */
  def inheritedHost(url: Column, base: Column): Column =
    when(hostOf(url) === "" && !hasScheme(url), base)
      .otherwise(hostOf(url))

  def htmlOutlinks(documents: DataFrame,
                   baseHostCol: Option[String] = None,
                   keep: Seq[String] = Seq.empty): DataFrame = {
    val host = baseHostCol match {
      case Some(b) => inheritedHost(col("url"), col(b))
      case None => hostOf(col("url"))
    }
    PiiOps.blocklistVerdict(
      documents
        .select(col("doc_id") +: (baseHostCol.toSeq ++ keep).map(col) :+
          posexplode(hrefs(coalesce(col("html"), lit(""))))
            .as(Seq("link_idx", "url")): _*)
        .withColumn("host", host)
        .withColumn("domain", PiiOps.registrableDomain(col("host"))))
      .select(
        Seq(col("doc_id"), col("link_idx").cast("int").as("link_idx"),
          col("url"), col("host"), col("domain"), col("blocked")) ++
          keep.map(col): _*)
  }

  /** The crawl-ingestion flagship: per page, the extracted title /
    * text, the outlink counts, and the page verdict (`page_ok` ⟺
    * zero blocked outlinks) — the decision a crawl pipeline makes
    * per fetched page before anything downstream sees it. ONE
    * zero-exchange projection: the blocklist is inlined as a literal
    * array into a higher-order `filter` over the extracted href
    * list, so there is no join at all. That is the right plan while
    * the blocklist is config-sized; for a ~1M-row list, compose
    * [[htmlOutlinks]] (broadcast join) with a per-doc aggregation
    * instead — same semantics, one shuffle.
    *
    * As in [[htmlOutlinks]], a RELATIVE href ([[hasScheme]]-free;
    * protocol-relative hrefs parse their own host) inherits the
    * page's own host only when the caller supplies `baseHostCol`;
    * without it a blocked-domain page whose outlinks are all
    * same-site gets `page_ok = true` — a real crawl caller should
    * pass the fetch host.
    */
  def crawlIngest(pages: DataFrame,
                  baseHostCol: Option[String] = None): DataFrame = {
    val h = coalesce(col("html"), lit(""))
    val blArr = array(PiiOps.defaultBlocklist.map(lit): _*)
    def linkHost(u: Column) = baseHostCol match {
      case Some(b) => inheritedHost(u, col(b))
      case None => hostOf(u)
    }
    // stage the href list, then the blocked count, each in its own
    // projection: a non-cheap alias referenced twice is exactly what
    // CollapseProject refuses to inline, so the list is extracted
    // once (feeds size() and the filter) and the filter runs once
    // (feeds n_blocked_links and page_ok) — lambda expressions are
    // also skipped by codegen subexpression elimination, so relying
    // on CSE instead would genuinely run the filter twice per row
    val nBlocked = size(filter(col("links"),
      u => array_contains(blArr,
        PiiOps.registrableDomain(linkHost(u))))).cast("long")
    pages
      .select(col("doc_id") +: baseHostCol.map(col).toSeq :+
        h.as("h") :+ hrefs(h).as("links"): _*)
      .withColumn("n_blocked_links", nBlocked)
      .select(
        col("doc_id"),
        titleOf(col("h")).as("title"),
        size(col("links")).cast("long").as("n_links"),
        col("n_blocked_links"),
        (col("n_blocked_links") === 0L).as("page_ok"),
        extractedText(col("h")).as("text_clean"))
  }

  /** The URL's PATH: an authority-form URL's own path, a
    * server-relative reference AS its path, anything else none —
    * the same classification [[robotsGate]] and the DuckDB mirror
    * use. Shared by the base-path threading in [[resolvedUrl]]
    * callers (the fetch page's directory comes from its target URI).
    */
  def urlPath(url: Column): Column =
    column(graft.functions.UrlPath(expression(url)))

  /** RFC 3986 §5.2.4 dot-segment removal as a BOUNDED regex
    * fix-point ([[graft.functions.RemoveDotsImpl]] — ONE native
    * codegen node): each pass collapses `/./`, one level of
    * `/seg/../` (per non-overlapping region), trailing `/.` and
    * `/seg/..`, and root-clamps leading `/../` runs; six passes
    * resolve any path with ≤ 6 nested dot-segments (real URLs rarely
    * exceed 3 — a deeper chain is left partially normalized, stated
    * bound). The segment class matches every segment EXCEPT `.` and
    * `..` without lookahead, so the DuckDB mirror (RE2: no lookahead,
    * no backreferences) replays the identical pass sequence —
    * equality by construction, not by case analysis. Guarded by a
    * cheap `contains("/.")` so clean paths (the overwhelming
    * majority) pay one substring scan. Native rather than a Column
    * regex chain because the planner's alias inlining
    * (PhysicalOperation.trimAliases) SUBSTITUTES projection chains —
    * 36 nested replaces duplicated through resolve → trap-gate →
    * canonicalize compositions blew analysis time up to minutes; one
    * node keeps every URL-touching plan small.
    */
  def removeDotSegments(path: Column): Column =
    column(graft.functions.RemoveDots(expression(path)))

  /** The canonical-URL key: lowercased host minus a leading `www.`
    * and any explicit port, concatenated with the path minus trailing
    * slashes; scheme, query, and fragment are DROPPED wholesale.
    * That is the aggressive crawl-dedup key (two fetches differing
    * only in tracking params / fragment / scheme are the same page
    * for training purposes) — a conservative variant would keep
    * non-tracking query params, at the cost of a param-level parser.
    * `(?i)` on the scheme: `HTTPS://` is a valid scheme spelling.
    * Each replace here can match at most once (anchored), so the
    * DuckDB mirror needs no `'g'` flag.
    */
  def canonicalUrl(url: Column): Column =
    // ONE native node ([[graft.functions.CanonicalUrl]] — the literal
    // transcription of: lowercased anchored host minus www./port, the
    // authority path dot-normalized (RFC 3986 §6.2.2.3: `/a/../b` and
    // `/b` are one resource and must share one canon) minus trailing
    // slashes, unparseable URLs keeping themselves as their own key).
    // Native for the same reason as removeDotSegments: the planner
    // inlines projection aliases into consumers, and the frontier's
    // resolve → trap → canonicalize → re-canonicalize stack
    // multiplied the regex trees into minutes of analysis.
    column(graft.functions.CanonicalUrl(expression(url)))

  /** Q189: the CONSERVATIVE canonical key — the documented trade at
    * [[canonicalUrl]], now available as the knob a production crawl
    * asks for: query params whose NAME is on the allowlist
    * [[keptParams]] survive into the key (sorted by full `name=value` string, so
    * `?b=2&a=1` and `?a=1&b=2` normalize identically); everything
    * else — tracking params, fragment, scheme, port, `www.` — is
    * dropped exactly as the aggressive key drops it. Two URLs equal
    * under this key are equal under the aggressive key too (the key
    * splits uniquely at the first `?`, which the aggressive key never
    * contains), so the conservative groups REFINE the aggressive
    * ones — a consumer can tighten dedup without ever merging groups
    * the aggressive key kept apart. An unparseable URL keeps itself,
    * same as [[canonicalUrl]].
    *
    * Scale shape: pure per-row expression (anchored regex + one
    * bounded array pipeline over the split query string) — same
    * scan-bound class as the aggressive key.
    */
  def canonicalUrlParams(url: Column): Column = {
    val stripped = regexp_replace(regexp_replace(
      lower(hostOf(url)), "^www\\.", ""), ":[0-9]+$", "")
    val query = regexp_extract(url, "^[^#]*\\?([^#]*)", 1)
    val kept = array_join(array_sort(filter(split(query, "&"),
      p => element_at(split(p, "="), 1).isin(keptParams: _*))), "&")
    // reference `kept` (a lambda pipeline — outside codegen CSE, so a
    // second reference would run it twice per row) and canonicalUrl's
    // regex chain ONCE each: an empty kept makes the tail "?", which
    // nullif/coalesce turn back into the bare aggressive key
    val tail = coalesce(nullif(concat(lit("?"), kept), lit("?")), lit(""))
    when(stripped === "", url).otherwise(concat(canonicalUrl(url), tail))
  }

  /** The query params that identify content rather than track a visit:
    * the conservative key [[canonicalUrlParams]] keeps them.
    */
  private val keptParams = Seq("id", "page")

  /** The planted dirty-URL corpus: one URL per doc where the
    * canonical key depends only on `(doc_id%7, doc_id%5, doc_id%11)`
    * — 385 keys, so the sf0.01 fixture (500 docs) collides heavily —
    * while the SURFACE form varies independently: uppercase
    * scheme/host + `www.` + `:443` on even ids, a trailing slash on
    * id%3==0, tracking params on id%4==2, a fragment on id%5==1.
    */
  def plantedDirtyUrlCorpus(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), expr(
      // the %9==4 leg spells its path with a DOT SEGMENT
      // ('/x/../p/<k>'): RFC 3986 §6.2.2.3 says it is the same
      // resource as '/p/<k>', so the canonical key must collapse the
      // two spellings — the planted proof that dot removal reaches
      // the dedup key, not just the frontier
      """concat(
        | case when doc_id % 2 = 0 then 'HTTPS://WWW.W'
        |      else 'https://w' end,
        | cast(doc_id % 7 as string), '.s', cast(doc_id % 5 as string),
        | case when doc_id % 2 = 0 then '.EXAMPLE:443'
        |      else '.example' end,
        | case when doc_id % 9 = 4 then '/x/..' else '' end,
        | '/p/', cast(doc_id % 11 as string),
        | case when doc_id % 3 = 0 then '/' else '' end,
        | case when doc_id % 4 = 2
        |      then '?utm_source=x&utm_campaign=y' else '' end,
        | case when doc_id % 5 = 1 then '#sec2' else '' end)"""
        .stripMargin.replace("\n", " "))
      .as("url"))

  /** Q189's fixture: the dirty-URL corpus with MEANINGFUL query
    * params planted next to the tracking ones. Legs by `doc_id % 4`:
    * `%4 == 2` carries `?utm_source=x&id=<k>`; `%4 == 0` carries
    * `?page=<j>&utm_campaign=y&id=<k>` — the allowlisted params
    * DELIBERATELY out of sorted order, so the key normalization is
    * observable; odd docs carry no query. The mod-17 == 9 leg is an
    * unparseable `mailto:` that must keep itself. The host/path
    * cycle is the dirty fixture's (period 385 over 500 docs), so
    * pairs (d, d+385) share the aggressive key while exactly one of
    * them carries params — the planted proof that the conservative
    * key refines, not merely renames, the aggressive grouping.
    */
  def plantedParamUrlCorpus(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), expr(
      """case when doc_id % 17 = 9 then
        |   concat('mailto:u', cast(doc_id as string), '@y.example?id=1')
        | else concat(
        |  case when doc_id % 2 = 0 then 'HTTPS://WWW.W'
        |       else 'https://w' end,
        |  cast(doc_id % 7 as string), '.s', cast(doc_id % 5 as string),
        |  case when doc_id % 2 = 0 then '.EXAMPLE:443'
        |       else '.example' end,
        |  '/p/', cast(doc_id % 11 as string),
        |  case when doc_id % 4 = 2
        |       then concat('?utm_source=x&id=', cast(doc_id % 3 as string))
        |       when doc_id % 4 = 0
        |       then concat('?page=', cast(doc_id % 2 as string),
        |                   '&utm_campaign=y&id=', cast(doc_id % 3 as string))
        |       else '' end,
        |  case when doc_id % 5 = 1 then '#sec2' else '' end) end"""
        .stripMargin.replace("\n", " "))
      .as("url"))

  /** Q184's fixture: each planted page wrapped as a WARC chunk — a
    * zero-length `request` record (record-type filtering must drop
    * it) followed by the `response` record whose payload is the page,
    * `Content-Length` computed in OCTETS from the payload itself
    * (WARC/ISO 28500 counts bytes, not characters) so the integrity
    * check has a true baseline. Header lines are CRLF-terminated and
    * the payload is CRLF-framed, per the WARC/1.0 framing; every
    * varying field is a pure doc_id expression and the DuckDB oracle
    * regenerates the identical bytes. Built ON TOP of
    * [[plantedHtmlCorpus]] so the page bytes cannot drift from the
    * q172-q177 fixture.
    *
    * MALFORMED LEGS (the q141 corrupt-input convention — the error
    * paths [[warcIngest]] promises must flow through the oracle, not
    * just the scaladoc), keyed on `doc_id % 13`:
    *  - `%13 == 3`: the response record is MISSING (request-only
    *    chunk) — every header parses null, `length_ok = false`;
    *  - `%13 == 7`: the declared `Content-Length` overstates the
    *    payload by 7 octets — the page parses fine but
    *    `length_ok = false` (a consumer must drop it: the framing
    *    cannot be trusted);
    *  - `%13 == 11`: the response record's header block is TRUNCATED
    *    mid-header ("WARC-Da") with no blank line and no payload —
    *    `warc_date` parses empty, `content_length` null, payload
    *    empty, `length_ok = false`;
    *  - `%13 == 1`: the BODY carries a NON-ASCII suffix
    *    (`résumé café`, 3 two-byte chars), so the payload's octet
    *    length exceeds its character length — the leg that proves the
    *    Content-Length check counts bytes (`length_ok = true` iff
    *    both sides use octets).
    *
    * The payload is a full HTTP RESPONSE MESSAGE (status line +
    * headers + blank line + body) — what a real WARC `response`
    * record wraps — with two more verdict legs at the HTTP layer:
    *  - `%13 == 2`: status `404 Not Found` — the page framed fine
    *    but the server said no; `http_ok = false`;
    *  - `%13 == 5`: `Content-Type: text/plain` — not HTML; the
    *    extractor must never see it; `http_ok = false`.
    * Everything else is `200 OK` + `text/html; charset=utf-8`.
    */
  /** Round-16 charset long-tail legs: (transport bytes as latin-1
    * chars, decoded text) per declared charset — ONE definition
    * shared by the Spark fixture, the staged parity witness, and the
    * DuckDB oracle mirror (which replays the decode as a replace of
    * exactly these bytes — the cp1252 precedent), so the three can
    * never drift. Shift_JIS `カタ` = 83 4A 83 5E; EUC-KR `한글` =
    * C7 D1 B1 DB (verified against the JDK decoders in
    * HttpCodecSpec).
    */
  val sjisLeg: (String, String) = ("\u0083J\u0083^", "カタ")
  val eucKrLeg: (String, String) = ("\u00c7\u00d1\u00b1\u00db", "한글")

  def plantedWarcCorpus(documents: DataFrame): DataFrame = {
    val crlf = "\r\n"
    val m = col("doc_id") % 13
    val url = expr(
      """concat('https://w', cast(doc_id % 7 as string), '.s',
        | cast(doc_id % 5 as string), '.example/p/',
        | cast(doc_id % 11 as string))""".stripMargin.replace("\n", " "))
    val date = expr(
      """concat('2026-01-', lpad(cast(1 + doc_id % 28 as string), 2, '0'),
        | 'T00:00:00Z')""".stripMargin.replace("\n", " "))
    // bodies are TRANSPORT BYTES (chars ≤ 0xFF): the %13==1 leg
    // declares charset=utf-8 so its é arrives as the two UTF-8 bytes
    // C3 A9 (the latin-1 chars Ã©); the %13==9 leg declares
    // iso-8859-1 so its é/ç arrive as the single bytes E9/E7; the
    // %13==10 leg declares charset="utf-8" QUOTED (legal HTTP
    // parameter spelling — the extractor must unquote or the decode
    // silently skips). The decode stage must reconstruct the same
    // characters from all three. The %13==6 leg's body carries a
    // planted CRLF-delimited HEX-LOOKING LINE ("1A\r\n9\r\n") — once
    // chunk-encoded below, a line-sniffing de-chunker would misread
    // it as chunk framing; only length-driven decoding survives.
    // the %13==0 leg plants the RFC 3986 reference-resolution proofs:
    // a page-RELATIVE href (`d<i>.html` from `/p/<k>` must resolve to
    // `/p/d<i>.html`, not `/d<i>.html`) and a DOT-SEGMENT href
    // (`../u/<j>` must climb to `/u/<j>`, never a literal `/../u/<j>`
    // key) — both flow into the frontier candidate chain and the
    // oracle replays the identical merge + dot removal
    // the %19==13 suffix QUOTES A WARC RECORD inside the page body —
    // the byte sequence that mis-split the round-14 version-line
    // framing; only strict Content-Length walking frames it
    // ([[warcFrame]]). Orthogonal to the %13 legs (a trap doc keeps
    // its %13 behavior — incl. riding INSIDE the chunked wire body)
    val body = concat(col("html"),
      when(m === 1, lit("<p>rÃ©sumÃ© cafÃ©</p>"))
        .when(m === 9, lit("<p>café français</p>"))
        .when(m === 10, lit("<p>rÃ©sumÃ© cafÃ©</p>"))
        .when(m === 6, lit("<p>ck 1A\r\n9\r\nzz</p>"))
        .when(m === 0, concat(
          lit("<a href=\"../u/"), (col("doc_id") % 11).cast("string"),
          lit("\">Up</a><a href=\"d"), (col("doc_id") % 7).cast("string"),
          lit(".html\">Rel</a>")))
        .otherwise(lit("")),
      when(col("doc_id") % 19 === 13,
        lit("<p>see WARC/1.0\r\nWARC-Type: response\r\nquoted archive</p>"))
        .otherwise(lit("")),
      // the windows-1252 leg (even %13==4 docs): C1-range bytes —
      // smart quotes 93/94, curly apostrophes 91/92, en/em dashes
      // 96/97 — that read as control chars under the latin-1 identity
      // and MUST translate per the declared codepage (round-14
      // Missing #1: the most common legacy declaration on the web)
      when(m === 4 && col("doc_id") % 2 === 0,
        lit("<p>\u0093smart\u0094 \u0091q\u0092 \u0096en\u0097 café</p>"))
        .otherwise(lit("")),
      // the charset LONG-TAIL legs (round-15 Missing #4), riding the
      // %13==0 link-resolution docs on orthogonal %3 sub-keys: a
      // Shift_JIS body (83 4A 83 5E — the 0x83 lead byte reads as a
      // C1 control under latin-1 and MUST decode per the declared
      // codepage) and an EUC-KR body (C7 D1 B1 DB). Transport/decoded
      // pairs are the shared [[sjisLeg]]/[[eucKrLeg]] constants the
      // oracle replays as replaces (the cp1252 precedent)
      when(m === 0 && col("doc_id") % 3 === 1,
        lit("<p>" + sjisLeg._1 + "</p>"))
        .when(m === 0 && col("doc_id") % 3 === 2,
          lit("<p>" + eucKrLeg._1 + "</p>"))
        .otherwise(lit("")))
    // the %13==6 leg ships Transfer-Encoding: chunked (RFC 9112
    // §7.1): 16-octet first chunk (a chunk EXTENSION on odd ids —
    // ';x=1' must be skipped), remainder second chunk (hex size
    // derived from the body, uppercase like hex()/to_hex), zero
    // chunk, a TRAILER field on even ids. The message ends AT the
    // terminal chunk / trailer with no final CRLFs — the fixture
    // convention every payload obeys (a CRLF-ending payload collides
    // with warcFrame's record-framing strip, the stated limitation),
    // and exactly the truncation the de-chunker's epilogue tolerance
    // exists for. The %13==12 leg is the malformed twin: a chunk
    // that declares 0x10 octets but truncates after 5 — the de-chunk
    // must yield the null-body VERDICT (body_ok = false), never a
    // partial salvage.
    val chunkedBody = concat(
      when(col("doc_id") % 2 === 1, lit("10;x=1" + crlf))
        .otherwise(lit("10" + crlf)),
      substring(body, 1, 16), lit(crlf),
      // length(), not octet_length: the de-chunker consumes declared
      // sizes in CODE POINTS (Spark length()'s unit, = bytes under the
      // latin-1 transport convention) and the data is sliced with
      // substring (same unit) — a byte count would mis-frame any
      // future non-ASCII plant on these legs (round-14 ADVICE)
      hex((length(body) - 16).cast("long")), lit(crlf),
      substring(body, 17, 1000000), lit(crlf),
      lit("0"),
      when(col("doc_id") % 2 === 0, lit(crlf + "X-Tr: 1"))
        .otherwise(lit("")))
    val wireBody = when(m === 6, chunkedBody)
      .when(m === 12, concat(lit("10" + crlf), substring(body, 1, 5)))
      .otherwise(body)
    // the 301 leg's Location target: a /r/ path no page ever links —
    // redirect discovery is the ONLY channel that can surface it.
    // Absolute on even doc_ids, server-relative on odd (a legal
    // Location spelling that must resolve against the fetch host
    // exactly like a relative outlink)
    val redirTarget = when(col("doc_id") % 2 === 0,
      expr("""concat('https://w', cast(doc_id % 7 as string), '.s',
             | cast(doc_id % 5 as string), '.example/r/',
             | cast(doc_id % 11 as string))"""
        .stripMargin.replace("\n", " ")))
      .otherwise(concat(lit("/r/"), (col("doc_id") % 11).cast("string")))
    val payload = concat(
      when(m === 2, lit("HTTP/1.1 404 Not Found" + crlf))
        .when(m === 8, lit("HTTP/1.1 301 Moved Permanently" + crlf))
        .otherwise(lit("HTTP/1.1 200 OK" + crlf)),
      when(m === 8, concat(lit("Location: "), redirTarget, lit(crlf)))
        .otherwise(lit("")),
      when(m === 5, lit("Content-Type: text/plain" + crlf))
        // the all-caps legs: header names are case-insensitive on the
        // wire, and these pages are just as valid as their neighbours;
        // the even half declares the windows-1252 codepage (its body
        // carries the planted C1 suffix above)
        .when(m === 4 && col("doc_id") % 2 === 0,
          lit("CONTENT-TYPE: text/html; charset=windows-1252" + crlf))
        .when(m === 4, lit("CONTENT-TYPE: text/html; charset=utf-8" + crlf))
        // the non-UTF-8 leg: a legacy-encoded page whose bytes must
        // be decoded per its DECLARED charset, not assumed UTF-8
        .when(m === 9,
          lit("Content-Type: text/html; charset=iso-8859-1" + crlf))
        // the QUOTED charset parameter leg (RFC 9110 quoted-string)
        .when(m === 10,
          lit("Content-Type: text/html; charset=\"utf-8\"" + crlf))
        // the long-tail declarations matching the planted bodies
        .when(m === 0 && col("doc_id") % 3 === 1,
          lit("Content-Type: text/html; charset=shift_jis" + crlf))
        .when(m === 0 && col("doc_id") % 3 === 2,
          lit("Content-Type: text/html; charset=euc-kr" + crlf))
        .otherwise(lit("Content-Type: text/html; charset=utf-8" + crlf)),
      when(m === 6 || m === 12,
        lit("Transfer-Encoding: chunked" + crlf)).otherwise(lit("")),
      // the validators a conditional refetch sends back (If-None-Match
      // / If-Modified-Since) — captured by httpFrame, stored in the
      // fetch log, replayed on the 304 path. The %10==4 legs ship
      // Last-Modified WITHOUT an ETag (the shape real servers take
      // most often when they omit one — round-14 Missing #3): those
      // canons must still get the 304 path on the date validator alone
      when(col("doc_id") % 10 === 4, lit(""))
        .otherwise(concat(lit("ETag: \"v"),
          (col("doc_id") % 9).cast("string"), lit("\"" + crlf))),
      lit("Last-Modified: Mon, "),
      lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
      lit(" Jan 2026 00:00:00 GMT" + crlf),
      lit(crlf), wireBody)
    val declaredLen =
      (octet_length(payload).cast("long") +
        when(m === 7, lit(7L)).otherwise(lit(0L))).cast("string")
    val requestRec = concat(
      lit("WARC/1.0" + crlf),
      lit("WARC-Type: request" + crlf),
      lit("WARC-Target-URI: "), url, lit(crlf),
      lit("Content-Length: 0" + crlf),
      lit(crlf), lit(crlf))
    val responseRec = concat(
      lit("WARC/1.0" + crlf),
      lit("WARC-Type: response" + crlf),
      lit("WARC-Target-URI: "), url, lit(crlf),
      lit("WARC-Date: "), date, lit(crlf),
      lit("Content-Length: "), declaredLen,
      lit(crlf), lit(crlf),
      payload, lit(crlf), lit(crlf))
    val truncatedRec = concat(
      lit("WARC/1.0" + crlf),
      lit("WARC-Type: response" + crlf),
      lit("WARC-Target-URI: "), url, lit(crlf),
      lit("WARC-Da"))
    plantedHtmlCorpus(documents).select(
      col("doc_id"), col("fetch_host"),
      when(m === 3, requestRec)
        .when(m === 11, concat(requestRec, truncatedRec))
        .otherwise(concat(requestRec, responseRec)).as("warc"))
  }

  /** Q206's fixture: the planted WARC corpus compressed the way real
    * archives ship — ONE GZIP MEMBER PER RECORD, members concatenated
    * (ISO 28500 §D / Common Crawl convention: per-record members keep
    * the archive seekable). The chunk string is split before each
    * `WARC/1.0` version line, each record gzipped separately, and the
    * members concatenated into one binary column. Characters round-
    * trip through ISO-8859-1 (the chunk strings are transport bytes —
    * all chars ≤ 0xFF by construction), so decompress-then-frame must
    * be BIT-identical to framing the uncompressed chunk.
    */
  def plantedGzipWarcCorpus(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    plantedWarcCorpus(documents)
      .select(col("doc_id"), col("warc"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, warc) =>
          val bos = new java.io.ByteArrayOutputStream()
          warc.split("(?=WARC/1\\.0\r\n)").filter(_.nonEmpty).foreach {
            rec =>
              val g = new java.util.zip.GZIPOutputStream(bos)
              g.write(rec.getBytes("ISO-8859-1"))
              // close(), not just finish(): releases the Deflater's
              // NATIVE buffers immediately (probed: leaking them to
              // the finalizer made the 10x corpus 4x SUPERlinear);
              // ByteArrayOutputStream.close() is a no-op, so the
              // buffer keeps accepting the next member
              g.close()
          }
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "warc_gz")
  }

  /** Q206: the DECOMPRESSION front door — raw gzipped archive bytes
    * to the text chunks [[warcFrame]] splits. Real Common Crawl WARCs
    * are per-record gzip members back to back; `GZIPInputStream`
    * walks multi-member streams natively, so one pass inflates every
    * member and the concatenated output is the original chunk. This
    * is a `mapPartitions` stage by design — the ONE place imperative
    * byte-stream work is genuinely right (round 12 audit's Missing
    * #2): inflation is stateful streaming I/O no expression can
    * model, and it stays a narrow seam that emits rows straight into
    * the zero-exchange framing projection. A chunk whose bytes do not
    * inflate (truncated member, not gzip at all) becomes the EMPTY
    * chunk — downstream framing yields no response record and the
    * funnel counts it, the standard corrupt-input-as-verdict
    * contract; partial salvage is deliberately not attempted (a
    * half-inflated record would frame plausibly but lie about its
    * payload).
    *
    * Scale shape: per-row streaming decompression, no shuffle, no
    * driver involvement; compose as
    * `warcIngest(gunzipWarcChunks(gz))` and the whole front door
    * stays scan-bound.
    */
  def gunzipWarcChunks(chunks: DataFrame): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.select(col("doc_id"), col("warc_gz")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // STRUCTURAL corruption detection
        // ([[graft.functions.HttpCodec.inflateMembers]]): members are
        // walked explicitly — header fields parsed per RFC 1952, the
        // deflate stream inflated with a raw Inflater (end()'d in a
        // finally: probed, finalizer-left native buffers made the 10x
        // corpus superlinear), and each member's CRC32 + ISIZE
        // trailer verified against the inflated bytes. Anything the
        // walk cannot account for — a truncated final member, a
        // corrupt mid-stream header, a lying trailer — yields the
        // EMPTY chunk verdict, never a plausible-but-partial record
        // set and never a task failure. (The earlier GZIPInputStream
        // residue heuristic encoded the JDK's private 26-byte
        // readahead constant and read a swallowed sub-27-byte final
        // member as a clean end — round-13 ADVICE, closed.)
        it.map { case (id, gz) =>
          val bytes = graft.functions.HttpCodec.inflateMembers(gz)
          val text =
            if (bytes == null) "" else new String(bytes, "ISO-8859-1")
          (id, text)
        }
      }.toDF("doc_id", "warc")
  }

  /** Q212's fixture: HTTP response MESSAGES (the payload table
    * [[httpFrame]] sees after WARC framing) whose bodies ship
    * CONTENT-ENCODED — the representation layer distinct from q206's
    * WARC member gzip: `doc_id % 3` picks gzip / deflate / identity
    * — with `%11 == 5` carved out as RFC 8878 ZSTD (round 16: a
    * built-in coding, decoded through the pure-JVM zstd Spark itself
    * ships) — compressed IN-PLAN by the fixture-side transports
    * ([[graft.functions.GzipTransport]] /
    * [[graft.functions.ZstdTransport]]) so the decoder is held to
    * the UNCOMPRESSED twin's oracle (the q206/q210 bit-identical
    * pattern — DuckDB cannot gunzip, so equality IS the check). The
    * `%5 == 0` legs compress a NON-ASCII utf-8 body under a declared
    * utf-8 charset — the planted mojibake-avoidance proof that
    * inflate runs BEFORE the charset seam. The `%17 == 3` and
    * `%17 == 9` legs LIE: declared gzip (resp. zstd) over plain
    * bytes — the body_ok verdict, never an exception. Pre-framed messages deliberately (no WARC layer):
    * compressed bytes may legally end in CRLF, which the WARC
    * record-framing strip would corrupt — at the message layer the
    * payload arrives verbatim.
    */
  def plantedEncodedMessages(documents: DataFrame): DataFrame = {
    val crlf = "\r\n"
    plantedHtmlCorpus(documents)
      .select(col("doc_id"), concat(col("html"),
        when(col("doc_id") % 5 === 0, lit("<p>rÃ©sumÃ© cafÃ©</p>"))
          .otherwise(lit(""))).as("b0"))
      .withColumn("enc",
        when(col("doc_id") % 17 === 3, lit("gzip"))
          .when(col("doc_id") % 17 === 9, lit("zstd"))
          .when(col("doc_id") % 11 === 5, lit("zstd"))
          .when(col("doc_id") % 3 === 0, lit("gzip"))
          .when(col("doc_id") % 3 === 1, lit("deflate"))
          .otherwise(lit("")))
      .withColumn("wire",
        // the LYING legs: declared compressed over plain bytes
        // (%17==3 gzip, %17==9 zstd — the round-16 proof that the
        // built-in zstd arm keeps the corrupt-input-as-verdict
        // contract of the structural codings)
        when(col("doc_id") % 17 === 3, col("b0"))
          .when(col("doc_id") % 17 === 9, col("b0"))
          .when(col("enc") === "zstd", HttpFunctions.zstdTransport(col("b0")))
          .when(col("enc") === "gzip", HttpFunctions.gzipTransport(col("b0")))
          .when(col("enc") === "deflate", HttpFunctions.deflateTransport(col("b0")))
          .otherwise(col("b0")))
      .select(col("doc_id"), concat(
        lit("HTTP/1.1 200 OK" + crlf),
        lit("Content-Type: text/html; charset=utf-8" + crlf),
        when(col("enc") =!= "",
          concat(lit("Content-Encoding: "), col("enc"), lit(crlf)))
          .otherwise(lit("")),
        lit(crlf), col("wire")).as("payload"))
  }

  /** Q217's fixture: HTTP messages that declare a `Content-Length` —
    * the header the WIRE-LEVEL truncation check reads. Legs by
    * `doc_id % 4`: 0 declares the true length (check passes); 1
    * OVERSTATES by 5 — a truncated identity body, which frames, gates
    * 200 text/html, and decodes fine (every gate the engine had
    * passes it) but whose bytes are NOT all there — `body_len_ok`
    * is the only gate that can catch it; 2 ships chunked WITH a
    * deliberately wrong Content-Length — RFC 9112 §6.3 says the
    * header must be IGNORED when a Transfer-Encoding is present, so
    * the check must NOT fire; 3 declares nothing (trivially ok).
    */
  def plantedLengthMessages(documents: DataFrame): DataFrame = {
    val crlf = "\r\n"
    val m = col("doc_id") % 4
    val b = col("html")
    val chunkedWire = concat(
      hex(length(b).cast("long")), lit(crlf), b, lit(crlf), lit("0"))
    plantedHtmlCorpus(documents).select(col("doc_id"), concat(
      lit("HTTP/1.1 200 OK" + crlf),
      lit("Content-Type: text/html; charset=utf-8" + crlf),
      when(m === 2, lit("Transfer-Encoding: chunked" + crlf))
        .otherwise(lit("")),
      when(m === 0, concat(lit("Content-Length: "),
        length(b).cast("string"), lit(crlf)))
        .when(m === 1, concat(lit("Content-Length: "),
          (length(b) + 5).cast("string"), lit(crlf)))
        .when(m === 2, concat(lit("Content-Length: "),
          (length(b) + 7).cast("string"), lit(crlf)))
        .otherwise(lit("")),
      lit(crlf),
      when(m === 2, chunkedWire).otherwise(b)).as("payload"))
  }

  /** The WARC framing stage shared by [[warcIngest]] (q184) and the
    * WARC→corpus composition (q186): chunk → response record →
    * headers + framed payload + the octet-exact `length_ok` verdict,
    * WITHOUT the extraction tail — so a composition that runs its own
    * page processing on the payload never pays extraction twice.
    */
  private[graft] def warcFrame(chunks: DataFrame,
                               warcCol: String): DataFrame = {
    // ISO 28500 named fields are case-insensitive and the colon's
    // whitespace is optional — same treatment as the HTTP header
    // block and the strict walk's Content-Length lookup, so a
    // spec-conformant `warc-target-uri:` archive keeps its verdicts
    def header(rec: Column, name: String): Column =
      regexp_extract(rec, s"(?m)^(?i:$name):[ \t]*([^\r\n]+)", 1)
    // STRICT Content-Length framing with the version-line-split
    // fallback ([[graft.functions.WarcSplitImpl]]): a payload that
    // contains the `WARC/1.0\r\n` byte sequence frames correctly
    // (round-14 Missing #2, closed); structurally unframeable chunks
    // keep the exact split behavior, so every malformed leg stays a
    // length_ok verdict
    val recs = HttpFunctions.warcRecords(coalesce(col(warcCol), lit("")))
    val body = regexp_replace(
      regexp_extract(col("rec"), "(?s)\r\n\r\n(.*)$", 1),
      s"(\r\n)+$$", "")
    chunks
      .select(col("doc_id"), recs.as("recs"))
      // stage the record list once: n_records counts every non-empty
      // record; the response pick filters by the TYPE HEADER, never
      // by position (real archives order records arbitrarily)
      .withColumn("live", filter(col("recs"), r => trim(r) =!= ""))
      .select(
        col("doc_id"),
        size(col("live")).cast("long").as("n_records"),
        // try_element_at: a chunk with no response record parses as
        // null (and fails length_ok below), never as an error — ANSI-
        // safe like the '' header guard on the length cast
        try_element_at(filter(col("live"),
          r => header(r, "WARC-Type") === "response"), lit(1)).as("rec"))
      .select(
        col("doc_id"), col("n_records"),
        header(col("rec"), "WARC-Target-URI").as("target_uri"),
        header(col("rec"), "WARC-Date").as("warc_date"),
        when(header(col("rec"), "Content-Length") === "", lit(null))
          .otherwise(header(col("rec"), "Content-Length").cast("long"))
          .as("content_length"),
        body.as("payload"))
      .select(
        col("doc_id"), col("n_records"), col("target_uri"),
        col("warc_date"), col("content_length"),
        // OCTET length, not character length: WARC/ISO 28500's
        // Content-Length counts bytes, and a non-ASCII payload makes
        // the two diverge (the %13==1 fixture leg pins exactly that)
        coalesce(
          octet_length(col("payload")).cast("long") === col("content_length"),
          lit(false)).as("length_ok"),
        col("payload"))
  }

  /** Q184: the WARC FRONT DOOR — the parse stage a crawl pipeline
    * runs on raw archive bytes BEFORE any HTML sees an extractor:
    * split the chunk into records on the `WARC/1.0` version line,
    * keep the `response` records (request/metadata records carry no
    * page), read the header fields, frame the payload (everything
    * after the first blank line, trailing record framing stripped),
    * and verify the declared `Content-Length` IN OCTETS against the
    * framed payload — then hand the payload to the q172 extraction
    * chain. ONE zero-exchange projection: split / filter / header
    * regexes / framing are all per-row codegen'd expressions (the
    * lambda predicate is staged once into its own column, the
    * CollapseProject contract from [[crawlIngest]]), so at 100 TB
    * this is scan-bound exactly like q172. Records whose headers a
    * regex cannot find parse as empty/null and fail `length_ok` —
    * malformed records are a VERDICT, not an exception (the q141
    * corrupt-input contract; the missing-response / wrong-length /
    * truncated-header legs are PLANTED by [[plantedWarcCorpus]] and
    * flow through the oracle).
    *
    * Framing is STRICT Content-Length walking (the round-14 limit,
    * closed): a payload containing the `WARC/1.0\r\n` byte sequence —
    * a page quoting a WARC record — frames correctly, because only
    * the declared octet count decides where a record ends
    * ([[graft.functions.WarcSplitImpl]], one expression node, so the
    * stage stays a pure codegen projection). Chunks the walk cannot
    * frame fall back to the version-line split and `length_ok` flags
    * them, exactly as before.
    */
  def warcIngest(chunks: DataFrame): DataFrame =
    // measured WITHOUT a par() spread: unlike [[pinnedFrame]] (whose
    // pin is re-read by several channels), this is a single pass whose
    // consumers aggregate immediately — spreading it shuffled the
    // archive payload for no amortized reader and regressed q184
    // 0.23→0.30 s in the round-17 back-to-back bench
    httpFrame(warcFrame(chunks, "warc"))
      .select(
        col("doc_id"), col("n_records"), col("target_uri"),
        col("warc_date"), col("content_length"), col("length_ok"),
        col("http_status"), col("mime"), col("http_ok"),
        col("redirect_to"), col("charset"), col("etag"),
        col("last_modified"), col("body_ok"),
        titleOf(col("body")).as("title"),
        extractedText(col("body")).as("text_clean"))

  /** The HTTP MESSAGE stage inside the WARC payload — what a real
    * `response` record actually wraps: `HTTP/1.x <status>` line,
    * headers, blank line, body. Splits the framed payload into
    * `http_status` (null when no status line), `mime` (the media
    * type, parameters stripped, scanned over the HEADER BLOCK only —
    * a body line that happens to start with `Content-Type:` must
    * never hijack the verdict), `body` (after the first blank line;
    * a payload with no HTTP message at all passes through whole, so
    * pre-HTTP archives still extract), and the `http_ok` verdict
    * (`200` AND `text/html` — the first two gates a real archive
    * ingest applies before spending extraction on a record). Same
    * verdict-not-exception contract as the WARC layer: the planted
    * 404 (`%13==2`) and text/plain (`%13==5`) legs flow through the
    * oracle as rows. Pure per-row codegen projection — zero
    * exchanges, scan-bound at 100 TB like the framing itself.
    */
  private[graft] def httpFrame(framed: DataFrame): DataFrame = {
    // ONE fused expression, not a staged alias chain: round 14 built
    // this as body_raw → body_framed → body projections and the
    // planner's alias inlining duplicated the regex+inflate trees
    // into every consumer (q205/q211 27-34× slower, OOM at 8 GiB —
    // the round-14 verdict's #1). Every field below extracts from the
    // SAME http_frame(payload) subtree, which whole-stage codegen's
    // subexpression elimination evaluates once per row per operator;
    // semantics are the literal transcription, field by field
    // ([[graft.functions.HttpFrameImpl]]), so the DuckDB mirrors hold
    // unchanged.
    val h = HttpFunctions.httpFrame(col("payload"))
    framed.select(col("*"),
      h.getField("http_status").as("http_status"),
      h.getField("mime").as("mime"),
      h.getField("http_ok").as("http_ok"),
      h.getField("redirect_to").as("redirect_to"),
      h.getField("charset").as("charset"),
      h.getField("etag").as("etag"),
      h.getField("last_modified").as("last_modified"),
      h.getField("transfer_encoding").as("transfer_encoding"),
      h.getField("content_encoding").as("content_encoding"),
      h.getField("http_content_length").as("http_content_length"),
      h.getField("body_raw").as("body_raw"),
      h.getField("body_framed").as("body_framed"),
      h.getField("body_ok").as("body_ok"),
      h.getField("body_len_ok").as("body_len_ok"),
      h.getField("body").as("body"))
  }

  /** The round-14 staged form of [[httpFrame]], kept ONLY as the
    * parity witness for the fused expression: HttpCodecSpec asserts
    * column-for-column equality between the two over every planted
    * fixture. Never called from an operator.
    */
  private[graft] def httpFrameStaged(framed: DataFrame): DataFrame = {
    val pay = col("payload")
    val isHttp = pay.rlike("^HTTP/1\\.[01] [0-9]{3}")
    // the header BLOCK: everything before the first blank line — and
    // for statuses that cannot carry a body (204/304, RFC 9112 §6.3)
    // the whole payload when no blank line survived (the WARC
    // record-framing strip eats a bodiless message's trailing CRLFs,
    // stated at warcFrame; without this a 304's ETag — the validator
    // the conditional-refetch path exists for — would silently read
    // as ''). Deliberately NOT a general fallback: a 200 truncated
    // mid-headers must keep mime = '' and fail the gate.
    val headers0 = regexp_extract(pay, "(?s)^(.*?)\r\n\r\n", 1)
    val headers = when(headers0 === "" &&
        regexp_extract(pay, "^HTTP/1\\.[01] ([0-9]{3})", 1)
          .isin("204", "304"), pay)
      .otherwise(headers0)
    // HTTP header names are case-insensitive (RFC 9110 §5.1): a legal
    // `CONTENT-TYPE:` must not read as mime='' and drop a valid page
    // at the gate. The (?i:) group is scoped to the header NAME — it
    // runs over the header block only, never the body scan
    val mime = lower(trim(regexp_extract(headers,
      "(?m)^(?i:content-type):[ \\t]*([^;\r\n]+)", 1)))
    framed
      .withColumn("http_status", when(isHttp,
        regexp_extract(pay, "^HTTP/1\\.[01] ([0-9]{3})", 1).cast("int"))
        .otherwise(lit(null).cast("int")))
      .withColumn("mime", when(isHttp, mime).otherwise(lit("")))
      .withColumn("http_ok", coalesce(
        col("http_status") === 200 && col("mime") === "text/html",
        lit(false)))
      // a 3xx response's Location header IS the fetch's outcome: the
      // content lives at the target. Extracted here so the frontier
      // can treat it as a discovered link ([[redirectTargets]]) —
      // dropping it would silently lose the discovery channel that
      // carries roughly a third of real-crawl fetches. '' = not a
      // redirect (or a malformed 3xx without Location — a verdict,
      // not an exception, like every other leg)
      .withColumn("redirect_to",
        when(col("http_status").between(300, 399),
          trim(regexp_extract(headers,
            "(?m)^(?i:location):[ \\t]*([^\r\n]+)", 1)))
          .otherwise(lit("")))
      // the declared charset PARAMETER, kept instead of discarded:
      // real archives are full of legacy encodings, and bytes decoded
      // under the wrong charset are mojibake forever downstream. The
      // value may arrive as an RFC 9110 quoted-string
      // (charset="utf-8") — the capture excludes the quotes, so
      // quoted and bare spellings extract identically (round-13
      // ADVICE: quoted values used to skip every decode branch)
      .withColumn("charset", when(isHttp, lower(trim(regexp_extract(
        headers,
        "(?m)^(?i:content-type):[^\r\n]*;[ \\t]*(?i:charset)=\"?([^\";\r\n]+)\"?",
        1)))).otherwise(lit("")))
      // the response's ETag — the validator a conditional refetch
      // sends back as If-None-Match; stored in the fetch log beside
      // the fetch time, quotes kept (the validator is opaque bytes,
      // RFC 9110 §8.8.3)
      .withColumn("etag", when(isHttp, trim(regexp_extract(headers,
        "(?m)^(?i:etag):[ \\t]*([^\r\n]+)", 1))).otherwise(lit("")))
      // the TRANSPORT and REPRESENTATION codings, lowercased: a
      // chunked body left undecoded would embed hex chunk-size lines
      // in the extracted text (silent corpus corruption on real
      // archives — the round-13 audit's #1), and a gzip body would
      // read as binary soup
      .withColumn("transfer_encoding", when(isHttp, lower(trim(
        regexp_extract(headers,
          "(?m)^(?i:transfer-encoding):[ \\t]*([^\r\n]+)", 1))))
        .otherwise(lit("")))
      .withColumn("content_encoding", when(isHttp, lower(trim(
        regexp_extract(headers,
          "(?m)^(?i:content-encoding):[ \\t]*([^\r\n]+)", 1))))
        .otherwise(lit("")))
      // staged raw body: referenced by the decoding stages below —
      // its own projection so CollapseProject keeps the extraction
      // single (the crawlIngest contract)
      .withColumn("body_raw", when(isHttp,
        regexp_extract(pay, "(?s)\r\n\r\n(.*)$", 1)).otherwise(pay))
      // WIRE DECODING, in RFC order: Transfer-Encoding first (the
      // transport layer — chunked reassembled by the native
      // length-driven chunked_decode, identity passes through, any
      // other coding is undecodable), then Content-Encoding
      // (inflate_body: gzip/deflate inflated with structural
      // verification, identity passes, unknown codings undecodable).
      // Both decoders yield NULL on malformed/unknown input — the
      // corrupt-input-as-verdict contract, surfaced as `body_ok`
      // below; both run BEFORE the charset seam (inflate-then-decode,
      // or mojibake is forever). Non-HTTP payloads skip the wire
      // stages entirely (no headers to trust).
      .withColumn("body_framed",
        when(!isHttp, col("body_raw")).otherwise(HttpFunctions.inflateBody(
          when(col("transfer_encoding").isin("", "identity"), col("body_raw"))
            .when(col("transfer_encoding") === "chunked",
              HttpFunctions.chunkedDecode(col("body_raw")))
            .otherwise(lit(null).cast("string")),
          col("content_encoding"))))
      // the wire-decode VERDICT: false ⟺ a declared coding could not
      // be reversed (truncated chunk, lying gzip trailer, br/zstd…) —
      // the record framed and the status parsed, but the BODY is not
      // trustworthy; consumers gate pages on length_ok AND http_ok
      // AND body_ok, and the fetch funnel counts the stage
      .withColumn("body_ok", col("body_framed").isNotNull)
      // the DECODE seam. The body string is transport bytes (one char
      // per byte, the latin-1 identity — exactly what the gzip front
      // door emits): iso-8859-1/latin1 bodies ARE their characters;
      // a DECLARED utf-8 (or an absent charset) attempts UTF-8 —
      // reconstruct the bytes (encode latin-1 = identity) and decode.
      // Guarded by a full UTF-8 DFA match over the byte chars,
      // because Spark's ANSI decode THROWS on malformed input and a
      // mis-declared charset must degrade (fall back to the latin-1
      // reading), never kill the job — the corrupt-input-as-verdict
      // contract. The same guard proves every char ≤ 0xFF, so the
      // encode can never hit an unmappable character either. Any
      // OTHER declared charset (windows-1252, shift_jis, …) keeps the
      // latin-1 byte-identity reading — bytes that happen to pass the
      // UTF-8 DFA must not be silently mis-decoded as UTF-8
      // (round-13 ADVICE; a full legacy-codepage decode table is out
      // of scope, stated). Non-HTTP payloads pass through untouched.
      .withColumn("body", {
        val utf8Dfa = "^(?:[\\x00-\\x7F]" +
          "|[\\xC2-\\xDF][\\x80-\\xBF]" +
          "|\\xE0[\\xA0-\\xBF][\\x80-\\xBF]" +
          "|[\\xE1-\\xEC\\xEE\\xEF][\\x80-\\xBF]{2}" +
          "|\\xED[\\x80-\\x9F][\\x80-\\xBF]" +
          "|\\xF0[\\x90-\\xBF][\\x80-\\xBF]{2}" +
          "|[\\xF1-\\xF3][\\x80-\\xBF]{3}" +
          "|\\xF4[\\x80-\\x8F][\\x80-\\xBF]{2})*$"
        when(!isHttp, col("body_framed"))
          .when(col("charset").isin("iso-8859-1", "latin1", "latin-1"),
            col("body_framed"))
          // PURE-ASCII fast path: decode is the identity, so skip it
          // without paying the full DFA — one cheap negated-class scan
          // that exits on the first high byte. Real corpora are
          // mostly ASCII bodies; the expensive validation runs only
          // where a decode could actually change (or throw on)
          // something (probed: the unconditioned DFA cost q186 ~60%
          // at sf1)
          .when(!col("body_framed").rlike("[^\\x00-\\x7F]"),
            col("body_framed"))
          .when(col("charset").isin("utf-8", "utf8", "") &&
              col("body_framed").rlike(utf8Dfa),
            decode(encode(col("body_framed"), "ISO-8859-1"), "UTF-8"))
          .when(col("charset").isin("windows-1252", "cp1252"),
            translate(col("body_framed"),
              graft.functions.HttpFrameImpl.cp1252From,
              graft.functions.HttpFrameImpl.cp1252To))
          // the long-tail legs, FIXTURE-CLOSED like the DuckDB mirror
          // (Spark 4's decode() no longer accepts legacy charsets, so
          // a Column-DSL transcription of the real JDK decode does
          // not exist): the planted transport bytes replace to their
          // decoded text. The fused expression does the REAL
          // CharsetDecoder walk — on the planted legs the two agree
          // by construction of the constants
          .when(col("charset") === "shift_jis",
            replace(col("body_framed"), lit(sjisLeg._1), lit(sjisLeg._2)))
          .when(col("charset") === "euc-kr",
            replace(col("body_framed"), lit(eucKrLeg._1), lit(eucKrLeg._2)))
          .otherwise(col("body_framed"))
      })
  }

  /** Q204: the FETCH FUNNEL — per target domain, how many archive
    * chunks survive each front-door stage: chunks → WARC framing
    * (`length_ok`) → HTTP gate (`200` + `text/html`) → page verdict
    * (zero blocked outlinks, [[crawlIngest]]'s rule on the BODY with
    * fetch-host inheritance). The archive-side twin of the link-side
    * funnel (q195): the rollup an operator reads to see WHERE a
    * domain's fetches die before its pages ever reach extraction.
    * Chunks whose response record is missing or whose header block is
    * truncated carry no target host and roll up under the empty
    * domain — visible, not dropped (an archive full of unparseable
    * records should look loud in the funnel, not invisible).
    *
    * Scale shape: ONE aggregation over one zero-exchange projection —
    * framing, HTTP split, and the per-row blocked-link count are all
    * codegen'd expressions, and the group count is bounded by the
    * domain vocabulary. The stage flags are cumulative (each counts
    * survivors of everything upstream), so the columns are monotone
    * non-increasing per row — the funnel invariant, spec-pinned.
    */
  def fetchFunnel(chunks: DataFrame): DataFrame = {
    val blArr = array(PiiOps.defaultBlocklist.map(lit): _*)
    val framed = httpFrame(warcFrame(chunks, "warc"))
      .withColumn("fetch_host", coalesce(hostOf(col("target_uri")), lit("")))
      // coalesce: a chunk with no parseable target header (missing
      // response record) must roll up under '' — one visible bucket,
      // not a null group
      .withColumn("domain",
        coalesce(PiiOps.registrableDomain(col("fetch_host")), lit("")))
      .withColumn("links", hrefs(coalesce(col("body"), lit(""))))
    // the blocked count staged in its own projection (the
    // CollapseProject contract from crawlIngest: a lambda is outside
    // codegen CSE, so a repeated reference would run it twice)
    val nBlocked = size(filter(col("links"),
      u => array_contains(blArr,
        PiiOps.registrableDomain(inheritedHost(u, col("fetch_host"))))))
    framed
      .withColumn("n_blocked", nBlocked)
      .select(col("domain"),
        col("length_ok"),
        (col("length_ok") && col("http_ok")).as("ok_http"),
        // the wire-decode stage: a 200 text/html record whose chunked
        // or gzip body could not be reversed dies HERE — visible in
        // the funnel, never extracted
        (col("length_ok") && col("http_ok") && col("body_ok"))
          .as("ok_body"),
        (col("length_ok") && col("http_ok") && col("body_ok") &&
          col("n_blocked") === 0).as("ok_page"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("length_ok"), 1L).otherwise(0L)).as("n_framed"),
        sum(when(col("ok_http"), 1L).otherwise(0L)).as("n_http_ok"),
        sum(when(col("ok_body"), 1L).otherwise(0L)).as("n_body_ok"),
        sum(when(col("ok_page"), 1L).otherwise(0L)).as("n_page_ok"))
  }

  /** Q180's edge derivation: the registrable-domain LINK GRAPH from
    * the fetched pages — one (src_domain → dst_domain) edge per
    * distinct page-domain/link-domain pair, the input a crawl
    * frontier's prioritization signal (host-level PageRank) runs on.
    * Link hosts resolve exactly as [[htmlOutlinks]] does (protocol-
    * relative parse their own host, scheme'd non-http get none,
    * relative inherit the fetch host); unattributable ends drop.
    * Scale shape: a pure projection + posexplode, then DISTINCT on
    * (src, dst) — map-side partial aggregation collapses each task to
    * at most domains² rows before the one shuffle, so the edge set is
    * bounded by the domain vocabulary, never by corpus size (the q118
    * edge-derivation contract).
    *
    * SELF-LOOPS ARE RETAINED, deliberately: a page linking within its
    * own domain (every planted page's nav link) contributes a
    * `src == dst` edge, so in [[graft.ops.GraphOps.domainRank]] a
    * domain recycles part of its rank mass to itself each round —
    * the standard PageRank treatment of intra-site links, which
    * damps (but does not erase) the cross-domain signal. A caller
    * that wants the pure cross-domain ordering filters `src =!= dst`
    * on this function's output before ranking — the choice is the
    * consumer's, not baked into the edge derivation. The oracle
    * retains self-loops identically.
    */
  def domainEdges(pages: DataFrame): DataFrame = {
    val linkHost = inheritedHost(col("url"), col("fetch_host"))
    par(pages)
      .select(col("fetch_host"),
        explode(hrefs(coalesce(col("html"), lit("")))).as("url"))
      .select(
        PiiOps.registrableDomain(col("fetch_host")).as("src"),
        PiiOps.registrableDomain(linkHost).as("dst"))
      .filter(col("src") =!= "" && col("dst") =!= "")
      .distinct()
  }

  /** Q178: the canonical-URL KEY SET as a MAINTAINED crawl artifact —
    * the standing "have we fetched this page before" table a 100 TB
    * crawl keeps between ingests, which q174 recomputes from scratch.
    * One row per canonical key: the key and the doc that FIRST fetched
    * it (keep-first — q174's keep-lowest under fetch-ordered ids).
    * Rows land partitioned by `bucket` = hash(key) mod `n_buckets`
    * (the q137 band-artifact convention: the artifact, not the caller,
    * records its own geometry), so an ingest append touches only the
    * buckets its keys hash to. COMPACTION CAVEAT: the rows are also
    * Spark-BUCKETED (see [[loadUrlKeys]]), so a compaction must write
    * THROUGH the table (`insertInto` preserves the bucket-id file
    * naming) — a plain-parquet rewrite
    * ([[graft.io.Layout]]'s q139 tool) would strip the bucket
    * suffixes the catalog registration declares and break reads.
    * CONTRACT: ingest batches arrive in fetch order
    * (every id in a batch exceeds every stored id) — that is what
    * makes the incremental artifact equal the batch q174 recompute,
    * and it is the physical truth of a crawl frontier. No
    * production call passes `nBuckets`; ArtifactSpec's killed-save spec
    * varies it to prove a killed re-save never serves rows under the
    * other bucket count.
    */
  def saveUrlKeys(urls: DataFrame, scope: graft.core.Scope,
                  name: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val spark = urls.sparkSession
    graft.io.Artifact.save(spark, scope, name, "n_buckets" -> nBuckets) { at =>
      val tbl = registerKeyTable(spark, at("rows"), nBuckets)
      urlCanonicalDedup(urls).filter(col("is_canonical"))
        .select(col("canon"), col("doc_id"),
          keyBucket(col("canon"), nBuckets))
        .write.insertInto(tbl)
    }
  }

  private def keyBucket(canon: Column, nBuckets: Int): Column =
    pmod(xxhash64(canon), lit(nBuckets.toLong)).cast("int").as("bucket")

  /** The key set's CATALOG registration — what makes the stored side
    * of every frontier anti-join exchange-free at scale. The rows are
    * a Spark BUCKETED table (`CLUSTERED BY (canon)`, Murmur3 — the
    * same hash family a `groupBy`/join exchange uses), so a join on
    * `canon` reads the artifact ALREADY partitioned: only the
    * wave-sized candidate side shuffles, never the accumulated key
    * set (the plan regression the round-11 audit flagged — plain
    * parquet reshuffled the WHOLE stored set per wave). The xxhash
    * `bucket` PARTITION column is unchanged and orthogonal: it prunes
    * directory listings for the O(batch) ingest ([[appendUrlKeys]]);
    * the bucket SPEC co-locates the join. The bucket count comes from
    * the artifact's own manifest, the q137 self-describing convention.
    */
  private def registerKeyTable(spark: org.apache.spark.sql.SparkSession,
                               rowsPath: String, nBuckets: Int): String =
    registerArtifactTable(spark, rowsPath, nBuckets,
      columnsDdl = "canon STRING, doc_id BIGINT, bucket INT",
      partitionedBy = "bucket")

  private def registerFetchLogTable(spark: org.apache.spark.sql.SparkSession,
                                    rowsPath: String, nBuckets: Int): String =
    registerArtifactTable(spark, rowsPath, nBuckets,
      columnsDdl = "canon STRING, url STRING, last_fetch_s BIGINT, " +
        "etag STRING, last_modified STRING, bucket INT, fetch_day INT",
      partitionedBy = "bucket, fetch_day")

  /** The catalog registration shared by every maintained BUCKETED
    * artifact (the URL key set, the fetch log): an external table
    * `CLUSTERED BY (canon)` over one artifact version's `rows`, so
    * consumers joining on the canonical key read the stored side
    * exchange-free. `columnsDdl`/`partitionedBy` parameterize the
    * schema; the name ([[graft.io.Artifact.catalogTable]]) is
    * deterministic in the path, so a fresh session re-registers the
    * same table over the same files, and a save's fresh version path
    * gets a fresh table that [[graft.io.Artifact.save]] drops with the
    * version it replaces. A stale registration whose location was
    * deleted out from under it heals instead of serving a dead
    * location.
    */
  private def registerArtifactTable(spark: org.apache.spark.sql.SparkSession,
                                    rowsPath: String, nBuckets: Int,
                                    columnsDdl: String,
                                    partitionedBy: String): String = {
    val tbl = graft.io.Artifact.catalogTable(rowsPath)
    val p = new org.apache.hadoop.fs.Path(rowsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (spark.catalog.tableExists(tbl) && !fs.exists(p))
      spark.sql(s"DROP TABLE $tbl")
    if (!spark.catalog.tableExists(tbl)) {
      // registration precedes the first insert — the location must
      // exist for registration + partition recovery
      fs.mkdirs(p)
      spark.sql(
        s"""CREATE TABLE $tbl ($columnsDdl)
           |USING PARQUET
           |PARTITIONED BY ($partitionedBy)
           |CLUSTERED BY (canon) INTO $nBuckets BUCKETS
           |LOCATION '$rowsPath'""".stripMargin)
      // a re-registration (fresh session over an existing artifact)
      // must discover the partitions the writing session created
      spark.sql(s"MSCK REPAIR TABLE $tbl")
    }
    tbl
  }

  /** O(batch) ingest of a new fetch wave (q59's anti-join shape):
    * canonicalize the batch, keep the FIRST fetch per key within the
    * batch, anti-join the stored key set — pruned at listing time to
    * the buckets the batch actually hashes to — and append only the
    * fresh keys. Stored rows are NEVER read wide or rewritten;
    * untouched buckets keep their files byte-identical (spec-pinned).
    * Idempotent under replay: a crashed-and-replayed batch anti-joins
    * against the keys its first attempt already appended, so the
    * streaming maintainer (q179) is exactly-once on the key SET even
    * though storage is at-least-once. Returns the admitted rows.
    */
  def appendUrlKeys(batch: DataFrame, scope: graft.core.Scope,
                    name: String): DataFrame = {
    val spark = batch.sparkSession
    val meta = graft.io.Artifact.read(spark, scope, name)
    val nBuckets = meta.int("n_buckets")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("canon")).orderBy(col("doc_id"))
    val firstPerKey = batch
      .withColumn("canon", canonicalUrl(col("url")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("canon"), col("doc_id"), keyBucket(col("canon"), nBuckets))
    // the batch's touched-bucket set is at most n_buckets values
    // (model-sized by construction) — collecting it lets the stored
    // side prune to those partitions at listing time, so a small
    // ingest against a huge key set reads only the buckets it can
    // possibly collide with
    val touched = firstPerKey.select("bucket").distinct()
      .collect().map(_.getInt(0))
    val stored = loadUrlKeys(spark, scope, name)
      .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
      .select(col("canon").as("canon_ex"))
    val admitted = firstPerKey
      .join(stored, col("canon") === col("canon_ex"), "left_anti")
      .localCheckpoint(eager = true) // pin BEFORE the append below
    admitted.select(col("canon"), col("doc_id"), col("bucket"))
      .write.insertInto(registerKeyTable(spark, meta.table("rows"), nBuckets))
    admitted
  }

  /** The stored key set, read THROUGH its catalog registration so the
    * bucketing metadata reaches the planner: a consumer joining on
    * `canon` (every frontier anti-join) gets the stored side with no
    * Exchange — it is already hash-partitioned on disk, and now Spark
    * knows (PlanSpec pins the exchange-free anti-join; PLANS.md shows
    * the frontier plans).
    */
  def loadUrlKeys(spark: org.apache.spark.sql.SparkSession,
                  scope: graft.core.Scope, name: String): DataFrame = {
    val meta = graft.io.Artifact.read(spark, scope, name)
    spark.table(registerKeyTable(spark, meta.table("rows"), meta.int("n_buckets")))
      .select(col("canon"), col("doc_id"), col("bucket").cast("int").as("bucket"))
  }

  /** Probe the maintained key set: per URL, its canonical key and
    * whether THIS doc is the kept first fetch. Against the fully
    * ingested corpus this equals q174's verdict column (the
    * maintained artifact is layout, not semantics); a key absent from
    * the artifact (never ingested) reads `is_canonical = false`.
    */
  def urlKeyVerdicts(urls: DataFrame, scope: graft.core.Scope,
                     name: String): DataFrame = {
    val stored = loadUrlKeys(urls.sparkSession, scope, name)
      .select(col("canon"), col("doc_id").as("kept_doc_id"))
    urls.withColumn("canon", canonicalUrl(col("url")))
      .join(stored, Seq("canon"), "left")
      .select(col("doc_id"), col("url"), col("canon"),
        coalesce(col("kept_doc_id") === col("doc_id"), lit(false))
          .as("is_canonical"))
  }

  /** Q187: the CRAWL FRONTIER — the fetch-ordering decision the
    * crawl loop makes from the suite's own standing pieces: outlinks
    * of the fetched pages (q173's extraction + blocklist verdict —
    * unfetchable and blocked links never enter), canonicalized and
    * aggregated into one candidate per key with its reference count,
    * anti-joined against the MAINTAINED key set (q178 — a page
    * already fetched is never fetched again), prioritized by the
    * target domain's PageRank (q180), and capped at [[domainCap]]
    * slots per domain (politeness: no domain monopolizes a wave —
    * the q101 WindowGroupLimit shape). Output: one row per frontier
    * URL with (canon, url, domain, n_refs, pr, slot); a consumer
    * orders the wave by `pr DESC, n_refs DESC`.
    *
    * Scale shape: outlinks are the q173 projection; the candidate
    * aggregation and the anti-join shuffle ONCE each on the canonical
    * key (group sizes bounded by per-URL in-degree); the rank join is
    * BROADCAST (domain vocabulary — model-sized by the q180
    * contract); the per-domain cap is a WindowGroupLimit that prunes
    * before the final sort. The key-set side of the anti-join reads
    * the artifact's bucket layout — at 100 TB the stored keys
    * shuffle-partition by the same canon hash the candidates do.
    */
  def crawlFrontier(pages: DataFrame, scope: graft.core.Scope,
                    name: String, ranks: DataFrame): DataFrame =
    frontierFromLinks(
      htmlOutlinks(par(pages), baseHostCol = Some("fetch_host"))
        .filter(!col("blocked") && col("host") =!= ""),
      scope, name, ranks, domainCap)

  /** The per-domain politeness cap of the waves that do not take one
    * (every refetch wave among them): no domain gets more than 10
    * slots of a wave.
    */
  private val domainCap = 10

  /** Q191: the POLITE frontier — q187's fetch-ordering decision with
    * the robots-exclusion gate (q190) applied to the RESOLVED
    * candidate links BEFORE canonicalization: a URL the target
    * domain's rules forbid never becomes a candidate, never consumes
    * one of its domain's politeness slots, and never reaches the
    * anti-join. This is the
    * wave a compliant crawl actually executes: blocklist → robots →
    * unseen → rank priority → per-domain cap.
    *
    * Scale shape: q187's plan plus the q190 projection (broadcast
    * rule sets + per-row verdict) ahead of the candidate
    * aggregation — no new shuffle class; the gate THINS the one
    * canon-key exchange. Page-relative hrefs resolve against the root
    * (plain-HTML pages carry no page URL — stated at [[resolvedUrl]]).
    */
  def politeFrontier(pages: DataFrame, scope: graft.core.Scope,
                     name: String, ranks: DataFrame,
                     rules: DataFrame): DataFrame =
    frontierFromLinks(politeGatedLinks(pages, rules),
      scope, name, ranks, domainCap)

  /** Q228: RANK-PROPORTIONAL crawl BUDGETS — the per-domain cap
    * table [[budgetedFrontier]] feeds the admission tail: domain `d`
    * gets `clamp((totalBudget · pr_d) div Σpr, min, max)` politeness
    * slots (integer arithmetic end to end, Σpr floored at 1 so a
    * rank table of zeros degrades to the minimum everywhere, never a
    * division error). This is the crawl-budget allocation knob every
    * production crawler carries: a flat per-domain cap spends as
    * much of the wave on a spam farm as on the highest-authority
    * host; weighting by the rank artifact concentrates fetches where
    * the link graph says the value is, while the min floor keeps
    * every known domain crawlable (no starvation). Vocabulary-sized
    * input and output — always a broadcast.
    */
  def rankBudgets(ranks: DataFrame, totalBudget: Int,
                  maxPerDomain: Int = 50): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive: $totalBudget")
    require(maxPerDomain >= 1, s"maxPerDomain must be positive: $maxPerDomain")
    val tot = ranks.agg(
      greatest(sum(col("pr")), lit(1L)).as("tot"))
    ranks.crossJoin(broadcast(tot))
      .select(col("domain"),
        least(greatest(
          expr(s"(CAST($totalBudget AS BIGINT) * pr) div tot"),
          lit(1L)), lit(maxPerDomain.toLong))
          .cast("int").as("k_domain"))
  }

  /** Q228: the polite frontier under RANK-PROPORTIONAL budgets —
    * identical admission head and tail to [[politeFrontier]] (gates,
    * trap filter, canonical aggregation, anti-join, rank ordering),
    * with the flat per-domain cap replaced by [[rankBudgets]]'
    * table; unranked domains take one slot. The chosen cap is
    * emitted per row (`k_domain`) so the allocation is auditable.
    */
  /** @param budgetRanks optional SEPARATE weight table for the
    *                     allocation (domain, pr) — a crawl often
    *                     budgets on a business-weighted score while
    *                     ORDERING within a domain stays the link
    *                     rank; None budgets on `ranks` itself.
    */
  def budgetedFrontier(pages: DataFrame, scope: graft.core.Scope,
                       name: String, ranks: DataFrame, rules: DataFrame,
                       totalBudget: Int, maxPerDomain: Int = 50,
                       budgetRanks: Option[DataFrame] = None): DataFrame =
    frontierFromLinks(politeGatedLinks(pages, rules),
      scope, name, ranks, 1,
      caps = Some(rankBudgets(budgetRanks.getOrElse(ranks), totalBudget,
        maxPerDomain = maxPerDomain)))

  /** Q228's planted allocation weights: a deliberately SKEWED
    * per-domain score (quadratic ramp `(k+1)²`, with `s6` — a domain
    * whose candidates SURVIVE the robots gate — spiked to 500) so
    * the budget arithmetic's floor, proportional, and ceiling arms
    * are all observable in the scheduled wave — the epoch PageRank
    * over the planted graph is near-uniform and would exercise none
    * of them, and a spike on a gated-away domain would too.
    */
  def plantedDomainWeights(
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(13).select(
      concat(lit("s"), col("id"), lit(".example")).as("domain"),
      when(col("id") === 6, lit(500L))
        .otherwise((col("id") + 1L) * (col("id") + 1L)).as("pr"))

  /** The shared q191/q201 admission HEAD: attributable unblocked
    * outlinks, RESOLVED, then robots-gated. Gating the RESOLVED
    * candidate is the invariant: a path-relative href has no path of
    * its own, so gating it raw would slip it past every '/'-anchored
    * disallow and then schedule the resolved, fetchable form — the
    * robots decision must see the URL the crawler would actually
    * fetch. One implementation so the polite and anchor-boosted
    * frontiers can never diverge on it ([[crawlFunnel]] keeps its own
    * flag-carrying variant — it must COUNT the gated, not drop them).
    */
  private def politeGatedLinks(pages: DataFrame, rules: DataFrame,
                               basePathCol: Option[String] = None)
      : DataFrame = {
    // par: the href explode + robots gate + canonical aggregation
    // below is regex-dense map-side work; a one-split corpus would
    // run it serially before the canon exchange (no-op at scale)
    val links = htmlOutlinks(par(pages), baseHostCol = Some("fetch_host"),
        keep = basePathCol.toSeq)
      .filter(!col("blocked") && col("host") =!= "")
    val resolved = basePathCol match {
      // the WARC flows track the fetching page's path (its target
      // URI), so page-relative hrefs merge against the page's real
      // directory; the plain-HTML flows have no page URL and keep
      // the root base, stated at [[resolvedUrl]]
      case Some(bp) => links.withColumn("url",
        resolvedUrl(col("url"), col("host"), col(bp))).drop(bp)
      case None => links.withColumn("url",
        resolvedUrl(col("url"), col("host")))
    }
    robotsGate(resolved, rules)
      .filter(col("allowed"))
      .drop("path", "allowed", "rule_len")
  }

  /** The REDIRECT discovery channel: each 3xx record's `Location`
    * target as a candidate-link row (doc_id, url, host, domain,
    * blocked) — the same shape [[htmlOutlinks]] emits, because a
    * redirect target IS a discovered link: the content the crawler
    * asked for lives there. A server-relative Location inherits the
    * fetch host exactly like a relative href; targets with no
    * resolvable host drop downstream on the standard `host != ''`
    * filter; the blocklist verdict applies unchanged. Input is the
    * [[httpFrame]]d archive (`redirect_to`, `target_uri` columns).
    */
  private[graft] def redirectTargets(framed: DataFrame): DataFrame =
    PiiOps.blocklistVerdict(
      framed
        .filter(col("redirect_to") =!= "")
        .select(col("doc_id"), col("redirect_to").as("url"),
          hostOf(col("target_uri")).as("fetch_host"),
          // the REQUEST's own path: a relative Location resolves
          // against it (RFC 9110 §10.2.2 references RFC 3986 §5)
          urlPath(col("target_uri")).as("base_path"))
        .withColumn("host", inheritedHost(col("url"), col("fetch_host")))
        .withColumn("domain", PiiOps.registrableDomain(col("host"))))
      .select(col("doc_id"), col("url"), col("host"), col("domain"),
        col("blocked"), col("base_path"))

  /** Q205: the REDIRECT-AWARE frontier — the polite wave with BOTH
    * discovery channels the archive actually carries: outlinks of the
    * valid (200 text/html, octet-verified) pages, AND the `Location`
    * targets of 3xx fetches ([[redirectTargets]]). On a real crawl
    * roughly a third of fetches redirect; without this channel every
    * moved page whose new address nothing links yet is silently lost.
    * Both channels pass the IDENTICAL admission chain — blocklist,
    * robots on the RESOLVED url, canonical-key aggregation (a target
    * both linked and redirected-to accumulates refs from both),
    * anti-join against the maintained key set, rank priority,
    * politeness cap — so a redirect target competes for a wave slot
    * on equal terms, no side door.
    *
    * Scale shape: q191's plan plus one more zero-exchange projection
    * (the redirect rows are a filter over the already-framed scan)
    * union'd below the one canon-key exchange. The framing
    * projection feeds both channels; a loop caller that has the
    * batch persisted (the q203 pattern) pays the archive scan once.
    */
  def redirectFrontier(chunks: DataFrame, scope: graft.core.Scope,
                       name: String, ranks: DataFrame,
                       rules: DataFrame): DataFrame =
    redirectFrontierFramed(pinnedFrame(chunks),
      scope, name, ranks, rules, domainCap)

  /** The framed archive PINNED once for the BATCH compositions whose
    * discovery reads it through more than one channel (outlinks AND
    * redirects, [[gatedCandidates]]) — exactly the per-wave persist
    * the streaming loop already does. Without it each channel re-runs
    * fixture + framing + wire decode from the scan (the round-14
    * 27-34× regression); with it the archive is scanned and decoded
    * ONCE and both channels read executor-local blocks. Columns are
    * pruned to the consumer set BEFORE the pin so the materialization
    * never carries payload/body_raw twins. At cluster scale this is
    * the standard iterate-over-a-derived-batch pattern: the pinned
    * wave is O(valid pages), not O(archive).
    */
  private def pinnedFrame(chunks: DataFrame): DataFrame =
    // par: a small archive arrives as one parquet split and would
    // otherwise frame + wire-decode serially in a single task (the
    // whole pin is ONE job); at scale the scan has >= cores splits
    // and par is a no-op (guide §2.5 input skew)
    httpFrame(warcFrame(par(chunks), "warc"))
      // COLUMN-pruned only, deliberately: a row filter here would sit
      // BETWEEN the decode and the projection, and FilterExec shares
      // no subexpressions with ProjectExec — the http_frame tree would
      // evaluate once per predicate leg plus once for the projection
      // (measured: +45% on q205). The pin therefore holds one pruned
      // row per archive record; the channels' own filters run against
      // materialized columns. At archive scale the caller bounds the
      // pin by feeding waves, exactly like the streaming loop.
      .select(col("doc_id"), col("n_records"), col("target_uri"),
        col("warc_date"), col("content_length"), col("length_ok"),
        col("http_status"), col("mime"), col("http_ok"),
        col("redirect_to"), col("charset"), col("etag"),
        col("last_modified"), col("body_ok"), col("body"))
      .localCheckpoint(eager = true)

  /** [[redirectFrontier]] over an ALREADY-framed archive — what the
    * streaming WARC loop calls per wave: the loop persists the framed
    * batch once, and both discovery channels read that cache.
    */
  private[graft] def redirectFrontierFramed(framed: DataFrame,
                                            scope: graft.core.Scope,
                                            name: String,
                                            ranks: DataFrame,
                                            rules: DataFrame,
                                            kPerDomain: Int = 10): DataFrame =
    frontierFromLinks(gatedCandidates(framed, rules), scope, name,
      ranks, kPerDomain)

  /** Both gated discovery channels over a framed archive — the
    * outlinks of the valid pages and the 3xx Location targets — as
    * one candidate-link table, shared by [[redirectFrontierFramed]]
    * and the retry-gated wave ([[retryGatedFrontier]]).
    */
  private def gatedCandidates(framed: DataFrame,
                              rules: DataFrame): DataFrame = {
    // both channels resolve against the fetching page's REAL path
    // (its WARC-Target-URI): page-relative hrefs and relative
    // Location targets merge per RFC 3986 §5.2.3, not against root
    val pages = framed.filter(col("length_ok") && col("http_ok") &&
        col("body_ok"))
      .select(col("doc_id"), hostOf(col("target_uri")).as("fetch_host"),
        urlPath(col("target_uri")).as("base_path"),
        col("body").as("html"))
    val pageLinks = politeGatedLinks(pages, rules,
        basePathCol = Some("base_path"))
      .select(col("doc_id"), col("url"), col("host"), col("domain"))
    val redirects = redirectTargets(framed)
      .filter(!col("blocked") && col("host") =!= "")
      .withColumn("url",
        resolvedUrl(col("url"), col("host"), col("base_path")))
      .drop("base_path")
    val gatedRedirects = robotsGate(redirects, rules)
      .filter(col("allowed"))
      .select(col("doc_id"), col("url"), col("host"), col("domain"))
    pageLinks.unionByName(gatedRedirects)
  }

  /** Q221's fixture: pre-framed HTTP fetch MESSAGES whose 3xx legs
    * form REDIRECT CHAINS — runs of consecutive doc_ids each
    * `Location`-pointing at the next — so the multi-hop resolver has
    * real shapes to walk. Legs on `r = doc_id % 31`:
    *   - r ∈ {1,2,3}: 301 → u(doc_id+1) — a 3-long run; the r==1
    *     origin resolves in 3 hops onto the r==4 doc's 200.
    *   - r ∈ 11..17: 301 → u(doc_id+1) — a 7-long run; origins at
    *     r==11/12 EXCEED the 5-hop cap (`too_deep`), r==13 resolves
    *     at exactly hops=5, r==14..17 inside the cap.
    *   - r==20: 301 → u(doc_id+2) and r==22: 301 → u(doc_id-2) —
    *     the planted A→B→A cycle; BOTH origins verdict `loop` at
    *     hops=2 (r(k)=20 ⇔ r(k+2)=22, so the pair always co-occurs).
    *   - r==25: 302 → an `ext.example` URL NO fetch ever covers (a
    *     namespace disjoint from u(·) at every scale, so the probe
    *     replicas cannot collide it into fetched space): resolves in
    *     1 hop with `final_status` null.
    *   - else: 200 text/html.
    * Runs that cross the corpus boundary (u(max+1) unfetched) resolve
    * early on both engines — the fetched set IS the documents table.
    * URLs are planted CANONICAL and absolute (chain-key equality is
    * exact-string; canonicalization and relative-Location resolution
    * are the q205 admission chain's job, upstream of this resolver).
    */
  def plantedRedirectMessages(documents: DataFrame): DataFrame = {
    val crlf = "\r\n"
    val r = col("doc_id") % 31
    def u(k: Column) = concat(lit("https://s"),
      (k % 10).cast("string"), lit(".example/c/"), k.cast("string"))
    val isRedir = r.isin(1, 2, 3, 20, 22) || (r >= 11 && r <= 17)
    val dst = when(r === 20, u(col("doc_id") + 2))
      .when(r === 22, u(col("doc_id") - 2))
      .when(r === 25, concat(lit("https://ext.example/m/"),
        col("doc_id").cast("string")))
      .otherwise(u(col("doc_id") + 1))
    documents.select(col("doc_id"), u(col("doc_id")).as("url"), concat(
      when(isRedir, lit("HTTP/1.1 301 Moved Permanently" + crlf))
        .when(r === 25, lit("HTTP/1.1 302 Found" + crlf))
        .otherwise(lit("HTTP/1.1 200 OK" + crlf)),
      when(isRedir || r === 25,
        concat(lit("Location: "), dst, lit(crlf))).otherwise(lit("")),
      lit("Content-Type: text/html; charset=utf-8" + crlf),
      lit(crlf),
      when(isRedir || r === 25, lit(""))
        .otherwise(lit("<html><body>landed</body></html>")))
      .as("payload"))
  }

  /** Q221: MULTI-HOP REDIRECT CHAIN RESOLUTION — the redirect map a
    * crawler keeps beside its fetch log. q205 surfaces each 3xx's
    * IMMEDIATE target as a discovery candidate; this resolves every
    * redirecting fetch to its FINAL address so the canonical-URL
    * store can collapse the whole chain onto one key (the move
    * `/old → /tmp → /new` must count as ONE page, and its inbound
    * links must credit `/new`). Browsers and crawlers cap the walk —
    * 5 edges here (cf. RFC 9110 §15.4's historic
    * 5-redirect guidance) — and a chain that revisits a URL is a
    * `loop` verdict, one that exhausts the cap `too_deep`; both stay
    * countable rows, never an unbounded iteration.
    *
    * Per origin (every fetched 3xx with a Location): `final_url`
    * where the walk stopped, `hops` edges traversed, `verdict` ∈
    * resolved | loop | too_deep, and `final_status` (the fetched
    * status of the final URL; null when the chain leaves the fetched
    * set — the target a later wave must go get). When a URL was
    * fetched more than once the LATEST fetch's status/target wins
    * (argmax on `doc_id`, the fixtures' monotone stand-in for fetch
    * time — the q213 struct-max convention).
    *
    * Scale shape: the edge table is O(3xx fetches) — a bounded
    * fraction of the archive — pinned ONCE (`localCheckpoint`, the
    * q205 discipline) and re-read by at most 5 bounded
    * waves. Each wave is one shuffle join of the SHRINKING active
    * set against the pinned edges (chains are short on real crawls,
    * so the frontier collapses geometrically; the walk exits early
    * the moment no chain is still open). No driver-side iteration
    * over rows — the loop variable is a DataFrame, the per-wave
    * emptiness check moves one count. The verdict precedence is
    * loop > resolved > too_deep, mirrored exactly by the oracle's
    * recursive replay.
    */
  def resolveRedirectChains(framed: DataFrame): DataFrame = {
    val maxHops = 5
    // one row per fetched URL, latest fetch wins. LAZY checkpoints
    // (round-17): the lineage cut is identical, but materialization
    // rides the first consuming job (hop 1's count) instead of paying
    // two up-front driver round-trips (guide §1.2 step 1 — fewer
    // sequential jobs per query)
    val fetches = framed.filter(col("http_status").isNotNull)
      .groupBy(col("url"))
      .agg(max(struct(col("doc_id"), col("http_status"),
        col("redirect_to"))).as("v"))
      .select(col("url"), col("v.http_status").as("status"),
        col("v.redirect_to").as("redir"))
      .localCheckpoint(eager = false)
    val edges = fetches
      .filter(col("status").between(300, 399) && col("redir") =!= "")
      .select(col("url").as("src"), col("redir").as("dst"))
      .localCheckpoint(eager = false)
    val srcs = edges.select(col("src")).distinct()
    var state = edges.select(col("src").as("origin"),
      col("src").as("cur"), lit(0).as("hops"),
      array(col("src")).as("visited"),
      lit(null).cast("string").as("verdict"))
    var hop = 0
    var open = true
    while (open && hop < maxHops) {
      val active = state.filter(col("verdict").isNull)
      val settled = state.filter(col("verdict").isNotNull)
      val stepped = active
        .join(edges, col("cur") === col("src"))
        .join(srcs.select(col("src").as("dst_src")),
          col("dst") === col("dst_src"), "left")
        .select(col("origin"), col("dst").as("cur"),
          (col("hops") + 1).as("hops"),
          array_union(col("visited"), array(col("dst"))).as("visited"),
          when(array_contains(col("visited"), col("dst")), lit("loop"))
            .when(col("dst_src").isNull, lit("resolved"))
            .when(col("hops") + 1 === maxHops, lit("too_deep"))
            .otherwise(lit(null).cast("string")).as("verdict"))
      // ONE job per hop: the lazy checkpoint materializes (and cuts
      // lineage) inside the same count that probes for still-open
      // chains — replacing the eager-checkpoint + isEmpty pair
      state = settled.unionByName(stepped).localCheckpoint(eager = false)
      hop += 1
      open = hop < maxHops &&
        state.filter(col("verdict").isNull).count() > 0L
    }
    state.join(fetches.select(col("url").as("cur"),
        col("status").as("final_status")), Seq("cur"), "left")
      .select(col("origin"), col("cur").as("final_url"), col("hops"),
        col("verdict"), col("final_status"))
  }

  /** Q211: the RETRY-GATED frontier — the missing piece between "a
    * failed fetch stays discoverable" and "the crawler hammers the
    * same dead URL every wave": candidates pass the standard
    * admission chain AND an anti-join against the ATTEMPT log's
    * recent entries. The attempt log is the fetch-log machinery
    * verbatim over attempted (not just successful) fetches — same
    * catalog bucketed table, same struct-max upsert, same
    * `fetch_day` staleness partitions, which here prune the OTHER
    * way: only partitions younger than `nowS - retryTtlS` can hold a
    * deferring attempt, so the gate reads the recent days only. A URL
    * attempted within the TTL is deferred (in flight, or failed too
    * recently to retry); one whose last attempt has aged out competes
    * again on equal terms. Admission order: key set first (fetched is
    * forever), attempts second (deferral expires).
    *
    * Scale shape: q205's plan plus ONE more anti-join whose stored
    * side is bucketed on the same canon (exchange-free, the q187
    * contract) and partition-pruned to the TTL window.
    */
  def retryGatedFrontier(chunks: DataFrame, scope: graft.core.Scope,
                         keysName: String, attemptsName: String,
                         nowS: Long, retryTtlS: Long,
                         ranks: DataFrame, rules: DataFrame): DataFrame =
    retryGatedFrontierFramed(pinnedFrame(chunks),
      scope, keysName, attemptsName, nowS, retryTtlS, ranks, rules,
      domainCap)

  /** [[retryGatedFrontier]] over an ALREADY-framed archive — what the
    * attempt-stamping streaming loop calls per wave (the
    * [[redirectFrontierFramed]] pattern: the loop persists the framed
    * batch once, both channels and the gate read that cache).
    */
  private[graft] def retryGatedFrontierFramed(framed: DataFrame,
      scope: graft.core.Scope, keysName: String, attemptsName: String,
      nowS: Long, retryTtlS: Long, ranks: DataFrame, rules: DataFrame,
      kPerDomain: Int = 10): DataFrame =
    frontierFromLinks(gatedCandidates(framed, rules), scope, keysName,
      ranks, kPerDomain,
      excludeRecent = Some(recentAttempts(framed.sparkSession, scope,
        attemptsName, nowS, retryTtlS)))

  /** The attempts DEFERRING a wave dispatched at `nowS`: completed
    * strictly BEFORE the wave's own clock (replay safety — a replayed
    * micro-batch re-reads an attempt log that already holds its OWN
    * stamps at `nowS + offset`, and deferring those would rewrite the
    * wave empty) and younger than the retry TTL.
    *
    * Scale shape: recent ⇒ last_attempt > now - ttl ⇒ attempt day >=
    * floor((now - ttl)/86400) — the staleness partition prunes the
    * AGED-OUT days at listing time (mirror image of the refetch
    * due-scan).
    */
  private def recentAttempts(spark: org.apache.spark.sql.SparkSession,
                             scope: graft.core.Scope, name: String,
                             nowS: Long, retryTtlS: Long): DataFrame = {
    require(retryTtlS > 0, s"retryTtlS must be positive: $retryTtlS")
    val freshDay = Math.max(Int.MinValue.toLong,
      Math.min(Int.MaxValue.toLong,
        Math.floorDiv(nowS - retryTtlS, 86400L))).toInt
    loadFetchLog(spark, scope, name)
      .filter(col("fetch_day") >= freshDay)
      .filter(col("last_fetch_s") < nowS &&
        lit(nowS) - col("last_fetch_s") < retryTtlS)
      .select(col("canon").as("canon_attempted"))
  }

  /** The shared q187/q191 frontier tail over a candidate LINK table
    * (doc_id, url, host, domain, …): RELATIVE hrefs are resolved
    * against the host they inherited BEFORE canonicalization —
    * without this, `/about/x` links from every domain would collapse
    * onto one raw-path key, misattributing rank and politeness and
    * emitting an unfetchable URL (and, once fetched, suppressing
    * every OTHER domain's `/about/x` forever via the key set). A
    * server-relative href resolves as `//host/path`; a path-relative
    * one resolves against the ROOT (`//host/` + href) — the page's
    * own path is not tracked this deep, a stated simplification, not
    * RFC 3986 merge semantics. Then: canonical-key aggregation, the
    * anti-join against the maintained key set, the broadcast rank
    * join, and the per-domain cap.
    */
  /** Q194: ANCHOR-TEXT mining — the visible text of every link,
    * aggregated per canonical TARGET: the classic weak-label signal a
    * training pipeline harvests (what the web calls a page is a
    * description the page itself cannot fake). Anchor elements are
    * matched whole (`<a …>…</a>`, case classes on the tag letters,
    * non-greedy so one anchor cannot swallow the document), the href
    * and the tag-stripped inner text pulled per element, targets
    * resolved exactly as the frontier resolves them (own authority,
    * else the fetch host — unattributable targets drop), and the
    * lowercased whitespace tokens of the text counted per
    * (canonical target, term).
    *
    * Scale shape: a pure projection (regex chain + two explodes) into
    * ONE shuffle on (canon, term) with map-side partial aggregation;
    * group count is bounded by target-vocabulary × anchor-vocabulary,
    * rows by total anchor tokens — never all-pairs anything.
    */
  def anchorTerms(pages: DataFrame): DataFrame =
    anchorTermRows(pages)
      .groupBy(col("canon"), col("term"))
      .agg(count(lit(1)).cast("long").as("n"))

  /** The pre-aggregation (canon, term) occurrence rows behind
    * [[anchorTerms]] — exposed separately so a consumer hunting for
    * SPECIFIC terms ([[anchorBoostedFrontier]]) can filter BEFORE the
    * exchange: the shuffle then carries only the boost-term rows, not
    * the whole anchor vocabulary.
    */
  private def anchorTermRows(pages: DataFrame): DataFrame = {
    val elems = regexp_extract_all(coalesce(col("html"), lit("")),
      lit("(?s)<[Aa]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Aa]>"), lit(0))
    // href from the START TAG only — an href="…" substring in the
    // visible text (or a nested tag) must not hijack attribution
    val startTag = regexp_extract(col("a"),
      "^<[Aa]([ \\t\\n\\x0B\\f\\r][^>]*)?>", 0)
    val href = regexp_extract(startTag, "[Hh][Rr][Ee][Ff]=\"([^\"]*)\"", 1)
    val text = trim(regexp_replace(
      regexp_replace(col("a"), "<[^>]*>", " "),
      "[ \\t\\n\\x0B\\f\\r]+", " "))
    pages
      .select(col("fetch_host"), explode(elems).as("a"))
      .select(col("fetch_host"), href.as("url"), text.as("anchor"))
      // an href-less (or empty-href) anchor is not a link: its text
      // must not fall through host inheritance onto the site root
      .filter(col("url") =!= "")
      .withColumn("host", inheritedHost(col("url"), col("fetch_host")))
      .filter(col("host") =!= "")
      .select(canonicalUrl(resolvedUrl(col("url"), col("host")))
        .as("canon"),
        explode(split(lower(col("anchor")),
          "[ \\t\\n\\x0B\\f\\r]+")).as("term"))
      .filter(col("term") =!= "")
  }

  /** Q201: the ANCHOR-BOOSTED frontier — q194's weak-label signal
    * finally feeding the decision it was mined for: candidates whose
    * incoming anchor text carries the boost term `ref` (what the
    * web CALLS the page — "download", "paper", "dataset", whatever
    * the pipeline hunts) outrank same-domain candidates on reference
    * count alone. The wave is q191's polite admission (blocklist →
    * robots → anti-join → rank) with the per-domain cap ordered by
    * (anchor_score desc, n_refs desc, canon) — the boost REORDERS
    * politeness slots, it never bypasses admission.
    *
    * Scale shape: q191's plan plus the q194 anchor aggregation; the
    * score join is canon-keyed on BOTH sides of one hash partition
    * family (the candidate agg and the anchor agg shuffle on the
    * same key), and the boost-term filter thins the anchor side to
    * the term vocabulary before its aggregate.
    */
  def anchorBoostedFrontier(pages: DataFrame, scope: graft.core.Scope,
                            name: String, ranks: DataFrame,
                            rules: DataFrame): DataFrame = {
    val cands0 = politeGatedLinks(pages, rules)
      .withColumn("canon", canonicalUrl(col("url")))
      .groupBy(col("canon"))
      .agg(min(col("url")).as("url"), min(col("domain")).as("domain"),
        count(lit(1)).cast("long").as("n_refs"))
    // term filter BELOW the exchange: only boost-term occurrences
    // shuffle, never the full anchor vocabulary. (Measured honestly:
    // at sf1 the win is small — the anchor REGEX SCAN dominates this
    // composition, not the shuffle — but at 100 TB the difference is
    // shuffling a handful of terms vs every token on the web.)
    val scores = anchorTermRows(pages)
      .filter(col("term") === "ref")
      .groupBy(col("canon"))
      .agg(count(lit(1)).cast("long").as("anchor_score"))
    val cands = cands0.join(scores, Seq("canon"), "left")
      .withColumn("anchor_score", coalesce(col("anchor_score"), lit(0L)))
    frontierTail(cands, scope, name, ranks, domainCap,
      orderBy = Seq(col("anchor_score").desc, col("n_refs").desc,
        col("canon").asc),
      extra = Seq("anchor_score"))
  }

  /** Q197's fixture: one sitemap XML document per planted domain
    * (`s0.example` … `s12.example`), ten `<url><loc>…</loc>
    * <lastmod>…</lastmod></url>` entries each, every varying field a
    * pure domain-index expression so the oracle regenerates the
    * bytes. The planted split: domains `s0`-`s4` list only pages the
    * dirty-URL corpus has already fetched (every (w, s, p) residue
    * combo under 385 is a fetched canonical key), so their seeds
    * must die at the anti-join; `s5`-`s12` pages are genuinely new
    * and flow to the blocklist/robots/cap stages. An ELEVENTH entry
    * duplicates entry 0's loc with a DIFFERENT lastmod (+14 days mod
    * 28 — never equal), the planted collision: the per-canon lastmod
    * aggregation must pick the STALEST declaration, and the
    * stale-first cap ordering is observable on the merged seed.
    */
  def plantedSitemaps(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(13).select(
      concat(lit("s"), col("id"), lit(".example")).as("domain"),
      expr(
        """concat('<?xml version="1.0"?><urlset>',
          | array_join(transform(sequence(0, 9), i -> concat(
          |  '<url><loc>https://w', cast((id + 2 * i) % 7 as string),
          |  '.s', cast(id as string), '.example/p/',
          |  cast((id + i) % 11 as string),
          |  '</loc><lastmod>2026-01-',
          |  lpad(cast(1 + (id + i) % 28 as string), 2, '0'),
          |  '</lastmod></url>')), ''),
          | '<url><loc>https://w', cast(id % 7 as string),
          | '.s', cast(id as string), '.example/p/',
          | cast(id % 11 as string),
          | '</loc><lastmod>2026-01-',
          | lpad(cast(1 + (id + 14) % 28 as string), 2, '0'),
          | '</lastmod></url>',
          | '</urlset>')""".stripMargin.replace("\n", " "))
        .as("xml"))

  /** Q197: SITEMAP SEEDING — the crawl's third discovery source
    * beside outlinks (q187) and refetch (q196): publisher-declared
    * URLs from sitemap XML, run through the same admission pipeline a
    * link candidate faces. `<loc>` entries extract with a
    * case-classed element regex (sitemap locs are absolute by spec —
    * an unparseable loc drops); then blocklist, the robots gate
    * (publishers list pages their robots rules exclude more often
    * than you'd hope), the anti-join against the maintained key set,
    * rank priority, and the per-domain cap — the SAME [[frontierTail]]
    * as q187/q191, so sitemap seeds and link candidates can never
    * disagree about admission semantics. The `<lastmod>` element is
    * CARRIED, not discarded: per canonical seed the STALEST declared
    * modification survives (min — a publisher listing the same loc
    * twice is telling you how long it has really been), and the
    * per-domain cap orders STALE-FIRST (lastmod asc, canon tiebreak)
    * — the natural staleness priority for seeding; an entry with no
    * lastmod ('' sorts lowest) is treated as maximally stale,
    * conservative for coverage. The planted dup-loc leg makes both
    * the aggregation and the ordering oracle-observable.
    *
    * Scale shape: sitemaps are domain-vocabulary-sized inputs; the
    * extraction is a projection + two regex pulls per entry, and
    * everything downstream is the frontier tail's one canon exchange
    * + broadcast joins.
    */
  def sitemapSeeds(sitemaps: DataFrame, scope: graft.core.Scope,
                   name: String, ranks: DataFrame, rules: DataFrame,
                   kPerDomain: Int = 10): DataFrame = {
    val locs = sitemapEntries(sitemaps)
    val unblocked = graft.ops.PiiOps.blocklistVerdict(locs)
      .filter(!col("blocked")).drop("blocked")
    val allowed = robotsGate(unblocked, rules)
      .filter(col("allowed")).drop("path", "allowed", "rule_len")
    val cands = allowed
      .withColumn("canon", canonicalUrl(col("url")))
      .groupBy(col("canon"))
      .agg(min(col("url")).as("url"), min(col("domain")).as("domain"),
        count(lit(1)).cast("long").as("n_refs"),
        min(col("lastmod")).as("lastmod"))
    frontierTail(cands, scope, name, ranks, kPerDomain,
      orderBy = Seq(col("lastmod").asc, col("canon").asc),
      extra = Seq("lastmod"))
  }

  /** The `<url>` entries of flat `<urlset>` documents — loc +
    * lastmod + host/domain, the extraction [[sitemapSeeds]] (q197)
    * and [[sitemapRefetchWave]] (q223) share so the two can never
    * disagree about what a sitemap declares.
    */
  private def sitemapEntries(sitemaps: DataFrame): DataFrame =
    sitemaps
      .select(explode(regexp_extract_all(coalesce(col("xml"), lit("")),
        lit("(?s)<[Uu][Rr][Ll]>.*?</[Uu][Rr][Ll]>"), lit(0))).as("e"))
      .select(
        regexp_extract(col("e"),
          "<[Ll][Oo][Cc]>([^<]*)</[Ll][Oo][Cc]>", 1).as("url"),
        regexp_extract(col("e"),
          "<[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>([^<]*)</[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>",
          1).as("lastmod"))
      .filter(col("url") =!= "")
      .withColumn("host", hostOf(col("url")))
      .filter(col("host") =!= "")
      .withColumn("domain", graft.ops.PiiOps.registrableDomain(col("host")))

  /** Q223: SITEMAP-LASTMOD INCREMENTAL REFETCH — the sitemaps
    * protocol's change feed driving the recrawl budget. q196/q202
    * refetch on AGE (TTL heuristics: fetch old things); `<lastmod>`
    * is the publisher SAYING what changed, so the wave here is the
    * intersection of the declared sitemap entries with the
    * maintained fetch log where `lastmod` is STRICTLY NEWER than our
    * latest fetch — a declared-unchanged page is SKIPPED no matter
    * how old its fetch (that skip is the entire point: on a real
    * crawl the sitemap collapses the steady-state refetch rate to
    * the publisher's actual churn). Entries WITHOUT a parseable
    * lastmod carry no signal and ride the ordinary TTL wave instead
    * (q196), never this one; per canon the LATEST declared lastmod
    * wins (max — the opposite reduction from q197's seeding `min`,
    * which measures staleness, not change). Keys absent from the log
    * are DISCOVERY, q215's admission job, not a refetch.
    *
    * Admission gates are deliberately absent: every key in the log
    * passed blocklist+robots when it was first crawled, and rule
    * churn is [[robotsAvailabilityGate]]'s dimension.
    *
    * Scale shape: the sitemap side is domain-vocabulary-sized; its
    * canons' BUCKET SET prunes the fetch-log artifact's listing
    * (the appendFetchLog touched-bucket discipline — at most
    * `n_buckets` values, collected model-sized) and the join itself
    * broadcasts the sitemap side, so a wave reads O(touched buckets)
    * of the log and shuffles nothing corpus-sized. Output ordering:
    * the q196 politeness cap, stalest fetch first.
    */
  def sitemapRefetchWave(sitemaps: DataFrame,
                         spark: org.apache.spark.sql.SparkSession,
                         scope: graft.core.Scope, logName: String,
                         ranks: DataFrame): DataFrame = {
    val nBuckets = graft.io.Artifact.read(spark, scope, logName).int("n_buckets")
    val declared = sitemapEntries(sitemaps)
      .withColumn("lastmod_s",
        try_to_timestamp(col("lastmod"), lit("yyyy-MM-dd")).cast("long"))
      .filter(col("lastmod_s").isNotNull)
      .groupBy(canonicalUrl(col("url")).as("canon"))
      .agg(min(col("domain")).as("domain"),
        max(col("lastmod_s")).as("lastmod_s"))
      .withColumn("bucket", keyBucket(col("canon"), nBuckets))
      // lazy: the touched-bucket collect right below materializes it
      // in its own job — an eager cut here would pay that job twice
      .localCheckpoint(eager = false)
    // touched buckets: at most n_buckets values, model-sized
    val touched = declared.select("bucket").distinct()
      .collect().map(_.getInt(0))
    val due = loadFetchLog(spark, scope, logName)
      .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
      .drop("bucket", "fetch_day", "etag", "last_modified")
      .join(broadcast(declared.drop("bucket")), Seq("canon"))
      .filter(col("lastmod_s") > col("last_fetch_s"))
    refetchTail(due, "last_fetch_s", ranks)
      .select(col("canon"), col("url"), col("domain"),
        col("lastmod_s"), col("last_fetch_s"),
        (col("lastmod_s") - col("last_fetch_s")).as("drift_s"),
        col("pr"), col("slot").cast("int").as("slot"))
  }

  /** The per-entry (url, published_s) extraction for RSS 2.0 and
    * Atom feeds — scoped to `<item>`/`<entry>` BLOCKS first, so
    * channel-level links (the RSS site `<link>`, Atom's feed-level
    * `rel="self"`) never read as content entries. RSS entries link
    * as element text and date as RFC 822 `<pubDate>`; Atom entries
    * link as `href` attributes — of which only the content link
    * counts: a tag carrying `rel=` is skipped unless it says
    * `rel="alternate"` (the planted per-entry `rel="enclosure"`
    * media attachment must not become a crawl candidate) — and date
    * as ISO 8601 `<updated>`. Both date grammars parse through the
    * corrupt-input-as-verdict convention: an absent or garbage date
    * is a null `published_s`, never a dropped entry.
    */
  private def feedEntries(feeds: DataFrame): DataFrame = {
    val blocks = feeds.select(explode(regexp_extract_all(
      coalesce(col("xml"), lit("")),
      lit("(?s)<(?:[Ii][Tt][Ee][Mm]|[Ee][Nn][Tt][Rr][Yy])>.*?" +
        "</(?:[Ii][Tt][Ee][Mm]|[Ee][Nn][Tt][Rr][Yy])>"),
      lit(0))).as("b"))
    val rssLink = regexp_extract(col("b"),
      "<[Ll][Ii][Nn][Kk]>([^<]*)</[Ll][Ii][Nn][Kk]>", 1)
    val linkTags = regexp_extract_all(col("b"),
      lit("<[Ll][Ii][Nn][Kk][^>]*href=\"[^\"]*\"[^>]*>"), lit(0))
    val contentTag = element_at(filter(linkTags, t =>
      !t.contains("rel=\"") || t.contains("rel=\"alternate\"")), 1)
    val atomLink = regexp_extract(coalesce(contentTag, lit("")),
      "href=\"([^\"]*)\"", 1)
    val pubS = httpDateEpoch(regexp_extract(col("b"),
      "<[Pp][Uu][Bb][Dd][Aa][Tt][Ee]>([^<]*)</[Pp][Uu][Bb][Dd][Aa][Tt][Ee]>",
      1))
    val updS = try_to_timestamp(regexp_extract(col("b"),
      "<[Uu][Pp][Dd][Aa][Tt][Ee][Dd]>([^<]*)</[Uu][Pp][Dd][Aa][Tt][Ee][Dd]>",
      1), lit("yyyy-MM-dd'T'HH:mm:ss'Z'")).cast("long")
    blocks
      .select(when(rssLink =!= "", rssLink).otherwise(atomLink).as("url"),
        coalesce(pubS, updS).as("published_s"))
      .filter(col("url") =!= "")
      .withColumn("host", hostOf(col("url")))
      .filter(col("host") =!= "")
      .withColumn("domain", graft.ops.PiiOps.registrableDomain(col("host")))
  }

  /** Q225: FEED DISCOVERY — RSS/Atom as a frontier channel. Next to
    * sitemaps (bulk inventory) and page outlinks (the graph), a
    * site's feed is the channel that surfaces NEW content fastest —
    * publishers push fresh entries there before anything links to
    * them. Entries pass the IDENTICAL admission chain as sitemap
    * seeds and link candidates — blocklist, robots gate, canonical
    * aggregation, anti-join against the maintained key set, rank
    * priority, per-domain cap — so a feed entry competes for a wave
    * slot on equal terms, no side door. Per canon the LATEST
    * published claim survives (max — the change reduction, like
    * q223), and the cap orders NEWEST-PUBLISHED-FIRST (desc, nulls
    * last, canon tiebreak) — the freshness priority a feed channel
    * exists for, deliberately opposite to q197's stale-first
    * sitemap seeding; an entry with no parseable date competes last,
    * never not at all.
    *
    * Scale shape: feeds are domain-vocabulary-sized inputs (the
    * sitemap class); the extraction is block+regex projections, and
    * everything downstream is the shared frontier tail's one canon
    * exchange + broadcast joins.
    */
  def feedSeeds(feeds: DataFrame, scope: graft.core.Scope,
                name: String, ranks: DataFrame,
                rules: DataFrame): DataFrame = {
    val locs = feedEntries(feeds)
    val unblocked = graft.ops.PiiOps.blocklistVerdict(locs)
      .filter(!col("blocked")).drop("blocked")
    val allowed = robotsGate(unblocked, rules)
      .filter(col("allowed")).drop("path", "allowed", "rule_len")
    val cands = allowed
      .withColumn("canon", canonicalUrl(col("url")))
      .groupBy(col("canon"))
      .agg(min(col("url")).as("url"), min(col("domain")).as("domain"),
        count(lit(1)).cast("long").as("n_refs"),
        max(col("published_s")).as("published_s"))
    frontierTail(cands, scope, name, ranks, domainCap,
      orderBy = Seq(col("published_s").desc_nulls_last, col("canon").asc),
      extra = Seq("published_s"))
  }

  /** Q226: WARC EXPORT — the archive SINK. Everything upstream of
    * here READS archives; a crawler must also WRITE its fetches, and
    * the write must be octet-exact or every downstream consumer
    * (including this engine) inherits mis-framed records. Per page:
    * an ISO 28500 response record wrapping an HTTP/1.1 200 message —
    * `Content-Length` counts the payload's UTF-8 OCTETS (the
    * engine's established octet convention; the strict walk on the
    * read side consumes exactly that), the body ships as UTF-8 under
    * a declared `charset=utf-8`, `WARC-Date` formats from epoch
    * seconds. `gzip = true` additionally compresses EACH record as
    * its own gzip member (`warc_gz` binary column) — the Common
    * Crawl per-record-member convention [[gunzipWarcChunks]] fronts.
    *
    * The correctness contract is ROUND-TRIP: re-ingesting an export
    * through the engine's own front door must reproduce the source
    * pages bit-identically (q226 holds both arms to the direct
    * extraction's oracle — any framing drift flips a verdict or
    * garbles a byte and the hash breaks). One stated seam: a
    * CRLF-ENDING payload — a body ending in CRLF, or an EMPTY body,
    * whose payload then ends at the header blank line — collides
    * with [[warcFrame]]'s record-framing strip on the read side
    * (the limitation documented there), so such a page round-trips
    * to a `length_ok = false` VERDICT — never silent corruption
    * (spec-pinned). Archive sinks hold page content, which is
    * non-empty by construction in every corpus chain here. Pure codegen'd projection
    * (concat + octet_length [+ the gzip transport]); zero exchanges.
    * Pages carry `url`, `html` and `fetched_at_s`.
    */
  def exportWarc(pages: DataFrame, gzip: Boolean = false): DataFrame = {
    val crlf = "\r\n"
    val payload = concat(
      lit("HTTP/1.1 200 OK" + crlf),
      lit("Content-Type: text/html; charset=utf-8" + crlf),
      lit(crlf), coalesce(col("html"), lit("")))
    val rec = concat(
      lit("WARC/1.0" + crlf),
      lit("WARC-Type: response" + crlf),
      lit("WARC-Target-URI: "), col("url"), lit(crlf),
      lit("WARC-Date: "), date_format(
        col("fetched_at_s").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
      lit(crlf),
      lit("Content-Length: "), octet_length(payload).cast("string"),
      lit(crlf), lit(crlf),
      payload, lit(crlf), lit(crlf))
    if (gzip)
      // the record chars ride the latin-1 transport identity into
      // the compressor (the q206 convention — the member inflates
      // back to the IDENTICAL char string, so declared lengths keep
      // their unit); content above U+00FF is outside this arm's
      // contract, exactly as it is outside every planted gzip chain
      pages.select(col("doc_id"), rec.as("rec"))
        .select(col("doc_id"),
          encode(HttpFunctions.gzipTransport(col("rec")), "ISO-8859-1")
            .as("warc_gz"))
    else pages.select(col("doc_id"), rec.as("warc"))
  }

  /** Q225's fixture: per-domain feeds — even domains RSS 2.0, odd
    * domains Atom, eight entries each on the planted hosts (paths
    * alternate `/p/…`, which the robots rule legs actually govern,
    * and `/f/…`, which they don't). Planted legs: entry 7 REPEATS
    * entry 0's URL five days later (the max-published reduction must
    * keep the later claim); entry 5 on RSS domains ships NO pubDate
    * (null `published_s` — competes last, never dropped); every Atom
    * entry carries a `rel="enclosure"` media link BEFORE its content
    * link (must not become a candidate); the RSS channel-level site
    * `<link>` and Atom feed-level `rel="self"` sit outside the entry
    * blocks (scoping must exclude both). Dates are FORMATTED IN-PLAN
    * from epoch arithmetic (weekday right by construction, the q219
    * convention) so the oracle regenerates identical strings.
    */
  def plantedFeeds(spark: org.apache.spark.sql.SparkSession,
                   t0: Long): DataFrame = {
    val d = spark.range(13).select(col("id").cast("int").as("k"),
      concat(lit("s"), col("id"), lit(".example")).as("domain"))
    val even = col("k") % 2 === 0
    def itemUrl(i: Int) = concat(lit("https://w"),
      ((col("k") + 3 * i) % 7).cast("string"), lit(".s"),
      col("k").cast("string"), lit(".example/"),
      lit(if (i % 2 == 0) "p/" else "f/"),
      ((col("k") + i) % 11).cast("string"))
    def itemEpoch(i: Int): Column =
      lit(t0) + ((col("k") + 3 * i) % 28) * 86400L + i * 3600L
    def rfc822(e: Column) = date_format(e.cast("timestamp"),
      "EEE, dd MMM yyyy HH:mm:ss 'GMT'")
    def iso(e: Column) = date_format(e.cast("timestamp"),
      "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val items = (0 to 7).map { i =>
      val u = if (i == 7) itemUrl(0) else itemUrl(i)
      val e = if (i == 7) itemEpoch(0) + 5L * 86400L else itemEpoch(i)
      val rssDate =
        if (i == 5) lit("")
        else concat(lit("<pubDate>"), rfc822(e), lit("</pubDate>"))
      when(even, concat(lit("<item><link>"), u, lit("</link>"),
          rssDate, lit("</item>")))
        .otherwise(concat(
          lit("<entry><link rel=\"enclosure\" href=\"https://cdn.example/m/"),
          col("k").cast("string"), lit("-" + i + ".mp3\"/>"),
          lit("<link href=\""), u, lit("\"/>"),
          lit("<updated>"), iso(e), lit("</updated></entry>")))
    }
    d.select(col("domain"), when(even,
        concat(concat(lit("<rss><channel><link>https://s"),
          col("k").cast("string"), lit(".example/</link>")) +:
          items :+ lit("</channel></rss>"): _*))
      .otherwise(
        concat(concat(lit("<feed><link rel=\"self\" href=\"https://s"),
          col("k").cast("string"), lit(".example/feed.xml\"/>")) +:
          items :+ lit("</feed>"): _*)).as("xml"))
  }

  /** Q215's fixture: the SAME declared URLs as [[plantedSitemaps]],
    * now shipped the way large publishers actually ship them — as a
    * SITEMAP TREE: domains `s0`-`s6` keep the flat `<urlset>` at
    * `/sitemap.xml`; domains `s7`-`s12` publish a `<sitemapindex>`
    * there instead, listing two GZIPPED children
    * (`/sitemap-a.xml.gz`, `/sitemap-b.xml.gz`) that split the same
    * eleven entries (0-4 / 5-9 + the dup-loc collision). Children
    * compress IN-PLAN ([[graft.functions.GzipTransport]]), so the
    * tree walk + inflation is held to the FLAT fixture's oracle
    * verbatim (the q206 identical-result pattern): recursing an index
    * and inflating its members must admit bit-identically what the
    * flat file admits. Round-16: `s8`'s chain is DEPTH-2 — its root
    * lists a mid-tree index (`/sitemap-idx1.xml.gz`) that lists
    * `sitemap-a` AND the root itself (the cycle the visited set must
    * break) — so the flat-oracle equality now proves the bounded-N
    * walk, not just one level. Rows: (url, xml, xml_gz) — exactly one
    * of xml/xml_gz per row.
    */
  def plantedSitemapTree(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val flat = plantedSitemaps(spark)
      .withColumn("k", regexp_extract(col("domain"), "s([0-9]+)", 1)
        .cast("int"))
    val root = concat(lit("https://"), col("domain"), lit("/sitemap.xml"))
    val plain = flat.filter(col("k") <= 6)
      .select(root.as("url"), col("xml"),
        lit(null).cast("binary").as("xml_gz"))
    // k==8 ships a DEPTH-2 chain: the root index lists a CHILD INDEX
    // (sitemap-idx1) in place of sitemap-a; idx1 in turn lists
    // sitemap-a AND the root itself — the planted CYCLE the visited
    // set must refuse to re-walk. Same declared entries, deeper tree:
    // q215 stays held to the flat oracle verbatim.
    val index = flat.filter(col("k") >= 7)
      .select(root.as("url"), concat(
        lit("<?xml version=\"1.0\"?><sitemapindex>"),
        lit("<sitemap><loc>https://"), col("domain"),
        when(col("k") === 8, lit("/sitemap-idx1.xml.gz</loc></sitemap>"))
          .otherwise(lit("/sitemap-a.xml.gz</loc></sitemap>")),
        lit("<sitemap><loc>https://"), col("domain"),
        lit("/sitemap-b.xml.gz</loc></sitemap>"),
        lit("</sitemapindex>")).as("xml"),
        lit(null).cast("binary").as("xml_gz"))
    // split the flat file's entry list: entries are non-overlapping
    // <url>…</url> spans, so a regex pull + slice reassembles exactly
    val entries = regexp_extract_all(col("xml"),
      lit("(?s)<[Uu][Rr][Ll]>.*?</[Uu][Rr][Ll]>"), lit(0))
    val halves = flat.filter(col("k") >= 7)
      .select(col("domain"),
        concat(lit("<?xml version=\"1.0\"?><urlset>"),
          array_join(slice(entries, 1, 5), ""), lit("</urlset>"))
          .as("xml_a"),
        concat(lit("<?xml version=\"1.0\"?><urlset>"),
          array_join(slice(entries, 6, 6), ""), lit("</urlset>"))
          .as("xml_b"))
    val childA = halves.select(
      concat(lit("https://"), col("domain"), lit("/sitemap-a.xml.gz"))
        .as("url"),
      lit(null).cast("string").as("xml"),
      encode(HttpFunctions.gzipTransport(col("xml_a")), "ISO-8859-1").as("xml_gz"))
    val childB = halves.select(
      concat(lit("https://"), col("domain"), lit("/sitemap-b.xml.gz"))
        .as("url"),
      lit(null).cast("string").as("xml"),
      encode(HttpFunctions.gzipTransport(col("xml_b")), "ISO-8859-1").as("xml_gz"))
    // the s8 mid-tree index: gzipped like any member, pointing DOWN
    // at sitemap-a and BACK at the root (the cycle leg)
    val childIdx = flat.filter(col("k") === 8).select(
      concat(lit("https://"), col("domain"), lit("/sitemap-idx1.xml.gz"))
        .as("url"),
      lit(null).cast("string").as("xml"),
      encode(HttpFunctions.gzipTransport(concat(
        lit("<?xml version=\"1.0\"?><sitemapindex>"),
        lit("<sitemap><loc>https://"), col("domain"),
        lit("/sitemap-a.xml.gz</loc></sitemap>"),
        lit("<sitemap><loc>https://"), col("domain"),
        lit("/sitemap.xml</loc></sitemap>"),
        lit("</sitemapindex>"))), "ISO-8859-1")
        .as("xml_gz"))
    plain.unionByName(index).unionByName(childA).unionByName(childB)
      .unionByName(childIdx)
  }

  /** Q215: SITEMAP-TREE seeding — [[sitemapSeeds]] for the shape real
    * publishers serve: the per-domain ROOT (`/sitemap.xml`) is either
    * a flat `<urlset>` or a `<sitemapindex>` whose members — often
    * `.xml.gz`, inflated through the same structurally-verified gzip
    * door as archive bodies — carry the entries. The walk is a
    * recursion bounded at depth 3 with a VISITED set (round-16: the
    * sitemaps.org spec forbids indexes of indexes, but real
    * publishers nest anyway, and a production walker needs both the
    * depth bound and the cycle guard — a child index pointing back at
    * the root must terminate, not loop). Children resolve by URL
    * against the fetched doc table (a real crawler fetches them; this
    * engine's unit of exchange is the fetched-bytes table, the q208
    * convention). A member that fails to inflate contributes nothing
    * — the corrupt-input-as-verdict contract, spec-pinned. Admission
    * downstream is [[sitemapSeeds]]'s tail unchanged, so tree and
    * flat spellings of the same declarations admit identically (q215
    * is held to q197's oracle, with the s8 chain now depth-2 plus a
    * planted cycle).
    *
    * Scale shape: sitemap docs are domain-vocabulary-sized; each wave
    * is one join on the child URL + one anti-join on the visited set,
    * both over vocabulary-sized tables, persisted per wave with ONE
    * count job doubling as materialization and emptiness probe
    * (lineage depth is bounded by `maxDepth`, so no checkpoint cut is
    * needed); the walk exits early when a wave resolves nothing new,
    * so a flat corpus pays one empty wave, not `maxDepth`.
    */
  /** @param rootUrls optional EXPLICIT root set (a one-column `url`
    *                   table) — the `Sitemap:` declarations a robots
    *                   file publishes ([[parseSitemapDecls]], q220);
    *                   None keeps the conventional `/sitemap.xml`
    *                   name probe.
    */
  def sitemapSeedsTree(docs: DataFrame, scope: graft.core.Scope,
                       name: String, ranks: DataFrame, rules: DataFrame,
                       rootUrls: Option[DataFrame] = None): DataFrame = {
    val maxDepth = 3
    val flat = docs.select(col("url"),
      when(col("xml").isNotNull, col("xml"))
        .otherwise(HttpFunctions.inflateBody(
          decode(col("xml_gz"), "ISO-8859-1"), lit("gzip")))
        .as("xml_all"))
      // cached, not checkpointed: every wave joins against it, but a
      // sitemap table is vocabulary-sized by nature — the lazy cache
      // costs no extra job, and the walk's plan depth is bounded by
      // maxDepth so there is no compounding lineage to cut. The cache
      // must OUTLIVE this builder: the returned plan still reads
      // `flat` (the roots' urlset arm and every wave join), so the
      // unpersist that used to run here — at plan-CONSTRUCTION time —
      // made the final execution re-inflate and re-regex the whole
      // sitemap corpus once per reference (ProfileOne q215: 44 s of
      // task CPU in 321-task scan stages). Vocabulary-sized blocks
      // are the documented cost; the session's cache clear releases
      // them after the run.
      .cache()
    val isIdx =
      col("xml_all").rlike("<[Ss][Ii][Tt][Ee][Mm][Aa][Pp][Ii][Nn][Dd][Ee][Xx]")
    val roots = rootUrls match {
      case Some(urls) => flat.join(
        broadcast(urls.select(col("url")).distinct()), Seq("url"))
      case None => flat.filter(col("url").rlike("/sitemap\\.xml$"))
    }
    var urlsets = roots.filter(!isIdx).select(col("xml_all"))
    var frontier = roots.filter(isIdx)
    var visited = roots.select(col("url"))
    var depth = 0
    // one job per wave: the wave table is PERSISTED and the index-
    // member count doubles as both the materialization action and the
    // emptiness probe (the count pulls every cached partition through,
    // so the next wave and the final plan read blocks, not lineage) —
    // replacing the per-wave localCheckpoint + separate isEmpty
    // round-trip pair. Lineage depth is bounded by maxDepth, so the
    // cut the checkpoint bought was never needed.
    var nIdx = frontier.count()
    while (depth < maxDepth && nIdx > 0L) {
      val childLocs = frontier
        .select(explode(regexp_extract_all(col("xml_all"),
          lit("<[Ll][Oo][Cc]>([^<]*)</[Ll][Oo][Cc]>"), lit(1)))
          .as("url"))
        .distinct()
      val next = childLocs.join(flat, Seq("url"))
        // the cycle guard: a loc already walked (including the roots
        // themselves) never re-enters the frontier
        .join(visited, Seq("url"), "left_anti")
        .persist()
      nIdx = next.filter(isIdx).count()
      urlsets = urlsets.unionByName(next.filter(!isIdx).select(col("xml_all")))
      visited = visited.unionByName(next.select(col("url")))
      frontier = next.filter(isIdx)
      depth += 1
    }
    val live = urlsets
      .filter(col("xml_all").isNotNull) // corrupt member: verdict, no entries
      .select(col("xml_all").as("xml"))
    sitemapSeeds(live, scope, name, ranks, rules, domainCap)
  }

  /** Q198's fixture: per-domain crawl delays (seconds) as a parsed
    * table — the `Crawl-delay` directive of the first ten planted
    * domains; `s10`-`s12` publish none and must fall back to the
    * caller's default. [[parseCrawlDelays]] over [[plantedRobotsTxt]]
    * derives EXACTLY this table from raw robots bytes (spec-pinned) —
    * this closed form is kept as the equality target.
    */
  def plantedCrawlDelays(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(10).select(
      concat(lit("s"), col("id"), lit(".example")).as("domain"),
      (lit(5L) + (col("id") % 4) * 10L).as("delay_s"))

  /** Q199's fixture: RAW `robots.txt` bytes per planted domain — the
    * text a fetch stage hands the parser, generated so that
    * [[parseRobotsRules]] yields EXACTLY [[plantedRobotsRules]] and
    * [[parseCrawlDelays]] yields EXACTLY [[plantedCrawlDelays]] (both
    * equalities spec-pinned — the parsed-table fixtures the rest of
    * the crawl suite consumes are now DERIVED facts, not axioms).
    * Planted hostile legs: a `badbot` group BEFORE our group on
    * `k%3==0` domains and AFTER it on `k%3==1` (group scoping must
    * not leak either direction); an empty `Disallow:` line on
    * `k%5==3` (RFC 9309: empty rule value matches nothing — the
    * parse drops it); an INLINE comment on every even domain's
    * Disallow (`/p/ # tracked section` — the value stops at `#`,
    * trailing space trimmed); a comment header everywhere (ignored by
    * the line-anchored directive matchers); a CRLF-TERMINATED
    * Disallow and Crawl-delay on `k%6==4` (HTTP-fetched robots bytes
    * usually end lines `\r\n` — the parse must shed the `\r` or the
    * prefix silently matches nothing); an inline comment after the
    * delay VALUE on `k%3==0` (`# be nice` — the delay parser gets the
    * same comment tolerance as the rule directives). Every varying
    * field is a
    * pure domain-index expression; the oracle regenerates the bytes.
    */
  def plantedRobotsTxt(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val d = spark.range(13).select(col("id").cast("int").as("k"),
      concat(lit("s"), col("id"), lit(".example")).as("domain"))
    def leg(pred: Column, body: Column) = when(pred, body).otherwise(lit(""))
    d.select(col("domain"), concat(
      lit("# robots.txt for s"), col("k"), lit(".example\n"),
      // Sitemap: declarations are FILE-WIDE (outside any group, the
      // conventional top-of-file spot): odd domains declare the
      // absolute root; %4==0 domains publish a RELATIVE decl the
      // parse must ignore (unfetchable from the file alone)
      leg(col("k") % 2 === 1, concat(lit("Sitemap: https://s"),
        col("k"), lit(".example/sitemap.xml\n"))),
      leg(col("k") % 4 === 0, lit("Sitemap: /sitemap.xml\n")),
      leg(col("k") % 3 === 0, lit("User-agent: badbot\nDisallow: /\n\n")),
      lit("User-agent: *\n"),
      leg(col("k") % 2 === 0,
        lit("Disallow: /p/ # tracked section\nAllow: /p/1\n")),
      leg(col("k") % 4 === 1, lit("Disallow: /\nAllow: /nav\n")),
      leg(col("k") % 4 === 2, lit("Allow: /p/\n")),
      // the wildcard directives (RFC 9309 §2.2.3) — same legs as
      // [[plantedRobotsRules]] so the parse-equality pin holds
      leg(col("k") % 5 === 2, lit("Disallow: /*?utm_\n")),
      leg(col("k") % 3 === 0, lit("Disallow: /r/*7$\n")),
      leg(col("k") === 7, lit("Allow: /p/*feed$\n")),
      leg(col("k") % 5 === 3, lit("Disallow:\n")),
      // a CRLF-terminated directive (%6 == 4): robots bytes come off
      // HTTP, where CRLF line endings dominate — the parse must strip
      // the '\r' or the prefix never matches anything
      leg(col("k") % 6 === 4, lit("Disallow: /crlf/\r\n")),
      leg(col("k") <= 9, concat(lit("Crawl-delay: "),
        (lit(5L) + (col("k") % 4) * 10L).cast("string"),
        // inline comment (%3 == 0) and CRLF terminator (%6 == 4) on
        // the delay line — the same tolerance the rule directives get
        when(col("k") % 3 === 0, lit(" # be nice")).otherwise(lit("")),
        when(col("k") % 6 === 4, lit("\r\n")).otherwise(lit("\n")))),
      leg(col("k") % 3 === 1,
        lit("\nUser-agent: badbot\nDisallow: /private\n")))
      .as("robots_txt"))
  }

  /** The rule group addressed to US: segments split on the
    * `User-agent: ` marker, keeping EVERY `*` group's body
    * concatenated ('' when a file publishes none) — RFC 9309 §2.2.1
    * merges multiple groups for the same agent, and real sites do
    * publish several `User-agent: *` blocks whose rules must all
    * apply. A literal-token split — real robots files may name
    * several agents per group or differ in case; the fixture spells
    * the directive canonically and the scaladoc states the
    * simplification. Shared by [[parseRobotsRules]] and
    * [[parseCrawlDelays]] so the two can never read different groups.
    */
  def robotsStarGroup(txt: Column): Column =
    array_join(filter(split(coalesce(txt, lit("")), "User-agent: "),
      s => s.startsWith("*")), "\n")

  /** Q199: the robots.txt PARSE — raw fetched bytes to the (domain,
    * allow, prefix) rule table every robots consumer ([[robotsGate]],
    * [[politeFrontier]], [[crawlFunnel]], [[sitemapSeeds]]) joins
    * against. Directives are line-anchored extractions from OUR
    * user-agent group only (a `badbot` group before or after must not
    * leak rules in — both planted); empty-valued `Disallow:` lines
    * drop (RFC 9309: an empty rule value matches nothing). Scale
    * shape: a pure per-row projection + two explodes over
    * domain-vocabulary-sized input — robots files exist per HOST, so
    * this never touches corpus-sized data.
    */
  def parseRobotsRules(robots: DataFrame): DataFrame = {
    val body = robotsStarGroup(col("robots_txt"))
    // rule values stop at an inline '#' (robots.txt comments are
    // line-suffix legal and '#' cannot occur in a robots path — the
    // fragment never reaches the file); trailing space before the
    // comment is trimmed, and a value that was ALL comment drops with
    // the empty-value rule below. '\r' is excluded from the capture:
    // a CRLF-terminated file (the dominant case in the wild — robots
    // bytes come off HTTP) must not leave a trailing '\r' glued to
    // every prefix, which would void the whole file's rules silently
    // (rtrim strips spaces, not carriage returns)
    def directives(name: String, allow: Boolean) =
      robots.select(col("domain"),
        explode(regexp_extract_all(body,
          lit(s"(?m)^$name:[ \\t]*([^\\r\\n#]*)"), lit(1))).as("raw"))
        .select(col("domain"), rtrim(col("raw")).as("prefix"))
        .withColumn("allow", lit(allow))
    directives("[Dd]isallow", allow = false)
      .unionByName(directives("[Aa]llow", allow = true))
      .filter(col("prefix") =!= "")
      .select(col("domain"), col("allow"), col("prefix"))
  }

  /** Q220: the `Sitemap:` DECLARATIONS of a robots file — the
    * discovery channel that links the robots parse to sitemap
    * seeding (sitemaps.org / RFC 9309 §2.3: real publishers declare
    * their sitemap locations here far more reliably than they serve
    * the conventional `/sitemap.xml` name). UNLIKE the rule
    * directives, `Sitemap:` is FILE-WIDE — it applies regardless of
    * user-agent groups, so the extraction runs over the RAW bytes,
    * never the star-group body; same inline-comment/CRLF tolerance
    * as the rule parse, same vocabulary-sized projection class.
    * Relative declarations are ignored (the de-facto spec requires
    * an absolute URL — a loc without an authority cannot be
    * fetched from the file alone).
    */
  def parseSitemapDecls(robots: DataFrame): DataFrame =
    robots.select(col("domain"),
      explode(regexp_extract_all(coalesce(col("robots_txt"), lit("")),
        lit("(?m)^[Ss][Ii][Tt][Ee][Mm][Aa][Pp]:[ \\t]*([^\\r\\n#]*)"),
        lit(1))).as("raw"))
      .select(col("domain"), rtrim(col("raw")).as("url"))
      .filter(col("url").rlike("^(?i)https?://"))

  /** Q222's fixture: per-domain robots.txt FETCH OUTCOMES — the
    * availability dimension RFC 9309 §2.3.1 hangs the whole gate on.
    * Status by `k % 7` over the 13 planted domains:
    *   0 → 200 with the domain's own bytes ([[plantedRobotsTxt]]);
    *   1 → 404 and 5 → 410 (unavailable → allow-all, §2.3.1.3);
    *   2 → 500 and 4 → 503 (unreachable → the cached copy while
    *     fresh, complete disallow after, §2.3.1.4);
    *   3 → 301 to s(k-3)'s robots URL (always a 200 domain:
    *     k%7==3 ⇒ (k-3)%7==0) — the www→apex move, followed per
    *     §2.3.1.2 through the q221 chain resolver;
    *   6 → 301 to ITSELF (the redirect loop §2.3.1.2 caps:
    *     unavailable → allow-all).
    * `cache_age_days = 20 + 2k` puts k=2/4 inside the 30-day cache
    * window and k=9/11 beyond it — both 5xx arms exercised.
    */
  def plantedRobotsFetches(
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val d = spark.range(13).select(col("id").as("doc_id"),
      col("id").cast("int").as("k"),
      concat(lit("s"), col("id"), lit(".example")).as("domain"))
    def rUrl(k: Column) =
      concat(lit("https://s"), k, lit(".example/robots.txt"))
    val m = col("k") % 7
    d.select(col("doc_id"), col("domain"), rUrl(col("k")).as("url"),
        when(m === 0, lit(200)).when(m === 1, lit(404))
          .when(m === 2, lit(500)).when(m === 3, lit(301))
          .when(m === 4, lit(503)).when(m === 5, lit(410))
          .otherwise(lit(301)).as("http_status"),
        when(m === 3, rUrl(col("k") - 3))
          .when(m === 6, rUrl(col("k"))).otherwise(lit(""))
          .as("redirect_to"),
        (lit(20) + col("k") * 2).as("cache_age_days"))
      .join(plantedRobotsTxt(spark), Seq("domain"), "left")
      .withColumn("robots_txt",
        when(col("http_status").between(200, 299), col("robots_txt"))
          .otherwise(lit(null).cast("string")))
  }

  /** Q222's candidate URLs: every planted domain × the path shapes
    * the rule fixtures aim at (`/p/<j>`, the `/r/<j>7` anchor leg,
    * `/p/<j>feed`, the `/x?utm_<j>` query-wildcard leg) — a
    * vocabulary-sized set chosen so all 13 availability modes gate
    * OBSERVABLE links (the corpus outlinks of q190 only reach the
    * `doc_id % 5` domains, which would leave the stale-cache and
    * loop legs unexercised).
    */
  def plantedAvailabilityCandidates(
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(13).select(col("id").as("k"))
      .crossJoin(spark.range(10).select(col("id").as("j")))
      .select(concat(lit("s"), col("k"), lit(".example")).as("domain"),
        explode(array(
          concat(lit("/p/"), col("j")),
          concat(lit("/r/"), col("j"), lit("7")),
          concat(lit("/p/"), col("j"), lit("feed")),
          concat(lit("/x?utm_"), col("j")))).as("pth"))
      .select(col("domain"),
        concat(lit("https://"), col("domain"), col("pth")).as("url"))

  /** Q222: the robots gate under RFC 9309 §2.3.1 AVAILABILITY
    * semantics — what a crawler must do when the robots.txt fetch
    * itself fails, the dimension every pure-parse gate (q190) takes
    * as given. Per domain, from its fetch outcome:
    *   - 2xx → `parsed`: the fetched bytes gate (via
    *     [[parseRobotsRules]] — rules parsed from the EFFECTIVE
    *     file, attributed to the gated domain).
    *   - 3xx → followed through [[resolveRedirectChains]] (§2.3.1.2:
    *     crawlers SHOULD follow at least five hops): a resolved
    *     chain adopts the FINAL target's outcome (its bytes, its
    *     4xx/5xx arm); a `loop`/`too_deep` chain means the file is
    *     unavailable → allow-all; a chain that leaves the fetched
    *     set entirely is unreachable → the 5xx arm.
    *   - 4xx → `allow_all` (§2.3.1.3: unavailability means MAY
    *     access any resources).
    *   - 5xx → `cached` while the held copy is at most
    *     30 days old (§2.3.1.4 allows a cached copy "for up
    *     to 30 days"; `cachedRules` is the previously-parsed table —
    *     the fetch-log shape a real crawler holds), `disallow_all`
    *     after (unreachability means MUST assume complete disallow).
    * A domain with NO fetch row gates on whatever rules the caller
    * supplied (mode `unfetched`) — the gate never invents an
    * outcome it was not given.
    *
    * Scale shape: the fetch table, chain walk, and rule sets are all
    * vocabulary-sized (robots files of known hosts — the q190
    * broadcast class); the candidate side takes ONE broadcast-join
    * verdict pipeline and zero new exchanges. Output per link:
    * `(domain, url, mode, allowed, rule_len)`.
    */
  def robotsAvailabilityGate(links: DataFrame, fetches: DataFrame,
                             cachedRules: DataFrame): DataFrame = {
    val chains = resolveRedirectChains(fetches.select(col("doc_id"),
      col("url"), col("http_status"), col("redirect_to")))
    val st = fetches.join(chains.select(col("origin").as("url"),
      col("final_url"), col("verdict"), col("final_status")),
      Seq("url"), "left")
    val effStatus = when(col("http_status").between(300, 399),
        when(col("verdict") === "resolved" &&
          col("final_status").isNotNull, col("final_status"))
          .when(col("verdict").isin("loop", "too_deep"), lit(404))
          .otherwise(lit(503)))
      .otherwise(col("http_status"))
    val effUrl = when(col("http_status").between(300, 399) &&
        col("verdict") === "resolved", col("final_url"))
      .otherwise(col("url"))
    val dm = st.select(col("domain"), effUrl.as("eff_url"),
      when(effStatus.between(200, 299), lit("parsed"))
        .when(effStatus.between(400, 499), lit("allow_all"))
        .otherwise(when(col("cache_age_days") <= 30,
          lit("cached")).otherwise(lit("disallow_all"))).as("mode"))
    val parsedRules = parseRobotsRules(
      dm.filter(col("mode") === "parsed")
        .join(fetches.filter(col("http_status").between(200, 299))
          .select(col("url").as("eff_url"), col("robots_txt")),
          Seq("eff_url"))
        .select(col("domain"), col("robots_txt")))
    val effRules = parsedRules.unionByName(
      cachedRules.join(dm.filter(col("mode") === "cached")
          .select(col("domain")), Seq("domain"))
        .select(col("domain"), col("allow"), col("prefix")))
    robotsGate(links, effRules)
      .join(broadcast(dm.select(col("domain"), col("mode"))),
        Seq("domain"), "left")
      .select(col("domain"), col("url"),
        coalesce(col("mode"), lit("unfetched")).as("mode"),
        when(col("mode") === "allow_all", lit(true))
          .when(col("mode") === "disallow_all", lit(false))
          .otherwise(col("allowed")).as("allowed"),
        col("rule_len"))
  }

  /** Q198's delay source, now PARSED instead of planted: the
    * `Crawl-delay` directive of our user-agent group, seconds as a
    * long. A domain publishing none — or publishing `0` ("no rate
    * limit", valid in the de-facto spec) — emits no row, so
    * [[scheduleWave]] applies the caller's default: this parse layer
    * faces UNTRUSTED fetched bytes, and a quirky-but-valid file must
    * degrade to the conservative default rather than trip the loud
    * malformed-table guard and kill a streaming wave. Same
    * vocabulary-sized projection class as [[parseRobotsRules]].
    */
  def parseCrawlDelays(robots: DataFrame): DataFrame = {
    val body = robotsStarGroup(col("robots_txt"))
    // same whitespace/comment tolerance as the rule directives: the
    // value may carry trailing blanks, an inline '# comment', and a
    // CRLF terminator — all legal in real files, and a parser that
    // accepts them on Disallow but not Crawl-delay would silently
    // swap a declared delay for the 30 s default
    robots
      .select(col("domain"), regexp_extract(body,
        "(?m)^[Cc]rawl-[Dd]elay:[ \\t]*([0-9]+)[ \\t]*(?:#[^\\n]*)?\\r?$",
        1).as("ds"))
      .filter(col("ds") =!= "")
      .select(col("domain"), col("ds").cast("long").as("delay_s"))
      .filter(col("delay_s") >= 1L)
  }

  /** Q198: WAVE SCHEDULING — turn a frontier/refetch wave's politeness
    * SLOTS into actual fetch offsets: slot `n` on a domain may fire no
    * earlier than `(n-1) × crawl_delay` seconds into the wave, the
    * Crawl-delay reading of the per-domain rate limit. Domains that
    * publish no delay wait 30 s between slots (conservative beats
    * hammering). Pure broadcast join (the delay table is
    * domain-vocabulary-sized) + per-row integer arithmetic — no new
    * shuffle on top of the wave that is being scheduled.
    */
  def scheduleWave(wave: DataFrame, delays: DataFrame): DataFrame =
    scheduleWaveValidated(wave, checkedDelays(delays)._1)

  /** The delays GUARDS alone — cast + duplicate-domain +
    * non-positive checks — returning the still-DISTRIBUTED table:
    * what the one-shot [[scheduleWave]] uses, so a caller with a
    * large delays table keeps the original join-side execution and
    * never pays a driver collect.
    */
  /** Returns the checked table AND its row count (already computed by
    * the guard aggregation — [[validatedDelays]] gates its driver
    * collect on it for free).
    */
  private def checkedDelays(delays: DataFrame): (DataFrame, Long) = {
    // cast up front: a robots parser plausibly emits IntegerType
    // delays, and the guard below must fail with ITS message, never a
    // ClassCastException out of getLong
    val d = delays.select(col("domain"),
      col("delay_s").cast("long").as("delay_s"))
    // fail LOUDLY on malformed parse output — a duplicate domain row
    // would fan every wave row out into two conflicting schedule rows
    // (the page fetched twice), and a non-positive delay silently
    // voids the rate limit this operator exists to enforce. One
    // bounded aggregation: the table is domain-vocabulary-sized.
    val chk = d.agg(count(lit(1)), countDistinct(col("domain")),
      min(col("delay_s"))).head()
    require(chk.getLong(0) == chk.getLong(1),
      "delays table has duplicate domain rows")
    require(chk.isNullAt(2) || chk.getLong(2) > 0L,
      "delays table has a non-positive delay_s")
    (d, chk.getLong(0))
  }

  /** One-time validation + LOCALIZATION of a delays table: the
    * [[checkedDelays]] guards run ONCE, and the surviving rows —
    * domain-vocabulary-sized by the CALLER's contract (this collects
    * to the driver; a corpus-sized table belongs in [[scheduleWave]]
    * directly) — land in a local relation. A long-running consumer
    * (the streaming loops) validates before the stream starts and
    * hands the result to [[scheduleWaveValidated]] per wave, so the
    * guard aggregation — and whatever plan (a full robots parse)
    * produced the delays — never re-executes per micro-batch.
    */
  def validatedDelays(delays: DataFrame): DataFrame = {
    val spark = delays.sparkSession
    val (d, n) = checkedDelays(delays)
    // DEFENSIVE size ceiling, enforced (not comment-only): the
    // localization collects to the driver, which is only sound for a
    // domain-vocabulary-sized table — a caller wiring a corpus-sized
    // delays source in must fail with THIS message, not OOM the
    // driver silently (round-13 ADVICE). Gated on the COUNT the guard
    // aggregation already computed, so the failing path moves eight
    // bytes to the driver, never a single row (round-14 verdict #5 —
    // the limit(N+1).collect() form materialized up to the ceiling
    // before checking).
    val maxRows = 1000000L
    require(n <= maxRows,
      s"delays table has $n rows, exceeding $maxRows — not a " +
        "domain-vocabulary table; use scheduleWave (distributed join) " +
        "instead of the localized validatedDelays path")
    // belt and braces: the collect itself stays HARD-bounded too — a
    // non-deterministic or concurrently-growing source could pass the
    // count job and then materialize more in this second job
    val rows = d.limit(maxRows.toInt + 1).collect()
    require(rows.length <= maxRows,
      "delays table grew past the ceiling between validation and " +
        "collection — the source is not a stable vocabulary table")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), d.schema)
  }

  /** [[scheduleWave]]'s join body over an ALREADY-validated delays
    * table (from [[validatedDelays]]) — the per-wave work: broadcast
    * joins plus per-row integer arithmetic, nothing else.
    *
    * `startOffsets` is the CROSS-WAVE politeness state (q207): the
    * per-domain `next_allowed_s` carried from the previous wave's
    * tail, so slot `n` fires at `start + (n-1) × delay` on the
    * crawl's GLOBAL dispatch clock instead of restarting every wave
    * at zero — without it, wave N+1's first fetch can land
    * delay-seconds too close to wave N's last. Absent state (a
    * domain's first wave, or no carry at all) starts at zero, the
    * original semantics.
    */
  private[graft] def scheduleWaveValidated(wave: DataFrame, d: DataFrame,
                                           startOffsets: Option[DataFrame] =
                                             None): DataFrame = {
    // a domain with no delay row waits 30 s between fetches
    val based = wave
      .join(broadcast(d), Seq("domain"), "left")
      .withColumn("delay_s", coalesce(col("delay_s"), lit(30L)))
    val withStart = startOffsets match {
      case Some(st) => based
        .join(broadcast(st.select(col("domain"),
          col("next_allowed_s").cast("long").as("start_s"))),
          Seq("domain"), "left")
        .withColumn("start_s", coalesce(col("start_s"), lit(0L)))
      case None => based.withColumn("start_s", lit(0L))
    }
    withStart
      .withColumn("not_before_s", (col("start_s") +
        (col("slot") - 1).cast("long") * col("delay_s")).cast("long"))
      .drop("start_s")
  }

  /** The politeness state AFTER a scheduled wave: per domain, the
    * next instant a fetch may fire — the wave's last offset plus one
    * delay — merged over the prior state (domains the wave did not
    * touch carry forward unchanged; scheduled domains always advance,
    * since their offsets STARTED at the prior state). Both sides are
    * domain-vocabulary-sized; the merge is a full-outer join of two
    * tiny tables.
    */
  def advanceSchedState(scheduled: DataFrame, prior: DataFrame): DataFrame = {
    val adv = scheduled.groupBy(col("domain"))
      .agg((max(col("not_before_s")) + max(col("delay_s")))
        .cast("long").as("adv_s"))
    prior.select(col("domain"), col("next_allowed_s").cast("long")
        .as("next_allowed_s"))
      .join(adv, Seq("domain"), "full_outer")
      .select(col("domain"),
        coalesce(col("adv_s"), col("next_allowed_s")).as("next_allowed_s"))
  }

  /** The carried-politeness state artifact: one tiny
    * (domain, next_allowed_s) table per wave, saved by
    * [[saveWaveState]]. A batch reads the LATEST wave strictly before
    * its own id (wave N-1's state already folds everything earlier),
    * so replay after a crash mid-batch never sees its own half-written
    * advance.
    */
  def loadSchedState(spark: org.apache.spark.sql.SparkSession,
                     dir: String, beforeWave: Long): DataFrame =
    loadWaveState(spark, dir, beforeWave, Seq("domain", "next_allowed_s"),
      fallback = emptySchedState(spark))
      .select(col("domain"),
        col("next_allowed_s").cast("long").as("next_allowed_s"))

  /** Q209: COMPACTION for the maintained BUCKETED artifacts. Every
    * upsert wave lands its own task files inside the partitions it
    * touches, so over a long crawl the fetch log's directories
    * accumulate files without bound; this rewrites the whole table
    * through its own bucket spec — one task per partition directory,
    * so the file count drops to the layout floor — via `insertInto`
    * (NOT [[graft.io.Layout.compactPartitioned]], whose plain
    * `partitionBy` write would silently discard the bucketing
    * metadata that makes every frontier/upsert join exchange-free).
    * CADENCE, stated: this is a full-table rewrite, so it runs once
    * per crawl EPOCH (beside the q188 rank recompute), never per
    * wave — the per-wave upserts stay O(changed partitions) and this
    * pass bounds what they accumulate. The rewrite reads the current
    * version and writes the next one ([[graft.io.Artifact.save]]), so
    * nothing it reads is truncated under it and a killed compaction
    * leaves the log as it was; semantics-preserving by the q196 oracle
    * (q209 replays the refetch wave over a compacted log).
    */
  def compactFetchLog(spark: org.apache.spark.sql.SparkSession,
                      scope: graft.core.Scope, name: String): Unit = {
    val live = graft.io.Artifact.read(spark, scope, name)
    val nBuckets = live.int("n_buckets")
    val all = spark.table(registerFetchLogTable(spark, live.table("rows"), nBuckets))
      .select("canon", "url", "last_fetch_s", "etag", "last_modified",
        "bucket", "fetch_day")
      // one task per partition directory → file count at the floor
      .repartition(col("bucket"), col("fetch_day"))
    graft.io.Artifact.save(spark, scope, name, live.fields.toSeq: _*) { at =>
      all.write.insertInto(registerFetchLogTable(spark, at("rows"), nBuckets))
    }
  }

  /** ROBOTS FETCHES recognized in a framed archive batch (q208): a
    * valid (octet-verified) 200 response whose target path is exactly
    * `/robots.txt` IS the domain's current robots file — the crawl's
    * own traffic carries the policy updates. The media type is
    * deliberately NOT a gate: RFC 9309 does not condition parsing on
    * Content-Type, and real robots files ship as text/plain,
    * text/html, application/octet-stream, or with no header at all —
    * narrowing to text/plain would silently leave the maintained
    * policy stale (round-13 ADVICE, closed; the PATH match is what
    * keeps ordinary pages from hijacking the artifact). One row per
    * domain (highest doc_id wins within the batch — a batch is one
    * wave, later chunk ids are later fetches), shaped (domain,
    * robots_txt) for [[parseRobotsRules]]/[[parseCrawlDelays]].
    */
  private[graft] def robotsFetches(framed: DataFrame): DataFrame =
    framed
      .filter(col("length_ok") && col("http_status") === 200 &&
        // (?i) scoped to the SCHEME only: the /robots.txt PATH is
        // case-sensitive (RFC 9309) — an ordinary page at /ROBOTS.TXT
        // must never hijack the domain's policy artifact
        col("target_uri").rlike(
          "^(?i:(?:https?:)?//)[^/?#]+/robots\\.txt(?:[?#].*)?$"))
      .select(PiiOps.registrableDomain(hostOf(col("target_uri")))
          .as("domain"),
        col("body").as("robots_txt"), col("doc_id"))
      .groupBy(col("domain"))
      .agg(max(struct(col("doc_id"), col("robots_txt"))).as("m"))
      .select(col("domain"), col("m.robots_txt").as("robots_txt"))

  /** The maintained ROBOTS artifact (q208): latest robots bytes per
    * domain — domain-vocabulary-sized, versioned per wave exactly
    * like the politeness state ([[loadSchedState]]): wave N reads the
    * state strictly before N (seed when none), so its gate verdicts
    * are deterministic and a replayed batch re-derives the identical
    * artifact. A robots fetch landing in wave N changes wave N+1's
    * gate — the next-wave contract, matching how a real crawler
    * refreshes policy between dispatch cycles.
    */
  def advanceRobotsState(batchFetches: DataFrame,
                         prior: DataFrame): DataFrame =
    prior.select(col("domain"), col("robots_txt").as("prior_txt"))
      .join(batchFetches.select(col("domain"),
        col("robots_txt").as("batch_txt")), Seq("domain"), "full_outer")
      .select(col("domain"),
        coalesce(col("batch_txt"), col("prior_txt")).as("robots_txt"))

  def loadRobotsState(spark: org.apache.spark.sql.SparkSession,
                      dir: String, beforeWave: Long,
                      seed: DataFrame): DataFrame =
    loadWaveState(spark, dir, beforeWave, Seq("domain", "robots_txt"),
      fallback = seed.select(col("domain"), col("robots_txt")))

  /** The ONE versioned tiny-state protocol behind the politeness and
    * robots artifacts: full overwrite under `dir/wave=<id>`, so a
    * replayed micro-batch rewrites its own state instead of
    * double-advancing (the same idempotency-by-layout as the wave
    * outputs themselves); readers take the LATEST wave strictly before
    * a given id (the caller's fallback when none) — the replay
    * contract lives here once, so the two artifacts can never diverge
    * on it.
    */
  def saveWaveState(state: DataFrame, dir: String, wave: Long): Unit =
    state.write.mode("overwrite").parquet(s"$dir/wave=$wave")

  /** The wave ids saved under `dir`, ascending (none when `dir` does
    * not exist), with the file system that holds them.
    */
  private def waveStateIds(spark: org.apache.spark.sql.SparkSession,
                           dir: String): (org.apache.hadoop.fs.FileSystem, Seq[Long]) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val waves =
      if (!fs.exists(p)) Seq.empty[Long]
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("wave="))
        .flatMap(n => scala.util.Try(n.stripPrefix("wave=").toLong).toOption)
        .sorted
    (fs, waves)
  }

  /** Q209's sibling for the VERSIONED TINY-STATE artifacts
    * (`schedstate`/`robotsstate`): drop every superseded `wave=<N`
    * directory, keeping only the latest. Wave N's state folds
    * everything earlier (the [[saveWaveState]] contract), so older
    * dirs are replay inputs only for batches the stream's checkpoint
    * has already committed past — prune at the compaction EPOCH, when
    * the replay horizon has moved, exactly like the fetch-log file
    * floor. Without this a long-running loop accumulates one tiny dir
    * per wave forever (bounded by wave count, not data — but a
    * 100k-wave crawl should not carry 100k directories of dead
    * state). Returns the pruned wave ids.
    */
  def pruneWaveStates(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Seq[Long] = {
    val (fs, waves) = waveStateIds(spark, dir)
    val drop = waves.dropRight(1)
    drop.foreach(w => graft.core.Scopes.deletePath(fs,
      new org.apache.hadoop.fs.Path(s"$dir/wave=$w")))
    drop
  }

  private def loadWaveState(spark: org.apache.spark.sql.SparkSession,
                            dir: String, beforeWave: Long,
                            cols: Seq[String],
                            fallback: => DataFrame): DataFrame =
    waveStateIds(spark, dir)._2.filter(_ < beforeWave).lastOption match {
      case Some(w) => spark.read.parquet(s"$dir/wave=$w")
        .select(cols.map(col): _*)
      case None => fallback
    }

  /** A robots.txt fetch as a WARC chunk — the fixture side of q208:
    * an octet-exact response record wrapping a `200 text/plain` HTTP
    * message whose body is the robots file. `txt` should use bare
    * `\n` line endings (a payload ENDING in CRLF collides with the
    * record framing strip — the warcFrame limitation, stated there).
    */
  def robotsWarcChunk(domain: String, txt: String): String = {
    val payload = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + txt
    val len = payload.getBytes("UTF-8").length
    "WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: https://$domain/robots.txt\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      s"Content-Length: $len\r\n\r\n" + payload + "\r\n\r\n"
  }

  /** The clock before any wave: no domain has a carried offset. */
  def emptySchedState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("domain", StringType),
        StructField("next_allowed_s", LongType))))
  }

  /** Q196's fixture: the crawl's FETCH LOG — one row per completed
    * fetch (log_id, url, fetched_at_s in epoch SECONDS — integer
    * end-to-end, no timestamp-zone parity surface). Every planted
    * page was fetched at a doc_id-spread hour offset, and the
    * `doc_id % 5 == 0` pages were RE-fetched 48 h later (same URL,
    * same canonical key — the staleness reduction must take the
    * latest fetch, not the first).
    */
  def plantedFetchLog(documents: DataFrame): DataFrame = {
    val base = 1767225600L // 2026-01-01T00:00:00Z
    val url = plantedDirtyUrlCorpus(documents)
    val first = url.select(col("doc_id").as("log_id"), col("url"),
      (lit(base) + (col("doc_id") % 97) * 3600L).as("fetched_at_s"))
    val refetch = url.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000L).as("log_id"), col("url"),
        (lit(base) + (col("doc_id") % 97) * 3600L + lit(48L * 3600L))
          .as("fetched_at_s"))
    first.unionByName(refetch)
  }

  /** Q196: the REFETCH WAVE — recrawl scheduling from the fetch log:
    * per canonical key, the LATEST fetch decides staleness (a page
    * re-fetched yesterday is fresh no matter how old its first fetch
    * is); keys whose age ≥ `ttlS` at `nowS` become refetch
    * candidates, prioritized oldest-first under the same per-domain
    * politeness cap as the discovery frontier (q187's
    * WindowGroupLimit shape). Together with [[politeFrontier]] this
    * closes the crawl's steady state: discovery waves fetch the
    * unseen, refetch waves keep the seen fresh.
    *
    * Scale shape: ONE shuffle on the canonical key for the
    * latest-fetch reduction (struct-max argmax, the q104 convention —
    * deterministic under timestamp ties via the url tiebreak),
    * a broadcast rank join, and the capped window. Time is integer
    * epoch seconds throughout — the age arithmetic replays exactly on
    * any engine.
    */
  def refetchWave(fetchLog: DataFrame, nowS: Long, ttlS: Long,
                  ranks: DataFrame): DataFrame =
    ttlWave(latestFetchPerKey(fetchLog), nowS, ttlS, ranks)

  /** The latest-fetch reduction shared by [[refetchWave]] (one-shot
    * over a raw log) and the MAINTAINED fetch-log artifact
    * ([[saveFetchLog]]/[[appendFetchLog]]): per canonical key, the
    * most recent fetch decides (struct-max argmax, url tiebreak for
    * determinism under timestamp ties). One shuffle on the canonical
    * key with map-side partial aggregation.
    */
  private def latestFetchPerKey(fetchLog: DataFrame): DataFrame = {
    // BOTH VALIDATORS ride in the argmax struct (after the url
    // tiebreak — they decide only same-instant same-url ties, where
    // any deterministic pick is right): the latest fetch's ETag is
    // what a conditional refetch sends back as If-None-Match, its
    // Last-Modified what it sends as If-Modified-Since — real servers
    // frequently ship Last-Modified WITHOUT an ETag (round-14 Missing
    // #3), and a log that only carried ETag would deny those canons
    // the 304 path forever. A log without validators (the
    // pre-validator fixtures, the q211 attempt log) carries ''.
    withValidatorCols(fetchLog)
      .groupBy(canonicalUrl(col("url")).as("canon"))
      .agg(max(struct(col("fetched_at_s"), col("url"), col("etag"),
        col("last_modified"))).as("m"))
      .select(col("canon"), col("m.url").as("url"),
        col("m.fetched_at_s").as("last_fetch_s"),
        col("m.etag").as("etag"),
        col("m.last_modified").as("last_modified"))
  }

  /** The fetch-log VALIDATOR columns, backfilled with '' when a
    * source carries none — the single owner of the validator set: a
    * future third validator is added HERE and every reader/writer
    * (argmax, refetch tail, upsert batch) follows.
    */
  private val validatorCols = Seq("etag", "last_modified")

  private def withValidatorCols(df: DataFrame): DataFrame =
    validatorCols.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(""))
    }

  /** The flat-TTL wave of q196/q200 over per-key latest fetches: a
    * key is due once its age reaches `ttlS`.
    */
  private def ttlWave(last: DataFrame, nowS: Long, ttlS: Long,
                      ranks: DataFrame): DataFrame = {
    require(ttlS > 0, s"ttlS must be positive: $ttlS")
    val due = withValidatorCols(last).select(col("canon"), col("url"),
        col("last_fetch_s"), col("etag"), col("last_modified"))
      .filter(lit(nowS) - col("last_fetch_s") >= ttlS)
      .withColumn("domain",
        graft.ops.PiiOps.registrableDomain(hostOf(col("url"))))
    refetchTail(due, "last_fetch_s", ranks)
      .select(col("canon"), col("url"), col("domain"),
        col("last_fetch_s"), col("etag"), col("last_modified"),
        (lit(nowS) - col("last_fetch_s")).as("age_s"),
        col("pr"), col("slot").cast("int").as("slot"))
  }

  /** THE politeness tail of every refetch wave (q196, q200, q219,
    * q223, q224, q227): a due set carrying `domain`, `canon` and the
    * staleness column `staleCol` gets its domain's rank `pr` (a
    * broadcast join — an unranked domain ranks 0) and keeps at most
    * [[domainCap]] keys per domain, stalest first with `canon` as the
    * tiebreak (q187's WindowGroupLimit shape). Adds `pr` and `slot`;
    * each wave selects its own output columns.
    */
  private def refetchTail(due: DataFrame, staleCol: String,
                          ranks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("domain"))
      .orderBy(col(staleCol).asc, col("canon").asc)
    due.join(broadcast(ranks.select(col("domain"), col("pr"))),
        Seq("domain"), "left")
      .withColumn("pr", coalesce(col("pr"), lit(0L)))
      .withColumn("slot", row_number().over(w))
      .filter(col("slot") <= domainCap)
  }

  /** The TTL bounds the adaptive waves (q219, q224, q227) take. */
  private def requireTtlBounds(defaultTtlS: Long, minTtlS: Long,
                               maxTtlS: Long): Unit =
    require(minTtlS > 0 && maxTtlS >= minTtlS && defaultTtlS > 0,
      s"bad TTL bounds: default=$defaultTtlS min=$minTtlS max=$maxTtlS")

  /** RFC 9111 §4.2.2's heuristic freshness lifetime (q219, q224): 10%
    * of the time between Last-Modified (`lmEpoch`) and the fetch,
    * clamped to [minTtlS, maxTtlS].
    */
  private def heuristicTtl(lmEpoch: Column, minTtlS: Long,
                           maxTtlS: Long): Column = {
    val lifetime = floor((col("last_fetch_s") - lmEpoch) / lit(10L))
      .cast("long")
    least(greatest(lifetime, lit(minTtlS)), lit(maxTtlS))
  }

  /** Q200: the FETCH LOG as a MAINTAINED crawl artifact — the q178
    * pattern applied to `(canon, url, last_fetch_s)`: one row per
    * canonical key carrying its LATEST fetch, laid out in xxhash
    * key buckets so an ingest upsert touches only the buckets its
    * keys hash to. This is what lets [[refetchWaveFromLog]] schedule
    * recrawls WITHOUT the engine ever re-reducing a raw corpus-sized
    * log — the reduction is maintained O(batch) as fetches happen
    * (the round-11 gap: q196 took the raw log as an input the engine
    * never persisted).
    */
  def saveFetchLog(fetchLog: DataFrame, scope: graft.core.Scope,
                   name: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val spark = fetchLog.sparkSession
    graft.io.Artifact.save(spark, scope, name, "n_buckets" -> nBuckets) { at =>
      val tbl = registerFetchLogTable(spark, at("rows"), nBuckets)
      latestFetchPerKey(fetchLog)
        .select(col("canon"), col("url"), col("last_fetch_s"), col("etag"),
          col("last_modified"),
          keyBucket(col("canon"), nBuckets), fetchDay(col("last_fetch_s")))
        .write.insertInto(tbl)
    }
  }

  /** The coarse STALENESS partition of the fetch-log layout: the
    * UTC day of the latest fetch. Second-level partition column under
    * `bucket` — a refetch due-scan's `last_fetch_s <= cutoff`
    * predicate implies `fetch_day <= floor(cutoff/86400)`, which
    * prunes every partition of fresher days at LISTING time (the
    * canon-bucket layout alone gives parquet min/max nothing to prune
    * a staleness predicate with: every bucket file spans all fetch
    * times). Floor division, so the implication holds for any sign.
    */
  private def fetchDay(lastFetchS: Column): Column =
    floor(lastFetchS / lit(86400L)).cast("int").as("fetch_day")

  /** O(batch) UPSERT of a fetch wave into the maintained log: reduce
    * the batch to its latest fetch per key, merge against the stored
    * side through [[fetchLogMerge]] — a bucketed full-outer join that
    * moves NO stored row (the round-12 audit's #1: the groupBy merge
    * reshuffled the touched buckets' full contents; the catalog
    * bucketed table makes the stored side exchange-free exactly like
    * the key set's frontier joins) — and dynamically overwrite only
    * the `(bucket, fetch_day)` partitions the batch actually CHANGED.
    * Untouched partitions keep their files byte-identical
    * (spec-pinned), including the fresher-day partitions of touched
    * buckets. IDEMPOTENT under replay by
    * algebra, not bookkeeping: max(stored, batch) re-applied is
    * max(stored, batch) — a full replay writes nothing at all — so
    * the streaming maintainer needs no dedup
    * token. ORDER-INSENSITIVE across batches for the same reason
    * (unlike [[appendUrlKeys]]'s fetch-order contract): a late wave
    * delivered out of order still converges to the same artifact.
    * Returns the rows written (every surviving row of a changed
    * partition).
    */
  def appendFetchLog(batch: DataFrame, scope: graft.core.Scope,
                     name: String): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val meta = graft.io.Artifact.read(spark, scope, name)
    val (nBuckets, rowsPath) = (meta.int("n_buckets"), meta.table("rows"))
    val tbl = registerFetchLogTable(spark, rowsPath, nBuckets)
    val batchLatest = latestFetchPerKey(
      withValidatorCols(batch).select(col("url") +: col("fetched_at_s") +:
        validatorCols.map(col): _*))
      .withColumn("bucket", keyBucket(col("canon"), nBuckets))
    // touched buckets: at most n_buckets values, model-sized
    val touched = batchLatest.select("bucket").distinct()
      .collect().map(_.getInt(0))
    val stored = spark.table(tbl)
      .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
    // ONE execution of the bucketed merge, pinned: the changed-part
    // derivation AND the write set both read the checkpointed rows —
    // an unpinned `merged` would re-run the whole touched-bucket scan
    // + join per consumer (the round-13 review's finding), doubling
    // the dominant cost of a steady-state wave. The pin also covers
    // the overwrite-what-was-read hazard below.
    val merged = fetchLogMerge(stored, batchLatest)
      .select(col("canon"), col("url"), col("last_fetch_s"), col("etag"),
        col("last_modified"), keyBucket(col("canon"), nBuckets),
        fetchDay(col("last_fetch_s")), col("day_s"), col("batch_won"))
      .localCheckpoint(eager = true)
    // the partition BOOK-KEEPING in two tiny jobs over the pinned
    // rows: per-(bucket, fetch_day) occupancy + winner counts (one
    // aggregation), plus the moved-from parts beaten rows vanish
    // from. LAYOUT-bounded (≤ n_buckets × distinct fetch days), never
    // batch- or log-sized — safe to collect, and it is what keeps the
    // rewrite O(changed), not O(touched buckets). `occupied` also
    // pre-determines which changed partitions the overwrite will
    // populate, so no post-write pass re-derives it.
    val partStats = merged.groupBy(col("bucket"), col("fetch_day"))
      .agg(sum(when(col("batch_won"), 1L).otherwise(0L)).as("n_won"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
    val movedFrom = merged
      .filter(col("batch_won") && col("day_s").isNotNull &&
        col("day_s") =!= col("fetch_day"))
      .select(col("bucket"), col("day_s")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val occupied = partStats.map(_._1).toSet
    val changedParts = (partStats.filter(_._2 > 0L).map(_._1) ++
      movedFrom).distinct
    // a replay where nothing beats the stored log is a TRUE no-op:
    // no partition rewritten, not even idempotently
    val toWrite = if (changedParts.isEmpty) {
      merged.filter(lit(false))
        .select(col("canon"), col("url"), col("last_fetch_s"),
          col("etag"), col("last_modified"), col("bucket"),
          col("fetch_day"))
    } else {
      val parts = changedParts.toSeq.toDF("bucket", "fetch_day")
      // every SURVIVING row of a changed partition must be in the
      // overwrite (dynamic overwrite replaces whole partition dirs);
      // rows of untouched partitions stay out, so their files stay
      // byte-identical
      val w = merged
        .join(broadcast(parts), Seq("bucket", "fetch_day"), "left_semi")
        .select(col("canon"), col("url"), col("last_fetch_s"),
          col("etag"), col("last_modified"), col("bucket"),
          col("fetch_day"))
      // INSERT OVERWRITE in dynamic mode WITHOUT mutating the
      // caller's session: insertInto ignores the per-writer option
      // (probed), and flipping the session conf around the write
      // races any concurrent writer in the same session. A throwaway
      // cloned session (shared SparkContext + catalog, private conf)
      // carries the mode; `merged` is pinned, so re-binding it by RDD
      // is exact.
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      s2.createDataFrame(w.rdd, w.schema).write.mode("overwrite").insertInto(tbl)
      // a changed partition the overwrite wrote NO rows into (its
      // only keys moved to a fresher day) is not rewritten by the
      // dynamic overwrite — it must be dropped explicitly or its
      // beaten rows would survive
      val written = changedParts.filter(occupied).toSet
      val fs = new org.apache.hadoop.fs.Path(rowsPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      changedParts.filterNot(written).foreach { case (b, d) =>
        spark.sql(s"ALTER TABLE $tbl DROP IF EXISTS " +
          s"PARTITION (bucket=$b, fetch_day=$d)")
        // external table: DROP PARTITION keeps the files, and a later
        // MSCK would resurrect them
        val dir = new org.apache.hadoop.fs.Path(
          s"$rowsPath/bucket=$b/fetch_day=$d")
        graft.core.Scopes.deletePath(fs, dir)
      }
      // the overwrite replaced files under partitions a cached
      // relation may still list — drop the cached listing so the
      // NEXT wave's read (the steady-state loop) re-lists instead of
      // failing on a vanished part file. Scoped to mutating upserts;
      // a no-op replay leaves the cache warm.
      spark.catalog.refreshTable(tbl)
      w
    }
    toWrite
  }

  /** The upsert's MERGE plan, factored for the plan audit: stored
    * rows (read THROUGH the catalog registration, so the bucketing
    * reaches the planner) full-outer-joined with the batch's
    * latest-per-key reduction on the canonical key, winner by
    * struct-max — `greatest` over (last_fetch_s, url) structs, the
    * same argmax algebra as [[latestFetchPerKey]], so batch-wise
    * maintenance equals the one-shot reduction. Because the stored
    * side is a bucketed table clustered on `canon`, the join adds NO
    * Exchange on the stored side (PlanSpec-pinned): a steady-state
    * wave that touches every bucket merges against the whole log
    * WITHOUT reshuffling it — the batch side, already reduced to
    * O(batch) rows, is the only thing that moves. Emits per canon:
    * the winning (url, last_fetch_s), the stored row's old partition
    * day `day_s` (null for a first fetch), and `batch_won` (the batch
    * strictly beat — or newly created — the stored row).
    */
  private[graft] def fetchLogMerge(stored: DataFrame,
                                   batchLatest: DataFrame): DataFrame =
    stored
      .select(col("canon"),
        struct(col("last_fetch_s"), col("url"), col("etag"),
          col("last_modified")).as("m_s"),
        col("fetch_day").as("day_s"))
      .join(batchLatest
        .select(col("canon"),
          struct(col("last_fetch_s"), col("url"), col("etag"),
            col("last_modified")).as("m_b")),
        Seq("canon"), "full_outer")
      .select(col("canon"), greatest(col("m_s"), col("m_b")).as("m"),
        col("day_s"),
        (col("m_b").isNotNull &&
          (col("m_s").isNull || col("m_b") > col("m_s"))).as("batch_won"))
      .select(col("canon"), col("m.url").as("url"),
        col("m.last_fetch_s").as("last_fetch_s"),
        col("m.etag").as("etag"),
        col("m.last_modified").as("last_modified"), col("day_s"),
        col("batch_won"))

  def loadFetchLog(spark: org.apache.spark.sql.SparkSession,
                   scope: graft.core.Scope, name: String): DataFrame = {
    val meta = graft.io.Artifact.read(spark, scope, name)
    spark.table(registerFetchLogTable(spark, meta.table("rows"), meta.int("n_buckets")))
      .select(col("canon"), col("url"), col("last_fetch_s"), col("etag"),
        col("last_modified"),
        col("bucket").cast("int").as("bucket"),
        col("fetch_day").cast("int").as("fetch_day"))
  }

  /** Q200's read side: [[refetchWave]]'s due-set semantics over the
    * MAINTAINED artifact — no raw log input, no re-reduction; the
    * scan is one already-reduced row per known key, and the only work
    * is the age filter, the broadcast rank join, and the capped
    * window. Equal to [[refetchWave]] over the full raw log whenever
    * the artifact absorbed every wave (max-merge associativity;
    * spec-pinned and oracle-replayed).
    */
  def refetchWaveFromLog(spark: org.apache.spark.sql.SparkSession,
                         scope: graft.core.Scope, name: String,
                         nowS: Long, ttlS: Long, ranks: DataFrame): DataFrame = {
    // the coarse twin of ttlWave's exact `age >= ttl` filter:
    // due ⇒ last_fetch_s <= now - ttl ⇒ fetch_day <= floor((now-ttl)
    // / 86400) — a PARTITION predicate, so the scan lists only stale
    // day directories instead of reading the whole log every wave
    // (the round-12 audit's #2). Clamped to int range soundly: a
    // cutoff above Int.MaxValue prunes nothing, below Int.MinValue
    // keeps at most the Int.MinValue day — the exact filter stays
    // authoritative either way.
    val dueDay = Math.max(Int.MinValue.toLong, Math.min(Int.MaxValue.toLong,
      Math.floorDiv(nowS - ttlS, 86400L))).toInt
    ttlWave(loadFetchLog(spark, scope, name)
        .filter(col("fetch_day") <= dueDay),
      nowS, ttlS, ranks)
  }

  /** An HTTP-date (IMF-fixdate, RFC 9110 §5.6.7) as epoch seconds,
    * null when unparseable — the weekday prefix is STRIPPED before
    * the parse rather than pattern-matched: real servers lie about
    * the weekday often enough that a strict resolver would throw
    * away otherwise-perfect validators, and the weekday carries no
    * information the date fields don't. `try_to_timestamp` so a
    * garbage header degrades to null under ANSI instead of killing
    * the wave (the corrupt-input-as-verdict contract at the date
    * layer). Session timezone is UTC everywhere in this engine, so
    * the wall fields ARE the GMT reading.
    */
  def httpDateEpoch(s: Column): Column =
    try_to_timestamp(regexp_replace(s, "^[A-Za-z]{3}, ", ""),
      lit("dd MMM yyyy HH:mm:ss 'GMT'")).cast("long")

  /** Q219: HEURISTIC-FRESHNESS refetch (RFC 9111 §4.2.2) — when a
    * response carries no explicit expiry, a cache MAY treat a
    * fraction of its age-since-Last-Modified as the freshness
    * lifetime (the canonical heuristic is 10%). Applied to recrawl
    * scheduling: a page that had not changed for a year when fetched
    * earns a ~36-day TTL; one modified minutes before the fetch gets
    * the floor — so the crawl's refetch budget concentrates on the
    * pages that actually churn, instead of one flat TTL for the
    * whole corpus. Per canon:
    *
    *   ttl = clamp(0.1 × (last_fetch − last_modified),
    *               minTtl, maxTtl)
    *
    * falling back to `defaultTtlS` when Last-Modified is absent,
    * unparseable, or in the future (a lying clock must not earn
    * either instant staleness or immortality). Due ⟺ age ≥ ttl; the
    * tail is the standard stalest-first per-domain politeness cap.
    * Scale shape: the log scan + per-row date arithmetic + the same
    * broadcast-rank capped window as [[refetchWave]] — no new
    * exchange class.
    */
  def heuristicRefetchWave(fetchLog: DataFrame, nowS: Long,
                           defaultTtlS: Long, minTtlS: Long,
                           maxTtlS: Long, ranks: DataFrame): DataFrame = {
    requireTtlBounds(defaultTtlS, minTtlS, maxTtlS)
    val lmEpoch = httpDateEpoch(col("last_modified"))
    val ttl = when(lmEpoch.isNull || lmEpoch > col("last_fetch_s"),
        lit(defaultTtlS))
      .otherwise(heuristicTtl(lmEpoch, minTtlS, maxTtlS))
    val due = latestFetchPerKey(fetchLog)
      .select(col("canon"), col("url"), col("last_fetch_s"),
        col("etag"), col("last_modified"))
      .withColumn("ttl_s", ttl)
      .filter(lit(nowS) - col("last_fetch_s") >= col("ttl_s"))
      .withColumn("domain",
        graft.ops.PiiOps.registrableDomain(hostOf(col("url"))))
    refetchTail(due, "last_fetch_s", ranks)
      .select(col("canon"), col("url"), col("domain"),
        col("last_fetch_s"), col("ttl_s"),
        (lit(nowS) - col("last_fetch_s")).as("age_s"),
        col("pr"), col("slot").cast("int").as("slot"))
  }

  /** Q224: the UNIFIED REFETCH SCHEDULER — one due-set with the
    * three freshness signals a production crawler actually holds,
    * merged under explicit PRECEDENCE per canon:
    *
    *   1. `sitemap` — the publisher DECLARED a lastmod (q223's
    *      signal): due ⟺ lastmod strictly newer than our latest
    *      fetch. Declaration is authoritative BOTH WAYS — a
    *      declared-unchanged page is suppressed even when its TTL
    *      heuristics would have fired (that suppression is the
    *      scheduler's whole value: the budget follows the
    *      publisher's churn, not the clock).
    *   2. `heuristic` — no declaration, but the stored Last-Modified
    *      validator parses and is not from the future: the RFC 9111
    *      §4.2.2 10% lifetime (q219's clamp) decides.
    *   3. `default` — no signal at all: the flat TTL (q196).
    *
    * Emits `reason` per scheduled key so a wave is auditable — which
    * signal put each URL in the queue. One politeness tail over the
    * MERGED due set (stalest-first), so the three signals compete
    * for the same per-domain slots instead of three waves hammering
    * a host thrice.
    *
    * Scale shape: q219's log scan + per-row arithmetic, plus ONE
    * broadcast left join of the vocabulary-sized declared set — no
    * new exchange class over the single-signal waves it unifies.
    */
  def unifiedRefetchWave(fetchLog: DataFrame, sitemaps: DataFrame,
                         nowS: Long, defaultTtlS: Long, minTtlS: Long,
                         maxTtlS: Long, ranks: DataFrame): DataFrame = {
    requireTtlBounds(defaultTtlS, minTtlS, maxTtlS)
    val declared = sitemapEntries(sitemaps)
      .withColumn("lastmod_s",
        try_to_timestamp(col("lastmod"), lit("yyyy-MM-dd")).cast("long"))
      .filter(col("lastmod_s").isNotNull)
      .groupBy(canonicalUrl(col("url")).as("canon"))
      .agg(max(col("lastmod_s")).as("lastmod_s"))
    val lmEpoch = httpDateEpoch(col("last_modified"))
    val reason = when(col("lastmod_s").isNotNull, lit("sitemap"))
      .when(lmEpoch.isNotNull && lmEpoch <= col("last_fetch_s"),
        lit("heuristic"))
      .otherwise(lit("default"))
    val age = lit(nowS) - col("last_fetch_s")
    val due = when(col("reason") === "sitemap",
        col("lastmod_s") > col("last_fetch_s"))
      .when(col("reason") === "heuristic",
        age >= heuristicTtl(lmEpoch, minTtlS, maxTtlS))
      .otherwise(age >= defaultTtlS)
    val merged = latestFetchPerKey(fetchLog)
      .join(broadcast(declared), Seq("canon"), "left")
      .withColumn("reason", reason)
      .filter(due)
      .withColumn("domain",
        graft.ops.PiiOps.registrableDomain(hostOf(col("url"))))
    refetchTail(merged, "last_fetch_s", ranks)
      .select(col("canon"), col("url"), col("domain"), col("reason"),
        col("last_fetch_s"), age.as("age_s"), col("pr"),
        col("slot").cast("int").as("slot"))
  }

  /** Q224's declared overlay: every `k%3==0` key of the
    * [[plantedValidatorLog]] fixture, declared in one `<urlset>` row
    * each with a lastmod spread `(k%20)-10` DAYS around the shared
    * fetch instant — so declarations land strictly newer (due) and
    * older-or-equal (suppressed) in comparable numbers, and both
    * interact with keys whose validator legs would have said
    * otherwise.
    */
  def plantedRefetchSitemaps(spark: org.apache.spark.sql.SparkSession,
                             t0: Long): DataFrame = {
    val d = spark.range(200).filter(col("id") % 3 === 0)
      .select(col("id").cast("long").as("k"))
    val lm = date_format(
      (lit(t0) + ((col("k") % 20) - 10) * 86400L).cast("timestamp"),
      "yyyy-MM-dd")
    d.select(concat(
      lit("<urlset><url><loc>https://w"), (col("k") % 7).cast("string"),
      lit(".s"), (col("k") % 5).cast("string"), lit(".example/p/"),
      col("k").cast("string"), lit("</loc><lastmod>"), lm,
      lit("</lastmod></url></urlset>")).as("xml"))
  }

  /** Q219's fixture: a reduced fetch log whose Last-Modified ages
    * SPREAD — per planted key `k` (0-199): `k%7==0` ships no
    * validator at all and `k%7==1` ships garbage (both must take the
    * default TTL); everything else ships an IMF-fixdate exactly
    * `k%90` days before the fetch, FORMATTED in-plan from the epoch
    * (so the weekday is right by construction, and the oracle
    * regenerates the identical string with strftime). Fetches all at
    * `t0`, one URL per key on the standard planted hosts.
    */
  def plantedValidatorLog(spark: org.apache.spark.sql.SparkSession,
                          t0: Long): DataFrame = {
    val d = spark.range(200).select(col("id").cast("long").as("k"))
    val lmTs = (lit(t0) - (col("k") % 90) * 86400L).cast("timestamp")
    d.select(
      concat(lit("https://w"), (col("k") % 7).cast("string"),
        lit(".s"), (col("k") % 5).cast("string"),
        lit(".example/p/"), col("k").cast("string")).as("url"),
      lit(t0).as("fetched_at_s"),
      lit("").as("etag"),
      when(col("k") % 7 === 0, lit(""))
        .when(col("k") % 7 === 1, lit("not a date"))
        .otherwise(date_format(lmTs, "EEE, dd MMM yyyy HH:mm:ss 'GMT'"))
        .as("last_modified"))
  }

  /** Q213's fixture: the REVALIDATION wave — for every page wave 1
    * fetched validly, the conditional response a real refetch
    * dispatch (carrying the log's stored ETag as If-None-Match,
    * [[refetchWaveFromLog]]'s `etag` column) gets back: even doc_ids
    * answer `304 Not Modified` (NO body ships — the validator
    * matched; the ETag header repeats the stored value), odd doc_ids
    * answer `200` with REWRITTEN content and a NEW validator
    * (`"w<k>"` replacing `"v<k>"`, plus the refetch date as
    * Last-Modified). Even `%10 == 4` docs confirm on the DATE alone —
    * a Last-Modified-only 304, matching their ETag-less wave-1 fetch.
    * The 304 payload ends at its validator header with no blank
    * line — a 304 has no body by definition, and the fixture
    * convention forbids CRLF-terminated payloads (the warcFrame
    * record-framing strip, stated there).
    */
  def plantedRevalidationCorpus(documents: DataFrame): DataFrame = {
    val crlf = "\r\n"
    val m = col("doc_id") % 13
    val url = expr(
      """concat('https://w', cast(doc_id % 7 as string), '.s',
        | cast(doc_id % 5 as string), '.example/p/',
        | cast(doc_id % 11 as string))""".stripMargin.replace("\n", " "))
    val even = col("doc_id") % 2 === 0
    // VALIDATORS per leg: even %10==4 docs revalidate on the DATE
    // alone (Last-Modified-only 304 — their wave-1 fetch shipped no
    // ETag either, the round-14 Missing #3 shape); other evens confirm
    // via the stored ETag; 200s carry a NEW ETag and the refetch date
    val lm2 = "Last-Modified: Wed, 08 Jan 2026 00:00:00 GMT"
    val validator =
      when(even && col("doc_id") % 10 === 4, lit(lm2))
        .otherwise(concat(lit("ETag: \""),
          when(even, concat(lit("v"), (col("doc_id") % 9).cast("string")))
            .otherwise(concat(lit("w"), (col("doc_id") % 9).cast("string"))),
          lit("\""),
          when(!even, lit(crlf + lm2)).otherwise(lit(""))))
    val payload = concat(
      when(even, lit("HTTP/1.1 304 Not Modified" + crlf))
        .otherwise(lit("HTTP/1.1 200 OK" + crlf)),
      when(!even,
        lit("Content-Type: text/html; charset=utf-8" + crlf))
        .otherwise(lit("")),
      validator,
      when(!even, concat(lit(crlf + crlf), col("html"),
        lit("<p>rev2</p>"))).otherwise(lit("")))
    val responseRec = concat(
      lit("WARC/1.0" + crlf),
      lit("WARC-Type: response" + crlf),
      lit("WARC-Target-URI: "), url, lit(crlf),
      lit("WARC-Date: 2026-01-08T00:00:00Z" + crlf),
      lit("Content-Length: "), octet_length(payload).cast("string"),
      lit(crlf), lit(crlf),
      payload, lit(crlf), lit(crlf))
    plantedHtmlCorpus(documents)
      .filter(!m.isin(2, 3, 5, 7, 8, 11, 12))
      .select(col("doc_id"), responseRec.as("warc"))
  }

  /** Q218: the REVISIT records of an archive chunk (WARC/1.1 §6.7.2
    * — "identical payload digest" profile): real Common Crawl
    * archives record an unchanged refetch as `WARC-Type: revisit`
    * carrying `WARC-Payload-Digest` (the digest of the content it
    * matched) and `WARC-Refers-To-Target-URI` (the capture it
    * references) with NO payload of its own — the archive-side dedup
    * convention (round-15 Missing #3). Framed with the same strict
    * `warc_records` walk and case-insensitive named-field extraction
    * as [[warcFrame]]'s response pick; a chunk may carry several
    * revisits (explode, not element_at — unlike responses, revisits
    * are cheap and archives batch them). Pure per-row projection,
    * zero exchanges.
    */
  private[graft] def warcRevisits(chunks: DataFrame,
                                  warcCol: String): DataFrame = {
    def header(rec: Column, name: String): Column =
      regexp_extract(rec, s"(?m)^(?i:$name):[ \t]*([^\r\n]+)", 1)
    val recs = HttpFunctions.warcRecords(coalesce(col(warcCol), lit("")))
    chunks
      .select(col("doc_id"), recs.as("recs"))
      .select(col("doc_id"), explode(filter(col("recs"),
        r => header(r, "WARC-Type") === "revisit")).as("rec"))
      .select(col("doc_id"),
        header(col("rec"), "WARC-Target-URI").as("target_uri"),
        header(col("rec"), "WARC-Date").as("warc_date"),
        header(col("rec"), "WARC-Payload-Digest").as("payload_digest"),
        header(col("rec"), "WARC-Refers-To-Target-URI")
          .as("refers_to_uri"))
  }

  /** Q218: APPLY a revisit wave against the maintained fetch log and
    * the content store. Resolution is by canonical key (the
    * refers-to URI when the record carries one, else the revisit's
    * own target) against the store's LATEST version, and the digest
    * must CONFIRM — `md5:<hex>` of the stored body's UTF-8 bytes
    * equals `WARC-Payload-Digest` — before the revisit counts:
    *  - CONFIRMED: the fetch completed and the content is known
    *    unchanged — the staleness clock resets to the revisit time
    *    while the STORED validators survive (a revisit ships none;
    *    clobbering the ETag with '' would deny the canon the 304
    *    path forever), and NO content version is written — the whole
    *    point of the convention: an unchanged refetch costs O(batch)
    *    log partitions and zero corpus bytes, exactly like the 304
    *    steady state ([[applyRevalidation]]).
    *  - UNCONFIRMED (digest mismatch, or no stored content to match
    *    — a revisit can never be a key's FIRST observation): a
    *    verdict row (`revisit_ok = false`), no log refresh — the key
    *    stays due, which is the conservative read of an archive
    *    whose dedup claim cannot be checked.
    *
    * Scale shape: the batch canons broadcast into a semi-join that
    * prunes the version store BEFORE its argmax (O(touched versions),
    * never O(store) — bucketed layout prunes at listing time), and
    * the log joins the same broadcast keys through its bucket layout;
    * the upsert is the standard O(batch) [[appendFetchLog]].
    */
  def applyRevisits(revisits0: DataFrame, scope: graft.core.Scope,
                    logName: String, contentDir: String,
                    fetchedAtS: Column): DataFrame = {
    val spark = revisits0.sparkSession
    val revisits = revisits0
      .withColumn("canon", canonicalUrl(
        when(col("refers_to_uri") =!= "", col("refers_to_uri"))
          .otherwise(col("target_uri"))))
      .withColumn("fetched_at_s", fetchedAtS.cast("long"))
      .localCheckpoint(eager = true) // consumed by store prune + verdict
    val keys = revisits.select(col("canon")).distinct()
    val touched = spark.read.parquet(contentDir)
      .join(broadcast(keys), Seq("canon"))
      .groupBy(col("canon"))
      .agg(max(struct(col("content_fetch_s"), col("body"))).as("m"))
      .select(col("canon"), col("m.body").as("stored_body"))
    val verdicts = revisits.join(touched, Seq("canon"), "left")
      .withColumn("revisit_ok", coalesce(
        concat(lit("md5:"), md5(encode(col("stored_body"), "UTF-8"))) ===
          col("payload_digest"), lit(false)))
      .localCheckpoint(eager = true) // consumed by log refresh + output
    // clock reset for the confirmed: the CURRENT log row supplies the
    // surviving validators and the canonical url
    val confirmed = loadFetchLog(spark, scope, logName)
      .join(broadcast(verdicts.filter(col("revisit_ok"))
        .select(col("canon"), col("fetched_at_s").as("revisit_s"))),
        Seq("canon"))
    appendFetchLog(
      confirmed.select(col("url"), col("revisit_s").as("fetched_at_s"),
        col("etag"), col("last_modified")),
      scope, logName)
    verdicts.select(col("canon"), col("target_uri"), col("warc_date"),
      col("payload_digest"), col("revisit_ok"), col("fetched_at_s"))
  }

  /** Q218's fixture: the REVISIT wave an archive-side dedup writes
    * after wave 1 — derived FROM the wave-1 corpus itself so the
    * planted digests are md5 of exactly the bytes the content store
    * holds (per canon, the store's argmax body). Legs by the canon's
    * trailing path number `c`: `c%3==0` revisits with the CORRECT
    * digest (clock must reset, validators survive); `c%3==1` revisits
    * with a LYING digest (md5 of body+'x' — the dedup claim fails
    * verification, verdict only); `c%3==2` canons get no revisit at
    * all (clock stays). Records carry WARC-Refers-To-Target-URI and
    * Content-Length: 0 — no payload, per the convention.
    */
  def plantedRevisitCorpus(documents: DataFrame): DataFrame = {
    val crlf = "\r\n"
    // pinned, so the stages below carry none of the archive
    // generator's and framing's expression tree in their task binaries
    val framed1 = httpFrame(warcFrame(plantedWarcCorpus(documents), "warc"))
      .filter(col("length_ok") && col("http_ok") && col("body_ok"))
      .select(col("target_uri"), col("body"))
      .localCheckpoint(eager = true)
    val stored = framed1
      .groupBy(canonicalUrl(col("target_uri")).as("canon"))
      .agg(min(col("target_uri")).as("url"),
        // the store's argmax under equal timestamps: max body string
        // (latestContent's struct-max tiebreak), so the correct-leg
        // digest matches what latestContent actually serves
        max(col("body")).as("body"))
    val c = regexp_extract(col("canon"), "/p/([0-9]+)$", 1).cast("int")
    val digest = concat(lit("md5:"), md5(encode(
      when(c % 3 === 1, concat(col("body"), lit("x")))
        .otherwise(col("body")), "UTF-8")))
    val rec = concat(
      lit("WARC/1.0" + crlf),
      lit("WARC-Type: revisit" + crlf),
      lit("WARC-Target-URI: "), col("url"), lit(crlf),
      lit("WARC-Date: 2026-01-15T00:00:00Z" + crlf),
      lit("WARC-Refers-To-Target-URI: "), col("url"), lit(crlf),
      lit("WARC-Payload-Digest: "), digest, lit(crlf),
      lit("Content-Length: 0" + crlf),
      lit(crlf), lit(crlf))
    stored.filter(c % 3 =!= 2)
      .select(c.cast("long").as("doc_id"), rec.as("warc"))
  }

  /** Q213: CONDITIONAL-REFETCH outcomes from a framed revalidation
    * wave (RFC 9110 §15.4.5): a `304 Not Modified` confirms the
    * stored content — the fetch COMPLETED, so the staleness clock and
    * the validator refresh, but no body ships and no content
    * rewrites; a valid `200` replaces content and validator both.
    * Anything else (failed framing, undecodable body, error statuses)
    * is NOT an outcome — the attempt did not complete and the key
    * stays due. Pure projection + filter over the framed batch.
    */
  def revalidationOutcomes(framed: DataFrame,
                           fetchedAtS: Column): DataFrame =
    framed
      .filter(col("length_ok") &&
        (col("http_status") === 304 ||
          (col("http_ok") && col("body_ok"))))
      .select(col("doc_id"), col("target_uri").as("url"),
        fetchedAtS.cast("long").as("fetched_at_s"), col("etag"),
        col("last_modified"),
        (col("http_status") === 304).as("not_modified"),
        when(col("http_status") === 304, lit(null).cast("string"))
          .otherwise(col("body")).as("body"))

  /** Apply a revalidation wave: EVERY completed outcome (304 and 200
    * alike) refreshes the fetch log — the standard struct-max upsert,
    * now carrying the new validator — while ONLY modified (200)
    * bodies append a content version. The 304 steady state therefore
    * costs O(batch) log partitions and ZERO content writes — the
    * whole point of conditional refetch at 100 TB: most of a mature
    * crawl's refetches confirm, and confirmations must not rewrite
    * the corpus. Returns the modified rows.
    */
  def applyRevalidation(outcomes0: DataFrame, scope: graft.core.Scope,
                        logName: String, contentDir: String): DataFrame = {
    // the wave is consumed TWICE (log upsert + content append): pin it
    // once so the upstream framing/decode never re-runs per consumer —
    // the round-14 lesson applied at the writer seam
    val outcomes = outcomes0.localCheckpoint(eager = true)
    appendFetchLog(
      outcomes.select(col("url"), col("fetched_at_s"), col("etag"),
        col("last_modified")),
      scope, logName)
    val modified = outcomes.filter(!col("not_modified"))
      .select(canonicalUrl(col("url")).as("canon"), col("body"),
        col("fetched_at_s").as("content_fetch_s"))
    appendContentVersions(modified, contentDir)
    modified
  }

  /** The content store, LOG-STRUCTURED: each wave's modified bodies
    * land as an O(batch) APPEND (no read, no rewrite — the cheapest
    * possible ingest shape), and the read side reduces to the latest
    * version per canon ([[latestContent]]). Version accumulation is
    * bounded by the q209 compaction epoch (fold the argmax and
    * rewrite once per epoch, exactly like the fetch log's file
    * floor). At 100 TB the versions directory is hash-bucketed by
    * canon so the read-side argmax is exchange-free (the q200
    * layout); the fixture keeps plain parquet and pays the one
    * reduction, stated.
    */
  def appendContentVersions(rows: DataFrame, dir: String): Unit =
    rows.select(col("canon"), col("body"), col("content_fetch_s"))
      .write.mode("append").parquet(dir)

  def latestContent(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(col("canon"))
      .agg(max(struct(col("content_fetch_s"), col("body"))).as("m"))
      .select(col("canon"), col("m.body").as("body"),
        col("m.content_fetch_s").as("content_fetch_s"))

  /** Q227: ADAPTIVE REFETCH from OBSERVED change history — the third
    * vertex of the freshness triangle: q223/q224 schedule on what
    * the publisher DECLARES, q219 on what the validator CLAIMS; this
    * schedules on what the crawler has itself OBSERVED (the
    * Cho/Garcia-Molina recrawl idea). The content store appends a
    * version only when a fetch actually CHANGED a page (q213's
    * log-structured discipline), so a canon's version history IS its
    * change record: with `n` versions over span `last − first`, the
    * observed mean inter-change interval is `span / (n−1)`, and the
    * wave samples at HALF that interval (the Nyquist-style rate that
    * bounds staleness by half an expected change period):
    *
    *   ttl = clamp((last − first) div (2·(n−1)), minTtl, maxTtl)
    *
    * — integer division end to end, so the oracle replays exactly.
    * A single-version canon (never seen to change) has no estimate
    * and takes `defaultTtlS`; due ⟺ now − last_version ≥ ttl. The
    * politeness tail is the standard stalest-first cap; `n_versions`
    * and `ttl_s` ride along so an operator can audit WHY a key was
    * scheduled. Domains derive from the canonical key itself (a
    * canon IS a URL form).
    *
    * Scale shape: one aggregation over the versions store (count +
    * min/max — map-side partial, no body column read: column
    * pruning keeps the scan to (canon, content_fetch_s)), then the
    * broadcast-rank capped window. At 100 TB the store is
    * hash-bucketed by canon (stated at [[appendContentVersions]]),
    * making the reduction exchange-free.
    */
  def adaptiveRefetchWave(versions: DataFrame, nowS: Long,
                          defaultTtlS: Long, minTtlS: Long,
                          maxTtlS: Long, ranks: DataFrame): DataFrame = {
    requireTtlBounds(defaultTtlS, minTtlS, maxTtlS)
    val hist = versions.groupBy(col("canon")).agg(
      count(lit(1)).cast("long").as("n_versions"),
      min(col("content_fetch_s")).as("first_s"),
      max(col("content_fetch_s")).as("last_s"))
    val ttl = when(col("n_versions") <= 1, lit(defaultTtlS))
      .otherwise(least(greatest(
        expr("(last_s - first_s) div ((n_versions - 1) * 2)"),
        lit(minTtlS)), lit(maxTtlS)))
    val due = hist.withColumn("ttl_s", ttl)
      .filter(lit(nowS) - col("last_s") >= col("ttl_s"))
      .withColumn("domain",
        graft.ops.PiiOps.registrableDomain(hostOf(col("canon"))))
    refetchTail(due, "last_s", ranks)
      .select(col("canon"), col("domain"), col("n_versions"),
        col("ttl_s"), col("last_s"),
        (lit(nowS) - col("last_s")).as("age_s"), col("pr"),
        col("slot").cast("int").as("slot"))
  }

  /** Q227's fixture: a version history per planted key `k` (0-199):
    * `1 + k%5` versions at a regular `1 + k%11`-day inter-change
    * interval ending at the shared instant `t0` — so the observed
    * interval is exact by construction, single-version keys
    * (`k%5==0`) exercise the no-estimate default arm, and the
    * half-interval TTL splits due/fresh across the key space at
    * `now = t0 + 3 days`.
    */
  def plantedVersionHistory(spark: org.apache.spark.sql.SparkSession,
                            t0: Long): DataFrame = {
    val d = spark.range(200).select(col("id").cast("long").as("k"))
    d.select(
        concat(lit("https://w"), (col("k") % 7).cast("string"),
          lit(".s"), (col("k") % 5).cast("string"),
          lit(".example/p/"), col("k").cast("string")).as("canon"),
        ((col("k") % 5) + 1).as("nv"), ((col("k") % 11) + 1).as("iv"))
      .select(col("canon"), col("iv"),
        explode(sequence(lit(0L), col("nv") - 1)).as("i"))
      .select(col("canon"),
        concat(lit("v"), col("i").cast("string")).as("body"),
        (lit(t0) - col("i") * col("iv") * 86400L).as("content_fetch_s"))
  }

  /** Q195: the CRAWL FUNNEL — per target domain, how many link
    * occurrences survive each pipeline stage: attributable links →
    * blocklist → robots → candidate keys → unseen keys → scheduled
    * wave slots. This is the observability rollup a crawl operator
    * reads to see WHERE pages drop ("why is domain X not being
    * fetched?") — each count is the input cardinality of the next
    * stage of [[politeFrontier]], so `n_scheduled` per domain equals
    * the polite wave's row count exactly (pinned in spec).
    *
    * Scale shape: the link stages fold into ONE aggregation over the
    * gated link projection (per-row stage flags, map-side combine);
    * the key stages reuse one checkpointed candidate table (bounded
    * by distinct keys) and its anti-joined survivor; the final
    * assembly is full-outer joins of DOMAIN-VOCABULARY-sized stage
    * tables — nothing corpus-sized crosses a second exchange.
    */
  def crawlFunnel(pages: DataFrame, scope: graft.core.Scope,
                  name: String, rules: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val links = htmlOutlinks(par(pages), baseHostCol = Some("fetch_host"))
      .filter(col("host") =!= "")
    // same contract as politeFrontier: the robots stage sees the
    // RESOLVED candidate URL
    val gated = robotsGate(links.withColumn("url",
        resolvedUrl(col("url"), col("host"))), rules)
      .withColumn("ok_unblocked", !col("blocked"))
      .withColumn("ok_allowed", !col("blocked") && col("allowed"))
    val linkStats = gated.groupBy(col("domain")).agg(
      count(lit(1)).cast("long").as("n_links"),
      sum(when(col("ok_unblocked"), 1L).otherwise(0L)).as("n_unblocked"),
      sum(when(col("ok_allowed"), 1L).otherwise(0L)).as("n_allowed"))
    val cands = gated.filter(col("ok_allowed"))
      .groupBy(canonicalUrl(col("url")).as("canon"))
      .agg(min(col("domain")).as("domain"),
        count(lit(1)).cast("long").as("n_refs"))
      // feeds two stage counts + the cap; lazy — materialized by the
      // first stage that reads it, no separate up-front job (the
      // block-manager lock serializes racing readers per partition)
      .localCheckpoint(eager = false)
    val keyStats = cands.groupBy(col("domain"))
      .agg(count(lit(1)).cast("long").as("n_keys"))
    val stored = loadUrlKeys(pages.sparkSession, scope, name)
      .select(col("canon").as("canon_fetched"))
    val fresh = cands
      .join(stored, col("canon") === col("canon_fetched"), "left_anti")
      // feeds the unseen count + the cap; lazy, same as `cands`
      .localCheckpoint(eager = false)
    val freshStats = fresh.groupBy(col("domain"))
      .agg(count(lit(1)).cast("long").as("n_unseen"))
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("n_refs").desc, col("canon").asc)
    val schedStats = fresh.withColumn("slot", row_number().over(w))
      .filter(col("slot") <= domainCap)
      .groupBy(col("domain"))
      .agg(count(lit(1)).cast("long").as("n_scheduled"))
    val zero = (c: String) => coalesce(col(c), lit(0L)).as(c)
    linkStats
      .join(keyStats, Seq("domain"), "full_outer")
      .join(freshStats, Seq("domain"), "full_outer")
      .join(schedStats, Seq("domain"), "full_outer")
      .select(col("domain"), zero("n_links"), zero("n_unblocked"),
        zero("n_allowed"), zero("n_keys"), zero("n_unseen"),
        zero("n_scheduled"))
  }

  /** A link target as a FETCHABLE URL, RFC 3986 §5.2 reference
    * resolution: hrefs that carry an authority stay themselves; a
    * server-relative href resolves as `//host` + its dot-normalized
    * path; a PAGE-relative href merges against the base PATH's
    * directory (§5.2.3 — `b.html` from `/dir/x.html` is `/dir/b.html`,
    * `../a` climbs) and dot-normalizes (§5.2.4, the bounded
    * [[removeDotSegments]]); a query-only `?q` reference keeps the
    * base path; a fragment-only `#f` reference IS the base resource.
    * Callers that do not track the fetching page's path (the
    * plain-HTML frontiers — their fixture pages have no URL) use the
    * two-arg form: base `/`, the pre-round-14 semantics plus dot
    * removal. The WARC-framed flows thread the target URI's real
    * path ([[urlPath]]).
    */
  def resolvedUrl(url: Column, host: Column): Column =
    resolvedUrl(url, host, lit("/"))

  def resolvedUrl(url: Column, host: Column, basePath: Column): Column =
    column(graft.functions.ResolvedUrl(expression(url), expression(host),
      expression(basePath)))

  /** Q216's CRAWL-TRAP verdict, a pure per-row expression pair: a URL
    * longer than `maxLen` characters, or whose path repeats segments
    * more than `maxDupSegs` times beyond their distinct set
    * (calendar traps, session-id loops, `/t/t/t/t/…` cycles —
    * duplicate-count beats consecutive-run matching because RE2 has
    * no backreferences, so the IDENTICAL rule replays in the oracle).
    * Legitimate URLs repeat a segment occasionally (`/a/b/a`), hence
    * a count threshold, not a ban. Applied in the frontier admission
    * ([[frontierFromLinks]]) — cheap insurance that one
    * infinitely-deep trap site cannot monopolize discovery — and
    * exposed standalone so the funnel can count it.
    */
  def urlTrapped(url: Column, maxLen: Int = 2048,
                 maxDupSegs: Int = 3): Column =
    column(graft.functions.UrlTrapped(expression(url), maxLen, maxDupSegs))

  /** Q216's fixture: link-shaped URLs with planted traps — `%7 == 0`
    * cycles one segment six deep (`/t/t/t/t/t/t/x`), `%7 == 1`
    * exceeds the length cap with a repeated-char path, everything
    * else is an ordinary deep-but-distinct path.
    */
  def plantedTrapUrlCorpus(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), expr(
      """concat('https://w', cast(doc_id % 7 as string), '.example',
        | case when doc_id % 7 = 0 then '/t/t/t/t/t/t/'
        |      when doc_id % 7 = 1 then concat('/', repeat('a', 2100), '/')
        |      else concat('/d/', cast(doc_id % 5 as string), '/x/') end,
        | cast(doc_id as string))""".stripMargin.replace("\n", " "))
      .as("url"))

  private def frontierFromLinks(links: DataFrame, scope: graft.core.Scope,
                                name: String, ranks: DataFrame,
                                kPerDomain: Int,
                                excludeRecent: Option[DataFrame] = None,
                                caps: Option[DataFrame] = None)
      : DataFrame = {
    val cands = links
      .withColumn("url", resolvedUrl(col("url"), col("host")))
      // the q216 trap gate: a candidate that LOOKS like a crawler
      // trap never reaches the anti-join, never burns a politeness
      // slot (a no-op on every planted fixture — pinned standalone by
      // q216 — and mirrored in the oracle chain regardless)
      .filter(!urlTrapped(col("url")))
      .withColumn("canon", canonicalUrl(col("url")))
      .groupBy(col("canon"))
      .agg(min(col("url")).as("url"), // a representative FETCHABLE form
        min(col("domain")).as("domain"), // constant per canon (same host)
        count(lit(1)).cast("long").as("n_refs"))
    frontierTail(cands, scope, name, ranks, kPerDomain,
      orderBy = Seq(col("n_refs").desc, col("canon").asc),
      extra = Seq.empty, excludeRecent = excludeRecent, caps = caps)
  }

  /** The shared frontier ADMISSION TAIL over an aggregated candidate
    * table (canon, url, domain, n_refs, extra…): the anti-join
    * against the maintained key set (bucketed — the stored side joins
    * exchange-free), the broadcast rank join, and the per-domain
    * politeness cap under the CALLER'S ordering — link discovery
    * prioritizes by reference count, sitemap seeding by declared
    * staleness; the admission semantics stay one implementation.
    */
  private def frontierTail(cands: DataFrame, scope: graft.core.Scope,
                           name: String, ranks: DataFrame,
                           kPerDomain: Int, orderBy: Seq[Column],
                           extra: Seq[String],
                           excludeRecent: Option[DataFrame] = None,
                           caps: Option[DataFrame] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kPerDomain > 0, s"kPerDomain must be positive: $kPerDomain")
    val stored = loadUrlKeys(cands.sparkSession, scope, name)
      .select(col("canon").as("canon_fetched"))
    val unseen = cands.join(stored,
      col("canon") === col("canon_fetched"), "left_anti")
    // the q211 retry gate: canons attempted too recently to retry
    // (a `canon_attempted` table) defer — second anti-join, same
    // bucketed-stored-side shape as the key set's
    val fresh = excludeRecent match {
      case Some(recent) => unseen.join(recent,
        col("canon") === col("canon_attempted"), "left_anti")
      case None => unseen
    }
    val ranked = fresh
      .join(broadcast(ranks.select(col("domain"), col("pr"))),
        Seq("domain"), "left")
      .withColumn("pr", coalesce(col("pr"), lit(0L)))
    // the q228 budget variant: a PER-DOMAIN cap table (vocab-sized,
    // broadcast) replaces the flat cap — kPerDomain becomes the
    // default for domains the table omits, and the chosen cap rides
    // the output as `k_domain` so a wave is auditable
    val capped = caps match {
      case Some(b) => ranked
        .join(broadcast(b.select(col("domain"), col("k_domain"))),
          Seq("domain"), "left")
        .withColumn("k_domain",
          coalesce(col("k_domain"), lit(kPerDomain)).cast("int"))
      case None => ranked.withColumn("k_domain", lit(kPerDomain))
    }
    val w = Window.partitionBy(col("domain")).orderBy(orderBy: _*)
    val out = capped.withColumn("slot", row_number().over(w))
      .filter(col("slot") <= col("k_domain"))
    out.select((Seq("canon", "url", "domain", "n_refs") ++ extra)
      .map(col) ++ (if (caps.isDefined) Seq(col("k_domain")) else Nil) ++
      Seq(col("pr"), col("slot").cast("int").as("slot")): _*)
  }

  /** Q190's fixture: parsed robots-exclusion rules for the planted
    * domains (`s0.example` … `s12.example`) as (domain, allow,
    * prefix) rows — the shape a robots.txt fetch-and-parse stage
    * would emit (group lines under our user-agent, empty-Disallow
    * lines dropped; the parse itself is out of engine scope — rules
    * arrive as a table). Legs: even domains disallow `/p/` but allow
    * the longer `/p/1` (longest-match must reopen it); `%4 == 1`
    * domains disallow `/` wholesale but allow `/nav`; `%4 == 2`
    * domains ALSO allow `/p/` — an exact length tie with the
    * disallow, which the RFC 9309 tie rule resolves toward allow;
    * `%4 == 3` domains publish no rules at all.
    *
    * WILDCARD legs (round-16: RFC 9309 §2.2.3 `*`/`$`): `%5 == 2`
    * domains disallow `/\*?utm_` — the query-matching idiom (the
    * match target must include the query string, and the 7-octet
    * pattern must out-rank the 4/5-octet `/p/` prefix rules); `%3 ==
    * 0` domains disallow `/r/\*7$` — mid-pattern `*` plus the end
    * anchor (`/r/17` gated, `/r/70` not); domain `s7` alone allows
    * `/p/\*feed$` — a LONGER allow wildcard that re-opens what
    * `/\*?utm_` closed (wildcard-vs-wildcard specificity rank).
    */
  def plantedRobotsRules(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val d = spark.range(13).select(col("id").cast("int").as("k"),
      concat(lit("s"), col("id"), lit(".example")).as("domain"))
    def leg(pred: Column, allow: Boolean, prefix: String) =
      d.filter(pred).select(col("domain"), lit(allow).as("allow"),
        lit(prefix).as("prefix"))
    leg(col("k") % 2 === 0, allow = false, "/p/")
      .unionByName(leg(col("k") % 2 === 0, allow = true, "/p/1"))
      .unionByName(leg(col("k") % 4 === 1, allow = false, "/"))
      .unionByName(leg(col("k") % 4 === 1, allow = true, "/nav"))
      .unionByName(leg(col("k") % 4 === 2, allow = true, "/p/"))
      .unionByName(leg(col("k") % 5 === 2, allow = false, "/*?utm_"))
      .unionByName(leg(col("k") % 3 === 0, allow = false, "/r/*7$"))
      .unionByName(leg(col("k") === 7, allow = true, "/p/*feed$"))
      // the CRLF-terminated directive leg (%6 == 4 in the raw bytes):
      // the parse must shed the '\r', so the rule arrives as a clean
      // prefix — chosen to match no planted link path, which keeps
      // every gate verdict downstream unchanged
      .unionByName(leg(col("k") % 6 === 4, allow = false, "/crlf/"))
  }

  /** Q190: the ROBOTS-EXCLUSION GATE — RFC 9309 longest-match
    * semantics over a parsed rules table: for each link, among the
    * rules of its target domain whose path-prefix matches the link's
    * path, the LONGEST prefix decides (allow wins an exact length
    * tie); a link whose domain publishes no matching rule — or no
    * rules at all — is allowed. The path is the link's own when the
    * URL carries an authority; a server-relative `/...` href IS its
    * path (its domain was inherited from the fetching page, and that
    * is the domain whose rules apply); anything else (mailto:,
    * fragment-only) has no path and matches nothing. A bare
    * authority URL (`https://host`, empty path) also matches no
    * prefix — RFC 9309 §2.2.2 reads an empty path as `/`, so a
    * consumer wanting that reading normalizes the fetch URL (appends
    * `/`) BEFORE gating; the gate does not silently rewrite paths.
    * Likewise a PATH-RELATIVE href has no path here and slips every
    * `/`-anchored rule — gate the fetchable form ([[resolvedUrl]]
    * first), as [[politeFrontier]] and [[crawlFunnel]] do.
    *
    * RULE PATTERNS are RFC 9309 §2.2.3 wildcard patterns, not bare
    * prefixes (round-15 directive #1 — prefix-only matching was the
    * one wrong-per-spec behavior left): `*` matches any octet run,
    * a trailing `$` anchors the match at the target's end, anything
    * else is a literal octet — a wildcard-free rule degenerates to
    * exactly the old `startsWith`. The MATCH TARGET is the path PLUS
    * the query string (`Disallow: /\*?utm_` must see the query — the
    * dominant wildcard idiom in real robots files; the de-facto spec
    * and every major crawler match path?query), while the exposed
    * `path` column keeps its query-free reading for consumers.
    *
    * Scale shape: ZERO new shuffles on the corpus side. The rules
    * aggregate to one array per domain (vocabulary-sized — robots
    * files of known hosts), broadcast; the verdict is a per-row
    * array pipeline (filter by [[graft.functions.RobotsMatch]] — a
    * native byte-walk, no per-row regex compile — then struct-max by
    * (length, allow)). The matched rule's length is kept as
    * `rule_len` (-1 = no match) so a consumer can audit WHICH rule
    * fired without re-deriving the match. The match rank is the
    * pattern's OCTET length (`*`/`$` count as their own octets — the
    * de-facto specificity rank), not its character length — RFC 9309
    * §2.2.2 matches byte-by-byte, so a non-ASCII rule prefix (a UTF-8
    * path segment) must out-rank a shorter-in-bytes competitor even
    * when the two tie on characters (the oracle's `strlen` is
    * byte-counted; the same octet-vs-character class as the q184
    * Content-Length check, pinned in HtmlOpsSpec).
    */
  def robotsGate(links: DataFrame, rules: DataFrame): DataFrame = {
    val url = col("url")
    val hasAuth = url.rlike("^(?i)(?:https?:)?//")
    val path = when(hasAuth,
      regexp_extract(url, "^(?i)(?:https?:)?//[^/?#]+([^?#]*)", 1))
      .otherwise(when(url.startsWith("/"),
        regexp_extract(url, "^([^?#]*)", 1)).otherwise(lit("")))
    // the match TARGET: path + query (fragments never travel the
    // wire). Same authority algebra as `path`, stopping at '#' only.
    val mt = when(hasAuth,
      regexp_extract(url, "^(?i)(?:https?:)?//[^/?#]+([^#]*)", 1))
      .otherwise(when(url.startsWith("/"),
        regexp_extract(url, "^([^#]*)", 1)).otherwise(lit("")))
    val ruleSets = rules.groupBy("domain")
      .agg(collect_list(struct(col("prefix"), col("allow"))).as("rules"))
    // the empty-target guard is explicit now: startsWith('' , p) was
    // false for every non-empty prefix, but a leading-'*' wildcard
    // WOULD match '' — and a no-path reference (mailto:, fragment-
    // only, bare authority) must keep matching nothing
    val matched = array_max(transform(
      filter(col("rules"), r => col("mt") =!= "" &&
        robotsMatch(col("mt"), r.getField("prefix"))),
      r => struct(octet_length(r.getField("prefix")).as("len"),
        r.getField("allow").as("allow"))))
    links
      .withColumn("path", path)
      .withColumn("mt", mt)
      .join(broadcast(ruleSets), Seq("domain"), "left")
      .withColumn("m", matched)
      .withColumn("allowed", coalesce(col("m.allow"), lit(true)))
      .withColumn("rule_len", coalesce(col("m.len"), lit(-1)).cast("int"))
      .drop("rules", "m", "mt")
  }

  /** [[graft.functions.RobotsMatch]] through the Column DSL. */
  private[graft] def robotsMatch(target: Column, pattern: Column): Column =
    column(graft.functions.RobotsMatch(expression(target), expression(pattern)))

  /** Q-url-canonical-dedup: per-URL canonical key, duplicate-group
    * size, and the keep verdict (lowest doc_id per key survives —
    * deterministic, and in a crawl the lowest id is the first fetch).
    * ONE shuffle, on the canonical key (the window's partition key);
    * both window functions share it. At 100 TB group sizes are
    * bounded by per-page duplication (mirrors/params), not corpus
    * size — no skew beyond what a groupBy on the same key would see.
    */
  def urlCanonicalDedup(urls: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both window functions over the SAME ordered spec (the count
    // with an explicit unbounded frame) — one exchange, one sort
    val w = Window.partitionBy(col("canon")).orderBy(col("doc_id"))
    val wAll = w.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val withCanon = urls.withColumn("canon", canonicalUrl(col("url")))
    withCanon
      .withColumn("n_dups", count(lit(1)).over(wAll))
      .withColumn("is_canonical", row_number().over(w) === 1)
      .select(col("doc_id"), col("url"), col("canon"),
        col("n_dups").cast("long").as("n_dups"), col("is_canonical"))
  }

  /** Q189: the dedup-key AUDIT under both canonical keys at once —
    * per URL, the aggressive key ([[canonicalUrl]]), the conservative
    * key ([[canonicalUrlParams]]), the duplicate-group size under
    * EACH, and the keep verdict under the conservative key. Because
    * the conservative key refines the aggressive one,
    * `n_dups_p <= n_dups` holds row-by-row — the audit a crawl
    * operator runs before switching keys, to see exactly how much
    * dedup the param allowlist gives back.
    *
    * Scale shape: two window passes. The conservative windows share
    * ONE exchange + sort (same partition key and order, q174's
    * shared-sort convention); the aggressive group size needs its own
    * exchange on the coarser key — two shuffles total, both on
    * bounded-size groups (per-page duplication, not corpus size).
    */
  def urlParamDedup(urls: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy(col("canon_p")).orderBy(col("doc_id"))
    val wpAll = wp.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wa = Window.partitionBy(col("canon")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    urls
      .withColumn("canon", canonicalUrl(col("url")))
      .withColumn("canon_p", canonicalUrlParams(col("url")))
      .withColumn("n_dups", count(lit(1)).over(wa))
      .withColumn("n_dups_p", count(lit(1)).over(wpAll))
      .withColumn("is_canonical", row_number().over(wp) === 1)
      .select(col("doc_id"), col("url"), col("canon"), col("canon_p"),
        col("n_dups").cast("long").as("n_dups"),
        col("n_dups_p").cast("long").as("n_dups_p"),
        col("is_canonical"))
  }
}
