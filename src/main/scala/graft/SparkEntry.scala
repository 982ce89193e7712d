package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Layout, Tables}
import graft.ops._
import graft.streaming.EventsStreaming

/** Driver contract — registry of every declared query (SURVEY.md §2.2)
  * with its DuckDB oracle SQL. Implementations live in graft.ops.*;
  * this object only binds names → (session, sfDir) → DataFrame.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.parquet(s, dir, name)

  /** The 7 derived integer columns fed to the unpivot/mean queries —
    * the engine-side analogue of the reference test's 7-int-column
    * table (reference: test/src/.../EndToEndTest.java:160-165).
    * Definitions are mirrored exactly in [[q01Base]] SQL.
    */
  private def sevenIntCols(li: DataFrame): DataFrame =
    li.selectExpr(
      "cast(l_linenumber as bigint) as c0",
      "cast(floor(l_quantity) as bigint) as c1",
      "l_orderkey % 7 as c2",
      "l_partkey % 7 as c3",
      "l_suppkey % 7 as c4",
      "cast(floor(l_extendedprice) as bigint) % 7 as c5",
      "cast(floor(l_discount * 100) as bigint) % 7 as c6")

  private val q01Base =
    """WITH base AS (
      |  SELECT cast(l_linenumber AS BIGINT) c0,
      |         cast(floor(l_quantity) AS BIGINT) c1,
      |         l_orderkey % 7 c2, l_partkey % 7 c3, l_suppkey % 7 c4,
      |         cast(floor(l_extendedprice) AS BIGINT) % 7 c5,
      |         cast(floor(l_discount * 100) AS BIGINT) % 7 c6
      |  FROM lineitem),
      |u AS (
      |  SELECT 0 AS id, c0 AS value FROM base
      |  UNION ALL SELECT 1, c1 FROM base
      |  UNION ALL SELECT 2, c2 FROM base
      |  UNION ALL SELECT 3, c3 FROM base
      |  UNION ALL SELECT 4, c4 FROM base
      |  UNION ALL SELECT 5, c5 FROM base
      |  UNION ALL SELECT 6, c6 FROM base)
      |SELECT id,
      |       (CAST(sum(value) AS BIGINT) // count(value))
      |         - (CAST(sum(value) AS BIGINT) % count(value)) * 100 AS mean
      |FROM u GROUP BY id""".stripMargin

  /** DuckDB tokenizer identical to OpsUtil.tokens — the whitespace
    * class is explicit because Java's \s includes \x0B and RE2's does
    * not; both sides spell out Java's exact set.
    */
  private val duckToks =
    """list_filter(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+'), x -> x <> '')"""

  /** DuckDB word-3-gram shingles (matches OpsUtil.shingles(w, 3)). */
  private val duckShingles =
    """list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))"""

  /** DuckDB replica of PiiOps.plantedPiiCorpus's text expression. */
  private val duckPiiText =
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
  private val duckEmailRe = PiiOps.emailRe
  private val duckPhoneRe = PiiOps.phoneRe
  private val duckIpRe = PiiOps.ipRe

  /** DuckDB replica of HtmlOps.fetchHostSql. */
  private val duckFetchHost =
    "concat('w', cast(doc_id % 7 as varchar), '.s', " +
      "cast(doc_id % 5 as varchar), '.example')"

  /** DuckDB replica of HtmlOps.plantedHtmlCorpus's page expression. */
  private val duckHtml =
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
  private def duckLinkHost(u: String): String =
    s"""CASE WHEN regexp_extract($u, '^(?i)(?:https?:)?//([^/?#]+)', 1) <> ''
       |     THEN regexp_extract($u, '^(?i)(?:https?:)?//([^/?#]+)', 1)
       |     WHEN regexp_matches($u, '^[A-Za-z][A-Za-z0-9+.-]*:')
       |     THEN ''
       |     ELSE fetch_host END""".stripMargin
  private def duckDomainOf(h: String): String =
    s"""regexp_extract(regexp_replace(lower($h), ':[0-9]+$$', ''),
       |  '([^.]+\\.[^.]+)$$', 1)""".stripMargin

  /** HtmlOps.plantedDirtyUrlCorpus's URL expression (the fetch URL of
    * each planted page), shared by the q174 oracle, the v4 crawl
    * flagship's keep-set, and the URL-key artifact oracles.
    */
  private val duckDirtyUrl =
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

  /** HtmlOps.plantedParamUrlCorpus's URL expression — the dirty
    * corpus with allowlisted params (`id`, `page`) planted out of
    * sorted order next to the tracking ones, plus the mod-17
    * unparseable `mailto:` leg.
    */
  private val duckParamUrl =
    """case when doc_id % 17 = 9 then
      |   concat('mailto:u', cast(doc_id as varchar), '@y.example?id=1')
      | else concat(
      |  case when doc_id % 2 = 0 then 'HTTPS://WWW.W'
      |       else 'https://w' end,
      |  cast(doc_id % 7 as varchar), '.s', cast(doc_id % 5 as varchar),
      |  case when doc_id % 2 = 0 then '.EXAMPLE:443'
      |       else '.example' end,
      |  '/p/', cast(doc_id % 11 as varchar),
      |  case when doc_id % 4 = 2
      |       then concat('?utm_source=x&id=', cast(doc_id % 3 as varchar))
      |       when doc_id % 4 = 0
      |       then concat('?page=', cast(doc_id % 2 as varchar),
      |                   '&utm_campaign=y&id=', cast(doc_id % 3 as varchar))
      |       else '' end,
      |  case when doc_id % 5 = 1 then '#sec2' else '' end) end"""
      .stripMargin

  /** HtmlOps.canonicalUrl mirrored as one expression over a url
    * column: anchored host (scheme optional — protocol-relative URLs
    * canonicalize like their absolute twins) lowercased minus
    * www./port + path minus trailing slashes; an unparseable URL
    * keeps itself as the key. The emptiness guard tests the STRIPPED
    * host, exactly as the Spark side does — a degenerate authority
    * like `www.` or `:8080` strips to empty and the URL keeps itself
    * as its own key on both sides.
    */
  private def duckCanonStrippedHost(u: String): String =
    s"""regexp_replace(regexp_replace(
       |  lower(regexp_extract($u, '^(?i)(?:https?:)?//([^/?#]+)', 1)),
       |  '^www\\.', ''), ':[0-9]+$$', '')""".stripMargin
  private def duckCanonOf(u: String): String =
    s"""CASE WHEN ${duckCanonStrippedHost(u)} = ''
       |     THEN $u
       |     ELSE concat(
       |       ${duckCanonStrippedHost(u)},
       |       regexp_replace(
       |         ${duckRemoveDots(
              s"regexp_extract($u, '^(?i)(?:https?:)?//[^/?#]+([^?#]*)', 1)")},
       |         '/+$$', '')) END""".stripMargin

  /** HtmlOps.canonicalUrlParams mirrored: the aggressive key plus the
    * sorted allowlisted `name=value` params (list pipeline over the
    * split query string, names via the 1-indexed split head).
    */
  private def duckCanonParamsOf(u: String, allow: Seq[String]): String = {
    val lst = allow.map(a => s"'$a'").mkString(", ")
    // coalesce is LOAD-BEARING: DuckDB's array_to_string on an EMPTY
    // list returns NULL (Spark's array_join returns ''), and concat
    // would then silently SKIP the NULL kept-list, leaving a bare '?'
    // (regexp_extract itself returns '' on no match, same as Spark)
    val kept =
      s"""coalesce(array_to_string(list_sort(list_filter(
         |  string_split(regexp_extract($u, '^[^#]*\\?([^#]*)', 1), '&'),
         |  p -> list_contains([$lst], string_split(p, '=')[1]))), '&'), '')"""
        .stripMargin
    s"""CASE WHEN ${duckCanonStrippedHost(u)} = '' THEN $u
       |     WHEN $kept = '' THEN ${duckCanonOf(u)}
       |     ELSE concat(${duckCanonOf(u)}, '?', $kept) END""".stripMargin
  }

  /** The staged redaction CTE (PiiOps.piiRedact's scan-left chain)
    * over any relation exposing (doc_id, text) — shared by the q167
    * chain (planted corpus) and the v4 crawl flagship (extracted
    * crawl text, whose PII arrived through the HTML pipeline).
    */
  private def duckRedactStages(src: String, cte: String = "r"): String =
    s"""$cte AS (SELECT doc_id, text AS t0,
       |        regexp_replace(text, '$duckEmailRe', '[EMAIL]', 'g') AS t1,
       |        regexp_replace(regexp_replace(text,
       |          '$duckEmailRe', '[EMAIL]', 'g'),
       |          '$duckIpRe', '[IP]', 'g') AS t2,
       |        regexp_replace(regexp_replace(regexp_replace(text,
       |          '$duckEmailRe', '[EMAIL]', 'g'),
       |          '$duckIpRe', '[IP]', 'g'),
       |          '$duckPhoneRe', '[PHONE]', 'g') AS redacted FROM $src)""".stripMargin

  /** Rebase a self-contained oracle SQL fragment onto another source
    * relation: every whole-word `documents` table reference becomes
    * `src`. The fragments this is applied to reference `documents`
    * only as a relation name (never inside a string literal).
    */
  private def onDocs(sql: String, src: String): String =
    sql.replaceAll("\\bdocuments\\b", src)

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

  /** The extraction stages alone — block removal → tag strip →
    * entity decode — over an EXISTING `${pfx}p` CTE with (doc_id,
    * fetch_host, html); the q186 WARC→corpus chain supplies its page
    * from framed archive payloads instead of the planted generator.
    */
  private def duckExtractFromHtmlCtes(pfx: String) =
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

  /** Shared scrub CTEs (planted text → staged redactions,
    * PiiOps.defaultPatterns order and BRACKETED placeholders
    * verbatim) + the audit columns — q167/q171 emit them per doc,
    * q169 beside the flagship selection. The stage columns t1/t2
    * (after the email and IP passes) feed the SEQUENTIAL redaction
    * count: each pattern is counted on the text its stage actually
    * rewrote, mirroring PiiOps.piiRedact's scan-left chain.
    */
  private lazy val duckRedactCtes =
    s"""p AS (SELECT doc_id, $duckPiiText AS text FROM documents),
       |${duckRedactStages("p")}""".stripMargin

  private val duckRedactAuditCols =
    s"""(len(regexp_extract_all(t0, '$duckEmailRe'))
       |   + len(regexp_extract_all(t1, '$duckIpRe'))
       |   + len(regexp_extract_all(t2, '$duckPhoneRe'))) AS n_redactions,
       |  (len(regexp_extract_all(redacted, '$duckEmailRe'))
       |   + len(regexp_extract_all(redacted, '$duckPhoneRe'))
       |   + len(regexp_extract_all(redacted, '$duckIpRe'))) AS n_residual,
       |  md5(redacted) AS redacted_md5""".stripMargin

  // shared by q167 (the batch scrub audit) and q171 (the same scrub
  // through readStream — identical audit space)
  private lazy val q167Sql =
    s"""WITH $duckRedactCtes
       |SELECT doc_id,
       |  $duckRedactAuditCols
       |FROM r""".stripMargin

  // ---- pipe scripts (reference: the client-supplied mapper/reducer
  // source strings of runStreamingMapReduce, EndToEndTest.java:84-98) ----
  private val pipeMapper =
    """#!/bin/sh
      |exec awk -F',' '{ for (i = 1; i <= NF; i++) printf "%d\t%d\n", i - 1, $i }'
      |""".stripMargin
  private val pipeReducer =
    """#!/bin/sh
      |exec awk -F'\t' '
      |  NR == 1 { k = $1 }
      |  $1 != k { printf "%s\t%d\n", k, s; k = $1; s = 0 }
      |  { s += $2; n++ }
      |  END { if (n > 0) printf "%s\t%d\n", k, s }'
      |""".stripMargin

  private def pipeQuery(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "lineitem").selectExpr(
      """concat_ws(',', cast(l_linenumber as bigint),
        |  cast(floor(l_quantity) as bigint), l_orderkey % 7) as line""".stripMargin)
    PipeOps.pipeMapReduceDF(lines, pipeMapper, pipeReducer)
      .selectExpr("cast(split(line, '\t')[0] as int) as id",
        "cast(split(line, '\t')[1] as bigint) as total")
  }

  /** Q48: the JSONL interchange path exercised END TO END — documents
    * written as JSON-lines, read back under a declared schema, then
    * put through the q20 token statistics; the oracle (q20's SQL over
    * the parquet originals) passes only if the round trip is lossless
    * including whitespace/unicode in `text`.
    */
  // one UNIQUE directory per (process, sf dir): concurrent JVMs never
  // collide (createTempDirectory is unpredictable and atomically
  // owned, unlike a fixed /tmp name a squatter could pre-create), and
  // repeated invocations within one process overwrite a single
  // directory instead of accumulating corpus copies; removed on exit
  private val q48Dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try java.nio.file.Files.delete(f) catch { case _: Exception => () })
    }
  }

  private def jsonlRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = cachedDir(q48Dirs, dir, "graft-q48-") { d =>
    }
    Tables.writeJsonl(t(s, dir, "documents").select("doc_id", "text"), tmp)
    TextOps.tokenCounts(Tables.jsonl(s, tmp, "doc_id bigint, text string"))
  }

  /** q141: PERMISSIVE ingest with CORRUPT-RECORD ACCOUNTING — the
    * schema-on-read resilience every crawl ingest needs: a JSONL feed
    * where every doc_id ≡ 13 (mod 97) line is truncated mid-object is
    * read with `_corrupt_record` in the DDL, and the audit reports
    * good rows per lang beside the corrupt-line count — bad data is
    * DATA (quarantined and counted), not an outage. The oracle
    * re-derives both sides from the clean table and the deterministic
    * mangling rule, so a reader that silently drops (or mis-parses)
    * corrupt lines cannot pass.
    */
  private val q141Dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def corruptJsonlAudit(s: SparkSession, dir: String): DataFrame = {
    val tmp = cachedDir(q141Dirs, dir, "graft-q141-") { d =>
      t(s, dir, "documents").select(
        when(col("doc_id") % 97 === 13,
          concat(lit("{\"doc_id\":"), col("doc_id"), lit(",\"lang\":")))
          // to_json escapes quotes/backslashes and renders null lang
          // legally — a hand-concat would silently mis-account both
          .otherwise(to_json(struct(col("doc_id"), col("lang"))))
          .as("value"))
        .write.mode("overwrite").text(d)
    }
    val raw = Tables.jsonl(s, tmp,
      "doc_id bigint, lang string, _corrupt_record string")
    raw.groupBy(
        when(col("_corrupt_record").isNotNull, lit("corrupt"))
          .otherwise(lit("ok")).as("status"),
        when(col("_corrupt_record").isNotNull, lit(null).cast("string"))
          .otherwise(col("lang")).as("lang"))
      .agg(count(lit(1)).as("n"))
  }

  private val q75Dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q75: supplier through the CSV sink and the schema-typed CSV
    * source — long, int, string, and double columns must survive the
    * text round trip bit-exactly against the parquet original
    * (TablesSpec stresses quoting with planted delimiter/quote/newline
    * content).
    */
  private def csvRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = cachedDir(q75Dirs, dir, "graft-q75-") { d =>
    }
    Tables.writeCsv(t(s, dir, "supplier"), tmp)
    Tables.csvTyped(s, tmp,
      "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double")
  }

  /** q86: ORC round trip — the Hive-era columnar interchange format.
    * Unlike CSV (q75), ORC embeds its schema, so the read-back needs
    * no DDL and must reproduce exact types; the oracle reads the
    * ORIGINAL parquet, proving the format hop is lossless.
    */
  private val q86Dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def orcRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = cachedDir(q86Dirs, dir, "graft-q86-") { d =>
      Tables.writeOrc(t(s, dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_retailprice"), d)
    }
    Tables.orc(s, tmp)
  }

  /** q78: the IVF index exercised as a STORAGE ARTIFACT — built once
    * per (process, sf dir), saved under a [[graft.core.Scope]]
    * partitioned by cell, then RELOADED and probed with static
    * partition pruning; the probe is held to the same recall gate as
    * the in-memory q34. The artifact is built once and cached so
    * repeated invocations (bench runs 3×) time the probe — the
    * production per-query-batch half — not the build.
    */
  private val q78Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def ivfArtifactGate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scope = cachedScope(q78Scopes, s, dir, "graft-q78-") { sc =>
      SimilarityOps.saveIvfIndex(SimilarityOps.buildIvfIndex(emb), sc, "ivf")
    }
    val loaded = SimilarityOps.loadIvfIndex(s, scope, "ivf")
    SimilarityOps.knnRecallGate(
      SimilarityOps.probeIvfPruned(loaded, emb),
      SimilarityOps.bruteForceKnn(emb), k = 10, minRecall = 0.7)
  }

  /** q83: INCREMENTAL index maintenance — the artifact is built from
    * the even half of the corpus, the odd half is APPENDED against the
    * frozen quantizer ([[SimilarityOps.appendToIvfIndex]]: O(batch),
    * stored rows untouched), and the MERGED reloaded index is probed
    * over the full corpus under the same recall gate as q34/q78. This
    * is the daily-ingest shape: rebuild never, append per batch,
    * monitor recall for quantizer drift.
    */
  /** q111: the MERGEABLE distinct-count sketch exercised as a STORAGE
    * ARTIFACT — the even half of the corpus is sketched per source
    * ONCE and persisted under a [[graft.core.Scope]]; the odd half
    * arrives as the ingest batch, is sketched alone (O(batch)), and
    * the RELOADED artifact + batch sketches are union-merged and
    * estimated — the incremental path never re-reads history rows.
    * Held to [[SketchOps.distinctSketchGate]]'s exact-count bound over
    * the full union; oracle expects the violation set empty.
    */
  private val q111Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def sketchArtifactGate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q111Scopes, s, dir, "graft-q111-") { sc =>
      SketchOps.saveSketches(
        SketchOps.perKeySketch(docs.filter(col("doc_id") % 2 === 0),
          "source", "doc_id"), sc, "distinct_sketch")
    }
    SketchOps.distinctSketchGate(
      SketchOps.loadSketches(s, scope, "distinct_sketch"),
      docs.filter(col("doc_id") % 2 === 1), docs, "source", "doc_id")
  }

  /** q120: the INVERTED INDEX as a storage artifact — postings built
    * and persisted once per (process, sf dir) partitioned by term-hash
    * bucket, then RELOADED and probed with partition pruning on the
    * query terms' buckets; held to the q106 oracle (identical ranked
    * results — the artifact is layout, not semantics). Build cached so
    * the bench times the probe, like q78/q91.
    */
  private val q120Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def postingsArtifactSearch(s: SparkSession, dir: String): DataFrame = {
    val scope = cachedScope(q120Scopes, s, dir, "graft-q120-") { sc =>
      TextOps.savePostings(t(s, dir, "documents"), sc, "postings")
    }
    TextOps.searchPostingsArtifact(s, scope, "postings", keywordQueries)
  }

  /** q121: schema evolution — the documents "dataset" written as two
    * producer generations (v1 shards without `lang`, v2 shards with
    * it), read back through mergeSchema into the union schema with
    * nulls where v1 had no column. The oracle re-derives the same
    * frame from the source table, so the merged read must neither drop
    * nor invent values. Shards build once per (process, sf dir).
    */
  private val q121Dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mergedSchemaRead(s: SparkSession, dir: String): DataFrame = {
    val root = cachedDir(q121Dirs, dir, "graft-q121-") { d =>
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "source", "n_chars")
        .write.mode("overwrite").parquet(d + "/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "source", "n_chars", "lang")
        .write.mode("overwrite").parquet(d + "/v2")
    }
    graft.io.Tables.parquetMerged(s, s"$root/v1", s"$root/v2")
      .select("doc_id", "source", "n_chars", "lang")
  }

  /** q128: the postings artifact maintained INCREMENTALLY — built
    * from the even half of the corpus, the odd half appended as an
    * O(batch) dynamic-partition write (stored rows untouched), and
    * the merged reloaded index probed; the results must equal q106
    * over the FULL corpus (q120's oracle = q106's SQL). The q83 daily-
    * ingest shape for lexical retrieval.
    */
  private val q128Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def postingsAppendSearch(s: SparkSession, dir: String): DataFrame = {
    val scope = cachedScope(q128Scopes, s, dir, "graft-q128-") { sc =>
      val docs = t(s, dir, "documents")
      TextOps.savePostings(docs.filter(col("doc_id") % 2 === 0),
        sc, "postings")
      TextOps.appendPostings(docs.filter(col("doc_id") % 2 === 1),
        sc, "postings")
    }
    TextOps.searchPostingsArtifact(s, scope, "postings", keywordQueries)
  }

  /** q129: the class-centroid DRIFT MONITOR maintained incrementally —
    * fixed-point (ssum, n) partials for the even half persisted under
    * a scope, the odd half sketched alone (O(batch)), and the RELOADED
    * artifact merged with the batch by long addition. Long sums are
    * associative, so the merged centroids are BIT-IDENTICAL to a full
    * recompute: the oracle is q113's full-corpus SQL, not a tolerance
    * gate. Completes the incremental-artifact family (q111 HLL, q128
    * postings) with an exactly-mergeable statistic.
    */
  private val q129Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def centroidSumsIncremental(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scope = cachedScope(q129Scopes, s, dir, "graft-q129-") { sc =>
      graft.core.Scopes.save(
        SimilarityOps.labelCentroidSums(emb.filter(col("vec_id") % 2 === 0)),
        sc, "centroid_sums")
    }
    SimilarityOps.centroidsFromSums(
      SimilarityOps.mergeCentroidSums(Seq(
        graft.core.Scopes.load(s, scope, "centroid_sums"),
        SimilarityOps.labelCentroidSums(emb.filter(col("vec_id") % 2 === 1)))))
  }

  private val q83Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def ivfAppendGate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scope = cachedScope(q83Scopes, s, dir, "graft-q83-") { sc =>
      SimilarityOps.saveIvfIndex(
        SimilarityOps.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0)), sc, "ivf")
      SimilarityOps.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), sc, "ivf")
    }
    val loaded = SimilarityOps.loadIvfIndex(s, scope, "ivf")
    SimilarityOps.knnRecallGate(
      SimilarityOps.probeIvfPruned(loaded, emb),
      SimilarityOps.bruteForceKnn(emb), k = 10, minRecall = 0.7)
  }

  /** Sibling of [[cachedScope]] for plain temp DIRECTORIES: one per
    * (process, key), built on first use, reclaimed by a shutdown hook.
    */
  private def cachedDir(cache: java.util.concurrent.ConcurrentHashMap[String, String],
                        key: String, prefix: String)(
                        build: String => Unit): String =
    cache.computeIfAbsent(key, _ => {
      val d = java.nio.file.Files.createTempDirectory(prefix)
      sys.addShutdownHook(deleteRecursively(d))
      build(d.toString)
      d.toString
    })

  /** The cached-artifact scaffold every artifact query shares: ONE
    * scope per (process, sf dir), built on first use under a temp base
    * that a shutdown hook reclaims. Factored so each new artifact
    * query gets identical temp-dir/cleanup behavior instead of
    * re-implementing the block.
    */
  private def cachedScope(
      cache: java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope],
      s: SparkSession, dir: String, prefix: String)(
      build: graft.core.Scope => Unit): graft.core.Scope =
    cache.computeIfAbsent(dir, _ => {
      val base = java.nio.file.Files.createTempDirectory(prefix)
      sys.addShutdownHook(deleteRecursively(base))
      val sc = graft.core.Scopes.create(s, base.toString)
      build(sc)
      sc
    })

  /** Synthetic media fixtures (real PNG/GIF/WAV payloads derived
    * deterministically from doc_id) materialized ONCE per (process, sf
    * dir) as parquet, so q43/q49/q50/q51/q55/q71 time the DECODE /
    * TRANSFORM operators, not fixture encoding (the r5 q71 bench
    * finding). Generation is deterministic, so the parquet round trip
    * is content-identical to inline synthesis — CORRECTNESS semantics
    * unchanged; this is also the honest production shape, where media
    * arrives as a stored binary column, not something the query
    * invents.
    */
  private val mediaDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mediaTable(s: SparkSession, dir: String, kind: String)
      : org.apache.spark.sql.Dataset[MultimodalOps.MediaRecord] = {
    import s.implicits._
    val root = cachedDir(mediaDirs, s"$dir#$kind", s"graft-media-$kind-") { d =>
      val docs = t(s, dir, "documents")
      val gen = kind match {
        case "png" => MultimodalOps.syntheticPngTable(docs)
        case "gif" => MultimodalOps.syntheticGifTable(docs)
        case "wav" => MultimodalOps.syntheticWavTable(docs)
      }
      gen.toDF().write.mode("overwrite").parquet(d)
    }
    s.read.parquet(root).as[MultimodalOps.MediaRecord]
  }

  /** q136: the COMPOUND IVF-PQ index as a maintained storage artifact
    * — built from the even half of the corpus, saved (cells +
    * codebooks + centroids + meta under one scope), the odd half
    * APPENDED against the frozen coarse quantizer AND frozen codebooks
    * ([[SimilarityOps.appendToIvfPqIndex]]: O(batch), stored rows
    * untouched), and the merged RELOADED index probed over the full
    * corpus under q125's joint recall gate. Closes the index-artifact
    * lifecycle for the one ladder entry whose storage form is the
    * composition.
    */
  private val q136Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def ivfPqArtifactGate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scope = cachedScope(q136Scopes, s, dir, "graft-q136-") { sc =>
      SimilarityOps.saveIvfPqIndex(
        SimilarityOps.buildIvfPqIndex(emb.filter(col("vec_id") % 2 === 0)),
        sc, "ivfpq")
      SimilarityOps.appendToIvfPqIndex(emb.filter(col("vec_id") % 2 === 1),
        sc, "ivfpq")
    }
    SimilarityOps.knnRecallGate(
      SimilarityOps.probeIvfPq(
        SimilarityOps.loadIvfPqIndex(s, scope, "ivfpq"), emb),
      SimilarityOps.bruteForceKnn(emb), k = 10, minRecall = 0.6)
  }

  /** q139: ARTIFACT COMPACTION end to end — the band artifact is
    * built from the even half and appended with the odd half (two file
    * waves per band directory), then compacted partition-preserving
    * ([[graft.io.Layout.compactPartitioned]]: ~one file per directory,
    * layout and pruning contracts intact) and swapped into place; the
    * probe runs over the COMPACTED artifact and must still reproduce
    * q13's full-corpus pairs — compaction is layout, not semantics.
    */
  private val q139Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def compactedBandPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q139Scopes, s, dir, "graft-q139-") { sc =>
      DedupOps.saveBands(docs.filter(col("doc_id") % 2 === 0), sc, "bands")
      DedupOps.appendBands(docs.filter(col("doc_id") % 2 === 1), sc, "bands")
      graft.io.Layout.compactPartitioned(s, sc.path("bands/rows"),
        sc.path("bands/rows-compact"), Seq("b"))
      graft.io.Layout.swapInto(s, sc.path("bands/rows-compact"),
        sc.path("bands/rows"))
    }
    DedupOps.lshPairsFromBands(DedupOps.loadBands(s, scope, "bands"))
  }

  /** q138: the STREAMING daily-ingest dedup loop end to end — the even
    * half of the corpus seeds the band (q137) and label (q135)
    * artifacts; the odd half arrives as a document STREAM whose every
    * micro-batch merges its candidate edges into the persisted labels
    * and appends its bands for later batches
    * ([[EventsStreaming.streamingClusterMaintenance]]); the stored
    * labels are then probed over the full corpus. Banding is stateless
    * and the merge is oracle-exact, so the streamed result must equal
    * the FULL-corpus minhash-LSH connected components — the oracle is
    * the q41 recursive CTE restricted to the minhash edge generator.
    */
  private val q138Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def streamClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q138Scopes, s, dir, "graft-q138-") { sc =>
      val hist = docs.filter(col("doc_id") % 2 === 0)
      DedupOps.saveBands(hist, sc, "bands")
      ClusterOps.saveClusterLabels(
        ClusterOps.connectedComponents(hist, DedupOps.minhashLshPairs(hist)),
        sc, "labels")
      // the odd half becomes the stream source (doc_id, text)
      // two source files -> two micro-batches (maxFilesPerTrigger=1):
      // the second wave's candidates must find the first's bands
      docs.filter(col("doc_id") % 4 === 1).select("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(sc.path("stream-src"))
      docs.filter(col("doc_id") % 4 === 3).select("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(sc.path("stream-src"))
      EventsStreaming.streamingClusterMaintenance(s,
        sc.path("stream-src"), sc, "bands", "labels", sc.path("ckpt"))
    }
    ClusterOps.loadClusterLabels(s, scope, "labels", docs)
  }

  /** q178: the canonical-URL KEY SET as a maintained artifact — the
    * first fetch wave (ids < 250) seeds it, the second wave ingests
    * via the bucket-pruned anti-join append, and the keep verdict is
    * probed over the FULL corpus from the reloaded artifact. Under
    * fetch-ordered waves keep-first == keep-lowest, so the oracle is
    * the batch q174 recompute (sans n_dups — group sizes are not the
    * artifact's to answer).
    */
  private val q178Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def urlKeyArtifactVerdicts(s: SparkSession, dir: String): DataFrame = {
    val urls = HtmlOps.plantedDirtyUrlCorpus(t(s, dir, "documents"))
    val scope = cachedScope(q178Scopes, s, dir, "graft-q178-") { sc =>
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
  private val q179Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def streamUrlKeyVerdicts(s: SparkSession, dir: String): DataFrame = {
    val urls = HtmlOps.plantedDirtyUrlCorpus(t(s, dir, "documents"))
    val scope = cachedScope(q179Scopes, s, dir, "graft-q179-") { sc =>
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

  /** q137: the MinHash BAND TABLE as a maintained artifact — built
    * from the even half, the odd half APPENDED under the artifact's
    * own recorded banding geometry (O(batch), stored rows untouched),
    * and the candidate-pair self-join run over the RELOADED rows.
    * Banding is stateless per document, so the merged artifact's pairs
    * must equal q13's full-corpus pairs bit-for-bit — the artifact is
    * layout, not semantics (the q120/q128 contract for the dedup
    * family's hot table).
    */
  private val q137Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def bandArtifactPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q137Scopes, s, dir, "graft-q137-") { sc =>
      DedupOps.saveBands(docs.filter(col("doc_id") % 2 === 0), sc, "bands")
      DedupOps.appendBands(docs.filter(col("doc_id") % 2 === 1), sc, "bands")
    }
    DedupOps.lshPairsFromBands(DedupOps.loadBands(s, scope, "bands"))
  }

  /** q135: the dedup cluster LABELS maintained incrementally — the
    * label artifact is built from the even half of the corpus, the odd
    * half's candidate edges (within-batch q13+q27 pairs plus the two
    * cross-side generators) are MERGED into the persisted artifact in
    * O(batch + touched components) ([[ClusterOps.mergeClusterEdges]]:
    * endpoint lookup → bucket-pruned member load → size-adaptive CC →
    * touched-bucket-only rewrite), and the stored labels are probed
    * over the full corpus. Candidate pairs decompose exactly by side
    * (signatures are per-document), so the oracle is q41's FULL-
    * RECOMPUTE recursive CTE over all documents — bit-identical, the
    * q129/q133 incremental-algebra contract.
    */
  private val q135Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** The even-build + odd-merge label artifact shared by q135 (probe)
    * and q142 (artifact-backed dedup application).
    */
  private def q135Scope(s: SparkSession, dir: String): graft.core.Scope = {
    val docs = t(s, dir, "documents")
    cachedScope(q135Scopes, s, dir, "graft-q135-") { sc =>
      val hist = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      val histEdges = DedupOps.minhashLshPairs(hist).select("doc_a", "doc_b")
        .union(DedupOps.simhashPairs(hist).select("doc_a", "doc_b"))
      ClusterOps.saveClusterLabels(
        ClusterOps.connectedComponents(hist, histEdges), sc, "labels")
      val batchEdges = DedupOps.minhashLshPairs(batch).select("doc_a", "doc_b")
        .union(DedupOps.simhashPairs(batch).select("doc_a", "doc_b"))
        .union(DedupOps.incrementalNearDupCandidates(batch, hist)
          .select(col("doc_new").as("doc_a"), col("doc_existing").as("doc_b")))
        .union(DedupOps.simhashCrossPairs(batch, hist).select("doc_a", "doc_b"))
      ClusterOps.mergeClusterEdges(s, sc, "labels", batchEdges)
    }
  }

  private def incrClusterLabels(s: SparkSession, dir: String): DataFrame =
    ClusterOps.loadClusterLabels(s, q135Scope(s, dir), "labels",
      t(s, dir, "documents"))

  /** q142: the dedup DECISION read from the STORED artifact — q47's
    * application (keep canonicals, count absorbed dups) over q135's
    * incrementally-merged labels instead of an in-job recompute: the
    * path a daily ingest actually takes, and the point of persisting
    * labels at all. Labels are bit-identical to the full recompute
    * (q135's contract), so the oracle is q47's SQL unchanged.
    */
  private def artifactDedupApply(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    ClusterOps.dedupedCorpus(docs,
      Some(ClusterOps.loadClusterLabels(s, q135Scope(s, dir), "labels", docs)))
  }

  /** q84: the write-once/join-many bucketed layout — orders and
    * customer are materialized as tables bucketed+sorted on custkey
    * ([[graft.io.Layout.writeBucketed]]), so the per-query join runs
    * with NO exchange on either input: the shuffle is paid once at
    * write time, not per query (the one remaining exchange is the
    * final tiny segment aggregate — PlanSpec asserts the count). The
    * merge hint keeps the deliberately-bucketed sort-merge path even
    * at fixture scale where the small side would otherwise broadcast
    * and mask the layout. Tables build once per (process, sf dir) so
    * the bench times the join, not the write.
    */
  private val q84Tables = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = q84Tables.computeIfAbsent(dir, _ => {
      val sfx = (dir.hashCode & 0x7fffffff).toString
      val ot = s"graft_q84_orders_$sfx"
      val ct = s"graft_q84_customer_$sfx"
      graft.io.Layout.writeBucketed(
        t(s, dir, "orders").select("o_custkey", "o_totalprice"), ot, "o_custkey")
      graft.io.Layout.writeBucketed(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"), ct, "c_custkey")
      (ot, ct)
    })
    s.table(ot).join(s.table(ct).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  /** q90: partition-pruned layout — events land partitioned by
    * event_type ([[graft.io.Layout.writePartitioned]], sorted by ts
    * inside each partition for row-group stats), so the 'click'
    * aggregate reads ONLY the click directory: the predicate is
    * satisfied at file-listing time (PartitionFilters, PlanSpec-
    * asserted), not per row. The oracle is the plain filter over the
    * original table — layout invisible to results, like q84.
    */
  private val q90Dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def partitionedScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = cachedDir(q90Dirs, dir, "graft-q90-") { d =>
      graft.io.Layout.writePartitioned(t(s, dir, "events"), d + "/events",
        partitionCols = Seq("event_type"), sortCols = Seq("ts"))
    }
    s.read.parquet(s"$tmp/events")
      .filter(col("event_type") === "click")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
  }

  /** q91: the PQ index as a STORAGE ARTIFACT with the full lifecycle —
    * built from the even half of the corpus, persisted under a scope,
    * the odd half APPENDED with the frozen stored codebooks
    * ([[SimilarityOps.appendToPqIndex]]: O(batch), stored rows
    * untouched), then RELOADED and probed over the full corpus under
    * the same recall gate as the in-memory q80. Mirrors q83 (IVF) and
    * q136 (compound): build, persist, reload, append, re-gate.
    */
  private val q91Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def pqArtifactGate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scope = cachedScope(q91Scopes, s, dir, "graft-q91-") { sc =>
      // even half builds, odd half appends under the FROZEN codebooks
      // (q83's shape for the code table) — the merged reloaded index
      // must still hold the q80 gate over the full corpus
      SimilarityOps.savePqIndex(
        SimilarityOps.buildPqIndex(emb.filter(col("vec_id") % 2 === 0)),
        sc, "pq")
      SimilarityOps.appendToPqIndex(emb.filter(col("vec_id") % 2 === 1),
        sc, "pq")
    }
    val loaded = SimilarityOps.loadPqIndex(s, scope, "pq")
    SimilarityOps.knnRecallGate(
      SimilarityOps.probePq(loaded, emb),
      SimilarityOps.bruteForceKnn(emb), k = 10, minRecall = 0.7)
  }

  /** q88/q89 fixture: a deterministic MERGE scenario over orders.
    * `existing` drops every third key (so the diff shows removals),
    * the update batch modifies every fifth key (price bump, priority
    * flag) and inserts shifted copies of every eleventh key — giving
    * the upsert all three row fates and the snapshot diff all three
    * change classes.
    */
  private def ordersNarrow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")

  private def mergeUpserted(s: SparkSession, dir: String): DataFrame = {
    val narrow = ordersNarrow(s, dir)
    val existing = narrow.filter(col("o_orderkey") % 3 =!= 0)
    val updates = narrow.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("o_orderpriority", lit("UPDATED"))
      .unionByName(narrow.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    MergeOps.upsert(existing, updates, Seq("o_orderkey"))
  }

  /** Flagship query on sf0.001; driver smoke-checks rows>0. Since
    * round 7 the flagship is the TRAINING-READY chain (q143): the
    * q100 corpus composition — dedup graph with passage evidence,
    * quality/repetition/language/decontamination gates, weighted
    * priority selection — carried through leak-free splits and
    * shuffle-sharding to what a data loader consumes.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    ClusterOps.corpusShards(t(spark, dir, "documents"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_unpivot_mean" -> ((s, dir) =>
      MapReduceOps.unpivotGroupedMean(
        sevenIntCols(t(s, dir, "lineitem")),
        Seq("c0", "c1", "c2", "c3", "c4", "c5", "c6"))),
    "q02_filter_project" -> ((s, dir) =>
      Relational.filterProject(t(s, dir, "lineitem"))),
    "q03_group_agg" -> ((s, dir) =>
      Relational.groupAgg(t(s, dir, "lineitem"))),
    "q04_minmax" -> ((s, dir) =>
      Relational.minMax(t(s, dir, "orders"))),
    "q05_star_join" -> ((s, dir) =>
      Relational.starJoin(t(s, dir, "orders"), t(s, dir, "customer"),
        t(s, dir, "nation"), t(s, dir, "region"))),
    "q06_distinct" -> ((s, dir) =>
      Relational.distinctCount(t(s, dir, "orders"))),
    "q07_topk" -> ((s, dir) =>
      Relational.topKCustomers(t(s, dir, "orders"), t(s, dir, "customer"))),
    "q08_window" -> ((s, dir) =>
      Relational.customerOrderWindow(t(s, dir, "orders"))),
    "q09_pipe" -> pipeQuery _,
    "q10_event_window" -> ((s, dir) =>
      EventsStreaming.hourlyByType(t(s, dir, "events"))),
    "q11_termfreq" -> ((s, dir) =>
      TextOps.termFrequency(t(s, dir, "documents"))),
    "q12_dedup_exact" -> ((s, dir) =>
      DedupOps.exactDedup(t(s, dir, "documents"))),
    "q13_minhash_lsh" -> ((s, dir) =>
      DedupOps.minhashLshPairs(t(s, dir, "documents"))),
    "q14_simhash" -> ((s, dir) =>
      DedupOps.simhashSignatures(t(s, dir, "documents"))),
    "q15_jaccard" -> ((s, dir) =>
      DedupOps.jaccardPairs(t(s, dir, "documents"))),
    "q16_knn" -> ((s, dir) =>
      SimilarityOps.bruteForceKnn(t(s, dir, "embeddings"))),
    "q17_embed_pairs" -> ((s, dir) =>
      SimilarityOps.closestPairs(t(s, dir, "embeddings"))),
    "q18_langid" -> ((s, dir) =>
      TextOps.langId(t(s, dir, "documents"))),
    "q19_quality" -> ((s, dir) =>
      TextOps.qualityScore(t(s, dir, "documents"))),
    "q20_tokens" -> ((s, dir) =>
      TextOps.tokenCounts(t(s, dir, "documents"))),
    "q21_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(t(s, dir, "documents"))),
    "q22_json" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
        .select(col("event_type"), col("n"), col("sum_k"),
          (col("sum_k").cast("double") / col("n")).as("avg_k"))),
    // header-only media inventory (real imageio metadata parse, no
    // raster decode) — the routing pass ahead of q43's full decode
    "q23_multimodal" -> ((s, dir) =>
      MultimodalOps.mediaInventory(mediaTable(s, dir, "png"))),
    "q24_typed_mapreduce" -> ((s, dir) =>
      MapReduceOps.unpivotGroupedMeanTyped(s,
        sevenIntCols(t(s, dir, "lineitem")),
        Seq("c0", "c1", "c2", "c3", "c4", "c5", "c6"))),
    "q25_stream_window" -> ((s, dir) =>
      EventsStreaming.hourlyByTypeStreaming(s, dir)),
    "q26_approx_distinct" -> ((s, dir) =>
      Relational.approxDistinctGate(t(s, dir, "orders"))),
    "q27_simhash_pairs" -> ((s, dir) =>
      DedupOps.simhashPairs(t(s, dir, "documents"))),
    "q28_knn_lsh" -> ((s, dir) =>
      SimilarityOps.lshKnnRecallGate(t(s, dir, "embeddings"))),
    "q29_rollup" -> ((s, dir) =>
      Relational.rollupAgg(t(s, dir, "lineitem"))),
    "q30_setops" -> ((s, dir) =>
      Relational.customerSetOps(t(s, dir, "orders"))),
    "q31_sql_subquery" -> ((s, dir) =>
      Relational.sqlMaxOrderPerCustomer(t(s, dir, "orders"))),
    "q32_sessionize" -> ((s, dir) =>
      EventsStreaming.sessionize(t(s, dir, "events"))),
    "q33_udaf_mean" -> ((s, dir) =>
      Aggregators.unpivotGroupedMeanUdaf(s,
        sevenIntCols(t(s, dir, "lineitem")),
        Seq("c0", "c1", "c2", "c3", "c4", "c5", "c6"))),
    "q34_knn_ivf" -> ((s, dir) =>
      SimilarityOps.ivfKnnRecallGate(t(s, dir, "embeddings"))),
    // the persisted/reloaded IVF artifact, probed with static partition
    // pruning, held to the same recall contract as the in-memory q34
    "q78_ivf_artifact" -> ivfArtifactGate _,
    "q83_ivf_append" -> ivfAppendGate _,
    // compound IVF-PQ artifact: save → frozen append → reloaded probe
    "q136_ivfpq_artifact" -> ivfPqArtifactGate _,
    // bucketed layout: the join's shuffle was paid once at write time
    "q84_bucketed_join" -> bucketedJoin _,
    // winnowed passage-level duplication candidates (MOSS fingerprints)
    "q85_winnow_pairs" -> ((s, dir) =>
      DedupOps.winnowedPassagePairs(t(s, dir, "documents"))),
    // product quantization (m×1-byte codes): ADC probe over the
    // compressed corpus, recall-gated like q28/q34
    "q80_knn_pq" -> ((s, dir) =>
      SimilarityOps.pqKnnRecallGate(t(s, dir, "embeddings"))),
    // IVF-PQ: cells prune, codes stand in for vectors — the compound
    // approximation under one joint recall gate
    "q125_ivfpq" -> ((s, dir) =>
      SimilarityOps.ivfPqKnnRecallGate(t(s, dir, "embeddings"))),
    "q35_pivot" -> ((s, dir) =>
      Relational.pivotQuantities(t(s, dir, "lineitem"))),
    "q36_sliding_window" -> ((s, dir) =>
      EventsStreaming.slidingByType(t(s, dir, "events"))),
    "q37_percentiles" -> ((s, dir) =>
      Relational.percentiles(t(s, dir, "lineitem"))),
    "q38_rolling_fp" -> ((s, dir) =>
      TextOps.rollingFingerprint(t(s, dir, "documents"))),
    "q39_cube" -> ((s, dir) =>
      Relational.cubeAgg(t(s, dir, "lineitem"))),
    "q40_semi_anti" -> ((s, dir) =>
      Relational.customerOrderExistence(t(s, dir, "customer"), t(s, dir, "orders"))),
    "q41_dedup_clusters" -> ((s, dir) =>
      ClusterOps.nearDupClusters(t(s, dir, "documents"))),
    // incremental label maintenance held to q41's full-recompute oracle
    "q135_incr_clusters" -> (incrClusterLabels _),
    // the maintained band artifact's pairs held to q13's oracle
    "q137_band_artifact" -> (bandArtifactPairs _),
    // streamed per-batch label maintenance vs the full recompute
    "q138_stream_clusters" -> (streamClusterLabels _),
    // partition-preserving compaction must be invisible to results
    "q139_compact_artifact" -> (compactedBandPairs _),
    "q43_image_decode" -> ((s, dir) =>
      MultimodalOps.imageStats(mediaTable(s, dir, "png"))),
    "q44_percentile_gate" -> ((s, dir) =>
      Relational.approxPercentileGate(t(s, dir, "lineitem"))),
    "q45_asof_join" -> ((s, dir) =>
      Relational.eventOrderAsof(t(s, dir, "events"), t(s, dir, "orders"))),
    "q46_range_join" -> ((s, dir) =>
      Relational.eventRangeCount(t(s, dir, "events"))),
    // the NATIVE as-of operator (custom plan + strategy + merge exec)
    // held to the same DuckDB ASOF oracle as the composed q45
    "q64_asof_native" -> ((s, dir) =>
      Relational.eventOrderAsofNative(t(s, dir, "events"), t(s, dir, "orders"))),
    // direction/tolerance generality of the native operator: forward
    // with a 30-day bound, and nearest with backward tie-break
    "q79_asof_tolerance" -> ((s, dir) =>
      Relational.eventOrderAsofForwardTol(t(s, dir, "events"), t(s, dir, "orders"))),
    "q81_asof_nearest" -> ((s, dir) =>
      Relational.eventOrderAsofNearest(t(s, dir, "events"), t(s, dir, "orders"))),
    "q47_dedup_apply" -> ((s, dir) =>
      ClusterOps.dedupedCorpus(t(s, dir, "documents"))),
    // the same application read from the STORED q135 labels
    "q142_artifact_dedup_apply" -> (artifactDedupApply _),
    "q48_jsonl_roundtrip" -> jsonlRoundTrip _,
    // corrupt lines are data: quarantined + counted, never dropped
    "q141_corrupt_jsonl" -> (corruptJsonlAudit _),
    "q42_edit_dist" -> ((s, dir) =>
      TextOps.neighborEditDistance(t(s, dir, "documents"))),
    "q49_image_features" -> ((s, dir) =>
      MultimodalOps.featureExtract(mediaTable(s, dir, "png")).toDF()
        .select(col("doc_id"), posexplode(col("features")).as(Seq("bin", "f")))
        .select(col("doc_id"), col("bin").cast("int").as("bin"),
          col("f").cast("bigint").as("cnt"))),
    "q50_image_knn" -> ((s, dir) =>
      SimilarityOps.bruteForceKnn(
        MultimodalOps.featureExtract(mediaTable(s, dir, "png")).toDF()
          .select(col("doc_id").as("vec_id"), col("features").as("embedding")))),
    "q51_image_resize" -> ((s, dir) =>
      MultimodalOps.resizeRoundTripFrom(mediaTable(s, dir, "png"))),
    // deterministic pre-training shuffle: every doc gets a replayable
    // (shard, pos) address
    "q140_shuffle_shards" -> ((s, dir) =>
      SampleOps.shuffleShards(t(s, dir, "documents"), "doc_id", 16)),
    "q52_sample" -> ((s, dir) =>
      SampleOps.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.9)
        .select("doc_id", "lang", "source")),
    "q53_tfidf" -> ((s, dir) =>
      TextOps.tfIdf(t(s, dir, "documents"))),
    "q54_stream_join" -> ((s, dir) =>
      EventsStreaming.viewClickJoinStreaming(s, dir)),
    "q55_frame_sample" -> ((s, dir) =>
      MultimodalOps.frameSampleImages(mediaTable(s, dir, "gif"))),
    "q56_ngrams" -> ((s, dir) =>
      TextOps.nGramCounts(t(s, dir, "documents"))),
    "q57_training_corpus" -> ((s, dir) =>
      ClusterOps.trainingCorpus(t(s, dir, "documents"))),
    "q62_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(t(s, dir, "documents"))),
    "q67_topk_gate" -> ((s, dir) =>
      TextOps.topTokensGate(t(s, dir, "documents"))),
    "q63_redact_pii" -> ((s, dir) =>
      TextOps.redactPii(TextOps.withPlantedPii(t(s, dir, "documents")))),
    // incremental-ingest forms: the fixture is split deterministically
    // into an "existing corpus" (even doc_id) and a "new batch" (odd)
    "q59_incr_dedup" -> ((s, dir) =>
      DedupOps.incrementalExactDedup(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0))),
    "q60_incr_neardup" -> ((s, dir) =>
      DedupOps.incrementalNearDupCandidates(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0))),
    // Bloom-accelerated path MUST equal the exact q59 result — same oracle
    "q61_incr_dedup_bloom" -> ((s, dir) =>
      DedupOps.incrementalExactDedupBloom(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0))),
    // embedding-cosine near-dup: the threshold pair surface and the
    // applied dedup (pairs → connected components → kept canonicals)
    "q65_embed_neardup" -> ((s, dir) =>
      SimilarityOps.embeddingNearDupPairs(t(s, dir, "embeddings"))),
    "q66_semantic_dedup" -> ((s, dir) =>
      SimilarityOps.semanticDedupApply(t(s, dir, "embeddings"))),
    // benchmark contamination: the held-out "benchmark" is the
    // deterministic doc_id % 10 = 7 slice; the corpus is the rest
    "q68_contamination" -> ((s, dir) =>
      TextOps.benchmarkContamination(
        t(s, dir, "documents").filter(col("doc_id") % 10 =!= 7),
        t(s, dir, "documents").filter(col("doc_id") % 10 === 7))),
    "q69_quantize_int8" -> ((s, dir) =>
      SimilarityOps.quantizeInt8Summary(t(s, dir, "embeddings"))),
    "q70_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(t(s, dir, "documents"))),
    "q71_audio_decode" -> ((s, dir) =>
      MultimodalOps.audioStats(mediaTable(s, dir, "wav"))),
    // skew mitigation held to the UN-salted semantics: the oracle is
    // the plain aggregation/join, so the salting must be invisible in
    // the result (l_quantity is integer-valued, so double sums are
    // order-exact)
    "q72_salted_sum" -> ((s, dir) =>
      Skew.saltedSum(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity")),
    "q73_salted_join" -> ((s, dir) =>
      Skew.saltedJoin(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey").as("key")),
        t(s, dir, "supplier").select(col("s_suppkey").as("key"), col("s_name")),
        "key")),
    // stream-static enrichment (stateless), the CSV source-matrix
    // round trip, mixing, and chunking
    "q74_stream_enrich" -> ((s, dir) =>
      EventsStreaming.enrichEventsStreaming(s, dir)),
    "q75_csv_roundtrip" -> csvRoundTrip _,
    "q86_orc_roundtrip" -> orcRoundTrip _,
    // within-doc repeated-line removal (boilerplate stripping)
    "q87_strip_lines" -> ((s, dir) =>
      TextOps.stripRepeatedLines(t(s, dir, "documents"))),
    // keyed MERGE (latest-wins upsert) as a plan-level rewrite
    "q88_upsert" -> mergeUpserted _,
    // snapshot diff: added/removed/changed between table versions
    "q89_snapshot_diff" -> ((s, dir) =>
      MergeOps.snapshotDiff(ordersNarrow(s, dir), mergeUpserted(s, dir),
        Seq("o_orderkey"))),
    // partition-pruned scan: predicate satisfied at file-listing time
    "q90_partitioned_scan" -> partitionedScan _,
    // the PQ index persisted/reloaded as a storage artifact
    "q91_pq_artifact" -> pqArtifactGate _,
    // ordered funnel progression (chained min-timestamp rewrite)
    "q92_funnel" -> ((s, dir) =>
      EventsStreaming.funnelStages(t(s, dir, "events"))),
    // cohort retention: distinct users active N weeks after first seen
    "q93_retention" -> ((s, dir) =>
      EventsStreaming.weeklyRetention(t(s, dir, "events"))),
    // weighted priority sampling: k smallest u/w priorities
    "q94_priority_sample" -> ((s, dir) =>
      SampleOps.prioritySample(t(s, dir, "documents"), "doc_id", "n_chars",
          k = 100)
        .select("doc_id", "n_chars", "priority")),
    // behavioral path mining: top time-ordered event-type trigrams
    "q95_event_paths" -> ((s, dir) =>
      EventsStreaming.topEventPaths(t(s, dir, "events"))),
    // one-pass fixed-width histogram (20 × 25k bins over totalprice)
    "q96_histogram" -> ((s, dir) =>
      Relational.histogram(t(s, dir, "orders"), "o_totalprice",
        width = 25000.0, nBins = 20)),
    // bigram collocations by exact-integer lift
    "q97_collocations" -> ((s, dir) =>
      TextOps.collocations(t(s, dir, "documents"))),
    // containment (overlap-coefficient) dedup: catches a doc embedded
    // in a longer one, which Jaccard structurally misses
    "q98_containment" -> ((s, dir) =>
      DedupOps.overlapPairs(t(s, dir, "documents"))),
    // the funnel as a stateful stream, held to batch q92's oracle
    "q99_funnel_stream" -> ((s, dir) =>
      EventsStreaming.funnelStagesStreaming(s, dir,
        queryName = "graft_q99_funnel")),
    // the flagship composition v2: passage-evidence dedup graph,
    // line-boilerplate gate, weighted priority selection
    "q100_training_corpus_v2" -> ((s, dir) =>
      ClusterOps.trainingCorpusV2(t(s, dir, "documents"))),
    // per-domain document budget: at most 10 docs per source by
    // deterministic hash priority (the anti-monoculture cap)
    "q101_domain_cap" -> ((s, dir) =>
      SampleOps.domainCap(t(s, dir, "documents"), "doc_id", "source",
          cap = 10, salt = "cap")
        .select("doc_id", "source", "priority")),
    // vocabulary fitting: frequency-rank token ids + coverage curve
    "q102_vocab" -> ((s, dir) =>
      TextOps.vocabulary(t(s, dir, "documents"))),
    // STREAMING CDC apply: the change feed materialized latest-wins,
    // held to the batch MERGE oracle (q88's SQL verbatim)
    "q103_cdc_stream" -> ((s, dir) =>
      EventsStreaming.cdcApplyStreaming(s, dir,
        queryName = "graft_q103_cdc")),
    // best-of-cluster canonicals: keep the highest-QUALITY member of
    // each dup cluster (argmax by struct max, one aggregation)
    "q104_dedup_best" -> ((s, dir) =>
      ClusterOps.bestOfClusterCorpus(t(s, dir, "documents"))),
    // the daily-ingest composition: exact + near dedup against the
    // standing corpus, quality/lang gates, per-source intake budget
    "q105_incremental_ingest" -> ((s, dir) =>
      ClusterOps.incrementalIngest(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0))),
    // coordination-level keyword retrieval: integer-exact ranking
    "q106_keyword_search" -> ((s, dir) =>
      TextOps.keywordSearch(t(s, dir, "documents"), keywordQueries)),
    // per-doc fraction of 5-grams unseen in the standing corpus
    "q107_ngram_novelty" -> ((s, dir) =>
      TextOps.ngramNovelty(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0))),
    // cross-source duplication matrix over the near-dup clusters
    "q108_source_overlap" -> ((s, dir) =>
      ClusterOps.sourceOverlap(t(s, dir, "documents"))),
    // dedup health report: clusters-by-size histogram
    "q109_cluster_hist" -> ((s, dir) =>
      ClusterOps.clusterSizeHistogram(t(s, dir, "documents"))),
    // train/val/test assigned at dedup-CLUSTER granularity: near-dups
    // can never straddle a split boundary
    "q110_split_leakfree" -> ((s, dir) =>
      ClusterOps.leakageFreeSplit(t(s, dir, "documents"))),
    // persisted per-source HLL sketches merged with an O(batch) ingest
    // sketch, gated against the exact distinct over the union
    "q111_sketch_artifact" -> sketchArtifactGate _,
    // bit-interleaved z-order key over min-max-scaled (partkey, suppkey)
    "q112_zorder" -> ((s, dir) =>
      Layout.zorderKey(t(s, dir, "lineitem"), "l_partkey", "l_suppkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("__z").as("zval"))),
    // per-label class centroids in exact fixed-point: long sums are
    // order-independent, so the mean is bit-stable across engines
    "q113_label_centroids" -> ((s, dir) =>
      SimilarityOps.labelCentroids(t(s, dir, "embeddings"))),
    // one exact Lloyd iteration: hash-ranked seeds, integer fixed-point
    // argmin assignment, fixed-point centroid update — all bit-exact
    "q114_kmeans_step" -> ((s, dir) =>
      SimilarityOps.kmeansStep(t(s, dir, "embeddings"))),
    // linear quality model in the logit domain — per-row inference as
    // a codegen'd expression, keep decision on the rounded score
    "q115_model_gate" -> ((s, dir) =>
      TextOps.modelQualityGate(t(s, dir, "documents"))),
    // dense kNN + lexical-overlap lists fused by reciprocal-rank
    // fusion — rank-space fusion, both lists bounded before the join
    "q116_hybrid_search" -> ((s, dir) =>
      SimilarityOps.hybridSearch(
        t(s, dir, "documents"), t(s, dir, "embeddings"))),
    // iterated exact k-means: 3 Lloyd rounds, centroids re-quantized
    // as next-round seeds — the full trajectory is bit-reproducible
    "q117_kmeans" -> ((s, dir) =>
      SimilarityOps.kmeans(t(s, dir, "embeddings"))),
    // integer PageRank over the nation trade graph: fact-table joins
    // reduce to a bounded edge set, then 3 exact power iterations
    "q118_pagerank" -> ((s, dir) =>
      GraphOps.nationTradeRank(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "supplier"), t(s, dir, "nation"))),
    // embedding-space data cleaning: the 5 vectors farthest from their
    // own label centroid, integer-exact end to end
    "q119_centroid_outliers" -> ((s, dir) =>
      SimilarityOps.centroidOutliers(t(s, dir, "embeddings"))),
    // the inverted index persisted as a bucket-partitioned artifact,
    // reloaded and probed with partition pruning; q106's oracle
    "q120_postings_artifact" -> postingsArtifactSearch _,
    // two producer generations merged into the union schema: v1 shards
    // null-fill the column they never had
    "q121_schema_evolution" -> mergedSchemaRead _,
    // the postings artifact after an O(batch) append: probe results
    // must equal q106 over the full corpus
    "q128_postings_append" -> postingsAppendSearch _,
    // persisted centroid sums + batch sums merged by long addition —
    // bit-identical to the full recompute (q113's own oracle)
    "q129_centroid_incremental" -> centroidSumsIncremental _,
    // exact per-lang P1/P99 winsorization of document length via the
    // value histogram — no row sort, thresholds broadcast back
    "q123_winsorize" -> ((s, dir) =>
      SampleOps.winsorize(t(s, dir, "documents"), "n_chars", "lang")),
    // q102's vocabulary applied: corpus encoded against the trimmed
    // vocab, per-doc OOV and id-sum digest pin every assignment
    "q124_vocab_encode" -> ((s, dir) =>
      TextOps.encodeWithVocabulary(t(s, dir, "documents"))),
    // the q126 audit run ON ARRIVAL: streaming conditional counters,
    // final emission held to the batch SQL over the same rows
    "q127_audit_stream" -> ((s, dir) =>
      EventsStreaming.constraintAuditStreaming(s, dir,
        queryName = "graft_q127_audit")),
    // the pre-promotion contract audit: all row checks in ONE scan,
    // plus key uniqueness and lineitem→orders referential integrity
    "q126_constraints" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val ord = t(s, dir, "orders")
      Constraints.audit(li, Seq(
          "l_quantity_range" -> !col("l_quantity").between(1, 50),
          "l_discount_range" -> !col("l_discount").between(0, 1),
          "l_shipdate_notnull" -> col("l_shipdate").isNull))
        .unionByName(Constraints.uniqueness(ord, "o_orderkey_unique",
          Seq("o_orderkey")))
        .unionByName(Constraints.referential(li, "l_orderkey",
          ord, "o_orderkey", "l_orderkey_fk"))
    }),
    // fact rows Bloom-pruned before the shuffle; the oracle is the
    // PLAIN join — the sketch must be semantics-invariant
    "q122_bloom_join" -> ((s, dir) =>
      Skew.bloomPrunedJoin(
          t(s, dir, "lineitem"),
          t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))),
    "q76_temperature_sample" -> ((s, dir) =>
      SampleOps.temperatureSample(t(s, dir, "documents"), "doc_id", "source",
          alpha = 0.7, salt = "mix")
        .select("doc_id", "source", "lang")),
    "q77_chunk_docs" -> ((s, dir) =>
      TextOps.chunkDocuments(t(s, dir, "documents"))),
    // the STREAMING near-dup candidate generator held to batch q60's
    // oracle: per-row banding on the stream, stream-static band join,
    // stateful pair dedup — the identical pair set must come out
    "q82_stream_neardup" -> ((s, dir) =>
      EventsStreaming.streamingNearDupCandidates(s, dir,
        queryName = "graft_q82_neardup")),
    // the stateful-streaming sessionizer held to the BATCH oracle:
    // session_id re-derived by start order, cents scaled back — the
    // engine must produce the identical session set q32 does
    "q58_sessionize_stream" -> ((s, dir) =>
      EventsStreaming.sessionizeStreaming(s, dir, queryName = "graft_q58_sessions")
        .select(col("user_id"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(col("session_start_us").asc))
            .cast("int").as("session_id"),
          date_format(expr("timestamp_micros(session_start_us)"),
            "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"),
          (col("sum_value_cents").cast("double") / 100.0).as("sum_value"))),
    // calendar gap-fill + forward fill per user; days surfaced as
    // epoch-day longs so the gate compares integer-exact
    "q130_gapfill" -> ((s, dir) =>
      TimeSeriesOps.gapFillDaily(t(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id")
        .select(col("user_id"),
          datediff(col("day"), to_date(lit("1970-01-01")))
            .cast("long").as("day_no"),
          col("n_events"), col("cum_events"), col("last_type"))),
    // SCD2 history of order status per customer; validity bounds as
    // epoch µs (null valid_to = current)
    "q131_scd2" -> ((s, dir) =>
      MergeOps.scd2(t(s, dir, "orders"), "o_custkey", "o_orderstatus",
          "o_orderdate", "o_orderkey")
        .select(col("o_custkey"), col("o_orderstatus"),
          unix_micros(col("valid_from").cast("timestamp_ltz"))
            .as("valid_from_us"),
          unix_micros(col("valid_to").cast("timestamp_ltz"))
            .as("valid_to_us"),
          col("is_current"))),
    // one-scan column profile of orders (long/string columns — their
    // string rendering is engine-identical)
    "q132_profile" -> ((s, dir) =>
      Constraints.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),
    // join-view maintenance: stored view + Δ(L⋈R) must equal the full
    // join of the grown inputs (the oracle is the PLAIN join — the
    // incremental algebra has to be invisible in the result)
    "q133_delta_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      val oldL = li.filter(col("l_linenumber") <= 4)
      val dL = li.filter(col("l_linenumber") > 4)
      val oldR = ord.filter(col("o_orderkey") % 3 =!= 0)
      val dR = ord.filter(col("o_orderkey") % 3 === 0)
      MergeOps.joinViewDelta(oldL, dL, oldR, dR, "l_orderkey", "o_orderkey")
        .unionByName( // the stored view, built before the batches landed
          oldL.join(oldR, col("l_orderkey") === col("o_orderkey")))
        .select("l_orderkey", "l_linenumber", "l_returnflag",
          "o_custkey", "o_orderpriority")
    }),
    // order-independent replication digest over engine-portable
    // (integer/string) columns
    "q134_digest" -> ((s, dir) =>
      Constraints.contentDigest(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),
    // the flagship carried to TRAINING-READY: q100's corpus assigned
    // leak-free splits (q110) and the train split dealt into
    // shuffle-shards (q140) — "corpus selected" → "corpus consumable"
    "q143_corpus_shards" -> ((s, dir) =>
      ClusterOps.corpusShards(t(s, dir, "documents"))),
    // temperature-flattened domain mixture: sqrt-weighted integer
    // quotas against a document budget, selected by hash priority
    "q144_mixture_sample" -> ((s, dir) =>
      SampleOps.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
        budget = 200)),
    // the same mixture contracted in COST units (chars; tokens in
    // production): greedy per-domain fill in hash-priority order
    "q145_char_budget_mix" -> ((s, dir) =>
      SampleOps.costBudgetMixture(t(s, dir, "documents"), "doc_id", "source",
        "n_chars", budget = 100000)),
    // the q143 addresses materialized (split, shard)-partitioned and
    // reloaded — layout-not-semantics, empty-set gate
    "q146_shard_artifact" -> (shardArtifactGate _),
    // the 100 TB-shaped audit of the same artifact: per-(split, shard)
    // content digests artifact-vs-recompute — O(partitions) output, no
    // wide exchange; empty-set gate
    "q147_shard_digest_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scope = cachedScope(q146Scopes, s, dir, "graft-q146-") { sc =>
        ClusterOps.saveCorpusShards(docs, sc, "shards")
      }
      ClusterOps.corpusShardDigestAudit(s, scope, "shards", docs)
    }),
    // BPE subword tokenization, FIT: the learned merge table on the
    // planted closed-form corpus — rank, pair, and frequency all
    // oracle-checked (the fit machinery itself is fully general)
    "q148_bpe_fit" -> ((s, dir) =>
      BpeOps.plantedFit(t(s, dir, "documents"))),
    // BPE ENCODE under the q148 merges: per-doc token count + id-sum
    // digest pins every subword assignment (the q124 convention)
    "q149_bpe_encode" -> ((s, dir) =>
      BpeOps.plantedEncode(t(s, dir, "documents"))),
    // q70's packing RE-BASED on subword token counts: the q150
    // composition a training pipeline actually runs (pack in the unit
    // the model consumes); planted counts keep it oracle-checked
    "q150_bpe_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = BpeOps.plantedEncode(docs)
        .select(col("doc_id"), col("n_tokens").as("n_tok"))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_tok")
      TextOps.packSequencesByCount(counts, budget = 16)
    }),
    // q145's cost-budget mixture RE-BASED on subword token counts —
    // the budget contracted in the unit that matters ("N tokens of
    // this mix"); planted counts keep the greedy fill oracle-exact
    "q151_token_budget_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val costs = BpeOps.plantedEncode(docs)
        .select(col("doc_id"), col("n_tokens").as("n_tok"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "n_tok")
      SampleOps.costBudgetMixture(costs, "doc_id", "source", "n_tok",
        budget = 1000)
    }),
    // q145's pre-thinning escape hatch as code: hash-thin below the
    // admission window, runtime-audited exact — same oracle as q145.
    // thinRate must clear every domain's cutoff priority at the GATE
    // scales: the fixture's small SFs fill ~2/3 of each 25-doc domain
    // (measured worst cutoff 0.858 at sf0.01), so 0.9 here; at sf0.1
    // the worst cutoff is 0.13 — at scale the thin saves ~87% of the
    // window exchange, which is the regime the operator exists for
    "q152_cost_budget_thinned" -> ((s, dir) =>
      SampleOps.costBudgetMixtureThinned(t(s, dir, "documents"), "doc_id",
        "source", "n_chars", budget = 100000, thinRate = 0.9)),
    // the persisted TOKENIZER artifact: merges fitted once, reloaded
    // from storage, and held to q148's closed-form merge-table oracle
    // — the fit→store→load lifecycle cannot distort the model
    "q153_bpe_artifact" -> ((s, dir) =>
      BpeOps.loadBpeMerges(s, q153Scope(s, dir), "bpe")),
    // ...and ENCODING against the stored tokenizer must be
    // bit-identical to encoding under a fresh fit with the same
    // dictionary alphabet: the artifact pins the full id space
    // (merges + base alphabet), not just the merge rules
    "q154_bpe_artifact_encode" -> ((s, dir) => {
      val planted = BpeOps.plantedCorpus(t(s, dir, "documents"))
      val fromArtifact =
        BpeOps.encodeWithArtifact(planted, q153Scope(s, dir), "bpe")
      // ONE dictionary pass feeds both the alphabet and the merges —
      // calling fitBpe separately would re-run the identical corpus
      // aggregation a second time
      val dict = BpeOps.fitDictionary(planted, 1 << 16, "text")
      val alphabet = dict.flatMap(_._1.map(_.toString)).distinct.sorted
      val s2 = s; import s2.implicits._
      val merges = BpeOps.fitFromCounts(dict, nMerges = 12)
        .toDF("merge_rank", "lhs", "rhs", "freq")
      val direct = BpeOps.encodeStats(planted, merges,
        alphabetOpt = Some(alphabet))
      fromArtifact.exceptAll(direct)
        .select(lit("artifact_not_direct").as("violation"), col("*"))
        .unionByName(direct.exceptAll(fromArtifact)
          .select(lit("direct_not_artifact").as("violation"), col("*")))
    }),
    // span-level exact dedup: fixed 20-token windows, global
    // first-occurrence keep, per-doc survivors pinned by a
    // digest-of-digests — no text in either exchange
    "q155_span_dedup" -> ((s, dir) =>
      DedupOps.spanDedup(t(s, dir, "documents"), span = 20)),
    // bigram-LM statistical quality score (the CCNet-gate shape):
    // broadcast pruned model, map-side scoring, fixed-point exact sums
    "q156_bigram_lm" -> ((s, dir) =>
      TextOps.bigramLmScore(t(s, dir, "documents"))),
    // tokenizer fertility/compression per source domain — the audit a
    // pipeline runs before committing a tokenizer to the full encode;
    // planted corpus keeps every sum and fixed-point ratio closed-form
    "q157_bpe_fertility" -> ((s, dir) => {
      // planted text is a pure doc_id expression, so `source` rides the
      // same projection — no join anywhere in the profile plan
      val planted = BpeOps.plantedCorpus(t(s, dir, "documents"),
        keep = Seq("source"))
      BpeOps.fertilityProfile(planted, BpeOps.fitBpe(planted, nMerges = 12))
    }),
    // the stored tokenizer driving a STREAM: stateless broadcast-model
    // encode under readStream, same id space as the batch encode —
    // held to q149's closed-form oracle
    "q158_stream_bpe_encode" -> ((s, dir) =>
      graft.streaming.EventsStreaming.streamingBpeEncode(
        s, dir, q153Scope(s, dir), "bpe")),
    // PRETOKENIZED fit through the artifact: punctuation inside the
    // whitespace token provably never fuses into a merge — the stored
    // merge table equals q148's closed form exactly (the "." unit is
    // pair-free)
    "q159_bpe_pretok_fit" -> ((s, dir) =>
      BpeOps.loadBpeMerges(s, q159Scope(s, dir), "bpe")),
    // ...and the pretokenized encode under the stored artifact (the
    // pretok flag rides the model's metadata): one "." token (id 0)
    // per repetition beside the q149 word tokens, ids shifted by the
    // '.'-first alphabet — closed form throughout
    "q160_bpe_pretok_encode" -> ((s, dir) =>
      BpeOps.encodeWithArtifact(
        BpeOps.plantedPunctCorpus(t(s, dir, "documents")),
        q159Scope(s, dir), "bpe")),
    // the corpus DATASHEET: per (split, source, lang) doc counts and
    // token sums over the training-ready shards — what a run reports
    // as its data mix
    "q161_corpus_manifest" -> ((s, dir) =>
      ClusterOps.corpusManifest(
        ClusterOps.corpusShards(t(s, dir, "documents")))),
    // DSIR-shaped importance weights: target-domain bigram model vs
    // the corpus model, snapped-probability difference summed exactly
    "q162_dsir_weights" -> ((s, dir) =>
      TextOps.dsirWeights(t(s, dir, "documents"), "src0")),
    // flagship v3: the v2 gates + the q156 statistical LM floor
    // (exact BIGINT cross-multiplication), same priority tail
    "q163_training_corpus_v3" -> ((s, dir) =>
      ClusterOps.trainingCorpusV3(t(s, dir, "documents"))),
    // stupid-backoff trigram LM (Brants'07 — the MapReduce-native LM):
    // three broadcast count tables, per-transition backoff CASE,
    // exact fixed-point sums + backoff-level diagnostics
    "q164_stupid_backoff" -> ((s, dir) =>
      TextOps.stupidBackoffScore(t(s, dir, "documents"))),
    // the DSIR selection tail: top-k raw-pool docs by q162 weight,
    // bounded-k rank (TakeOrderedAndProject), no global sort
    "q165_dsir_select" -> ((s, dir) =>
      TextOps.dsirSelect(t(s, dir, "documents"), "src0", k = 50)),
    // PII detection over the planted-PII corpus: per-class counts +
    // any-hit flag, one codegen'd projection — zero exchanges
    "q166_pii_detect" -> ((s, dir) =>
      PiiOps.piiDetect(PiiOps.plantedPiiCorpus(t(s, dir, "documents")))),
    // PII redaction audit: placeholder count, residual-PII self-gate
    // (must be 0), md5 pin of the redacted text — still zero exchanges
    "q167_pii_redact" -> ((s, dir) =>
      PiiOps.piiRedact(PiiOps.plantedPiiCorpus(t(s, dir, "documents")))),
    // URL → registrable-domain blocklist verdict: projection + one
    // BROADCAST join against the model-sized blocklist
    "q168_url_blocklist" -> ((s, dir) =>
      PiiOps.urlBlocklistFilter(
        PiiOps.plantedUrlCorpus(t(s, dir, "documents")))),
    // flagship SAFETY tail: v3 selection first, PII scrub second —
    // only the selected topK rows pay the regex; the q167 audit
    // (residual must be 0) rides beside each selected row
    "q169_redacted_corpus" -> ((s, dir) =>
      ClusterOps.redactedCorpus(t(s, dir, "documents"))),
    // LM-floor calibration: the exact gatePct-th percentile of
    // avg_fp via the q123 value-histogram — the q163 scaladoc's
    // "calibrate per corpus" promise as an executed operator
    "q170_lm_floor" -> ((s, dir) =>
      TextOps.lmFloorCalibrate(t(s, dir, "documents"))),
    // scrub-on-ingest: the q167 redaction audit under readStream —
    // stateless projection, no state store, same batch oracle
    "q171_stream_pii_scrub" -> ((s, dir) =>
      EventsStreaming.streamingPiiScrub(s, dir)),
    // HTML main-text extraction (the crawl-ingestion stage before any
    // text analysis): head/script/style removal -> tag strip ->
    // ordered entity decode -> whitespace collapse; one zero-exchange
    // codegen'd projection over the planted deterministic pages
    "q172_html_extract" -> ((s, dir) =>
      HtmlOps.htmlExtract(
        HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")))),
    // outlink extraction (URL-frontier / link-graph feed) + the q168
    // registrable-domain blocklist verdict on every extracted link:
    // projection + posexplode + one BROADCAST join; the planted
    // fetch_host threads through so relative hrefs inherit the page's
    // own host and get a REAL verdict
    "q173_html_outlinks" -> ((s, dir) =>
      HtmlOps.htmlOutlinks(
        HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
        baseHostCol = Some("fetch_host"))),
    // crawl-level URL dedup: canonical key (lowercased host minus
    // www./port, path minus trailing slash; scheme/query/fragment
    // dropped), keep = lowest doc_id — ONE shuffle, on the key
    "q174_url_canonical_dedup" -> ((s, dir) =>
      HtmlOps.urlCanonicalDedup(
        HtmlOps.plantedDirtyUrlCorpus(t(s, dir, "documents")))),
    // the crawl-ingestion flagship: extraction + per-page outlink
    // verdict in ONE zero-exchange projection (blocklist inlined as
    // a literal array into a higher-order filter — no join at all);
    // relative hrefs inherit the planted fetch_host
    "q175_crawl_ingest" -> ((s, dir) =>
      HtmlOps.crawlIngest(
        HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
        baseHostCol = Some("fetch_host"))),
    // extract-on-ingest: q175 under readStream — stateless
    // projection, no state store, same batch oracle (q171 pattern)
    "q176_stream_crawl_ingest" -> ((s, dir) =>
      EventsStreaming.streamingCrawlIngest(s, dir)),
    // the WARC front door: raw archive chunks split into records on
    // the version line, response records kept, headers read, payload
    // framed and Content-Length-verified, then the q172 extraction —
    // one zero-exchange projection completing the crawl story BEFORE
    // HTML extraction
    "q184_warc_ingest" -> ((s, dir) =>
      HtmlOps.warcIngest(HtmlOps.plantedWarcCorpus(t(s, dir, "documents")))),
    // incremental tokenizer refresh: batch counts summed into the
    // artifact's stored count table (the sufficient statistic),
    // re-fit under the FROZEN alphabet and recorded params — the
    // gate holds it equal to a full refit on corpus+batch
    "q183_bpe_refresh" -> (bpeRefreshViolations _),
    // the quality classifier trained IN-ENGINE: exact fixed-point
    // batch-perceptron steps (broadcast 5-weight model, per-row
    // margin map, one bounded 5-long aggregation per round) on
    // labels planted by the q115 teacher — the full trajectory
    // replays on any engine
    "q181_quality_fit" -> ((s, dir) =>
      TextOps.qualityFitTrajectory(t(s, dir, "documents"))),
    // the fit→score→gate loop closed: docs scored through the q115
    // expression shape with the JUST-TRAINED coefficients
    "q182_trained_gate" -> ((s, dir) =>
      TextOps.trainedQualityGate(t(s, dir, "documents"))),
    // the fit EVALUATED (q193): per-round confusion matrix against
    // the planted labels — one scan, 4·iters bounded aggregates, the
    // promote-or-not curve a training pipeline reads
    "q193_fit_eval" -> ((s, dir) =>
      TextOps.qualityFitEval(t(s, dir, "documents"))),
    // host-graph PageRank: the registrable-domain link graph from the
    // planted pages (q173's href→host→domain chain, unattributable
    // ends dropped, DISTINCT to the domains² bound), then q118's
    // all-integer power iteration — the crawl frontier's
    // prioritization signal
    "q180_host_rank" -> ((s, dir) =>
      GraphOps.domainRank(HtmlOps.domainEdges(
        HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))))),
    // the canonical-URL key set as a MAINTAINED artifact: seeded from
    // the first fetch wave, later waves ingested via bucket-pruned
    // anti-join append (O(batch), untouched buckets never rewritten),
    // probed over the full corpus — held to the q174 batch oracle
    "q178_url_key_artifact" -> (urlKeyArtifactVerdicts _),
    // the same maintenance as a STREAM: each micro-batch wave appends
    // its fresh keys before the next wave anti-joins them (q138
    // pattern) — same batch q174 oracle
    "q179_stream_url_keys" -> (streamUrlKeyVerdicts _),
    // the crawl→corpus flagship (v4): canonical-URL keep-set (q174)
    // ∘ page ingestion + outlink verdict (q175) ∘ the v3 gate chain
    // over the EXTRACTED text ∘ the PII scrub + audit tail (q169) —
    // one declarative plan from fetched HTML to training-ready rows,
    // the extracted corpus materialized once for all gate consumers
    "q177_crawl_corpus" -> ((s, dir) =>
      ClusterOps.crawlCorpus(t(s, dir, "documents"))),
    // flagship v5: q177's chain with the quality stage swapped for
    // the IN-ENGINE TRAINED classifier — fit on the raw labeled docs
    // (q181's planted teacher), served as plan literals over the
    // crawl docs' own extracted-text signals; the gate plan is
    // identical to the hand-set variant up to those literals
    "q185_trained_flagship" -> ((s, dir) =>
      ClusterOps.crawlCorpus(t(s, dir, "documents"), trainedGate = true)),
    // the true front door: WARC chunks → framing verdict → payload
    // pages (fetch host from the Target-URI header) → the identical
    // q177 chain; malformed chunks drop at framing, before extraction
    "q186_warc_corpus" -> ((s, dir) =>
      ClusterOps.warcCorpus(t(s, dir, "documents"))),
    // the fetch-ordering decision: outlinks → canonical candidates →
    // anti-join the maintained key set (q178) → domain-rank priority
    // (q180) → politeness cap per domain
    "q187_crawl_frontier" -> (crawlFrontierQuery _),
    // the domain-rank table as a PERSISTED artifact (q188): saved once
    // per crawl epoch (full recompute — vocabulary-sized state, the
    // honest policy for a global fixed point), reloaded gated on the
    // recorded iters/scale meta; the frontier reads THIS per wave
    "q188_rank_artifact" -> (domainRankArtifact _),
    // the conservative canonical key (q189): allowlisted query params
    // survive (sorted) into the key, refining the aggressive grouping
    // — the dedup audit a crawl runs before switching keys
    "q189_param_canonical" -> ((s, dir) => HtmlOps.urlParamDedup(
      HtmlOps.plantedParamUrlCorpus(t(s, dir, "documents")))),
    // robots-exclusion gate (q190): RFC 9309 longest-match over a
    // parsed per-domain rules table — broadcast rule sets, per-row
    // array-pipeline verdict, zero corpus-side shuffles
    "q190_robots_gate" -> ((s, dir) => HtmlOps.robotsGate(
      HtmlOps.htmlOutlinks(
          HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
          baseHostCol = Some("fetch_host"))
        .filter(col("host") =!= "").drop("link_idx"),
      HtmlOps.plantedRobotsRules(s))),
    // the polite frontier (q191): q187's wave with the robots gate
    // thinning candidates before canonicalization — blocklist →
    // robots → unseen → rank priority → per-domain cap
    "q191_polite_frontier" -> (politeFrontierQuery _),
    // the crawl loop under Structured Streaming (q192): per
    // micro-batch, keys append FIRST, then the next wave computes
    // against the updated set — replay-safe on both sides
    "q192_stream_crawl_loop" -> (streamCrawlLoopQuery _),
    // anchor-text mining (q194): the visible text of every link
    // aggregated per canonical target — the weak-label signal; one
    // (canon, term) shuffle with map-side combine
    "q194_anchor_terms" -> ((s, dir) => HtmlOps.anchorTerms(
      HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")))),
    // the crawl funnel (q195): per-domain survival counts through
    // every frontier stage — the "where did domain X drop" rollup
    "q195_crawl_funnel" -> ((s, dir) => HtmlOps.crawlFunnel(
      HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
      frontierScope(s, dir), "urlkeys",
      HtmlOps.plantedRobotsRules(s))),
    // the refetch wave (q196): recrawl scheduling from the fetch log
    // — latest fetch per key decides staleness, oldest-first under
    // the politeness cap; the steady-state twin of q191's discovery
    "q196_refetch_wave" -> ((s, dir) => HtmlOps.refetchWave(
      HtmlOps.plantedFetchLog(t(s, dir, "documents")),
      nowS = 1767225600L + 9L * 86400L, ttlS = 7L * 86400L,
      ranks = epochRanks(s, dir))),
    // sitemap seeding (q197): publisher-declared URLs through the
    // SAME admission pipeline as link candidates — blocklist, robots,
    // anti-join, rank, cap (the shared frontier tail)
    "q197_sitemap_seeds" -> ((s, dir) => HtmlOps.sitemapSeeds(
      HtmlOps.plantedSitemaps(s), frontierScope(s, dir), "urlkeys",
      epochRanks(s, dir), HtmlOps.plantedRobotsRules(s))),
    // wave scheduling (q198): politeness slots become fetch offsets —
    // slot n fires no earlier than (n-1) x crawl_delay, default for
    // domains that publish none; broadcast join, no new shuffle. The
    // delays are PARSED from the raw robots bytes (q199), no longer a
    // planted side table
    "q198_wave_schedule" -> ((s, dir) => HtmlOps.scheduleWave(
      politeFrontierQuery(s, dir),
      HtmlOps.parseCrawlDelays(HtmlOps.plantedRobotsTxt(s)))),
    // robots.txt parse (q199): raw fetched bytes to the rule table
    // every robots consumer joins against — group-scoped to our
    // user-agent, hostile groups excluded, empty rule values dropped
    "q199_robots_parse" -> ((s, dir) =>
      HtmlOps.parseRobotsRules(HtmlOps.plantedRobotsTxt(s))),
    // maintained fetch-log artifact (q200): the raw log absorbed as
    // two O(batch) upserts (seed, then the refetch wave), the due set
    // read from the artifact — q196's semantics with the reduction
    // maintained instead of recomputed
    "q200_fetchlog_artifact" -> (fetchLogWaveQuery _),
    // anchor-boosted frontier (q201): q191's polite wave with the
    // q194 anchor-term signal reordering the politeness slots —
    // boost-term targets outrank reference count within a domain
    "q201_anchor_frontier" -> ((s, dir) => HtmlOps.anchorBoostedFrontier(
      HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
      frontierScope(s, dir), "urlkeys", epochRanks(s, dir),
      HtmlOps.plantedRobotsRules(s))),
    // the loop's refetch side (q202): per streamed wave, the
    // scheduled refetch of the maintained log's stale keys — the
    // crawl steady state (discover the unseen + refresh the seen)
    // emitted from the same artifacts in the same run as q192
    "q202_steady_refetch" -> (steadyRefetchQuery _),
    // the WARC-fed loop (q203): raw archive chunks stream in, frame +
    // HTTP-gate per batch, only VALID fetches enter the key set, and
    // the scheduled wave comes off the gated bodies — archive bytes
    // in, fetch schedules out
    "q203_stream_warc_loop" -> (streamWarcLoopQuery _),
    // artifact compaction (q209): the epoch pass that bounds the
    // maintained log's file count — the refetch wave over a compacted
    // log must equal q200's exactly (the shared q196 oracle)
    "q209_compacted_fetchlog" -> (compactedFetchLogQuery _),
    // the retry-gated frontier (q211): the wave defers canons whose
    // last ATTEMPT is younger than the retry TTL — in flight or
    // failed too recently — instead of hammering them every wave;
    // aged-out attempts compete again on equal terms
    "q211_retry_frontier" -> (retryFrontierQuery _),
    // the gzip-fed loop (q210): the q203 loop ingesting BINARY
    // per-record-gzip chunks — the wire format archives actually land
    // in — inflated in-stream ahead of the identical pipeline; held
    // to q203's oracle verbatim (inflate ∘ frame ≡ frame)
    "q210_stream_gzip_loop" -> (streamGzipLoopQuery _),
    // in-stream robots maintenance (q208): a robots.txt fetch riding
    // wave 0 of the WARC stream flips a domain's policy — wave 1's
    // gate blocks that domain's /p/ links and its schedule uses the
    // NEW Crawl-delay, all from the maintained robots artifact
    "q208_stream_robots_loop" -> (streamRobotsLoopQuery _),
    // cross-wave politeness (q207): two discovery waves on ONE
    // carried dispatch clock — wave 1's offsets start at wave 0's
    // per-domain tail plus the parsed Crawl-delay, never at zero
    "q207_carried_schedule" -> (carriedScheduleQuery _),
    // the gzip front door (q206): per-record gzip members inflated by
    // a mapPartitions seam, then the UNCHANGED q184 chain — held to
    // q184's own oracle (the q61 identical-result pattern: DuckDB
    // cannot gunzip, so the decompressed chain must be bit-identical
    // to the uncompressed one)
    "q206_gzip_warc" -> ((s, dir) => HtmlOps.warcIngest(
      HtmlOps.gunzipWarcChunks(
        HtmlOps.plantedGzipWarcCorpus(t(s, dir, "documents"))))),
    // the redirect-aware frontier (q205): 3xx Location targets join
    // the outlinks as discovery candidates — blocklist/robots-gated,
    // anti-joined, capped on equal terms; the /r/ targets nothing
    // links can only be discovered through this channel
    "q205_redirect_frontier" -> (redirectFrontierQuery _),
    // the fetch funnel (q204): per target domain, chunk survival
    // through framing -> HTTP gate -> wire decode -> page verdict —
    // the archive-side twin of q195's link funnel; one scan, one
    // bounded aggregation
    "q204_fetch_funnel" -> ((s, dir) => HtmlOps.fetchFunnel(
      HtmlOps.plantedWarcCorpus(t(s, dir, "documents")))),
    // content-encoded bodies (q212): gzip/deflate/zstd HTTP bodies
    // inflated per-row (structural CRC/ISIZE — and for zstd the
    // RFC 8878 frame walk of the pure-JVM decoder Spark itself
    // ships — verification) BEFORE the charset seam — held to the
    // uncompressed twin's extraction (the q206 bit-identical
    // pattern); the lying-encoding legs (%17==3 declared gzip,
    // %17==9 declared zstd, both over plain bytes) are body_ok
    // verdicts
    "q212_content_encoding" -> ((s, dir) => HtmlOps.httpFrame(
        HtmlOps.plantedEncodedMessages(t(s, dir, "documents")))
      .select(col("doc_id"), col("http_status"), col("mime"),
        col("content_encoding"), col("body_ok"),
        HtmlOps.titleOf(col("body")).as("title"),
        HtmlOps.extractedText(col("body")).as("text_clean"))),
    // conditional refetch (q213): the refetch wave ships the log's
    // stored ETag (If-None-Match); a 304 refreshes last_fetch_s and
    // the validator via the standard struct-max upsert WITHOUT a
    // content write, a 200 rewrites both — fetch → 304 → staleness
    // clock reset, content hash unchanged, replayed by the oracle
    "q213_conditional_refetch" -> (conditionalRefetchQuery _),
    // the retry gate IN the streaming loop (q214): every dispatched
    // slot stamps the attempt log in-wave; the next wave's frontier
    // defers fresh attempts and re-admits aged-out ones — defer →
    // age-out → re-compete across three streamed waves of the SAME
    // archive slice, on the one carried dispatch clock
    "q214_stream_retry_loop" -> (streamRetryLoopQuery _),
    // sitemap TREE seeding (q215): <sitemapindex> roots recurse one
    // level into GZIPPED members (inflated through the structurally
    // verified gzip door), then the identical admission tail — held
    // to the flat fixture's oracle verbatim (tree ∘ inflate ≡ flat)
    "q215_sitemap_tree" -> ((s, dir) => HtmlOps.sitemapSeedsTree(
      HtmlOps.plantedSitemapTree(s), frontierScope(s, dir), "urlkeys",
      epochRanks(s, dir), HtmlOps.plantedRobotsRules(s))),
    // crawl-trap guards (q216): URL length cap + repeated-path-segment
    // verdict as pure expressions — the admission chain's cheap
    // insurance, wired into frontier candidates on both engines
    "q216_trap_guard" -> ((s, dir) =>
      HtmlOps.plantedTrapUrlCorpus(t(s, dir, "documents"))
        .select(col("doc_id"), col("url"),
          length(col("url")).cast("long").as("n_chars"),
          HtmlOps.urlTrapped(col("url")).as("trapped"))),
    // wire-length cross-check (q217): a declared Content-Length vs
    // the RECEIVED body's length (the content-coded octets RFC 9110
    // §8.6 counts) — the only gate that catches a TRUNCATED IDENTITY
    // body (frames, 200 text/html, decodes: every other gate passes
    // it); ignored under a Transfer-Encoding per RFC 9112 §6.3 (the
    // deliberately-lying chunked leg must NOT fire)
    "q217_body_length_check" -> ((s, dir) => HtmlOps.httpFrame(
        HtmlOps.plantedLengthMessages(t(s, dir, "documents")))
      .select(col("doc_id"), col("http_content_length"),
        col("transfer_encoding"), col("body_ok"), col("body_len_ok"))),
    // WARC revisit records (q218): the archive-side dedup convention
    // — WARC-Type: revisit + WARC-Payload-Digest resolved against the
    // content store's latest version; a CONFIRMED digest resets the
    // staleness clock with zero content writes and surviving
    // validators, an unconfirmable one is a verdict and the key
    // stays due
    "q218_warc_revisit" -> (warcRevisitQuery _),
    // heuristic-freshness refetch (q219, RFC 9111 §4.2.2): TTL per
    // canon = 10% of the age-since-Last-Modified at fetch time,
    // clamped to [1d, 30d]; absent/garbage/future dates take the
    // default — churny pages recrawl first, static ones rest
    "q219_heuristic_refetch" -> ((s, dir) =>
      HtmlOps.heuristicRefetchWave(
        HtmlOps.plantedValidatorLog(s, 1767225600L),
        nowS = 1767225600L + 3L * 86400L,
        defaultTtlS = 7L * 86400L, minTtlS = 86400L,
        maxTtlS = 30L * 86400L, ranks = epochRanks(s, dir))),
    // sitemap discovery via robots (q220): the file-wide `Sitemap:`
    // declarations (parsed from raw bytes, absolute-URL-only) select
    // the tree roots instead of the conventional /sitemap.xml name —
    // the channel real publishers actually use; the walk + admission
    // tail are q215's verbatim
    "q220_sitemap_discovery" -> ((s, dir) => HtmlOps.sitemapSeedsTree(
      HtmlOps.plantedSitemapTree(s), frontierScope(s, dir), "urlkeys",
      epochRanks(s, dir), HtmlOps.plantedRobotsRules(s),
      rootUrls = Some(HtmlOps.parseSitemapDecls(
        HtmlOps.plantedRobotsTxt(s)).select(col("url"))))),
    // redirect chain resolution (q221): every fetched 3xx walked to
    // its FINAL address through bounded waves over the pinned edge
    // table — planted 3- and 7-runs, an A→B→A cycle, and an
    // out-of-corpus 302; loop/too_deep verdicts at the 5-hop cap,
    // oracle-replayed as a recursive CTE with the same precedence
    "q221_redirect_chains" -> ((s, dir) => HtmlOps.resolveRedirectChains(
      HtmlOps.httpFrame(
        HtmlOps.plantedRedirectMessages(t(s, dir, "documents"))))),
    // robots availability semantics (q222): the RFC 9309 §2.3.1
    // algebra — 4xx allow-all, 5xx cached-while-fresh / disallow-all
    // after, 3xx followed through the q221 chain resolver (loops =
    // unavailable), all over the planted per-domain fetch outcomes
    "q222_robots_availability" -> ((s, dir) =>
      HtmlOps.robotsAvailabilityGate(
        HtmlOps.plantedAvailabilityCandidates(s),
        HtmlOps.plantedRobotsFetches(s),
        HtmlOps.plantedRobotsRules(s))),
    // sitemap-lastmod refetch (q223): the publisher's change feed
    // drives the recrawl — declared entries ∩ the maintained fetch
    // log where lastmod is strictly newer than our latest fetch;
    // declared-unchanged keys are SKIPPED regardless of age, the
    // bucket-pruned artifact read per the appendFetchLog discipline
    "q223_sitemap_refetch" -> ((s, dir) => HtmlOps.sitemapRefetchWave(
      HtmlOps.plantedSitemaps(s), s, q200Scope(s, dir), "flog",
      epochRanks(s, dir))),
    // the unified refetch scheduler (q224): sitemap declaration >
    // Last-Modified heuristic > flat TTL, one politeness tail over
    // the merged due set, per-key reason emitted; the declared
    // overlay both schedules and SUPPRESSES against the q219 log
    "q224_unified_refetch" -> ((s, dir) => HtmlOps.unifiedRefetchWave(
      HtmlOps.plantedValidatorLog(s, 1767225600L),
      HtmlOps.plantedRefetchSitemaps(s, 1767225600L),
      nowS = 1767225600L + 3L * 86400L,
      defaultTtlS = 2L * 86400L, minTtlS = 86400L,
      maxTtlS = 30L * 86400L, ranks = epochRanks(s, dir))),
    // feed discovery (q225): RSS/Atom entries as a frontier channel
    // through the standard admission chain, newest-published-first
    // politeness ordering — the freshness channel beside sitemaps'
    // inventory and the link graph
    "q225_feed_seeds" -> ((s, dir) => HtmlOps.feedSeeds(
      HtmlOps.plantedFeeds(s, 1767225600L), frontierScope(s, dir),
      "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsRules(s))),
    // WARC export (q226): the archive SINK, held to the strongest
    // check an exporter has — its own engine re-ingests both arms
    // (plain records + per-record gzip members) and every page must
    // come back verdict-green and byte-identical to the direct
    // extraction
    "q226_warc_export" -> (warcExportQuery _),
    // adaptive refetch (q227): the OBSERVED change signal — the
    // content store's version history per canon sets the TTL at half
    // the mean inter-change interval (integer arithmetic end to
    // end); single-version canons take the default
    "q227_adaptive_refetch" -> ((s, dir) => HtmlOps.adaptiveRefetchWave(
      HtmlOps.plantedVersionHistory(s, 1767225600L),
      nowS = 1767225600L + 3L * 86400L,
      defaultTtlS = 2L * 86400L, minTtlS = 86400L,
      maxTtlS = 30L * 86400L, ranks = epochRanks(s, dir))),
    // rank-proportional crawl budgets (q228): the q191 wave with the
    // flat per-domain cap replaced by clamp((B·pr) div Σpr) slots —
    // the budget-allocation knob; the chosen cap rides each row
    "q228_budgeted_frontier" -> ((s, dir) => HtmlOps.budgetedFrontier(
      HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
      frontierScope(s, dir), "urlkeys", epochRanks(s, dir),
      HtmlOps.plantedRobotsRules(s), totalBudget = 60,
      maxPerDomain = 15,
      budgetRanks = Some(HtmlOps.plantedDomainWeights(s)))),
  )

  private val q192Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q192: the loop driven end-to-end — the key set AND the fetch-log
    * artifact seeded from the first 250 fetches, waves [250, 375) and
    * [375, 500) streamed as two micro-batches (one file each, the
    * q138 one-file-one-batch convention); each batch appends its
    * keys, upserts its fetch times into the log, and writes its next
    * SCHEDULED wave (politeness slots with Crawl-delay offsets) under
    * `waves/wave=<batchId>`. The epoch rank, the robots rules, and
    * the parsed delays are computed once, OUTSIDE the stream (the
    * q188 artifact contract).
    */
  private def streamCrawlLoopQuery(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(q192Scope(s, dir).path("waves"))
      .withColumn("wave", col("wave").cast("long"))

  /** q202: the loop's REFETCH side — the same driven run as q192
    * (shared scope), reading the per-batch refetch schedules: every
    * wave re-schedules the keys whose maintained-log age passed the
    * TTL at that wave's own latest fetch time.
    */
  private def steadyRefetchQuery(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(q192Scope(s, dir).path("refetch-waves"))
      .withColumn("wave", col("wave").cast("long"))

  private def q192Scope(s: SparkSession, dir: String): graft.core.Scope = {
    val docs = t(s, dir, "documents")
    cachedScope(q192Scopes, s, dir, "graft-q192-") { sc =>
      val urls = HtmlOps.plantedDirtyUrlCorpus(docs)
      val pages = HtmlOps.plantedHtmlCorpus(docs)
      HtmlOps.saveUrlKeys(urls.filter(col("doc_id") < 250), sc, "urlkeys")
      val src = pages.join(urls, "doc_id")
        .select(col("doc_id"), col("url"), col("fetch_host"), col("html"),
          (lit(1767225600L) + (col("doc_id") % 97) * 3600L)
            .as("fetched_at_s")) // the q196 planted first-fetch times
      HtmlOps.saveFetchLog(
        src.filter(col("doc_id") < 250).select("url", "fetched_at_s"),
        sc, "fetchlog")
      EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 250 && col("doc_id") < 375),
        sc.path("stream-src"), 0)
      EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 375), sc.path("stream-src"), 1)
      EventsStreaming.streamingCrawlLoop(s, sc.path("stream-src"), sc,
        "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsRules(s),
        HtmlOps.parseCrawlDelays(HtmlOps.plantedRobotsTxt(s)),
        sc.path("waves"), sc.path("ckpt"),
        fetchLogName = Some("fetchlog"),
        refetch = Some((48L * 3600L, sc.path("refetch-waves"))))
    }
  }

  private val q200Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q200: the maintained fetch-log artifact driven batch-wise — the
    * seed wave is the planted FIRST fetches, the refetch rows arrive
    * as a second O(batch) upsert (the cross-batch latest-fetch max is
    * exactly what the artifact must maintain), and the due set reads
    * the artifact. The oracle is q196's raw-log replay VERBATIM: the
    * maintained artifact changes where the reduction lives, never
    * what it says (max-merge associativity).
    */
  /** The q200 maintained-log scope — the planted raw log absorbed
    * save+append into the bucketed "flog" artifact; built once per
    * (process, sf dir) and shared READ-ONLY by q200's TTL wave and
    * q223's lastmod wave (same artifact, two scheduling policies).
    */
  private def q200Scope(s: SparkSession, dir: String): graft.core.Scope =
    cachedScope(q200Scopes, s, dir, "graft-q200-") { sc =>
      val log = HtmlOps.plantedFetchLog(t(s, dir, "documents"))
      HtmlOps.saveFetchLog(
        log.filter(col("log_id") < 1000L).select("url", "fetched_at_s"),
        sc, "flog")
      HtmlOps.appendFetchLog(
        log.filter(col("log_id") >= 1000L).select("url", "fetched_at_s"),
        sc, "flog")
      ()
    }

  private def fetchLogWaveQuery(s: SparkSession, dir: String): DataFrame =
    HtmlOps.refetchWaveFromLog(s, q200Scope(s, dir), "flog",
      nowS = 1767225600L + 9L * 86400L, ttlS = 7L * 86400L,
      ranks = epochRanks(s, dir))

  private val q209Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q209: the q200 maintained-log chain plus the EPOCH compaction
    * pass ([[graft.ops.HtmlOps.compactFetchLog]]) before the read —
    * the refetch wave must be bit-identical to q200's/q196's
    * (compaction changes file counts, never rows), which the shared
    * oracle enforces. The same epoch also PRUNES the versioned
    * tiny-state artifacts ([[graft.ops.HtmlOps.pruneWaveStates]] —
    * superseded `wave=<N` dirs drop, the latest carries everything
    * forward; a pruned loop restarts identically, spec-pinned).
    */
  private def compactedFetchLogQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q209Scopes, s, dir, "graft-q209-") { sc =>
      val log = HtmlOps.plantedFetchLog(docs)
      HtmlOps.saveFetchLog(
        log.filter(col("log_id") < 1000L).select("url", "fetched_at_s"),
        sc, "flog")
      HtmlOps.appendFetchLog(
        log.filter(col("log_id") >= 1000L).select("url", "fetched_at_s"),
        sc, "flog")
      HtmlOps.compactFetchLog(s, sc, "flog")
      // the epoch's state-artifact prune, exercised on a carried
      // schedstate history: waves 0..2 accumulate, the epoch keeps
      // only the latest (wave 2 folds everything earlier)
      val stDir = sc.path("schedstate")
      import s.implicits._
      (0L to 2L).foreach { w =>
        HtmlOps.saveSchedState(
          Seq(("s0.example", 100L * (w + 1))).toDF("domain", "next_allowed_s"),
          stDir, w)
      }
      val dropped = HtmlOps.pruneWaveStates(s, stDir, keepLatest = 1)
      require(dropped == Seq(0L, 1L), s"unexpected prune set: $dropped")
      require(HtmlOps.loadSchedState(s, stDir, beforeWave = 99L)
        .head().getLong(1) == 300L, "latest state must survive the prune")
    }
    HtmlOps.refetchWaveFromLog(s, scope, "flog",
      nowS = 1767225600L + 9L * 86400L, ttlS = 7L * 86400L,
      ranks = epochRanks(s, dir))
  }

  /** q207: the carried dispatch clock in batch form — two polite
    * waves over page halves, the second scheduled from the state the
    * first left behind ([[graft.ops.HtmlOps.advanceSchedState]]), so
    * a domain in both waves never gets wave-1 fetches scheduled
    * inside its Crawl-delay of wave 0's tail.
    */
  private def carriedScheduleQuery(s: SparkSession, dir: String): DataFrame = {
    val pages = HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))
    val scope = frontierScope(s, dir)
    val rules = HtmlOps.plantedRobotsRules(s)
    val d = HtmlOps.validatedDelays(
      HtmlOps.parseCrawlDelays(HtmlOps.plantedRobotsTxt(s)))
    val ranks = epochRanks(s, dir)
    val w0 = HtmlOps.scheduleWaveValidated(
        HtmlOps.politeFrontier(pages.filter(col("doc_id") < 250),
          scope, "urlkeys", ranks, rules), d, 30L)
      // feeds the output AND the state; lazy — the first consumer's
      // job materializes it, no separate up-front round-trip
      .localCheckpoint(eager = false)
    val st = HtmlOps.advanceSchedState(w0, HtmlOps.emptySchedState(s))
    val w1 = HtmlOps.scheduleWaveValidated(
      HtmlOps.politeFrontier(pages.filter(col("doc_id") >= 250),
        scope, "urlkeys", ranks, rules), d, 30L, Some(st))
    w0.withColumn("wave", lit(0L)).unionByName(
      w1.withColumn("wave", lit(1L)))
  }

  private val q211Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q211: the retry gate driven like a dispatcher would — wave 0's
    * scheduled URLs become the ATTEMPT log (even slots stamped at T0,
    * odd slots two TTLs earlier), and the next wave over the SAME
    * archive defers exactly the fresh attempts: even-slot canons
    * vanish, odd-slot canons (aged out) and the previous wave's
    * cap losers compete for the freed slots.
    */
  private def retryFrontierQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val chunks = HtmlOps.plantedWarcCorpus(docs)
    val t0 = 1767225600L
    val ttl = 86400L
    val scope = cachedScope(q211Scopes, s, dir, "graft-q211-") { sc =>
      val framed = HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
      HtmlOps.saveUrlKeys(
        framed.filter(col("length_ok") && col("http_ok") &&
          col("body_ok"))
          .filter(col("doc_id") < 250)
          .select(col("doc_id"), col("target_uri").as("url")),
        sc, "urlkeys")
      val wave0 = HtmlOps.redirectFrontier(chunks, sc, "urlkeys",
        epochRanks(s, dir), HtmlOps.plantedRobotsRules(s))
      HtmlOps.saveFetchLog(
        wave0.select(col("url"),
          when(col("slot") % 2 === 0, lit(t0))
            .otherwise(lit(t0 - 2L * ttl)).as("fetched_at_s")),
        sc, "attempts")
    }
    HtmlOps.retryGatedFrontier(chunks, scope, "urlkeys", "attempts",
      nowS = t0 + 3600L, retryTtlS = ttl, ranks = epochRanks(s, dir),
      rules = HtmlOps.plantedRobotsRules(s))
  }

  private val q213Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q213: the conditional-refetch steady state driven end to end —
    * wave 1's valid fetches seed the maintained fetch log (WITH their
    * ETag validators) and the content store; the revalidation wave
    * (even docs 304, odd docs 200-with-new-content) applies through
    * [[graft.ops.HtmlOps.applyRevalidation]]: every completed outcome
    * refreshes clock + validator (struct-max upsert — O(batch), no
    * bookkeeping), only 200 bodies append content versions. Output:
    * per canon, the refreshed clock, the surviving validator, and the
    * content hash — 304-only canons keep their wave-1 bytes
    * bit-identically (the clock moved, the corpus did not).
    */
  private def conditionalRefetchQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val t0 = 1767225600L
    val t1 = t0 + 7L * 86400L
    val scope = cachedScope(q213Scopes, s, dir, "graft-q213-") { sc =>
      // pinned once: the seed wave feeds BOTH the fetch log and the
      // content store (round-14 verdict #1 — q213 paid the full
      // framing + wire decode per consumer)
      val framed1 = HtmlOps.httpFrame(HtmlOps.warcFrame(
          HtmlOps.plantedWarcCorpus(docs), "warc"))
        .filter(col("length_ok") && col("http_ok") && col("body_ok"))
        .select(col("doc_id"), col("target_uri"), col("etag"),
          col("last_modified"), col("body"))
        .localCheckpoint(eager = true)
      HtmlOps.saveFetchLog(
        framed1.select(col("target_uri").as("url"),
          lit(t0).as("fetched_at_s"), col("etag"), col("last_modified")),
        sc, "fetchlog")
      HtmlOps.appendContentVersions(
        framed1.select(
          HtmlOps.canonicalUrl(col("target_uri")).as("canon"),
          col("body"), lit(t0).as("content_fetch_s")),
        sc.path("content"))
      val framed2 = HtmlOps.httpFrame(HtmlOps.warcFrame(
        HtmlOps.plantedRevalidationCorpus(docs), "warc"))
      HtmlOps.applyRevalidation(
        HtmlOps.revalidationOutcomes(framed2, lit(t1)),
        sc, "fetchlog", sc.path("content"))
    }
    HtmlOps.loadFetchLog(s, scope, "fetchlog")
      .join(HtmlOps.latestContent(s, scope.path("content")),
        Seq("canon"), "left")
      .select(col("canon"), col("url"), col("last_fetch_s"), col("etag"),
        col("last_modified"),
        md5(encode(coalesce(col("body"), lit("")), "UTF-8"))
          .as("content_md5"))
  }

  private val q218Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q218: WARC `revisit` records resolved through the fetch log and
    * content store — wave 1 seeds both (the q213 seeding verbatim),
    * then the revisit wave applies: digest-confirmed revisits reset
    * the staleness clock WITHOUT touching validators or content;
    * lying digests and absent revisits leave the canon untouched.
    * Output per canon: the post-wave log state, the stored content
    * hash (bit-identical to wave 1 in every case — a revisit never
    * writes content), and the revisit verdict.
    */
  private def warcRevisitQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val t0 = 1767225600L
    val t2 = t0 + 14L * 86400L
    val scope = cachedScope(q218Scopes, s, dir, "graft-q218-") { sc =>
      val framed1 = HtmlOps.httpFrame(HtmlOps.warcFrame(
          HtmlOps.plantedWarcCorpus(docs), "warc"))
        .filter(col("length_ok") && col("http_ok") && col("body_ok"))
        .select(col("doc_id"), col("target_uri"), col("etag"),
          col("last_modified"), col("body"))
        .localCheckpoint(eager = true) // feeds log + content store
      HtmlOps.saveFetchLog(
        framed1.select(col("target_uri").as("url"),
          lit(t0).as("fetched_at_s"), col("etag"), col("last_modified")),
        sc, "fetchlog")
      HtmlOps.appendContentVersions(
        framed1.select(
          HtmlOps.canonicalUrl(col("target_uri")).as("canon"),
          col("body"), lit(t0).as("content_fetch_s")),
        sc.path("content"))
      HtmlOps.applyRevisits(
        HtmlOps.warcRevisits(HtmlOps.plantedRevisitCorpus(docs), "warc"),
        sc, "fetchlog", sc.path("content"), lit(t2))
        .write.mode("overwrite").parquet(sc.path("revisits"))
    }
    val verdicts = s.read.parquet(scope.path("revisits"))
      .select(col("canon"), col("revisit_ok"))
    HtmlOps.loadFetchLog(s, scope, "fetchlog")
      .join(HtmlOps.latestContent(s, scope.path("content")),
        Seq("canon"), "left")
      .join(verdicts, Seq("canon"), "left")
      .select(col("canon"), col("url"), col("last_fetch_s"), col("etag"),
        col("last_modified"),
        md5(encode(coalesce(col("body"), lit("")), "UTF-8"))
          .as("content_md5"),
        coalesce(col("revisit_ok"), lit(false)).as("revisit_ok"))
  }

  private val q214Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q214: the q203 loop with the RETRY GATE on — the same archive
    * slice [250, 375) re-presented as three waves whose WARC-Dates
    * advance (Feb 1 / Feb 3 / Feb 8; retry TTL 3 days), so the
    * dispatch clock the attempt log keys on actually moves. Wave 0
    * dispatches the fresh candidates and stamps them; wave 1 (2 days
    * later — inside the TTL) DEFERS every stamped canon, so its slots
    * go to wave 0's politeness-cap losers (which were never
    * dispatched — correct crawl behavior, not a leak); wave 2 (5+
    * days after every stamp) re-admits everything aged out, and the
    * winners are wave 0's again, offsets continuing on the carried
    * clock. Keys never change across the waves (each re-append
    * anti-joins to nothing), so the defer/age-out behavior is
    * attributable to the attempt log alone.
    */
  private def streamRetryLoopQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q214Scopes, s, dir, "graft-q214-") { sc =>
      import s.implicits._
      val chunks = HtmlOps.plantedWarcCorpus(docs)
      val valid = HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
        .filter(col("length_ok") && col("http_ok") && col("body_ok"))
        .select(col("doc_id"), col("target_uri").as("url"))
      HtmlOps.saveUrlKeys(valid.filter(col("doc_id") < 250), sc, "urlkeys")
      // an EMPTY attempt log: the table + meta exist before wave 0
      HtmlOps.saveFetchLog(
        Seq.empty[(String, Long)].toDF("url", "fetched_at_s"),
        sc, "attempts")
      val slice = chunks.select(col("doc_id"), col("warc"))
        .filter(col("doc_id") >= 250 && col("doc_id") < 375)
      def redate(d: String) = slice.withColumn("warc",
        regexp_replace(col("warc"), "(?m)^WARC-Date: [^\\r\\n]+",
          "WARC-Date: " + d))
      EventsStreaming.writeWaveFile(redate("2026-02-01T00:00:00Z"),
        sc.path("stream-src"), 0)
      EventsStreaming.writeWaveFile(redate("2026-02-03T00:00:00Z"),
        sc.path("stream-src"), 1)
      EventsStreaming.writeWaveFile(redate("2026-02-08T00:00:00Z"),
        sc.path("stream-src"), 2)
      EventsStreaming.streamingWarcCrawlLoop(s, sc.path("stream-src"),
        sc, "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsTxt(s),
        sc.path("waves"), sc.path("ckpt"),
        attempts = Some(("attempts", 3L * 86400L)))
    }
    s.read.parquet(scope.path("waves"))
      .withColumn("wave", col("wave").cast("long"))
  }

  private val q210Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q210: the q203 chain with the stream carrying the WIRE format —
    * binary per-record-gzip chunks inflated in-stream. Same key-set
    * seeding, same waves, same everything downstream; the oracle is
    * q203's verbatim because inflate-then-frame must be bit-identical
    * to framing the uncompressed chunk (the q206 contract, now under
    * Structured Streaming).
    */
  private def streamGzipLoopQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q210Scopes, s, dir, "graft-q210-") { sc =>
      val chunks = HtmlOps.plantedWarcCorpus(docs)
      val valid = HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
        .filter(col("length_ok") && col("http_ok") &&
          col("body_ok"))
        .select(col("doc_id"), col("target_uri").as("url"))
      HtmlOps.saveUrlKeys(valid.filter(col("doc_id") < 250), sc, "urlkeys")
      val src = HtmlOps.plantedGzipWarcCorpus(docs)
      EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 250 && col("doc_id") < 375),
        sc.path("stream-src"), 0)
      EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 375), sc.path("stream-src"), 1)
      EventsStreaming.streamingWarcCrawlLoop(s, sc.path("stream-src"),
        sc, "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsTxt(s),
        sc.path("waves"), sc.path("ckpt"), gzip = true)
    }
    s.read.parquet(scope.path("waves"))
      .withColumn("wave", col("wave").cast("long"))
  }

  private val q208Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q208: the WARC loop with IN-STREAM robots maintenance — wave 0's
    * chunks include a `/robots.txt` fetch for `s3.example` (which the
    * seed leaves ruleless, Crawl-delay 35) declaring `Disallow:
    * /nav`+`/NAV` and `Crawl-delay: 7`; the maintained artifact
    * re-parses it into wave 1's gate and scheduler, so wave 1 admits
    * no s3 nav link (its slots go to the about/page candidates the
    * navs outranked) and schedules s3 seven seconds apart. The oracle
    * replays wave 1 under the FLIPPED rule/delay tables.
    */
  private def streamRobotsLoopQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q208Scopes, s, dir, "graft-q208-") { sc =>
      val chunks = HtmlOps.plantedWarcCorpus(docs)
      val valid = HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
        .filter(col("length_ok") && col("http_ok") &&
          col("body_ok"))
        .select(col("doc_id"), col("target_uri").as("url"))
      HtmlOps.saveUrlKeys(valid.filter(col("doc_id") < 250), sc, "urlkeys")
      val src = chunks.select(col("doc_id"), col("warc"))
      import s.implicits._
      val flip = Seq((9000001L, HtmlOps.robotsWarcChunk("s3.example",
        "User-agent: *\nDisallow: /nav\nDisallow: /NAV\n" +
          "Crawl-delay: 7\n")))
        .toDF("doc_id", "warc")
      EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 250 && col("doc_id") < 375)
          .unionByName(flip),
        sc.path("stream-src"), 0)
      EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 375), sc.path("stream-src"), 1)
      EventsStreaming.streamingWarcCrawlLoop(s, sc.path("stream-src"),
        sc, "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsTxt(s),
        sc.path("waves"), sc.path("ckpt"))
    }
    s.read.parquet(scope.path("waves"))
      .withColumn("wave", col("wave").cast("long"))
  }

  private val q205Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q205: the redirect-aware frontier over the planted archive in a
    * MATURE-crawl state — the key set holds every valid fetch AND
    * every URL those pages link (all already discovered and fetched),
    * so the outlink channel is exhausted and the /r/ redirect targets
    * — which nothing links — are the only fresh candidates. That is
    * precisely the state where a crawler without redirect discovery
    * stalls: content keeps moving, nothing new gets found.
    */
  private def redirectFrontierQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val chunks = HtmlOps.plantedWarcCorpus(docs)
    val scope = cachedScope(q205Scopes, s, dir, "graft-q205-") { sc =>
      // pinned once: the seed reads the framed archive through TWO
      // derivations (valid target URIs + resolved outlinks) — without
      // the pin each re-runs framing + wire decode from the scan
      // (round-14 verdict #1)
      val framed = HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
        .filter(col("length_ok") && col("http_ok") &&
          col("body_ok"))
        .select(col("doc_id"), col("target_uri"), col("body"))
        .localCheckpoint(eager = true)
      val valid = framed.select(col("doc_id"), col("target_uri").as("url"))
      // the seed resolves links EXACTLY as the frontier channel does
      // (base-path merge + dot removal) — a seed resolved differently
      // would leave the outlink channel un-exhausted and break the
      // redirect-only design of this fixture
      val linked = HtmlOps.htmlOutlinks(
          framed.select(col("doc_id"),
            HtmlOps.hostOf(col("target_uri")).as("fetch_host"),
            HtmlOps.urlPath(col("target_uri")).as("base_path"),
            col("body").as("html")),
          baseHostCol = Some("fetch_host"), keep = Seq("base_path"))
        .filter(col("host") =!= "")
        .select(col("doc_id"),
          HtmlOps.resolvedUrl(col("url"), col("host"), col("base_path"))
            .as("url"))
      HtmlOps.saveUrlKeys(valid.unionByName(linked), sc, "urlkeys")
    }
    HtmlOps.redirectFrontier(chunks, scope, "urlkeys", epochRanks(s, dir),
      HtmlOps.plantedRobotsRules(s))
  }

  private val q203Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q203: the WARC-fed loop driven end-to-end — the key set seeded
    * from the first 250 chunks' VALID fetches (framing + HTTP gates
    * applied, same as the loop applies them), waves [250, 375) and
    * [375, 500) streamed as RAW chunks; each batch frames, gates,
    * appends only valid target URIs, and writes its scheduled wave.
    */
  private def streamWarcLoopQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q203Scopes, s, dir, "graft-q203-") { sc =>
      val chunks = HtmlOps.plantedWarcCorpus(docs)
      val valid = HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
        .filter(col("length_ok") && col("http_ok") &&
          col("body_ok"))
        .select(col("doc_id"), col("target_uri").as("url"))
      HtmlOps.saveUrlKeys(valid.filter(col("doc_id") < 250), sc, "urlkeys")
      val src = chunks.select(col("doc_id"), col("warc"))
      EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 250 && col("doc_id") < 375),
        sc.path("stream-src"), 0)
      EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 375), sc.path("stream-src"), 1)
      // the SEED robots bytes: parse(seed) equals the planted rules
      // and delays (spec-pinned), so wave 0's policy is unchanged —
      // robots fetches in the stream would update it from wave 1 on
      EventsStreaming.streamingWarcCrawlLoop(s, sc.path("stream-src"),
        sc, "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsTxt(s),
        sc.path("waves"), sc.path("ckpt"))
    }
    s.read.parquet(scope.path("waves"))
      .withColumn("wave", col("wave").cast("long"))
  }

  private val q188Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q188: the persisted domain-rank artifact — saved once per
    * (process, sf dir) from the planted pages' link graph, read back
    * gated on the recorded meta. The oracle replays the identical
    * trajectory (q180's SQL), so the round trip must be bit-identical
    * to the direct rank — the artifact changes where the ranks live,
    * never what they are.
    */
  private def domainRankArtifact(s: SparkSession, dir: String): DataFrame = {
    val scope = cachedScope(q188Scopes, s, dir, "graft-q188-") { sc =>
      GraphOps.saveDomainRank(HtmlOps.domainEdges(
        HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))), sc, "rank")
    }
    GraphOps.loadDomainRank(s, scope, "rank")
  }

  /** The EPOCH rank every frontier consumer reads — the q188
    * persisted artifact, built once per (process, sf dir): production
    * ranks once per crawl epoch and each wave reloads, it does not
    * re-derive the graph per query. The oracle replays the identical
    * trajectory either way (the q188 reload is bit-identical to the
    * direct computation, pinned in GraphOpsSpec).
    */
  private def epochRanks(s: SparkSession, dir: String): DataFrame =
    domainRankArtifact(s, dir)

  private val q187Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** q187: the frontier composed from the standing artifacts — the
    * key set seeded from the FULL dirty-URL corpus (every planted
    * page has been fetched), the rank from the pages' own link graph;
    * candidates are the pages' outlinks. The planted overlap: docs
    * 0-4's next-link canon equals their own fetched key (the CRT leg
    * — doc_id%13 = doc_id%5 forces doc_id < 5), so the anti-join
    * provably bites on the fixture.
    */
  private def crawlFrontierQuery(s: SparkSession, dir: String): DataFrame = {
    val pages = HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))
    HtmlOps.crawlFrontier(pages, frontierScope(s, dir), "urlkeys",
      epochRanks(s, dir))
  }

  /** q191: q187's frontier with the planted robots rules gating the
    * candidates — the same key-set artifact (shared scope cache), the
    * same rank; only robots-allowed URLs compete for wave slots.
    */
  private def politeFrontierQuery(s: SparkSession, dir: String): DataFrame = {
    val pages = HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))
    HtmlOps.politeFrontier(pages, frontierScope(s, dir), "urlkeys",
      epochRanks(s, dir), HtmlOps.plantedRobotsRules(s))
  }

  /** The q187/q191 maintained key-set artifact, seeded once per
    * (process, sf dir) from the FULL dirty-URL corpus.
    */
  private def frontierScope(s: SparkSession, dir: String): graft.core.Scope = {
    val urls = HtmlOps.plantedDirtyUrlCorpus(t(s, dir, "documents"))
    cachedScope(q187Scopes, s, dir, "graft-q187-") { sc =>
      HtmlOps.saveUrlKeys(urls, sc, "urlkeys")
    }
  }

  private val q159Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** The q159/q160 pretokenized tokenizer artifact: BPE fitted with
    * pretok=true on the punctuated planted corpus, persisted once per
    * (process, sf dir) — the stored metadata carries the pretok flag
    * that encodeWithArtifact obeys.
    */
  private def q159Scope(s: SparkSession, dir: String): graft.core.Scope = {
    val planted = BpeOps.plantedPunctCorpus(t(s, dir, "documents"))
    cachedScope(q159Scopes, s, dir, "graft-q159-") { sc =>
      BpeOps.saveBpe(planted, sc, "bpe", nMerges = 12, pretok = true)
    }
  }

  private val q153Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  /** The q153/q154 tokenizer artifact: BPE fitted on the planted
    * corpus and persisted once per (process, sf dir).
    */
  private def q153Scope(s: SparkSession, dir: String): graft.core.Scope = {
    val planted = BpeOps.plantedCorpus(t(s, dir, "documents"))
    cachedScope(q153Scopes, s, dir, "graft-q153-") { sc =>
      BpeOps.saveBpe(planted, sc, "bpe", nMerges = 12)
    }
  }

  private val q146Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def shardArtifactGate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q146Scopes, s, dir, "graft-q146-") { sc =>
      ClusterOps.saveCorpusShards(docs, sc, "shards")
    }
    ClusterOps.corpusShardArtifactGate(s, scope, "shards", docs)
  }

  /** Closed-form BPE oracle scaffolding (q148–q151): the planted
    * corpus (BpeOps.plantedCorpus — document d carries 1 + d%5 copies
    * of the disjoint-alphabet word W[d%8]) makes the greedy fit equal
    * the STATIC (freq DESC, pair ASC) sort of the 16 chain entries
    * (proof in BpeOps.plantedCorpus scaladoc), so one window over ≤16
    * rows reconstructs the merge table, and per-word token counts/ids
    * follow by rank cases. `jr` carries each word's chain ranks.
    */
  private val bpeCtes =
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

  // shared by q143 (the training-ready shards) and q161 (the corpus
  // manifest — one roll-up over the identical shard result). LAZY:
  // corpusV2Sql and its constituents are declared further down, and a
  // strict val here would force them mid-object-init and interpolate
  // nulls into the SQL.
  private lazy val q143Sql =
    s"""WITH corpus AS ($corpusV2Sql),
       |sp AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |         CASE WHEN h < 0.1 THEN 'test'
       |              WHEN h < 0.2 THEN 'val'
       |              ELSE 'train' END AS split
       |  FROM (SELECT *,
       |          ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 8))::BIGINT
       |            / 4294967296.0 AS h
       |        FROM corpus)),
       |tr AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(doc_id::VARCHAR || ':shuffle'), 1, 8))::BIGINT
       |           / 4294967296.0 AS su
       |  FROM sp WHERE split = 'train'),
       |sh AS (SELECT doc_id, su,
       |         CAST(least(floor(su * 8), 7) AS INT) AS shard FROM tr),
       |ps AS (SELECT doc_id, shard,
       |         CAST(row_number() OVER (PARTITION BY shard
       |                                 ORDER BY su, doc_id) AS INT) AS pos
       |       FROM sh)
       |SELECT sp.doc_id, sp.lang, sp.source, sp.n_tokens, sp.split,
       |       coalesce(ps.shard, -1) AS shard,
       |       coalesce(ps.pos, -1) AS pos
       |FROM sp LEFT JOIN ps ON ps.doc_id = sp.doc_id""".stripMargin

  // shared by q162 (the weights) and q165 (the selection tail)
  private lazy val q162Sql =
    s"""WITH toks AS (SELECT doc_id, source, $duckToks w FROM documents),
         |big0 AS (SELECT doc_id, source, w, unnest(range(1, len(w))) i
         |         FROM toks),
         |bigr AS (SELECT doc_id, source, w[i] w1, w[i+1] w2 FROM big0),
         |tuni AS (SELECT w1, CAST(count(*) AS BIGINT) cu FROM (
         |           SELECT unnest(w) w1 FROM toks WHERE source = 'src0')
         |         GROUP BY w1 ORDER BY cu DESC, w1 ASC LIMIT 65536),
         |tbi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) cb FROM bigr
         |        WHERE source = 'src0' GROUP BY w1, w2
         |        ORDER BY cb DESC, w1 ASC, w2 ASC LIMIT 262144),
         |runi AS (SELECT w1, CAST(count(*) AS BIGINT) cu FROM (
         |           SELECT unnest(w) w1 FROM toks WHERE source <> 'src0')
         |         GROUP BY w1 ORDER BY cu DESC, w1 ASC LIMIT 65536),
         |rbi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) cb FROM bigr
         |        WHERE source <> 'src0' GROUP BY w1, w2
         |        ORDER BY cb DESC, w1 ASC, w2 ASC LIMIT 262144),
         |sc AS (SELECT d.doc_id,
         |         coalesce(tb.cb, 0) cbt, coalesce(tu.cu, 0) cut,
         |         coalesce(rb.cb, 0) cbr, coalesce(ru.cu, 0) cur
         |       FROM bigr d
         |       LEFT JOIN tbi tb ON tb.w1 = d.w1 AND tb.w2 = d.w2
         |       LEFT JOIN tuni tu ON tu.w1 = d.w1
         |       LEFT JOIN rbi rb ON rb.w1 = d.w1 AND rb.w2 = d.w2
         |       LEFT JOIN runi ru ON ru.w1 = d.w1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CAST(round(1e6 * (
         |    (CAST(cbt + 1 AS DOUBLE) * CAST(cur + 65536 AS DOUBLE))
         |    / (CAST(cbr + 1 AS DOUBLE) * CAST(cut + 65536 AS DOUBLE))))
         |    AS BIGINT)) AS BIGINT) AS weight_fp
         |FROM sc GROUP BY doc_id""".stripMargin

  // shared by q156 and the v3 flagship's LM-gate CTE
  private lazy val q156Sql =
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

  // shared by q149 (direct encode) and q158 (the same encode through
  // readStream + the stored tokenizer — identical id space)
  private val q149Sql =
    s"""WITH $bpeCtes
       |SELECT doc_id, n_tok AS n_tokens, CAST(0 AS BIGINT) AS n_unk,
       |       ids_sum
       |FROM btok""".stripMargin

  // shared by q148 (the direct fit) and q153 (the same fit through
  // the persisted tokenizer artifact's store→load round trip)
  private val q148Sql =
    s"""WITH $bpeCtes
       |SELECT rk AS merge_rank, lhs, rhs, freq
       |FROM br WHERE rk < 12""".stripMargin

  // shared by q145 and its pre-thinned twin q152 (bit-identical by the
  // containment proof in SampleOps.costBudgetMixtureThinned)
  private val q145Sql =
    """WITH m AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
      |           FROM documents GROUP BY source),
      |w AS (SELECT source,
      |        CAST(floor(sqrt(CAST(mass AS DOUBLE))) AS BIGINT) AS w FROM m),
      |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
      |q AS (SELECT source, (100000 * w) // tw AS quota FROM w, t),
      |pr AS (SELECT doc_id, source, n_chars,
      |         ('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 8))::BIGINT
      |           / 4294967296.0 AS priority
      |       FROM documents),
      |r AS (SELECT doc_id, source, n_chars, priority,
      |        CAST(sum(n_chars) OVER (PARTITION BY source
      |               ORDER BY priority ASC, doc_id ASC
      |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |      FROM pr)
      |SELECT r.doc_id, r.source, r.n_chars, r.priority
      |FROM r JOIN q ON q.source = r.source
      |WHERE r.cum - r.n_chars < q.quota""".stripMargin

  private val q10Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |       event_type, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // geometry interpolated from DedupOps so engine and oracle move
  // together (hex prefix chars = simhashBits/4 — 4 bits per hex digit)
  private val simhashSql =
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

  /** MinHash band CTEs (ending in `bands(doc_id, b, bh)`), shared by
    * the full pair generator (q13) and the incremental form (q60).
    */
  /** Q106 retrieval fixture: multi-term queries over the corpus
    * vocabulary (mixed specificity — overlapping terms, a term no
    * document ranks first on, a single-term query).
    */
  private val keywordQueries: Map[String, Seq[String]] = Map(
    "q1" -> Seq("table", "scan", "fast"),
    "q2" -> Seq("window", "batch"),
    "q3" -> Seq("vector", "stream", "join", "query"),
    "q4" -> Seq("customer"))

  private val keywordQueryValues: String = keywordQueries.toSeq.sortBy(_._1)
    .flatMap { case (qid, ts) => ts.distinct.map(t => s"('$qid', '$t')") }
    .mkString(", ")

  /** The q113 fixed-point centroid replay — shared verbatim by q129,
    * whose incrementally-merged sums must reproduce it exactly.
    */
  private lazy val labelCentroidsSql: String =
    """WITH x AS (
      |  SELECT label,
      |         unnest(range(0, len(embedding))) AS dim,
      |         unnest(embedding) AS v
      |  FROM embeddings),
      |a AS (
      |  SELECT label, CAST(dim AS INT) AS dim,
      |         sum(CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS ssum,
      |         count(*) AS n
      |  FROM x GROUP BY 1, 2)
      |SELECT label, dim,
      |       CAST(ssum AS DOUBLE) / (n * 1048576) AS centroid, n
      |FROM a""".stripMargin

  /** The q106 ranking replayed in DuckDB — shared verbatim by q120,
    * whose artifact probe must reproduce it exactly.
    */
  private lazy val keywordSearchSql: String =
    s"""WITH qt(query_id, term) AS (VALUES $keywordQueryValues),
       |toks AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
       |sc AS (
       |  SELECT q.query_id, t.doc_id,
       |         count(DISTINCT t.term) AS n_terms, count(*) AS tf_sum
       |  FROM toks t JOIN qt q ON q.term = t.term
       |  GROUP BY q.query_id, t.doc_id),
       |r AS (SELECT query_id, doc_id, n_terms, tf_sum,
       |             CAST(row_number() OVER (PARTITION BY query_id
       |               ORDER BY n_terms DESC, tf_sum DESC, doc_id ASC) AS INT)
       |               AS rank
       |      FROM sc)
       |SELECT query_id, rank, doc_id, n_terms, tf_sum
       |FROM r WHERE rank <= 10""".stripMargin

  private val minhashBandsCtes =
    s"""toks AS (SELECT doc_id, $duckToks w FROM documents),
       |sh AS (SELECT doc_id, unnest($duckShingles) g FROM toks),
       |mh AS (
       |  SELECT doc_id, s, min(md5(s::VARCHAR || ':' || g)) h
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, 12)) s) seeds
       |  GROUP BY doc_id, s),
       |bands AS (
       |  SELECT doc_id, s // 2 AS b, md5(string_agg(h, '|' ORDER BY s)) bh
       |  FROM mh GROUP BY doc_id, s // 2)""".stripMargin

  private val minhashLshSql =
    s"""WITH $minhashBandsCtes
       |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |FROM bands l JOIN bands r
       |  ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id""".stripMargin

  private val simhashPairsSql =
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
  private val contaminationSql =
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
  private val winnowPairsSql =
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

  /** The q112 oracle's bit-interleave, generated term-for-term so the
    * SQL provably matches [[graft.io.Layout.zValue]]'s bit placement:
    * bit i of `a` → position 2i, bit i of `b` → 2i+1.
    */
  private def zInterleaveSql(a: String, b: String, bits: Int = 16): String =
    (0 until bits).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i})", s"((($b >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" | ")

  /** The q117 oracle: [[graft.ops.SimilarityOps.kmeans]]'s rounds
    * generated round-for-round — every round re-derives the integer-L2
    * argmin against the previous round's re-quantized centroids, so
    * the whole trajectory must reproduce, not just the final means.
    */
  private def kmeansIterSql(iters: Int = 3, k: Int = 8): String = {
    val rounds = (1 to iters).map { i =>
      s"""d$i AS (
         |  SELECT q.vec_id, s.cid,
         |         CAST(list_sum(list_transform(range(1, len(q.vq) + 1),
         |              j -> (q.vq[j] - s.sq[j]) * (q.vq[j] - s.sq[j])))
         |           AS BIGINT) AS d2
         |  FROM q, s$i s),
         |a$i AS (
         |  SELECT vec_id, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |  FROM d$i),
         |c$i AS (
         |  SELECT a.cid AS cluster, CAST(x.dim AS INT) AS dim,
         |         sum(CAST(round(CAST(x.v AS DOUBLE) * 1048576) AS BIGINT)) AS ssum,
         |         count(*) AS n
         |  FROM (SELECT vec_id, cid FROM a$i WHERE rn = 1) a
         |  JOIN xflat x USING (vec_id)
         |  GROUP BY 1, 2),
         |s${i + 1} AS (
         |  SELECT cluster AS cid,
         |         list(CAST(round((CAST(ssum AS DOUBLE) / (n * 1048576)) * 1048576)
         |              AS BIGINT) ORDER BY dim) AS sq
         |  FROM c$i GROUP BY cluster)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS vq,
       |         ('0x' || substr(md5(vec_id::VARCHAR || ':seed'), 1, 8))::BIGINT AS hk
       |  FROM embeddings),
       |xflat AS (
       |  SELECT vec_id, unnest(range(0, len(embedding))) AS dim,
       |         unnest(embedding) AS v
       |  FROM embeddings),
       |s1 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY hk, vec_id) AS INT) AS cid,
       |         vq AS sq
       |  FROM q ORDER BY hk, vec_id LIMIT $k),
       |$rounds
       |SELECT cluster, dim,
       |       CAST(ssum AS DOUBLE) / (n * 1048576) AS centroid, n
       |FROM c$iters""".stripMargin
  }

  /** The q118 oracle: [[graft.ops.GraphOps.nationTradeRank]]'s power
    * iterations generated round-for-round in the same all-integral
    * arithmetic (`//` floor division equals Spark's `div` truncation —
    * every quantity is non-negative).
    */
  private def pagerankSql(iters: Int = 3,
                          scale: Long = 1000000000000L): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         CAST(base + (85 * coalesce(f.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n CROSS JOIN consts
         |  LEFT JOIN (
         |    SELECT e.dst, sum(r.pr // d.deg) AS s
         |    FROM edges e JOIN deg d ON e.src = d.src
         |    JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY e.dst) f ON f.dst = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
       |         CAST(c.c_nationkey AS BIGINT) AS dst
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
       |consts AS (
       |  SELECT (($scale * 15) // 100) // (SELECT count(*) FROM nation) AS base),
       |r0 AS (
       |  SELECT node,
       |         CAST($scale // (SELECT count(*) FROM nation) AS BIGINT) AS pr
       |  FROM nodes),
       |$rounds
       |SELECT node, pr FROM r$iters""".stripMargin
  }

  /** The q138 oracle: q41's recursive components restricted to the
    * minhash-LSH edge generator (the streaming maintainer's edges).
    */
  private val minhashClustersSql =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |e AS (SELECT doc_a a, doc_b b FROM p
       |      UNION SELECT doc_b, doc_a FROM p),
       |walk(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT w.id, e.b FROM walk w JOIN e ON e.a = w.r)
       |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
       |FROM walk GROUP BY id""".stripMargin

  /** q47 AND q142 (artifact-backed) — one definition, two keys. */
  private lazy val dedupApplySql =
    s"""WITH labels AS ($dedupClustersSql),
       |sizes AS (SELECT canonical_id, count(*) AS n FROM labels
       |          GROUP BY canonical_id)
       |SELECT l.doc_id, d.lang, d.source, CAST(s.n - 1 AS BIGINT) AS n_dropped
       |FROM labels l
       |JOIN sizes s ON s.canonical_id = l.canonical_id
       |JOIN documents d ON d.doc_id = l.doc_id
       |WHERE l.doc_id = l.canonical_id""".stripMargin

  /** q100 AND q143's corpus stage — one definition, two keys: the
    * end-to-end v2 flagship corpus (winnow edges in the recursive
    * cluster walk, dup-line gate, weighted priority tail).
    */
  // the v2 candidate CTE chain (through `cand`), shared by the v2
  // flagship, its v3 extension (adds the q156 LM gate), q143's shard
  // tail, and — rebased onto the extracted crawl text via onDocs —
  // the v4 crawl flagship (q177): one definition, no gate drift
  private lazy val corpusV2CandSql =
    "WITH RECURSIVE\n" + corpusV2CandBody
  private lazy val corpusV2CandBody =
    corpusV2CandBodyWith("q.quality >= 0.5")
  // the quality predicate is the one stage the trained flagship
  // (q185) swaps: the hand-set composite threshold vs the fitted
  // fixed-point dot product — everything else in the chain is shared
  private def corpusV2CandBodyWith(qualityPred: String): String =
    s"""p AS (SELECT doc_a, doc_b FROM ($minhashLshSql)
       |      UNION
       |      SELECT doc_a, doc_b FROM ($simhashPairsSql)
       |      UNION
       |      SELECT doc_a, doc_b FROM ($winnowPairsSql)),
       |e AS (SELECT doc_a a, doc_b b FROM p
       |      UNION SELECT doc_b, doc_a FROM p),
       |walk(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT w.id, e.b FROM walk w JOIN e ON e.a = w.r),
       |labels AS (
       |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canonical_id
       |  FROM walk GROUP BY id),
       |kept AS (
       |  SELECT l.doc_id, d.lang, d.source FROM labels l
       |  JOIN documents d ON d.doc_id = l.doc_id
       |  WHERE l.doc_id = l.canonical_id),
       |q AS ($qualitySql),
       |contam AS ($contaminationSql),
       |dlines AS (
       |  SELECT doc_id,
       |         list_filter(list_transform(string_split(text, chr(10)),
       |                     x -> trim(x)), x -> x <> '') l
       |  FROM documents),
       |dls AS (SELECT doc_id, len(l) n_lines,
       |               len(l) - len(list_distinct(l)) n_dup FROM dlines),
       |dl AS (SELECT doc_id,
       |              round(CASE WHEN n_lines > 0
       |                         THEN CAST(n_dup AS DOUBLE) / n_lines
       |                         ELSE 0 END, 6) dup_line_frac FROM dls),
       |$bigramFracCtes,
       |cand AS (
       |  SELECT k.doc_id, k.lang, k.source, q.n_tokens, q.quality,
       |         (('0x' || substr(md5(k.doc_id::VARCHAR || ':train'), 1, 8))::BIGINT
       |            / 4294967296.0) / q.n_tokens AS priority
       |  FROM kept k
       |  JOIN q ON q.doc_id = k.doc_id
       |  JOIN rep ON rep.doc_id = k.doc_id
       |  JOIN dl ON dl.doc_id = k.doc_id
       |  WHERE $qualityPred
       |    AND rep.top_bigram_frac <= 0.5
       |    AND dl.dup_line_frac <= 0.5
       |    AND k.lang IN ('en', 'de', 'fr', 'es')
       |    AND k.doc_id % 10 <> 7
       |    AND q.n_tokens > 0
       |    AND NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = k.doc_id))""".stripMargin

  private lazy val corpusV2Sql =
    s"""$corpusV2CandSql
       |SELECT doc_id, lang, source, n_tokens, quality, priority
       |FROM cand ORDER BY priority ASC, doc_id ASC LIMIT 150""".stripMargin

  // v3 = the same candidates additionally gated by the q156 LM floor
  // (exact BIGINT cross-multiplication), then the same priority tail
  private lazy val corpusV3Sql =
    s"""$corpusV2CandSql,
       |lm AS (SELECT doc_id, n_bigrams, score_fp FROM ($q156Sql)),
       |v3 AS (SELECT c.* FROM cand c JOIN lm ON lm.doc_id = c.doc_id
       |       WHERE lm.score_fp >= 460 * lm.n_bigrams)
       |SELECT doc_id, lang, source, n_tokens, quality, priority
       |FROM v3 ORDER BY priority ASC, doc_id ASC LIMIT 150""".stripMargin

  /** The q177 oracle — the crawl→corpus flagship recomposed from the
    * existing CTE chains (ClusterOps.crawlCorpus mirrored stage for
    * stage): the PII-planted text wrapped in the planted pages, the
    * q175 extraction + page-verdict chain (cw_ prefix), the q174
    * canonical-URL keep-set, then the ENTIRE v2 candidate chain and
    * q156 LM gate rebased onto the extracted crawl text (`onDocs` —
    * crawl_docs shadows nothing; `documents` remains the raw table
    * for the plants), and the q167 staged scrub + audit on the
    * selected rows. minLmAvgFp = 300 (see crawlCorpus's scaladoc).
    */
  private lazy val q177Sql = crawlCorpusSqlWith("", "q.quality >= 0.5")

  /** The q185 oracle — q177's chain with the quality stage swapped
    * for the TRAINED gate: the q181 fit CTEs replay the fixed-point
    * perceptron on the RAW documents (the labeled set), and the cand
    * predicate scores each CRAWL doc's quality signals against the
    * final-round weights via scalar subqueries on w3 — the same
    * quantization as the ft CTE, so training and serving read
    * identical integers on both engines.
    */
  private lazy val q185Sql = {
    val dot = Seq(
      "(SELECT a0 FROM w3) * 1",
      "(SELECT a1 FROM w3) * CAST(least(q.n_tokens, 1000) AS BIGINT)",
      "(SELECT a2 FROM w3) * CAST(round(coalesce(q.stopword_ratio, " +
        "0.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT)",
      "(SELECT a3 FROM w3) * CAST(round(coalesce(q.punct_ratio, " +
        "0.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT)",
      "(SELECT a4 FROM w3) * CAST(round(coalesce(q.avg_token_len, " +
        "0.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT)").mkString("\n    + ")
    crawlCorpusSqlWith(qualityFitCtes(3) + ",\n", s"($dot) > 0")
  }

  /** The q186 oracle — the TRUE front-door composition: the planted
    * pages (over the PII-planted text) wrapped as WARC chunks, the
    * q184 split/frame/verify chain, `length_ok` records' payloads
    * becoming the pages (fetch host read from the WARC-Target-URI
    * header, the q184 host regex = HtmlOps.hostOf), then the entire
    * q177 extraction + keep-set + gate + scrub chain unchanged. The
    * malformed legs (doc_id%13 ∈ {3,7,11}) drop at the framing
    * verdict, the 404 (%13==2) and text/plain (%13==5) legs drop at
    * the HTTP gate — before extraction ever sees them — and the
    * %13==1 non-ASCII body suffix flows INTO the corpus text, so the
    * gates score the bytes actually framed, not the page as planted.
    */
  private lazy val q186Sql = {
    val warcPages =
      s"""wpage AS (SELECT doc_id, $duckFetchHost AS fetch_host,
         |  $duckHtml AS html FROM cw_src),
         |${duckHttpPayload("wpage", "wpay")},
         |${duckWarcChain("wpay", "w")},
         |${duckHttpFrame("w", "wpay")},
         |cw_p AS (SELECT doc_id,
         |  regexp_extract(target_uri, '^(?i)(?:https?:)?//([^/?#]+)', 1)
         |    AS fetch_host,
         |  body AS html
         |  FROM wht
         |  WHERE coalesce(strlen(payload) = content_length, false)
         |    AND coalesce(http_status = 200 AND mime = 'text/html',
         |          false)
         |    AND body_ok)""".stripMargin
    crawlCorpusSqlWith("", "q.quality >= 0.5", Some(warcPages))
  }

  /** The shared q177/q185 flagship oracle body; `fitCtes` (empty for
    * q177) land between crawl_docs and the gate chain and stay on the
    * RAW documents table — only the gate body is rebased via onDocs.
    */
  private def crawlCorpusSqlWith(fitCtes: String,
                                 qualityPred: String,
                                 pageCtes: Option[String] = None): String = {
    val gateBody = onDocs(corpusV2CandBodyWith(qualityPred), "crawl_docs")
    val lmBody = onDocs(q156Sql, "crawl_docs")
    // the PAGE SOURCE: the planted generator (q177/q185) unless the
    // caller supplies its own chain ending in cw_p (q186: framed WARC
    // payloads) — everything downstream of cw_p is shared verbatim
    val pages = pageCtes.getOrElse(
      s"""cw_p AS (SELECT doc_id, $duckFetchHost AS fetch_host,
         |  $duckHtml AS html FROM cw_src)""".stripMargin)
    s"""WITH RECURSIVE
       |cw_src AS (SELECT doc_id, $duckPiiText AS text FROM documents),
       |$pages,
       |${duckExtractFromHtmlCtes("cw_")},
       |cw_k AS (SELECT doc_id, fetch_host, de,
       |  regexp_extract_all(html, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1) AS ls
       |  FROM cw_e),
       |cw_ok AS (SELECT doc_id,
       |  trim(regexp_replace(de, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text
       |  FROM cw_k
       |  WHERE len(list_filter(ls, u ->
       |    ${duckDomainOf(duckLinkHost("u"))}
       |    IN ('s2.example', 's5.example', 's11.example'))) = 0),
       |cw_urls AS (SELECT doc_id, $duckDirtyUrl AS url FROM documents),
       |cw_keep AS (SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (
       |      PARTITION BY ${duckCanonOf("url")} ORDER BY doc_id) AS rn
       |    FROM cw_urls) WHERE rn = 1),
       |crawl_docs AS (
       |  SELECT o.doc_id, o.text, d.lang, d.source
       |  FROM cw_ok o
       |  JOIN cw_keep k ON k.doc_id = o.doc_id
       |  JOIN documents d ON d.doc_id = o.doc_id),
       |$fitCtes$gateBody,
       |lm AS (SELECT doc_id, n_bigrams, score_fp FROM ($lmBody)),
       |v3 AS (SELECT c.* FROM cand c JOIN lm ON lm.doc_id = c.doc_id
       |       WHERE lm.score_fp >= 300 * lm.n_bigrams),
       |sel AS (SELECT doc_id, lang, source, n_tokens, quality, priority
       |        FROM v3 ORDER BY priority ASC, doc_id ASC LIMIT 150),
       |${duckRedactStages("crawl_docs", "rr")}
       |SELECT sel.doc_id, sel.lang, sel.source, sel.n_tokens,
       |  sel.quality, sel.priority,
       |  $duckRedactAuditCols
       |FROM sel JOIN rr ON rr.doc_id = sel.doc_id""".stripMargin
  }

  private val dedupClustersSql =
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

  /** DuckDB pixel-histogram CTEs over the deterministic PNG gradient
    * fixture (MultimodalOps.syntheticPngTable): re-derives every
    * per-channel count the real decode + featureExtract must recover —
    * 8 bins/channel, vector index = channel*8 + (value >> 5), pixel
    * rgb = (x*31 + y*17 + doc_id) % 0xFFFFFF at the q43 dimensions.
    */
  private val imageHistCtes =
    """dims AS (
      |  SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) w,
      |         CAST(1 + (doc_id * 7) % 48 AS BIGINT) h
      |  FROM documents),
      |xs AS (SELECT doc_id, h, unnest(range(0, w)) x FROM dims),
      |px AS (SELECT doc_id, x, unnest(range(0, h)) y FROM xs),
      |pv AS (SELECT doc_id, (x * 31 + y * 17 + doc_id) % 16777215 rgb FROM px),
      |chv AS (
      |  SELECT doc_id, 0 c, (rgb >> 16) & 255 v FROM pv
      |  UNION ALL SELECT doc_id, 1, (rgb >> 8) & 255 FROM pv
      |  UNION ALL SELECT doc_id, 2, rgb & 255 FROM pv),
      |hist AS (
      |  SELECT doc_id, c * 8 + (v >> 5) bin, count(*) n
      |  FROM chv GROUP BY 1, 2),
      |allbins AS (SELECT doc_id, unnest(range(0, 24)) bin FROM documents),
      |fvrows AS (
      |  SELECT a.doc_id, a.bin, CAST(coalesce(h.n, 0) AS BIGINT) cnt
      |  FROM allbins a LEFT JOIN hist h ON a.doc_id = h.doc_id AND a.bin = h.bin)""".stripMargin

  /** Q59's incremental dedup; also the oracle of the Bloom-accelerated
    * variant (q61), which must produce the identical result.
    */
  private val incrDedupSql =
    """WITH nb AS (SELECT doc_id, md5(lower(trim(text))) fp
      |            FROM documents WHERE doc_id % 2 = 1),
      |ex AS (SELECT DISTINCT md5(lower(trim(text))) fp
      |       FROM documents WHERE doc_id % 2 = 0)
      |SELECT min(doc_id) AS doc_id, fp, count(*) AS n_copies
      |FROM nb ANTI JOIN ex USING (fp)
      |GROUP BY fp""".stripMargin

  /** Q32's gaps-and-islands sessions; also the oracle of the STREAMING
    * sessionizer (q58), which must reproduce the batch result exactly.
    */
  private val sessionizeSql =
    """WITH x AS (
      |  SELECT user_id, ts, value, epoch_us(ts) us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_us,
      |         event_id
      |  FROM events),
      |y AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
      |                 THEN 1 ELSE 0 END new_sess FROM x),
      |z AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) session_id
      |  FROM y)
      |SELECT user_id, session_id,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM z GROUP BY user_id, session_id""".stripMargin

  /** Top-bigram-fraction CTEs (ending in `rep(doc_id,
    * top_bigram_frac)`) — ONE copy shared by the q62 oracle and the
    * q57 composition's gate, mirroring TextOps.topBigramFrac.
    */
  private val bigramFracCtes =
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
  private val qualitySql =
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
  private def duckCosine(a: String, b: String): String =
    s"""round(
       |  list_sum(list_transform(range(1, len($a) + 1),
       |    i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       |  / (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))
       |     * sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))), 6)""".stripMargin

  private val langMarkerValues = TextOps.langMarkers
    .map { case (tok, lang, w) => s"('$tok', '$lang', $w)" }.mkString(", ")

  /** DuckDB-equivalent SQL per query (same parquet tables by name).
    * Column names/aliases must match the Spark output exactly.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_unpivot_mean" -> q01Base,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |       l_returnflag, l_linestatus,
        |       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
        |  AND (l_returnflag = 'R' OR l_linestatus = 'F')""".stripMargin,
    "q03_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |       CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q04_minmax" ->
      "SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi, count(*) AS n FROM orders",
    "q05_star_join" ->
      """SELECT r_name,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q06_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
        |       count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q07_topk" ->
      """SELECT c_custkey, c_name,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 10""".stripMargin,
    "q08_window" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(rank() OVER w AS INT) AS rnk,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |              OVER (PARTITION BY o_custkey
        |                    ORDER BY o_totalprice DESC, o_orderkey ASC
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "q09_pipe" ->
      """WITH base AS (
        |  SELECT CAST(l_linenumber AS BIGINT) v0,
        |         CAST(floor(l_quantity) AS BIGINT) v1,
        |         l_orderkey % 7 v2
        |  FROM lineitem),
        |u AS (
        |  SELECT 0 AS id, v0 AS value FROM base
        |  UNION ALL SELECT 1, v1 FROM base
        |  UNION ALL SELECT 2, v2 FROM base)
        |SELECT id, CAST(sum(value) AS BIGINT) AS total FROM u GROUP BY id""".stripMargin,
    "q10_event_window" -> q10Sql,
    "q11_termfreq" ->
      s"""SELECT lang, token, count(*) AS cnt FROM (
         |  SELECT lang, unnest($duckToks) AS token FROM documents)
         |GROUP BY lang, token""".stripMargin,
    "q12_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS fp,
        |       count(*) AS n_copies
        |FROM documents GROUP BY md5(lower(trim(text)))""".stripMargin,
    "q13_minhash_lsh" -> minhashLshSql,
    // the stored+appended band artifact must reproduce the full-corpus
    // candidate pairs exactly — same oracle as q13
    "q137_band_artifact" -> minhashLshSql,
    // ...and so must the COMPACTED artifact: layout, not semantics
    "q139_compact_artifact" -> minhashLshSql,
    "q14_simhash" -> simhashSql,
    "q15_jaccard" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, g FROM (
         |  SELECT doc_id, unnest($duckShingles) g FROM toks)),
         |capped AS (
         |  SELECT doc_id, g FROM (
         |    SELECT doc_id, g, count(*) OVER (PARTITION BY g) df FROM sh)
         |  WHERE df <= ${DedupOps.defaultMaxShingleDf}),
         |sized AS (
         |  SELECT doc_id, g, count(*) OVER (PARTITION BY doc_id) sz FROM capped),
         |co AS (
         |  SELECT l.doc_id doc_a, r.doc_id doc_b, l.sz sz_a, r.sz sz_b,
         |         count(*) common
         |  FROM sized l JOIN sized r ON l.g = r.g AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b,
         |       round(CAST(common AS DOUBLE) / (sz_a + sz_b - common), 6) AS jaccard
         |FROM co
         |WHERE round(CAST(common AS DOUBLE) / (sz_a + sz_b - common), 6) >= 0.3""".stripMargin,
    "q16_knn" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |         ${duckCosine("e.embedding", "q.qv")} AS sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |                  ORDER BY sim DESC, vec_id ASC) AS INT) AS rnk
         |      FROM scored)
         |SELECT query_id, rnk, vec_id, sim FROM r WHERE rnk <= 10""".stripMargin,
    "q17_embed_pairs" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       ${duckCosine("a.embedding", "b.embedding")} AS sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |ORDER BY sim DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin,
    // Embedding-cosine near-dup: the same scored-pair surface as q17,
    // kept at/above the threshold instead of top-N.
    "q65_embed_neardup" ->
      s"""WITH scored AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.45""".stripMargin,
    // Semantic dedup applied: threshold pairs resolved into components
    // (recursive closure at oracle scale; the engine uses
    // large-star/small-star or size-gated union-find), keeping each
    // component's minimum vec_id with its absorbed-duplicate count.
    "q66_semantic_dedup" ->
      s"""WITH RECURSIVE scored AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
         |p AS (SELECT id_a, id_b FROM scored WHERE sim >= 0.5),
         |e AS (SELECT id_a a, id_b b FROM p UNION SELECT id_b, id_a FROM p),
         |walk(id, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT w.id, e.b FROM walk w JOIN e ON e.a = w.r),
         |labels AS (SELECT id, CAST(min(r) AS BIGINT) canonical
         |           FROM walk GROUP BY id),
         |sizes AS (SELECT canonical, count(*) n FROM labels GROUP BY canonical)
         |SELECT l.id AS vec_id, CAST(s.n - 1 AS BIGINT) AS n_dropped
         |FROM labels l JOIN sizes s ON s.canonical = l.canonical
         |WHERE l.id = l.canonical""".stripMargin,
    "q68_contamination" -> contaminationSql,
    // Int8 quantization digest: codes = round(x·127/maxabs) with all
    // arithmetic in DOUBLE, zero vectors to all-zero codes — the oracle
    // recomputes every code and pins (sum, min, max, scale).
    "q69_quantize_int8" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |                  x -> abs(CAST(x AS DOUBLE)))) maxabs
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, maxabs,
        |         list_transform(embedding, x ->
        |           CASE WHEN maxabs = 0 THEN 0
        |                ELSE CAST(round(CAST(x AS DOUBLE) * 127.0 / maxabs)
        |                          AS INT) END) q
        |  FROM m)
        |SELECT vec_id,
        |       CAST(list_sum(q) AS BIGINT) AS q_sum,
        |       CAST(list_min(q) AS INT) AS q_min,
        |       CAST(list_max(q) AS INT) AS q_max,
        |       round(maxabs / 127.0, 6) AS scale6
        |FROM q""".stripMargin,
    // Sequence packing: pack = budget-window of the running token
    // offset within (lang, shard = doc_id % 8), ordered by doc_id.
    "q70_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, doc_id % 8 AS shard,
         |         CAST(COALESCE(len($duckToks), 0) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT doc_id, lang, shard, n_tok,
         |       CAST(floor((sum(n_tok) OVER (PARTITION BY lang, shard
         |                    ORDER BY doc_id) - n_tok) / 512.0) AS BIGINT)
         |         AS pack_id
         |FROM t""".stripMargin,
    // Audio round trip: every recovered field re-derived from doc_id
    // and the integer waveform s_i = (i·k) mod 2003 - 1001 — a decoder
    // that does not parse RIFF PCM cannot reproduce peak/ssum.
    "q71_audio_decode" ->
      """WITH p AS (
        |  SELECT doc_id, 100 + doc_id % 400 AS n, 1 + doc_id % 7 AS k,
        |         8000 * (1 + doc_id % 3) AS rate
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(range(0, n)) AS i FROM p),
        |st AS (SELECT g.doc_id,
        |              max(abs((i * k) % 2003 - 1001)) AS peak,
        |              CAST(sum((i * k) % 2003 - 1001) AS BIGINT) AS ssum
        |       FROM g JOIN p USING (doc_id) GROUP BY g.doc_id)
        |SELECT p.doc_id, CAST(p.n AS INT) AS n_samples,
        |       CAST(p.rate AS INT) AS sample_rate,
        |       CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits,
        |       CAST(st.peak AS INT) AS peak, st.ssum
        |FROM p JOIN st USING (doc_id)""".stripMargin,
    "q74_stream_enrich" ->
      """SELECT e.event_id, e.user_id % 50 AS bucket,
        |       CAST(COALESCE(d.n_orders, 0) AS BIGINT) AS n_orders
        |FROM events e LEFT JOIN (
        |  SELECT o_custkey % 50 AS bucket, CAST(count(*) AS BIGINT) n_orders
        |  FROM orders GROUP BY 1) d ON d.bucket = e.user_id % 50""".stripMargin,
    "q75_csv_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "q86_orc_roundtrip" ->
      "SELECT p_partkey, p_name, p_brand, p_retailprice FROM part",
    // layout invisible to results: the oracle is the plain filter
    "q90_partitioned_scan" ->
      """SELECT event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1""".stripMargin,
    // reload + probe of the persisted PQ artifact must not cost recall
    "q91_pq_artifact" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,
    // END-TO-END v2: the same composed stages, now with the winnow
    // edges in the recursive cluster walk, the dup-line gate, and the
    // weighted priority tail (u exact, divisions IEEE-exact)
    "q100_training_corpus_v2" -> corpusV2Sql,
    "q163_training_corpus_v3" -> corpusV3Sql,
    // the flagship carried to TRAINING-READY: corpus (q100 SQL
    // verbatim) → leak-free split (q110's md5-unit on the canonical
    // survivor) → train split dealt into q140's shuffle-shards;
    // val/test ship whole (shard = pos = -1)
    "q143_corpus_shards" -> q143Sql,
    // the manifest is one aggregation over the q143 result — the
    // oracle replays the full shard SQL and rolls it up
    "q161_corpus_manifest" ->
      s"""SELECT split, source, lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM ($q143Sql) t
         |GROUP BY split, source, lang""".stripMargin,
    // integer sqrt-weights and quotas replayed exactly (IEEE sqrt is
    // correctly rounded on both engines, so floor agrees bit-for-bit;
    // // is DuckDB integer division, matching the driver-side Long
    // division); selection is q101's rank machinery
    "q144_mixture_sample" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM c),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
        |q AS (SELECT source, (200 * w) // tw AS quota FROM w, t),
        |pr AS (SELECT doc_id, source,
        |         ('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 8))::BIGINT
        |           / 4294967296.0 AS priority
        |       FROM documents),
        |r AS (SELECT doc_id, source, priority,
        |        row_number() OVER (PARTITION BY source
        |                           ORDER BY priority ASC, doc_id ASC) AS rk
        |      FROM pr)
        |SELECT r.doc_id, r.source, r.priority
        |FROM r JOIN q ON q.source = r.source
        |WHERE r.rk <= q.quota""".stripMargin,
    // q144's integer quota arithmetic on char MASS, then the greedy
    // prefix: an integer running sum over the identical (priority,
    // doc_id) order — admission while cum - cost < quota
    "q145_char_budget_mix" -> q145Sql,
    // BPE fit: the static chain sort IS the greedy merge order on the
    // planted corpus (disjoint alphabets; proof in BpeOps scaladoc)
    "q148_bpe_fit" -> q148Sql,
    // the tokenizer ARTIFACT reloaded from storage must reproduce the
    // same closed-form merge table: fit → store → load is lossless
    "q153_bpe_artifact" -> q148Sql,
    // artifact-encode ≡ fresh-fit encode under the stored alphabet:
    // violations must be the typed empty set
    "q154_bpe_artifact_encode" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |       CAST(NULL AS BIGINT) AS doc_id,
        |       CAST(NULL AS BIGINT) AS n_tokens,
        |       CAST(NULL AS BIGINT) AS n_unk,
        |       CAST(NULL AS BIGINT) AS ids_sum
        |WHERE 1 = 0""".stripMargin,
    // span-level exact dedup: 20-token windows, global first-keep,
    // survivors pinned per doc by the digest-of-digests
    "q155_span_dedup" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks w FROM documents),
         |sp0 AS (SELECT doc_id, w, unnest(range(0, (len(w) + 19) // 20)) i
         |        FROM toks),
         |sp AS (SELECT doc_id, CAST(i AS INT) span_idx,
         |         md5(array_to_string(w[i*20+1 : i*20+20], ' ')) span_md5,
         |         CAST(len(w[i*20+1 : i*20+20]) AS BIGINT) n_span_tok
         |       FROM sp0),
         |fl AS (SELECT *, row_number() OVER (PARTITION BY span_md5
         |         ORDER BY doc_id, span_idx) = 1 AS keep FROM sp)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN keep THEN n_span_tok ELSE 0 END) AS BIGINT)
         |    AS n_kept_tok,
         |  md5(coalesce(string_agg(CASE WHEN keep THEN span_md5 END, ' '
         |    ORDER BY span_idx), '')) AS kept_md5
         |FROM fl GROUP BY doc_id""".stripMargin,
    // bigram-LM score: add-one-smoothed transition probabilities in
    // fixed point (exact bigint sums; the one double op per row is a
    // correctly-rounded IEEE division both engines agree on)
    // two pruned bigram models (target domain vs the REST pool), each
    // truncated under the q156 total orders; the weight is the exact
    // BIGINT sum of 1e6-snapped smoothed likelihood ratios
    "q162_dsir_weights" -> q162Sql,
    // the selection tail over the same weights: top-k raw-pool docs
    "q165_dsir_select" ->
      s"""SELECT w.doc_id, w.n_bigrams, w.weight_fp, d.source
         |FROM ($q162Sql) w
         |JOIN documents d ON d.doc_id = w.doc_id AND d.source <> 'src0'
         |ORDER BY w.weight_fp DESC, w.doc_id ASC LIMIT 50""".stripMargin,
    // PII detect/redact over the planted corpus (PiiOps.plantedPiiCorpus
    // mirrored verbatim); regex classes explicit for RE2/Java parity
    "q166_pii_detect" ->
      s"""WITH p AS (SELECT doc_id, $duckPiiText AS text FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$duckEmailRe')) AS n_email,
         |  len(regexp_extract_all(text, '$duckPhoneRe')) AS n_phone,
         |  len(regexp_extract_all(text, '$duckIpRe')) AS n_ip,
         |  (len(regexp_extract_all(text, '$duckEmailRe'))
         |   + len(regexp_extract_all(text, '$duckPhoneRe'))
         |   + len(regexp_extract_all(text, '$duckIpRe'))) > 0 AS has_pii
         |FROM p""".stripMargin,
    "q167_pii_redact" -> q167Sql,
    // the same scrub through readStream (scrub-on-ingest): stateless
    // projection must land in the identical audit space
    "q171_stream_pii_scrub" -> q167Sql,
    // the flagship safety tail: v3's selection (nested WITH, the q165
    // convention) joined to the q167 scrub audit over the planted text
    "q169_redacted_corpus" ->
      s"""WITH $duckRedactCtes
         |SELECT sel.doc_id, sel.lang, sel.source, sel.n_tokens,
         |  sel.quality, sel.priority,
         |  $duckRedactAuditCols
         |FROM ($corpusV3Sql) sel JOIN r ON r.doc_id = sel.doc_id""".stripMargin,
    // URL blocklist verdict; host/domain regexes mirrored from PiiOps
    "q168_url_blocklist" ->
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
         |  ('s11.example')) b(domain) ON d.domain = b.domain""".stripMargin,
    "q156_bigram_lm" -> q156Sql,
    // LM-floor calibration: integer percentile over the q156 scores'
    // value histogram — percentile_disc semantics, k = ceil(pct·n/100)
    "q170_lm_floor" ->
      s"""WITH s AS ($q156Sql),
         |a AS (SELECT doc_id, score_fp // n_bigrams AS avg_fp FROM s),
         |h AS (SELECT avg_fp, CAST(count(*) AS BIGINT) cnt
         |      FROM a GROUP BY avg_fp),
         |hh AS (SELECT avg_fp, cnt,
         |         SUM(cnt) OVER (ORDER BY avg_fp ASC) cum FROM h),
         |h2 AS (SELECT avg_fp, cnt, cum, MAX(cum) OVER () n_docs FROM hh),
         |h3 AS (SELECT avg_fp, cnt, cum, n_docs,
         |         (n_docs * 15 + 99) // 100 AS k FROM h2)
         |SELECT CAST(min(CASE WHEN cum >= k THEN avg_fp END) AS BIGINT)
         |    AS floor_fp,
         |  CAST(max(n_docs) AS BIGINT) AS n_docs,
         |  CAST(coalesce(max(CASE WHEN cum < k THEN cum END), 0) AS BIGINT)
         |    AS n_gated
         |FROM h3""".stripMargin,
    // stupid backoff: tri/bi/uni count tables under the q156 total
    // orders, the same CASE ladder and double tree as the Spark side
    "q164_stupid_backoff" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks w FROM documents),
         |uni AS (SELECT u1, CAST(count(*) AS BIGINT) cu FROM (
         |          SELECT unnest(w) u1 FROM toks)
         |        GROUP BY u1 ORDER BY cu DESC, u1 ASC LIMIT 65536),
         |tot AS (SELECT CAST(count(*) AS BIGINT) n_total FROM (
         |          SELECT unnest(w) u1 FROM toks)),
         |bg0 AS (SELECT w, unnest(range(1, len(w))) i FROM toks),
         |bg AS (SELECT w[i] b1, w[i+1] b2 FROM bg0),
         |bi AS (SELECT b1, b2, CAST(count(*) AS BIGINT) cb FROM bg
         |       GROUP BY b1, b2
         |       ORDER BY cb DESC, b1 ASC, b2 ASC LIMIT 262144),
         |tg0 AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) i
         |        FROM toks WHERE len(w) >= 3),
         |tg AS (SELECT doc_id, w[i] w1, w[i+1] w2, w[i+2] w3 FROM tg0),
         |tri AS (SELECT w1 t1, w2 t2, w3 t3,
         |          CAST(count(*) AS BIGINT) ct FROM tg
         |        GROUP BY w1, w2, w3
         |        ORDER BY ct DESC, t1 ASC, t2 ASC, t3 ASC LIMIT 524288),
         |sc AS (SELECT d.doc_id,
         |         coalesce(t.ct, 0) ct, coalesce(b12.cb, 0) cb12,
         |         coalesce(b23.cb, 0) cb23, coalesce(u2.cu, 0) cu2,
         |         coalesce(u3.cu, 0) cu3, tot.n_total
         |       FROM tg d
         |       LEFT JOIN tri t ON t.t1 = d.w1 AND t.t2 = d.w2
         |                      AND t.t3 = d.w3
         |       LEFT JOIN bi b12 ON b12.b1 = d.w1 AND b12.b2 = d.w2
         |       LEFT JOIN bi b23 ON b23.b1 = d.w2 AND b23.b2 = d.w3
         |       LEFT JOIN uni u2 ON u2.u1 = d.w2
         |       LEFT JOIN uni u3 ON u3.u1 = d.w3
         |       CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |  CAST(sum(CASE WHEN NOT (ct > 0 AND cb12 > 0)
         |                 AND (cb23 > 0 AND cu2 > 0)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff_bi,
         |  CAST(sum(CASE WHEN NOT (ct > 0 AND cb12 > 0)
         |                 AND NOT (cb23 > 0 AND cu2 > 0)
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff_uni,
         |  CAST(sum(CAST(round(1e6 * (
         |    CASE WHEN ct > 0 AND cb12 > 0
         |           THEN CAST(ct AS DOUBLE) / CAST(cb12 AS DOUBLE)
         |         WHEN cb23 > 0 AND cu2 > 0
         |           THEN 0.4 * (CAST(cb23 AS DOUBLE) / CAST(cu2 AS DOUBLE))
         |         ELSE 0.4 * (0.4 * (CAST(cu3 AS DOUBLE)
         |           / CAST(n_total AS DOUBLE)))
         |    END)) AS BIGINT)) AS BIGINT) AS score_fp
         |FROM sc GROUP BY doc_id""".stripMargin,
    // BPE encode: rank-case closed form for counts and id sums
    "q149_bpe_encode" -> q149Sql,
    // the same closed form through readStream + the stored tokenizer:
    // the streaming encode must land in the identical id space
    "q158_stream_bpe_encode" -> q149Sql,
    // q70's window over the planted subword counts, budget 16
    "q150_bpe_pack" ->
      s"""WITH $bpeCtes
         |SELECT doc_id, lang, doc_id % 8 AS shard, n_tok,
         |       CAST(floor((sum(n_tok) OVER (PARTITION BY lang, doc_id % 8
         |                    ORDER BY doc_id) - n_tok) / 16.0) AS BIGINT)
         |         AS pack_id
         |FROM btok""".stripMargin,
    // q145's greedy fill with cost = planted subword tokens
    "q151_token_budget_mix" ->
      s"""WITH $bpeCtes,
         |m2 AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS mass
         |       FROM btok GROUP BY source),
         |w2 AS (SELECT source,
         |         CAST(floor(sqrt(CAST(mass AS DOUBLE))) AS BIGINT) AS w FROM m2),
         |t2 AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w2),
         |q2 AS (SELECT source, (1000 * w) // tw AS quota FROM w2, t2),
         |pr2 AS (SELECT doc_id, source, n_tok,
         |          ('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 8))::BIGINT
         |            / 4294967296.0 AS priority
         |        FROM btok),
         |r2 AS (SELECT doc_id, source, n_tok, priority,
         |         CAST(sum(n_tok) OVER (PARTITION BY source
         |                ORDER BY priority ASC, doc_id ASC
         |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |       FROM pr2)
         |SELECT r2.doc_id, r2.source, r2.n_tok, r2.priority
         |FROM r2 JOIN q2 ON q2.source = r2.source
         |WHERE r2.cum - r2.n_tok < q2.quota""".stripMargin,
    // bit-identical to q145 by the pre-thinning containment proof —
    // the thinned composition is held to the UNTHINNED oracle
    "q152_cost_budget_thinned" -> q145Sql,
    // pretokenized fit: "." is a pair-free unit, so the merge table
    // equals the q148 closed form row for row
    "q159_bpe_pretok_fit" -> q148Sql,
    // pretokenized encode under the stored ('.'-first) alphabet:
    // '.' takes id 0 and shifts base ids by one (letter x_j = 2j+1,
    // y_j = 2j+2; merge ids 17+rank); one extra "." token (id 0) per
    // repetition beside the q149 word tokens
    "q160_bpe_pretok_encode" ->
      s"""WITH $bpeCtes
         |SELECT d.doc_id,
         |  CAST(CASE WHEN jr.rk2 < 12 THEN 2 * (1 + d.doc_id % 5)
         |            WHEN jr.rk1 < 12 THEN 3 * (1 + d.doc_id % 5)
         |            ELSE 5 * (1 + d.doc_id % 5) END AS BIGINT) AS n_tokens,
         |  CAST(0 AS BIGINT) AS n_unk,
         |  CAST(CASE WHEN jr.rk2 < 12
         |              THEN (1 + d.doc_id % 5) * (17 + jr.rk2)
         |            WHEN jr.rk1 < 12
         |              THEN 2 * (1 + d.doc_id % 5) * (17 + jr.rk1)
         |            ELSE (1 + d.doc_id % 5) * (8 * jr.j + 6)
         |       END AS BIGINT) AS ids_sum
         |FROM documents d JOIN jr ON jr.j = CAST(d.doc_id % 8 AS INT)""".stripMargin,
    // fertility/compression closed forms on the planted corpus: word
    // count per doc is m = 1 + doc_id % 5, each planted word is 4
    // chars, token count is btok's rank-case form, UNK provably 0
    // (every word's chain-1 merge lands inside the 12 kept ranks)
    "q157_bpe_fertility" ->
      s"""WITH $bpeCtes
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(m) AS BIGINT) AS n_words,
         |  CAST(sum(4 * m) AS BIGINT) AS n_chars,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(0 AS BIGINT) AS n_unk,
         |  CAST(round(1e6 * CAST(sum(n_tok) AS DOUBLE)
         |       / CAST(sum(m) AS DOUBLE)) AS BIGINT) AS fertility_fp,
         |  CAST(round(1e6 * CAST(sum(4 * m) AS DOUBLE)
         |       / CAST(sum(n_tok) AS DOUBLE)) AS BIGINT) AS chars_per_tok_fp
         |FROM btok GROUP BY source""".stripMargin,
    // digest audit of a faithful artifact: the empty set, typed
    "q147_shard_digest_audit" ->
      """SELECT CAST(NULL AS VARCHAR) AS split,
        |       CAST(NULL AS INT) AS shard,
        |       CAST(NULL AS BIGINT) AS n_rows_artifact,
        |       CAST(NULL AS BIGINT) AS n_rows_expected,
        |       CAST(NULL AS BIGINT) AS digest_artifact,
        |       CAST(NULL AS BIGINT) AS digest_expected
        |WHERE 1 = 0""".stripMargin,
    // persist → reload lifecycle gate: violations must be empty
    "q146_shard_artifact" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |       CAST(NULL AS BIGINT) AS doc_id,
        |       CAST(NULL AS VARCHAR) AS lang,
        |       CAST(NULL AS VARCHAR) AS source,
        |       CAST(NULL AS BIGINT) AS n_tokens,
        |       CAST(NULL AS VARCHAR) AS split,
        |       CAST(NULL AS INT) AS shard,
        |       CAST(NULL AS INT) AS pos
        |WHERE 1 = 0""".stripMargin,
    // hash-priority per-source cap: row_number over the identical
    // md5 priority, ties broken by doc_id on both engines
    "q101_domain_cap" ->
      """WITH pr AS (
        |  SELECT doc_id, source,
        |         ('0x' || substr(md5(doc_id::VARCHAR || ':cap'), 1, 8))::BIGINT
        |           / 4294967296.0 AS priority
        |  FROM documents),
        |r AS (SELECT doc_id, source, priority,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY priority ASC, doc_id ASC) AS rk
        |      FROM pr)
        |SELECT doc_id, source, priority FROM r WHERE rk <= 10""".stripMargin,
    // frequency-rank ids and the coverage curve; cum_frac is
    // integer-valued-double division, IEEE-exact on both engines
    "q102_vocab" ->
      s"""WITH tok AS (SELECT unnest($duckToks) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT)
         |         AS token_id,
         |       token, CAST(cnt AS BIGINT) AS cnt,
         |       CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ASC
         |                           ROWS BETWEEN UNBOUNDED PRECEDING
         |                           AND CURRENT ROW) AS DOUBLE)
         |         / CAST(sum(cnt) OVER () AS DOUBLE) AS cum_frac
         |FROM c""".stripMargin,
    // the streaming audit's final emission vs the plain batch SQL
    // over the same event rows — the q99/q103 parity contract
    "q127_audit_stream" ->
      """SELECT 'event_type_domain' AS check_name,
        |       CAST(count(*) AS BIGINT) AS n_checked,
        |       CAST(sum(CASE WHEN event_type NOT IN ('view', 'click', 'purchase')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM events
        |UNION ALL
        |SELECT 'value_nonneg', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM events
        |UNION ALL
        |SELECT 'user_id_notnull', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM events""".stripMargin,
    // every audit row re-derived as plain SQL: conditional counts,
    // n_rows − n_distinct keys, and the anti-join orphan count
    "q126_constraints" ->
      """SELECT 'l_quantity_range' AS check_name,
        |       CAST(count(*) AS BIGINT) AS n_checked,
        |       CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_discount_range',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0 AND 1)
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate_notnull',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'o_orderkey_unique',
        |       CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey IS NOT NULL
        |UNION ALL
        |SELECT 'l_orderkey_fk',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT)
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_orderkey IS NOT NULL""".stripMargin,
    // the same rank chain as q102, trimmed, LEFT-joined back onto the
    // token stream — n_oov and the id-sum digest must both land
    "q124_vocab_encode" ->
      s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         |v AS (SELECT token, token_id FROM (
         |        SELECT token,
         |               CAST(row_number() OVER (ORDER BY cnt DESC, token ASC)
         |                    AS BIGINT) AS token_id
         |        FROM c) z
         |      WHERE token_id <= 1000)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_oov,
         |       CAST(coalesce(sum(v.token_id), 0) AS BIGINT) AS ids_sum
         |FROM tok t LEFT JOIN v USING (token)
         |GROUP BY 1""".stripMargin,
    // the streaming CDC materialization answers to the BATCH merge
    // oracle — q88's latest-wins SQL verbatim
    "q103_cdc_stream" ->
      """WITH narrow AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders),
        |existing AS (SELECT * FROM narrow WHERE o_orderkey % 3 <> 0),
        |updates AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice,
        |         'UPDATED' AS o_orderpriority
        |  FROM narrow WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice, o_orderpriority
        |  FROM narrow WHERE o_orderkey % 11 = 0)
        |SELECT * FROM existing
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |UNION ALL
        |SELECT * FROM updates""".stripMargin,
    // the STREAMING funnel answers to the BATCH oracle — identical
    // chained-min semantics re-derived relationally (q92's SQL)
    "q99_funnel_stream" ->
      """WITH s1 AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
        |  GROUP BY 1)
        |SELECT CAST(1 AS INT) AS stage, 'view' AS step, count(*) AS users FROM s1
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', count(*) FROM s2
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', count(*) FROM s3""".stripMargin,
    // q15's oracle shape with the min() denominator
    "q98_containment" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks w FROM documents),
         |sh AS (SELECT DISTINCT doc_id, g FROM (
         |  SELECT doc_id, unnest($duckShingles) g FROM toks)),
         |capped AS (
         |  SELECT doc_id, g FROM (
         |    SELECT doc_id, g, count(*) OVER (PARTITION BY g) df FROM sh)
         |  WHERE df <= ${DedupOps.defaultMaxShingleDf}),
         |sized AS (
         |  SELECT doc_id, g, count(*) OVER (PARTITION BY doc_id) sz FROM capped),
         |co AS (
         |  SELECT l.doc_id doc_a, r.doc_id doc_b, l.sz sz_a, r.sz sz_b,
         |         count(*) common
         |  FROM sized l JOIN sized r ON l.g = r.g AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b,
         |       round(CAST(common AS DOUBLE) / least(sz_a, sz_b), 6) AS overlap
         |FROM co
         |WHERE round(CAST(common AS DOUBLE) / least(sz_a, sz_b), 6) >= 0.8""".stripMargin,
    // binning is floor(v / literal): correctly-rounded division, so
    // bit-identical bins on both engines; top bin absorbs overflow
    "q96_histogram" ->
      """SELECT bin, cnt, CAST(bin AS DOUBLE) * 25000.0 AS lo FROM (
        |  SELECT CAST(least(floor(o_totalprice / 25000.0), 19) AS INT) AS bin,
        |         count(*) AS cnt
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |  GROUP BY 1)""".stripMargin,
    // lift from exact integer counts (products < 2^53): the double
    // division is IEEE-exact on both engines, no transcendentals
    "q97_collocations" ->
      s"""WITH toks AS (SELECT $duckToks w FROM documents),
         |uni AS (SELECT unnest(w) t FROM toks),
         |uc AS (SELECT t, count(*) c FROM uni GROUP BY 1),
         |total AS (SELECT count(*) n_total FROM uni),
         |bi AS (SELECT unnest(list_transform(range(1, len(w)),
         |              i -> array_to_string(w[i:i+1], ' '))) gram FROM toks),
         |bc AS (SELECT gram, count(*) c_ab FROM bi GROUP BY 1
         |       HAVING count(*) >= 5),
         |parts AS (SELECT gram, c_ab, str_split(gram, ' ')[1] a,
         |                 str_split(gram, ' ')[2] b FROM bc)
         |SELECT gram, c_ab,
         |       round(CAST(c_ab * n_total AS DOUBLE)
         |             / CAST(ua.c * ub.c AS DOUBLE), 6) AS lift
         |FROM parts JOIN uc ua ON parts.a = ua.t
         |           JOIN uc ub ON parts.b = ub.t, total
         |ORDER BY lift DESC, gram ASC LIMIT 20""".stripMargin,
    // independent relational re-derivation: row_number windows +
    // offset self-joins instead of the array pipeline
    "q95_event_paths" ->
      """WITH ordered AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |tri AS (
        |  SELECT a.event_type || '>' || b.event_type || '>' || c.event_type AS path
        |  FROM ordered a
        |  JOIN ordered b ON a.user_id = b.user_id AND b.rn = a.rn + 1
        |  JOIN ordered c ON a.user_id = c.user_id AND c.rn = a.rn + 2)
        |SELECT path, count(*) AS cnt FROM tri GROUP BY 1
        |ORDER BY cnt DESC, path ASC LIMIT 10""".stripMargin,
    // u is exact in double (32-bit hash over 2^32); both divisions are
    // IEEE correctly rounded, so priorities match bit-for-bit
    "q94_priority_sample" ->
      """SELECT doc_id, n_chars,
        |       (('0x' || substr(md5(doc_id::VARCHAR || ':'), 1, 8))::BIGINT
        |          / 4294967296.0) / n_chars AS priority
        |FROM documents WHERE n_chars > 0
        |ORDER BY priority ASC, doc_id ASC LIMIT 100""".stripMargin,
    // integer µs week bucketing on both engines — exact parity
    "q93_retention" ->
      """WITH firsts AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us
        |  FROM events GROUP BY 1),
        |offs AS (
        |  SELECT DISTINCT e.user_id,
        |         (epoch_us(e.ts) - f.first_us) // 604800000000 AS week_off
        |  FROM events e JOIN firsts f ON e.user_id = f.user_id)
        |SELECT week_off, count(*) AS users FROM offs GROUP BY 1""".stripMargin,
    // funnel re-derived with the same chained min-ts CTEs; µs space
    // on both engines (unix_micros / epoch_us)
    "q92_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
        |  GROUP BY 1)
        |SELECT CAST(1 AS INT) AS stage, 'view' AS step, count(*) AS users FROM s1
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', count(*) FROM s2
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', count(*) FROM s3""".stripMargin,
    // the MERGE rewrite re-derived relationally: NOT IN + UNION ALL
    "q88_upsert" ->
      """WITH narrow AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders),
        |existing AS (SELECT * FROM narrow WHERE o_orderkey % 3 <> 0),
        |updates AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice,
        |         'UPDATED' AS o_orderpriority
        |  FROM narrow WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice, o_orderpriority
        |  FROM narrow WHERE o_orderkey % 11 = 0)
        |SELECT * FROM existing
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |UNION ALL
        |SELECT * FROM updates""".stripMargin,
    // diff via full-outer with IS DISTINCT FROM per value column
    "q89_snapshot_diff" ->
      """WITH narrow AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders),
        |existing AS (SELECT * FROM narrow WHERE o_orderkey % 3 <> 0),
        |updates AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice,
        |         'UPDATED' AS o_orderpriority
        |  FROM narrow WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice, o_orderpriority
        |  FROM narrow WHERE o_orderkey % 11 = 0),
        |merged AS (
        |  SELECT * FROM existing
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |  UNION ALL
        |  SELECT * FROM updates)
        |SELECT * FROM (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |         CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |              WHEN n.o_orderkey IS NULL THEN 'removed'
        |              WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
        |                OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |                OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
        |                THEN 'changed' END AS change
        |  FROM narrow o FULL OUTER JOIN merged n
        |    ON o.o_orderkey = n.o_orderkey)
        |WHERE change IS NOT NULL""".stripMargin,
    // first-occurrence line filter re-derived with DuckDB's 1-based
    // indexed lambda; md5 pins cleaned content and order
    "q87_strip_lines" ->
      """WITH lines AS (
        |  SELECT doc_id,
        |         list_filter(list_transform(string_split(text, chr(10)),
        |                     x -> trim(x)), x -> x <> '') AS l
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, l,
        |         list_filter(l, (x, i) -> list_position(l, x) = i) AS k
        |  FROM lines)
        |SELECT doc_id,
        |       CAST(len(l) AS INT) AS n_lines,
        |       CAST(len(l) - len(k) AS INT) AS n_removed,
        |       md5(array_to_string(k, chr(10))) AS clean_md5
        |FROM kept""".stripMargin,
    // Overlapping 64-token chunks every 48 tokens; the md5 pins the
    // chunk CONTENT (token slice parity), not just the offsets.
    "q77_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, $duckToks w FROM documents),
         |n AS (SELECT doc_id, w, len(w) n_tok FROM t),
         |s AS (SELECT doc_id, w, unnest(range(0, n_tok, 48)) start_tok
         |      FROM n WHERE n_tok > 0)
         |SELECT doc_id,
         |       CAST(floor(start_tok / 48.0) AS INT) AS chunk_idx,
         |       CAST(start_tok AS INT) AS start_tok,
         |       CAST(len(w[start_tok+1:start_tok+64]) AS INT) AS n_chunk_tok,
         |       md5(array_to_string(w[start_tok+1:start_tok+64], ' '))
         |         AS chunk_md5
         |FROM s""".stripMargin,
    // Temperature mixing: the exponent is interpolated from the SAME
    // double arithmetic the engine uses (1.0 - alpha is not the
    // decimal literal 0.3), so pow() sees bit-identical inputs.
    "q76_temperature_sample" ->
      s"""WITH c AS (SELECT source, count(*) n_s FROM documents GROUP BY 1),
         |m AS (SELECT min(n_s) n_min FROM c),
         |r AS (SELECT source,
         |             pow(CAST(n_min AS DOUBLE) / n_s, ${1.0 - 0.7}) rate
         |      FROM c, m)
         |SELECT d.doc_id, d.source, d.lang
         |FROM documents d
         |JOIN r ON d.source IS NOT DISTINCT FROM r.source
         |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':mix'), 1, 8))::BIGINT
         |        / 4294967296.0 < r.rate""".stripMargin,
    "q72_salted_sum" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_l_quantity
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q73_salted_join" ->
      """SELECT l_suppkey AS key, l_orderkey, l_linenumber, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,
    "q18_langid" ->
      s"""WITH markers(token, cand_lang, weight) AS (VALUES $langMarkerValues),
         |toks AS (SELECT doc_id, unnest($duckToks) token FROM documents),
         |scores AS (
         |  SELECT doc_id, cand_lang, CAST(sum(weight) AS BIGINT) score
         |  FROM toks JOIN markers USING (token) GROUP BY 1, 2),
         |best AS (
         |  SELECT doc_id, cand_lang, score,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY score DESC, cand_lang ASC) rn
         |  FROM scores)
         |SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS pred_lang,
         |       coalesce(b.score, 0) AS score
         |FROM documents d
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id""".stripMargin,
    "q19_quality" -> qualitySql,
    "q20_tokens" ->
      s"""SELECT doc_id,
         |       CAST(len($duckToks) AS INT) AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(text, '${TextOps.bpeTokenRe}')) AS INT) AS n_bpe_tokens
         |FROM documents""".stripMargin,
    // identical oracle as q20: the engine side must survive a JSONL
    // round trip losslessly to match it
    "q48_jsonl_roundtrip" ->
      s"""SELECT doc_id,
         |       CAST(len($duckToks) AS INT) AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(text, '${TextOps.bpeTokenRe}')) AS INT) AS n_bpe_tokens
         |FROM documents""".stripMargin,
    "q21_fingerprint" ->
      s"""WITH base AS (SELECT doc_id, $duckToks w FROM documents)
         |SELECT doc_id,
         |       md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fp,
         |       CAST(len(list_distinct(w)) AS INT) AS n_distinct_tokens
         |FROM base""".stripMargin,
    "q22_json" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin,
    // header sniff must recover the same dimensions the full decode
    // does — the oracle re-derives them from the fixture formulas
    "q23_multimodal" ->
      """SELECT doc_id,
        |       CAST(1 + doc_id % 64 AS INT) AS width,
        |       CAST(1 + (doc_id * 7) % 48 AS INT) AS height,
        |       'png' AS format
        |FROM documents""".stripMargin,
    "q24_typed_mapreduce" -> q01Base,
    "q33_udaf_mean" -> q01Base,
    "q25_stream_window" -> q10Sql,
    "q35_pivot" ->
      """SELECT l_linestatus,
        |       CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS A,
        |       CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS N,
        |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS R
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,
    "q36_sliding_window" ->
      """WITH e AS (
        |  SELECT event_type, value, epoch_us(ts) us FROM events),
        |w AS (
        |  SELECT event_type, value,
        |         (us // 1800000000 - sh) * 1800000000 AS w_start_us
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 2)) sh) shifts
        |  WHERE us - (us // 1800000000 - sh) * 1800000000 < 3600000000)
        |SELECT strftime(make_timestamp(w_start_us), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    "q39_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q40_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q42_edit_dist" ->
      """WITH x AS (
        |  SELECT source, doc_id, text,
        |         lead(doc_id) OVER w AS nxt_id,
        |         lead(text) OVER w AS nxt
        |  FROM documents
        |  WINDOW w AS (PARTITION BY source ORDER BY doc_id ASC))
        |SELECT source, doc_id, nxt_id,
        |       CAST(levenshtein(substr(text, 1, 200), substr(nxt, 1, 200)) AS INT) AS edit_dist
        |FROM x WHERE nxt IS NOT NULL""".stripMargin,
    "q38_rolling_fp" ->
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 2147483647) AS rh,
        |       CAST(length(text) AS INT) AS n_chars
        |FROM documents""".stripMargin,
    "q37_percentiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q29_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q30_setops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT o_custkey, 'both' AS op FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_1995' AS op FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_1996' AS op FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)""".stripMargin,
    "q31_sql_subquery" -> Relational.maxOrderSql,
    "q32_sessionize" -> sessionizeSql,
    // the STREAMING sessionizer must reproduce the batch sessions
    // exactly — same oracle as q32
    "q58_sessionize_stream" -> sessionizeSql,
    "q59_incr_dedup" -> incrDedupSql,
    // the Bloom-accelerated operator must be indistinguishable from
    // the exact one — identical oracle
    "q61_incr_dedup_bloom" -> incrDedupSql,
    "q60_incr_neardup" ->
      s"""WITH $minhashBandsCtes
         |SELECT DISTINCT n.doc_id AS doc_new, e.doc_id AS doc_existing
         |FROM bands n JOIN bands e ON n.b = e.b AND n.bh = e.bh
         |WHERE n.doc_id % 2 = 1 AND e.doc_id % 2 = 0""".stripMargin,
    // the streaming form must reproduce the batch candidate set
    // exactly — same oracle as q60
    "q82_stream_neardup" ->
      s"""WITH $minhashBandsCtes
         |SELECT DISTINCT n.doc_id AS doc_new, e.doc_id AS doc_existing
         |FROM bands n JOIN bands e ON n.b = e.b AND n.bh = e.bh
         |WHERE n.doc_id % 2 = 1 AND e.doc_id % 2 = 0""".stripMargin,
    "q27_simhash_pairs" -> simhashPairsSql,
    // Approximate-operator gates: the engine emits VIOLATIONS (estimate
    // outside its error bound / recall@k below threshold, computed
    // against the exact operator in the same job); the oracle verifies
    // the violation set is empty, with matching schema.
    "q26_approx_distinct" ->
      """SELECT CAST(NULL AS VARCHAR) AS o_orderpriority,
        |       CAST(NULL AS BIGINT) AS n_exact,
        |       CAST(NULL AS BIGINT) AS n_approx,
        |       CAST(NULL AS DOUBLE) AS rel_err
        |WHERE 1 = 0""".stripMargin,
    "q28_knn_lsh" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,
    "q44_percentile_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS l_returnflag,
        |       CAST(NULL AS DOUBLE) AS p50_approx,
        |       CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi
        |WHERE 1 = 0""".stripMargin,
    "q67_topk_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS reason, CAST(NULL AS VARCHAR) AS tok,
        |       CAST(NULL AS BIGINT) AS est, CAST(NULL AS BIGINT) AS n_exact
        |WHERE 1 = 0""".stripMargin,
    // DuckDB has a NATIVE ASOF JOIN — the engine's composed
    // union+window form must agree with it exactly.
    "q45_asof_join" ->
      """WITH r AS (SELECT DISTINCT o_custkey % 50 AS key, o_orderdate FROM orders),
        |     l AS (SELECT event_id, user_id % 50 AS key, ts FROM events)
        |SELECT l.event_id, l.key,
        |       strftime(r.o_orderdate, '%Y-%m-%d') AS asof_date
        |FROM l ASOF LEFT JOIN r
        |  ON l.key = r.key AND r.o_orderdate <= l.ts""".stripMargin,
    // The native-operator form must agree with the same DuckDB ASOF
    // JOIN the composed q45 is held to.
    "q64_asof_native" ->
      """WITH r AS (SELECT DISTINCT o_custkey % 50 AS key, o_orderdate FROM orders),
        |     l AS (SELECT event_id, user_id % 50 AS key, ts FROM events)
        |SELECT l.event_id, l.key,
        |       strftime(r.o_orderdate, '%Y-%m-%d') AS asof_date
        |FROM l ASOF LEFT JOIN r
        |  ON l.key = r.key AND r.o_orderdate <= l.ts""".stripMargin,
    // FORWARD direction is DuckDB-native (the >= inequality); the
    // 30-day tolerance is a post-filter on the matched date, which is
    // equivalent because the forward pick is the earliest at-or-after
    // row — if it exceeds the bound, every at-or-after row does.
    "q79_asof_tolerance" ->
      """WITH r AS (SELECT DISTINCT o_custkey % 50 AS key, o_orderdate FROM orders),
        |     l AS (SELECT event_id, user_id % 50 AS key, ts FROM events)
        |SELECT l.event_id, l.key,
        |       CASE WHEN epoch_us(r.o_orderdate) - epoch_us(l.ts)
        |                   <= 30::BIGINT * 86400 * 1000000
        |            THEN strftime(r.o_orderdate, '%Y-%m-%d') END AS asof_date
        |FROM l ASOF LEFT JOIN r
        |  ON l.key = r.key AND r.o_orderdate >= l.ts""".stripMargin,
    // NEAREST composes DuckDB's backward and forward ASOF picks and
    // keeps the smaller absolute distance, ties to the earlier row —
    // exactly the operator's two-candidate structure.
    "q81_asof_nearest" ->
      """WITH r AS (SELECT DISTINCT o_custkey % 50 AS key, o_orderdate FROM orders),
        |     l AS (SELECT event_id, user_id % 50 AS key, ts FROM events),
        |b AS (SELECT l.event_id, r.o_orderdate bd FROM l ASOF LEFT JOIN r
        |        ON l.key = r.key AND r.o_orderdate <= l.ts),
        |f AS (SELECT l.event_id, r.o_orderdate fd FROM l ASOF LEFT JOIN r
        |        ON l.key = r.key AND r.o_orderdate >= l.ts)
        |SELECT l.event_id, l.key,
        |       strftime(
        |         CASE WHEN bd IS NOT NULL AND (fd IS NULL OR
        |                     epoch_us(l.ts) - epoch_us(bd)
        |                       <= epoch_us(fd) - epoch_us(l.ts))
        |              THEN bd ELSE fd END, '%Y-%m-%d') AS asof_date
        |FROM l JOIN b USING (event_id) JOIN f USING (event_id)""".stripMargin,
    // DuckDB plans the inequality condition natively (IEJoin); the
    // engine's binned equi-join form must agree exactly.
    "q46_range_join" ->
      """SELECT l.event_id, l.event_type,
        |       CAST(count(r.ts) AS BIGINT) AS n_prev
        |FROM events l LEFT JOIN events r
        |  ON l.event_type = r.event_type
        | AND epoch_us(r.ts) >= epoch_us(l.ts) - 1800000000
        | AND epoch_us(r.ts) < epoch_us(l.ts)
        |GROUP BY 1, 2""".stripMargin,
    "q34_knn_ivf" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,
    // the artifact round trip is held to the identical empty-violation
    // contract: reload + pruned probe must not cost recall
    "q78_ivf_artifact" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,
    // append against the frozen quantizer must not cost recall either
    "q83_ivf_append" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,
    // the reloaded+appended compound index must hold q125's joint gate
    "q136_ivfpq_artifact" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,
    // winnowing re-derived with DuckDB list lambdas one-to-one
    "q85_winnow_pairs" -> winnowPairsSql,
    // the bucketed layout must be invisible to results: the oracle is
    // the PLAIN join over the same parquet
    "q84_bucketed_join" ->
      """SELECT c_mktsegment,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q80_knn_pq" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,
    // the compound IVF-PQ approximation must clear the joint recall
    // gate: the violation set is empty
    "q125_ivfpq" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,
    // Real-codec round trip: the oracle predicts the dimensions the
    // PNG decoder must recover from the generated payloads.
    "q43_image_decode" ->
      """SELECT doc_id,
        |       CAST(1 + doc_id % 64 AS INT) AS width,
        |       CAST(1 + (doc_id * 7) % 48 AS INT) AS height,
        |       'png' AS format
        |FROM documents""".stripMargin,
    // Real-decode feature gate: every histogram count is re-derived
    // from the deterministic gradient — a featureExtract that does not
    // decode actual pixels cannot match.
    "q49_image_features" ->
      s"""WITH $imageHistCtes
         |SELECT doc_id, CAST(bin AS INT) AS bin, cnt FROM fvrows""".stripMargin,
    // The decoded-raster embeddings run through the SAME exact-kNN
    // engine as q16; the oracle recomputes the whole pipeline
    // (pixels → histograms → cosine top-k) independently. Counts are
    // integers, so each double fold is exact and the two engines agree
    // bit-for-bit.
    "q50_image_knn" ->
      s"""WITH $imageHistCtes,
         |f AS (SELECT doc_id, list(CAST(cnt AS DOUBLE) ORDER BY bin) v
         |      FROM fvrows GROUP BY doc_id),
         |q AS (SELECT doc_id AS query_id, v AS qv FROM f WHERE doc_id < 5),
         |scored AS (
         |  SELECT q.query_id, f.doc_id AS vec_id,
         |         ${duckCosine("f.v", "q.qv")} AS sim
         |  FROM f CROSS JOIN q WHERE f.doc_id <> q.query_id),
         |r AS (SELECT query_id, vec_id, sim,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |                  ORDER BY sim DESC, vec_id ASC) AS INT) AS rnk
         |      FROM scored)
         |SELECT query_id, rnk, vec_id, sim FROM r WHERE rnk <= 10""".stripMargin,
    // Resize round trip: the oracle predicts the post-resize dims the
    // re-decode must recover (same double arithmetic both sides:
    // scale = min(1, 32/max(w,h)), floor of w*scale, floor of h*scale).
    "q51_image_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) w,
        |         CAST(1 + (doc_id * 7) % 48 AS BIGINT) h
        |  FROM documents),
        |s AS (SELECT doc_id, w, h,
        |             LEAST(1.0, 32.0 / GREATEST(w, h)) scale FROM dims)
        |SELECT doc_id,
        |       CAST(GREATEST(1, floor(w * scale)) AS INT) AS width,
        |       CAST(GREATEST(1, floor(h * scale)) AS INT) AS height,
        |       'png' AS format
        |FROM s""".stripMargin,
    // Deterministic stratified sampling: the oracle replays the exact
    // md5-hash-unit decision per row (first 32 md5 bits / 2^32 — a
    // power-of-two division, exact in double on both engines).
    // the mangling rule replayed: ok rows per lang from the clean
    // table, corrupt count from the rule's complement
    "q141_corrupt_jsonl" ->
      """SELECT 'ok' AS status, lang, count(*) AS n
        |FROM documents WHERE doc_id % 97 <> 13 GROUP BY lang
        |UNION ALL
        |SELECT 'corrupt', CAST(NULL AS VARCHAR), count(*)
        |FROM documents WHERE doc_id % 97 = 13
        |HAVING count(*) > 0""".stripMargin,
    // hashUnit replayed; shard = floor(u * 16) clamped; pos =
    // row_number within shard over (u, doc_id) — INT to match Spark
    "q140_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(doc_id::VARCHAR || ':shuffle'), 1, 8))::BIGINT
        |           / 4294967296.0 AS u
        |  FROM documents),
        |s AS (SELECT doc_id, u,
        |        CAST(least(floor(u * 16), 15) AS INT) AS shard FROM h)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY u, doc_id)
        |            AS INT) AS pos
        |FROM s""".stripMargin,
    "q52_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':'), 1, 8))::BIGINT
        |        / 4294967296.0
        |      < CASE WHEN lang = 'en' THEN 0.5
        |             WHEN lang = 'de' THEN 0.25 ELSE 0.9 END""".stripMargin,
    // Planted-PII redaction: oracle replays the augmentation AND the
    // redaction (counts + md5 of the replaced text), so a regex that
    // matches or replaces differently cannot pass.
    "q63_redact_pii" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 5 = 0
         |              THEN text || ' reach user' || doc_id::VARCHAR ||
         |                   '@example.com or +49-151-' ||
         |                   lpad((doc_id % 10000000)::VARCHAR, 7, '0')
         |              ELSE text END t
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(t, '${TextOps.emailRe}', 0)) AS INT) AS n_emails,
         |       CAST(len(regexp_extract_all(t, '${TextOps.phoneRe}', 0)) AS INT) AS n_phones,
         |       md5(regexp_replace(
         |             regexp_replace(t, '${TextOps.emailRe}', '[EMAIL]', 'g'),
         |             '${TextOps.phoneRe}', '[PHONE]', 'g')) AS redacted_fp
         |FROM aug""".stripMargin,
    "q62_repetition" ->
      s"""WITH lines AS (
         |  SELECT doc_id,
         |         list_filter(list_transform(string_split(text, chr(10)),
         |                     x -> trim(x)), x -> x <> '') l
         |  FROM documents),
         |ls AS (SELECT doc_id, len(l) n_lines,
         |              len(l) - len(list_distinct(l)) n_dup FROM lines),
         |$bigramFracCtes
         |SELECT ls.doc_id, CAST(ls.n_lines AS INT) AS n_lines,
         |       round(CASE WHEN ls.n_lines > 0
         |                  THEN CAST(ls.n_dup AS DOUBLE) / ls.n_lines
         |                  ELSE 0 END, 6) AS dup_line_frac,
         |       rep.top_bigram_frac
         |FROM ls JOIN rep ON rep.doc_id = ls.doc_id""".stripMargin,
    "q56_ngrams" ->
      s"""WITH toks AS (SELECT lang, $duckToks w FROM documents),
         |g AS (SELECT lang, unnest(list_transform(range(1, len(w)),
         |                    i -> array_to_string(w[i:i+1], ' '))) gram
         |      FROM toks)
         |SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2""".stripMargin,
    "q53_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckToks) token FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) tf
         |       FROM toks GROUP BY 1, 2),
         |dfx AS (SELECT token, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) n FROM documents)
         |SELECT doc_id, token, tf, df,
         |       round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
         |FROM tf JOIN dfx USING (token) CROSS JOIN n""".stripMargin,
    // Frame-sampling round trip: real multi-frame GIFs re-opened and
    // sampled; the oracle re-derives frame counts, sampled indices
    // (k·n/s spacing), and per-frame dims from the formulas alone.
    "q55_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(2 + doc_id % 5 AS INT) n,
        |         CAST(1 + doc_id % 64 AS INT) w,
        |         CAST(1 + (doc_id * 7) % 48 AS INT) h
        |  FROM documents),
        |s AS (SELECT doc_id, n, w, h, LEAST(4, n) s FROM d),
        |k AS (SELECT doc_id, n, w, h, s, unnest(range(0, s)) k FROM s)
        |SELECT doc_id, CAST(k AS INT) AS sample_idx,
        |       CAST((k * n) // s AS INT) AS frame_idx,
        |       w AS width, h AS height, n AS n_frames
        |FROM k""".stripMargin,
    // The engine side is a STREAM-STREAM watermarked join; a drained
    // bounded fixture must produce exactly the batch join's rows.
    "q54_stream_join" ->
      """SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
        |       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS delay_us
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND epoch_us(c.ts) >= epoch_us(v.ts)
        | AND epoch_us(c.ts) < epoch_us(v.ts) + 1800000000""".stripMargin,
    // Connected components as a recursive transitive closure — fine at
    // oracle scale; the engine side uses large-star/small-star instead.
    "q41_dedup_clusters" -> dedupClustersSql,
    // the incrementally-maintained artifact must reproduce the full
    // recompute bit-identically — same oracle as q41
    "q135_incr_clusters" -> dedupClustersSql,
    // the STREAMED merges must land on the same fixed point: full
    // recompute over the minhash edge generator
    "q138_stream_clusters" -> minhashClustersSql,
    "q47_dedup_apply" -> dedupApplySql,
    // artifact-backed application: labels are bit-identical to the
    // full recompute (q135), so the oracle is q47's — ONE definition
    "q142_artifact_dedup_apply" -> dedupApplySql,
    // argmax re-derived relationally: rank within cluster by
    // (quality DESC, doc_id ASC) — the struct-max tie-break, exactly
    "q104_dedup_best" ->
      s"""WITH labels AS ($dedupClustersSql),
         |q AS ($qualitySql),
         |m AS (
         |  SELECT l.canonical_id AS cluster_id, l.doc_id, q.quality,
         |         count(*) OVER (PARTITION BY l.canonical_id) AS cluster_size,
         |         row_number() OVER (PARTITION BY l.canonical_id
         |                            ORDER BY q.quality DESC, l.doc_id ASC) AS rk
         |  FROM labels l JOIN q ON q.doc_id = l.doc_id)
         |SELECT cluster_id, doc_id AS kept_doc_id, quality,
         |       CAST(cluster_size AS BIGINT) AS cluster_size
         |FROM m WHERE rk = 1""".stripMargin,
    // two stacked aggregations over the recursive labels
    "q109_cluster_hist" ->
      s"""WITH labels AS ($dedupClustersSql),
         |sizes AS (SELECT canonical_id, count(*) AS cluster_size
         |          FROM labels GROUP BY canonical_id)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |       CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sizes GROUP BY cluster_size""".stripMargin,
    // the q41 labels joined to sources; the matrix counts distinct
    // clusters per unordered source pair
    "q108_source_overlap" ->
      s"""WITH labels AS ($dedupClustersSql),
         |cs AS (
         |  SELECT DISTINCT l.canonical_id, d.source
         |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_clusters
         |FROM cs a JOIN cs b ON a.canonical_id = b.canonical_id
         |  AND a.source < b.source
         |GROUP BY a.source, b.source""".stripMargin,
    // the q41 labels + the q52 md5 unit hash replayed on canonical_id:
    // the oracle proves the split is cluster-atomic AND reproduces the
    // exact assignment
    "q110_split_leakfree" ->
      s"""WITH labels AS ($dedupClustersSql),
         |u AS (SELECT doc_id, canonical_id,
         |        ('0x' || substr(md5(canonical_id::VARCHAR || ':split'), 1, 8))::BIGINT
         |          / 4294967296.0 AS h
         |      FROM labels)
         |SELECT doc_id, canonical_id,
         |       CASE WHEN h < 0.1 THEN 'test'
         |            WHEN h < 0.2 THEN 'val'
         |            ELSE 'train' END AS split
         |FROM u""".stripMargin,
    // persist → reload → merge lifecycle gate: violations must be empty
    "q111_sketch_artifact" ->
      """SELECT CAST(NULL AS VARCHAR) AS source,
        |       CAST(NULL AS BIGINT) AS n_exact,
        |       CAST(NULL AS BIGINT) AS n_approx,
        |       CAST(NULL AS DOUBLE) AS rel_err
        |WHERE 1 = 0""".stripMargin,
    // exact integer min-max scaling (// is DuckDB integer division,
    // matching gridScale's proven-exact floor) + the same 16-bit
    // interleave, generated term-for-term by zInterleaveSql
    "q112_zorder" ->
      s"""WITH bounds AS (
         |  SELECT min(l_partkey) alo, max(l_partkey) ahi,
         |         min(l_suppkey) blo, max(l_suppkey) bhi
         |  FROM lineitem),
         |scaled AS (
         |  SELECT l_orderkey, l_linenumber,
         |         CASE WHEN ahi <= alo THEN 0
         |              ELSE ((l_partkey - alo) * 65535) // (ahi - alo) END AS ka,
         |         CASE WHEN bhi <= blo THEN 0
         |              ELSE ((l_suppkey - blo) * 65535) // (bhi - blo) END AS kb
         |  FROM lineitem, bounds)
         |SELECT l_orderkey, l_linenumber,
         |       CAST(${zInterleaveSql("ka", "kb")} AS BIGINT) AS zval
         |FROM scaled""".stripMargin,
    // fixed-point mean re-derived element-for-element: round to 2^20
    // longs (exact scale, half-away rounding in both engines), long
    // sum (associative), ONE final double division — bit-identical
    "q113_label_centroids" -> labelCentroidsSql,
    // associativity is the whole claim: artifact + batch sums merged
    // by addition must land on the FULL-corpus centroids exactly
    "q129_centroid_incremental" -> labelCentroidsSql,
    // the full Lloyd step replayed: same md5 seed ranking, same
    // integer-squared-L2 argmin (ties by seed rank), same fixed-point
    // mean — every stage integer-exact, so the hash must match
    "q114_kmeans_step" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |         list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS vq,
        |         ('0x' || substr(md5(vec_id::VARCHAR || ':seed'), 1, 8))::BIGINT AS hk
        |  FROM embeddings),
        |seeds AS (
        |  SELECT CAST(row_number() OVER (ORDER BY hk, vec_id) AS INT) AS cid,
        |         vq AS sq
        |  FROM q ORDER BY hk, vec_id LIMIT 8),
        |d AS (
        |  SELECT q.vec_id, s.cid,
        |         CAST(list_sum(list_transform(range(1, len(q.vq) + 1),
        |              i -> (q.vq[i] - s.sq[i]) * (q.vq[i] - s.sq[i])))
        |           AS BIGINT) AS d2
        |  FROM q, seeds s),
        |a AS (
        |  SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM d),
        |x AS (
        |  SELECT a.cid AS cluster,
        |         unnest(range(0, len(e.embedding))) AS dim,
        |         unnest(e.embedding) AS v
        |  FROM a JOIN embeddings e USING (vec_id)
        |  WHERE a.rn = 1),
        |g AS (
        |  SELECT cluster, CAST(dim AS INT) AS dim,
        |         sum(CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS ssum,
        |         count(*) AS n
        |  FROM x GROUP BY 1, 2)
        |SELECT cluster, dim,
        |       CAST(ssum AS DOUBLE) / (n * 1048576) AS centroid, n
        |FROM g""".stripMargin,
    // same fixed-order double chain over the q19 features; every
    // literal CAST to DOUBLE so DuckDB's decimal literals don't sneak
    // exact-decimal arithmetic into the comparison
    "q115_model_gate" ->
      s"""WITH qf AS ($qualitySql)
         |SELECT doc_id, logit, logit > 0.0::DOUBLE AS kept
         |FROM (
         |  SELECT doc_id,
         |         round((-0.5)::DOUBLE
         |           + 0.002::DOUBLE * least(n_tokens, 1000)
         |           + 1.2::DOUBLE * coalesce(stopword_ratio, 0.0::DOUBLE)
         |           - 3.0::DOUBLE * coalesce(punct_ratio, 0.0::DOUBLE)
         |           + 0.1::DOUBLE * coalesce(avg_token_len, 0.0::DOUBLE), 6)
         |           AS logit
         |  FROM qf) s""".stripMargin,
    // both rank lists replayed (q16's cosine ranking; distinct-token
    // overlap with integer tie-breaks), RRF summed in the same
    // two-term double order, final rank re-derived from (rrf, doc_id)
    "q116_hybrid_search" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS doc_id,
         |         ${duckCosine("e.embedding", "q.qv")} AS sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |dense AS (SELECT query_id, doc_id, r_vec FROM (
         |    SELECT query_id, doc_id,
         |           CAST(row_number() OVER (PARTITION BY query_id
         |                ORDER BY sim DESC, doc_id ASC) AS INT) AS r_vec
         |    FROM scored) d WHERE r_vec <= 20),
         |toks AS (SELECT doc_id, unnest(list_distinct($duckToks)) AS token
         |         FROM documents),
         |qt AS (SELECT doc_id AS query_id, token FROM toks WHERE doc_id < 5),
         |ov AS (
         |  SELECT qt.query_id, t.doc_id, count(*) AS n_shared
         |  FROM toks t JOIN qt ON t.token = qt.token AND t.doc_id <> qt.query_id
         |  GROUP BY 1, 2),
         |sparse AS (SELECT query_id, doc_id, r_lex FROM (
         |    SELECT query_id, doc_id,
         |           CAST(row_number() OVER (PARTITION BY query_id
         |                ORDER BY n_shared DESC, doc_id ASC) AS INT) AS r_lex
         |    FROM ov) s WHERE r_lex <= 20),
         |f AS (
         |  SELECT coalesce(d.query_id, s.query_id) AS query_id,
         |         coalesce(d.doc_id, s.doc_id) AS doc_id,
         |         d.r_vec, s.r_lex,
         |         round(coalesce(1.0::DOUBLE / (60 + d.r_vec), 0.0::DOUBLE)
         |             + coalesce(1.0::DOUBLE / (60 + s.r_lex), 0.0::DOUBLE), 6)
         |           AS rrf
         |  FROM dense d FULL OUTER JOIN sparse s
         |    ON d.query_id = s.query_id AND d.doc_id = s.doc_id)
         |SELECT query_id, rnk, doc_id, rrf, r_vec, r_lex FROM (
         |  SELECT query_id, doc_id, rrf, r_vec, r_lex,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY rrf DESC, doc_id ASC) AS INT) AS rnk
         |  FROM f) z WHERE rnk <= 10""".stripMargin,
    "q117_kmeans" -> kmeansIterSql(),
    "q118_pagerank" -> pagerankSql(),
    // q113's fixed-point centroid re-quantized by the q117 chain
    // (double division, half-away round), then a LONG squared-L2 per
    // row — every compared quantity an integer, ties by vec_id
    "q119_centroid_outliers" ->
      """WITH x AS (
        |  SELECT label, vec_id,
        |         unnest(range(0, len(embedding))) AS dim,
        |         unnest(embedding) AS v
        |  FROM embeddings),
        |q AS (
        |  SELECT label, vec_id, CAST(dim AS INT) AS dim,
        |         CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT) AS vq
        |  FROM x),
        |c AS (
        |  SELECT label, dim,
        |         CAST(round((CAST(sum(vq) AS DOUBLE) / (count(*) * 1048576))
        |              * 1048576) AS BIGINT) AS cq
        |  FROM q GROUP BY 1, 2),
        |d AS (
        |  SELECT q.label, q.vec_id,
        |         CAST(sum((q.vq - c.cq) * (q.vq - c.cq)) AS BIGINT) AS d2
        |  FROM q JOIN c ON q.label = c.label AND q.dim = c.dim
        |  GROUP BY 1, 2)
        |SELECT label, rnk, vec_id, d2 FROM (
        |  SELECT label, vec_id, d2,
        |         CAST(row_number() OVER (PARTITION BY label
        |              ORDER BY d2 DESC, vec_id ASC) AS INT) AS rnk
        |  FROM d) z WHERE rnk <= 5""".stripMargin,
    // the q68 gram expansion transposed: batch distinct (doc, gram)
    // LEFT JOIN corpus distinct grams; novelty = exact int division
    "q107_ngram_novelty" ->
      s"""WITH toks AS (SELECT doc_id, $duckToks w FROM documents),
         |g AS (SELECT doc_id,
         |             unnest(list_transform(range(1, len(w) - 3),
         |                    i -> array_to_string(w[i:i+4], ' '))) gram
         |      FROM toks),
         |cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
         |bg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 2 = 1),
         |agg AS (
         |  SELECT b.doc_id, count(*) AS n_grams, count(c.gram) AS n_seen
         |  FROM bg b LEFT JOIN cg c ON b.gram = c.gram
         |  GROUP BY b.doc_id)
         |SELECT doc_id, n_grams, n_grams - n_seen AS n_new,
         |       CAST(n_grams - n_seen AS DOUBLE) / n_grams AS novelty
         |FROM agg""".stripMargin,
    // identical term sets, identical integer tie-breaks; row_number
    // cast to INT for the dtype-sensitive compare
    "q106_keyword_search" -> keywordSearchSql,
    // the artifact probe must produce the IDENTICAL ranked lists the
    // corpus-side q106 does — bucketing is layout, never semantics
    "q120_postings_artifact" -> keywordSearchSql,
    // append is invisible to results: the merged artifact answers for
    // the FULL corpus with the same ranked lists
    "q128_postings_append" -> keywordSearchSql,
    // the union-schema read re-derived from the source table: v2 rows
    // (odd ids) keep lang, v1 rows surface NULL
    "q121_schema_evolution" ->
      """SELECT doc_id, source, n_chars,
        |       CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
        |FROM documents""".stripMargin,
    // the value-histogram percentiles re-derived: same integer ceil,
    // same percentile_disc semantics, same clamp — all integers
    "q123_winsorize" ->
      """WITH hist AS (
        |  SELECT lang, n_chars, count(*) AS cnt FROM documents GROUP BY 1, 2),
        |h AS (
        |  SELECT lang, n_chars,
        |         sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
        |         sum(cnt) OVER (PARTITION BY lang) AS n
        |  FROM hist),
        |t AS (
        |  SELECT lang,
        |         min(CASE WHEN cum >= (n * 1 + 99) // 100 THEN n_chars END) AS lo,
        |         min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN n_chars END) AS hi
        |  FROM h GROUP BY lang)
        |SELECT d.lang, min(t.lo) AS lo, min(t.hi) AS hi,
        |       CAST(sum(CASE WHEN d.n_chars < t.lo THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_below,
        |       CAST(sum(CASE WHEN d.n_chars > t.hi THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_above,
        |       CAST(sum(greatest(least(d.n_chars, t.hi), t.lo)) AS BIGINT)
        |         AS sum_clipped
        |FROM documents d JOIN t USING (lang)
        |GROUP BY 1""".stripMargin,
    // the plain join: Bloom pruning must be invisible to results
    "q122_bloom_join" ->
      """SELECT l_returnflag,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,
    // the daily-ingest stages recomposed: q59's anti-join, q60's band
    // join, the quality/lang gates, q101's capped rank — END-TO-END
    "q105_incremental_ingest" ->
      s"""WITH nb AS (SELECT doc_id, md5(lower(trim(text))) fp
         |            FROM documents WHERE doc_id % 2 = 1),
         |ex AS (SELECT DISTINCT md5(lower(trim(text))) fp
         |       FROM documents WHERE doc_id % 2 = 0),
         |fresh AS (SELECT min(doc_id) AS doc_id
         |          FROM nb ANTI JOIN ex USING (fp) GROUP BY fp),
         |$minhashBandsCtes,
         |neardup AS (
         |  SELECT DISTINCT n.doc_id FROM bands n JOIN bands e
         |    ON n.b = e.b AND n.bh = e.bh
         |  WHERE n.doc_id % 2 = 1 AND e.doc_id % 2 = 0),
         |q AS (SELECT * FROM ($qualitySql) WHERE doc_id % 2 = 1),
         |cand AS (
         |  SELECT f.doc_id, d.lang, d.source, q.n_tokens, q.quality,
         |         ('0x' || substr(md5(f.doc_id::VARCHAR || ':ingest'), 1, 8))::BIGINT
         |           / 4294967296.0 AS priority
         |  FROM fresh f
         |  JOIN documents d ON d.doc_id = f.doc_id
         |  JOIN q ON q.doc_id = f.doc_id
         |  WHERE q.quality >= 0.5
         |    AND d.lang IN ('en', 'de', 'fr', 'es')
         |    AND NOT EXISTS (SELECT 1 FROM neardup nd WHERE nd.doc_id = f.doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |                  ORDER BY priority ASC, doc_id ASC) AS rk FROM cand)
         |SELECT doc_id, lang, source, n_tokens, quality
         |FROM r WHERE rk <= 5""".stripMargin,
    // The end-to-end corpus composition: dedup keep-set ⋈ quality gate
    // ⋈ language allowlist, then the deterministic "train"-salted hash
    // sample — each stage is its own oracled query; this checks the
    // COMPOSED result.
    "q57_training_corpus" ->
      s"""WITH labels AS ($dedupClustersSql),
         |kept AS (
         |  SELECT l.doc_id, d.lang, d.source FROM labels l
         |  JOIN documents d ON d.doc_id = l.doc_id
         |  WHERE l.doc_id = l.canonical_id),
         |q AS ($qualitySql),
         |contam AS ($contaminationSql),
         |$bigramFracCtes
         |SELECT k.doc_id, k.lang, k.source, q.n_tokens, q.quality
         |FROM kept k
         |JOIN q ON q.doc_id = k.doc_id
         |JOIN rep ON rep.doc_id = k.doc_id
         |WHERE q.quality >= 0.5
         |  AND rep.top_bigram_frac <= 0.5
         |  AND k.lang IN ('en', 'de', 'fr', 'es')
         |  AND k.doc_id % 10 <> 7
         |  AND NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = k.doc_id)
         |  AND ('0x' || substr(md5(k.doc_id::VARCHAR || ':train'), 1, 8))::BIGINT
         |        / 4294967296.0 < 0.8""".stripMargin,
    // same densification algorithm: per-key calendar from the key's
    // own span, left join, running sum + IGNORE NULLS forward fill;
    // epoch-day ints on both engines
    "q130_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
        |         max_by(event_type, event_id) AS day_type
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT user_id, min(day) AS min_d, max(day) AS max_d
        |  FROM daily GROUP BY 1),
        |calendar AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(min_d, max_d, INTERVAL 1 DAY))
        |              AS DATE) AS day
        |  FROM spans),
        |j AS (
        |  SELECT c.user_id, c.day,
        |         COALESCE(d.n_events, 0) AS n_events, d.day_type
        |  FROM calendar c
        |  LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day)
        |SELECT user_id,
        |       date_diff('day', DATE '1970-01-01', day) AS day_no,
        |       n_events,
        |       CAST(sum(n_events) OVER w AS BIGINT) AS cum_events,
        |       last_value(day_type IGNORE NULLS) OVER w AS last_type
        |FROM j
        |WINDOW w AS (PARTITION BY user_id ORDER BY day
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    // gaps-and-islands re-derived: lag over the raw feed marks change
    // rows, lead over the change rows closes intervals; µs space
    "q131_scd2" ->
      """WITH feed AS (
        |  SELECT o_custkey, o_orderstatus, epoch_us(o_orderdate) AS t,
        |         o_orderkey
        |  FROM orders),
        |marked AS (
        |  SELECT *, lag(o_orderstatus) OVER
        |    (PARTITION BY o_custkey ORDER BY t, o_orderkey) AS prev
        |  FROM feed),
        |changes AS (
        |  SELECT o_custkey, o_orderstatus, t, o_orderkey FROM marked
        |  WHERE (prev IS NULL AND o_orderstatus IS NOT NULL)
        |     OR prev <> o_orderstatus)
        |SELECT o_custkey, o_orderstatus,
        |       t AS valid_from_us,
        |       lead(t) OVER w AS valid_to_us,
        |       CAST(lead(t) OVER w IS NULL AS INT) AS is_current
        |FROM changes
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY t, o_orderkey)""".stripMargin,
    // per-column UNION ALL — k scans here where the engine does ONE
    // Expand pass; results must agree exactly
    "q132_profile" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      .map(c =>
        s"""SELECT '$c' AS column_name,
           |       count($c) AS n_nonnull,
           |       count(*) - count($c) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_val,
           |       CAST(max($c) AS VARCHAR) AS max_val
           |FROM orders""".stripMargin)
      .mkString("\nUNION ALL\n"),
    // the maintained view must equal the plain join — no incremental
    // term may duplicate or drop a pair
    "q133_delta_join" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |       o_custkey, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    // same 60-bit row hash, XOR'd AND summed mod 2^60 — both combines
    // order-independent on both engines; each column canonicalized as
    // length ':' value with NULL as -1: (prefix-unambiguous, so NULLs
    // and separator-bearing values cannot collide)
    "q134_digest" -> {
      def canon(c: String) =
        s"concat(COALESCE(length($c::VARCHAR), -1)::VARCHAR, ':', " +
          s"COALESCE($c::VARCHAR, ''))"
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority").map(canon).mkString(",\n        ")
      s"""WITH h AS (
         |  SELECT CAST(('0x' || substr(md5(concat_ws(chr(1),
         |        $cols)),
         |      1, 15)) AS BIGINT) AS rh
         |  FROM orders)
         |SELECT count(*) AS n_rows,
         |       COALESCE(bit_xor(rh), 0) AS digest,
         |       CAST(COALESCE(sum(CAST(rh AS HUGEINT)), 0)
         |            % 1152921504606846976 AS BIGINT) AS digest_sum
         |FROM h""".stripMargin
    },
    // HTML extraction over the planted pages (duckHtml mirrored
    // verbatim): block removal -> tag strip -> ordered entity decode
    // -> whitespace collapse; 'g' on every multi-match replace
    // (Spark's regexp_replace is global, DuckDB's defaults to first)
    "q172_html_extract" ->
      s"""WITH $duckHtmlExtractCtes
         |SELECT doc_id,
         |  regexp_extract(html, '<[Tt][Ii][Tt][Ll][Ee]>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>', 1) AS title,
         |  CAST(len(regexp_extract_all(html, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1))
         |    AS BIGINT) AS n_links,
         |  trim(regexp_replace(de, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
         |    AS text_clean
         |FROM e""".stripMargin,
    // the crawl flagship: the q172 chain + per-page blocked-outlink
    // counts (lambda filter over the href list, blocklist inlined —
    // mirroring the Spark side's join-free plan)
    "q175_crawl_ingest" -> q175Sql,
    // extract-on-ingest: q175 under readStream (stateless projection,
    // the q171 contract shape) — identical batch oracle
    "q176_stream_crawl_ingest" -> q175Sql,
    // outlinks in document order (unnest(range) for the ordinal, the
    // q155 convention) + the q168 blocklist verdict per link
    "q173_html_outlinks" ->
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
         |  ('s11.example')) b(domain) ON d.domain = b.domain""".stripMargin,
    // canonical-URL dedup: the dirty-URL plant and the canonical-key
    // chain mirrored verbatim (each replace anchored, <=1 match — no
    // 'g' needed); keep = lowest doc_id per key
    "q174_url_canonical_dedup" ->
      s"""WITH p AS (SELECT doc_id, $duckDirtyUrl AS url
         |  FROM documents),
         |c AS (SELECT doc_id, url,
         |  ${duckCanonOf("url")} AS canon FROM p)
         |SELECT doc_id, url, canon,
         |  CAST(count(*) OVER (PARTITION BY canon) AS BIGINT) AS n_dups,
         |  (row_number() OVER (PARTITION BY canon ORDER BY doc_id) = 1)
         |    AS is_canonical
         |FROM c""".stripMargin,
    // the crawl→corpus flagship recomposed stage-for-stage from the
    // existing CTE chains (extraction, keep-set, v2 gates + LM floor
    // rebased onto crawl_docs, staged scrub + audit)
    "q177_crawl_corpus" -> q177Sql,
    // the maintained key-set artifact (batch q178 and streaming q179)
    // probed over the full corpus: under fetch-ordered ingest waves
    // keep-first == keep-lowest, so both are held to the q174 batch
    // recompute (sans n_dups — not the artifact's to answer)
    "q178_url_key_artifact" -> urlKeySql,
    "q179_stream_url_keys" -> urlKeySql,
    // host-graph PageRank: the domain edge derivation mirrored from
    // the planted pages, then the q118 round-replaying integer
    // iteration over VARCHAR nodes
    "q180_host_rank" -> hostRankSql(),
    // the WARC front door: chunk → records → response → headers →
    // framed payload → extraction, every stage mirrored
    "q184_warc_ingest" -> q184Sql,
    "q185_trained_flagship" -> q185Sql,
    "q186_warc_corpus" -> q186Sql,
    "q187_crawl_frontier" -> q187Sql,
    // persisted rank artifact: the reload must replay the exact q180
    // trajectory — same SQL, artifact layout is Spark-side only
    "q188_rank_artifact" -> hostRankSql(),
    // both canonical keys per URL with group sizes under each; the
    // conservative-key windows share their partition on both sides
    "q189_param_canonical" -> q189Sql,
    // robots gate: the oracle replays longest-match as a rule join +
    // per-link rank (Spark does it as a per-row array pipeline)
    "q190_robots_gate" -> q190Sql,
    // polite frontier: q187's oracle with the robots gate CTEs
    // inserted before the candidate aggregation
    "q191_polite_frontier" -> q191Sql,
    // streaming crawl loop: both waves replayed batch-exactly in one
    // query (prefixed frontier chains, keys as of each wave)
    "q192_stream_crawl_loop" -> q192Sql,
    // anchor terms: whole-element extraction, per-element href/text,
    // the frontier's resolution + canon, token counts per target
    "q194_anchor_terms" -> q194Sql,
    // crawl funnel: the frontier chain's per-stage cardinalities
    // rolled up by domain, full-outer assembled with zero fill
    "q195_crawl_funnel" -> q195Sql,
    // refetch wave: latest-fetch struct-max reduction, age filter,
    // rank join, oldest-first politeness cap — all-integer time
    "q196_refetch_wave" -> q196Sql,
    // sitemap seeds: regenerated XML, loc extraction, blocklist +
    // robots + anti-join + rank + cap replayed
    "q197_sitemap_seeds" -> q197Sql,
    // robots.txt parse: bytes regenerated, star group isolated,
    // directives extracted, empty values dropped
    "q199_robots_parse" -> q199Sql,
    // maintained fetch log: the raw-log reduction replayed — the
    // artifact is layout, not semantics (q196's oracle verbatim)
    "q200_fetchlog_artifact" -> q196Sql,
    // anchor-boosted frontier: the q191 chain re-capped under the
    // anchor-score ordering, scores from the embedded q194 replay
    "q201_anchor_frontier" -> q201Sql,
    // steady-state refetch: both waves' due sets from the maintained
    // log, each at its own wave-time "now", schedule joined
    "q202_steady_refetch" -> q202Sql,
    // WARC-fed loop: waves replayed with framed+gated chunk bytes as
    // pages and valid-fetch-only keys
    "q203_stream_warc_loop" -> q203Sql,
    // fetch funnel: the regenerated chunks' stage flags counted per
    // target domain (malformed chunks roll up under '')
    "q204_fetch_funnel" -> q204Sql,
    // the uncompressed twin's extraction verbatim — inflate ∘ deflate
    // = id is the check (DuckDB cannot gunzip; the q206 pattern)
    "q212_content_encoding" -> q212Sql,
    // fetch → 304/200 → clock reset replayed closed-form per canon
    "q213_conditional_refetch" -> q213Sql,
    // defer → age-out → re-compete across three streamed waves
    "q214_stream_retry_loop" -> q214Sql,
    // the FLAT sitemap oracle verbatim (the q206 identical-result
    // pattern): index recursion + member inflation must admit
    // bit-identically what the flat file admits
    "q215_sitemap_tree" -> q197Sql,
    // the trap verdict replayed per planted row
    "q216_trap_guard" -> q216Sql,
    "q217_body_length_check" -> q217Sql,
    // revisit resolution: clock reset iff the digest confirms against
    // the stored argmax body; validators and content bit-identical to
    // wave 1 throughout
    "q218_warc_revisit" -> q218Sql,
    // heuristic freshness: the date parse (weekday stripped), the
    // 10% TTL clamp, and the stalest-first cap replayed per key
    "q219_heuristic_refetch" -> q219Sql,
    // sitemap discovery: the Sitemap: decls parsed from the
    // regenerated robots bytes select the admitted urlsets
    "q220_sitemap_discovery" -> q220Sql,
    // redirect chains: the planted runs walked by a recursive CTE
    // with the identical loop/resolved/too_deep precedence
    "q221_redirect_chains" -> q221Sql,
    // robots availability: the fixture's per-domain mode algebra
    // replayed as arithmetic CASE arms over the shared rule CTEs
    "q222_robots_availability" -> q222Sql,
    // sitemap-lastmod refetch: declared entries ∩ the q196 log
    // reduction, strictly-newer filter, stalest-first cap
    "q223_sitemap_refetch" -> q223Sql,
    // unified scheduler: the three-signal precedence CASE over the
    // q219 log replay, declared overlay regenerated arithmetically
    "q224_unified_refetch" -> q224Sql,
    // feed discovery: the feeds regenerated byte-identically, the
    // block-scoped entry parse replayed in RE2, the q197 admission
    // tail with newest-published-first ordering
    "q225_feed_seeds" -> q225Sql,
    // WARC export: the DIRECT extraction per page × arm, ok = true —
    // the round trip's framing is verified by the hash alone
    "q226_warc_export" -> q226Sql,
    // adaptive refetch: the version history replayed closed-form
    // (count/first/last from the fixture arithmetic), the same
    // half-interval integer TTL, the q196 tail
    "q227_adaptive_refetch" -> q227Sql,
    // rank-proportional budgets: the q191 chain with the cap filter
    // swapped for the clamp((B*pr) // tot) budget join
    "q228_budgeted_frontier" -> q228Sql,
    // redirect-aware frontier: both discovery channels replayed from
    // the regenerated chunk bytes into one candidate aggregation
    "q205_redirect_frontier" -> q205Sql,
    // gzip front door: decompress-then-frame must equal frame — the
    // q184 oracle verbatim (the q61 identical-result pattern)
    "q206_gzip_warc" -> q184Sql,
    // carried dispatch clock: wave 1 replayed from wave 0's tails
    "q207_carried_schedule" -> q207Sql,
    // in-stream robots maintenance: wave 1 replayed under the policy
    // the wave-0 robots fetch flipped
    "q208_stream_robots_loop" -> q208Sql,
    // compaction is layout, not semantics: q196's oracle verbatim
    "q209_compacted_fetchlog" -> q196Sql,
    // gzip-fed loop: inflate ∘ frame ≡ frame — q203's oracle verbatim
    "q210_stream_gzip_loop" -> q203Sql,
    // retry gate: the identical chain minus the still-fresh attempts
    "q211_retry_frontier" -> q211Sql,
    // wave scheduling: the q191 wave joined to the regenerated delay
    // table, (slot-1) x delay with the default fallback
    "q198_wave_schedule" -> q198Sql,
    // incremental tokenizer refresh: the refreshed merge table must
    // equal the full corpus+batch refit — empty violation set
    "q183_bpe_refresh" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |       CAST(NULL AS INT) AS merge_rank,
        |       CAST(NULL AS VARCHAR) AS lhs,
        |       CAST(NULL AS VARCHAR) AS rhs,
        |       CAST(NULL AS BIGINT) AS freq
        |WHERE 1 = 0""".stripMargin,
    // the in-engine classifier fit: every perceptron round replayed
    // via scalar-subquery updates over the fixed-point features
    "q181_quality_fit" -> qualityFitSql(),
    // the composed gate: final-round weights dotted per doc
    "q182_trained_gate" -> trainedGateSql(),
    // per-round confusion counts over the replayed trajectory
    "q193_fit_eval" -> qualityFitEvalSql(),
  )

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
  private def duckWarcChain(src: String, pfx: String): String = {
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
  private def duckHttpPayload(src: String, out: String): String = {
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
  private def duckCp1252Replace(inner: String): String =
    graft.functions.HttpFrameImpl.cp1252From
      .zip(graft.functions.HttpFrameImpl.cp1252To)
      .filter { case (f, t) => f != t }
      .foldLeft(inner) { case (c, (f, t)) => s"replace($c, '$f', '$t')" }

  private def duckHttpFrame(pfx: String, paySrc: String): String = {
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

  private lazy val q184Sql = {
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

  /** q183: the incremental tokenizer refresh gated against its full
    * refit — the artifact fits on the even half of the planted
    * corpus, the odd half arrives as the refresh batch (counts summed
    * into the stored statistic, merge loop re-run under the frozen
    * alphabet), and the gate compares the refreshed merge table
    * against an in-job full refit on ALL docs. Counts are additive
    * over the disjoint halves, so the symmetric difference must be
    * EMPTY (the q129 incremental-algebra contract).
    */
  private val q183Scopes = new java.util.concurrent.ConcurrentHashMap[String, graft.core.Scope]()

  private def bpeRefreshViolations(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = cachedScope(q183Scopes, s, dir, "graft-q183-") { sc =>
      BpeOps.saveBpe(BpeOps.plantedCorpus(docs.filter(col("doc_id") % 2 === 0)),
        sc, "bpe", nMerges = 12)
      BpeOps.refreshBpe(BpeOps.plantedCorpus(docs.filter(col("doc_id") % 2 === 1)),
        sc, "bpe")
    }
    BpeOps.bpeRefreshGate(s, scope, "bpe", BpeOps.plantedCorpus(docs))
  }

  /** The q181/q182 shared CTE chain: the q19 quality signals
    * quantized to 1e6 fixed point, labels planted by the q115 teacher
    * in 1e7 fixed point, then one CTE per perceptron round — the
    * margin table against the previous round's weights and the
    * five-component update folded in via scalar subqueries
    * (TextOps.qualityFitTrajectory mirrored; DuckDB sum(BIGINT) is
    * HUGEINT, hence the CASTs).
    */
  private def qualityFitCtes(iters: Int): String = {
    val dims = 0 until 5
    val rounds = (1 to iters).map { i =>
      val upd = dims.map(d =>
        s"""  (SELECT a$d FROM w${i - 1})
           |    + CAST(coalesce((SELECT sum(y * x$d) FROM m$i
           |                     WHERE margin <= 0), 0) AS BIGINT) AS a$d"""
          .stripMargin).mkString(",\n")
      s"""m$i AS (SELECT f.*,
         |  y * (${dims.map(d => s"a$d * x$d").mkString(" + ")}) AS margin
         |  FROM f CROSS JOIN w${i - 1}),
         |w$i AS (SELECT
         |$upd)""".stripMargin
    }.mkString(",\n")
    s"""qf AS ($qualitySql),
       |ft AS (SELECT doc_id,
       |  1::BIGINT AS x0,
       |  CAST(least(n_tokens, 1000) AS BIGINT) AS x1,
       |  CAST(round(coalesce(stopword_ratio, 0.0::DOUBLE)
       |    * 1000000.0::DOUBLE) AS BIGINT) AS x2,
       |  CAST(round(coalesce(punct_ratio, 0.0::DOUBLE)
       |    * 1000000.0::DOUBLE) AS BIGINT) AS x3,
       |  CAST(round(coalesce(avg_token_len, 0.0::DOUBLE)
       |    * 1000000.0::DOUBLE) AS BIGINT) AS x4
       |  FROM qf),
       |f AS (SELECT doc_id, x0, x1, x2, x3, x4,
       |  CASE WHEN -5000000 * x0 + 20000 * x1 + 12 * x2 - 30 * x3 + x4 > 0
       |       THEN 1::BIGINT ELSE (-1)::BIGINT END AS y FROM ft),
       |w0 AS (SELECT ${dims.map(d => s"0::BIGINT AS a$d").mkString(", ")}),
       |$rounds""".stripMargin
  }

  /** q181: the (round, dim, w) trajectory unpivoted from the round
    * CTEs — the oracle replays every gradient step, not just the
    * final model.
    */
  private def qualityFitSql(iters: Int = 3): String = {
    val rows = (1 to iters).flatMap(i => (0 until 5).map(d =>
      s"SELECT $i AS round, $d AS dim, a$d AS w FROM w$i"))
    s"""WITH ${qualityFitCtes(iters)}
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q182: the composed gate — every doc scored by the FINAL round's
    * weights through the same dot-product shape, kept ⟺ score > 0.
    */
  private def trainedGateSql(iters: Int = 3): String =
    s"""WITH ${qualityFitCtes(iters)}
       |SELECT doc_id, score, score > 0 AS kept FROM (
       |  SELECT f.doc_id,
       |    ${(0 until 5).map(d => s"a$d * x$d").mkString(" + ")} AS score
       |  FROM f CROSS JOIN w$iters) s""".stripMargin

  /** q193: each trajectory round's weights scored over the features,
    * counted into the four confusion cells — `pred ⟺ score > 0`,
    * exactly the gate's decision rule.
    */
  private def qualityFitEvalSql(iters: Int = 3): String = {
    val rounds = (1 to iters).map { i =>
      s"""SELECT $i AS round,
         |  CAST(sum(CASE WHEN score > 0 AND y = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN score > 0 AND y = -1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN score <= 0 AND y = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN score <= 0 AND y = -1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tn
         |FROM (SELECT f.y,
         |  ${(0 until 5).map(d => s"a$d * x$d").mkString(" + ")} AS score
         |  FROM f CROSS JOIN w$i) s$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${qualityFitCtes(iters)}
       |$rounds""".stripMargin
  }

  /** The q180 oracle — q118's trajectory-replaying integer PageRank
    * with the edge set derived from the planted pages' href→host→
    * domain chain (duckLinkHost/duckDomainOf mirrored; unattributable
    * ends dropped; DISTINCT to the domains² bound) and domains as the
    * node vocabulary.
    */
  private def hostRankSql(iters: Int = 3,
                          scale: Long = 1000000000000L): String = {
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

  /** The q187 oracle — outlinks (q173's href → host → blocklist
    * chain), canonical candidate aggregation, the anti-join against
    * the full dirty-URL canonical key set (the maintained artifact's
    * batch semantics — layout is Spark-side only), the q180 rank as a
    * correlated subselect source, and the per-domain politeness cap.
    */
  private lazy val q187Sql = frontierSql(robots = false)
  private lazy val q191Sql = frontierSql(robots = true)

  /** The q187/q191 oracle body; `robots = true` inserts the q190
    * longest-match gate between the blocklist verdict and the
    * candidate aggregation, exactly where [[HtmlOps.politeFrontier]]
    * applies it.
    */
  private def frontierSql(robots: Boolean): String = {
    val rules = if (robots) duckRobotsRuleCtes + ",\n" else ""
    s"""WITH $rules${frontierCtes("f", robots)}
       |SELECT canon, url, domain, n_refs, pr, CAST(slot AS INT) AS slot
       |FROM ffs WHERE slot <= 10""".stripMargin
  }

  /** One prefixed frontier-wave CTE chain (ending in `${pfx}fs`,
    * pre-cap): pages from `documents WHERE pagePred` (or the caller's
    * `pageCtes`, ending in `${pfx}p` — q203 derives pages from framed
    * WARC bytes), the key set from the dirty URLs of `documents WHERE
    * keyPred` (or the caller's `keySrc`, a subquery yielding `u`
    * rows), the rank always epoch-level (full documents — the q188
    * artifact contract). `robots = true` expects the caller to have
    * included [[duckRobotsRuleCtes]] (`rru`) once in the WITH clause.
    * The prefixing lets q192/q203 replay several loop waves in one
    * query.
    */
  /** @param extraCtes  extra CTE chain spliced in AFTER the gate
    *                    (may reference the page CTEs)
    * @param extraCands  name of a CTE from `extraCtes` yielding
    *                    already-gated (doc_id, url, host, domain)
    *                    rows UNION'd into the candidate aggregation —
    *                    the q205 redirect channel
    */
  private def frontierCtes(pfx: String, robots: Boolean,
                           pagePred: String = "true",
                           keyPred: String = "true",
                           pageCtes: Option[String] = None,
                           keySrc: Option[String] = None,
                           extraCtes: Option[String] = None,
                           extraCands: Option[String] = None,
                           rulesCte: String = "rru",
                           excludeCanons: Option[String] = None): String = {
    val gate =
      if (!robots)
        s"${pfx}g AS (SELECT doc_id, url, host, domain FROM ${pfx}b2)"
      else
        s"""${pfx}pt AS (SELECT *, ${duckMatchOf("url")} AS mt
           |  FROM ${pfx}b2),
           |${pfx}mg AS (SELECT p.rid, p.doc_id, p.url, p.host, p.domain,
           |  r.allow,
           |  row_number() OVER (PARTITION BY p.rid
           |    ORDER BY coalesce(strlen(r.prefix), -1) DESC,
           |             r.allow DESC) AS rn
           |  FROM ${pfx}pt p LEFT JOIN $rulesCte r ON r.domain = p.domain
           |    AND ${duckRobotsMatch("p.mt", "r")}),
           |${pfx}g AS (SELECT doc_id, url, host, domain FROM ${pfx}mg
           |  WHERE rn = 1 AND coalesce(allow, true))""".stripMargin
    val pages = pageCtes.getOrElse(
      s"""${pfx}p AS (SELECT doc_id, $duckFetchHost AS fetch_host,
         |  '/' AS base_path,
         |  $duckHtml AS html FROM documents WHERE $pagePred)"""
        .stripMargin)
    val keys = keySrc.getOrElse(
      s"(SELECT $duckDirtyUrl AS u FROM documents WHERE $keyPred)")
    val extra = extraCtes.map(_ + ",\n").getOrElse("")
    val candSrc = extraCands match {
      case Some(x) =>
        s"""(SELECT doc_id, url, host, domain FROM ${pfx}g
           |    UNION ALL SELECT doc_id, url, host, domain FROM $x)"""
          .stripMargin
      case None => s"${pfx}g"
    }
    s"""$pages,
       |${pfx}l0 AS (SELECT doc_id, fetch_host, base_path,
       |  unnest(regexp_extract_all(html, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1))
       |    AS url FROM ${pfx}p),
       |${pfx}l AS (SELECT *, row_number() OVER () AS rid FROM ${pfx}l0),
       |${pfx}h AS (SELECT rid, doc_id, url, base_path,
       |  ${duckLinkHost("url")} AS host
       |  FROM ${pfx}l),
       |${pfx}c AS (SELECT rid, doc_id, url, base_path, host,
       |  ${duckDomainOf("host")}
       |  AS domain FROM ${pfx}h WHERE host <> ''),
       |${pfx}b AS (SELECT * FROM ${pfx}c
       |  WHERE domain NOT IN ('s2.example', 's5.example', 's11.example')),
       |${pfx}b2 AS (SELECT rid, doc_id,
       |  ${duckResolvedUrl("url", "host", "base_path")} AS url, host, domain
       |  FROM ${pfx}b),
       |$gate,
       |$extra${pfx}cand AS (SELECT ${duckCanonOf("url")} AS canon,
       |  min(url) AS url, min(domain) AS domain,
       |  CAST(count(*) AS BIGINT) AS n_refs FROM $candSrc
       |  WHERE NOT ${duckTrapPred("url")} GROUP BY 1),
       |${pfx}stored AS (SELECT DISTINCT ${duckCanonOf("u")} AS canon
       |  FROM $keys),
       |${pfx}unseen AS (SELECT c.* FROM ${pfx}cand c
       |  ANTI JOIN ${pfx}stored s USING (canon)),
       |${pfx}fresh AS (SELECT u.* FROM ${pfx}unseen u${excludeCanons
      .map(x => s" ANTI JOIN $x USING (canon)").getOrElse("")}),
       |${pfx}ranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |${pfx}j AS (SELECT f.canon, f.url, f.domain, f.n_refs,
       |  coalesce(r.pr, 0) AS pr FROM ${pfx}fresh f
       |  LEFT JOIN ${pfx}ranks r ON r.domain = f.domain),
       |${pfx}fs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY n_refs DESC, canon ASC) AS slot FROM ${pfx}j)"""
      .stripMargin
  }

  /** The q203 warc-page CTEs: the chunk bytes regenerated and framed
    * (q184's chain), the HTTP gate applied, pages = gated bodies with
    * the fetch host from the WARC-Target-URI header — ending in
    * `${pfx}p`, the [[frontierCtes]] page contract.
    */
  private def duckWarcPages(pfx: String, pagePred: String): String =
    s"""${pfx}d0 AS (SELECT doc_id, $duckHtml AS html FROM documents
       |  WHERE $pagePred),
       |${duckHttpPayload(s"${pfx}d0", s"${pfx}hp")},
       |${duckWarcChain(s"${pfx}hp", pfx)},
       |${duckHttpFrame(pfx, s"${pfx}hp")},
       |${pfx}p AS (SELECT doc_id,
       |  regexp_extract(target_uri, '^(?i)(?:https?:)?//([^/?#]+)', 1)
       |    AS fetch_host,
       |  ${duckPathOf("target_uri")} AS base_path,
       |  body AS html FROM ${pfx}ht
       |  WHERE coalesce(strlen(payload) = content_length, false)
       |    AND coalesce(http_status = 200 AND mime = 'text/html',
       |          false)
       |    AND body_ok)""".stripMargin

  /** The q203 oracle — both streamed waves replayed with pages from
    * the framed+gated chunk bytes and the key set from the VALID
    * fetches only (a failed or non-HTML fetch never entered, so its
    * key stays eligible), then the q198 schedule join.
    */
  private lazy val q203Sql = {
    def validKeys(pred: String) =
      s"""(SELECT concat('https://w', cast(doc_id % 7 AS varchar), '.s',
         |  cast(doc_id % 5 AS varchar), '.example/p/',
         |  cast(doc_id % 11 AS varchar)) AS u FROM documents
         |  WHERE ($pred) AND doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12))"""
        .stripMargin
    val w0 = frontierCtes("wc", robots = true,
      pageCtes = Some(duckWarcPages("wc", "doc_id >= 250 AND doc_id < 375")),
      keySrc = Some(validKeys("doc_id < 375")),
      extraCtes = Some(duckRedirectCtes("wc", "rru")),
      extraCands = Some("wcrrg"))
    val w1 = frontierCtes("wd", robots = true,
      pageCtes = Some(duckWarcPages("wd", "doc_id >= 375")),
      keySrc = Some(validKeys("true")),
      extraCtes = Some(duckRedirectCtes("wd", "rru")),
      extraCands = Some("wdrrg"))
    val dCols = "canon, url, domain, n_refs, pr"
    s"""WITH $duckRobotsRuleCtes,
       |$duckRobotsTxtCtes,
       |$duckDelayCte,
       |$w0,
       |$w1,
       |${carriedScheduleCtes(Seq(("wcfs", dCols, "sdl"),
      ("wdfs", dCols, "sdl")))}
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(0 AS BIGINT) AS wave FROM cw0
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(1 AS BIGINT) AS wave FROM cw1""".stripMargin
  }

  /** The q214 oracle — defer → age-out → re-compete replayed: the one
    * frontier chain (`ta`) instantiated for waves 0 and 2 (identical
    * candidates and keys — the planted design), wave 1 as the SAME
    * chain (`tb`) minus wave 0's dispatched canons (`rec1`: every
    * slot ≤ 10 was stamped at Feb 1 + offset, all inside the 3-day
    * TTL at Feb 3 — so wave 1's slots go to the cap losers), and by
    * Feb 8 every stamp (wave 0's AND wave 1's) has aged out, so wave
    * 2 is wave 0's chain verbatim — continuing on the one carried
    * dispatch clock through all three stages.
    */
  private lazy val q214Sql = {
    def validKeys(pred: String) =
      s"""(SELECT concat('https://w', cast(doc_id % 7 AS varchar), '.s',
         |  cast(doc_id % 5 AS varchar), '.example/p/',
         |  cast(doc_id % 11 AS varchar)) AS u FROM documents
         |  WHERE ($pred) AND doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12))"""
        .stripMargin
    val ta = frontierCtes("ta", robots = true,
      pageCtes = Some(duckWarcPages("ta", "doc_id >= 250 AND doc_id < 375")),
      keySrc = Some(validKeys("doc_id < 375")),
      extraCtes = Some(duckRedirectCtes("ta", "rru")),
      extraCands = Some("tarrg"))
    val tb = frontierCtes("tb", robots = true,
      pageCtes = Some(duckWarcPages("tb", "doc_id >= 250 AND doc_id < 375")),
      keySrc = Some(validKeys("doc_id < 375")),
      extraCtes = Some(duckRedirectCtes("tb", "rru")),
      extraCands = Some("tbrrg"),
      excludeCanons = Some("rec1"))
    val dCols = "canon, url, domain, n_refs, pr"
    s"""WITH $duckRobotsRuleCtes,
       |$duckRobotsTxtCtes,
       |$duckDelayCte,
       |$ta,
       |rec1 AS (SELECT canon FROM tafs WHERE slot <= 10),
       |$tb,
       |${carriedScheduleCtes(Seq(("tafs", dCols, "sdl"),
      ("tbfs", dCols, "sdl"), ("tafs", dCols, "sdl")))}
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(0 AS BIGINT) AS wave FROM cw0
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(1 AS BIGINT) AS wave FROM cw1
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(2 AS BIGINT) AS wave FROM cw2""".stripMargin
  }

  /** The redirect DISCOVERY channel replayed (HtmlOps.redirectTargets
    * + blocklist + robots gate on the RESOLVED url), reading the
    * framed+HTTP CTE `${pfx}ht` and ending in `${pfx}rrg` —
    * (doc_id, url, host, domain) rows ready for [[frontierCtes]]'s
    * `extraCands` union. `rulesCte` lets a wave gate under flipped
    * robots tables (q208).
    */
  private def duckRedirectCtes(pfx: String, rulesCte: String): String =
    s"""${pfx}rr0 AS (SELECT doc_id, redirect_to AS url,
       |  regexp_extract(target_uri, '^(?i)(?:https?:)?//([^/?#]+)', 1)
       |    AS fetch_host,
       |  ${duckPathOf("target_uri")} AS base_path
       |  FROM ${pfx}ht WHERE redirect_to <> ''),
       |${pfx}rr1 AS (SELECT doc_id, url, base_path,
       |  ${duckLinkHost("url")} AS host
       |  FROM ${pfx}rr0),
       |${pfx}rr2 AS (SELECT doc_id, url, base_path, host,
       |  ${duckDomainOf("host")}
       |  AS domain FROM ${pfx}rr1 WHERE host <> ''),
       |${pfx}rr3 AS (SELECT * FROM ${pfx}rr2 WHERE domain NOT IN
       |  ('s2.example', 's5.example', 's11.example')),
       |${pfx}rr4 AS (SELECT doc_id,
       |  ${duckResolvedUrl("url", "host", "base_path")}
       |  AS url, host, domain, row_number() OVER () AS rid
       |  FROM ${pfx}rr3),
       |${pfx}rr5 AS (SELECT *, ${duckMatchOf("url")} AS mt
       |  FROM ${pfx}rr4),
       |${pfx}rr6 AS (SELECT p.rid, p.doc_id, p.url, p.host, p.domain,
       |  r.allow, row_number() OVER (PARTITION BY p.rid
       |    ORDER BY coalesce(strlen(r.prefix), -1) DESC,
       |             r.allow DESC) AS rn
       |  FROM ${pfx}rr5 p LEFT JOIN $rulesCte r ON r.domain = p.domain
       |    AND ${duckRobotsMatch("p.mt", "r")}),
       |${pfx}rrg AS (SELECT doc_id, url, host, domain FROM ${pfx}rr6
       |  WHERE rn = 1 AND coalesce(allow, true))""".stripMargin

  /** The q205 oracle — the redirect-aware frontier replayed: chunk
    * bytes regenerated and framed (q184's chain), valid pages feed
    * the outlink channel (q191's chain), the 3xx records' Location
    * targets feed the redirect channel (host inheritance for the
    * server-relative spelling, blocklist, robots longest-match on the
    * RESOLVED url), both union into ONE candidate aggregation, then
    * the standard anti-join / rank / politeness tail. The key set is
    * every valid fetch (all /p/ pages), so the /r/ targets — which no
    * page links — can only reach a wave slot through the redirect
    * channel.
    */
  private lazy val q205Sql = {
    // the mature-crawl key set: every valid fetch plus every URL its
    // page links (resolved with fetch-host inheritance, exactly the
    // outlink channel's own resolution)
    val validKeys =
      s"""(SELECT concat('https://w', cast(doc_id % 7 AS varchar), '.s',
         |  cast(doc_id % 5 AS varchar), '.example/p/',
         |  cast(doc_id % 11 AS varchar)) AS u FROM documents
         |  WHERE doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12)
         |  UNION ALL
         |  SELECT ${duckResolvedUrl("url", "host", "base_path")} AS u FROM (
         |    SELECT url, base_path, ${duckLinkHost("url")} AS host FROM (
         |      SELECT doc_id,
         |        concat('w', cast(doc_id % 7 AS varchar), '.s',
         |          cast(doc_id % 5 AS varchar), '.example') AS fetch_host,
         |        concat('/p/', cast(doc_id % 11 AS varchar)) AS base_path,
         |        unnest(regexp_extract_all($duckHtml ||
         |          CASE WHEN doc_id % 13 = 0 THEN concat(
         |            '<a href="../u/', cast(doc_id % 11 AS varchar),
         |            '">Up</a><a href="d', cast(doc_id % 7 AS varchar),
         |            '.html">Rel</a>') ELSE '' END,
         |          '[Hh][Rr][Ee][Ff]="([^"]*)"', 1)) AS url
         |      FROM documents
         |      WHERE doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12)))
         |  WHERE host <> '')""".stripMargin
    val redirectCtes = duckRedirectCtes("rf", "rru")
    s"""WITH $duckRobotsRuleCtes,
       |${frontierCtes("rf", robots = true,
        pageCtes = Some(duckWarcPages("rf", "true")),
        keySrc = Some(validKeys),
        extraCtes = Some(redirectCtes),
        extraCands = Some("rfrrg"))}
       |SELECT canon, url, domain, n_refs, pr, CAST(slot AS INT) AS slot
       |FROM rffs WHERE slot <= 10""".stripMargin
  }

  /** The q208 oracle — the WARC loop's two waves replayed with the
    * POLICY FLIP applied where the loop applies it: wave 0 under the
    * seed rules/delays (the riding robots chunk is not a page and not
    * a key), wave 1 under the flipped tables the in-stream robots
    * fetch re-parsed into the artifact (`s3.example`: `Disallow:
    * /nav`+`/NAV`, `Crawl-delay: 7`), on the one carried dispatch
    * clock.
    */
  private lazy val q208Sql = {
    def validKeys(pred: String) =
      s"""(SELECT concat('https://w', cast(doc_id % 7 AS varchar), '.s',
         |  cast(doc_id % 5 AS varchar), '.example/p/',
         |  cast(doc_id % 11 AS varchar)) AS u FROM documents
         |  WHERE ($pred) AND doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12))"""
        .stripMargin
    val w0 = frontierCtes("we", robots = true,
      pageCtes = Some(duckWarcPages("we", "doc_id >= 250 AND doc_id < 375")),
      keySrc = Some(validKeys("doc_id < 375")),
      extraCtes = Some(duckRedirectCtes("we", "rru")),
      extraCands = Some("werrg"))
    val w1 = frontierCtes("wf", robots = true,
      pageCtes = Some(duckWarcPages("wf", "doc_id >= 375")),
      keySrc = Some(validKeys("true")), rulesCte = "rru1",
      extraCtes = Some(duckRedirectCtes("wf", "rru1")),
      extraCands = Some("wfrrg"))
    val dCols = "canon, url, domain, n_refs, pr"
    s"""WITH $duckRobotsRuleCtes,
       |$duckRobotsTxtCtes,
       |$duckDelayCte,
       |rru1 AS (SELECT * FROM rru WHERE domain <> 's3.example'
       |  UNION ALL SELECT 's3.example' AS domain, false AS allow,
       |    '/nav' AS prefix
       |  UNION ALL SELECT 's3.example' AS domain, false AS allow,
       |    '/NAV' AS prefix),
       |sdl1 AS (SELECT * FROM sdl WHERE domain <> 's3.example'
       |  UNION ALL SELECT 's3.example' AS domain,
       |    CAST(7 AS BIGINT) AS delay_s),
       |$w0,
       |$w1,
       |${carriedScheduleCtes(Seq(("wefs", dCols, "sdl"),
      ("wffs", dCols, "sdl1")))}
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(0 AS BIGINT) AS wave FROM cw0
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(1 AS BIGINT) AS wave FROM cw1""".stripMargin
  }

  /** The q207 oracle — both polite waves replayed, the second's
    * offsets derived from the first's per-domain tails through the
    * carried-clock CTE chain.
    */
  private lazy val q207Sql = {
    val w0 = frontierCtes("ca", robots = true, pagePred = "doc_id < 250")
    val w1 = frontierCtes("cb", robots = true, pagePred = "doc_id >= 250")
    val dCols = "canon, url, domain, n_refs, pr"
    s"""WITH $duckRobotsRuleCtes,
       |$duckRobotsTxtCtes,
       |$duckDelayCte,
       |$w0,
       |$w1,
       |${carriedScheduleCtes(Seq(("cafs", dCols, "sdl"),
      ("cbfs", dCols, "sdl")))}
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(0 AS BIGINT) AS wave FROM cw0
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(1 AS BIGINT) AS wave FROM cw1""".stripMargin
  }

  /** The q211 oracle — wave 0 replayed through the full two-channel
    * chain, its slots stamped into the attempt log (even @ T0, odd
    * two TTLs earlier), the still-fresh canons collected, and the
    * retry wave replayed as the IDENTICAL chain minus those canons.
    * The attempt canon is wave 0's own (saveFetchLog canonicalizes
    * the representative URL, whose canon is its group's by
    * construction).
    */
  private lazy val q211Sql = {
    val t0 = 1767225600L
    val ttl = 86400L
    val validKeys =
      s"""(SELECT concat('https://w', cast(doc_id % 7 AS varchar), '.s',
         |  cast(doc_id % 5 AS varchar), '.example/p/',
         |  cast(doc_id % 11 AS varchar)) AS u FROM documents
         |  WHERE doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12)
         |    AND doc_id < 250)""".stripMargin
    val w0 = frontierCtes("ya", robots = true,
      pageCtes = Some(duckWarcPages("ya", "true")),
      keySrc = Some(validKeys),
      extraCtes = Some(duckRedirectCtes("ya", "rru")),
      extraCands = Some("yarrg"))
    val w1 = frontierCtes("yb", robots = true,
      pageCtes = Some(duckWarcPages("yb", "true")),
      keySrc = Some(validKeys),
      extraCtes = Some(duckRedirectCtes("yb", "rru")),
      extraCands = Some("ybrrg"),
      excludeCanons = Some("rec"))
    s"""WITH $duckRobotsRuleCtes,
       |$w0,
       |att AS (SELECT canon,
       |  CASE WHEN CAST(slot AS INT) % 2 = 0 THEN $t0
       |       ELSE ${t0 - 2L * ttl} END AS t
       |  FROM yafs WHERE slot <= 10),
       |rec AS (SELECT canon FROM att WHERE ${t0 + 3600L} - t < $ttl),
       |$w1
       |SELECT canon, url, domain, n_refs, pr, CAST(slot AS INT) AS slot
       |FROM ybfs WHERE slot <= 10""".stripMargin
  }

  /** The q204 oracle — every chunk's stage verdicts replayed (framing
    * octet check, HTTP 200+text/html, blocked-outlink page rule on the
    * body with fetch-host inheritance) and counted per target domain;
    * unparseable chunks land under the empty domain.
    */
  private lazy val q204Sql =
    s"""WITH fq AS (SELECT doc_id, $duckHtml AS html FROM documents),
       |${duckHttpPayload("fq", "fqp")},
       |${duckWarcChain("fqp", "fz")},
       |${duckHttpFrame("fz", "fqp")},
       |fzd AS (SELECT *,
       |  coalesce(regexp_extract(target_uri,
       |    '^(?i)(?:https?:)?//([^/?#]+)', 1), '') AS fetch_host
       |  FROM fzht),
       |fze AS (SELECT coalesce(${duckDomainOf("fetch_host")}, '')
       |    AS domain,
       |  coalesce(strlen(payload) = content_length, false) AS ok_framed,
       |  coalesce(http_status = 200 AND mime = 'text/html', false)
       |    AS ok_http,
       |  body_ok AS ok_decoded,
       |  len(list_filter(
       |    regexp_extract_all(body, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1),
       |    u -> ${duckDomainOf(duckLinkHost("u"))}
       |      IN ('s2.example', 's5.example', 's11.example'))) AS nb
       |  FROM fzd)
       |SELECT domain,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN ok_framed THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_framed,
       |  CAST(sum(CASE WHEN ok_framed AND ok_http THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_http_ok,
       |  CAST(sum(CASE WHEN ok_framed AND ok_http AND ok_decoded
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_body_ok,
       |  CAST(sum(CASE WHEN ok_framed AND ok_http AND ok_decoded
       |    AND nb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_page_ok
       |FROM fze GROUP BY 1""".stripMargin

  /** The q212 oracle — the UNCOMPRESSED twin replayed: the planted
    * body regenerated (é suffix on %5==0 decoded per the utf-8
    * declaration — the mojibake-avoidance pin: had the engine decoded
    * before inflating, the compressed bytes would never reconstruct
    * these characters), NULL for the lying-encoding legs (%17 of 3
    * declared-gzip and 9 declared-zstd over plain bytes), then the
    * q184 extraction chain. The compressed bytes themselves never
    * appear here — inflate ∘ deflate = id is the check (the q206
    * pattern), which round 16 extends to the zstd legs (%11==5):
    * DuckDB cannot un-zstd any more than it can gunzip, so the
    * decoded twin IS the verification for all three codings.
    */
  private lazy val q212Sql =
    s"""WITH ep AS (SELECT doc_id, $duckHtml AS html FROM documents),
       |eb AS (SELECT doc_id, html ||
       |  CASE WHEN doc_id % 5 = 0 THEN '<p>rÃ©sumÃ© cafÃ©</p>'
       |       ELSE '' END AS b0 FROM ep),
       |ed AS (SELECT doc_id,
       |  CASE WHEN doc_id % 17 IN (3, 9) THEN NULL
       |       ELSE replace(b0, 'Ã©', 'é') END AS body FROM eb),
       |exb AS (SELECT doc_id, body,
       |  regexp_replace(regexp_replace(regexp_replace(body,
       |    '(?s)<[Hh][Ee][Aa][Dd]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Hh][Ee][Aa][Dd]>', ' ', 'g'),
       |    '(?s)<[Ss][Cc][Rr][Ii][Pp][Tt]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Cc][Rr][Ii][Pp][Tt]>', ' ', 'g'),
       |    '(?s)<[Ss][Tt][Yy][Ll][Ee]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Tt][Yy][Ll][Ee]>', ' ', 'g') AS nb FROM ed),
       |ext AS (SELECT *, regexp_replace(nb, '<[^>]*>', ' ', 'g') AS nt
       |  FROM exb),
       |exe AS (SELECT *, regexp_replace(regexp_replace(regexp_replace(
       |  regexp_replace(regexp_replace(regexp_replace(nt,
       |  '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
       |  '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS de
       |  FROM ext)
       |SELECT doc_id, CAST(200 AS INT) AS http_status,
       |  'text/html' AS mime,
       |  CASE WHEN doc_id % 17 = 3 THEN 'gzip'
       |       WHEN doc_id % 17 = 9 THEN 'zstd'
       |       WHEN doc_id % 11 = 5 THEN 'zstd'
       |       WHEN doc_id % 3 = 0 THEN 'gzip'
       |       WHEN doc_id % 3 = 1 THEN 'deflate'
       |       ELSE '' END AS content_encoding,
       |  (doc_id % 17 NOT IN (3, 9)) AS body_ok,
       |  regexp_extract(body, '<[Tt][Ii][Tt][Ll][Ee]>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>', 1) AS title,
       |  trim(regexp_replace(de, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text_clean
       |FROM exe""".stripMargin

  /** The q213 oracle — fetch → 304/200 → clock reset replayed per
    * canon: wave 1's DECODED bodies regenerated (the planted suffixes
    * with the utf-8 C3A9 pairs decoded — the unconditional replace is
    * a no-op on every other leg), the log's post-revalidation state
    * (last_fetch_s = t1 for every completed outcome; the validator =
    * the struct-max winner among the wave-2 responses — any 200's
    * `"w…"` beats every 304's `"v…"`), and the content argmax over
    * wave-1 versions plus wave-2 rewrites: canons whose group
    * revalidated 304-only keep their wave-1 bytes BIT-identically.
    */
  /** Wave-1 valid fetches, DECODED — `rv` (doc_id, html, url) and
    * `rw1` (doc_id, url, body): the regenerated post-decode bodies of
    * every chunk that frames, gates, and wire-decodes (the q184 chain
    * collapsed onto the planted legs). Shared by the q213 and q218
    * oracles so the two can never disagree on what the content store
    * holds.
    */
  private lazy val duckWave1Ctes = {
    val cr = "\r\n"
    s"""rv AS (SELECT doc_id, $duckHtml AS html,
       |  concat('https://w', cast(doc_id % 7 AS varchar), '.s',
       |    cast(doc_id % 5 AS varchar), '.example/p/',
       |    cast(doc_id % 11 AS varchar)) AS url
       |  FROM documents WHERE doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12)),
       |rw1 AS (SELECT doc_id, url,
       |  replace(html ||
       |    CASE WHEN doc_id % 13 = 1 THEN '<p>rÃ©sumÃ© cafÃ©</p>'
       |         WHEN doc_id % 13 = 9 THEN '<p>café français</p>'
       |         WHEN doc_id % 13 = 10 THEN '<p>rÃ©sumÃ© cafÃ©</p>'
       |         WHEN doc_id % 13 = 6 THEN '<p>ck 1A${cr}9${cr}zz</p>'
       |         WHEN doc_id % 13 = 0 THEN concat(
       |           '<a href="../u/', cast(doc_id % 11 AS varchar),
       |           '">Up</a><a href="d', cast(doc_id % 7 AS varchar),
       |           '.html">Rel</a>')
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 19 = 13
       |         THEN '<p>see WARC/1.0${cr}WARC-Type: response${cr}quoted archive</p>'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 4 AND doc_id % 2 = 0
       |         THEN '<p>“smart” ‘q’ –en— café</p>'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 0 AND doc_id % 3 = 1
       |         THEN '<p>${graft.ops.HtmlOps.sjisLeg._2}</p>'
       |         WHEN doc_id % 13 = 0 AND doc_id % 3 = 2
       |         THEN '<p>${graft.ops.HtmlOps.eucKrLeg._2}</p>'
       |         ELSE '' END, 'Ã©', 'é') AS body FROM rv)"""
      .stripMargin
  }

  private lazy val q213Sql = {
    val t0 = 1767225600L
    val t1 = t0 + 7L * 86400L
    s"""WITH $duckWave1Ctes,
       |rkey AS (SELECT ${duckCanonOf("url")} AS canon, max(url) AS url
       |  FROM rv GROUP BY 1),
       |rlog AS (SELECT ${duckCanonOf("url")} AS canon,
       |  max({'e': CASE WHEN doc_id % 2 = 0 THEN
       |         CASE WHEN doc_id % 10 = 4 THEN ''
       |              ELSE concat('"v', cast(doc_id % 9 AS varchar), '"')
       |              END
       |       ELSE concat('"w', cast(doc_id % 9 AS varchar), '"') END,
       |     'l': CASE WHEN doc_id % 2 = 0 THEN
       |         CASE WHEN doc_id % 10 = 4
       |              THEN 'Wed, 08 Jan 2026 00:00:00 GMT' ELSE '' END
       |       ELSE 'Wed, 08 Jan 2026 00:00:00 GMT' END}) AS v
       |  FROM rv GROUP BY 1),
       |rcv AS (
       |  SELECT ${duckCanonOf("url")} AS canon,
       |    CAST($t0 AS BIGINT) AS t, body FROM rw1
       |  UNION ALL
       |  SELECT ${duckCanonOf("url")} AS canon,
       |    CAST($t1 AS BIGINT) AS t, html || '<p>rev2</p>' AS body
       |  FROM rv WHERE doc_id % 2 = 1),
       |rct AS (SELECT canon, (max({'t': t, 'b': body})).b AS body
       |  FROM rcv GROUP BY 1)
       |SELECT k.canon, k.url, CAST($t1 AS BIGINT) AS last_fetch_s,
       |  (l.v).e AS etag, (l.v).l AS last_modified,
       |  md5(coalesce(c.body, '')) AS content_md5
       |FROM rkey k JOIN rlog l USING (canon)
       |LEFT JOIN rct c USING (canon)""".stripMargin
  }

  /** The q218 oracle — wave 1 seeded, the REVISIT wave replayed per
    * canon: the stored body is the per-canon argmax over wave-1
    * versions (equal timestamps ⇒ max body string, latestContent's
    * tiebreak), the revisit legs key on the canon's trailing path
    * number (`c%3==0` correct digest → clock t2, validators survive;
    * `c%3==1` lying digest → verdict only; `c%3==2` no revisit), and
    * the log state is wave-1's struct-max validators throughout —
    * a revisit never rewrites a validator or a content version.
    */
  private lazy val q218Sql = {
    val t0 = 1767225600L
    val t2 = t0 + 14L * 86400L
    s"""WITH $duckWave1Ctes,
       |zkey AS (SELECT ${duckCanonOf("url")} AS canon, max(url) AS url
       |  FROM rv GROUP BY 1),
       |zlog AS (SELECT ${duckCanonOf("url")} AS canon,
       |  max({'e': CASE WHEN doc_id % 10 = 4 THEN ''
       |         ELSE concat('"v', cast(doc_id % 9 AS varchar), '"') END,
       |     'l': concat('Mon, ',
       |         lpad(cast(doc_id % 28 + 1 AS varchar), 2, '0'),
       |         ' Jan 2026 00:00:00 GMT')}) AS v
       |  FROM rv GROUP BY 1),
       |zct AS (SELECT ${duckCanonOf("url")} AS canon,
       |  max(body) AS body FROM rw1 GROUP BY 1),
       |zc AS (SELECT canon,
       |  CAST(regexp_extract(canon, '/p/([0-9]+)$$', 1) AS INT) AS c
       |  FROM zkey)
       |SELECT k.canon, k.url,
       |  CAST(CASE WHEN z.c % 3 = 0 THEN $t2 ELSE $t0 END AS BIGINT)
       |    AS last_fetch_s,
       |  (l.v).e AS etag, (l.v).l AS last_modified,
       |  md5(coalesce(t.body, '')) AS content_md5,
       |  (z.c % 3 = 0) AS revisit_ok
       |FROM zkey k JOIN zlog l USING (canon)
       |JOIN zc z USING (canon)
       |LEFT JOIN zct t USING (canon)""".stripMargin
  }

  /** The q219 oracle — the validator log regenerated (Last-Modified
    * strings formatted from the same epochs with strftime), the
    * HTTP-date parse replayed weekday-stripped via try_strptime, the
    * 10% heuristic TTL clamped to [1d, 30d] with the default for
    * absent/garbage/future dates, due ⟺ age ≥ ttl, then the standard
    * rank join + stalest-first per-domain cap.
    */
  private lazy val q219Sql = {
    val t0 = 1767225600L
    val now = t0 + 3L * 86400L
    s"""WITH vl AS (SELECT generate_series AS k,
       |  concat('https://w', cast(generate_series % 7 AS varchar), '.s',
       |    cast(generate_series % 5 AS varchar), '.example/p/',
       |    cast(generate_series AS varchar)) AS url,
       |  CAST($t0 AS BIGINT) AS last_fetch_s,
       |  CASE WHEN generate_series % 7 = 0 THEN ''
       |       WHEN generate_series % 7 = 1 THEN 'not a date'
       |       ELSE strftime(make_timestamp(
       |         ($t0 - (generate_series % 90) * 86400) * 1000000),
       |         '%a, %d %b %Y %H:%M:%S GMT') END AS last_modified
       |  FROM generate_series(0, 199)),
       |ve AS (SELECT *, epoch(try_strptime(
       |    regexp_replace(last_modified, '^[A-Za-z]{3}, ', ''),
       |    '%d %b %Y %H:%M:%S GMT')) AS lm FROM vl),
       |vt AS (SELECT *, CASE WHEN lm IS NULL OR lm > last_fetch_s
       |    THEN CAST(604800 AS BIGINT)
       |    ELSE least(greatest(
       |      CAST((last_fetch_s - CAST(lm AS BIGINT)) // 10 AS BIGINT),
       |      CAST(86400 AS BIGINT)), CAST(2592000 AS BIGINT)) END
       |    AS ttl_s FROM ve),
       |vh AS (SELECT ${duckCanonOf("url")} AS canon, url,
       |  regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1) AS host,
       |  last_fetch_s, ttl_s FROM vt
       |  WHERE ($now - last_fetch_s) >= ttl_s),
       |vg AS (SELECT canon, url, ${duckDomainOf("host")} AS domain,
       |  last_fetch_s, ttl_s FROM vh),
       |vranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |vj AS (SELECT g.*, coalesce(r.pr, 0) AS pr FROM vg g
       |  LEFT JOIN vranks r USING (domain)),
       |vfs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_fetch_s ASC, canon ASC) AS slot FROM vj)
       |SELECT canon, url, domain, last_fetch_s, ttl_s,
       |  CAST($now AS BIGINT) - last_fetch_s AS age_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM vfs WHERE slot <= 10""".stripMargin
  }

  /** The q201 oracle — the q191 frontier chain reused up to its
    * pre-window stage (`fj`), the q194 anchor replay embedded as a
    * subquery and aggregated to a per-canon boost score over the
    * planted boost term, and the per-domain cap re-ranked under
    * (anchor_score desc, n_refs desc, canon).
    */
  private lazy val q201Sql =
    s"""WITH $duckRobotsRuleCtes,
       |${frontierCtes("f", robots = true)},
       |bsc AS (SELECT canon, CAST(sum(n) AS BIGINT) AS anchor_score
       |  FROM (${q194Sql}) WHERE term = 'ref' GROUP BY 1),
       |bj2 AS (SELECT j.canon, j.url, j.domain, j.n_refs,
       |  coalesce(b.anchor_score, 0) AS anchor_score, j.pr
       |  FROM fj j LEFT JOIN bsc b USING (canon)),
       |bfs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY anchor_score DESC, n_refs DESC, canon ASC) AS slot
       |  FROM bj2)
       |SELECT canon, url, domain, n_refs, anchor_score, pr,
       |  CAST(slot AS INT) AS slot
       |FROM bfs WHERE slot <= 10""".stripMargin

  /** The q194 oracle — anchor elements matched whole, href and
    * tag-stripped text per element, targets resolved and
    * canonicalized exactly like the frontier, lowercased whitespace
    * tokens counted per (canon, term).
    */
  private lazy val q194Sql =
    s"""WITH ap AS (SELECT doc_id, $duckFetchHost AS fetch_host,
       |  $duckHtml AS html FROM documents),
       |ae AS (SELECT fetch_host, unnest(regexp_extract_all(html,
       |  '(?s)<[Aa]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Aa]>', 0)) AS a
       |  FROM ap),
       |ax AS (SELECT fetch_host,
       |  regexp_extract(
       |    regexp_extract(a, '^<[Aa]([ \\t\\n\\x0B\\f\\r][^>]*)?>', 0),
       |    '[Hh][Rr][Ee][Ff]="([^"]*)"', 1) AS url,
       |  trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'),
       |    '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS anchor FROM ae),
       |ah AS (SELECT url, anchor, ${duckLinkHost("url")} AS host
       |  FROM ax WHERE url <> ''),
       |ar AS (SELECT anchor,
       |  ${duckResolvedUrl("url", "host")} AS rurl
       |  FROM ah WHERE host <> ''),
       |at AS (SELECT ${duckCanonOf("rurl")} AS canon,
       |  unnest(regexp_split_to_array(lower(anchor),
       |    '[ \\t\\n\\x0B\\f\\r]+')) AS term FROM ar)
       |SELECT canon, term, CAST(count(*) AS BIGINT) AS n
       |FROM at WHERE term <> '' GROUP BY 1, 2""".stripMargin

  /** The q198 oracle — the q191 wave as a subquery, the delay table
    * DERIVED from the regenerated raw robots bytes (the q199 parse
    * chain — no planted side table anywhere), the schedule arithmetic
    * replayed with the default fallback.
    */
  private lazy val q198Sql =
    s"""WITH $duckRobotsTxtCtes,
       |$duckDelayCte,
       |swv AS (SELECT * FROM (${q191Sql}))
       |SELECT swv.*, coalesce(sdl.delay_s, 30) AS delay_s,
       |  CAST((slot - 1) * coalesce(sdl.delay_s, 30) AS BIGINT)
       |    AS not_before_s
       |FROM swv LEFT JOIN sdl USING (domain)""".stripMargin

  /** The q197 oracle — the sitemap XML regenerated byte-identically
    * from the domain index, `<loc>` extraction, and the admission
    * chain replayed: blocklist, per-occurrence robots longest-match,
    * canonical candidate aggregation, the anti-join against the full
    * fetched key set, the epoch rank, the politeness cap.
    */
  private lazy val q197Sql = sitemapChainSql("", "true")

  /** The q220 oracle — the q197 chain with the ROOT SET derived from
    * the robots bytes: the file-wide `Sitemap:` declarations parsed
    * from the regenerated rtxt (absolute URLs only — the relative
    * decl legs drop), and the per-domain urlset admitted iff its
    * root URL was declared.
    */
  private lazy val q220Sql = sitemapChainSql(
    s"""$duckRobotsTxtCtes,
       |sdc AS (SELECT DISTINCT rtrim(u) AS durl
       |  FROM (SELECT unnest(regexp_extract_all(txt,
       |    '(?m)^[Ss][Ii][Tt][Ee][Mm][Aa][Pp]:[ \\t]*([^\\r\\n#]*)', 1))
       |    AS u FROM rtxt)
       |  WHERE regexp_matches(rtrim(u), '^(?i)https?://')),
       |""".stripMargin,
    """concat('https://s', cast(generate_series AS varchar),
      |    '.example/sitemap.xml') IN (SELECT durl FROM sdc)"""
      .stripMargin)

  /** The q228 oracle — the q191 frontier chain reused verbatim up to
    * its pre-cap stage (`ffs`), then the budget CTE (clamped
    * integer-division share of Σpr, floored at 1) joined in and the
    * cap filter swapped from the flat 10 to the per-domain budget;
    * unranked domains take the 1-slot floor.
    */
  private lazy val q228Sql =
    s"""WITH $duckRobotsRuleCtes,
       |${frontierCtes("f", robots = true)},
       |bw AS (SELECT concat('s', cast(generate_series AS varchar),
       |    '.example') AS domain,
       |  CAST(CASE WHEN generate_series = 6 THEN 500
       |       ELSE (generate_series + 1) * (generate_series + 1)
       |       END AS BIGINT) AS pr
       |  FROM generate_series(0, 12)),
       |btot AS (SELECT greatest(CAST(sum(pr) AS BIGINT), 1) AS tot
       |  FROM bw),
       |bbud AS (SELECT domain,
       |  CAST(least(greatest((CAST(60 AS BIGINT) * pr) // tot, 1), 15)
       |    AS INT) AS k_domain
       |  FROM bw, btot)
       |SELECT f.canon, f.url, f.domain, f.n_refs,
       |  coalesce(b.k_domain, 1) AS k_domain, f.pr,
       |  CAST(f.slot AS INT) AS slot
       |FROM ffs f LEFT JOIN bbud b USING (domain)
       |WHERE f.slot <= coalesce(b.k_domain, 1)""".stripMargin

  /** The q227 oracle — the fixture's version history in CLOSED FORM
    * (per key: `1+k%5` versions at a `1+k%11`-day interval ending at
    * t0, so count/first/last are arithmetic), the half-interval
    * integer TTL (`//`, matching Spark's `div`), the default arm for
    * single-version keys, and the q196 politeness tail.
    */
  private lazy val q227Sql = {
    val t0 = 1767225600L
    val now = t0 + 3L * 86400L
    s"""WITH avk AS (SELECT generate_series AS k,
       |  (generate_series % 5) + 1 AS nv,
       |  (generate_series % 11) + 1 AS iv,
       |  concat('https://w', cast(generate_series % 7 AS varchar), '.s',
       |    cast(generate_series % 5 AS varchar), '.example/p/',
       |    cast(generate_series AS varchar)) AS canon
       |  FROM generate_series(0, 199)),
       |avh AS (SELECT canon, CAST(nv AS BIGINT) AS n_versions,
       |  CAST($t0 - (nv - 1) * iv * 86400 AS BIGINT) AS first_s,
       |  CAST($t0 AS BIGINT) AS last_s FROM avk),
       |avt AS (SELECT *, CASE WHEN n_versions <= 1
       |    THEN CAST(172800 AS BIGINT)
       |    ELSE least(greatest(
       |      CAST((last_s - first_s) // ((n_versions - 1) * 2) AS BIGINT),
       |      CAST(86400 AS BIGINT)), CAST(2592000 AS BIGINT)) END
       |    AS ttl_s FROM avh),
       |avd AS (SELECT * FROM avt
       |  WHERE CAST($now AS BIGINT) - last_s >= ttl_s),
       |avg2 AS (SELECT canon, ${duckDomainOf(
      s"regexp_extract(canon, '^(?i)(?:https?:)?//([^/?#]+)', 1)")}
       |    AS domain, n_versions, ttl_s, last_s FROM avd),
       |avranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |avj AS (SELECT g.*, coalesce(r.pr, 0) AS pr FROM avg2 g
       |  LEFT JOIN avranks r USING (domain)),
       |avfs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_s ASC, canon ASC) AS slot FROM avj)
       |SELECT canon, domain, n_versions, ttl_s, last_s,
       |  CAST($now AS BIGINT) - last_s AS age_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM avfs WHERE slot <= 10""".stripMargin
  }

  /** The q226 oracle — the direct page extraction (the q212 chain
    * over the regenerated html), the url/date regenerated from the
    * same arithmetic, crossed with the two arms, `ok` uniformly
    * true. No WARC byte appears here: export ∘ ingest = id IS the
    * check.
    */
  private lazy val q226Sql = {
    val base = 1767225600L
    s"""WITH wp AS (SELECT doc_id, $duckHtml AS body FROM documents),
       |wxb AS (SELECT doc_id, body,
       |  regexp_replace(regexp_replace(regexp_replace(body,
       |    '(?s)<[Hh][Ee][Aa][Dd]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Hh][Ee][Aa][Dd]>', ' ', 'g'),
       |    '(?s)<[Ss][Cc][Rr][Ii][Pp][Tt]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Cc][Rr][Ii][Pp][Tt]>', ' ', 'g'),
       |    '(?s)<[Ss][Tt][Yy][Ll][Ee]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Tt][Yy][Ll][Ee]>', ' ', 'g') AS nb FROM wp),
       |wxt AS (SELECT *, regexp_replace(nb, '<[^>]*>', ' ', 'g') AS nt
       |  FROM wxb),
       |wxe AS (SELECT *, regexp_replace(regexp_replace(regexp_replace(
       |  regexp_replace(regexp_replace(regexp_replace(nt,
       |  '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
       |  '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS de
       |  FROM wxt)
       |SELECT doc_id, a.arm,
       |  concat('https://w', cast(doc_id % 7 AS varchar), '.s',
       |    cast(doc_id % 5 AS varchar), '.example/p/',
       |    cast(doc_id % 11 AS varchar)) AS target_uri,
       |  strftime(make_timestamp(
       |    ($base + (doc_id % 97) * 3600) * 1000000),
       |    '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       |  regexp_extract(body, '<[Tt][Ii][Tt][Ll][Ee]>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>', 1) AS title,
       |  trim(regexp_replace(de, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text_clean,
       |  true AS ok
       |FROM wxe CROSS JOIN (SELECT unnest(['plain', 'gzip']) AS arm) a"""
      .stripMargin
  }

  /** q226: export the planted page corpus as WARC (both arms), then
    * RE-INGEST each export through the engine's own front door —
    * plain records through the strict walk, gzip members through the
    * q206 inflate — and emit the framed identity + verdicts + the
    * extraction. The oracle never sees a WARC byte: it replays the
    * DIRECT extraction per page × arm with `ok = true`, so any
    * framing drift in the export (a mis-counted octet, a broken
    * date, a corrupt member) flips a verdict or garbles a byte and
    * the hash breaks.
    */
  private def warcExportQuery(s: SparkSession, dir: String): DataFrame = {
    val pages = HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))
      .withColumn("url", expr(
        """concat('https://w', cast(doc_id % 7 as string), '.s',
          | cast(doc_id % 5 as string), '.example/p/',
          | cast(doc_id % 11 as string))""".stripMargin.replace("\n", " ")))
      .withColumn("fetched_at_s",
        lit(1767225600L) + (col("doc_id") % 97) * 3600L)
    val plain = HtmlOps.httpFrame(HtmlOps.warcFrame(
      HtmlOps.exportWarc(pages), "warc"))
    val gz = HtmlOps.httpFrame(HtmlOps.warcFrame(
      HtmlOps.gunzipWarcChunks(
        HtmlOps.exportWarc(pages, gzip = true), "warc_gz"), "warc"))
    def shape(df: DataFrame, arm: String) = df.select(col("doc_id"),
      lit(arm).as("arm"), col("target_uri"), col("warc_date"),
      HtmlOps.titleOf(col("body")).as("title"),
      HtmlOps.extractedText(col("body")).as("text_clean"),
      (col("length_ok") && col("http_ok") && col("body_ok")).as("ok"))
    shape(plain, "plain").unionByName(shape(gz, "gzip"))
  }

  /** The q225 oracle — the feeds REGENERATED byte-identically from
    * `generate_series` (dates via strftime from the same epoch
    * arithmetic the fixture formats in-plan), the entry parse
    * replayed in RE2 — block scoping, the RSS text link, the Atom
    * href filter as a lookahead-free `list_filter` over the link
    * tags, both date grammars through try_strptime — and the q197
    * admission chain with the newest-published-first cap.
    */
  private lazy val q225Sql = {
    val t0 = 1767225600L
    val gs = "generate_series"
    // one <item>/<entry> per (k, i): the fixture's exact arithmetic
    def itemSql =
      s"""CASE WHEN k % 2 = 0 THEN concat('<item><link>', u,
         |    '</link>', CASE WHEN i = 5 THEN '' ELSE concat(
         |      '<pubDate>', strftime(make_timestamp(ep * 1000000),
         |        '%a, %d %b %Y %H:%M:%S GMT'), '</pubDate>') END,
         |    '</item>')
         |  ELSE concat('<entry><link rel="enclosure" ',
         |    'href="https://cdn.example/m/', cast(k AS varchar), '-',
         |    cast(i AS varchar), '.mp3"/>',
         |    '<link href="', u, '"/>',
         |    '<updated>', strftime(make_timestamp(ep * 1000000),
         |      '%Y-%m-%dT%H:%M:%SZ'), '</updated></entry>')
         |  END""".stripMargin
    s"""WITH fdk AS (SELECT $gs AS k FROM generate_series(0, 12)),
       |fdi AS (SELECT k, i.i AS i,
       |  CASE WHEN i.i = 7 THEN 0 ELSE i.i END AS ui,
       |  CASE WHEN i.i = 7
       |    THEN $t0 + ((k + 0) % 28) * 86400 + 0 + 432000
       |    ELSE $t0 + ((k + 3 * i.i) % 28) * 86400 + i.i * 3600
       |    END AS ep
       |  FROM fdk, generate_series(0, 7) i(i)),
       |fdu AS (SELECT k, i, ep, concat('https://w',
       |  cast((k + 3 * ui) % 7 AS varchar), '.s', cast(k AS varchar),
       |  '.example/', CASE WHEN ui % 2 = 0 THEN 'p/' ELSE 'f/' END,
       |  cast((k + ui) % 11 AS varchar)) AS u FROM fdi),
       |fdx AS (SELECT k, concat(
       |  CASE WHEN k % 2 = 0 THEN concat('<rss><channel><link>https://s',
       |    cast(k AS varchar), '.example/</link>')
       |  ELSE concat('<feed><link rel="self" href="https://s',
       |    cast(k AS varchar), '.example/feed.xml"/>') END,
       |  string_agg($itemSql, '' ORDER BY i),
       |  CASE WHEN k % 2 = 0 THEN '</channel></rss>'
       |       ELSE '</feed>' END) AS xml
       |  FROM fdu GROUP BY k),
       |fb AS (SELECT unnest(regexp_extract_all(xml,
       |  '(?s)<(?:[Ii][Tt][Ee][Mm]|[Ee][Nn][Tt][Rr][Yy])>.*?</(?:[Ii][Tt][Ee][Mm]|[Ee][Nn][Tt][Rr][Yy])>',
       |  0)) AS b FROM fdx),
       |fl AS (SELECT b,
       |  regexp_extract(b, '<[Ll][Ii][Nn][Kk]>([^<]*)</[Ll][Ii][Nn][Kk]>', 1)
       |    AS rss_link,
       |  list_filter(regexp_extract_all(b,
       |    '<[Ll][Ii][Nn][Kk][^>]*href="[^"]*"[^>]*>', 0),
       |    t -> strpos(t, 'rel="') = 0
       |      OR strpos(t, 'rel="alternate"') > 0) AS tags,
       |  epoch(try_strptime(regexp_replace(regexp_extract(b,
       |    '<[Pp][Uu][Bb][Dd][Aa][Tt][Ee]>([^<]*)</[Pp][Uu][Bb][Dd][Aa][Tt][Ee]>',
       |    1), '^[A-Za-z]{3}, ', ''), '%d %b %Y %H:%M:%S GMT')) AS pub_s,
       |  epoch(try_strptime(regexp_extract(b,
       |    '<[Uu][Pp][Dd][Aa][Tt][Ee][Dd]>([^<]*)</[Uu][Pp][Dd][Aa][Tt][Ee][Dd]>',
       |    1), '%Y-%m-%dT%H:%M:%SZ')) AS upd_s FROM fb),
       |fu AS (SELECT CASE WHEN rss_link <> '' THEN rss_link
       |    ELSE regexp_extract(coalesce(tags[1], ''), 'href="([^"]*)"', 1)
       |    END AS url,
       |  CAST(coalesce(pub_s, upd_s) AS BIGINT) AS published_s FROM fl),
       |fh AS (SELECT url, published_s,
       |  regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1) AS host
       |  FROM fu WHERE url <> ''),
       |fc AS (SELECT *, row_number() OVER () AS rid,
       |  ${duckDomainOf("host")} AS domain FROM fh WHERE host <> ''),
       |$duckRobotsRuleCtes,
       |fbk AS (SELECT * FROM fc
       |  WHERE domain NOT IN ('s2.example', 's5.example', 's11.example')),
       |fpt AS (SELECT *, ${duckMatchOf("url")} AS mt FROM fbk),
       |fmg AS (SELECT p.rid, p.url, p.published_s, p.domain, r.allow,
       |  row_number() OVER (PARTITION BY p.rid
       |    ORDER BY coalesce(strlen(r.prefix), -1) DESC,
       |             r.allow DESC) AS rn
       |  FROM fpt p LEFT JOIN rru r ON r.domain = p.domain
       |    AND ${duckRobotsMatch("p.mt", "r")}),
       |fg AS (SELECT url, published_s, domain FROM fmg
       |  WHERE rn = 1 AND coalesce(allow, true)),
       |fcand AS (SELECT ${duckCanonOf("url")} AS canon,
       |  min(url) AS url, min(domain) AS domain,
       |  CAST(count(*) AS BIGINT) AS n_refs,
       |  max(published_s) AS published_s FROM fg GROUP BY 1),
       |fstored AS (SELECT DISTINCT ${duckCanonOf("u")} AS canon
       |  FROM (SELECT $duckDirtyUrl AS u FROM documents)),
       |ffresh AS (SELECT c.* FROM fcand c
       |  ANTI JOIN fstored s USING (canon)),
       |franks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |fj AS (SELECT f.canon, f.url, f.domain, f.n_refs, f.published_s,
       |  coalesce(r.pr, 0) AS pr FROM ffresh f
       |  LEFT JOIN franks r ON r.domain = f.domain),
       |ffs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY published_s DESC NULLS LAST, canon ASC) AS slot
       |  FROM fj)
       |SELECT canon, url, domain, n_refs, published_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM ffs WHERE slot <= 10""".stripMargin
  }

  /** The q224 oracle — the q219 validator-log replay extended with
    * the DECLARED overlay (regenerated arithmetically: every `k%3==0`
    * key, lastmod `(k%20)-10` days around the fetch instant) and the
    * three-signal precedence as one CASE pair (reason, due): a
    * declaration decides alone in BOTH directions, the heuristic
    * clamp replays q219's arithmetic verbatim, the flat TTL closes.
    */
  private lazy val q224Sql = {
    val t0 = 1767225600L
    val now = t0 + 3L * 86400L
    s"""WITH uvl AS (SELECT generate_series AS k,
       |  concat('https://w', cast(generate_series % 7 AS varchar), '.s',
       |    cast(generate_series % 5 AS varchar), '.example/p/',
       |    cast(generate_series AS varchar)) AS url,
       |  CAST($t0 AS BIGINT) AS last_fetch_s,
       |  CASE WHEN generate_series % 7 = 0 THEN ''
       |       WHEN generate_series % 7 = 1 THEN 'not a date'
       |       ELSE strftime(make_timestamp(
       |         ($t0 - (generate_series % 90) * 86400) * 1000000),
       |         '%a, %d %b %Y %H:%M:%S GMT') END AS last_modified
       |  FROM generate_series(0, 199)),
       |uds AS (SELECT
       |  concat('https://w', cast(generate_series % 7 AS varchar), '.s',
       |    cast(generate_series % 5 AS varchar), '.example/p/',
       |    cast(generate_series AS varchar)) AS url,
       |  CAST($t0 + ((generate_series % 20) - 10) * 86400 AS BIGINT)
       |    AS lastmod_s
       |  FROM generate_series(0, 199) WHERE generate_series % 3 = 0),
       |ue AS (SELECT v.*, d.lastmod_s,
       |  epoch(try_strptime(
       |    regexp_replace(v.last_modified, '^[A-Za-z]{3}, ', ''),
       |    '%d %b %Y %H:%M:%S GMT')) AS lm
       |  FROM uvl v LEFT JOIN uds d USING (url)),
       |ur AS (SELECT *,
       |  CASE WHEN lastmod_s IS NOT NULL THEN 'sitemap'
       |       WHEN lm IS NOT NULL AND lm <= last_fetch_s
       |         THEN 'heuristic'
       |       ELSE 'default' END AS reason FROM ue),
       |ud AS (SELECT * FROM ur WHERE
       |  CASE WHEN reason = 'sitemap' THEN lastmod_s > last_fetch_s
       |       WHEN reason = 'heuristic' THEN
       |         CAST($now AS BIGINT) - last_fetch_s >= least(greatest(
       |           CAST((last_fetch_s - CAST(lm AS BIGINT)) // 10
       |             AS BIGINT),
       |           CAST(86400 AS BIGINT)), CAST(2592000 AS BIGINT))
       |       ELSE CAST($now AS BIGINT) - last_fetch_s >= 172800
       |       END),
       |uh AS (SELECT ${duckCanonOf("url")} AS canon, url, reason,
       |  regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1) AS host,
       |  last_fetch_s FROM ud),
       |ug AS (SELECT canon, url, ${duckDomainOf("host")} AS domain,
       |  reason, last_fetch_s FROM uh),
       |uranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |uj AS (SELECT g.*, coalesce(r.pr, 0) AS pr FROM ug g
       |  LEFT JOIN uranks r USING (domain)),
       |ufs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_fetch_s ASC, canon ASC) AS slot FROM uj)
       |SELECT canon, url, domain, reason, last_fetch_s,
       |  CAST($now AS BIGINT) - last_fetch_s AS age_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM ufs WHERE slot <= 10""".stripMargin
  }

  /** The q223 oracle — the flat urlset entries regenerated (the
    * q197 `sm`/`sl` chain, gates deliberately absent per the
    * resolver's contract), per-canon MAX lastmod as epoch seconds,
    * intersected with the q196 latest-fetch reduction (the raw-log
    * replay the maintained artifact is pinned equal to), the
    * strictly-newer filter, and the q196 politeness tail.
    */
  private lazy val q223Sql = {
    val base = 1767225600L
    s"""WITH tsm AS (SELECT generate_series AS k,
       |  concat('<?xml version="1.0"?><urlset>',
       |  array_to_string(list_transform(range(0, 10), i -> concat(
       |    '<url><loc>https://w', cast((generate_series + 2 * i) % 7 AS varchar),
       |    '.s', cast(generate_series AS varchar), '.example/p/',
       |    cast((generate_series + i) % 11 AS varchar),
       |    '</loc><lastmod>2026-01-',
       |    lpad(cast(1 + (generate_series + i) % 28 AS varchar), 2, '0'),
       |    '</lastmod></url>')), ''),
       |  '<url><loc>https://w', cast(generate_series % 7 AS varchar),
       |  '.s', cast(generate_series AS varchar), '.example/p/',
       |  cast(generate_series % 11 AS varchar),
       |  '</loc><lastmod>2026-01-',
       |  lpad(cast(1 + (generate_series + 14) % 28 AS varchar), 2, '0'),
       |  '</lastmod></url>',
       |  '</urlset>') AS xml
       |  FROM generate_series(0, 12)),
       |tl0 AS (SELECT unnest(regexp_extract_all(xml,
       |  '(?s)<[Uu][Rr][Ll]>.*?</[Uu][Rr][Ll]>', 0)) AS e FROM tsm),
       |tl1 AS (SELECT
       |  regexp_extract(e, '<[Ll][Oo][Cc]>([^<]*)</[Ll][Oo][Cc]>', 1)
       |    AS url,
       |  regexp_extract(e,
       |    '<[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>([^<]*)</[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>',
       |    1) AS lastmod FROM tl0),
       |tlh AS (SELECT url, lastmod,
       |  regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1) AS host
       |  FROM tl1 WHERE url <> ''),
       |tld AS (SELECT url, ${duckDomainOf("host")} AS domain,
       |  CAST(epoch(try_strptime(lastmod, '%Y-%m-%d')) AS BIGINT)
       |    AS lastmod_s
       |  FROM tlh WHERE host <> ''),
       |tdec AS (SELECT ${duckCanonOf("url")} AS canon,
       |  min(domain) AS domain, max(lastmod_s) AS lastmod_s
       |  FROM tld WHERE lastmod_s IS NOT NULL GROUP BY 1),
       |tf1 AS (SELECT $duckDirtyUrl AS url,
       |  $base + (doc_id % 97) * 3600 AS fetched_at_s FROM documents),
       |tf2 AS (SELECT $duckDirtyUrl AS url,
       |  $base + (doc_id % 97) * 3600 + 172800 AS fetched_at_s
       |  FROM documents WHERE doc_id % 5 = 0),
       |tfu AS (SELECT * FROM tf1 UNION ALL SELECT * FROM tf2),
       |tlast AS (SELECT ${duckCanonOf("url")} AS canon,
       |  (max({'ts': fetched_at_s, 'u': url})).u AS url,
       |  CAST(max(fetched_at_s) AS BIGINT) AS last_fetch_s
       |  FROM tfu GROUP BY 1),
       |tdue AS (SELECT l.canon, l.url, d.domain, d.lastmod_s,
       |  l.last_fetch_s FROM tlast l JOIN tdec d USING (canon)
       |  WHERE d.lastmod_s > l.last_fetch_s),
       |trk AS (SELECT domain, pr FROM (${hostRankSql()})),
       |tjn AS (SELECT d.*, coalesce(r.pr, 0) AS pr FROM tdue d
       |  LEFT JOIN trk r ON r.domain = d.domain),
       |tsl AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_fetch_s ASC, canon ASC) AS slot FROM tjn)
       |SELECT canon, url, domain, lastmod_s, last_fetch_s,
       |  CAST(lastmod_s - last_fetch_s AS BIGINT) AS drift_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM tsl WHERE slot <= 10""".stripMargin
  }

  /** The q222 oracle — the availability algebra CLOSED over the
    * fixture: mode per domain index from the planted status
    * arithmetic (`k%7`, the 30-day cache window at `20+2k`), the
    * EFFECTIVE rule source (own domain, or `s(k-3)` for the
    * redirect-followed legs — always a 200 domain by construction),
    * the shared `rru` wildcard rules joined for parsed/cached
    * domains only, and the allow-all/disallow-all overrides applied
    * after the longest-match rank — the resolver's exact precedence.
    */
  private lazy val q222Sql =
    s"""WITH $duckRobotsRuleCtes,
       |av AS (SELECT generate_series AS k,
       |  concat('s', cast(generate_series AS varchar), '.example')
       |    AS domain FROM generate_series(0, 12)),
       |avm AS (SELECT k, domain,
       |  CASE WHEN k % 7 IN (0, 3) THEN 'parsed'
       |       WHEN k % 7 IN (1, 5, 6) THEN 'allow_all'
       |       WHEN 20 + 2 * k <= 30 THEN 'cached'
       |       ELSE 'disallow_all' END AS mode,
       |  CASE WHEN k % 7 = 3
       |       THEN concat('s', cast(k - 3 AS varchar), '.example')
       |       ELSE domain END AS src_domain
       |  FROM av),
       |acand AS (SELECT a.domain, a.mode, a.src_domain,
       |  CASE t.t WHEN 0 THEN concat('/p/', cast(j.j AS varchar))
       |       WHEN 1 THEN concat('/r/', cast(j.j AS varchar), '7')
       |       WHEN 2 THEN concat('/p/', cast(j.j AS varchar), 'feed')
       |       ELSE concat('/x?utm_', cast(j.j AS varchar)) END AS pth
       |  FROM avm a, generate_series(0, 9) j(j),
       |    generate_series(0, 3) t(t)),
       |acu AS (SELECT domain, mode, src_domain,
       |  concat('https://', domain, pth) AS url, pth AS mt
       |  FROM acand),
       |acm AS (SELECT c.*, r.prefix, r.allow FROM acu c
       |  LEFT JOIN rru r ON c.mode IN ('parsed', 'cached')
       |    AND r.domain = c.src_domain
       |    AND ${duckRobotsMatch("c.mt", "r")}),
       |acv AS (SELECT *, row_number() OVER (PARTITION BY url
       |  ORDER BY coalesce(strlen(prefix), -1) DESC, allow DESC) AS rn
       |  FROM acm)
       |SELECT domain, url, mode,
       |  CASE WHEN mode = 'allow_all' THEN true
       |       WHEN mode = 'disallow_all' THEN false
       |       ELSE coalesce(allow, true) END AS allowed,
       |  CAST(coalesce(strlen(prefix), -1) AS INT) AS rule_len
       |FROM acv WHERE rn = 1""".stripMargin

  /** The q221 oracle — the planted redirect graph regenerated from
    * `documents` (url/status/Location by `doc_id % 31`, the fixture's
    * exact arithmetic), then the chain walk as a RECURSIVE CTE: the
    * path accumulates '|'-delimited URLs for the loop check, and the
    * verdict CASE replays the resolver's precedence verbatim —
    * loop, then resolved (target not a redirecting fetch), then
    * too_deep at the 5-hop cap. The final LEFT JOIN back onto the
    * fetch table nulls `final_status` exactly where the chain left
    * the fetched set.
    */
  private lazy val q221Sql = {
    def u(k: String) = s"""concat('https://s',
       |    cast(($k) % 10 AS varchar), '.example/c/',
       |    cast($k AS varchar))""".stripMargin
    s"""WITH RECURSIVE f AS (SELECT
       |  ${u("doc_id")} AS url,
       |  CASE WHEN doc_id % 31 IN (1, 2, 3, 20, 22)
       |         OR doc_id % 31 BETWEEN 11 AND 17 THEN 301
       |       WHEN doc_id % 31 = 25 THEN 302
       |       ELSE 200 END AS status,
       |  CASE WHEN doc_id % 31 = 20 THEN ${u("doc_id + 2")}
       |       WHEN doc_id % 31 = 22 THEN ${u("doc_id - 2")}
       |       WHEN doc_id % 31 = 25 THEN
       |         concat('https://ext.example/m/', cast(doc_id AS varchar))
       |       WHEN doc_id % 31 IN (1, 2, 3)
       |         OR doc_id % 31 BETWEEN 11 AND 17 THEN ${u("doc_id + 1")}
       |       ELSE '' END AS redir
       |  FROM documents),
       |e AS (SELECT f.url AS src, f.redir AS dst,
       |    (s2.url IS NOT NULL) AS dst_is_src
       |  FROM f LEFT JOIN (SELECT DISTINCT url FROM f
       |    WHERE status BETWEEN 300 AND 399 AND redir <> '') s2
       |    ON f.redir = s2.url
       |  WHERE f.status BETWEEN 300 AND 399 AND f.redir <> ''),
       |walk AS (
       |  SELECT src AS origin, src AS cur, CAST(0 AS INTEGER) AS hops,
       |    concat('|', src, '|') AS path, CAST(NULL AS VARCHAR) AS verdict
       |  FROM e
       |  UNION ALL
       |  SELECT w.origin, e.dst, w.hops + 1,
       |    concat(w.path, e.dst, '|'),
       |    CASE WHEN strpos(w.path, concat('|', e.dst, '|')) > 0
       |           THEN 'loop'
       |         WHEN NOT e.dst_is_src THEN 'resolved'
       |         WHEN w.hops + 1 = 5 THEN 'too_deep'
       |         ELSE NULL END
       |  FROM walk w JOIN e ON w.cur = e.src
       |  WHERE w.verdict IS NULL AND w.hops < 5)
       |SELECT w.origin, w.cur AS final_url, w.hops, w.verdict,
       |  f.status AS final_status
       |FROM walk w LEFT JOIN f ON w.cur = f.url
       |WHERE w.verdict IS NOT NULL""".stripMargin
  }

  private def sitemapChainSql(extraCtes: String, smPred: String) =
    s"""WITH $duckRobotsRuleCtes,
       |${extraCtes}sm AS (SELECT generate_series AS k, concat('<?xml version="1.0"?><urlset>',
       |  array_to_string(list_transform(range(0, 10), i -> concat(
       |    '<url><loc>https://w', cast((generate_series + 2 * i) % 7 AS varchar),
       |    '.s', cast(generate_series AS varchar), '.example/p/',
       |    cast((generate_series + i) % 11 AS varchar),
       |    '</loc><lastmod>2026-01-',
       |    lpad(cast(1 + (generate_series + i) % 28 AS varchar), 2, '0'),
       |    '</lastmod></url>')), ''),
       |  '<url><loc>https://w', cast(generate_series % 7 AS varchar),
       |  '.s', cast(generate_series AS varchar), '.example/p/',
       |  cast(generate_series % 11 AS varchar),
       |  '</loc><lastmod>2026-01-',
       |  lpad(cast(1 + (generate_series + 14) % 28 AS varchar), 2, '0'),
       |  '</lastmod></url>',
       |  '</urlset>') AS xml
       |  FROM generate_series(0, 12)
       |  WHERE $smPred),
       |sl0 AS (SELECT unnest(regexp_extract_all(xml,
       |  '(?s)<[Uu][Rr][Ll]>.*?</[Uu][Rr][Ll]>', 0)) AS e FROM sm),
       |sl1 AS (SELECT
       |  regexp_extract(e, '<[Ll][Oo][Cc]>([^<]*)</[Ll][Oo][Cc]>', 1)
       |    AS url,
       |  regexp_extract(e,
       |    '<[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>([^<]*)</[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>',
       |    1) AS lastmod FROM sl0),
       |sl AS (SELECT *, row_number() OVER () AS rid FROM sl1
       |  WHERE url <> ''),
       |sh AS (SELECT rid, url, lastmod,
       |  regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1) AS host
       |  FROM sl),
       |sc2 AS (SELECT rid, url, lastmod, host, ${duckDomainOf("host")}
       |  AS domain FROM sh WHERE host <> ''),
       |sb AS (SELECT * FROM sc2
       |  WHERE domain NOT IN ('s2.example', 's5.example', 's11.example')),
       |spt AS (SELECT *, ${duckMatchOf("url")} AS mt FROM sb),
       |smg AS (SELECT p.rid, p.url, p.lastmod, p.domain, r.allow,
       |  row_number() OVER (PARTITION BY p.rid
       |    ORDER BY coalesce(strlen(r.prefix), -1) DESC,
       |             r.allow DESC) AS rn
       |  FROM spt p LEFT JOIN rru r ON r.domain = p.domain
       |    AND ${duckRobotsMatch("p.mt", "r")}),
       |sg AS (SELECT url, lastmod, domain FROM smg
       |  WHERE rn = 1 AND coalesce(allow, true)),
       |scand AS (SELECT ${duckCanonOf("url")} AS canon,
       |  min(url) AS url, min(domain) AS domain,
       |  CAST(count(*) AS BIGINT) AS n_refs,
       |  min(lastmod) AS lastmod FROM sg GROUP BY 1),
       |sstored AS (SELECT DISTINCT ${duckCanonOf("u")} AS canon
       |  FROM (SELECT $duckDirtyUrl AS u FROM documents)),
       |sfresh AS (SELECT c.* FROM scand c
       |  ANTI JOIN sstored s USING (canon)),
       |sranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |sj AS (SELECT f.canon, f.url, f.domain, f.n_refs, f.lastmod,
       |  coalesce(r.pr, 0) AS pr FROM sfresh f
       |  LEFT JOIN sranks r ON r.domain = f.domain),
       |sfs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY lastmod ASC, canon ASC) AS slot FROM sj)
       |SELECT canon, url, domain, n_refs, lastmod, pr,
       |  CAST(slot AS INT) AS slot
       |FROM sfs WHERE slot <= 10""".stripMargin

  /** The q196 oracle — the planted fetch log regenerated (first
    * fetches hour-spread, %5 == 0 keys re-fetched 48 h later), the
    * latest-fetch reduction as a named-struct max (DuckDB struct
    * comparison matches Spark's field-order semantics, url as the
    * deterministic tiebreak), the age filter, the epoch rank, and the
    * oldest-first per-domain cap. Epoch seconds as integers
    * throughout.
    */
  private lazy val q196Sql = {
    val base = 1767225600L
    val now = base + 9L * 86400L
    val ttl = 7L * 86400L
    s"""WITH rf1 AS (SELECT $duckDirtyUrl AS url,
       |  $base + (doc_id % 97) * 3600 AS fetched_at_s FROM documents),
       |rf2 AS (SELECT $duckDirtyUrl AS url,
       |  $base + (doc_id % 97) * 3600 + 172800 AS fetched_at_s
       |  FROM documents WHERE doc_id % 5 = 0),
       |rfu AS (SELECT * FROM rf1 UNION ALL SELECT * FROM rf2),
       |rlast AS (SELECT ${duckCanonOf("url")} AS canon,
       |  (max({'ts': fetched_at_s, 'u': url})).u AS url,
       |  CAST(max(fetched_at_s) AS BIGINT) AS last_fetch_s,
       |  '' AS etag, '' AS last_modified
       |  FROM rfu GROUP BY 1),
       |rdue AS (SELECT *, ${duckDomainOf(
      s"regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1)")}
       |    AS domain
       |  FROM rlast WHERE $now - last_fetch_s >= $ttl),
       |rrk AS (SELECT domain, pr FROM (${hostRankSql()})),
       |rjn AS (SELECT d.canon, d.url, d.domain, d.last_fetch_s, d.etag,
       |  d.last_modified,
       |  coalesce(r.pr, 0) AS pr FROM rdue d
       |  LEFT JOIN rrk r ON r.domain = d.domain),
       |rsl AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_fetch_s ASC, canon ASC) AS slot FROM rjn)
       |SELECT canon, url, domain, last_fetch_s, etag, last_modified,
       |  CAST($now - last_fetch_s AS BIGINT) AS age_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM rsl WHERE slot <= 10""".stripMargin
  }

  /** The q195 oracle — the q191 frontier chain's stage CTEs counted
    * per domain (attributable zc → unblocked zb → robots-allowed zg →
    * candidate keys zcand → unseen zfresh → capped zfs), full-outer
    * assembled with zero fill.
    */
  private lazy val q195Sql = {
    val stages = Seq(
      ("s1", "n_links", "zc"), ("s2", "n_unblocked", "zb"),
      ("s3", "n_allowed", "zg"), ("s4", "n_keys", "zcand"),
      ("s5", "n_unseen", "zfresh"), ("s6", "n_scheduled",
        "(SELECT * FROM zfs WHERE slot <= 10)"))
    val cte = stages.map { case (n, c, src) =>
      s"""$n AS (SELECT domain, CAST(count(*) AS BIGINT) AS $c
         |  FROM $src GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val joins = stages.tail.map(s => s"FULL JOIN ${s._1} USING (domain)")
      .mkString("\n")
    val cols = stages.map(s => s"coalesce(${s._2}, 0) AS ${s._2}")
      .mkString(", ")
    s"""WITH $duckRobotsRuleCtes,
       |${frontierCtes("z", robots = true)},
       |$cte
       |SELECT domain, $cols
       |FROM s1
       |$joins""".stripMargin
  }

  /** The q192 oracle — the two loop waves replayed batch-exactly:
    * wave 0 schedules from the [250, 375) pages against the keys of
    * everything fetched through that wave (the seed [0, 250) plus its
    * own batch, appended FIRST in loop order); wave 1 from [375, 500)
    * against all 500 keys. Rank stays epoch-level in both.
    */
  /** The shared two-wave schedule tail of the loop oracles (q192,
    * q202, q203): the capped waves unioned with their wave ids, then
    * the Crawl-delay join exactly as q198. Expects `sdl` in the WITH
    * clause; `srcs` are the pre-cap CTE names in wave order.
    */
  /** The CARRIED dispatch clock (q207) replayed: stage i's offsets
    * start at the per-domain state left by stages 0..i-1 (state
    * merge = advanced domains override, untouched carry forward),
    * exactly [[graft.ops.HtmlOps.scheduleWaveValidated]] ∘
    * [[graft.ops.HtmlOps.advanceSchedState]] chained in the loop's
    * clock order. Emits `cw0..cwN` (the scheduled stages, capped) and
    * `cst0..cstN+1` (the states); `stages` = (srcCte, cols) pairs.
    * Expects `sdl` in the WITH clause.
    */
  private def carriedScheduleCtes(
      stages: Seq[(String, String, String)]): String = {
    val sb = new StringBuilder
    sb.append("cst0 AS (SELECT '' AS domain, CAST(0 AS BIGINT) AS nx WHERE 1=0)")
    stages.zipWithIndex.foreach { case ((src, cols, sdl), i) =>
      sb.append(s""",
         |cw$i AS (SELECT $cols, CAST(slot AS INT) AS slot,
         |  coalesce($sdl.delay_s, 30) AS delay_s,
         |  CAST(coalesce(cst$i.nx, 0)
         |    + (slot - 1) * coalesce($sdl.delay_s, 30) AS BIGINT)
         |    AS not_before_s
         |  FROM $src LEFT JOIN $sdl USING (domain)
         |  LEFT JOIN cst$i USING (domain) WHERE slot <= 10),
         |cst${i + 1} AS (SELECT domain, coalesce(a.nx, s.nx) AS nx
         |  FROM cst$i s FULL JOIN (SELECT domain,
         |    max(not_before_s) + max(delay_s) AS nx FROM cw$i GROUP BY 1) a
         |  USING (domain))""".stripMargin)
    }
    sb.toString
  }

  private def waveScheduleSql(cols: String, srcs: Seq[String]): String = {
    val union = srcs.zipWithIndex.map { case (src, w) =>
      s"""  SELECT $cols, CAST(slot AS INT) AS slot,
         |    CAST($w AS BIGINT) AS wave FROM $src WHERE slot <= 10"""
        .stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""wv AS (
       |$union)
       |SELECT wv.*, coalesce(sdl.delay_s, 30) AS delay_s,
       |  CAST((slot - 1) * coalesce(sdl.delay_s, 30) AS BIGINT)
       |    AS not_before_s
       |FROM wv LEFT JOIN sdl USING (domain)""".stripMargin
  }

  /** The q192/q202 shared CTE prelude: both discovery waves, both
    * refetch waves, and the ONE carried dispatch clock threaded
    * through them in the loop's execution order (discovery 0,
    * refetch 0, discovery 1, refetch 1) — q192 reads the discovery
    * stages (cw0/cw2), q202 the refetch stages (cw1/cw3), but each
    * oracle must replay the WHOLE chain because every stage's offsets
    * depend on all prior stages' tails.
    */
  private def loopScheduleChain: String = {
    val ttl = 48L * 3600L
    val w0 = frontierCtes("wa", robots = true,
      pagePred = "doc_id >= 250 AND doc_id < 375", keyPred = "doc_id < 375")
    val w1 = frontierCtes("wb", robots = true,
      pagePred = "doc_id >= 375")
    val dCols = "canon, url, domain, n_refs, pr"
    val rCols =
      "canon, url, domain, last_fetch_s, etag, last_modified, age_s, pr"
    s"""$duckRobotsRuleCtes,
       |$duckRobotsTxtCtes,
       |$duckDelayCte,
       |eranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |$w0,
       |$w1,
       |${refetchWaveCtes("ra", "doc_id < 375",
      "doc_id >= 250 AND doc_id < 375", ttl)},
       |${refetchWaveCtes("rb", "true", "doc_id >= 375", ttl)},
       |${carriedScheduleCtes(Seq(("wafs", dCols, "sdl"),
      ("rasl", rCols, "sdl"), ("wbfs", dCols, "sdl"),
      ("rbsl", rCols, "sdl")))}"""
      .stripMargin
  }

  private lazy val q192Sql =
    s"""WITH $loopScheduleChain
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(0 AS BIGINT) AS wave FROM cw0
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(1 AS BIGINT) AS wave FROM cw2""".stripMargin

  /** One refetch-wave CTE chain (ending in `${pfx}sl`, pre-cap): the
    * fetch log as of the wave (`logPred` bounds the docs whose fetch
    * times have been upserted), the latest-fetch reduction, "now" as
    * the WAVE's own latest fetch time (`nowPred`), the age filter,
    * the epoch rank, the oldest-first cap ordering. Expects `eranks`
    * in the WITH clause.
    */
  private def refetchWaveCtes(pfx: String, logPred: String,
                              nowPred: String, ttlS: Long): String =
    s"""${pfx}lg AS (SELECT $duckDirtyUrl AS url,
       |  1767225600 + (doc_id % 97) * 3600 AS t FROM documents
       |  WHERE $logPred),
       |${pfx}lt AS (SELECT ${duckCanonOf("url")} AS canon,
       |  (max({'t': t, 'u': url})).u AS url,
       |  CAST(max(t) AS BIGINT) AS last_fetch_s,
       |  '' AS etag, '' AS last_modified FROM ${pfx}lg GROUP BY 1),
       |${pfx}nw AS (SELECT CAST(MAX(1767225600 + (doc_id % 97) * 3600)
       |  AS BIGINT) AS now FROM documents WHERE $nowPred),
       |${pfx}du AS (SELECT l.*, n.now, ${duckDomainOf(
      "regexp_extract(l.url, '^(?i)(?:https?:)?//([^/?#]+)', 1)")}
       |    AS domain
       |  FROM ${pfx}lt l CROSS JOIN ${pfx}nw n
       |  WHERE n.now - l.last_fetch_s >= $ttlS),
       |${pfx}rj AS (SELECT d.canon, d.url, d.domain, d.last_fetch_s,
       |  d.etag, d.last_modified,
       |  CAST(d.now - d.last_fetch_s AS BIGINT) AS age_s,
       |  coalesce(r.pr, 0) AS pr
       |  FROM ${pfx}du d LEFT JOIN eranks r ON r.domain = d.domain),
       |${pfx}sl AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_fetch_s ASC, canon ASC) AS slot FROM ${pfx}rj)"""
      .stripMargin

  /** The q202 oracle — both streamed waves' refetch schedules
    * replayed: wave 0's log covers the seed plus its own batch
    * (docs < 375, appended FIRST in loop order), wave 1's covers all
    * 500; each wave's "now" is its own latest fetch; the Crawl-delay
    * schedule joins exactly as q198.
    */
  private lazy val q202Sql =
    s"""WITH $loopScheduleChain
       |SELECT canon, url, domain, last_fetch_s, etag, last_modified,
       |  age_s, pr, slot,
       |  delay_s, not_before_s, CAST(0 AS BIGINT) AS wave FROM cw1
       |UNION ALL
       |SELECT canon, url, domain, last_fetch_s, etag, last_modified,
       |  age_s, pr, slot,
       |  delay_s, not_before_s, CAST(1 AS BIGINT) AS wave FROM cw3"""
      .stripMargin

  /** HtmlOps.urlTrapped mirrored: char-length cap + duplicate path
    * segments beyond the distinct set (count-based — RE2 has no
    * backreferences, so both engines run the identical rule).
    */
  private def duckTrapPred(u: String): String = {
    val segs = s"list_filter(string_split(regexp_extract($u, " +
      "'^(?i)(?:https?:)?//[^/?#]+([^?#]*)', 1), '/'), x -> x <> '')"
    s"(length($u) > 2048 OR (len($segs) - len(list_distinct($segs))) > 3)"
  }

  /** The q216 oracle — the planted trap corpus regenerated, the trap
    * verdict replayed per row.
    */
  private lazy val q216Sql =
    s"""WITH tu AS (SELECT doc_id,
       |  concat('https://w', cast(doc_id % 7 AS varchar), '.example',
       |    CASE WHEN doc_id % 7 = 0 THEN '/t/t/t/t/t/t/'
       |         WHEN doc_id % 7 = 1 THEN concat('/', repeat('a', 2100), '/')
       |         ELSE concat('/d/', cast(doc_id % 5 AS varchar), '/x/') END,
       |    cast(doc_id AS varchar)) AS url FROM documents)
       |SELECT doc_id, url, CAST(length(url) AS BIGINT) AS n_chars,
       |  ${duckTrapPred("url")} AS trapped
       |FROM tu""".stripMargin

  /** The q217 oracle — leg-closed: the declared lengths regenerate
    * from the same html expression; every leg's body decodes (the
    * truncated-IDENTITY leg is precisely the one only the length
    * check catches), and the verdict is the leg's by construction.
    */
  private lazy val q217Sql =
    s"""WITH lp AS (SELECT doc_id, $duckHtml AS html FROM documents)
       |SELECT doc_id,
       |  CASE WHEN doc_id % 4 = 0 THEN CAST(length(html) AS BIGINT)
       |       WHEN doc_id % 4 = 1 THEN CAST(length(html) + 5 AS BIGINT)
       |       WHEN doc_id % 4 = 2 THEN CAST(length(html) + 7 AS BIGINT)
       |       ELSE NULL END AS http_content_length,
       |  CASE WHEN doc_id % 4 = 2 THEN 'chunked' ELSE '' END
       |    AS transfer_encoding,
       |  true AS body_ok,
       |  (doc_id % 4 <> 1) AS body_len_ok
       |FROM lp""".stripMargin

  /** HtmlOps.removeDotSegments mirrored — the SAME bounded regex
    * fix-point (six passes, lookahead-free segment class, cheap
    * `contains('/.')` guard), so Spark and DuckDB normalize
    * identically by construction on ANY input, not just the planted
    * legs.
    */
  private def duckRemoveDots(path: String): String = {
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

  /** HtmlOps.resolvedUrl mirrored (RFC 3986 §5.2): own authority
    * stays; server-relative dot-normalizes onto the host;
    * query-only/fragment-only references keep the base; everything
    * else merges against the base path's directory and
    * dot-normalizes. `bp` defaults to the root base the plain-HTML
    * flows use.
    */
  private def duckResolvedUrl(u: String, h: String,
                              bp: String = "'/'"): String = {
    val dir =
      s"""CASE WHEN coalesce(regexp_extract($bp, '^(.*/)', 1), '') = ''
         |  THEN '/' ELSE regexp_extract($bp, '^(.*/)', 1) END""".stripMargin
    s"""CASE WHEN regexp_matches($u, '^(?i)(?:https?:)?//') THEN $u
       |     WHEN starts_with($u, '/')
       |       THEN concat('//', $h, ${duckRemoveDots(u)})
       |     WHEN starts_with($u, '?')
       |       THEN concat('//', $h, coalesce($bp, '/'), $u)
       |     WHEN starts_with($u, '#')
       |       THEN concat('//', $h, coalesce($bp, '/'))
       |     ELSE concat('//', $h,
       |       ${duckRemoveDots(s"concat($dir, $u)")}) END""".stripMargin
  }

  /** HtmlOps.robotsGate's path extraction mirrored: authority URLs
    * use their own path; a server-relative href IS its path;
    * everything else has none. (DuckDB's regexp_extract returns ''
    * on no match, same as Spark — the coalesce here is belt and
    * braces for the guarded branches, not a semantic divergence.)
    */
  private def duckPathOf(u: String): String =
    s"""CASE
       |  WHEN regexp_matches($u, '^(?i)(?:https?:)?//')
       |  THEN coalesce(regexp_extract($u,
       |    '^(?i)(?:https?:)?//[^/?#]+([^?#]*)', 1), '')
       |  WHEN starts_with($u, '/')
       |  THEN coalesce(regexp_extract($u, '^([^?#]*)', 1), '')
       |  ELSE '' END""".stripMargin

  /** robotsGate's match TARGET mirrored: path PLUS query (stop at
    * `#` only) — `Disallow: /\*?utm_` must see the query string.
    */
  private def duckMatchOf(u: String): String =
    s"""CASE
       |  WHEN regexp_matches($u, '^(?i)(?:https?:)?//')
       |  THEN coalesce(regexp_extract($u,
       |    '^(?i)(?:https?:)?//[^/?#]+([^#]*)', 1), '')
       |  WHEN starts_with($u, '/')
       |  THEN coalesce(regexp_extract($u, '^([^#]*)', 1), '')
       |  ELSE '' END""".stripMargin

  /** The RFC 9309 §2.2.3 rule match mirrored (graft side:
    * [[graft.functions.UrlOps.robotsMatches]], a native byte-walk):
    * wildcard-free rules stay the plain prefix compare; a rule
    * carrying `*` or a trailing `$` is compiled to an RE2 regex —
    * escape the metachars, then `\\*` → `.*` and a trailing `\\$` →
    * the end anchor — anchored at the start ((?s) so a stray control
    * char in a target can never break the `.*` span). The explicit
    * `<> ''` guard keeps no-path references (mailto:, bare authority)
    * matching nothing: a leading-`*` pattern would otherwise match
    * the empty target. PropertySpec pins this regex construction
    * equal to the byte-walk on randomized patterns/targets.
    */
  private def duckRobotsMatch(mt: String, r: String): String =
    s"""($mt <> '' AND CASE
       |  WHEN $r.prefix LIKE '%*%' OR $r.prefix LIKE '%$$'
       |  THEN regexp_matches($mt, '(?s)^' ||
       |    regexp_replace(regexp_replace(regexp_replace($r.prefix,
       |      '([.^$$|?*+()\\[\\]{}\\\\])', '\\\\\\1', 'g'),
       |      '\\\\\\*', '.*', 'g'),
       |      '\\\\\\$$$$', '$$', 'g'))
       |  ELSE starts_with($mt, $r.prefix) END)""".stripMargin

  /** HtmlOps.plantedRobotsTxt regenerated byte-identically from
    * `generate_series`, plus the star-group body extraction — the
    * CTEs the q199 parse oracle and the q198 delay derivation share.
    * (`e''` strings: DuckDB only unescapes \n in escaped literals.)
    */
  private lazy val duckRobotsTxtCtes = {
    val gs = "generate_series"
    val nl = "\n" // real newline bytes inside the SQL literals, the
                  // $cr convention of duckWarcChain
    val cr = "\r" // the CRLF legs carry a real carriage-return byte
    s"""rtxt AS (SELECT
       |  concat('s', cast($gs AS varchar), '.example') AS domain,
       |  concat('# robots.txt for s', cast($gs AS varchar),
       |    '.example$nl',
       |    CASE WHEN $gs % 2 = 1
       |      THEN concat('Sitemap: https://s', cast($gs AS varchar),
       |        '.example/sitemap.xml$nl') ELSE '' END,
       |    CASE WHEN $gs % 4 = 0
       |      THEN 'Sitemap: /sitemap.xml$nl' ELSE '' END,
       |    CASE WHEN $gs % 3 = 0
       |      THEN 'User-agent: badbot${nl}Disallow: /$nl$nl' ELSE '' END,
       |    'User-agent: *$nl',
       |    CASE WHEN $gs % 2 = 0
       |      THEN 'Disallow: /p/ # tracked section${nl}Allow: /p/1$nl'
       |      ELSE '' END,
       |    CASE WHEN $gs % 4 = 1
       |      THEN 'Disallow: /${nl}Allow: /nav$nl' ELSE '' END,
       |    CASE WHEN $gs % 4 = 2 THEN 'Allow: /p/$nl' ELSE '' END,
       |    CASE WHEN $gs % 5 = 2 THEN 'Disallow: /*?utm_$nl' ELSE '' END,
       |    CASE WHEN $gs % 3 = 0 THEN 'Disallow: /r/*7$$$nl' ELSE '' END,
       |    CASE WHEN $gs = 7 THEN 'Allow: /p/*feed$$$nl' ELSE '' END,
       |    CASE WHEN $gs % 5 = 3 THEN 'Disallow:$nl' ELSE '' END,
       |    CASE WHEN $gs % 6 = 4 THEN 'Disallow: /crlf/$cr$nl'
       |      ELSE '' END,
       |    CASE WHEN $gs <= 9 THEN concat('Crawl-delay: ',
       |      cast(5 + ($gs % 4) * 10 AS varchar),
       |      CASE WHEN $gs % 3 = 0 THEN ' # be nice' ELSE '' END,
       |      CASE WHEN $gs % 6 = 4 THEN '$cr$nl' ELSE '$nl' END)
       |      ELSE '' END,
       |    CASE WHEN $gs % 3 = 1
       |      THEN '${nl}User-agent: badbot${nl}Disallow: /private$nl'
       |      ELSE '' END) AS txt
       |  FROM generate_series(0, 12)),
       |rbody AS (SELECT domain,
       |  coalesce(array_to_string(
       |    list_filter(string_split(txt, 'User-agent: '),
       |      s -> starts_with(s, '*')), chr(10)), '') AS body
       |  FROM rtxt)""".stripMargin
  }

  /** The q199 oracle — the raw robots bytes regenerated, the star
    * group isolated, directives extracted line-anchored, empty rule
    * values dropped — the full parse chain replayed.
    */
  private lazy val q199Sql = {
    val nl = "\n"
    val cr = "\r"
    def dir(cte: String, name: String, allow: Boolean) =
      s"""$cte AS (SELECT domain, $allow AS allow, rtrim(p) AS prefix
         |  FROM (SELECT domain, unnest(regexp_extract_all(body,
         |    '(?m)^$name:[ \t]*([^$cr$nl#]*)', 1)) AS p FROM rbody))"""
        .stripMargin
    s"""WITH $duckRobotsTxtCtes,
       |${dir("rdis", "[Dd]isallow", allow = false)},
       |${dir("ralw", "[Aa]llow", allow = true)}
       |SELECT domain, allow, prefix
       |FROM (SELECT * FROM rdis UNION ALL SELECT * FROM ralw)
       |WHERE prefix <> ''""".stripMargin
  }

  /** The q198 delay table DERIVED from the regenerated robots bytes —
    * the same Crawl-delay extraction [[graft.ops.HtmlOps.parseCrawlDelays]]
    * runs; expects [[duckRobotsTxtCtes]] in the WITH clause.
    */
  private lazy val duckDelayCte = {
    val cr = "\r"
    // the value tolerates trailing blanks, an inline '# comment', and
    // a CRLF terminator — HtmlOps.parseCrawlDelays's exact pattern
    s"""sdl AS (SELECT domain, CAST(ds AS BIGINT) AS delay_s FROM
       |  (SELECT domain, regexp_extract(body,
       |     '(?m)^[Cc]rawl-[Dd]elay:[ \t]*([0-9]+)[ \t]*(?:#[^\n]*)?$cr?$$',
       |     1) AS ds
       |   FROM rbody)
       |  WHERE ds <> '' AND CAST(ds AS BIGINT) >= 1)""".stripMargin
  }

  /** HtmlOps.plantedRobotsRules regenerated from `generate_series` —
    * the `rru` CTE both robots oracles (q190, q191) join against.
    */
  private lazy val duckRobotsRuleCtes =
    s"""rdm AS (SELECT generate_series AS k,
       |  concat('s', cast(generate_series AS varchar), '.example')
       |    AS domain FROM generate_series(0, 12)),
       |rru AS (
       |  SELECT domain, false AS allow, '/p/' AS prefix FROM rdm
       |    WHERE k % 2 = 0
       |  UNION ALL SELECT domain, true, '/p/1' FROM rdm WHERE k % 2 = 0
       |  UNION ALL SELECT domain, false, '/' FROM rdm WHERE k % 4 = 1
       |  UNION ALL SELECT domain, true, '/nav' FROM rdm WHERE k % 4 = 1
       |  UNION ALL SELECT domain, true, '/p/' FROM rdm WHERE k % 4 = 2
       |  UNION ALL SELECT domain, false, '/*?utm_' FROM rdm WHERE k % 5 = 2
       |  UNION ALL SELECT domain, false, '/r/*7$$' FROM rdm WHERE k % 3 = 0
       |  UNION ALL SELECT domain, true, '/p/*feed$$' FROM rdm WHERE k = 7
       |  UNION ALL SELECT domain, false, '/crlf/' FROM rdm WHERE k % 6 = 4)"""
      .stripMargin

  /** The q190 oracle — outlinks with hosts (the q173 chain), the
    * planted rules regenerated from `generate_series`, longest-match
    * replayed as a prefix-match LEFT JOIN plus a per-link
    * `(strlen(prefix), allow)` rank — allow wins length ties, no
    * match means allowed.
    */
  private lazy val q190Sql =
    s"""WITH rp AS (SELECT doc_id, $duckFetchHost AS fetch_host,
       |  $duckHtml AS html FROM documents),
       |rl0 AS (SELECT doc_id, fetch_host,
       |  unnest(regexp_extract_all(html, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1))
       |    AS url FROM rp),
       |rl AS (SELECT *, row_number() OVER () AS rid FROM rl0),
       |rh AS (SELECT rid, doc_id, url, ${duckLinkHost("url")} AS host
       |  FROM rl),
       |rc AS (SELECT rid, doc_id, url, host, ${duckDomainOf("host")}
       |  AS domain FROM rh WHERE host <> ''),
       |rb AS (SELECT *, domain IN ('s2.example', 's5.example',
       |  's11.example') AS blocked FROM rc),
       |rpt AS (SELECT *, ${duckPathOf("url")} AS path,
       |  ${duckMatchOf("url")} AS mt FROM rb),
       |$duckRobotsRuleCtes,
       |rm AS (SELECT p.rid, p.doc_id, p.url, p.host, p.domain, p.blocked,
       |  p.path, r.prefix, r.allow FROM rpt p LEFT JOIN rru r
       |  ON r.domain = p.domain AND ${duckRobotsMatch("p.mt", "r")}),
       |rv AS (SELECT *, row_number() OVER (PARTITION BY rid
       |  ORDER BY coalesce(strlen(prefix), -1) DESC, allow DESC) AS rn
       |  FROM rm)
       |SELECT doc_id, url, host, domain, blocked, path,
       |  coalesce(allow, true) AS allowed,
       |  CAST(coalesce(strlen(prefix), -1) AS INT) AS rule_len
       |FROM rv WHERE rn = 1""".stripMargin

  /** The q189 oracle — both canonical keys per planted param URL,
    * duplicate-group sizes under each, keep-first verdict under the
    * conservative key.
    */
  private lazy val q189Sql =
    s"""WITH pu AS (SELECT doc_id, $duckParamUrl AS url FROM documents),
       |pk AS (SELECT doc_id, url,
       |  ${duckCanonOf("url")} AS canon,
       |  ${duckCanonParamsOf("url", Seq("id", "page"))} AS canon_p
       |  FROM pu)
       |SELECT doc_id, url, canon, canon_p,
       |  CAST(count(*) OVER (PARTITION BY canon) AS BIGINT) AS n_dups,
       |  CAST(count(*) OVER (PARTITION BY canon_p) AS BIGINT) AS n_dups_p,
       |  (row_number() OVER (PARTITION BY canon_p ORDER BY doc_id) = 1)
       |    AS is_canonical
       |FROM pk""".stripMargin

  private lazy val urlKeySql =
    s"""WITH p AS (SELECT doc_id, $duckDirtyUrl AS url
       |  FROM documents),
       |c AS (SELECT doc_id, url,
       |  ${duckCanonOf("url")} AS canon FROM p)
       |SELECT doc_id, url, canon,
       |  (row_number() OVER (PARTITION BY canon ORDER BY doc_id) = 1)
       |    AS is_canonical
       |FROM c""".stripMargin
}
