package graft.queries

import org.apache.spark.sql.SparkSession

import graft.ops._
import graft.queries.DuckSql._
import graft.queries.QueryDef.t

/** The 11 flagship training-corpus queries: the dedup graph, quality,
  * repetition, language and decontamination gates and priority
  * selection, carried through splits, shards, manifests and redaction,
  * and fed from the crawl and WARC front doors.
  */
private[graft] object CorpusQueries {
  private final val family = "corpus"

  /** Rebase a self-contained oracle SQL fragment onto another source
    * relation: every whole-word `documents` table reference becomes
    * `src`. The fragments this is applied to reference `documents`
    * only as a relation name (never inside a string literal).
    */
  private def onDocs(sql: String, src: String): String =
    sql.replaceAll("\\bdocuments\\b", src)

  /** The q143 shards saved (split, shard)-partitioned once per
    * (process, sf dir); q146 reloads them, q147 audits their digests.
    */
  private def shardScope(s: SparkSession, dir: String): graft.core.Scope =
    Memo.scope("graft-q146-", s, dir) { sc =>
      ClusterOps.saveCorpusShards(t(s, dir, "documents"), sc, "shards")
    }

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

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q57_training_corpus", family, (s, dir) =>
      ClusterOps.trainingCorpus(t(s, dir, "documents")),
      // The end-to-end corpus composition: dedup keep-set ⋈ quality gate
      // ⋈ language allowlist, then the deterministic "train"-salted hash
      // sample — each stage is its own oracled query; this checks the
      // COMPOSED result.
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
         |        / 4294967296.0 < 0.8""".stripMargin),
    // the flagship composition v2: passage-evidence dedup graph,
    // line-boilerplate gate, weighted priority selection
    QueryDef("q100_training_corpus_v2", family, (s, dir) =>
      ClusterOps.trainingCorpusV2(t(s, dir, "documents")),
      // END-TO-END v2: the same composed stages, now with the winnow
      // edges in the recursive cluster walk, the dup-line gate, and the
      // weighted priority tail (u exact, divisions IEEE-exact)
      corpusV2Sql),
    // the flagship carried to TRAINING-READY: q100's corpus assigned
    // leak-free splits (q110) and the train split dealt into
    // shuffle-shards (q140) — "corpus selected" → "corpus consumable"
    QueryDef("q143_corpus_shards", family, (s, dir) =>
      ClusterOps.corpusShards(t(s, dir, "documents")),
      // the flagship carried to TRAINING-READY: corpus (q100 SQL
      // verbatim) → leak-free split (q110's md5-unit on the canonical
      // survivor) → train split dealt into q140's shuffle-shards;
      // val/test ship whole (shard = pos = -1)
      q143Sql),
    // the q143 addresses materialized (split, shard)-partitioned and
    // reloaded — layout-not-semantics, empty-set gate
    QueryDef("q146_shard_artifact", family, (s, dir) =>
      ClusterOps.corpusShardArtifactGate(s, shardScope(s, dir), "shards",
        t(s, dir, "documents")),
      // persist → reload lifecycle gate: violations must be empty
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |       CAST(NULL AS BIGINT) AS doc_id,
        |       CAST(NULL AS VARCHAR) AS lang,
        |       CAST(NULL AS VARCHAR) AS source,
        |       CAST(NULL AS BIGINT) AS n_tokens,
        |       CAST(NULL AS VARCHAR) AS split,
        |       CAST(NULL AS INT) AS shard,
        |       CAST(NULL AS INT) AS pos
        |WHERE 1 = 0""".stripMargin),
    // the 100 TB-shaped audit of the same artifact: per-(split, shard)
    // content digests artifact-vs-recompute — O(partitions) output, no
    // wide exchange; empty-set gate
    QueryDef("q147_shard_digest_audit", family, (s, dir) =>
      ClusterOps.corpusShardDigestAudit(s, shardScope(s, dir), "shards",
        t(s, dir, "documents")),
      // digest audit of a faithful artifact: the empty set, typed
      """SELECT CAST(NULL AS VARCHAR) AS split,
        |       CAST(NULL AS INT) AS shard,
        |       CAST(NULL AS BIGINT) AS n_rows_artifact,
        |       CAST(NULL AS BIGINT) AS n_rows_expected,
        |       CAST(NULL AS BIGINT) AS digest_artifact,
        |       CAST(NULL AS BIGINT) AS digest_expected
        |WHERE 1 = 0""".stripMargin),
    // the corpus DATASHEET: per (split, source, lang) doc counts and
    // token sums over the training-ready shards — what a run reports
    // as its data mix
    QueryDef("q161_corpus_manifest", family, (s, dir) =>
      ClusterOps.corpusManifest(
        ClusterOps.corpusShards(t(s, dir, "documents"))),
      // the manifest is one aggregation over the q143 result — the
      // oracle replays the full shard SQL and rolls it up
      s"""SELECT split, source, lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM ($q143Sql) t
         |GROUP BY split, source, lang""".stripMargin),
    // flagship v3: the v2 gates + the q156 statistical LM floor
    // (exact BIGINT cross-multiplication), same priority tail
    QueryDef("q163_training_corpus_v3", family, (s, dir) =>
      ClusterOps.trainingCorpusV3(t(s, dir, "documents")),
      corpusV3Sql),
    // flagship SAFETY tail: v3 selection first, PII scrub second —
    // only the selected topK rows pay the regex; the q167 audit
    // (residual must be 0) rides beside each selected row
    QueryDef("q169_redacted_corpus", family, (s, dir) =>
      ClusterOps.redactedCorpus(t(s, dir, "documents")),
      // the flagship safety tail: v3's selection (nested WITH, the q165
      // convention) joined to the q167 scrub audit over the planted text
      s"""WITH $duckRedactCtes
         |SELECT sel.doc_id, sel.lang, sel.source, sel.n_tokens,
         |  sel.quality, sel.priority,
         |  $duckRedactAuditCols
         |FROM ($corpusV3Sql) sel JOIN r ON r.doc_id = sel.doc_id""".stripMargin),
    // the crawl→corpus flagship (v4): canonical-URL keep-set (q174)
    // ∘ page ingestion + outlink verdict (q175) ∘ the v3 gate chain
    // over the EXTRACTED text ∘ the PII scrub + audit tail (q169) —
    // one declarative plan from fetched HTML to training-ready rows,
    // the extracted corpus materialized once for all gate consumers
    QueryDef("q177_crawl_corpus", family, (s, dir) =>
      ClusterOps.crawlCorpus(t(s, dir, "documents")),
      // the crawl→corpus flagship recomposed stage-for-stage from the
      // existing CTE chains (extraction, keep-set, v2 gates + LM floor
      // rebased onto crawl_docs, staged scrub + audit)
      q177Sql),
    // flagship v5: q177's chain with the quality stage swapped for
    // the IN-ENGINE TRAINED classifier — fit on the raw labeled docs
    // (q181's planted teacher), served as plan literals over the
    // crawl docs' own extracted-text signals; the gate plan is
    // identical to the hand-set variant up to those literals
    QueryDef("q185_trained_flagship", family, (s, dir) =>
      ClusterOps.crawlCorpus(t(s, dir, "documents"), trainedGate = true),
      q185Sql),
    // the true front door: WARC chunks → framing verdict → payload
    // pages (fetch host from the Target-URI header) → the identical
    // q177 chain; malformed chunks drop at framing, before extraction
    QueryDef("q186_warc_corpus", family, (s, dir) =>
      ClusterOps.warcCorpus(t(s, dir, "documents")),
      q186Sql),
  )
}
