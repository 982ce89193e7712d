package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.DuckSql._
import graft.queries.QueryDef.t

/** Text queries: token, n-gram and TF-IDF statistics, language id,
  * quality and repetition scores, PII redaction, contamination, lexical
  * search and its postings artifacts, LM scoring, DSIR selection, the
  * trained quality gate, and the BPE tokenizer (fit, encode, packing,
  * fertility, its persisted artifact, streaming encoder and refresh).
  */
private[graft] object TextQueries {
  private final val family = "text"

  /** q120: the INVERTED INDEX as a storage artifact — postings built
    * and persisted once per (process, sf dir) partitioned by term-hash
    * bucket, then RELOADED and probed with partition pruning on the
    * query terms' buckets; held to the q106 oracle (identical ranked
    * results — the artifact is layout, not semantics). Build cached so
    * the bench times the probe, like q78/q91.
    */
  private def postingsArtifactSearch(s: SparkSession, dir: String): DataFrame = {
    val scope = Memo.scope("graft-q120-", s, dir) { sc =>
      TextOps.savePostings(t(s, dir, "documents"), sc, "postings")
    }
    TextOps.searchPostingsArtifact(s, scope, "postings", keywordQueries)
  }

  /** q128: the postings artifact maintained INCREMENTALLY — built
    * from the even half of the corpus, the odd half appended as an
    * O(batch) dynamic-partition write (stored rows untouched), and
    * the merged reloaded index probed; the results must equal q106
    * over the FULL corpus (q120's oracle = q106's SQL). The q83 daily-
    * ingest shape for lexical retrieval.
    */
  private def postingsAppendSearch(s: SparkSession, dir: String): DataFrame = {
    val scope = Memo.scope("graft-q128-", s, dir) { sc =>
      val docs = t(s, dir, "documents")
      TextOps.savePostings(docs.filter(col("doc_id") % 2 === 0),
        sc, "postings")
      TextOps.appendPostings(docs.filter(col("doc_id") % 2 === 1),
        sc, "postings")
    }
    TextOps.searchPostingsArtifact(s, scope, "postings", keywordQueries)
  }

  /** The q159/q160 pretokenized tokenizer artifact: BPE fitted with
    * pretok=true on the punctuated planted corpus, persisted once per
    * (process, sf dir) — the stored metadata carries the pretok flag
    * that encodeWithArtifact obeys.
    */
  private def q159Scope(s: SparkSession, dir: String): graft.core.Scope = {
    val planted = BpeOps.plantedPunctCorpus(t(s, dir, "documents"))
    Memo.scope("graft-q159-", s, dir) { sc =>
      BpeOps.saveBpe(planted, sc, "bpe", nMerges = 12, pretok = true)
    }
  }

  /** The q153/q154 tokenizer artifact: BPE fitted on the planted
    * corpus and persisted once per (process, sf dir).
    */
  private def q153Scope(s: SparkSession, dir: String): graft.core.Scope = {
    val planted = BpeOps.plantedCorpus(t(s, dir, "documents"))
    Memo.scope("graft-q153-", s, dir) { sc =>
      BpeOps.saveBpe(planted, sc, "bpe", nMerges = 12)
    }
  }

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

  // shared by q149 (direct encode) and q158 (the same encode through
  // readStream + the stored tokenizer — identical id space)
  private lazy val q149Sql =
    s"""WITH $bpeCtes
       |SELECT doc_id, n_tok AS n_tokens, CAST(0 AS BIGINT) AS n_unk,
       |       ids_sum
       |FROM btok""".stripMargin

  // shared by q148 (the direct fit) and q153 (the same fit through
  // the persisted tokenizer artifact's store→load round trip)
  private lazy val q148Sql =
    s"""WITH $bpeCtes
       |SELECT rk AS merge_rank, lhs, rhs, freq
       |FROM br WHERE rk < 12""".stripMargin

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

  private lazy val keywordQueryValues: String = keywordQueries.toSeq.sortBy(_._1)
    .flatMap { case (qid, ts) => ts.distinct.map(t => s"('$qid', '$t')") }
    .mkString(", ")

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

  private lazy val langMarkerValues = TextOps.langMarkers
    .map { case (tok, lang, w) => s"('$tok', '$lang', $w)" }.mkString(", ")

  /** q183: the incremental tokenizer refresh gated against its full
    * refit — the artifact fits on the even half of the planted
    * corpus, the odd half arrives as the refresh batch (counts summed
    * into the stored statistic, merge loop re-run under the frozen
    * alphabet), and the gate compares the refreshed merge table
    * against an in-job full refit on ALL docs. Counts are additive
    * over the disjoint halves, so the symmetric difference must be
    * EMPTY (the q129 incremental-algebra contract).
    */
  private def bpeRefreshViolations(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = Memo.scope("graft-q183-", s, dir) { sc =>
      BpeOps.saveBpe(BpeOps.plantedCorpus(docs.filter(col("doc_id") % 2 === 0)),
        sc, "bpe", nMerges = 12)
      BpeOps.refreshBpe(BpeOps.plantedCorpus(docs.filter(col("doc_id") % 2 === 1)),
        sc, "bpe")
    }
    BpeOps.bpeRefreshGate(s, scope, "bpe", BpeOps.plantedCorpus(docs))
  }

  /** q181: the (round, dim, w) trajectory unpivoted from the round
    * CTEs — the oracle replays every gradient step, not just the
    * final model.
    */
  private def qualityFitSql: String = {
    val iters = 3
    val rows = (1 to iters).flatMap(i => (0 until 5).map(d =>
      s"SELECT $i AS round, $d AS dim, a$d AS w FROM w$i"))
    s"""WITH ${qualityFitCtes(iters)}
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** q182: the composed gate — every doc scored by the FINAL round's
    * weights through the same dot-product shape, kept ⟺ score > 0.
    */
  private def trainedGateSql: String = {
    val iters = 3
    s"""WITH ${qualityFitCtes(iters)}
       |SELECT doc_id, score, score > 0 AS kept FROM (
       |  SELECT f.doc_id,
       |    ${(0 until 5).map(d => s"a$d * x$d").mkString(" + ")} AS score
       |  FROM f CROSS JOIN w$iters) s""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q11_termfreq", family, (s, dir) =>
      TextOps.termFrequency(t(s, dir, "documents")),
      s"""SELECT lang, token, count(*) AS cnt FROM (
         |  SELECT lang, unnest($duckToks) AS token FROM documents)
         |GROUP BY lang, token""".stripMargin),
    QueryDef("q18_langid", family, (s, dir) =>
      TextOps.langId(t(s, dir, "documents")),
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
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id""".stripMargin),
    QueryDef("q19_quality", family, (s, dir) =>
      TextOps.qualityScore(t(s, dir, "documents")),
      qualitySql),
    QueryDef("q20_tokens", family, (s, dir) =>
      TextOps.tokenCounts(t(s, dir, "documents")),
      s"""SELECT doc_id,
         |       CAST(len($duckToks) AS INT) AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(text, '${TextOps.bpeTokenRe}')) AS INT) AS n_bpe_tokens
         |FROM documents""".stripMargin),
    QueryDef("q42_edit_dist", family, (s, dir) =>
      TextOps.neighborEditDistance(t(s, dir, "documents")),
      """WITH x AS (
        |  SELECT source, doc_id, text,
        |         lead(doc_id) OVER w AS nxt_id,
        |         lead(text) OVER w AS nxt
        |  FROM documents
        |  WINDOW w AS (PARTITION BY source ORDER BY doc_id ASC))
        |SELECT source, doc_id, nxt_id,
        |       CAST(levenshtein(substr(text, 1, 200), substr(nxt, 1, 200)) AS INT) AS edit_dist
        |FROM x WHERE nxt IS NOT NULL""".stripMargin),
    QueryDef("q53_tfidf", family, (s, dir) =>
      TextOps.tfIdf(t(s, dir, "documents")),
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckToks) token FROM documents),
         |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) tf
         |       FROM toks GROUP BY 1, 2),
         |dfx AS (SELECT token, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) n FROM documents)
         |SELECT doc_id, token, tf, df,
         |       round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
         |FROM tf JOIN dfx USING (token) CROSS JOIN n""".stripMargin),
    QueryDef("q56_ngrams", family, (s, dir) =>
      TextOps.nGramCounts(t(s, dir, "documents")),
      s"""WITH toks AS (SELECT lang, $duckToks w FROM documents),
         |g AS (SELECT lang, unnest(list_transform(range(1, len(w)),
         |                    i -> array_to_string(w[i:i+1], ' '))) gram
         |      FROM toks)
         |SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2""".stripMargin),
    QueryDef("q62_repetition", family, (s, dir) =>
      TextOps.repetitionStats(t(s, dir, "documents")),
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
         |FROM ls JOIN rep ON rep.doc_id = ls.doc_id""".stripMargin),
    QueryDef("q67_topk_gate", family, (s, dir) =>
      TextOps.topTokensGate(t(s, dir, "documents")),
      """SELECT CAST(NULL AS VARCHAR) AS reason, CAST(NULL AS VARCHAR) AS tok,
        |       CAST(NULL AS BIGINT) AS est, CAST(NULL AS BIGINT) AS n_exact
        |WHERE 1 = 0""".stripMargin),
    QueryDef("q63_redact_pii", family, (s, dir) =>
      TextOps.redactPii(TextOps.withPlantedPii(t(s, dir, "documents"))),
      // Planted-PII redaction: oracle replays the augmentation AND the
      // redaction (counts + md5 of the replaced text), so a regex that
      // matches or replaces differently cannot pass.
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
         |FROM aug""".stripMargin),
    // benchmark contamination: the held-out "benchmark" is the
    // deterministic doc_id % 10 = 7 slice; the corpus is the rest
    QueryDef("q68_contamination", family, (s, dir) =>
      TextOps.benchmarkContamination(
        t(s, dir, "documents").filter(col("doc_id") % 10 =!= 7),
        t(s, dir, "documents").filter(col("doc_id") % 10 === 7)),
      contaminationSql),
    QueryDef("q70_pack_sequences", family, (s, dir) =>
      TextOps.packSequences(t(s, dir, "documents")),
      // Sequence packing: pack = budget-window of the running token
      // offset within (lang, shard = doc_id % 8), ordered by doc_id.
      s"""WITH t AS (
         |  SELECT doc_id, lang, doc_id % 8 AS shard,
         |         CAST(COALESCE(len($duckToks), 0) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT doc_id, lang, shard, n_tok,
         |       CAST(floor((sum(n_tok) OVER (PARTITION BY lang, shard
         |                    ORDER BY doc_id) - n_tok) / 512.0) AS BIGINT)
         |         AS pack_id
         |FROM t""".stripMargin),
    // within-doc repeated-line removal (boilerplate stripping)
    QueryDef("q87_strip_lines", family, (s, dir) =>
      TextOps.stripRepeatedLines(t(s, dir, "documents")),
      // first-occurrence line filter re-derived with DuckDB's 1-based
      // indexed lambda; md5 pins cleaned content and order
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
        |FROM kept""".stripMargin),
    // bigram collocations by exact-integer lift
    QueryDef("q97_collocations", family, (s, dir) =>
      TextOps.collocations(t(s, dir, "documents")),
      // lift from exact integer counts (products < 2^53): the double
      // division is IEEE-exact on both engines, no transcendentals
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
         |ORDER BY lift DESC, gram ASC LIMIT 20""".stripMargin),
    // vocabulary fitting: frequency-rank token ids + coverage curve
    QueryDef("q102_vocab", family, (s, dir) =>
      TextOps.vocabulary(t(s, dir, "documents")),
      // frequency-rank ids and the coverage curve; cum_frac is
      // integer-valued-double division, IEEE-exact on both engines
      s"""WITH tok AS (SELECT unnest($duckToks) AS token FROM documents),
         |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT)
         |         AS token_id,
         |       token, CAST(cnt AS BIGINT) AS cnt,
         |       CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ASC
         |                           ROWS BETWEEN UNBOUNDED PRECEDING
         |                           AND CURRENT ROW) AS DOUBLE)
         |         / CAST(sum(cnt) OVER () AS DOUBLE) AS cum_frac
         |FROM c""".stripMargin),
    // coordination-level keyword retrieval: integer-exact ranking
    QueryDef("q106_keyword_search", family, (s, dir) =>
      TextOps.keywordSearch(t(s, dir, "documents"), keywordQueries),
      // identical term sets, identical integer tie-breaks; row_number
      // cast to INT for the dtype-sensitive compare
      keywordSearchSql),
    // per-doc fraction of 5-grams unseen in the standing corpus
    QueryDef("q107_ngram_novelty", family, (s, dir) =>
      TextOps.ngramNovelty(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0)),
      // the q68 gram expansion transposed: batch distinct (doc, gram)
      // LEFT JOIN corpus distinct grams; novelty = exact int division
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
         |FROM agg""".stripMargin),
    // linear quality model in the logit domain — per-row inference as
    // a codegen'd expression, keep decision on the rounded score
    QueryDef("q115_model_gate", family, (s, dir) =>
      TextOps.modelQualityGate(t(s, dir, "documents")),
      // same fixed-order double chain over the q19 features; every
      // literal CAST to DOUBLE so DuckDB's decimal literals don't sneak
      // exact-decimal arithmetic into the comparison
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
         |  FROM qf) s""".stripMargin),
    // the inverted index persisted as a bucket-partitioned artifact,
    // reloaded and probed with partition pruning; q106's oracle
    QueryDef("q120_postings_artifact", family, postingsArtifactSearch,
      // the artifact probe must produce the IDENTICAL ranked lists the
      // corpus-side q106 does — bucketing is layout, never semantics
      keywordSearchSql),
    // the postings artifact after an O(batch) append: probe results
    // must equal q106 over the full corpus
    QueryDef("q128_postings_append", family, postingsAppendSearch,
      // append is invisible to results: the merged artifact answers for
      // the FULL corpus with the same ranked lists
      keywordSearchSql),
    // q102's vocabulary applied: corpus encoded against the trimmed
    // vocab, per-doc OOV and id-sum digest pin every assignment
    QueryDef("q124_vocab_encode", family, (s, dir) =>
      TextOps.encodeWithVocabulary(t(s, dir, "documents")),
      // the same rank chain as q102, trimmed, LEFT-joined back onto the
      // token stream — n_oov and the id-sum digest must both land
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
         |GROUP BY 1""".stripMargin),
    QueryDef("q77_chunk_docs", family, (s, dir) =>
      TextOps.chunkDocuments(t(s, dir, "documents")),
      // Overlapping 64-token chunks every 48 tokens; the md5 pins the
      // chunk CONTENT (token slice parity), not just the offsets.
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
         |FROM s""".stripMargin),
    // BPE subword tokenization, FIT: the learned merge table on the
    // planted closed-form corpus — rank, pair, and frequency all
    // oracle-checked (the fit machinery itself is fully general)
    QueryDef("q148_bpe_fit", family, (s, dir) =>
      BpeOps.plantedFit(t(s, dir, "documents")),
      // BPE fit: the static chain sort IS the greedy merge order on the
      // planted corpus (disjoint alphabets; proof in BpeOps scaladoc)
      q148Sql),
    // BPE ENCODE under the q148 merges: per-doc token count + id-sum
    // digest pins every subword assignment (the q124 convention)
    QueryDef("q149_bpe_encode", family, (s, dir) =>
      BpeOps.plantedEncode(t(s, dir, "documents")),
      // BPE encode: rank-case closed form for counts and id sums
      q149Sql),
    // q70's packing RE-BASED on subword token counts: the q150
    // composition a training pipeline actually runs (pack in the unit
    // the model consumes); planted counts keep it oracle-checked
    QueryDef("q150_bpe_pack", family, (s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = BpeOps.plantedEncode(docs)
        .select(col("doc_id"), col("n_tokens").as("n_tok"))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_tok")
      TextOps.packSequencesByCount(counts, budget = 16)
    },
      // q70's window over the planted subword counts, budget 16
      s"""WITH $bpeCtes
         |SELECT doc_id, lang, doc_id % 8 AS shard, n_tok,
         |       CAST(floor((sum(n_tok) OVER (PARTITION BY lang, doc_id % 8
         |                    ORDER BY doc_id) - n_tok) / 16.0) AS BIGINT)
         |         AS pack_id
         |FROM btok""".stripMargin),
    // the persisted TOKENIZER artifact: merges fitted once, reloaded
    // from storage, and held to q148's closed-form merge-table oracle
    // — the fit→store→load lifecycle cannot distort the model
    QueryDef("q153_bpe_artifact", family, (s, dir) =>
      BpeOps.loadBpeMerges(s, q153Scope(s, dir), "bpe"),
      // the tokenizer ARTIFACT reloaded from storage must reproduce the
      // same closed-form merge table: fit → store → load is lossless
      q148Sql),
    // ...and ENCODING against the stored tokenizer must be
    // bit-identical to encoding under a fresh fit with the same
    // dictionary alphabet: the artifact pins the full id space
    // (merges + base alphabet), not just the merge rules
    QueryDef("q154_bpe_artifact_encode", family, (s, dir) => {
      val planted = BpeOps.plantedCorpus(t(s, dir, "documents"))
      val fromArtifact =
        BpeOps.encodeWithArtifact(planted, q153Scope(s, dir), "bpe")
      // ONE dictionary pass feeds both the alphabet and the merges —
      // calling fitBpe separately would re-run the identical corpus
      // aggregation a second time
      val dict = BpeOps.fitDictionary(planted)
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
    },
      // artifact-encode ≡ fresh-fit encode under the stored alphabet:
      // violations must be the typed empty set
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |       CAST(NULL AS BIGINT) AS doc_id,
        |       CAST(NULL AS BIGINT) AS n_tokens,
        |       CAST(NULL AS BIGINT) AS n_unk,
        |       CAST(NULL AS BIGINT) AS ids_sum
        |WHERE 1 = 0""".stripMargin),
    // bigram-LM statistical quality score (the CCNet-gate shape):
    // broadcast pruned model, map-side scoring, fixed-point exact sums
    QueryDef("q156_bigram_lm", family, (s, dir) =>
      TextOps.bigramLmScore(t(s, dir, "documents")),
      q156Sql),
    // tokenizer fertility/compression per source domain — the audit a
    // pipeline runs before committing a tokenizer to the full encode;
    // planted corpus keeps every sum and fixed-point ratio closed-form
    QueryDef("q157_bpe_fertility", family, (s, dir) => {
      // planted text is a pure doc_id expression, so `source` rides the
      // same projection — no join anywhere in the profile plan
      val planted = BpeOps.plantedCorpus(t(s, dir, "documents"),
        keep = Seq("source"))
      BpeOps.fertilityProfile(planted, BpeOps.fitBpe(planted, nMerges = 12))
    },
      // fertility/compression closed forms on the planted corpus: word
      // count per doc is m = 1 + doc_id % 5, each planted word is 4
      // chars, token count is btok's rank-case form, UNK provably 0
      // (every word's chain-1 merge lands inside the 12 kept ranks)
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
         |FROM btok GROUP BY source""".stripMargin),
    // the stored tokenizer driving a STREAM: stateless broadcast-model
    // encode under readStream, same id space as the batch encode —
    // held to q149's closed-form oracle
    QueryDef("q158_stream_bpe_encode", family, (s, dir) =>
      graft.streaming.EventsStreaming.streamingBpeEncode(
        s, dir, q153Scope(s, dir), "bpe"),
      // the same closed form through readStream + the stored tokenizer:
      // the streaming encode must land in the identical id space
      q149Sql),
    // PRETOKENIZED fit through the artifact: punctuation inside the
    // whitespace token provably never fuses into a merge — the stored
    // merge table equals q148's closed form exactly (the "." unit is
    // pair-free)
    QueryDef("q159_bpe_pretok_fit", family, (s, dir) =>
      BpeOps.loadBpeMerges(s, q159Scope(s, dir), "bpe"),
      // pretokenized fit: "." is a pair-free unit, so the merge table
      // equals the q148 closed form row for row
      q148Sql),
    // ...and the pretokenized encode under the stored artifact (the
    // pretok flag rides the model's metadata): one "." token (id 0)
    // per repetition beside the q149 word tokens, ids shifted by the
    // '.'-first alphabet — closed form throughout
    QueryDef("q160_bpe_pretok_encode", family, (s, dir) =>
      BpeOps.encodeWithArtifact(
        BpeOps.plantedPunctCorpus(t(s, dir, "documents")),
        q159Scope(s, dir), "bpe"),
      // pretokenized encode under the stored ('.'-first) alphabet:
      // '.' takes id 0 and shifts base ids by one (letter x_j = 2j+1,
      // y_j = 2j+2; merge ids 17+rank); one extra "." token (id 0) per
      // repetition beside the q149 word tokens
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
         |FROM documents d JOIN jr ON jr.j = CAST(d.doc_id % 8 AS INT)""".stripMargin),
    // DSIR-shaped importance weights: target-domain bigram model vs
    // the corpus model, snapped-probability difference summed exactly
    QueryDef("q162_dsir_weights", family, (s, dir) =>
      TextOps.dsirWeights(t(s, dir, "documents"), "src0"),
      // bigram-LM score: add-one-smoothed transition probabilities in
      // fixed point (exact bigint sums; the one double op per row is a
      // correctly-rounded IEEE division both engines agree on)
      // two pruned bigram models (target domain vs the REST pool), each
      // truncated under the q156 total orders; the weight is the exact
      // BIGINT sum of 1e6-snapped smoothed likelihood ratios
      q162Sql),
    // stupid-backoff trigram LM (Brants'07 — the MapReduce-native LM):
    // three broadcast count tables, per-transition backoff CASE,
    // exact fixed-point sums + backoff-level diagnostics
    QueryDef("q164_stupid_backoff", family, (s, dir) =>
      TextOps.stupidBackoffScore(t(s, dir, "documents")),
      // stupid backoff: tri/bi/uni count tables under the q156 total
      // orders, the same CASE ladder and double tree as the Spark side
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
         |FROM sc GROUP BY doc_id""".stripMargin),
    // the DSIR selection tail: top-k raw-pool docs by q162 weight,
    // bounded-k rank (TakeOrderedAndProject), no global sort
    QueryDef("q165_dsir_select", family, (s, dir) =>
      TextOps.dsirSelect(t(s, dir, "documents"), "src0", k = 50),
      // the selection tail over the same weights: top-k raw-pool docs
      s"""SELECT w.doc_id, w.n_bigrams, w.weight_fp, d.source
         |FROM ($q162Sql) w
         |JOIN documents d ON d.doc_id = w.doc_id AND d.source <> 'src0'
         |ORDER BY w.weight_fp DESC, w.doc_id ASC LIMIT 50""".stripMargin),
    // LM-floor calibration: the exact gatePct-th percentile of
    // avg_fp via the q123 value-histogram — the q163 scaladoc's
    // "calibrate per corpus" promise as an executed operator
    QueryDef("q170_lm_floor", family, (s, dir) =>
      TextOps.lmFloorCalibrate(t(s, dir, "documents")),
      // LM-floor calibration: integer percentile over the q156 scores'
      // value histogram — percentile_disc semantics, k = ceil(pct·n/100)
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
         |FROM h3""".stripMargin),
    // incremental tokenizer refresh: batch counts summed into the
    // artifact's stored count table (the sufficient statistic),
    // re-fit under the FROZEN alphabet and recorded params — the
    // gate holds it equal to a full refit on corpus+batch
    QueryDef("q183_bpe_refresh", family, bpeRefreshViolations,
      // incremental tokenizer refresh: the refreshed merge table must
      // equal the full corpus+batch refit — empty violation set
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |       CAST(NULL AS INT) AS merge_rank,
        |       CAST(NULL AS VARCHAR) AS lhs,
        |       CAST(NULL AS VARCHAR) AS rhs,
        |       CAST(NULL AS BIGINT) AS freq
        |WHERE 1 = 0""".stripMargin),
    // the quality classifier trained IN-ENGINE: exact fixed-point
    // batch-perceptron steps (broadcast 5-weight model, per-row
    // margin map, one bounded 5-long aggregation per round) on
    // labels planted by the q115 teacher — the full trajectory
    // replays on any engine
    QueryDef("q181_quality_fit", family, (s, dir) =>
      TextOps.qualityFitTrajectory(t(s, dir, "documents")),
      // the in-engine classifier fit: every perceptron round replayed
      // via scalar-subquery updates over the fixed-point features
      qualityFitSql),
    // the fit→score→gate loop closed: docs scored through the q115
    // expression shape with the JUST-TRAINED coefficients
    QueryDef("q182_trained_gate", family, (s, dir) =>
      TextOps.trainedQualityGate(t(s, dir, "documents")),
      // the composed gate: final-round weights dotted per doc
      trainedGateSql),
  )
}
