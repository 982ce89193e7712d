package graft.queries

import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.DuckSql._
import graft.queries.QueryDef.t

/** Sampling queries: stratified, temperature and priority samples,
  * domain caps, mixture and cost-budget selection, winsorizing and
  * shuffle shards.
  */
private[graft] object SamplingQueries {
  private final val family = "sampling"

  // shared by q145 and its pre-thinned twin q152 (bit-identical by the
  // containment proof in SampleOps.costBudgetMixtureThinned)
  private lazy val q145Sql =
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

  val defs: Seq[QueryDef] = Seq(
    // deterministic pre-training shuffle: every doc gets a replayable
    // (shard, pos) address
    QueryDef("q140_shuffle_shards", family, (s, dir) =>
      SampleOps.shuffleShards(t(s, dir, "documents"), "doc_id", 16),
      // hashUnit replayed; shard = floor(u * 16) clamped; pos =
      // row_number within shard over (u, doc_id) — INT to match Spark
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
        |FROM s""".stripMargin),
    QueryDef("q52_sample", family, (s, dir) =>
      SampleOps.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.9)
        .select("doc_id", "lang", "source"),
      // Deterministic stratified sampling: the oracle replays the exact
      // md5-hash-unit decision per row (first 32 md5 bits / 2^32 — a
      // power-of-two division, exact in double on both engines).
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':'), 1, 8))::BIGINT
        |        / 4294967296.0
        |      < CASE WHEN lang = 'en' THEN 0.5
        |             WHEN lang = 'de' THEN 0.25 ELSE 0.9 END""".stripMargin),
    // weighted priority sampling: k smallest u/w priorities
    QueryDef("q94_priority_sample", family, (s, dir) =>
      SampleOps.prioritySample(t(s, dir, "documents"), "doc_id", "n_chars",
          k = 100)
        .select("doc_id", "n_chars", "priority"),
      // u is exact in double (32-bit hash over 2^32); both divisions are
      // IEEE correctly rounded, so priorities match bit-for-bit
      """SELECT doc_id, n_chars,
        |       (('0x' || substr(md5(doc_id::VARCHAR || ':'), 1, 8))::BIGINT
        |          / 4294967296.0) / n_chars AS priority
        |FROM documents WHERE n_chars > 0
        |ORDER BY priority ASC, doc_id ASC LIMIT 100""".stripMargin),
    // per-domain document budget: at most 10 docs per source by
    // deterministic hash priority (the anti-monoculture cap)
    QueryDef("q101_domain_cap", family, (s, dir) =>
      SampleOps.domainCap(t(s, dir, "documents"), "doc_id", "source",
          cap = 10, salt = "cap")
        .select("doc_id", "source", "priority"),
      // hash-priority per-source cap: row_number over the identical
      // md5 priority, ties broken by doc_id on both engines
      """WITH pr AS (
        |  SELECT doc_id, source,
        |         ('0x' || substr(md5(doc_id::VARCHAR || ':cap'), 1, 8))::BIGINT
        |           / 4294967296.0 AS priority
        |  FROM documents),
        |r AS (SELECT doc_id, source, priority,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY priority ASC, doc_id ASC) AS rk
        |      FROM pr)
        |SELECT doc_id, source, priority FROM r WHERE rk <= 10""".stripMargin),
    // exact per-lang P1/P99 winsorization of document length via the
    // value histogram — no row sort, thresholds broadcast back
    QueryDef("q123_winsorize", family, (s, dir) =>
      SampleOps.winsorize(t(s, dir, "documents"), "n_chars", "lang"),
      // the value-histogram percentiles re-derived: same integer ceil,
      // same percentile_disc semantics, same clamp — all integers
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
        |GROUP BY 1""".stripMargin),
    QueryDef("q76_temperature_sample", family, (s, dir) =>
      SampleOps.temperatureSample(t(s, dir, "documents"), "doc_id", "source",
          salt = "mix")
        .select("doc_id", "source", "lang"),
      // Temperature mixing: the exponent is interpolated from the SAME
      // double arithmetic the engine uses (1.0 - alpha is not the
      // decimal literal 0.3), so pow() sees bit-identical inputs.
      s"""WITH c AS (SELECT source, count(*) n_s FROM documents GROUP BY 1),
         |m AS (SELECT min(n_s) n_min FROM c),
         |r AS (SELECT source,
         |             pow(CAST(n_min AS DOUBLE) / n_s, ${1.0 - 0.7}) rate
         |      FROM c, m)
         |SELECT d.doc_id, d.source, d.lang
         |FROM documents d
         |JOIN r ON d.source IS NOT DISTINCT FROM r.source
         |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':mix'), 1, 8))::BIGINT
         |        / 4294967296.0 < r.rate""".stripMargin),
    // temperature-flattened domain mixture: sqrt-weighted integer
    // quotas against a document budget, selected by hash priority
    QueryDef("q144_mixture_sample", family, (s, dir) =>
      SampleOps.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
        budget = 200),
      // integer sqrt-weights and quotas replayed exactly (IEEE sqrt is
      // correctly rounded on both engines, so floor agrees bit-for-bit;
      // // is DuckDB integer division, matching the driver-side Long
      // division); selection is q101's rank machinery
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
        |WHERE r.rk <= q.quota""".stripMargin),
    // the same mixture contracted in COST units (chars; tokens in
    // production): greedy per-domain fill in hash-priority order
    QueryDef("q145_char_budget_mix", family, (s, dir) =>
      SampleOps.costBudgetMixture(t(s, dir, "documents"), "doc_id", "source",
        "n_chars", budget = 100000),
      // q144's integer quota arithmetic on char MASS, then the greedy
      // prefix: an integer running sum over the identical (priority,
      // doc_id) order — admission while cum - cost < quota
      q145Sql),
    // q145's cost-budget mixture RE-BASED on subword token counts —
    // the budget contracted in the unit that matters ("N tokens of
    // this mix"); planted counts keep the greedy fill oracle-exact
    QueryDef("q151_token_budget_mix", family, (s, dir) => {
      val docs = t(s, dir, "documents")
      val costs = BpeOps.plantedEncode(docs)
        .select(col("doc_id"), col("n_tokens").as("n_tok"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "n_tok")
      SampleOps.costBudgetMixture(costs, "doc_id", "source", "n_tok",
        budget = 1000)
    },
      // q145's greedy fill with cost = planted subword tokens
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
         |WHERE r2.cum - r2.n_tok < q2.quota""".stripMargin),
    // q145's pre-thinning escape hatch as code: hash-thin below the
    // admission window, runtime-audited exact — same oracle as q145.
    // thinRate must clear every domain's cutoff priority at the GATE
    // scales: the fixture's small SFs fill ~2/3 of each 25-doc domain
    // (measured worst cutoff 0.858 at sf0.01), so 0.9 here; at sf0.1
    // the worst cutoff is 0.13 — at scale the thin saves ~87% of the
    // window exchange, which is the regime the operator exists for
    QueryDef("q152_cost_budget_thinned", family, (s, dir) =>
      SampleOps.costBudgetMixtureThinned(t(s, dir, "documents"), "doc_id",
        "source", "n_chars", budget = 100000, thinRate = 0.9),
      // bit-identical to q145 by the pre-thinning containment proof —
      // the thinned composition is held to the UNTHINNED oracle
      q145Sql),
  )
}
