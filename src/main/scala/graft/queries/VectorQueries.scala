package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.DuckSql._
import graft.queries.QueryDef.t

/** Embedding queries: brute-force, LSH, IVF, PQ and IVF-PQ kNN under
  * recall gates, their persisted and appended artifacts, near-duplicate
  * pairs, int8 quantization, centroids, k-means and hybrid search.
  */
private[graft] object VectorQueries {
  private final val family = "vector"

  /** q78: the IVF index exercised as a STORAGE ARTIFACT — built once
    * per (process, sf dir), saved under a [[graft.core.Scope]]
    * partitioned by cell, then RELOADED and probed with static
    * partition pruning; the probe is held to the same recall gate as
    * the in-memory q34. The artifact is built once and cached so
    * repeated invocations (bench runs 3×) time the probe — the
    * production per-query-batch half — not the build.
    */
  private def ivfArtifactGate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scope = Memo.scope("graft-q78-", s, dir) { sc =>
      SimilarityOps.saveIvfIndex(SimilarityOps.buildIvfIndex(emb), sc, "ivf")
    }
    val loaded = SimilarityOps.loadIvfIndex(s, scope, "ivf")
    SimilarityOps.knnRecallGate(
      SimilarityOps.probeIvfPruned(loaded, emb),
      SimilarityOps.bruteForceKnn(emb), k = 10, minRecall = 0.7)
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
  private def centroidSumsIncremental(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scope = Memo.scope("graft-q129-", s, dir) { sc =>
      graft.core.Scopes.save(
        SimilarityOps.labelCentroidSums(emb.filter(col("vec_id") % 2 === 0)),
        sc, "centroid_sums")
    }
    SimilarityOps.centroidsFromSums(
      SimilarityOps.mergeCentroidSums(Seq(
        graft.core.Scopes.load(s, scope, "centroid_sums"),
        SimilarityOps.labelCentroidSums(emb.filter(col("vec_id") % 2 === 1)))))
  }

  /** q83: INCREMENTAL index maintenance — the artifact is built from
    * the even half of the corpus, the odd half is APPENDED against the
    * frozen quantizer ([[SimilarityOps.appendToIvfIndex]]: O(batch),
    * stored rows untouched), and the MERGED reloaded index is probed
    * over the full corpus under the same recall gate as q34/q78. This
    * is the daily-ingest shape: rebuild never, append per batch,
    * monitor recall for quantizer drift.
    */
  private def ivfAppendGate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scope = Memo.scope("graft-q83-", s, dir) { sc =>
      SimilarityOps.saveIvfIndex(
        SimilarityOps.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0)), sc, "ivf")
      SimilarityOps.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1), sc, "ivf")
    }
    val loaded = SimilarityOps.loadIvfIndex(s, scope, "ivf")
    SimilarityOps.knnRecallGate(
      SimilarityOps.probeIvfPruned(loaded, emb),
      SimilarityOps.bruteForceKnn(emb), k = 10, minRecall = 0.7)
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
  private def ivfPqArtifactGate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scope = Memo.scope("graft-q136-", s, dir) { sc =>
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

  /** q91: the PQ index as a STORAGE ARTIFACT with the full lifecycle —
    * built from the even half of the corpus, persisted under a scope,
    * the odd half APPENDED with the frozen stored codebooks
    * ([[SimilarityOps.appendToPqIndex]]: O(batch), stored rows
    * untouched), then RELOADED and probed over the full corpus under
    * the same recall gate as the in-memory q80. Mirrors q83 (IVF) and
    * q136 (compound): build, persist, reload, append, re-gate.
    */
  private def pqArtifactGate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val scope = Memo.scope("graft-q91-", s, dir) { sc =>
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

  /** The q117 oracle: [[graft.ops.SimilarityOps.kmeans]]'s rounds
    * generated round-for-round — every round re-derives the integer-L2
    * argmin against the previous round's re-quantized centroids, so
    * the whole trajectory must reproduce, not just the final means.
    */
  private def kmeansIterSql: String = {
    val (iters, k) = (3, 8)
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

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q16_knn", family, (s, dir) =>
      SimilarityOps.bruteForceKnn(t(s, dir, "embeddings")),
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
         |SELECT query_id, rnk, vec_id, sim FROM r WHERE rnk <= 10""".stripMargin),
    QueryDef("q17_embed_pairs", family, (s, dir) =>
      SimilarityOps.closestPairs(t(s, dir, "embeddings")),
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       ${duckCosine("a.embedding", "b.embedding")} AS sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |ORDER BY sim DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin),
    QueryDef("q28_knn_lsh", family, (s, dir) =>
      SimilarityOps.lshKnnRecallGate(t(s, dir, "embeddings")),
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin),
    QueryDef("q34_knn_ivf", family, (s, dir) =>
      SimilarityOps.ivfKnnRecallGate(t(s, dir, "embeddings")),
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin),
    // the persisted/reloaded IVF artifact, probed with static partition
    // pruning, held to the same recall contract as the in-memory q34
    QueryDef("q78_ivf_artifact", family, ivfArtifactGate,
      // the artifact round trip is held to the identical empty-violation
      // contract: reload + pruned probe must not cost recall
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin),
    QueryDef("q83_ivf_append", family, ivfAppendGate,
      // append against the frozen quantizer must not cost recall either
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin),
    // compound IVF-PQ artifact: save → frozen append → reloaded probe
    QueryDef("q136_ivfpq_artifact", family, ivfPqArtifactGate,
      // the reloaded+appended compound index must hold q125's joint gate
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin),
    // product quantization (m×1-byte codes): ADC probe over the
    // compressed corpus, recall-gated like q28/q34
    QueryDef("q80_knn_pq", family, (s, dir) =>
      SimilarityOps.pqKnnRecallGate(t(s, dir, "embeddings")),
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin),
    // IVF-PQ: cells prune, codes stand in for vectors — the compound
    // approximation under one joint recall gate
    QueryDef("q125_ivfpq", family, (s, dir) =>
      SimilarityOps.ivfPqKnnRecallGate(t(s, dir, "embeddings")),
      // the compound IVF-PQ approximation must clear the joint recall
      // gate: the violation set is empty
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin),
    // embedding-cosine near-dup: the threshold pair surface and the
    // applied dedup (pairs → connected components → kept canonicals)
    QueryDef("q65_embed_neardup", family, (s, dir) =>
      SimilarityOps.embeddingNearDupPairs(t(s, dir, "embeddings")),
      // Embedding-cosine near-dup: the same scored-pair surface as q17,
      // kept at/above the threshold instead of top-N.
      s"""WITH scored AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${duckCosine("a.embedding", "b.embedding")} AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.45""".stripMargin),
    QueryDef("q66_semantic_dedup", family, (s, dir) =>
      SimilarityOps.semanticDedupApply(t(s, dir, "embeddings")),
      // Semantic dedup applied: threshold pairs resolved into components
      // (recursive closure at oracle scale; the engine uses
      // large-star/small-star or size-gated union-find), keeping each
      // component's minimum vec_id with its absorbed-duplicate count.
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
         |WHERE l.id = l.canonical""".stripMargin),
    QueryDef("q69_quantize_int8", family, (s, dir) =>
      SimilarityOps.quantizeInt8Summary(t(s, dir, "embeddings")),
      // Int8 quantization digest: codes = round(x·127/maxabs) with all
      // arithmetic in DOUBLE, zero vectors to all-zero codes — the oracle
      // recomputes every code and pins (sum, min, max, scale).
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
        |FROM q""".stripMargin),
    // the PQ index persisted/reloaded as a storage artifact
    QueryDef("q91_pq_artifact", family, pqArtifactGate,
      // reload + probe of the persisted PQ artifact must not cost recall
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin),
    // per-label class centroids in exact fixed-point: long sums are
    // order-independent, so the mean is bit-stable across engines
    QueryDef("q113_label_centroids", family, (s, dir) =>
      SimilarityOps.labelCentroids(t(s, dir, "embeddings")),
      // fixed-point mean re-derived element-for-element: round to 2^20
      // longs (exact scale, half-away rounding in both engines), long
      // sum (associative), ONE final double division — bit-identical
      labelCentroidsSql),
    // one exact Lloyd iteration: hash-ranked seeds, integer fixed-point
    // argmin assignment, fixed-point centroid update — all bit-exact
    QueryDef("q114_kmeans_step", family, (s, dir) =>
      SimilarityOps.kmeansStep(t(s, dir, "embeddings")),
      // the full Lloyd step replayed: same md5 seed ranking, same
      // integer-squared-L2 argmin (ties by seed rank), same fixed-point
      // mean — every stage integer-exact, so the hash must match
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
        |FROM g""".stripMargin),
    // dense kNN + lexical-overlap lists fused by reciprocal-rank
    // fusion — rank-space fusion, both lists bounded before the join
    QueryDef("q116_hybrid_search", family, (s, dir) =>
      SimilarityOps.hybridSearch(
        t(s, dir, "documents"), t(s, dir, "embeddings")),
      // both rank lists replayed (q16's cosine ranking; distinct-token
      // overlap with integer tie-breaks), RRF summed in the same
      // two-term double order, final rank re-derived from (rrf, doc_id)
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
         |  FROM f) z WHERE rnk <= 10""".stripMargin),
    // iterated exact k-means: 3 Lloyd rounds, centroids re-quantized
    // as next-round seeds — the full trajectory is bit-reproducible
    QueryDef("q117_kmeans", family, (s, dir) =>
      SimilarityOps.kmeans(t(s, dir, "embeddings")),
      kmeansIterSql),
    // embedding-space data cleaning: the 5 vectors farthest from their
    // own label centroid, integer-exact end to end
    QueryDef("q119_centroid_outliers", family, (s, dir) =>
      SimilarityOps.centroidOutliers(t(s, dir, "embeddings")),
      // q113's fixed-point centroid re-quantized by the q117 chain
      // (double division, half-away round), then a LONG squared-L2 per
      // row — every compared quantity an integer, ties by vec_id
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
        |  FROM d) z WHERE rnk <= 5""".stripMargin),
    // persisted centroid sums + batch sums merged by long addition —
    // bit-identical to the full recompute (q113's own oracle)
    QueryDef("q129_centroid_incremental", family, centroidSumsIncremental,
      // associativity is the whole claim: artifact + batch sums merged
      // by addition must land on the FULL-corpus centroids exactly
      labelCentroidsSql),
  )
}
