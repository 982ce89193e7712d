package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.DuckSql._
import graft.queries.QueryDef.t
import graft.streaming.EventsStreaming

/** Deduplication queries: exact, MinHash, SimHash, winnowed and
  * containment pairs, near-duplicate clusters and their application,
  * incremental dedup, span dedup, and the band and label artifacts.
  */
private[graft] object DedupQueries {
  private final val family = "dedup"

  /** q139: ARTIFACT COMPACTION end to end — the band artifact is
    * built from the even half and appended with the odd half (two file
    * waves per band directory), then compacted partition-preserving
    * ([[graft.io.Layout.compactPartitioned]]: ~one file per directory,
    * layout and pruning contracts intact) from the current artifact
    * version into the next one; the probe runs over the COMPACTED
    * artifact and must still reproduce q13's full-corpus pairs —
    * compaction is layout, not semantics.
    */
  private def compactedBandPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = Memo.scope("graft-q139-", s, dir) { sc =>
      DedupOps.saveBands(docs.filter(col("doc_id") % 2 === 0), sc, "bands")
      DedupOps.appendBands(docs.filter(col("doc_id") % 2 === 1), sc, "bands")
      val live = graft.io.Artifact.read(s, sc, "bands")
      graft.io.Artifact.save(s, sc, "bands", live.fields.toSeq: _*) { at =>
        graft.io.Layout.compactPartitioned(s, live.table("rows"), at("rows"), Seq("b"))
      }
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
  private def streamClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = Memo.scope("graft-q138-", s, dir) { sc =>
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

  /** q137: the MinHash BAND TABLE as a maintained artifact — built
    * from the even half, the odd half APPENDED under the artifact's
    * own recorded banding geometry (O(batch), stored rows untouched),
    * and the candidate-pair self-join run over the RELOADED rows.
    * Banding is stateless per document, so the merged artifact's pairs
    * must equal q13's full-corpus pairs bit-for-bit — the artifact is
    * layout, not semantics (the q120/q128 contract for the dedup
    * family's hot table).
    */
  private def bandArtifactPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = Memo.scope("graft-q137-", s, dir) { sc =>
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
  /** The even-build + odd-merge label artifact shared by q135 (probe)
    * and q142 (artifact-backed dedup application).
    */
  private def q135Scope(s: SparkSession, dir: String): graft.core.Scope = {
    val docs = t(s, dir, "documents")
    Memo.scope("graft-q135-", s, dir) { sc =>
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

  /** The q138 oracle: q41's recursive components restricted to the
    * minhash-LSH edge generator (the streaming maintainer's edges).
    */
  private lazy val minhashClustersSql =
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

  /** Q59's incremental dedup; also the oracle of the Bloom-accelerated
    * variant (q61), which must produce the identical result.
    */
  private lazy val incrDedupSql =
    """WITH nb AS (SELECT doc_id, md5(lower(trim(text))) fp
      |            FROM documents WHERE doc_id % 2 = 1),
      |ex AS (SELECT DISTINCT md5(lower(trim(text))) fp
      |       FROM documents WHERE doc_id % 2 = 0)
      |SELECT min(doc_id) AS doc_id, fp, count(*) AS n_copies
      |FROM nb ANTI JOIN ex USING (fp)
      |GROUP BY fp""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q12_dedup_exact", family, (s, dir) =>
      DedupOps.exactDedup(t(s, dir, "documents")),
      """SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS fp,
        |       count(*) AS n_copies
        |FROM documents GROUP BY md5(lower(trim(text)))""".stripMargin),
    QueryDef("q13_minhash_lsh", family, (s, dir) =>
      DedupOps.minhashLshPairs(t(s, dir, "documents")),
      minhashLshSql),
    QueryDef("q14_simhash", family, (s, dir) =>
      DedupOps.simhashSignatures(t(s, dir, "documents")),
      simhashSql),
    QueryDef("q15_jaccard", family, (s, dir) =>
      DedupOps.jaccardPairs(t(s, dir, "documents")),
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
         |WHERE round(CAST(common AS DOUBLE) / (sz_a + sz_b - common), 6) >= 0.3""".stripMargin),
    QueryDef("q21_fingerprint", family, (s, dir) =>
      TextOps.fingerprint(t(s, dir, "documents")),
      s"""WITH base AS (SELECT doc_id, $duckToks w FROM documents)
         |SELECT doc_id,
         |       md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fp,
         |       CAST(len(list_distinct(w)) AS INT) AS n_distinct_tokens
         |FROM base""".stripMargin),
    QueryDef("q27_simhash_pairs", family, (s, dir) =>
      DedupOps.simhashPairs(t(s, dir, "documents")),
      simhashPairsSql),
    // winnowed passage-level duplication candidates (MOSS fingerprints)
    QueryDef("q85_winnow_pairs", family, (s, dir) =>
      DedupOps.winnowedPassagePairs(t(s, dir, "documents")),
      // winnowing re-derived with DuckDB list lambdas one-to-one
      winnowPairsSql),
    QueryDef("q38_rolling_fp", family, (s, dir) =>
      TextOps.rollingFingerprint(t(s, dir, "documents")),
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 2147483647) AS rh,
        |       CAST(length(text) AS INT) AS n_chars
        |FROM documents""".stripMargin),
    QueryDef("q41_dedup_clusters", family, (s, dir) =>
      ClusterOps.nearDupClusters(t(s, dir, "documents")),
      // Connected components as a recursive transitive closure — fine at
      // oracle scale; the engine side uses large-star/small-star instead.
      dedupClustersSql),
    // incremental label maintenance held to q41's full-recompute oracle
    QueryDef("q135_incr_clusters", family, incrClusterLabels,
      // the incrementally-maintained artifact must reproduce the full
      // recompute bit-identically — same oracle as q41
      dedupClustersSql),
    // the maintained band artifact's pairs held to q13's oracle
    QueryDef("q137_band_artifact", family, bandArtifactPairs,
      // the stored+appended band artifact must reproduce the full-corpus
      // candidate pairs exactly — same oracle as q13
      minhashLshSql),
    // streamed per-batch label maintenance vs the full recompute
    QueryDef("q138_stream_clusters", family, streamClusterLabels,
      // the STREAMED merges must land on the same fixed point: full
      // recompute over the minhash edge generator
      minhashClustersSql),
    // partition-preserving compaction must be invisible to results
    QueryDef("q139_compact_artifact", family, compactedBandPairs,
      // ...and so must the COMPACTED artifact: layout, not semantics
      minhashLshSql),
    QueryDef("q47_dedup_apply", family, (s, dir) =>
      ClusterOps.dedupedCorpus(t(s, dir, "documents")),
      dedupApplySql),
    // the same application read from the STORED q135 labels
    QueryDef("q142_artifact_dedup_apply", family, artifactDedupApply,
      // artifact-backed application: labels are bit-identical to the
      // full recompute (q135), so the oracle is q47's — ONE definition
      dedupApplySql),
    // incremental-ingest forms: the fixture is split deterministically
    // into an "existing corpus" (even doc_id) and a "new batch" (odd)
    QueryDef("q59_incr_dedup", family, (s, dir) =>
      DedupOps.incrementalExactDedup(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0)),
      incrDedupSql),
    QueryDef("q60_incr_neardup", family, (s, dir) =>
      DedupOps.incrementalNearDupCandidates(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0)),
      s"""WITH $minhashBandsCtes
         |SELECT DISTINCT n.doc_id AS doc_new, e.doc_id AS doc_existing
         |FROM bands n JOIN bands e ON n.b = e.b AND n.bh = e.bh
         |WHERE n.doc_id % 2 = 1 AND e.doc_id % 2 = 0""".stripMargin),
    // Bloom-accelerated path MUST equal the exact q59 result — same oracle
    QueryDef("q61_incr_dedup_bloom", family, (s, dir) =>
      DedupOps.incrementalExactDedupBloom(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0)),
      // the Bloom-accelerated operator must be indistinguishable from
      // the exact one — identical oracle
      incrDedupSql),
    // containment (overlap-coefficient) dedup: catches a doc embedded
    // in a longer one, which Jaccard structurally misses
    QueryDef("q98_containment", family, (s, dir) =>
      DedupOps.overlapPairs(t(s, dir, "documents")),
      // q15's oracle shape with the min() denominator
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
         |WHERE round(CAST(common AS DOUBLE) / least(sz_a, sz_b), 6) >= 0.8""".stripMargin),
    // best-of-cluster canonicals: keep the highest-QUALITY member of
    // each dup cluster (argmax by struct max, one aggregation)
    QueryDef("q104_dedup_best", family, (s, dir) =>
      ClusterOps.bestOfClusterCorpus(t(s, dir, "documents")),
      // argmax re-derived relationally: rank within cluster by
      // (quality DESC, doc_id ASC) — the struct-max tie-break, exactly
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
         |FROM m WHERE rk = 1""".stripMargin),
    // the daily-ingest composition: exact + near dedup against the
    // standing corpus, quality/lang gates, per-source intake budget
    QueryDef("q105_incremental_ingest", family, (s, dir) =>
      ClusterOps.incrementalIngest(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0)),
      // the daily-ingest stages recomposed: q59's anti-join, q60's band
      // join, the quality/lang gates, q101's capped rank — END-TO-END
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
         |FROM r WHERE rk <= 5""".stripMargin),
    // cross-source duplication matrix over the near-dup clusters
    QueryDef("q108_source_overlap", family, (s, dir) =>
      ClusterOps.sourceOverlap(t(s, dir, "documents")),
      // the q41 labels joined to sources; the matrix counts distinct
      // clusters per unordered source pair
      s"""WITH labels AS ($dedupClustersSql),
         |cs AS (
         |  SELECT DISTINCT l.canonical_id, d.source
         |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_clusters
         |FROM cs a JOIN cs b ON a.canonical_id = b.canonical_id
         |  AND a.source < b.source
         |GROUP BY a.source, b.source""".stripMargin),
    // dedup health report: clusters-by-size histogram
    QueryDef("q109_cluster_hist", family, (s, dir) =>
      ClusterOps.clusterSizeHistogram(t(s, dir, "documents")),
      // two stacked aggregations over the recursive labels
      s"""WITH labels AS ($dedupClustersSql),
         |sizes AS (SELECT canonical_id, count(*) AS cluster_size
         |          FROM labels GROUP BY canonical_id)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |       CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sizes GROUP BY cluster_size""".stripMargin),
    // train/val/test assigned at dedup-CLUSTER granularity: near-dups
    // can never straddle a split boundary
    QueryDef("q110_split_leakfree", family, (s, dir) =>
      ClusterOps.leakageFreeSplit(t(s, dir, "documents")),
      // the q41 labels + the q52 md5 unit hash replayed on canonical_id:
      // the oracle proves the split is cluster-atomic AND reproduces the
      // exact assignment
      s"""WITH labels AS ($dedupClustersSql),
         |u AS (SELECT doc_id, canonical_id,
         |        ('0x' || substr(md5(canonical_id::VARCHAR || ':split'), 1, 8))::BIGINT
         |          / 4294967296.0 AS h
         |      FROM labels)
         |SELECT doc_id, canonical_id,
         |       CASE WHEN h < 0.1 THEN 'test'
         |            WHEN h < 0.2 THEN 'val'
         |            ELSE 'train' END AS split
         |FROM u""".stripMargin),
    // the STREAMING near-dup candidate generator held to batch q60's
    // oracle: per-row banding on the stream, stream-static band join,
    // stateful pair dedup — the identical pair set must come out
    QueryDef("q82_stream_neardup", family, (s, dir) =>
      EventsStreaming.streamingNearDupCandidates(s, dir,
        queryName = "graft_q82_neardup"),
      // the streaming form must reproduce the batch candidate set
      // exactly — same oracle as q60
      s"""WITH $minhashBandsCtes
         |SELECT DISTINCT n.doc_id AS doc_new, e.doc_id AS doc_existing
         |FROM bands n JOIN bands e ON n.b = e.b AND n.bh = e.bh
         |WHERE n.doc_id % 2 = 1 AND e.doc_id % 2 = 0""".stripMargin),
    // span-level exact dedup: fixed 20-token windows, global
    // first-occurrence keep, per-doc survivors pinned by a
    // digest-of-digests — no text in either exchange
    QueryDef("q155_span_dedup", family, (s, dir) =>
      DedupOps.spanDedup(t(s, dir, "documents")),
      // span-level exact dedup: 20-token windows, global first-keep,
      // survivors pinned per doc by the digest-of-digests
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
         |FROM fl GROUP BY doc_id""".stripMargin),
  )
}
