package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Near-duplicate CLUSTER RESOLUTION — the step after candidate-pair
  * generation that every production dedup pipeline needs: collapse the
  * pair graph into (doc_id, canonical_id) groups so documents can
  * actually be dropped/kept. No reference analogue (the reference has
  * no dedup); this completes the Q12-Q15 dedup surface.
  *
  * Algorithm: SIZE-ADAPTIVE. Small candidate graphs (the common case —
  * edges are a tiny fraction of corpus size) collect once to the
  * driver and resolve with path-compressed union-find; past the
  * threshold, alternating large-star / small-star connected components
  * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
  * the standard O(log n)-round distributed CC, two (groupBy + join)
  * stages per round, all key-partitioned shuffles, nothing collected.
  * At the fixed point every component is a star centered on its
  * minimum doc_id, which becomes the canonical id.
  */
object ClusterOps {

  /** Edges held normalized as (u, v) with u > v. */
  private def normalize(e: DataFrame): DataFrame =
    e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  /** Large-star: every node links its strictly-larger neighbors to the
    * minimum of its closed neighborhood.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select("u", "v")
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(m, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: every node links its smaller neighbors (and itself)
    * to the minimum of those neighbors.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("u").agg(min("v").as("m"))
    val rewired = e.join(m, "u")
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val self = m.select(col("u"), col("m").as("v"))
    rewired.union(self).distinct()
  }

  /** Driver-side union-find for edge sets that comfortably fit in the
    * driver (the common case for near-dup candidate graphs, which are
    * a tiny fraction of corpus size): the ALREADY-COLLECTED (long,
    * long) pairs, path-compressed union-find, one broadcast label
    * table back. The distributed star loop costs ~1 s of stage latency
    * PER ROUND regardless of data size — for half a million edges the
    * driver path is one job instead of ~20.
    */
  private def localComponents(vertices: DataFrame,
                              pairs: Array[(Long, Long)]): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = parent.keys.map(x => x -> find(x)).toSeq
      .toDF("doc_id", "canonical")
    vertices.select(col("doc_id").cast("long").as("doc_id"))
      .join(broadcast(labels), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical"), col("doc_id")).as("canonical_id"))
  }

  /** Connected components over a candidate-pair edge list.
    *
    * Size-adaptive: up to `localMaxEdges` (default 2^19 ≈ 524k pairs —
    * ~8 MB of raw longs, but budget ~5× that transient on the driver
    * for boxed tuples and the broadcast label table) the component
    * structure is solved with driver-side union-find — collecting a
    * candidate graph that small is strictly cheaper than ~log n
    * distributed rounds. Above it, the alternating star loop runs
    * fully distributed; nothing about the big-graph path depends on
    * the small-graph one.
    *
    * @param vertices one row per document, column `doc_id` (singletons
    *                 — docs with no candidate edge — map to themselves)
    * @param edges    candidate pairs, columns `doc_a`, `doc_b`
    * @return (doc_id, canonical_id) where canonical_id is the minimum
    *         doc_id of the document's connected component
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          localMaxEdges: Long = 1L << 19): DataFrame = {
    // materialize each round through an explicitly persisted RDD and
    // re-root the DataFrame on it: this (a) truncates the logical plan,
    // without which the iterated union/join/distinct lineage grows
    // exponentially (plan-tree blowup long before any data problem),
    // and (b) keeps a handle so the PREVIOUS round's blocks are freed
    // eagerly — peak storage stays O(2 × |edges|), not O(rounds).
    // On a cluster, swap for reliable checkpoint() if executor loss
    // must be survivable.
    def materialize(df: DataFrame) = {
      val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      (rdd, df.sparkSession.createDataFrame(rdd, df.schema))
    }
    val norm = normalize(
      edges.select(col("doc_a").cast("long").as("u"),
        col("doc_b").cast("long").as("v")))
    // SIZE PROBE = the small path's only materialization: collect
    // through a limit of localMaxEdges+1. If the limit is NOT hit we
    // already hold the complete edge set — union-find needs no second
    // pass over the candidate generator (the round-4 shape persisted +
    // counted the edges and then collected them again, an extra full
    // materialization that showed up as the q47 bench regression). If
    // the limit IS hit, the graph is big: fall through to the
    // distributed loop, whose ~log n rounds dwarf the wasted probe.
    val probeLimit = (math.min(localMaxEdges, Int.MaxValue - 2L) + 1).toInt
    val probe = norm.limit(probeLimit).collect()
    if (probe.length < probeLimit)
      return localComponents(vertices,
        probe.map(r => (r.getLong(0), r.getLong(1))))
    var (eRdd, e) = materialize(norm)
    var eCount = e.count()
    var converged = eCount == 0L
    var it = 0
    while (!converged && it < maxStarRounds) {
      val (nextRdd, next) = materialize(smallStar(largeStar(e)))
      val nextCount = next.count()
      converged = nextCount == eCount && next.except(e).isEmpty
      eRdd.unpersist(blocking = false)
      eRdd = nextRdd
      e = next
      eCount = nextCount
      it += 1
    }
    if (!converged && eCount > 0)
      throw new graft.core.GraftException(
        s"connectedComponents did not converge in $maxStarRounds rounds")
    // fixed point is a star per component: (u, componentMin) edges.
    // localCheckpoint (eager) the label set — one row per clustered
    // doc, lineage-free executor-local blocks the ContextCleaner
    // releases when the caller drops the frame — so BOTH the final
    // round's edge blocks and the label blocks are freed without a
    // caller-side unpersist hook. A plain persist here leaked one
    // cached label table per invocation for the session lifetime
    // (streaming maintenance calls this every micro-batch).
    val labels = e.groupBy("u").agg(min("v").as("canonical"))
      .withColumnRenamed("u", "doc_id")
      .localCheckpoint(true)
    eRdd.unpersist(blocking = false)
    vertices.select(col("doc_id").cast("long").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical"), col("doc_id")).as("canonical_id"))
  }

  /** The round budget of the distributed star loop: large-star /
    * small-star converges in O(log² n) rounds, so a graph still moving
    * after 20 is a bug, not a big input.
    */
  private val maxStarRounds = 20

  /** Q135: the cluster LABEL ARTIFACT — (doc_id, canonical_id) rows
    * persisted under a [[graft.core.Scope]], maintained INCREMENTALLY
    * as new candidate edges arrive ([[mergeClusterEdges]]). This is
    * the missing case of the incremental algebra: every ingest-time
    * dedup decision reads these labels, and recomputing connected
    * components over the full edge set per batch is O(corpus).
    *
    * Storage layout: only NON-IDENTITY rows are stored (docs in
    * non-singleton clusters — a small fraction of the corpus; probes
    * coalesce missing docs to themselves), hash-partitioned into
    * `cbucket = pmod(xxhash64(canonical_id), nBuckets)` directories.
    * Keying the partitioning by CANONICAL id is what makes maintenance
    * component-local: all rows of one component live in one bucket, so
    * a merge reads only the buckets of affected components (file-level
    * pruning on a collected literal bucket list, the q120 shape) and
    * rewrites only touched buckets (dynamic partition overwrite) —
    * untouched components' files are never rewritten. nBuckets rides
    * beside the rows as artifact metadata (the q128 contract: a probe
    * or append can never assume a different bucket universe).
    */
  def saveClusterLabels(labels: DataFrame, scope: graft.core.Scope,
                        name: String, nBuckets: Int = 32): Unit =
    graft.io.Artifact.save(labels.sparkSession, scope, name,
        "n_buckets" -> nBuckets) { at =>
      labels.filter(col("doc_id") =!= col("canonical_id"))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("canonical_id").cast("long").as("canonical_id"),
          pmod(xxhash64(col("canonical_id")), lit(nBuckets.toLong))
            .cast("int").as("cbucket"))
        .write.partitionBy("cbucket").parquet(at("rows"))
    }

  /** Stored label rows under the artifact's fixed schema — explicit so
    * an artifact whose non-identity row set is EMPTY (every doc a
    * singleton: zero data files under rows/) still reads as an empty
    * frame instead of failing schema inference.
    */
  private def labelRows(spark: org.apache.spark.sql.SparkSession,
                        meta: graft.io.Artifact.Manifest): DataFrame =
    spark.read.schema("doc_id LONG, canonical_id LONG, cbucket INT")
      .parquet(meta.table("rows"))

  /** Probe: the q41-shaped full label table for `vertices`, from the
    * stored artifact — docs without a stored row are singletons
    * labelled by themselves.
    */
  def loadClusterLabels(spark: org.apache.spark.sql.SparkSession,
                        scope: graft.core.Scope, name: String,
                        vertices: DataFrame): DataFrame =
    vertices.select(col("doc_id").cast("long").as("doc_id"))
      .join(labelRows(spark, graft.io.Artifact.read(spark, scope, name))
          .select("doc_id", "canonical_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))

  /** Q135 MERGE: fold a new batch's candidate edges into the persisted
    * label artifact in O(batch + touched components) — never O(corpus):
    *
    *  1. the new edges' ENDPOINT set (O(batch)) looks up its existing
    *     labels with two broadcast joins against the stored rows — an
    *     endpoint can appear as a stored doc (member of a cluster) or
    *     as a stored CANONICAL (cluster representative, which by the
    *     only-non-identity layout has no row of its own);
    *  2. the affected components' MEMBERS load from only their
    *     cbuckets (collected literal bucket list → file pruning at
    *     listing time);
    *  3. [[connectedComponents]] (size-adaptive: driver union-find
    *     small, star loop big) resolves new edges ∪ member star edges
    *     — a graph bounded by batch + touched members, whose labels
    *     are PROVABLY the full-graph labels: components not adjacent
    *     to a new edge cannot change (no edge reaches them), and every
    *     component that is adjacent is loaded whole;
    *  4. only touched buckets rewrite (dynamic partition overwrite of
    *     kept + new rows); a bucket whose last component migrated to a
    *     smaller canonical elsewhere is deleted explicitly — dynamic
    *     overwrite cannot clear a partition absent from the output.
    *
    * Canonical ids only ever DECREASE under merge (the canonical is
    * the component minimum), so stored rows never revert to identity
    * and the non-identity invariant is stable. CONTRACT: edges carry
    * doc ids from the same id space as the artifact; re-sending an
    * already-merged edge is a harmless no-op (idempotent).
    *
    * Reference analogue: the scope-owned dataset lifecycle
    * (reference: src/de/uni_stuttgart/ipvs_as/MapReduceWSIImpl.java:260-261).
    */
  def mergeClusterEdges(spark: org.apache.spark.sql.SparkSession,
                        scope: graft.core.Scope, name: String,
                        newEdges: DataFrame): Unit = {
    import spark.implicits._
    val meta = graft.io.Artifact.read(spark, scope, name)
    val (nB, rowsPath) = (meta.int("n_buckets"), meta.table("rows"))
    def bucketOf(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(nB.toLong)).cast("int")
    val edges = normalize(
      newEdges.select(col("doc_a").cast("long").as("u"),
        col("doc_b").cast("long").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (edges.isEmpty) return
      // endpoints/affected are O(batch) — no by-hint broadcast of an
      // unbounded side: AQE broadcasts them when they measure small
      // (the daily-batch common case) and falls back to a shuffle join
      // when a huge backfill batch would not fit an executor
      val endpoints = edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node"))).distinct()
      val art = labelRows(spark, meta)
      val affected = art
        .join(endpoints, art("doc_id") === endpoints("node"))
        .select("canonical_id")
        .union(art.join(endpoints,
            art("canonical_id") === endpoints("node"))
          .select("canonical_id"))
        .distinct().persist(StorageLevel.MEMORY_AND_DISK)
      try {
      val oldBuckets = affected.select(bucketOf(col("canonical_id")).as("b"))
        .distinct().as[Int].collect().sorted
      val members =
        (if (oldBuckets.isEmpty) art.limit(0)
         else art.filter(col("cbucket")
           .isin(oldBuckets.map(Integer.valueOf): _*)))
          .join(affected, Seq("canonical_id"))
          .select("doc_id", "canonical_id")
      val verts = endpoints.select(col("node").as("doc_id"))
        .union(members.select("doc_id"))
        .union(members.select(col("canonical_id").as("doc_id")))
        .distinct()
      val merged = connectedComponents(verts,
        edges.select(col("u").as("doc_a"), col("v").as("doc_b"))
          .union(members.select(col("doc_id").as("doc_a"),
            col("canonical_id").as("doc_b"))))
      // localCheckpoint (bounded: O(batch + touched members) rows)
      // truncates the file-source lineage so the overwrite below never
      // reads the directory it is replacing
      val newRows = merged.filter(col("doc_id") =!= col("canonical_id"))
        .withColumn("cbucket", bucketOf(col("canonical_id")))
        .localCheckpoint(eager = true)
      val newBuckets = newRows.select(col("cbucket")).distinct().as[Int].collect()
      val touched = (oldBuckets ++ newBuckets).distinct.sorted
      if (touched.nonEmpty) {
        // rows of UNAFFECTED components sharing a touched bucket must
        // ride along in the overwrite or the rewrite would drop them
        val keep = art.filter(col("cbucket")
            .isin(touched.map(Integer.valueOf): _*))
          .join(affected, Seq("canonical_id"), "left_anti")
          .select("doc_id", "canonical_id", "cbucket")
          .localCheckpoint(eager = true)
        val out = keep.unionByName(
          newRows.select("doc_id", "canonical_id", "cbucket"))
        out.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cbucket").parquet(rowsPath)
        // dynamic overwrite only replaces partitions PRESENT in the
        // output — a touched bucket that ended up with zero rows keeps
        // its stale files unless deleted here
        val outBuckets = (keep.select(col("cbucket")).distinct()
          .as[Int].collect() ++ newBuckets).toSet
        val fs = new org.apache.hadoop.fs.Path(rowsPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        (touched.toSet -- outBuckets).foreach { b =>
          graft.core.Scopes.deletePath(fs,
            new org.apache.hadoop.fs.Path(s"$rowsPath/cbucket=$b"))
        }
      }
      } finally affected.unpersist(blocking = false)
    } finally edges.unpersist(blocking = false)
  }

  /** Q41 entry: resolve the union of the MinHash-LSH (q13) and SimHash
    * (q27) candidate edges into canonical dedup groups over the whole
    * corpus.
    */
  def nearDupClusters(documents: DataFrame): DataFrame = {
    val edges = DedupOps.minhashLshPairs(documents).select("doc_a", "doc_b")
      .union(DedupOps.simhashPairs(documents).select("doc_a", "doc_b"))
    connectedComponents(documents, edges)
  }

  /** Q47: APPLY the dedup — the step q41's labels exist for: keep only
    * each cluster's canonical document, reporting how many duplicates
    * it absorbed. This is the row a training-data pipeline actually
    * feeds downstream; everything before it is bookkeeping.
    */
  def dedupedCorpus(documents: DataFrame,
                    labelsOpt: Option[DataFrame] = None): DataFrame = {
    val labels = labelsOpt.getOrElse(nearDupClusters(documents))
    val sizes = labels.groupBy("canonical_id")
      .agg(count(lit(1)).as("cluster_size"))
    labels.filter(col("doc_id") === col("canonical_id"))
      .join(sizes, "canonical_id")
      .join(documents.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .select(col("doc_id"), col("lang"), col("source"),
        (col("cluster_size") - 1).as("n_dropped"))
  }

  /** Q57 — the FLAGSHIP COMPOSITION: materialize a training corpus the
    * way a real pipeline does, by composing the suite's own stages:
    * near-dup dedup (keep canonicals), quality gate, language
    * allowlist, benchmark DECONTAMINATION (the q68 5-gram-overlap
    * detector: the eval slice never trains, and neither does any doc
    * that leaks its n-grams), then a deterministic hash sample (salt
    * "train" — the held-out salts stay uncorrelated). Everything is
    * one declarative plan: Catalyst fuses the quality expressions into
    * the scan side of the join, the dedup side reuses the q41/q47
    * machinery unchanged, the decontamination is a left-anti join
    * against the q68 surface, and the sample is a pure per-row filter
    * on top. The oracle composes the same stages' SQL, so the
    * END-TO-END corpus — not just each stage — is hash-checked.
    */
  /** Q104: BEST-OF-CLUSTER canonical selection — keep each dup
    * cluster's HIGHEST-QUALITY member instead of its smallest id. The
    * min-id canonical (q47) is the bookkeeping convention; a training
    * pipeline that must keep exactly one copy of near-identical
    * documents wants the best copy (highest quality score, ties to
    * the smaller id for determinism). Same labels machinery as q41;
    * the selection is ONE hash aggregation — `max` over a
    * (quality, -doc_id) struct compares lexicographically, so the
    * argmax needs no window and no second shuffle, and the map-side
    * partial bounds shuffle volume at one row per (cluster ×
    * partition).
    */
  def bestOfClusterCorpus(documents: DataFrame): DataFrame = {
    val labels = nearDupClusters(documents)
    val quality = graft.ops.TextOps.qualityScore(documents)
      .select(col("doc_id"), col("quality"))
    labels.join(quality, "doc_id")
      .groupBy(col("canonical_id").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"),
        (-col("best.neg_id")).as("kept_doc_id"),
        col("best.quality").as("quality"),
        col("cluster_size"))
  }

  /** Q108: CROSS-SOURCE DUPLICATION MATRIX — for every pair of
    * sources, how many near-dup clusters contain documents from BOTH:
    * the provenance audit that surfaces mirror sites, cross-licensed
    * content, and scraped re-posts before a per-source mix is tuned
    * (two sources that are 80% mutual dups are not two independent
    * sources). Rides the q41 labels; the matrix work is over the
    * DISTINCT (cluster, source) set — bounded by clusters × sources,
    * far below corpus rows — and the self-join key is the cluster id,
    * so no pair of unrelated sources ever meets.
    */
  def sourceOverlap(documents: DataFrame,
                    labelsOpt: Option[DataFrame] = None): DataFrame = {
    val labels = labelsOpt.getOrElse(nearDupClusters(documents))
    val cs = labels
      .join(documents.select("doc_id", "source"), "doc_id")
      .select("canonical_id", "source").distinct()
    val a = cs.select(col("canonical_id"), col("source").as("source_a"))
    val b = cs.select(col("canonical_id"), col("source").as("source_b"))
    a.join(b, Seq("canonical_id"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_clusters"))
  }

  /** Q109: DEDUP CLUSTER-SIZE HISTOGRAM — how many clusters have
    * exactly k members, the one-page health report of a dedup pass
    * (a fat tail of giant clusters means boilerplate or a mirror in
    * the crawl; all-singletons means the candidate generators are
    * too tight). Two cluster-keyed aggregations over the q41 labels;
    * both shuffles carry one row per cluster / per size — never
    * corpus rows.
    */
  def clusterSizeHistogram(documents: DataFrame,
                           labelsOpt: Option[DataFrame] = None): DataFrame =
    labelsOpt.getOrElse(nearDupClusters(documents))
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))

  /** Q110: LEAKAGE-FREE train/val/test SPLIT — assign splits at the
    * dedup-CLUSTER granularity, not the document: every member of a
    * near-dup cluster hashes on its cluster's canonical id, so two
    * near-duplicate documents can never land on opposite sides of a
    * train/test boundary (splitting documents independently leaks the
    * test set into training whenever the corpus has near-dups — which
    * a real crawl always does). The assignment is [[SampleOps.hashUnit]]
    * of the canonical id: deterministic, engine-reproducible (the
    * DuckDB oracle replays it), stable under corpus growth (a cluster
    * keeps its split as new members join it), and uncorrelated with
    * any other salt in the suite. Pure per-row expression over the
    * q41 labels — the split itself adds no shuffle at any scale.
    */
  def leakageFreeSplit(documents: DataFrame,
                       valFrac: Double = 0.1, testFrac: Double = 0.1,
                       salt: String = "split",
                       labelsOpt: Option[DataFrame] = None): DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac < 1.0,
      s"fractions must be non-negative and sum below 1: val=$valFrac test=$testFrac")
    val u = SampleOps.hashUnit(col("canonical_id"), salt)
    labelsOpt.getOrElse(nearDupClusters(documents))
      .select(col("doc_id"), col("canonical_id"),
        when(u < testFrac, lit("test"))
          .when(u < testFrac + valFrac, lit("val"))
          .otherwise(lit("train")).as("split"))
  }

  /** Q105: the DAILY-INGEST composition — what actually runs when a
    * new crawl batch lands next to a standing corpus, as ONE
    * declarative plan: (1) exact dedup against history and within the
    * batch (q59's O(batch) anti-join — history is only a narrow
    * fingerprint set); (2) near-dup rejection against the corpus BAND
    * artifact (q60's equi-join — nothing re-clusters); (3) quality
    * and language gates on the survivors; (4) the per-source intake
    * budget (q101's map-side-capped rank) so one domain cannot flood
    * a single day's admission. Every stage is O(batch) against
    * bounded history artifacts — the property that makes daily ingest
    * affordable when the corpus is 100 TB and the batch is 0.1%
    * of it. The oracle recomposes all four stages in SQL.
    */
  def incrementalIngest(newDocs: DataFrame, existing: DataFrame): DataFrame = {
    val fresh = DedupOps.incrementalExactDedup(newDocs, existing)
      .select("doc_id")
    val nearDup = DedupOps.incrementalNearDupCandidates(newDocs, existing)
      .select(col("doc_new").as("doc_id")).distinct()
    val quality = graft.ops.TextOps.qualityScore(newDocs)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val admitted = fresh
      .join(nearDup, Seq("doc_id"), "left_anti")
      .join(newDocs.select("doc_id", "lang", "source"), "doc_id")
      .join(quality, "doc_id")
      .filter(col("quality") >= minQuality && col("lang").isin(corpusLangs: _*))
    graft.ops.SampleOps.domainCap(admitted, "doc_id", "source",
        5, salt = "ingest")
      .select("doc_id", "lang", "source", "n_tokens", "quality")
  }

  /** The q19 composite-quality floor and the language set every corpus
    * gate admits.
    */
  private val minQuality = 0.5
  private val corpusLangs = Seq("en", "de", "fr", "es")

  /** How many documents a flagship's weighted priority tail selects. */
  private val corpusTopK = 150

  /** The repetition ceilings of the flagship gates: at most half of a
    * document's bigrams may be its top bigram, at most half of its
    * lines duplicates.
    */
  private val maxTopBigramFrac = 0.5
  private val maxDupLineFrac = 0.5

  /** Q100 — the flagship composition, GENERATION 2: the round-5
    * operators slotted into their places in the pipeline. Beyond q57:
    * (1) PASSAGE EVIDENCE in the dedup graph — winnowed-passage pairs
    * (q85) union with the minhash/simhash edges before connected
    * components, so verbatim shared passages merge clusters that
    * signature similarity alone misses; (2) a LINE-BOILERPLATE gate
    * (q62's dup_line_frac) beside the bigram-repetition gate; (3) the
    * final selection is WEIGHTED priority sampling (q94: smallest u/w,
    * w = n_tokens) instead of a flat rate — the corpus budget prefers
    * substantial documents, deterministically. Still ONE declarative
    * plan, and the oracle composes the same stages' SQL, so the
    * END-TO-END corpus stays hash-checked.
    */
  /** @param benchmarkOpt the held-out benchmark documents to
    *        decontaminate against (columns `doc_id`, `text`). A real
    *        pipeline brings its own eval sets; the default `None`
    *        keeps the fixture convention (`doc_id % 10 == 7` is the
    *        benchmark slice) with a plan identical to round 7's.
    */
  def trainingCorpusV2(documents: DataFrame,
                       benchmarkOpt: Option[DataFrame] = None): DataFrame = {
    val filtered = gatedCorpusV2(documents, benchmarkOpt)
    graft.ops.SampleOps.prioritySample(filtered, "doc_id", "n_tokens",
        k = corpusTopK, salt = "train")
      .select("doc_id", "lang", "source", "n_tokens", "quality", "priority")
  }

  /** The flagship's GATED pre-sample candidate set (v2 semantics:
    * dedup-canonical ∘ quality ∘ repetition ∘ language ∘
    * decontamination), shared by [[trainingCorpusV2]] and
    * [[trainingCorpusV3]] so the two flagships cannot drift in their
    * common gates.
    */
  private def gatedCorpusV2(documents: DataFrame,
                            benchmarkOpt: Option[DataFrame],
                            trainedWeights: Option[Seq[Long]] = None): DataFrame = {
    // the generators' raw edges, duplicates and all: `normalize`
    // deduplicates the union once (union-find ignores repeats anyway),
    // so no generator pays a distinct of its own
    val edges = DedupOps.lshEdges(DedupOps.minhashBands(documents))
      .union(DedupOps.simhashEdges(documents).select("doc_a", "doc_b"))
      .union(DedupOps.winnowedEdges(documents))
    val labels = connectedComponents(documents, edges)
    val kept = labels.filter(col("doc_id") === col("canonical_id"))
      .join(documents.select(col("doc_id"), col("lang"), col("source")), "doc_id")
    // the quality gate: either the q19 composite threshold (default)
    // or — when a TRAINED model vector is threaded in (q185) — the
    // q115/q182 fixed-point dot product over the same signal columns.
    // Both are per-row predicates on the quality projection: swapping
    // one for the other changes the filter expression's literals, not
    // the plan shape (no new join, no new exchange).
    val qualityAll = graft.ops.TextOps.qualityScore(documents)
    val quality = (trainedWeights match {
      case Some(w) =>
        qualityAll.filter(graft.ops.TextOps.fixedPointScore(w) > 0L)
      case None => qualityAll.filter(col("quality") >= minQuality)
    }).select(col("doc_id"), col("n_tokens"), col("quality"))
    val repetition = graft.ops.TextOps.repetitionStats(documents)
      .select(col("doc_id"), col("dup_line_frac"), col("top_bigram_frac"))
    val (train, bench) = benchmarkOpt match {
      case Some(b) =>
        (documents.join(b.select("doc_id"), Seq("doc_id"), "left_anti"), b)
      case None => (documents.filter(col("doc_id") % 10 =!= 7),
        documents.filter(col("doc_id") % 10 === 7))
    }
    val contaminated = graft.ops.TextOps.benchmarkContamination(train, bench)
      .select("doc_id")
    val gated = kept.join(quality, "doc_id")
      .join(repetition, "doc_id")
      .filter(col("top_bigram_frac") <= maxTopBigramFrac &&
        col("dup_line_frac") <= maxDupLineFrac &&
        col("lang").isin(corpusLangs: _*))
    // membership gate: no benchmark doc ever trains (beyond the n-gram
    // leak gate). Default path keeps the round-7 inline mod filter.
    (benchmarkOpt match {
      case Some(b) => gated.join(b.select("doc_id"), Seq("doc_id"), "left_anti")
      case None => gated.filter(col("doc_id") % 10 =!= 7)
    }).join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Q163 — flagship V3: the v2 gates PLUS the statistical LM quality
    * gate (q156): a candidate must clear an absolute per-transition
    * smoothed-probability floor, `score_fp >= minLmAvgFp · n_bigrams`
    * — compared as exact BIGINTs (cross-multiplication, no float
    * boundary), so the gate is engine-exact. The CCNet shape: heuristic
    * gates catch boilerplate and leaks, the LM gate catches fluent-
    * looking gibberish the heuristics pass. `minLmAvgFp` is an
    * ABSOLUTE floor in 1e6 fixed point; because smoothed counts grow
    * with corpus size a production deployment calibrates it per corpus
    * with [[graft.ops.TextOps.lmFloorCalibrate]] (q170 — the exact
    * percentile over the score histogram; its spec proves the
    * returned floor composes with this gate bit-exactly) — the
    * default is calibrated to the sf0.01 oracle fixture (~15% of
    * candidates gated).
    *
    * Scale shape: v2's plan plus ONE broadcast-model scoring pass and
    * a doc_id equi-join — no new corpus-sized shuffle class.
    */
  def trainingCorpusV3(documents: DataFrame,
                       minLmAvgFp: Long = 460L,
                       trainedWeights: Option[Seq[Long]] = None): DataFrame = {
    val filtered = gatedCorpusV2(documents, None, trainedWeights)
    val lm = graft.ops.TextOps.bigramLmScore(documents)
      .select(col("doc_id"), col("n_bigrams"), col("score_fp"))
    val lmGated = filtered.join(lm, "doc_id")
      .filter(col("score_fp") >= lit(minLmAvgFp) * col("n_bigrams"))
      .drop("n_bigrams", "score_fp")
    graft.ops.SampleOps.prioritySample(lmGated, "doc_id", "n_tokens",
        k = corpusTopK, salt = "train")
      .select("doc_id", "lang", "source", "n_tokens", "quality", "priority")
  }

  /** Q143 — the flagship's TRAINING-READY tail: the selected corpus
    * (q100, [[trainingCorpusV2]]) carried through to what a data
    * loader actually consumes — every document assigned a LEAK-FREE
    * split (q110 semantics) and the train split dealt into
    * SHUFFLE-SHARDS with an in-shard order (q140,
    * [[SampleOps.shuffleShards]]). Closes the gap between "corpus
    * selected" and "corpus consumable".
    *
    * Leak-freedom comes for free at this stage: the flagship keeps
    * exactly ONE canonical document per near-dup cluster, so
    * canonical_id == doc_id on every selected row and hashing doc_id
    * IS the cluster-granularity split — near-dups cannot straddle a
    * boundary because only one member survived selection at all.
    *
    * Scale shape: the corpus plan is q100's (one declarative plan,
    * TakeOrderedAndProject tail), traversed ONCE; split assignment is
    * a stateless md5 projection; sharding is one window exchange on
    * the shard key over the SELECTED corpus (topK rows — selection-
    * sized, never the input corpus). Val/test rows ride the SAME
    * window pass under hash-spread pseudo-keys (their row_number is
    * discarded) — NOT one shared `-1` partition, which would funnel
    * ~20% of the selection through a single window task at scale.
    * Partitions are independent, no global sort anywhere. Val/test
    * rows carry shard = pos = -1 (eval sets ship whole). 10% of the
    * selection goes to val and 10% to test.
    */
  def corpusShards(documents: DataFrame, nShards: Int = 8): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    import org.apache.spark.sql.expressions.Window
    val u = SampleOps.hashUnit(col("doc_id"), "split")
    val split = trainingCorpusV2(documents)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        when(u < 0.1, lit("test"))
          .when(u < 0.2, lit("val"))
          .otherwise(lit("train")).as("split"))
    // shard/pos computed INLINE over the single selection subtree: the
    // previous filter → shuffleShards → left-join planned the whole
    // gated-corpus subtree twice and paid a doc_id join exchange for
    // values derivable per row. Semantics unchanged — [[SampleOps
    // .shuffleShards]]'s hash shard and (u, doc_id)-ordered in-shard
    // position for train rows, -1/-1 for val/test. The WINDOW key for
    // train rows is the shard itself (identical groups → identical
    // row_number); val/test rows get hash-SPREAD pseudo-keys disjoint
    // from every real shard (offset past nShards), so the window pass
    // computes a throwaway row_number in small parallel partitions
    // instead of funneling every val/test row through one `-1` task —
    // the `when` discards those values, so train positions cannot be
    // affected by their presence.
    val su = SampleOps.hashUnit(col("doc_id"), "shuffle")
    val isTrain = col("split") === "train"
    val shardCol = when(isTrain,
      least(floor(su * nShards), lit((nShards - 1).toDouble)).cast("int"))
      .otherwise(lit(-1))
    val wkey = when(isTrain, col("shard").cast("long"))
      .otherwise(pmod(xxhash64(col("doc_id")), lit(64L)) + nShards.toLong)
    val w = Window.partitionBy(wkey).orderBy(su.asc, col("doc_id").asc)
    split
      .withColumn("shard", shardCol)
      .withColumn("pos",
        when(isTrain, row_number().over(w)).otherwise(lit(-1)))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("split"), col("shard"), col("pos"))
  }

  /** Q161: the CORPUS MANIFEST — the datasheet a training run records
    * beside its shards: per (split, source, lang) document counts and
    * token sums over the training-ready corpus (q143's result). What
    * a run needs to reproduce/report its data mix, and what a reader
    * checks before mounting the shards. One partial-agg groupBy over
    * the selected corpus; output is (splits × sources × langs)-sized.
    */
  def corpusManifest(shards: DataFrame): DataFrame =
    shards.groupBy("split", "source", "lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"))

  /** Q146: [[corpusShards]] MATERIALIZED as the training-shard
    * artifact — the directory a training job actually mounts. Layout:
    * partitioned by (split, shard) so a reader pulls one shard (or
    * one eval split) with listing-time pruning and never lists the
    * rest; rows within a shard file are written in `pos` order, so a
    * sequential scan of the file IS the epoch's read order. Same
    * scope/artifact lifecycle as the label (q135) and index (q136)
    * artifacts.
    */
  def saveCorpusShards(documents: DataFrame, scope: graft.core.Scope,
                       name: String, nShards: Int = 8): Unit =
    graft.io.Artifact.save(documents.sparkSession, scope, name,
        "n_shards" -> nShards) { at =>
      corpusShards(documents, nShards)
        .repartition(col("split"), col("shard"))
        .sortWithinPartitions(col("pos"))
        .write.partitionBy("split", "shard").parquet(at("rows"))
    }

  /** Q169 — the flagship's SAFETY tail: the v3-selected corpus
    * (q163) carried through the generic PII scrub (PiiOps) before it
    * ships — selection first, redaction second, so only the SELECTED
    * rows pay the regex work (the redacted columns are computed after
    * the doc_id equi-join; at 100 TB that is topK rows, not the
    * corpus). Emits the q167 audit beside each selected row:
    * placeholder count, residual-PII re-scan (must be 0 — the oracle
    * checks the self-gate end to end through the whole flagship
    * composition), and the md5 pin of the redacted text.
    *
    * Runs on the planted-PII corpus view of `documents` for the
    * redaction input (the fixture text carries no organic PII), while
    * the SELECTION gates run on the raw documents — matching a real
    * pipeline where scrubbing alters text but must not alter which
    * documents were chosen.
    */
  def redactedCorpus(documents: DataFrame): DataFrame = {
    val selected = trainingCorpusV3(documents)
    val planted = graft.ops.PiiOps.plantedPiiCorpus(documents)
    // ONE pass: the selection subplan runs once; the scrub columns are
    // computed on the join output, so only topK rows pay the regex
    graft.ops.PiiOps.piiRedact(
      selected.join(planted, "doc_id"),
      keep = Seq("lang", "source", "n_tokens", "quality", "priority"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("quality"), col("priority"), col("n_redactions"),
        col("n_residual"), col("redacted_md5"))
  }

  /** Q177 — the CRAWL→CORPUS flagship (v4): one declarative plan from
    * fetched HTML to training-ready scrubbed text, composing the
    * suite's own crawl stages with the document-side gate chain:
    *
    *   1. crawl-level URL dedup (q174): the canonical-URL keep-set
    *      over the pages' fetch URLs — mirrors and tracking-param
    *      variants of the same page collapse BEFORE a byte of HTML is
    *      parsed;
    *   2. page ingestion (q175): HTML extraction + the per-page
    *      blocked-outlink verdict, relative hrefs inheriting the
    *      fetch host — only `page_ok` pages feed the corpus;
    *   3. the v3 gate chain (q163) over the EXTRACTED text: near-dup
    *      canonicals (minhash ∪ simhash ∪ winnowed passages), quality
    *      / repetition / language gates, benchmark decontamination,
    *      the statistical LM floor, then the weighted priority tail;
    *   4. the safety tail (q169): the generic PII scrub of the
    *      selected rows' extracted text, with the residual self-audit
    *      riding beside each row.
    *
    * The fixture pages wrap the PII-planted text
    * ([[graft.ops.PiiOps.plantedPiiCorpus]]) in the planted HTML
    * ([[graft.ops.HtmlOps.plantedHtmlCorpus]]), so the PII the scrub
    * must catch arrives THROUGH the HTML pipeline — extraction must
    * preserve it intact for the redaction audit to land, and the
    * oracle recomposes every stage from the existing CTE chains, so
    * the end-to-end corpus (not just each stage) is hash-checked.
    *
    * Scale shape: stages 1–2 are the q174/q175 plans unchanged (one
    * key-partitioned shuffle + a zero-exchange projection); stage 3
    * is q163's plan over the extracted text; stage 4 pays regex only
    * on topK rows. The extracted crawl corpus feeds MANY gate
    * sub-plans (three near-dup candidate generators, quality,
    * repetition, contamination, the LM model fit AND its scoring
    * pass, the final text join), so it is materialized ONCE via an
    * eager localCheckpoint — without it every consumer re-runs the
    * regex extraction chain over the full corpus. At 100 TB the same
    * cut is a persisted extract-on-ingest table (q176's shape); the
    * gate semantics are unchanged by the materialization.
    *
    * The LM floor is [[crawlLmAvgFp]], lower than q163's 460: the extracted text
    * carries planted boilerplate tokens (nav/footer/entity sentence)
    * whose transitions the corpus-trained bigram LM scores differently
    * than raw fixture text; 300 gates the fluent-gibberish tail
    * without starving the fixture-scale candidate pool (same
    * per-corpus calibration contract as q163 — see
    * [[graft.ops.TextOps.lmFloorCalibrate]]).
    */
  /** When `trainedGate` is set (q185 — flagship v5), the hand-set
    * q19 quality threshold in stage 3 is replaced by the IN-ENGINE
    * TRAINED classifier: [[graft.ops.TextOps.fitQualityWeights]] runs
    * the exact fixed-point perceptron on the RAW labeled documents
    * (q181's planted-teacher training set — fit on labels, applied to
    * pipeline candidates, the production train/serve split), and the
    * crawl docs are gated by the q115-shaped dot product `w·x > 0`
    * over their own extracted-text signals. The weights cross the
    * driver once as 5 longs and enter the plan as literals — the gate
    * stays a per-row filter on the quality projection, so the plan is
    * IDENTICAL to the hand-set variant up to those literals (the q115
    * scaladoc promise, spec-pinned in TextOpsSpec).
    */
  def crawlCorpus(documents: DataFrame,
                  trainedGate: Boolean = false): DataFrame = {
    val pages = graft.ops.HtmlOps.plantedHtmlCorpus(
      graft.ops.PiiOps.plantedPiiCorpus(documents))
    val weights =
      if (trainedGate)
        Some(graft.ops.TextOps.fitQualityWeights(documents))
      else None
    corpusFromPages(pages, documents, weights)
  }

  /** The crawl flagships' LM floor (see [[crawlCorpus]]): the extracted
    * text's planted boilerplate scores lower than raw fixture text, so
    * the crawl corpus gates at 300 instead of q163's 460.
    */
  private val crawlLmAvgFp = 300L

  /** Q186 — the crawl flagship fed from its TRUE FRONT DOOR: raw WARC
    * archive chunks instead of already-parsed pages. The q184 framing
    * stage splits each chunk, verifies the declared Content-Length in
    * octets, and only `length_ok` payloads become pages — the fetch
    * host read from the `WARC-Target-URI` header (the crawl recorded
    * it there; nothing else in the archive knows it) — before the
    * identical q177 chain (extraction, canonical-URL keep-set, gates,
    * scrub) runs downstream — the pages are the HTTP BODIES, after
    * the status/content-type gate. The planted malformed chunks
    * (doc_id%13 ∈ {3,7,11}) therefore drop at the FRAMING verdict
    * and the 404 (%13==2) / text/plain (%13==5) legs drop at the
    * HTTP gate — before extraction ever sees a byte of them — while
    * the %13==1 non-ASCII body suffix flows INTO the corpus text:
    * the gates score what was actually framed out of the archive,
    * not what the page generator planted.
    *
    * Scale shape: q177's plan plus two more zero-exchange projections
    * (the WARC framing and the HTTP split) ahead of extraction — no
    * new shuffle class; the payload column never outlives the
    * projection that extracts from it.
    */
  def warcCorpus(documents: DataFrame): DataFrame = {
    val chunks = graft.ops.HtmlOps.plantedWarcCorpus(
      graft.ops.PiiOps.plantedPiiCorpus(documents))
    // measured WITHOUT a par() spread, same verdict as q177's
    // extraction cut (q186 stayed 7.1 s with the spread vs 6.9
    // without, same window)
    val pages = graft.ops.HtmlOps.httpFrame(
        graft.ops.HtmlOps.warcFrame(chunks, "warc"))
      .filter(col("length_ok") && col("http_ok") && col("body_ok"))
      .select(col("doc_id"),
        graft.ops.HtmlOps.hostOf(col("target_uri")).as("fetch_host"),
        col("body").as("html"))
    corpusFromPages(pages, documents, None)
  }

  /** The shared q177/q185/q186 corpus tail from a PAGE table
    * (doc_id, fetch_host, html): ingestion verdict, keep-set join,
    * the one-time extraction cut, the gate chain, and the scrub. */
  private def corpusFromPages(pages: DataFrame, documents: DataFrame,
                              trainedWeights: Option[Seq[Long]]): DataFrame = {
    val keep = graft.ops.HtmlOps.urlCanonicalDedup(
        graft.ops.HtmlOps.plantedDirtyUrlCorpus(documents))
      .filter(col("is_canonical")).select("doc_id")
    // measured WITHOUT a par() spread (round-17): spreading `pages`
    // before the extraction shuffled the html payload and split the
    // extraction cut into 32 cached partitions whose 13 gate-leg
    // consumers each paid 32 tiny tasks — q177 regressed 3.45→4.91 s
    // in the back-to-back bench; the serial extraction task is the
    // cheaper local evil, and at real scale the scan is multi-split
    // anyway
    val ingested = graft.ops.HtmlOps.crawlIngest(pages,
        baseHostCol = Some("fetch_host"))
      .filter(col("page_ok"))
      .select(col("doc_id"), col("text_clean"))
    // the extraction cut: every downstream gate consumer reads the
    // checkpointed rows, not the regex chain (see scaladoc)
    val crawlDocs = ingested
      .join(keep, "doc_id")
      .join(documents.select("doc_id", "lang", "source"), "doc_id")
      .select(col("doc_id"), col("text_clean").as("text"),
        col("lang"), col("source"))
      .localCheckpoint(eager = true)
    val selected = trainingCorpusV3(crawlDocs, minLmAvgFp = crawlLmAvgFp,
      trainedWeights = trainedWeights)
    graft.ops.PiiOps.piiRedact(
      selected.join(crawlDocs.select("doc_id", "text"), "doc_id"),
      keep = Seq("lang", "source", "n_tokens", "quality", "priority"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("quality"), col("priority"), col("n_redactions"),
        col("n_residual"), col("redacted_md5"))
  }

  /** Q146's gate: the RELOADED artifact must carry exactly the q143
    * addresses under its OWN recorded geometry (the q137 convention —
    * the artifact, not the caller, knows its shard count). Both
    * directions of the symmetric difference emit as violations, and
    * the oracle expects the empty set: the partitioned layout (and
    * the writer's column reordering under partitionBy) is layout, not
    * semantics.
    */
  def corpusShardArtifactGate(spark: org.apache.spark.sql.SparkSession,
                              scope: graft.core.Scope, name: String,
                              documents: DataFrame): DataFrame = {
    val meta = graft.io.Artifact.read(spark, scope, name)
    val nShards = meta.int("n_shards")
    val cols = Seq("doc_id", "lang", "source", "n_tokens", "split", "shard", "pos")
    def canon(df: DataFrame): DataFrame = df.select(
      col("doc_id").cast("long"), col("lang"), col("source"),
      col("n_tokens").cast("long"), col("split"),
      col("shard").cast("int"), col("pos").cast("int"))
    // both sides feed BOTH exceptAll directions — cache them so the
    // q143 recompute (and the artifact scan) run once, not twice. The
    // corpus-budget-sized blocks are released before returning: the
    // violation set (expected empty) is materialized through an eager
    // localCheckpoint, after which the cached inputs are dead weight —
    // library callers must not depend on the bench loop's cache clear.
    val stored = canon(spark.read.parquet(meta.table("rows"))).persist()
    val expected = canon(corpusShards(documents, nShards)).persist()
    try {
      def tag(df: DataFrame, t: String): DataFrame =
        df.select(lit(t).as("violation") +: cols.map(col): _*)
      tag(expected.exceptAll(stored), "missing_in_artifact")
        .unionByName(tag(stored.exceptAll(expected), "extra_in_artifact"))
        .localCheckpoint(eager = true)
    } finally {
      stored.unpersist(blocking = false)
      expected.unpersist(blocking = false)
    }
  }

  /** Q147: the DIGEST-based shard-artifact audit — the 100 TB-shaped
    * twin of [[corpusShardArtifactGate]]: instead of two corpus-sized
    * `exceptAll` legs (a wide exchange each), compare the artifact
    * against its recompute at (split, shard) granularity with the q134
    * content digest ([[Constraints.contentDigestBy]]). Each side is
    * ONE partial-aggregated pass — the shuffle carries one
    * (count, xor, sum) triple per (partition × map task), the full
    * outer join is over O(partitions) rows, and the verdict is still
    * exact: a shard matches iff count, XOR and mod-2^60 SUM of the
    * 60-bit row hashes all match (the two combines cover each other's
    * even-multiplicity blind spot). Emits one row per disagreeing
    * (split, shard) — the empty set when the artifact is faithful.
    * Keep the exceptAll gate for per-row attribution at fixture scale;
    * run THIS form as the standing artifact audit at scale.
    */
  def corpusShardDigestAudit(spark: org.apache.spark.sql.SparkSession,
                             scope: graft.core.Scope, name: String,
                             documents: DataFrame): DataFrame = {
    val meta = graft.io.Artifact.read(spark, scope, name)
    val nShards = meta.int("n_shards")
    // group keys are the partition address; everything else (pos
    // included — in-shard order is part of the contract) digests
    val valueCols = Seq("doc_id", "lang", "source", "n_tokens", "pos")
    def canon(df: DataFrame): DataFrame = df.select(
      col("doc_id").cast("long"), col("lang"), col("source"),
      col("n_tokens").cast("long"), col("split"),
      col("shard").cast("int"), col("pos").cast("int"))
    def digests(df: DataFrame, side: String): DataFrame =
      Constraints.contentDigestBy(canon(df), Seq("split", "shard"), valueCols)
        .select(col("split"), col("shard"), col("n_rows").as(s"n_rows_$side"),
          col("digest").as(s"digest_$side"),
          col("digest_sum").as(s"sum_$side"))
    val stored = digests(spark.read.parquet(meta.table("rows")), "artifact")
    val expected = digests(corpusShards(documents, nShards), "expected")
    stored.join(expected, Seq("split", "shard"), "full_outer")
      .filter(!(col("n_rows_artifact") <=> col("n_rows_expected")) ||
        !(col("digest_artifact") <=> col("digest_expected")) ||
        !(col("sum_artifact") <=> col("sum_expected")))
      .select("split", "shard", "n_rows_artifact", "n_rows_expected",
        "digest_artifact", "digest_expected")
  }

  /** @param benchmarkOpt caller-supplied benchmark documents
    *        (`doc_id`, `text`); `None` keeps the fixture's mod-10
    *        slice with the round-7 plan — see [[trainingCorpusV2]].
    */
  def trainingCorpus(documents: DataFrame,
                     sampleRate: Double = 0.8,
                     benchmarkOpt: Option[DataFrame] = None): DataFrame = {
    val kept = dedupedCorpus(documents)
    val quality = graft.ops.TextOps.qualityScore(documents)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val repetition = graft.ops.TextOps.topBigramFrac(documents)
    // default q68 split: doc_id % 10 = 7 is the held-out benchmark
    val (train, bench) = benchmarkOpt match {
      case Some(b) =>
        (documents.join(b.select("doc_id"), Seq("doc_id"), "left_anti"), b)
      case None => (documents.filter(col("doc_id") % 10 =!= 7),
        documents.filter(col("doc_id") % 10 === 7))
    }
    val contaminated = graft.ops.TextOps.benchmarkContamination(train, bench)
      .select("doc_id")
    val gated = kept.join(quality, "doc_id")
      .join(repetition, "doc_id")
      .filter(col("quality") >= minQuality &&
        col("top_bigram_frac") <= maxTopBigramFrac &&
        col("lang").isin(corpusLangs: _*))
    val filtered = (benchmarkOpt match {
      case Some(b) => gated.join(b.select("doc_id"), Seq("doc_id"), "left_anti")
      case None => gated.filter(col("doc_id") % 10 =!= 7)
    }).join(contaminated, Seq("doc_id"), "left_anti")
    graft.ops.SampleOps.sampleByHash(filtered, "doc_id", sampleRate, salt = "train")
      .select("doc_id", "lang", "source", "n_tokens", "quality")
  }
}
